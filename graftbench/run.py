#!/usr/bin/env python3
"""graft benchmark: four closed-loop workloads over the engine's public API.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
engine and the harness (sbt, offline) and generates the input tables; both
are kept under .bench_build/ and reused. Each run then starts one JVM
(`graftbench.Harness`), which opens a local[4] session per pass and times
every step of the workload in an order permuted by --seed. The last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (wall_s, cpu_s,
geomean_query_s, setup_s); with --trace 1 they are the per-layer ones, and the span tree is written to
.bench_build/results/<workload>-<seed>-trace-spans.json.

    python3 graftbench/run.py --record

re-records graftbench/digests.json from the current engine and
cross-checks every digested output that has a DuckDB oracle.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
DIGESTS = os.path.join(HERE, "digests.json")
CORES = 4
HEAP = "7g"
WARM_SF = 0.001
# Number of passes a run makes at least, whatever --seconds says. A traced
# run makes three: untraced, traced, untraced; the tracing overhead compares
# the traced pass with the later untraced one, as the first pass after the
# warm-up still runs slower.
MIN_PASSES = 1
# Set-up-only sessions after the passes, so that setup_s is a median of
# several set-ups.
EXTRA_SETUPS = 2
# A run must end within 180 s; the JVM is killed a little before that.
RUN_TIMEOUT_S = 170

# Each step is (key, layer): the layer is the module that owns the key's
# public function. "memo:neardup_pairs" is Dedup.nearDupPairs, the session
# memo that d3, d6 and t29 read; it runs first in every pass.
#
# Both workloads run at sf0.01, the scale the oracle checks. On a 4-core
# host a run takes about 50 s: JVM start and session create ~5 s, the cold
# warm-up on sf0.001 ~25 s (JIT and codegen, not data), one pass 12-15 s.
# The keys are the cheapest ones that still give every layer real work;
# the costliest iterative keys (g29, g24, g15, g30) and the BPE keys
# (t31-t35, 3-6 s each) would each double a pass.
WORKLOADS = {
    "graph_edges": {
        "sf": 0.01,
        "steps": [
            ("g5_connected_components", "GraphIter"),
            ("g23_louvain", "Louvain"),
            ("g1b_current_pairs", "GraphOps"),
            ("g2_overlap_pairs", "GraphOps"),
            ("q2_join_agg", "Relational"),
        ],
    },
    "curation_warehouse": {
        "sf": 0.01,
        "steps": [
            ("memo:neardup_pairs", "Dedup"),
            ("d3_minhash_lsh", "Dedup"),
            ("d6_dedup_resolve", "Dedup"),
            ("t29_split_leakage", "functions"),
            ("s1_cosine_topk", "similarity"),
            ("m5_phash", "multimodal"),
            ("h1_upsert_dim", "sources"),
            ("h7_avro_interchange", "sources"),
            ("e2_sessionize", "streaming"),
            ("q1_pricing_agg", "Relational"),
        ],
    },
}

LAYERS = ["GraphIter", "Louvain", "GraphOps", "Relational", "Dedup", "functions",
          "similarity", "multimodal", "sources", "streaming"]
# Which workload must show work in which layer (the traced self-check).
EXERCISES = {
    "graph_edges": ["GraphIter", "Louvain", "GraphOps", "Relational"],
    "curation_warehouse": ["Dedup", "functions", "similarity", "multimodal", "sources",
                           "streaming", "Relational"],
}

JVM_OPTS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Djava.io.tmpdir=/tmp",
] + [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def sf_dir(sf):
    return os.path.join(BUILD, "data", f"sf{sf}")


# ---------------------------------------------------------------- build

def source_digest():
    """Hash of every file the build reads, to know when to rebuild."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "build.sbt")]
    for pattern in ("project/*.properties", "project/*.sbt", "src/main/**/*.scala",
                    "graftbench/harness/build.sbt", "graftbench/harness/project/*.properties",
                    "graftbench/harness/src/**/*.scala"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required to build the engine")
    stamp = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            built, cp = fh.read().split("\n", 1)
        if built == digest:
            return cp.strip()
    log("building engine and harness (sbt, offline) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + lines[-1].strip())
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


# ----------------------------------------------------------------- data

# Expected row counts at a scale factor: the generation is checked, not
# trusted (lineitem is 6,000,000 rows at sf1).
def expected_rows(sf):
    return {"lineitem": int(round(6_000_000 * sf)), "orders": int(round(1_500_000 * sf)),
            "customer": int(round(150_000 * sf)), "events": int(round(1_000_000 * sf))}


def ensure_data(sf):
    d = sf_dir(sf)
    marker = os.path.join(d, "_rows.json")
    if os.path.exists(marker):
        return d
    sys.path.insert(0, HERE)
    import gen_data
    t0 = time.time()
    tmp = d + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    counts = gen_data.generate(sf, tmp)
    for table, rows in expected_rows(sf).items():
        if counts.get(table) != rows:
            fail(f"generated sf{sf} {table} has {counts.get(table)} rows, expected {rows}")
    with open(os.path.join(tmp, "_rows.json"), "w") as fh:
        json.dump(counts, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    log(f"generated sf{sf} in {time.time() - t0:.1f} s: {counts}")
    return d


# ------------------------------------------------------------------ JVM

def private_tmp_works():
    try:
        return subprocess.run(["unshare", "-m", "true"], stdin=subprocess.DEVNULL,
                              stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                              timeout=10).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False


def run_jvm(cp, harness_args, name, timeout):
    """Run graftbench.Harness with /tmp mapped into the checkout.

    Several operators write under hard-coded /tmp paths; a private mount
    namespace binds .bench_build/tmp over /tmp so that every file the run
    writes stays inside the checkout and is removed afterwards.
    """
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    java = ["java", "-cp", cp] + JVM_OPTS + ["graftbench.Harness"] + harness_args
    isolated = private_tmp_works()
    if isolated:
        cmd = ["unshare", "-m", "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"', tmp] + java
    else:
        log("mount namespaces unavailable: the JVM uses the host /tmp")
        cmd = java
        before = set(glob.glob("/tmp/graft*"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_LOCAL_DIRS="/tmp/spark-local")
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    log_path = os.path.join(logs, f"{name}.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if not isolated:
        for p in set(glob.glob("/tmp/graft*")) - before:
            shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness {'timed out' if rc is None else f'exited with {rc}'}; log: {log_path}")


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def steps_arg(steps):
    return ",".join(f"{k}:{layer}" for k, layer in steps)


# -------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def check_outputs(raw, sf):
    """(attempted, failed, errors): each step's digest against the record."""
    with open(DIGESTS) as fh:
        want = json.load(fh).get(f"sf{sf}", {})
    attempted = failed = 0
    errors = []
    for p in raw["passes"]:
        for s in p["steps"]:
            attempted += 1
            w = want.get(s["key"])
            if "error" in s:
                errors.append(f"{s['key']}: {s['error']}")
            elif w is None or (s["rows"], s["hash"]) != (w["rows"], w["hash"]):
                errors.append(f"{s['key']}: digest {s['rows']}/{s['hash']} != {w}")
            else:
                continue
            failed += 1
    return attempted, failed, errors


def end_to_end(raw):
    passes = [p for p in raw["passes"] if not p["traced"]]
    per_key = {}
    for p in passes:
        for s in p["steps"]:
            if not s["key"].startswith("memo:"):
                per_key.setdefault(s["key"], []).append(s["build_s"] + s["exec_s"])
    return {
        "wall_s": (median([p["wall_s"] for p in passes]), "s"),
        "cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "geomean_query_s": (geomean([median(v) for v in per_key.values()]), "s"),
        "setup_s": (median([s["setup_s"] for s in raw["setups"]]), "s"),
    }


def per_layer(raw, workload):
    """Per-layer metrics from the traced passes, plus the self-checks."""
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"][1:] if not p["traced"]]
    fields = [("build_s", "s"), ("exec_s", "s"), ("plan_s", "s"), ("actions", "count"),
              ("jobs", "count"), ("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"),
              ("spill_mb", "MB"), ("idle_core_s", "s")]
    samples = {}  # metric -> per-pass values
    checks = []
    for p in traced:
        acc = {}

        def add(name, v):
            acc[name] = acc.get(name, 0.0) + v
        step_jobs = 0
        for s in p["steps"]:
            layer, memo = s["layer"], s["key"].startswith("memo:")
            wall = s["build_s"] + s["exec_s"] + s["release_s"]
            step_jobs += s["jobs"]
            if memo:
                add("Dedup.memo_build_s", s["build_s"])
            else:
                add(f"{layer}.build_s", s["build_s"])
            add(f"{layer}.exec_s", s["exec_s"])
            add(f"{layer}.plan_s", s["plan_ns"] / 1e9)
            add(f"{layer}.actions", s["actions"])
            add(f"{layer}.jobs", s["jobs"])
            add(f"{layer}.task_cpu_s", s["task_cpu_ns"] / 1e9)
            add(f"{layer}.gc_s", s["gc_ms"] / 1e3)
            add(f"{layer}.shuffle_mb", s["shuffle_bytes"] / 2**20)
            add(f"{layer}.spill_mb", s["spill_bytes"] / 2**20)
            add(f"{layer}.idle_core_s", max(0.0, wall * CORES - s["task_run_ms"] / 1e3))
            add("GraftSession.release_s", s["release_s"])
            if layer in ("GraphIter", "Louvain", "GraphOps", "Relational"):
                key = f"{layer}.peak_exec_mem_mb"
                acc[key] = max(acc.get(key, 0.0), s["peak_exec_mem"] / 2**20)
            if layer == "sources":
                add("sources.output_mb", s["output_bytes"] / 2**20)
        if step_jobs != p["listener_jobs"]:
            checks.append(f"per-step jobs {step_jobs} != listener total {p['listener_jobs']}")
        for name, v in acc.items():
            samples.setdefault(name, []).append(v)
    metrics = {}
    for layer in LAYERS:
        for f, unit in fields:
            name = f"{layer}.{f}"
            metrics[name] = (median(samples.get(name, [0.0])), unit)
    for layer in ("GraphIter", "Louvain", "GraphOps", "Relational"):
        name = f"{layer}.peak_exec_mem_mb"
        metrics[name] = (max(samples.get(name, [0.0])), "MB")
    for name, unit in (("sources.output_mb", "MB"), ("Dedup.memo_build_s", "s")):
        metrics[name] = (median(samples.get(name, [0.0])), unit)
    for name in ("create_s", "warmup_s"):
        vals = [s[name] for s in raw["setups"]]
        metrics[f"GraftSession.{name}"] = (vals[0] if name == "warmup_s" else median(vals), "s")
    metrics["GraftSession.release_s"] = (median(samples.get("GraftSession.release_s", [0.0])), "s")
    # VmHWM of the JVM: it varies by more than a tenth between runs of
    # curation_warehouse, too much for an end-to-end bound.
    metrics["peak_rss_mb"] = (raw["peak_rss_mb"], "MB")
    t_wall = median([p["wall_s"] for p in traced])
    u_wall = median([p["wall_s"] for p in untraced])
    metrics["trace_overhead_pct"] = (100.0 * (t_wall / u_wall - 1.0) if u_wall else 0.0, "%")
    for layer in EXERCISES[workload]:
        if metrics[f"{layer}.jobs"][0] <= 0 or metrics[f"{layer}.task_cpu_s"][0] <= 0:
            checks.append(f"layer {layer} shows no work on {workload}")
    return metrics, checks


# ----------------------------------------------------------------- main

ORACLE_TIMEOUT_S = 120


def oracle_check(sf, data, dump):
    """Compare each dumped output with its DuckDB oracle, as scripts/check.py
    does. Returns {key: "pass" | "fail: ..." | "timeout"}."""
    import threading

    import duckdb
    import pandas as pd

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    verdicts = {}
    for sql_file in sorted(glob.glob(os.path.join(dump, "*.sql"))):
        key = os.path.basename(sql_file)[:-4]
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            with open(sql_file) as fh:
                want = con.sql(fh.read()).df()
            got = con.sql(f"SELECT * FROM '{dump}/{key}/*.parquet'").df()
            pd.testing.assert_frame_equal(norm(got), norm(want), check_dtype=False,
                                          check_exact=True)
            verdicts[key] = "pass"
        except duckdb.InterruptException:
            verdicts[key] = "timeout"
        except Exception as e:  # noqa: BLE001 - any mismatch is a failed check
            verdicts[key] = "fail: " + str(e).replace("\n", " | ")[:300]
        finally:
            timer.cancel()
        log(f"oracle sf{sf} {key}: {verdicts[key]}")
    return verdicts


def record(cp):
    """Re-record digests.json and cross-check oracle keys in DuckDB."""
    out = {"oracle": {}}
    for sf in sorted({w["sf"] for w in WORKLOADS.values()}):
        steps = [s for w in WORKLOADS.values() if w["sf"] == sf for s in w["steps"]]
        data = ensure_data(sf)
        dump = os.path.join(BUILD, "record", f"sf{sf}")
        shutil.rmtree(dump, ignore_errors=True)
        os.makedirs(dump)
        res = os.path.join(dump, "digests.json")
        run_jvm(cp, ["--keys", steps_arg(steps), "--data", data, "--record", dump,
                     "--out", res], f"record-sf{sf}", 1800)
        with open(res) as fh:
            out[f"sf{sf}"] = json.load(fh)
        out["oracle"][f"sf{sf}"] = oracle_check(sf, data, dump)
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log(f"wrote {DIGESTS}")
    bad = [f"{sf}/{k}" for sf, v in out["oracle"].items() for k, r in v.items() if r != "pass"]
    if bad:
        log(f"oracle disagreements or timeouts: {', '.join(bad)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not args.record and not args.workload:
        ap.error("--workload is required")

    cp = ensure_build()
    if args.record:
        return record(cp)
    if not os.path.exists(DIGESTS):
        fail("graftbench/digests.json is missing")
    w = WORKLOADS[args.workload]
    data = ensure_data(w["sf"])
    warm = ensure_data(WARM_SF)

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-{args.seed}-{'trace' if args.trace else 'e2e'}"
    raw_path = os.path.join(results, f"{name}.json")
    harness_args = ["--keys", steps_arg(w["steps"]), "--data", data, "--warm", warm,
                    "--seed", str(args.seed), "--seconds", str(args.seconds),
                    "--trace", str(args.trace), "--extra-setups", str(EXTRA_SETUPS), "--min-passes",
                    str(3 if args.trace else MIN_PASSES),
                    "--out", raw_path]
    run_jvm(cp, harness_args, name, RUN_TIMEOUT_S)
    with open(raw_path) as fh:
        raw = json.load(fh)

    attempted, failed, errors = check_outputs(raw, w["sf"])
    for e in errors[:20]:
        log(f"FAIL {e}")
    stamp = dict(raw["stamp"], workload=args.workload, sf=w["sf"], seed=args.seed,
                 trace=args.trace, git_commit=git_commit(), source_sha1=source_digest(),
                 passes=len(raw["passes"]))
    print("stamp " + json.dumps(stamp, sort_keys=True))
    if args.trace:
        metrics, checks = per_layer(raw, args.workload)
        for c in checks:
            log(f"SELF-CHECK FAILED {c}")
        with open(os.path.join(results, f"{name}-spans.json"), "w") as fh:
            json.dump({"stamp": stamp, "spans": raw["spans"]}, fh)
    else:
        metrics, checks = end_to_end(raw), []
    shown = dict(metrics, peak_rss_mb=(raw["peak_rss_mb"], "MB"),
                 failed_frac=(failed / attempted, "ratio"))
    print(f"{args.workload}: " + " ".join(
        f"{k}={v:.4f} {u}" for k, (v, u) in shown.items()
        if args.trace == 0 or "." not in k or k.startswith("GraftSession")))
    print(json.dumps({
        "correct": failed == 0 and not checks,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
