package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}

/** Closed-loop runner for one benchmark workload.
  *
  * One client runs one step at a time in one `local[N]` JVM. A step is a
  * query key from `SparkEntry.queries` or the near-dup memo build
  * (`Dedup.nearDupPairs`). Each pass over the steps runs in a fresh
  * session, so session memos are rebuilt in every pass and stay inside
  * the pass's wall time. Steps are timed in three parts:
  *  - build: the call into the operator's public function (eager pins,
  *    probe counts and fixpoint loops run here);
  *  - exec: the consuming action, an order-independent digest over every
  *    output column (row count and the sum of row hashes);
  *  - release: `GraftSession.releaseCaches`.
  *
  * Passes repeat until `--seconds` have elapsed. With `--trace 1` every
  * other pass registers a SparkListener and a QueryExecutionListener and
  * attributes jobs, tasks and SQL actions to the running step; the
  * untraced passes between them give the tracing overhead.
  *
  * The harness writes raw timings, counters and spans as one JSON file;
  * `run.py` turns them into metrics.
  */
object Harness {

  val MemoKey = "memo:neardup_pairs"

  final case class Step(key: String, layer: String)

  /** Listener counters for one step in one pass. */
  final class Counters {
    val jobs, actions = new AtomicLong
    val planNs, taskCpuNs, taskRunMs, gcMs = new AtomicLong
    val shuffleBytes, spillBytes, outputBytes, peakExecMem = new AtomicLong
    def json: String =
      s""""jobs":${jobs.get},"actions":${actions.get},""" +
        s""""plan_ns":${planNs.get},"task_cpu_ns":${taskCpuNs.get},"task_run_ms":${taskRunMs.get},""" +
        s""""gc_ms":${gcMs.get},"shuffle_bytes":${shuffleBytes.get},"spill_bytes":${spillBytes.get},""" +
        s""""output_bytes":${outputBytes.get},"peak_exec_mem":${peakExecMem.get}"""
  }

  /** Attributes listener events to the step that is running. The harness
    * drains the listener bus before it moves `current` to the next step,
    * so every event of a step is delivered while that step is current.
    */
  final class Probe extends SparkListener with QueryExecutionListener {
    @volatile var current: Counters = _
    @volatile var currentSpan: Int = -1
    val totalJobs = new AtomicLong
    private val stageOwner = new ConcurrentHashMap[Int, Counters]()
    private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, Int)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      totalJobs.incrementAndGet()
      val c = current
      if (c != null) {
        c.jobs.incrementAndGet()
        e.stageIds.foreach(s => stageOwner.put(s, c))
      }
      jobSpan.put(e.jobId, (currentSpan, e.time))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (parent, start) = Option(jobSpan.remove(e.jobId)).getOrElse((-1, e.time))
      val ok = if (e.jobResult == JobSucceeded) 1 else 0
      jobs.add((e.jobId, parent, start, e.time, ok))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = stageOwner.get(e.stageId)
      val m = e.taskMetrics
      if (c != null && m != null) {
        c.taskCpuNs.addAndGet(m.executorCpuTime)
        c.taskRunMs.addAndGet(m.executorRunTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleBytes.addAndGet(
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.diskBytesSpilled)
        c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        c.peakExecMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
      }
    }

    private def action(qe: QueryExecution): Unit = {
      val c = current
      if (c != null) {
        c.actions.incrementAndGet()
        c.planNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = action(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      action(qe)
  }

  /** In-memory span tree: run -> session/pass -> step -> build/exec/release. */
  final class Spans {
    private val epochMs = System.currentTimeMillis()
    private val baseNs = System.nanoTime()
    private val buf = mutable.ArrayBuffer.empty[String]
    def ms(ns: Long): Double = epochMs + (ns - baseNs) / 1e6
    /** Reserve an id now and fill the span in when it ends. */
    def open(): Int = synchronized { buf += ""; buf.size - 1 }
    def close(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
        attrs: String = ""): Unit = synchronized {
      buf(id) = f"""{"id":$id,"parent":$parent,"name":"${esc(name)}","start_ms":${ms(startNs)}%.3f,""" +
        f""""end_ms":${ms(endNs)}%.3f${if (attrs.isEmpty) "" else "," + attrs}}"""
    }
    def add(parent: Int, name: String, startNs: Long, endNs: Long): Unit =
      close(open(), parent, name, startNs, endNs)
    def addJob(parent: Int, jobId: Int, startMs: Long, endMs: Long, ok: Int): Unit = synchronized {
      val id = buf.size
      buf += s"""{"id":$id,"parent":$parent,"name":"job $jobId","start_ms":$startMs,"end_ms":$endMs,"ok":$ok}"""
    }
    def json: String = synchronized { buf.mkString("[", ",\n", "]") }
  }

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  /** Order-independent digest action over every output column. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val row = df.select(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (row.getLong(0), if (row.isNullAt(1)) BigDecimal(0) else BigDecimal(row.getDecimal(1)))
  }

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case NonFatal(_) => (0L, 0L) }

  def vmHwmMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case NonFatal(_) => 0.0 }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = osBean.getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val steps = opts("keys").split(",").toSeq.map { kv =>
      val Array(k, l) = kv.split(":(?=[^:]*$)")
      Step(k, l)
    }
    val unknown = steps.map(_.key).filterNot(k => k == MemoKey || SparkEntry.queries.contains(k))
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
    val dataDir = opts("data")
    val out = opts("out")
    val record = opts.get("record")
    if (record.isDefined) recordDigests(steps, dataDir, record.get, out)
    else measure(steps, dataDir, opts("warm"), opts("seed").toLong,
      opts("seconds").toDouble, opts("trace") == "1", opts("min-passes").toInt,
      opts("extra-setups").toInt, out)
  }

  private def runStep(spark: SparkSession, s: Step, dir: String): DataFrame =
    if (s.key == MemoKey) graft.dedup.Dedup.nearDupPairs(spark, dir)
    else SparkEntry.queries(s.key)(spark, dir)

  private def stamp(spark: SparkSession): String = {
    val master = spark.sparkContext.master
    val cores = "local\\[([0-9]+)\\]".r.findFirstMatchIn(master).map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"master $master has no numeric core count"))
    val gc = scala.jdk.CollectionConverters.ListHasAsScala(
      ManagementFactory.getGarbageCollectorMXBeans).asScala.map(_.getName).mkString("+")
    s""""cores":$cores,"heap_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)},""" +
      s""""gc":"${esc(gc)}","spark":"${spark.version}""""
  }

  private def measure(steps: Seq[Step], dataDir: String, warmDir: String, seed: Long,
      seconds: Double, trace: Boolean, minPasses: Int, extraSetups: Int, out: String): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans
    val rnd = new Random(seed)
    val setups = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[String]
    val queries = steps.filterNot(_.key == MemoKey)
    val memo = steps.filter(_.key == MemoKey)
    var stampJson = ""
    var deadline = Long.MaxValue
    var steal0 = (0L, 0L)
    val runSpan = spans.open()
    val runStart = System.nanoTime()
    // Set-up: session create, warm-up (first session only) on the small
    // warm-up tables, then the workload's tables registered as views.
    def setUp(n: Int, warm: Boolean): SparkSession = {
      val s0 = System.nanoTime()
      val spark = GraftSession.create("graftbench")
      val s1 = System.nanoTime()
      if (warm) {
        stampJson = stamp(spark)
        (memo ++ queries).foreach { s =>
          digest(runStep(spark, s, warmDir))
          GraftSession.releaseCaches(spark)
        }
      }
      val s2 = System.nanoTime()
      graft.Tables(spark, dataDir).createViews()
      val s3 = System.nanoTime()
      // The first set-up counts from process start: JVM boot and class
      // loading are part of what a user waits for.
      val setupS = if (n == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else (s3 - s0) / 1e9
      setups += f"""{"setup_s":$setupS%.6f,"create_s":${(s1 - s0) / 1e9}%.6f,""" +
        f""""warmup_s":${(s2 - s1) / 1e9}%.6f,"views_s":${(s3 - s2) / 1e9}%.6f}"""
      spans.add(runSpan, s"setup $n", s0, s3)
      spark
    }
    var passNo = 0
    while (passNo < minPasses || System.nanoTime() < deadline) {
      val spark = setUp(passNo, warm = passNo == 0)
      if (passNo == 0) {
        deadline = System.nanoTime() + (seconds * 1e9).toLong
        steal0 = cpuJiffies()
      }

      val traced = trace && passNo % 2 == 1
      val probe = new Probe
      if (traced) {
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
      }
      val order = memo ++ rnd.shuffle(queries)
      val passSpan = spans.open()
      val p0 = System.nanoTime()
      val cpu0 = processCpuNs
      val jobs0 = probe.totalJobs.get
      val stepJson = order.map { s =>
        val c = new Counters
        val stepSpan = spans.open()
        if (traced) { probe.current = c; probe.currentSpan = stepSpan }
        val t0 = System.nanoTime()
        var t1 = t0
        val result =
          try {
            val df = runStep(spark, s, dataDir)
            t1 = System.nanoTime()
            val (n, h) = digest(df)
            Right((n, h))
          } catch { case NonFatal(e) =>
            if (t1 == t0) t1 = System.nanoTime()
            Left(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300))
          }
        val t2 = System.nanoTime()
        try GraftSession.releaseCaches(spark)
        catch { case NonFatal(_) => () }
        val t3 = System.nanoTime()
        if (traced) Bus.drain(spark.sparkContext)
        spans.add(stepSpan, "build", t0, t1)
        spans.add(stepSpan, "exec", t1, t2)
        spans.add(stepSpan, "release", t2, t3)
        val res = result match {
          case Right((n, h)) => s""""rows":$n,"hash":"$h""""
          case Left(err) => s""""error":"${esc(err)}""""
        }
        val attrs = s""""layer":"${s.layer}","build_s":${(t1 - t0) / 1e9},""" +
          s""""exec_s":${(t2 - t1) / 1e9},"release_s":${(t3 - t2) / 1e9},$res""" +
          (if (traced) "," + c.json else "")
        spans.close(stepSpan, passSpan, s.key, t0, t3, attrs)
        s"""{"key":"${s.key}",$attrs}"""
      }
      val cpu1 = processCpuNs
      val p1 = System.nanoTime()
      if (traced) {
        Bus.drain(spark.sparkContext)
        probe.current = null
        probe.jobs.forEach { case (jobId, parent, start, end, ok) =>
          spans.addJob(parent, jobId, start, end, ok)
        }
      }
      val passJobs = probe.totalJobs.get - jobs0
      spans.close(passSpan, runSpan, s"pass $passNo", p0, p1,
        s""""traced":$traced""")
      passes += s"""{"traced":$traced,"wall_s":${(p1 - p0) / 1e9},"cpu_s":${(cpu1 - cpu0) / 1e9},""" +
        s""""listener_jobs":$passJobs,"steps":[${stepJson.mkString(",")}]}"""
      val r0 = System.nanoTime()
      spark.stop()
      spans.add(runSpan, s"stop $passNo", r0, System.nanoTime())
      passNo += 1
    }
    val (steal1, total1) = cpuJiffies()
    (0 until extraSetups).foreach(i => setUp(passNo + i, warm = false).stop())
    val stealPct =
      if (total1 > steal0._2) 100.0 * (steal1 - steal0._1) / (total1 - steal0._2) else 0.0
    spans.close(runSpan, -1, "run", runStart, System.nanoTime())
    val json =
      s"""{"stamp":{$stampJson,"steal_pct":$stealPct},"peak_rss_mb":$vmHwmMb,""" +
        s""""setups":[${setups.mkString(",")}],"passes":[${passes.mkString(",\n")}],""" +
        s""""spans":${spans.json}}"""
    Files.write(Paths.get(out), json.getBytes(UTF_8))
  }

  /** Runs each step once and writes its digest; keys that have a DuckDB
    * oracle also get their output written as parquet for cross-checking.
    */
  private def recordDigests(steps: Seq[Step], dataDir: String, dumpDir: String,
      out: String): Unit = {
    val spark = GraftSession.create("graftbench-record")
    val lines = steps.map { s =>
      val df = runStep(spark, s, dataDir)
      val (n, h) = digest(df)
      SparkEntry.oracleSql.get(s.key).foreach { sql =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/${s.key}")
        Files.write(Paths.get(dumpDir, s"${s.key}.sql"), sql.getBytes(UTF_8))
      }
      GraftSession.releaseCaches(spark)
      s""""${s.key}":{"rows":$n,"hash":"$h"}"""
    }
    Files.write(Paths.get(out), lines.mkString("{", ",\n", "}").getBytes(UTF_8))
    spark.stop()
  }
}
