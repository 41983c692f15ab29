package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark run in one JVM.
  *
  * Order: host calibration, session build, one untimed warm-up pass over
  * the workload (this ends set-up), the timed closed loop, host
  * calibration again, then — untimed — each query's last result is
  * written as parquet together with its oracle SQL, for run.py to check
  * against DuckDB. Everything the run measured goes to `run.json` in the
  * output directory; run.py turns it into metrics.
  *
  * A traced run times three windows of the same length after the
  * warm-up: recording only in the middle one, so the tracing overhead is
  * measured within one session against the windows on either side.
  *
  * Arguments are `key=value`: sf, out, queries (comma-separated), seed,
  * passes (timed passes per window), trace (0|1), cpus.
  */
object Harness {
  type QueryFn = (SparkSession, String) => DataFrame

  /** The ten query modules `SparkEntry.queries` concatenates: a query's
    * module is the one whose map declares it. */
  val modules: Seq[(String, Map[String, QueryFn])] = Seq(
    "operators.Relational" -> graft.operators.Relational.queries,
    "operators.Events" -> graft.operators.Events.queries,
    "operators.TextOps" -> graft.operators.TextOps.queries,
    "operators.Extras" -> graft.operators.Extras.queries,
    "operators.EventAnalytics" -> graft.operators.EventAnalytics.queries,
    "operators.VectorOps" -> graft.operators.VectorOps.queries,
    "multimodal.Multimodal" -> graft.multimodal.Multimodal.queries,
    "streaming.StreamOps" -> graft.streaming.StreamOps.queries,
    "sources.FileSources" -> graft.sources.FileSources.queries,
    "pipeline.TrainingDataPipeline" -> graft.pipeline.TrainingDataPipeline.queries)

  def moduleOf(query: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(query) => m }.get

  final case class Exec(id: Long, query: String, window: String,
      t0: Long, t1: Long, t2: Long, rows: Long, error: String,
      storageMb: Double, storageBlocks: Int)

  /** Epoch nanoseconds, precise within the run: Spark's listener events
    * carry epoch milliseconds, and every span shares this one clock. */
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = epochBase + System.nanoTime()

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val sf = kv("sf")
    val out = kv("out")
    val names = kv("queries").split(',').toSeq
    val seed = kv("seed").toLong
    val passes = kv("passes").toInt
    val trace = kv("trace") == "1"
    val cpus = kv("cpus").toInt
    val entry = graft.SparkEntry.queries
    val missing = names.filterNot(entry.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: ${missing.mkString(",")}")

    val calibStart = Calibration.run(cpus)
    val spark = session(cpus, trace, out)
    val sc = spark.sparkContext

    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    var liveHeapPeak = 0L
    val lastResult = scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]

    def runOnce(name: String, window: String, tagged: Boolean): Unit = {
      val id = execs.size + 1L
      def phase[T](p: String)(body: => T): T =
        if (!tagged) body
        else {
          val tag = s"pb-$id-$p"
          sc.addJobTag(tag)
          try body finally sc.removeJobTag(tag)
        }
      val t0 = now()
      var t1 = 0L
      var rows: Array[Row] = null
      var schema: StructType = null
      val error =
        try {
          val df = phase("c")(entry(name)(spark, sf))
          t1 = now()
          rows = phase("m")(df.collect())
          schema = df.schema
          null
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      val t2 = now()
      if (t1 == 0L) t1 = t2
      val (mb, blocks) = if (tagged) storage(sc) else (0.0, 0)
      if (tagged) liveHeapPeak = math.max(liveHeapPeak, liveHeapBytes())
      execs += Exec(id, name, window, t0, t1, t2,
        if (rows == null) -1L else rows.length.toLong, error, mb, blocks)
      if (rows != null) lastResult(name) = (rows, schema)
    }

    // The seed fixes the query order of each pass, and nothing else.
    def passOrder(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(names)

    passOrder(-1).foreach(runOnce(_, "warmup", tagged = false))
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - calibStart.seconds

    /** Closed loop, one client, a fixed number of whole passes: every
      * query runs equally often and the sample size does not depend on
      * the host's speed. */
    def window(label: String, tagged: Boolean): Window = {
      val gc0 = gcMs()
      val cpu0 = processCpuNs()
      val cg0 = codegen()
      val w0 = now()
      (0 until passes).foreach(passOrder(_).foreach(runOnce(_, label, tagged)))
      val w1 = now()
      Window(label, w0, w1, processCpuNs() - cpu0, gcMs() - gc0,
        (codegen()._1 - cg0._1, codegen()._2 - cg0._2))
    }

    val windows =
      if (!trace) Seq(window("timed", tagged = false))
      else {
        val before = window("untraced", tagged = false)
        Recorder.on.set(true)
        val traced = window("traced", tagged = true)
        Recorder.quiesce()
        Recorder.on.set(false)
        Seq(before, traced, window("untraced", tagged = false))
      }
    val rssMb = vmHwmMb()
    val calibEnd = Calibration.run(cpus)

    // Untimed: the last result of each query in the layout
    // tools/compare.py reads, and the queries' oracle SQL beside it.
    val results = s"$out/results"
    new java.io.File(results).mkdirs()
    lastResult.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$results/$name")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_source.json"),
      graft.Verify.oracleJson(graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))

    val runJson = Json.obj(
      "cpus" -> cpus,
      "setup_s" -> setupS, "peak_rss_mb" -> rssMb,
      "live_heap_peak_mb" -> liveHeapPeak / 1048576.0,
      "calib" -> Json.obj(
        "start_1t_s" -> calibStart.oneThread, "start_nt_s" -> calibStart.allThreads,
        "end_1t_s" -> calibEnd.oneThread, "end_nt_s" -> calibEnd.allThreads),
      "windows" -> windows.map(_.json),
      "modules" -> Json.obj(names.map(n => n -> (moduleOf(n): Any)): _*),
      "execs" -> execs.map(e => Json.obj(
        "id" -> e.id, "query" -> e.query,
        "window" -> e.window, "t0" -> e.t0, "t1" -> e.t1, "t2" -> e.t2,
        "rows" -> e.rows, "error" -> e.error,
        "storage_mb" -> e.storageMb, "storage_blocks" -> e.storageBlocks)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/run.json"), Json.write(runJson))
    if (trace)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/events.jsonl"),
        Recorder.events.asScala.toSeq.asJava)
    spark.stop()
  }

  final case class Window(label: String, start: Long, end: Long,
      cpuNs: Long, gcMs: Long, codegen: (Long, Long)) {
    def json: Map[String, Any] = Json.obj("label" -> label, "start" -> start, "end" -> end,
      "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "codegen_compilations" -> codegen._1, "codegen_compile_s" -> codegen._2 / 1e9)
  }

  /** The session `graft.Bench` declares, with scratch kept under the run's
    * output directory; a traced run also registers the recorders through
    * the static confs, so every session — `newSession()` tenants
    * included — reports to them. */
  def session(cpus: Int, trace: Boolean, out: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
    val s = (if (!trace) b else b
      .config("spark.extraListeners", classOf[JobRecorder].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PlanRecorder].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamRecorder].getName))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after the last collection of each pool: the live set. */
  private def liveHeapBytes(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def storage(sc: org.apache.spark.SparkContext): (Double, Int) = {
    val used = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
    (used / 1048576.0, sc.getRDDStorageInfo.map(_.numCachedPartitions).sum)
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** A fixed integer kernel timed on one thread and on every core: a host
  * that is throttled or shared reads slower here whatever the code
  * under test does. */
object Calibration {
  final case class Reading(oneThread: Double, allThreads: Double, seconds: Double)

  private def kernel(seed: Long): Long = {
    var x = seed
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    x
  }

  @volatile private var sink = 0L

  private def timed(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => sink ^= kernel(i + 1L)); t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def run(cpus: Int): Reading = {
    val t0 = System.nanoTime()
    sink ^= kernel(7L)
    val one = timed(1)
    val all = timed(cpus)
    Reading(one, all, (System.nanoTime() - t0) / 1e9)
  }
}
