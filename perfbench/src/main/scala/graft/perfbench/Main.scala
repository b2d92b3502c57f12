package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.ingest.JsonLog
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One span of the trace: a batch, an ingest phase, a query or a job. */
case class Span(id: String, name: String, startMs: Long, endMs: Long,
    parent: String, run: Int)

/** What one workload does; the harness times `run` and nothing else. */
trait Workload {
  /** Units (documents or queries) a batch reports. */
  def unitsPerBatch: Int
  /** Timed batches a run makes at least, whatever its measuring time. */
  def minBatches: Int = 3
  /** Untimed warm-up batches, numbered -1, -2, ... */
  def warmupBatches: Int = 3
  /** Generate the run's fixed inputs (tables); batch inputs come later. */
  def setup(spark: SparkSession, dir: Path): Unit = ()
  /** Untimed: write batch `b`'s inputs under `dir`. */
  def prepare(spark: SparkSession, b: Int, dir: Path): Unit
  /** Timed: run the program over batch `b`'s inputs. */
  def run(spark: SparkSession, b: Int, dir: Path, traced: Boolean): Unit
  /** Untimed: check batch `b`'s outputs; returns failure messages, one
    * per failed unit.
    */
  def verify(spark: SparkSession, b: Int, dir: Path): Seq[String]
  /** Traced batches: per-layer numbers and spans from the batch's jobs
    * and outputs.
    */
  def layers(b: Int, dir: Path, jobs: Seq[JobRec], wallS: Double,
      batchSpan: Span, spans: mutable.Buffer[Span]): Map[String, Double]
  /** Counters kept outside the JVM (the loopback server's), read before
    * and after a traced batch.
    */
  def externalCounters(): Map[String, Double] = Map.empty
}

/** Benchmark harness. It starts a fresh Spark session and generates the
  * workload's fixed inputs three times, then runs untimed warm-up batches
  * on the cold JVM; `setup_s` is the median of the three plus the
  * warm-up, the time until the first timed batch can start. Then it runs
  * timed batches until the measuring time is used up, checking every
  * batch's outputs. With tracing on, batches alternate between untraced
  * and traced, so the trace's own cost can be read off. Writes one JSON
  * record; `perfbench/run.py` turns it into the reported metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *   <resultJson> <serverPort> <scale full|tiny> <mode run|inputs>
  */
object Main {
  val Slots = 4
  val SetupRepeats = 3

  def session(work: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    if (trace)
      b.config("spark.hadoop.fs.file.impl", classOf[TimedLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val Array(workloadName, seedS, secondsS, traceS, workS, resultS, portS,
      scale, mode) = args
    val seed = seedS.toLong
    val trace = traceS == "1"
    val work = Paths.get(workS).toAbsolutePath
    val tiny = scale == "tiny"
    Files.createDirectories(work)

    val wl: Workload = workloadName match {
      case "ingest-new" => new IngestNew(seed, portS.toInt, tiny)
      case "ingest-updates" => new IngestUpdates(seed, tiny)
      case "operator-suite" => new OperatorSuite(seed, tiny)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (mode == "inputs") {
      // the inputs of the first two batches, for the self-test's
      // same-seed/different-seed comparison
      val spark = if (workloadName == "operator-suite") session(work, false) else null
      wl.setup(spark, work.resolve("tables"))
      (0 until 2).foreach(b => wl.prepare(spark, b, work.resolve(s"b$b")))
      if (spark != null) stop(spark)
      return
    }
    val calibSec = graft.Bench.calibrate()
    val spans = mutable.ArrayBuffer[Span]()
    val probe = new SparkProbe
    val logSink = JsonLog.sink
    val countingSink: String => Unit = { line =>
      Probe.add("log.lines", 1)
      if (line.contains("\"level\":\"ERROR\"")) Probe.add("log.error_lines", 1)
      logSink(line)
    }

    // ---- set-up: session and inputs three times, then one warm-up batch --
    var spark: SparkSession = null
    val setupParts = (0 until SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) stop(spark)
      spark = session(work, trace)
      deleteTree(work.resolve("setup"))
      wl.setup(spark, work.resolve("setup"))
      (System.nanoTime() - t0) / 1e9
    }
    // the JIT is still climbing after one batch: warm up with several
    var warmupS = 0.0
    val warmFailures = (1 to wl.warmupBatches).flatMap { w =>
      val dir = work.resolve(s"warm$w")
      val t0 = System.nanoTime()
      wl.prepare(spark, -w, dir)
      wl.run(spark, -w, dir, traced = false)
      warmupS += (System.nanoTime() - t0) / 1e9
      try wl.verify(spark, -w, dir) finally deleteTree(dir)
    }
    if (trace) {
      val fsClass = org.apache.hadoop.fs.FileSystem
        .get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
        .getClass
      require(fsClass == classOf[TimedLocalFileSystem],
        s"traced run has file system $fsClass")
    }

    // ---- timed batches ---------------------------------------------------
    val seconds = secondsS.toDouble
    val minBatches = if (trace) 2 * ((wl.minBatches + 1) / 2) else wl.minBatches
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val batches = mutable.ArrayBuffer[Map[String, Any]]()
    val failures = mutable.ArrayBuffer[String]()
    // batch trees are deleted after the run: deleting one between batches
    // would put the file system's write-back on the next batch's time
    val done = mutable.ArrayBuffer[Path]()
    var b = 0
    while (b < minBatches || System.nanoTime() < deadline) {
      val traced = trace && b % 2 == 1
      val dir = work.resolve(s"b$b")
      wl.prepare(spark, b, dir)
      val sc = spark.sparkContext
      if (traced) {
        Probe.reset()
        Probe.on = true
        JsonLog.sink = countingSink
        sc.addSparkListener(probe)
      }
      // start every batch from a collected heap, so one batch's garbage
      // is not collected on the next one's time
      System.gc()
      val external0 = if (traced) wl.externalCounters() else Map.empty[String, Double]
      val persisted0 = sc.getPersistentRDDs.size
      val readFs0 = fsBytes()
      val cpu0 = cpuBean.getProcessCpuTime
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      wl.run(spark, b, dir, traced)
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val wall1 = System.currentTimeMillis()
      val layers = if (!traced) None else {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(probe)
        Probe.on = false
        JsonLog.sink = logSink
        val (r1, w1) = fsBytes()
        val counters = Probe.snapshot()
        val batchSpan = Span(s"b$b", "batch", wall0, wall1, "", b)
        spans += batchSpan
        val external = wl.externalCounters().map { case (k, v) =>
          k -> (v - external0.getOrElse(k, 0.0))
        }
        Some(wl.layers(b, dir, probe.take(), wallS, batchSpan, spans) ++
          external ++
          counters.map { case (k, v) =>
            if (k.endsWith("_ns")) k.stripSuffix("_ns") + "_s" -> v / 1e9
            else k -> v.toDouble
          } ++ Map(
            "storage.bytes_read" -> (r1 - readFs0._1).toDouble,
            "storage.bytes_written" -> (w1 - readFs0._2).toDouble,
            "cache.stranded" -> (sc.getPersistentRDDs.size - persisted0).toDouble))
      }
      val fails = wl.verify(spark, b, dir)
      failures ++= fails
      done += dir
      batches += Map("wall_s" -> wallS, "cpu_s" -> cpuS, "traced" -> traced,
        "attempted" -> wl.unitsPerBatch, "failed" -> fails.size) ++ layers.map("layers" -> _)
      b += 1
    }
    done.foreach(deleteTree)

    // ---- retained heap ---------------------------------------------------
    // Spark's cleaner frees shuffle and broadcast state only after a GC
    // has cleared the references to it: collect, let it run, repeat
    for (_ <- 1 to 3) {
      System.gc()
      Thread.sleep(200)
    }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    stop(spark)

    if (trace) Files.write(work.resolve("spans.jsonl"),
      spans.map(s => Json.obj(Map("id" -> s.id, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "parent" -> s.parent, "run" -> s.run))).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    val suiteRecord = wl match {
      case s: OperatorSuite =>
        Files.write(work.resolve("oracle_sql.json"), Json.obj(s.oracleSql).getBytes("UTF-8"))
        Map[String, Any]("data_dir" -> s.dataPath.toString)
      case _ => Map.empty[String, Any]
    }
    val result = Json.obj(suiteRecord ++ Map(
      "workload" -> workloadName, "calib_sec" -> calibSec,
      "setup_parts_s" -> setupParts, "warmup_s" -> warmupS,
      "warmup_attempted" -> wl.unitsPerBatch * wl.warmupBatches,
      "warmup_failed" -> warmFailures.size, "heap_mb" -> heapMb,
      "batches" -> batches.toSeq, "failures" -> (warmFailures ++ failures).take(20)))
    Files.write(Paths.get(resultS), result.getBytes("UTF-8"))
  }

  /** Bytes read and written through `file://`, from Hadoop's statistics. */
  private def fsBytes(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** Just enough JSON writing for the harness's records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case null => "null"
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${value(v)}" }
      .mkString("{", ", ", "}")
}
