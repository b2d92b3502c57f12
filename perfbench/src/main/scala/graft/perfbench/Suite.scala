package graft.perfbench

import java.nio.file.Path
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{CacheScope, SparkEntry}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `operator-suite`: three `SparkEntry` queries over tables generated from
  * the seed in the shape of the repository's synthetic test data
  * (documents, orders, lineitem, part). Each query runs in
  * `CacheScope.scoped` and its timed action collects every row, so every
  * column is computed. The warm-up pass's results are written as parquet
  * for the DuckDB oracle check; every timed pass must reproduce their
  * fingerprints.
  */
class OperatorSuite(seed: Long, tiny: Boolean) extends Workload {
  val queries = Seq("q137_rank_fusion", "q263_winnow_matches", "q270_bfs_distance")
  val unitsPerBatch: Int = queries.size
  override def minBatches: Int = 2
  override def warmupBatches: Int = 1

  private val nDocs = if (tiny) 150 else 200
  private val nOrders = if (tiny) 1000 else 1500
  private val nParts = nOrders * 2 / 15

  private lazy val entries = {
    val all = SparkEntry.queries
    queries.map(q => q -> all(q)).toMap
  }
  private var dataDir: Path = _
  private val reference = mutable.HashMap[String, String]()
  private val fingerprints = mutable.HashMap[String, String]()
  private val timings = mutable.LinkedHashMap[String, (Long, Long, Double)]()
  private var warmRows = Map.empty[String, (StructType, Array[Row])]

  private val vocab = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private def ts(r: SplittableRandom): Timestamp =
    new Timestamp((788918400L + r.nextInt(7 * 365) * 86400L) * 1000L)

  /** The four tables, one parquet file each, as the program reads them. */
  override def setup(spark: SparkSession, dir: Path): Unit = {
    val r = new SplittableRandom(seed * 1000003L + 41L)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write
        .parquet(dir.resolve(s"$name.parquet").toString)
    def f(names: (String, DataType)*) =
      StructType(names.map { case (n, t) => StructField(n, t) })

    val texts = mutable.ArrayBuffer[String]()
    val docs = (0 until nDocs).map { i =>
      val text =
        if (i > 10 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
        else {
          val target = 48 + r.nextInt(500)
          val sb = new StringBuilder(vocab(r.nextInt(vocab.size)))
          while (sb.length < target) sb.append(' ').append(vocab(r.nextInt(vocab.size)))
          sb.toString
        }
      texts += text
      val u = r.nextDouble()
      val lang = if (u < 0.41) "en" else if (u < 0.56) "zh" else if (u < 0.7) "de"
        else if (u < 0.85) "es" else "fr"
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    write("documents", f("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType), docs)

    val status = Vector("P", "O", "F")
    val priority = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders", f("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until nOrders).map { i =>
        Row(i.toLong, r.nextInt(nOrders / 10).toLong, status(r.nextInt(3)),
          math.round(100000.0 + r.nextDouble() * 40000000) / 100.0, ts(r),
          priority(r.nextInt(5)))
      })

    write("lineitem", f("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
      (0 until nOrders * 4).map { _ =>
        val q = 1 + r.nextInt(50)
        Row(r.nextInt(nOrders).toLong, r.nextInt(nParts).toLong,
          r.nextInt(100).toLong, 1 + r.nextInt(7), q.toDouble,
          math.round(q * (90000 + r.nextInt(1000000))) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Vector("A", "N", "R")(r.nextInt(3)), Vector("O", "F")(r.nextInt(2)), ts(r))
      })

    val adjectives = Vector("small", "red", "blue", "green", "large", "steel")
    val nouns = Vector("ring", "widget", "bolt", "gear", "valve", "spring")
    val types = Vector("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")
    write("part", f("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
      (0 until nParts).map { i =>
        Row(i.toLong, s"${adjectives(r.nextInt(6))} ${nouns(r.nextInt(6))}",
          s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
          900.0 + i / 10.0)
      })
    dataDir = dir
  }

  override def prepare(spark: SparkSession, b: Int, dir: Path): Unit = ()

  override def run(spark: SparkSession, b: Int, dir: Path, traced: Boolean): Unit = {
    val sc = spark.sparkContext
    timings.clear()
    fingerprints.clear()
    val warm = mutable.HashMap[String, (StructType, Array[Row])]()
    queries.foreach { q =>
      sc.setLocalProperty("perfbench.unit", q)
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (schema, rows) = CacheScope.scoped {
        val df = entries(q)(spark, dataDir.toString)
        (df.schema, df.collect())
      }
      timings(q) = (start, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
      System.err.println(f"[perfbench] batch $b: $q ${timings(q)._3}%.2f s, ${rows.length} rows")
      sc.setLocalProperty("perfbench.unit", null)
      fingerprints(q) = OperatorSuite.fingerprint(rows)
      if (b == -1) warm(q) = (schema, rows)
    }
    if (b == -1) warmRows = warm.toMap
  }

  /** The warm-up pass sets the reference fingerprints and writes its
    * rows to `dir/../results` for the oracle check.
    */
  override def verify(spark: SparkSession, b: Int, dir: Path): Seq[String] = {
    val fails = queries.flatMap { q =>
      reference.get(q) match {
        case Some(ref) if ref != fingerprints(q) =>
          Some(s"$q: result fingerprint ${fingerprints(q)} differs from $ref")
        case _ => None
      }
    }
    if (b == -1) {
      queries.foreach(q => reference(q) = fingerprints(q))
      val out = dir.getParent.resolve("results")
      warmRows.foreach { case (q, (schema, rows)) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write
          .mode("overwrite").parquet(out.resolve(q).toString)
      }
    }
    fails
  }

  override def layers(b: Int, dir: Path, jobs: Seq[JobRec], wallS: Double,
      batchSpan: Span, spans: mutable.Buffer[Span]): Map[String, Double] = {
    val byUnit = jobs.groupBy(_.unit.getOrElse(""))
    val perQuery = timings.toSeq.flatMap { case (q, (start, end, secs)) =>
      spans += Span(s"b$b.$q", q, start, end, batchSpan.id, b)
      byUnit.getOrElse(q, Nil).foreach(j =>
        spans += Span(s"b$b.job${j.id}", j.desc, j.start, j.end, s"b$b.$q", b))
      val s = JobStats(byUnit.getOrElse(q, Nil), secs, Main.Slots, s"q.$q")
      Seq(s"q.$q.s" -> secs, s"q.$q.jobs" -> s(s"q.$q.jobs"),
        s"q.$q.tasks" -> s(s"q.$q.tasks"), s"q.$q.exec_run_s" -> s(s"q.$q.exec_run_s"),
        s"q.$q.max_task_s" -> s(s"q.$q.max_task_s"),
        s"q.$q.shuffle_mb" -> s(s"q.$q.shuffle_write_mb"),
        s"q.$q.slot_idle_s" -> s(s"q.$q.slot_idle_s"))
    }
    val covered = timings.values.map { case (s, e, _) => e - s }.sum
    JobStats(jobs, wallS, Main.Slots, "spark") ++ perQuery ++ Map(
      "trace.phase_coverage" -> math.min(1.0,
        covered / math.max(1.0, (batchSpan.endMs - batchSpan.startMs).toDouble)))
  }

  /** Oracle SQL of the suite's queries, for the DuckDB check. */
  def oracleSql: Map[String, String] =
    queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap

  def dataPath: Path = dataDir
}

object OperatorSuite {
  /** Order-independent digest of a result. */
  def fingerprint(rows: Array[Row]): String =
    BenchConverter.md5(rows.map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))
}
