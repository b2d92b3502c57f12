package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.Soak
import graft.model.Schemas.UpdateConfig
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

object IngestJobSpec {
  val FailingDocs: Set[Int] = Set(3, 10)

  def isDocx(i: Int): Boolean = i % 4 == 1

  /** Body served for Soak document `i`: a PDF, or a DOCX for every fourth. */
  def body(i: Int): Array[Byte] =
    if (isDocx(i)) s"PK\u0003\u0004[Content_Types].xml soak docx $i".getBytes(UTF_8)
    else s"%PDF-1.4\n% spec doc $i\n${"x" * (512 + 97 * i)}\n%%EOF\n".getBytes(UTF_8)

  def docIndex(url: String): Int =
    url.substring(url.lastIndexOf("/doc") + 4).stripSuffix(".pdf").toInt

  /** In-process fetcher for Soak's control files: a latency that varies
    * by document, so in-flight documents finish out of order, and a 404
    * on [[FailingDocs]]. Top-level so it serializes to executors.
    */
  class VaryingFetcher extends Fetcher {
    override def get(url: String): FetchResponse = {
      val i = docIndex(url)
      Thread.sleep((i * 7) % 11)
      if (FailingDocs(i)) throw new HttpStatusError(404, url)
      FetchResponse(200, body(i), "application/octet-stream")
    }
  }

  /** Call sites of the jobs started while it is attached: the call site
    * of the SQL execution each job ran for, e.g. "collect at X.scala:12".
    */
  class JobSites extends SparkListener {
    val sites = new ConcurrentLinkedQueue[String]()
    private val executionSites = new ConcurrentHashMap[Long, String]()
    @volatile private var markerJob = -1
    private val markerDone = new CountDownLatch(1)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executionSites.put(s.executionId, s.description)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop("spark.job.description").contains("spec-marker")) markerJob = e.jobId
      else sites.add(prop("spark.sql.execution.root.id")
        .flatMap(id => Option(executionSites.get(id.toLong))).getOrElse("?"))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) markerDone.countDown()

    /** Waits for a marker job's end: the bus delivers events in order, so
      * every earlier job has been seen by then.
      */
    def drain(spark: org.apache.spark.sql.SparkSession): Seq[String] = {
      val sc = spark.sparkContext
      sc.setJobDescription("spec-marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(markerDone.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      sites.asScala.toSeq
    }
  }
}

/** The two-phase job end to end on Soak's generated control files: the
  * report and the file tree for new-only, updates-only, mixed and empty
  * runs, errors on their own rows, an idempotent rerun, and no Spark job
  * for a phase with no rows.
  */
class IngestJobSpec extends SparkSpec {
  import IngestJobSpec._

  private val runTs = Instant.parse("2024-01-01T00:00:00Z")
  private val stub = new StubConverter

  private def run(tree: Path): (IngestJob.RunReport, Seq[String]) = {
    val listener = new JobSites
    val sink = JsonLog.sink
    JsonLog.sink = _ => ()
    spark.sparkContext.addSparkListener(listener)
    try {
      val report = IngestJob.run(spark, UpdateConfig(
          pipelineRoot = s"file://${tree.resolve("pipeline")}",
          documentRoot = s"file://${tree.resolve("cdn")}"),
        inputDirPath = "input/soak-run",
        updatesFileName = "new_and_updated_documents.json",
        fetcher = new VaryingFetcher, converter = stub, runTs = runTs)
      (report, listener.drain(spark))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      JsonLog.sink = sink
    }
  }

  /** Relative path -> bytes of every data file under `root`. */
  private def tree(root: Path): Map[String, Seq[Byte]] =
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  private def reportJson(r: IngestJob.RunReport): String =
    new String(Files.readAllBytes(java.nio.file.Paths.get(
      java.net.URI.create(r.reportPath))), UTF_8)

  /** Stored PDF for Soak document `i`, as the sequential pipeline makes it. */
  private def storedPdf(i: Int): Array[Byte] =
    if (isDocx(i)) stub.addLastPageWatermark(stub.docToPdf(body(i)),
      Converter.watermarkText(s"https://example.com/dl/doc$i.pdf", runTs))
    else body(i)

  private def checkNewDocuments(root: Path, report: IngestJob.RunReport, n: Int): Unit = {
    val news = report.results.filter(_.ingest_type == "new")
    assert(news.map(_.document_id) ===
      (0 until n).map(i => s"SOAK.executive.$i.$i").sorted)
    val parser = tree(root.resolve("pipeline/parser_input"))
    val cdn = tree(root.resolve("cdn/navigator"))
    val expectedCdn = (0 until n).filterNot(FailingDocs).map { i =>
      val pdf = storedPdf(i)
      s"IDN/2020/soak-document-${i}_${NewDocuments.md5Hex(pdf)}.pdf" -> pdf.toSeq
    }.toMap
    assert(cdn === expectedCdn)
    news.foreach { r =>
      val i = r.document_id.split('.').last.toInt
      val input = parser.get(s"${r.document_id}.json")
      if (FailingDocs(i)) {
        assert(r.error === Some("HttpStatusError: 404 Client Error for url: " +
          s"https://example.com/dl/doc$i.pdf"))
        assert(input.isEmpty, s"parser input for failed document $i")
      } else {
        assert(r.error === None)
        val json = PyJson.parse(new String(input.get.toArray, UTF_8))
        val key = json.get("document_cdn_object").asText
        assert(expectedCdn.contains(key))
        assert(json.get("document_md5_sum").asText === NewDocuments.md5Hex(storedPdf(i)))
        assert(json.get("document_content_type").asText === (
          if (isDocx(i)) "application/vnd.openxmlformats-officedocument.wordprocessingml.document"
          else "application/pdf"))
      }
    }
  }

  /** Files each Soak update family leaves, relative to the pipeline root. */
  private def checkUpdates(root: Path, report: IngestJob.RunReport, n: Int): Unit = {
    val ups = report.results.filter(_.ingest_type == "updated")
    assert(ups.map(_.document_id) === (0 until n).map(i => s"SOAKUPD.executive.$i.$i").sorted)
    assert(ups.forall(_.error.isEmpty), ups)
    val pipeline = root.resolve("pipeline")
    val files = tree(pipeline).keySet.filter(_.contains("SOAKUPD"))
    val expected = (0 until n).flatMap { i =>
      val id = s"SOAKUPD.executive.$i.$i"
      def live(p: String) = s"$p/$id.json"
      def archived(p: String, ext: String) = s"archive/$p/$id/2024-01-01-00-00-00.$ext"
      val indexer = Seq(archived("indexer_input", "json"), archived("indexer_input", "npy"))
      i % 4 match {
        case 0 | 1 => Seq(live("parser_input"), live("embeddings_input")) ++ indexer
        case 2 => Seq(archived("parser_input", "json"),
          archived("embeddings_input", "json")) ++ indexer
        case _ => Seq(live("parser_input"), archived("embeddings_input", "json")) ++ indexer
      }
    }.toSet
    assert(files === expected)
    (0 until n).filter(_ % 4 == 0).foreach { i =>
      val json = PyJson.parse(Files.readString(
        pipeline.resolve(s"parser_input/SOAKUPD.executive.$i.$i.json")))
      assert(json.get("document_slug").asText === s"new-slug-$i")
      assert(json.get("document_name").asText === s"New name $i")
    }
  }

  private def ingestJobSites(sites: Seq[String]) = sites.filter(_.contains("IngestJob.scala")).toSet
  private def newDocumentSites(sites: Seq[String]) = sites.filter(_.contains("NewDocuments.scala"))

  /** The call site of the one job that reads the control row's sizes. */
  private lazy val sizesSite: Set[String] = {
    val t = Soak.buildTree(0, 0)
    try {
      val (report, sites) = run(t)
      assert(report.results.isEmpty)
      assert(reportJson(report) === "[]")
      assert(sites.size === 1, sites)
      ingestJobSites(sites)
    } finally Soak.deleteTree(t)
  }

  test("empty control file: an empty report and one job, for the control row") {
    assert(sizesSite.size === 1)
  }

  test("new documents only: one row per document, errors on their own rows, no updates job") {
    val t = Soak.buildTree(24, 0)
    try {
      val (report, sites) = run(t)
      checkNewDocuments(t, report, 24)
      assert(ingestJobSites(sites) === sizesSite, sites)
      assert(newDocumentSites(sites).nonEmpty)
    } finally Soak.deleteTree(t)
  }

  test("updates only: every family's files and edits, no new-documents job") {
    val t = Soak.buildTree(0, 12)
    try {
      val (report, sites) = run(t)
      checkUpdates(t, report, 12)
      assert(tree(t.resolve("cdn")).isEmpty)
      assert(newDocumentSites(sites).isEmpty, sites)
    } finally Soak.deleteTree(t)
  }

  test("mixed control file: both phases, and a rerun is idempotent") {
    val t = Soak.buildTree(18, 8)
    try {
      val (first, _) = run(t)
      checkNewDocuments(t, first, 18)
      checkUpdates(t, first, 8)
      val before = tree(t)
      val (second, _) = run(t)
      assert(second.results === first.results)
      assert(tree(t) === before)
    } finally Soak.deleteTree(t)
  }
}
