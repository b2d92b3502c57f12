package graft.ingest

import java.security.MessageDigest
import java.time.Instant
import java.util.concurrent.{Callable, ExecutionException, Executors, Future, Semaphore}

import scala.collection.mutable

import graft.functions.{ContentTypes, FileNames, Slugify}
import graft.model.{Mappings, Schemas}
import graft.model.Schemas.BackendDocument
import org.apache.hadoop.conf.Configuration
import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset

/** New-document pipeline (SURVEY.md §2 P1–P5, C1–C9, K1–K2, §3.2).
  *
  * One effectful `mapPartitions` stage performs download → content-type
  * detection → normalize-to-PDF → content-hash keying → CDN blob store,
  * one fetcher/converter per partition, every row's failure captured as an
  * error value (reference `main.py:209-227` semantics: the job never dies
  * on a row). The stage is deliberately OUTSIDE Catalyst's expression
  * space so the optimizer can never reorder or re-evaluate the effects
  * (SURVEY.md §4.1); its parser-input writes happen in the same pass, so
  * the result is consumed by exactly one action.
  *
  * The pure pieces (slugify C9, content sniffing C1, byte-aware filename
  * C8) are the unit-tested functions from `graft.functions`, shared with
  * the SQL surface.
  */
object NewDocuments {

  /** Outcome row for one new document: the source doc, upload facts (null
    * when skipped), or a per-row error string `"Type: message"`
    * (reference `main.py:221-227`).
    */
  case class Processed(
      doc: BackendDocument,
      cdn_object: Option[String],
      md5_sum: Option[String],
      content_type: Option[String],
      error: Option[String])

  /** pydantic `AnyHttpUrl` gate (reference `new_document_actions.py:78-85`):
    * http/https scheme with a host.
    */
  def isValidHttpUrl(url: String): Boolean =
    try {
      val u = new java.net.URI(url)
      (u.getScheme == "http" || u.getScheme == "https") && u.getHost != null
    } catch { case _: Exception => false }

  def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  /** Process one document end-to-end (P1: the per-row composition). */
  def processOne(
      doc: BackendDocument,
      documentRoot: String,
      fetcher: Fetcher,
      converter: Converter,
      runTs: Instant,
      conf: Configuration): Processed = {
    try {
      // O6: structured per-document logging (reference
      // new_document_actions.py:74,84,102)
      JsonLog.info("new_document_actions", s"Handling document: ${doc.name}",
        "document_id" -> doc.import_id)
      // P3: source-URL validation — invalid → row error, job continues
      doc.source_url.filter(_.nonEmpty).foreach { u =>
        if (!isValidHttpUrl(u)) {
          JsonLog.error("new_document_actions",
            s"Invalid source URL for document '${doc.import_id}'",
            "document_id" -> doc.import_id)
          throw new IllegalArgumentException(s"Invalid source_url: $u")
        }
      }

      // P2: upload-or-skip decision
      val fetchUrl = doc.download_url.filter(_.nonEmpty)
        .orElse(doc.source_url.filter(_.nonEmpty))
      fetchUrl match {
        case None =>
          // both URLs empty → skip (all-null upload result, NOT an error;
          // reference new_document_actions.py:35-48)
          Processed(doc, None, None, None, None)
        case Some(url) =>
          val slug = Slugify.slugify(doc.name)
          val year = doc.publication_ts.toInstant
            .atOffset(java.time.ZoneOffset.UTC).getYear
          val s3Prefix = s"${doc.geography}/$year"

          // S5 + C1: download and detect the SOURCE content type
          val resp = fetcher.get(url)
          val contentType =
            ContentTypes.determine(resp.body, url, resp.contentTypeHeader)

          // C2–C6: normalize to PDF; reported content_type stays the
          // detected source type (quirk asserted by the reference's own
          // tests — SURVEY.md §3.2)
          val watermark = Converter.watermarkText(url, runTs)
          val pdfBytes = contentType match {
            case Mappings.ContentTypeHtml =>
              val (captured, _) = converter.capturePdfFromUrl(url)
              converter.addLastPageWatermark(captured, watermark)
            case Mappings.ContentTypeDocx | Mappings.ContentTypeDoc =>
              converter.addLastPageWatermark(
                converter.docToPdf(resp.body), watermark)
            case Mappings.ContentTypePdf => resp.body
            case other =>
              throw new UnsupportedOperationException(
                s"Unsupported content type: $other")
          }

          // C7/C8: content-hash key — idempotent under task retries
          val hash = md5Hex(pdfBytes)
          val fileName =
            FileNames.createFileNameForUpload(hash, slug, ".pdf", s3Prefix)

          // K1: store blob at {documentRoot}/navigator/{fileName};
          // the reported cdn_object is the key WITHOUT the navigator/
          // prefix (reference api_client.py:168-177)
          val cleanName = fileName.dropWhile(_ == '/')
          Fetcher.withRetry(4) {
            Storage.writeBytes(s"$documentRoot/navigator/$cleanName",
              pdfBytes, conf)
          }
          JsonLog.info("new_document_actions",
            s"Uploaded content for '${doc.import_id}'",
            "document_id" -> doc.import_id)
          Processed(doc, Some(cleanName), Some(hash), Some(contentType), None)
      }
    } catch {
      case e: Exception =>
        JsonLog.error("new_document_actions",
          s"Ingest failed for '${doc.import_id}': " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}",
          "document_id" -> doc.import_id)
        Processed(doc, None, None, None,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  /** Documents each task keeps in flight. Fetches and storage writes of
    * up to `InFlight` documents overlap; conversions still run one at a
    * time per task, so a task keeps to the one core Spark schedules it
    * on. Each in-flight document holds its fetched body and converted
    * PDF, so a task holds at most `InFlight` bodies in memory.
    */
  val InFlight = 8

  /** The distributed stage: one fetcher/converter per partition. Each
    * document is fetched, converted and stored by [[processOne]], then,
    * if it succeeded, its parser input is written (K2) — the reference's
    * per-future write (`main.py:216-220`). Rows come out in input order.
    */
  def process(
      newDocs: Dataset[BackendDocument],
      documentRoot: String,
      parserInputLocation: String,
      fetcher: Fetcher,
      converter: Converter,
      runTs: Instant,
      conf: SerializableConf): Dataset[Processed] = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    newDocs.mapPartitions { docs =>
      val c = conf.value
      val oneConversion = new OneConversionAtATime(converter)
      pipelined(docs, InFlight) { doc =>
        val p = processOne(doc, documentRoot, fetcher, oneConversion, runTs, c)
        if (p.error.isEmpty) writeParserInput(p, parserInputLocation, c)
        p
      }
    }
  }

  /** Phase-2 pipeline over a control DataFrame, shared by the batch job
    * and the streaming foreachBatch, as ONE Spark action: explode →
    * repartition (the control file is ONE json file → one input
    * partition; without this every fetch runs serially in a single task
    * — the shuffle moves only document metadata) → effectful fetch stage
    * with its parser-input writes → the report rows. Returns the
    * per-document outcomes.
    */
  def ingestBatch(
      control: org.apache.spark.sql.DataFrame,
      cfg: graft.model.Schemas.UpdateConfig,
      fetcher: Fetcher,
      converter: Converter,
      runTs: Instant,
      conf: SerializableConf): Seq[Schemas.IngestResult] = {
    val spark = control.sparkSession
    import spark.implicits._
    val newDocs = ControlFile.newDocuments(control).as[BackendDocument]
      .repartition(spark.sparkContext.defaultParallelism)
    // scale-safe report: project to the three report fields BEFORE the
    // driver collect — the full Processed row (whole BackendDocument
    // struct) never leaves the executors; at 10^8 docs the driver holds
    // ~3 short strings per row, not the document metadata
    process(newDocs, cfg.documentRoot,
      s"${cfg.pipelineRoot}/${cfg.parserInputPrefix}", fetcher, converter,
      runTs, conf)
      .map(p => Schemas.IngestResult(p.doc.import_id, "new", p.error))
      .collect().toSeq
  }

  /** K2: one pretty-printed JSON per document at
    * `{outputLocation}/{document_id}.json`, exact field order
    * (reference `api_client.py:180-193`). A write that still fails after
    * its retries fails the task, as it fails the reference's run.
    */
  private def writeParserInput(
      p: Processed, outputLocation: String, conf: Configuration): Unit = {
    val text = ParserInputJson.render(
      p.doc, p.cdn_object, p.content_type, p.md5_sum)
    Fetcher.withRetry(4) {
      Storage.writeString(s"$outputLocation/${p.doc.import_id}.json", text, conf)
    }
  }

  /** `f` over `in` with up to `width` calls in flight on a pool the
    * current task owns (shut down when the task completes). Only the
    * calling thread pulls from `in`; results come out in input order, and
    * a call's exception is rethrown when its result is reached.
    */
  private def pipelined[A, B](in: Iterator[A], width: Int)(f: A => B): Iterator[B] = {
    val pool = Executors.newFixedThreadPool(width, { (r: Runnable) =>
      val t = new Thread(r, "new-documents-io")
      t.setDaemon(true)
      t
    })
    TaskContext.get().addTaskCompletionListener[Unit](_ => pool.shutdownNow())
    val inFlight = mutable.Queue[Future[B]]()
    def fill(): Unit =
      while (inFlight.size < width && in.hasNext) {
        val a = in.next()
        inFlight.enqueue(pool.submit(new Callable[B] { def call(): B = f(a) }))
      }
    new Iterator[B] {
      override def hasNext: Boolean = { fill(); inFlight.nonEmpty }
      override def next(): B = {
        if (!hasNext) throw new NoSuchElementException
        try inFlight.dequeue().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
    }
  }

  /** Lets one conversion of the task run at a time, whichever in-flight
    * document asks for it.
    */
  private final class OneConversionAtATime(inner: Converter) extends Converter {
    private val gate = new Semaphore(1)
    private def gated[T](body: => T): T = {
      gate.acquire()
      try body finally gate.release()
    }
    override def docToPdf(content: Array[Byte]): Array[Byte] =
      gated(inner.docToPdf(content))
    override def capturePdfFromUrl(url: String): (Array[Byte], Option[String]) =
      gated(inner.capturePdfFromUrl(url))
    override def addLastPageWatermark(pdf: Array[Byte], text: String): Array[Byte] =
      gated(inner.addLastPageWatermark(pdf, text))
  }
}
