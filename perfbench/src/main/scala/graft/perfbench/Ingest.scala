package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ingest.{Converter, Fetcher, IngestJob, JdkHttpFetcher, PdfWatermark}
import graft.model.Schemas.UpdateConfig
import org.apache.spark.sql.SparkSession

/** The benchmark's deterministic stand-in for soffice and Chromium,
  * neither of which the benchmark may assume installed. Conversions emit
  * valid one-page PDFs whose text carries the input, so the program's
  * real [[PdfWatermark]] parses and extends them.
  */
class BenchConverter extends Converter {
  override def docToPdf(content: Array[Byte]): Array[Byte] =
    BenchConverter.pdf(content.grouped(48).map(BenchConverter.hex).toSeq)
  override def capturePdfFromUrl(url: String): (Array[Byte], Option[String]) =
    (BenchConverter.pdf(Iterator.iterate(BenchConverter.md5(url.getBytes(UTF_8)))(
      h => BenchConverter.md5(h.getBytes(UTF_8))).take(120).toSeq), None)
  override def addLastPageWatermark(pdf: Array[Byte], text: String): Array[Byte] =
    PdfWatermark.addLastPageWatermark(pdf, text)
}

object BenchConverter {
  def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString
  def md5(b: Array[Byte]): String = hex(MessageDigest.getInstance("MD5").digest(b))

  /** A one-page PDF (classic xref table) showing `lines`. */
  def pdf(lines: Seq[String]): Array[Byte] = {
    val content = new StringBuilder("BT\n/F1 9 Tf\n11 TL\n36 756 Td\n")
    lines.foreach(l => content.append('(').append(l).append(") Tj T*\n"))
    content.append("ET")
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
      s"<< /Length ${content.length} >>\nstream\n$content\nendstream",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.4\n")
    val offsets = objs.zipWithIndex.map { case (o, i) =>
      val off = out.size()
      w(s"${i + 1} 0 obj\n$o\nendobj\n")
      off
    }
    val xref = out.size()
    w(s"xref\n0 ${objs.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${objs.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }
}

object Perm {
  /** Fisher-Yates shuffle driven by `r`. */
  def shuffle[T](r: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** Shared parts of the two ingest workloads: paths, the job call, the
  * phase attribution of its Spark jobs.
  */
abstract class IngestWorkload extends Workload {
  val mapper = new ObjectMapper()
  val runTs: Instant = Instant.parse("2024-03-01T12:00:00Z")
  val controlName = "new_and_updated_documents.json"
  val inputDir = "input/bench-run"

  def cfg(dir: Path): UpdateConfig = UpdateConfig(
    pipelineRoot = dir.resolve("pipeline").toUri.toString.stripSuffix("/"),
    documentRoot = dir.resolve("cdn").toUri.toString.stripSuffix("/"))

  def pipeline(dir: Path): Path = dir.resolve("pipeline")

  def writeControl(dir: Path, control: ObjectNode): Unit = {
    val p = pipeline(dir).resolve(inputDir).resolve(controlName)
    Files.createDirectories(p.getParent)
    Files.write(p, mapper.writeValueAsBytes(control))
  }

  def fetcher(traced: Boolean): Fetcher
  def converter(traced: Boolean): Converter

  override def run(spark: SparkSession, b: Int, dir: Path, traced: Boolean): Unit =
    IngestJob.run(spark, cfg(dir), inputDir, controlName,
      fetcher(traced), converter(traced), runTs)

  /** The report: document id -> error (None for success). */
  def report(dir: Path): Map[String, Option[String]] = {
    val p = pipeline(dir).resolve(inputDir).resolve("reports/ingest/batch_1.json")
    if (!Files.exists(p)) return Map.empty
    mapper.readTree(p.toFile).elements().asScala.map { r =>
      r.get("document_id").asText() ->
        Option(r.get("error")).filter(!_.isNull).map(_.asText())
    }.toMap
  }

  def readJson(p: Path): Option[JsonNode] =
    if (Files.exists(p)) Some(mapper.readTree(p.toFile)) else None

  def fieldNames(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  /** Attribute jobs to the job's phases by the call site of their SQL
    * execution. The phases run one after another in the calling thread,
    * so a phase's span starts where the previous job ended (its planning
    * belongs to it) and the report phase runs on to the end of
    * `IngestJob.run` (the report file is written after its last job).
    * Jobs of an unknown call site and the time before them stay outside
    * every phase, which the coverage check then shows.
    */
  def phaseOf(desc: String): String =
    if (desc.startsWith("collect at IngestJob.scala")) "updates"
    else if (desc.startsWith("count at NewDocuments.scala")) "new_docs"
    else if (desc.startsWith("foreachPartition at NewDocuments.scala")) "parser_input"
    else if (desc.startsWith("collect at NewDocuments.scala")) "report"
    else "other"

  override def layers(b: Int, dir: Path, jobs: Seq[JobRec], wallS: Double,
      batchSpan: Span, spans: mutable.Buffer[Span]): Map[String, Double] = {
    val archive = pipeline(dir).resolve("archive")
    val archived =
      if (!Files.exists(archive)) 0
      else {
        val s = Files.walk(archive)
        try s.iterator().asScala.count(p =>
          Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        finally s.close()
      }
    val updated = report(dir).keys.count(_.startsWith("BENCHUPD."))
    val ordered = jobs.sortBy(_.start)
    val planStart = ordered.scanLeft(batchSpan.startMs)((t, j) => math.max(t, j.end))
    val byPhase = ordered.zip(planStart).groupBy { case (j, _) => phaseOf(j.desc) }
    val phaseSpans = byPhase.map { case (phase, js) =>
      val end = if (phase == "report") batchSpan.endMs else js.map(_._1.end).max
      val start = if (phase == "other") js.map(_._1.start).min else js.map(_._2).min
      phase -> Span(s"b$b.$phase", s"phase.$phase", start, end, batchSpan.id, b)
    }
    spans ++= phaseSpans.values
    jobs.foreach(j => spans += Span(s"b$b.job${j.id}", j.desc, j.start, j.end,
      s"b$b.${phaseOf(j.desc)}", b))
    val covered = phaseSpans.values.filter(_.name != "phase.other")
      .map(s => s.endMs - s.startMs).sum
    val phaseS = Seq("updates", "new_docs", "parser_input", "report").map { p =>
      s"phase.${p}_s" ->
        phaseSpans.get(p).map(s => (s.endMs - s.startMs) / 1e3).getOrElse(0.0)
    }
    JobStats(jobs, wallS, Main.Slots, "spark") ++ phaseS ++ Map(
      "updates.docs" -> updated.toDouble,
      "updates.archived_files" -> archived.toDouble,
      "trace.phase_coverage" ->
        math.min(1.0, covered / math.max(1.0, (batchSpan.endMs - batchSpan.startMs).toDouble)))
  }
}

/** `ingest-new`: a control file holding only new documents, fetched over
  * loopback HTTP by the production [[JdkHttpFetcher]].
  */
class IngestNew(seed: Long, port: Int, tiny: Boolean) extends IngestWorkload {
  val unitsPerBatch: Int = if (tiny) 24 else 96

  sealed trait Kind
  case class Body(ext: String, size: Int, contentType: String) extends Kind
  case object InvalidUrl extends Kind
  case object Unsupported extends Kind
  case object NoUrl extends Kind
  case class Doc(id: String, name: String, geography: String, year: Int,
      kind: Kind)

  private val geos = Vector("GBR", "USA", "IDN", "BRA", "IND", "ZAF", "DEU")
  private val words = Vector("climate", "policy", "energy", "transport",
    "adaptation", "finance", "forest", "water", "carbon", "strategy")

  /** Batch `b`'s documents and control file; the same seed and batch
    * always give the same bytes. Every batch has the same make-up (about
    * 80 % PDF, 10 % DOCX, 10 % HTML, 2 % planted contract rows) and the
    * same spread of body sizes, drawn per size stratum; the seed picks
    * the order, the exact sizes and the bytes.
    */
  def generate(b: Int): (Seq[Doc], ObjectNode) = {
    val r = new SplittableRandom(seed * 1000003L + b * 7919L + 17L)
    val n = unitsPerBatch
    val planted = math.max(1, math.round(0.02 * n).toInt)
    val pdfs = math.round(0.8 * (n - planted)).toInt
    val docxs = math.round(0.1 * (n - planted)).toInt
    val htmls = n - planted - pdfs - docxs
    def stratified(count: Int, lo: Int, hi: Int, ext: String, ct: String) =
      (0 until count).map(k => Body(ext, lo + ((k + r.nextDouble()) / count * (hi - lo)).toInt, ct))
    val kinds: Seq[Kind] = Perm.shuffle(r,
      (0 until planted).map(k => Vector(InvalidUrl, Unsupported, NoUrl)((b.abs + k) % 3)) ++
        stratified(pdfs, 16384, 256 * 1024, "pdf", "application/pdf") ++
        stratified(docxs, 8192, 64 * 1024, "docx",
          "application/vnd.openxmlformats-officedocument.wordprocessingml.document") ++
        stratified(htmls, 4096, 32 * 1024, "html", "text/html"))
    val control = mapper.createObjectNode()
    val arr = control.putArray("new_documents")
    control.putObject("updated_documents")
    val docs = kinds.zipWithIndex.map { case (kind, i) =>
      val id = s"BENCH.executive.$b.$i"
      // warm-up batches are numbered -1, -2, ...: name them w1, w2, ...
      val label = if (b < 0) s"w${-b}" else b.toString
      val name = s"Bench document $label $i ${words(r.nextInt(words.size))}"
      val geo = geos(r.nextInt(geos.size))
      val year = 2000 + r.nextInt(24)
      val key = r.nextLong() & Long.MaxValue
      def url(ext: String, size: Int) = s"http://127.0.0.1:$port/doc/$key-$size.$ext"
      val (source, download) = kind match {
        case InvalidUrl => (Some(s"htp:/invalid url $key"), Some(url("pdf", 1024)))
        case Unsupported => (Some(s"https://publisher.example/$key.png"), Some(url("png", 2048)))
        case NoUrl => (None, None)
        case body: Body =>
          (Some(s"https://publisher.example/$key.${body.ext}"), Some(url(body.ext, body.size)))
      }
      val d = arr.addObject()
      d.put("publication_ts", f"$year-0${1 + r.nextInt(9)}-1${r.nextInt(10)}T00:00:00")
      d.put("name", name)
      d.put("description", s"Generated benchmark document $i of batch $b")
      source.fold(d.putNull("source_url"))(d.put("source_url", _))
      download.fold(d.putNull("download_url"))(d.put("download_url", _))
      d.putNull("url")
      d.putNull("md5_sum")
      d.put("type", "Law")
      d.put("source", "BENCH")
      d.put("import_id", id)
      d.put("family_import_id", s"BENCH.family.$b.$i")
      d.put("category", "Law")
      d.put("geography", geo)
      d.putArray("languages").add("en")
      val m = d.putObject("metadata")
      Seq("hazards", "frameworks", "instruments", "keywords", "sectors", "topics")
        .foreach { k =>
          val a = m.putArray(k)
          if (k == "keywords") a.add("bench")
        }
      d.put("slug", s"bench-document-$b-$i")
      d.put("family_slug", s"bench-family-$b-$i")
      Doc(id, name, geo, year, kind)
    }
    (docs, control)
  }

  private val batchDocs = mutable.HashMap[Int, Seq[Doc]]()

  override def prepare(spark: SparkSession, b: Int, dir: Path): Unit = {
    val (docs, control) = generate(b)
    batchDocs(b) = docs
    writeControl(dir, control)
  }

  override def fetcher(traced: Boolean): Fetcher =
    if (traced) new TimedFetcher(new JdkHttpFetcher()) else new JdkHttpFetcher()
  override def converter(traced: Boolean): Converter =
    if (traced) new TimedConverter(new BenchConverter) else new BenchConverter

  private val refOrder = Seq("document_id", "document_name",
    "document_description", "document_source_url", "document_cdn_object",
    "document_content_type", "document_md5_sum", "document_slug",
    "document_metadata", "pipeline_metadata")

  override def verify(spark: SparkSession, b: Int, dir: Path): Seq[String] = {
    val rep = report(dir)
    val docs = batchDocs.remove(b).getOrElse(Nil)
    val parserDir = pipeline(dir).resolve("parser_input")
    val fails = docs.flatMap { d =>
      val parser = readJson(parserDir.resolve(s"${d.id}.json"))
      def problem: Option[String] = rep.get(d.id) match {
        case None => Some("no report row")
        case Some(err) => d.kind match {
          case InvalidUrl =>
            if (!err.exists(_.startsWith("IllegalArgumentException: Invalid source_url")))
              Some(s"expected an invalid-URL error, got $err")
            else if (parser.isDefined) Some("parser input written for an error row")
            else None
          case Unsupported =>
            if (!err.exists(_.startsWith(
                "UnsupportedOperationException: Unsupported content type: image/png")))
              Some(s"expected an unsupported-type error, got $err")
            else if (parser.isDefined) Some("parser input written for an error row")
            else None
          case NoUrl =>
            if (err.isDefined) Some(s"skip row reported error $err")
            else parser match {
              case None => Some("no parser input for a skipped row")
              case Some(p) if !p.get("document_cdn_object").isNull =>
                Some("skipped row has a CDN object")
              case _ => None
            }
          case body: Body =>
            if (err.isDefined) Some(s"unexpected error $err")
            else parser match {
              case None => Some("no parser input")
              case Some(p) => checkStored(d, body, p, dir)
            }
        }
      }
      problem.map(m => s"${d.id}: $m")
    }
    val extra = rep.keySet -- docs.map(_.id)
    fails ++ extra.toSeq.map(id => s"$id: report row for an unknown document")
  }

  private def checkStored(d: Doc, body: Body, p: JsonNode, dir: Path): Option[String] = {
    val slug = d.name.toLowerCase.replace(' ', '-')
    val md5 = p.get("document_md5_sum").asText()
    val key = p.get("document_cdn_object").asText()
    val stored = dir.resolve("cdn/navigator").resolve(key)
    if (fieldNames(p) != refOrder) Some(s"parser input fields ${fieldNames(p)}")
    else if (p.get("document_id").asText() != d.id) Some("parser input for another id")
    else if (key != s"${d.geography}/${d.year}/${slug}_$md5.pdf")
      Some(s"CDN key $key does not follow <geography>/<year>/<slug>_<md5>.pdf")
    else if (p.get("document_content_type").asText() != body.contentType)
      Some(s"content type ${p.get("document_content_type")}")
    else if (!Files.exists(stored)) Some(s"no stored file $key")
    else {
      val bytes = Files.readAllBytes(stored)
      if (BenchConverter.md5(bytes) != md5) Some("stored bytes do not match the md5")
      else if (body.ext == "pdf" && bytes.length != body.size)
        Some(s"stored ${bytes.length} bytes, served ${body.size}")
      else if (!new String(bytes, 0, 5, ISO_8859_1).startsWith("%PDF-"))
        Some("stored file is not a PDF")
      else None
    }
  }

  /** The loopback server's own counters, for the fetch layer. */
  override def externalCounters(): Map[String, Double] = {
    val client = java.net.http.HttpClient.newHttpClient()
    val resp = client.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port/__stats")).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    val n = mapper.readTree(resp.body())
    n.fieldNames().asScala.map(k => s"server.$k" -> n.get(k).asDouble()).toMap
  }
}

/** `ingest-updates`: a control file holding only updates, over a freshly
  * seeded cache. Updates cycle through the four dispatch families
  * (slug+name, description+metadata, source_url -> parse, reparse);
  * about 2 % are planted contract rows: an unknown update type (a row
  * error) and a missing field (an action error that is only logged).
  */
class IngestUpdates(seed: Long, tiny: Boolean) extends IngestWorkload {
  val unitsPerBatch: Int = if (tiny) 24 else 128
  override def warmupBatches: Int = 5

  // families 0-3 as graft.Soak cycles them; 4 = unknown type, 5 = missing field
  case class Upd(id: String, family: Int, tag: String)

  private val archiveTs = "2024-03-01-12-00-00"
  private val prefixes = Seq("parser_input", "embeddings_input", "indexer_input")

  /** Every batch holds the four families in equal shares plus one row of
    * each planted kind; the seed picks the order and the values.
    */
  def generate(b: Int): Seq[Upd] = {
    val r = new SplittableRandom(seed * 1000003L + b * 7919L + 29L)
    val families = Perm.shuffle(r, Seq(4, 5) ++ (0 until unitsPerBatch - 2).map(_ % 4))
    families.zipWithIndex.map { case (family, i) =>
      Upd(s"BENCHUPD.executive.$b.$i", family, java.lang.Long.toHexString(r.nextLong()))
    }
  }

  private def cached(u: Upd): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("document_id", u.id)
    o.put("document_name", s"Cached name ${u.tag}")
    if (u.family != 5) o.put("document_description", s"cached description ${u.tag}")
    o.put("document_source_url", s"https://publisher.example/cached/${u.tag}.pdf")
    o.putObject("document_metadata").putArray("keywords").add("bench")
    o.put("document_slug", s"cached-slug-${u.tag}")
    o.put("document_content_type", "application/pdf")
    o
  }

  private def actions(u: Upd): String = {
    val t = u.tag
    u.family match {
      case 0 =>
        s"""[{"type": "slug", "s3_value": "cached-slug-$t", "db_value": "new-slug-$t"},
           |{"type": "name", "s3_value": "Cached name $t", "db_value": "New name $t"}]"""
      case 1 =>
        s"""[{"type": "description", "s3_value": "cached description $t",
           |"db_value": "new description $t"},
           |{"type": "metadata", "s3_value": {"keywords": ["bench"]},
           |"db_value": {"keywords": ["bench", "$t"]}}]"""
      case 2 =>
        s"""[{"type": "source_url", "s3_value": "https://publisher.example/cached/$t.pdf",
           |"db_value": "https://publisher.example/moved/$t.pdf"}]"""
      case 3 => """[{"type": "reparse", "s3_value": null, "db_value": null}]"""
      case 4 => s"""[{"type": "bogus_field", "s3_value": "a", "db_value": "$t"}]"""
      case _ =>
        s"""[{"type": "description", "s3_value": "cached description $t",
           |"db_value": "new description $t"}]"""
    }
  }.stripMargin.replace("\n", " ")

  private val batchUpds = mutable.HashMap[Int, Seq[Upd]]()

  override def prepare(spark: SparkSession, b: Int, dir: Path): Unit = {
    val upds = generate(b)
    batchUpds(b) = upds
    val pipe = pipeline(dir)
    prefixes.foreach(p => Files.createDirectories(pipe.resolve(p)))
    upds.foreach { u =>
      val json = mapper.writeValueAsBytes(cached(u))
      prefixes.foreach(p => Files.write(pipe.resolve(p).resolve(s"${u.id}.json"), json))
      Files.write(pipe.resolve("indexer_input").resolve(s"${u.id}.npy"),
        Array.fill[Byte](128)(u.family.toByte))
    }
    val control = mapper.readTree("{\"new_documents\": [], \"updated_documents\": {" +
      upds.map(u => "\"" + u.id + "\": " + actions(u)).mkString(", ") + "}}")
    writeControl(dir, control.asInstanceOf[ObjectNode])
  }

  override def fetcher(traced: Boolean): Fetcher = new FailingFetcher
  override def converter(traced: Boolean): Converter = new FailingConverter

  private def live(p: String, id: String, suffix: String) = s"$p/$id.$suffix"
  private def archived(p: String, id: String, suffix: String) =
    s"archive/$p/$id/$archiveTs.$suffix"

  /** Files a document leaves behind, relative to the pipeline root. */
  private def expectedFiles(u: Upd): Set[String] = {
    val id = u.id
    val indexerArchived = Set(archived("indexer_input", id, "json"),
      archived("indexer_input", id, "npy"))
    u.family match {
      case 0 | 1 | 5 =>
        Set(live("parser_input", id, "json"), live("embeddings_input", id, "json")) ++
          indexerArchived
      case 2 =>
        prefixes.map(archived(_, id, "json")).toSet + archived("indexer_input", id, "npy")
      case 3 =>
        Set(live("parser_input", id, "json"), archived("embeddings_input", id, "json")) ++
          indexerArchived
      case _ =>
        prefixes.map(live(_, id, "json")).toSet + live("indexer_input", id, "npy")
    }
  }

  /** The parser/embeddings JSON an update should leave. */
  private def edited(u: Upd): ObjectNode = {
    val o = cached(u)
    val t = u.tag
    u.family match {
      case 0 =>
        o.put("document_slug", s"new-slug-$t")
        o.put("document_name", s"New name $t")
      case 1 =>
        o.put("document_description", s"new description $t")
        o.putObject("document_metadata").putArray("keywords").add("bench").add(t)
      case _ =>
    }
    o
  }

  override def verify(spark: SparkSession, b: Int, dir: Path): Seq[String] = {
    val rep = report(dir)
    val upds = batchUpds.remove(b).getOrElse(Nil)
    val pipe = pipeline(dir)
    val actual: Map[String, Set[String]] = {
      val s = Files.walk(pipe)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => pipe.relativize(p).toString.replace('\\', '/'))
        .filter(p => !p.startsWith("input/") && !p.endsWith(".crc"))
        .toSeq.groupBy { p =>
          val name = p.split('/')
          if (p.startsWith("archive/")) name(2) else name.last.replaceAll("\\.(json|npy)$", "")
        }.map { case (k, v) => k -> v.toSet }
      finally s.close()
    }
    val fails = upds.flatMap { u =>
      val err = rep.get(u.id)
      def problem: Option[String] =
        if (err.isEmpty) Some("no report row")
        else if (u.family == 4 && !err.get.exists(_.contains("'bogus_field' is not a valid")))
          Some(s"expected an unknown-type error, got ${err.get}")
        else if (u.family != 4 && err.get.isDefined) Some(s"unexpected error ${err.get}")
        else if (actual.getOrElse(u.id, Set.empty) != expectedFiles(u))
          Some(s"files ${actual.getOrElse(u.id, Set.empty).toSeq.sorted}")
        else {
          val want = u.family match {
            case 0 | 1 => edited(u)
            case _ => cached(u)
          }
          Seq("parser_input", "embeddings_input")
            .map(p => pipe.resolve(live(p, u.id, "json")))
            .filter(Files.exists(_))
            .flatMap(p => readJson(p))
            .collectFirst {
              case n if n != want || fieldNames(n) != fieldNames(want) =>
                s"edited JSON $n"
            }
        }
      problem.map(m => s"${u.id}: $m")
    }
    val extra = rep.keySet -- upds.map(_.id)
    fails ++ extra.toSeq.map(id => s"$id: report row for an unknown document")
  }
}
