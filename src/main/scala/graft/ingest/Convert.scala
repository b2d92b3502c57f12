package graft.ingest

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.Locale

/** Content normalization to PDF (reference `base/pdf_conversion.py`).
  *
  * An interface because the real implementations are heavyweight external
  * processes — LibreOffice for DOC(X) (`pdf_conversion.py:17-54`), headless
  * Chromium for HTML capture (`pdf_conversion.py:57-106`), a PDF library
  * for the watermark page (`pdf_conversion.py:125-160`). The engine's
  * dataflow (content-type dispatch, per-partition effect isolation,
  * watermarking order) is identical whichever converter is plugged in;
  * tests and this container use the deterministic [[StubConverter]]. A
  * production deployment supplies an adapter wrapping `soffice` /
  * Chromium / PDFBox on the executor image (reference `Dockerfile:3-6`).
  *
  * Calls can run from several threads at once: a task runs one conversion
  * at a time, but from whichever of its I/O threads holds the document,
  * and the tasks of an executor convert concurrently. Implementations
  * must keep no unsynchronized shared mutable state.
  */
trait Converter extends Serializable {
  /** DOC/DOCX bytes → PDF bytes (reference `convert_doc_to_pdf`). */
  def docToPdf(content: Array[Byte]): Array[Byte]

  /** Load `url` in a browser and print to PDF; returns (pdf bytes,
    * detected content type if any) (reference
    * `capture_pdf_and_get_content_type_from_url`).
    */
  def capturePdfFromUrl(url: String): (Array[Byte], Option[String])

  /** Append a last-page watermark to a PDF (reference
    * `add_last_page_watermark`).
    */
  def addLastPageWatermark(pdf: Array[Byte], text: String): Array[Byte]
}

object Converter {
  /** Provenance watermark text (reference `generate_watermark_text`,
    * `pdf_conversion.py:109-122`): source URL + creation date. The
    * timestamp is a per-run constant passed down from the driver
    * (determinism under task retries — SURVEY.md §4.2).
    */
  def watermarkText(sourceUrl: String, runTs: Instant): String = {
    // reference strftime "%d %B %Y" — zero-padded day, full month name
    val date = DateTimeFormatter.ofPattern("dd MMMM yyyy", Locale.ENGLISH)
      .withZone(ZoneOffset.UTC).format(runTs)
    s"Original publicly accessible source: $sourceUrl.\n\n" +
      "This PDF was created by Climate Policy Radar " +
      s"(climatepolicyradar.org) on $date.\n\n" +
      "For non-commercial use only. Reach out to us at " +
      "support@climatepolicyradar.org if you have any enquiries."
  }
}

/** Production converter: LibreOffice for DOC(X)→PDF (the reference's
  * `convert_doc_to_pdf`, `pdf_conversion.py:17-54` — same `soffice
  * --headless --convert-to pdf` invocation, same per-call temp "worker"
  * directory for thread/task safety), headless Chromium for URL→PDF
  * capture (the process-level equivalent of the reference's Playwright
  * drive, `pdf_conversion.py:57-106`), and the hand-rolled
  * [[PdfWatermark]] appender for the last-page watermark
  * (`pdf_conversion.py:125-160`).
  *
  * Instantiate only where the binaries exist on the executor image
  * (reference `Dockerfile:3-6` installs libreoffice + playwright deps);
  * [[ProcessConverter.available]] probes for them, and [[IngestMain]]
  * falls back to [[StubConverter]] when absent — which keeps this
  * container's tests hermetic (zero egress, no office suite). Thread-safe:
  * it keeps no state, and every call works in its own temp directory.
  */
class ProcessConverter(
    sofficeBin: String = "soffice",
    chromiumBin: String = "chromium") extends Converter {
  import scala.sys.process._

  override def docToPdf(content: Array[Byte]): Array[Byte] = {
    // unique worker dir per call: soffice derives the output name from
    // the input name, so concurrent tasks must not share a directory
    val dir = java.nio.file.Files.createTempDirectory("worker_")
    try {
      val in = dir.resolve("doc.docx")
      java.nio.file.Files.write(in, content)
      val err = new StringBuilder
      // -env:UserInstallation: concurrent executor tasks must NOT share
      // the default LibreOffice profile — its lock makes the second
      // instance exit (sometimes rc 0 with no output). A per-call profile
      // under the worker dir makes invocations truly independent.
      val rc = Seq(sofficeBin, "--headless",
        s"-env:UserInstallation=file://$dir/profile",
        "--convert-to", "pdf",
        "--outdir", dir.toString, in.toString)
        .!(ProcessLogger(_ => (), l => err.append(l).append('\n')))
      if (rc != 0)
        throw new RuntimeException(s"Conversion failed: $err")
      java.nio.file.Files.readAllBytes(dir.resolve("doc.pdf"))
    } finally deleteRecursively(dir)
  }

  override def capturePdfFromUrl(url: String): (Array[Byte], Option[String]) = {
    val dir = java.nio.file.Files.createTempDirectory("capture_")
    try {
      val out = dir.resolve("page.pdf")
      val err = new StringBuilder
      // per-call --user-data-dir for the same reason as the soffice
      // profile: the default profile dir is locked by the first instance
      val rc = Seq(chromiumBin, "--headless", "--disable-gpu", "--no-sandbox",
        s"--user-data-dir=$dir/profile",
        s"--print-to-pdf=$out", "--print-to-pdf-no-header", url)
        .!(ProcessLogger(_ => (), l => err.append(l).append('\n')))
      if (rc != 0)
        throw new RuntimeException(s"Capture failed for $url: $err")
      // the CLI drive exposes no response headers; content type unknown
      (java.nio.file.Files.readAllBytes(out), None)
    } finally deleteRecursively(dir)
  }

  private def deleteRecursively(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    // deepest-first so the per-call profile subtree goes too
    java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  override def addLastPageWatermark(pdf: Array[Byte], text: String): Array[Byte] =
    PdfWatermark.addLastPageWatermark(pdf, text)
}

object ProcessConverter {
  /** True when `bin` resolves on PATH (executor-image probe). */
  def available(bin: String): Boolean =
    sys.env.getOrElse("PATH", "").split(java.io.File.pathSeparator)
      .exists(p => java.nio.file.Files.isExecutable(
        java.nio.file.Paths.get(p, bin)))
}

/** Deterministic stand-in converter: produces valid-looking, stable PDF
  * bytes derived from the input so content hashes are reproducible.
  * Clearly a STUB — the real adapters shell out to soffice/Chromium
  * ([[ProcessConverter]]). Thread-safe: it keeps no state.
  */
class StubConverter extends Converter {

  private def fakePdf(tag: String, payload: Array[Byte]): Array[Byte] = {
    val head = s"%PDF-1.4\n% graft-stub:$tag\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tail = "\n%%EOF\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    head ++ payload ++ tail
  }

  override def docToPdf(content: Array[Byte]): Array[Byte] =
    fakePdf("doc2pdf", content)

  // Real browser captures embed creation timestamps, so every capture is
  // byte-unique even for the same URL; a per-call UUID reproduces that
  // property GLOBALLY (a plain counter restarts in every deserialized
  // task copy and collides across partitions — the reference's
  // integration counts depend on uniqueness).
  override def capturePdfFromUrl(url: String): (Array[Byte], Option[String]) =
    (fakePdf(s"capture:${java.util.UUID.randomUUID()}",
      url.getBytes(java.nio.charset.StandardCharsets.UTF_8)), None)

  override def addLastPageWatermark(pdf: Array[Byte], text: String): Array[Byte] =
    pdf ++ s"\n% watermark: ${text.replace("\n", " ")}\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
}
