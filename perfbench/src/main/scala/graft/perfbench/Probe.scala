package graft.perfbench

import java.io.OutputStream
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import graft.ingest.{Converter, FetchResponse, Fetcher}
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Process-wide layer counters, filled from outside the program: by the
  * wrappers around the injected fetcher and converter, by the timing
  * `file://` file system and by the counting log sink. Everything runs in
  * one JVM (Spark local mode), so executor threads add to the same
  * counters. Counting happens only while `on` is set, i.e. during traced
  * batches.
  */
object Probe {
  @volatile var on = false
  private val counters = new ConcurrentHashMap[String, LongAdder]()

  def add(name: String, v: Long): Unit =
    if (on) counters.computeIfAbsent(name, _ => new LongAdder).add(v)

  def reset(): Unit = counters.clear()

  def snapshot(): Map[String, Long] =
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap

  /** Time `body` as one call of `op` and add its duration to `busy`. */
  def timed[T](op: String, busy: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body
      finally {
        add(op, 1)
        add(busy, System.nanoTime() - t0)
      }
    }

  // file-system calls nest (mkdirs(Path) delegates to mkdirs(Path, perm),
  // exists to getFileStatus): only the outermost call on a thread counts
  private val fsDepth = ThreadLocal.withInitial[Int](() => 0)

  def fsOp[T](op: String)(body: => T): T =
    if (!on || fsDepth.get() > 0) body
    else {
      fsDepth.set(1)
      try timed(s"storage.$op", "storage.busy_ns")(body)
      finally fsDepth.set(0)
    }
}

/** Hadoop's local file system with every namespace call and every write
  * counted and timed; registered as `fs.file.impl` in traced runs.
  * Reads are counted by Hadoop's own per-scheme statistics, not timed.
  */
class TimedLocalFileSystem extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = Probe.fsOp("create") {
    val out = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    if (Probe.on) new FSDataOutputStream(new TimedOutputStream(out), null)
    else out
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    Probe.fsOp("open")(super.open(f, bufferSize))
  override def mkdirs(f: Path): Boolean =
    Probe.fsOp("mkdirs")(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    Probe.fsOp("mkdirs")(super.mkdirs(f, permission))
  override def rename(src: Path, dst: Path): Boolean =
    Probe.fsOp("rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    Probe.fsOp("delete")(super.delete(f, recursive))
  override def exists(f: Path): Boolean =
    Probe.fsOp("exists")(super.exists(f))
}

/** Adds the time spent writing and closing a created file to the
  * storage busy time.
  */
final class TimedOutputStream(out: OutputStream) extends OutputStream {
  private def time[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally Probe.add("storage.busy_ns", System.nanoTime() - t0)
  }
  override def write(b: Int): Unit = time(out.write(b))
  override def write(b: Array[Byte], off: Int, len: Int): Unit =
    time(out.write(b, off, len))
  override def flush(): Unit = time(out.flush())
  override def close(): Unit = time(out.close())
}

/** Counts and times the program's fetches. */
class TimedFetcher(inner: Fetcher) extends Fetcher {
  override def get(url: String): FetchResponse = {
    val r = Probe.timed("fetch.calls", "fetch.busy_ns")(inner.get(url))
    Probe.add("fetch.bytes", r.body.length.toLong)
    r
  }
}

/** Counts and times the program's conversions and watermarking;
  * `convert.busy_ns` holds conversion time, watermarking is kept apart.
  */
class TimedConverter(inner: Converter) extends Converter {
  override def docToPdf(content: Array[Byte]): Array[Byte] =
    Probe.timed("convert.doc_calls", "convert.busy_ns")(inner.docToPdf(content))
  override def capturePdfFromUrl(url: String): (Array[Byte], Option[String]) =
    Probe.timed("convert.capture_calls", "convert.busy_ns")(
      inner.capturePdfFromUrl(url))
  override def addLastPageWatermark(pdf: Array[Byte], text: String): Array[Byte] =
    Probe.timed("convert.watermark_calls", "convert.watermark_busy_ns")(
      inner.addLastPageWatermark(pdf, text))
}

/** Stand-ins for the ingest-updates workload, where new-document work
  * must not happen: any call is an error the output check then reports.
  */
class FailingFetcher extends Fetcher {
  override def get(url: String): FetchResponse =
    throw new IllegalStateException(s"fetch called on an updates-only run: $url")
}

class FailingConverter extends Converter {
  private def fail(): Nothing =
    throw new IllegalStateException("convert called on an updates-only run")
  override def docToPdf(content: Array[Byte]): Array[Byte] = fail()
  override def capturePdfFromUrl(url: String): (Array[Byte], Option[String]) = fail()
  override def addLastPageWatermark(pdf: Array[Byte], text: String): Array[Byte] = fail()
}
