package perfbench

import java.io.{FilterOutputStream, OutputStream}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{SparkContext, TaskContext}

/** The local file system with per-span, per-job-description call counts.
  * A traced run installs it as `fs.file.impl`; counting is on only while a
  * traced operation runs, so untraced operations pay one volatile read per
  * call. A call is charged to the innermost open harness span and to the
  * Spark job description of the calling thread (the pipeline runner labels
  * its phases that way). */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val k = count(Read)
    if (k != null) noteOpen(k, f)
    super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val k = count(Write)
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    if (k == null) out
    else {
      if (f.getName.endsWith(".parquet")) counter(k, FilesWritten).incrementAndGet()
      new FSDataOutputStream(new Counted(out, counter(k, BytesWritten)), null)
    }
  }

  override def rename(src: Path, dst: Path): Boolean = {
    count(Write); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    count(Write); super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count(Write); super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    count(List); super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    count(Read); super.getFileStatus(f)
  }
}

object CountingFs {
  val Read = "read_ops"
  val Write = "write_ops"
  val List = "list_ops"
  val BytesWritten = "bytes_written"
  val FilesWritten = "files_written"

  @volatile var enabled = false
  @volatile var sc: SparkContext = _

  private val counters = new ConcurrentHashMap[(Int, String, String), AtomicLong]()
  private val opened = new ConcurrentHashMap[Int, java.util.Set[String]]()

  private final class Counted(out: OutputStream, n: AtomicLong) extends FilterOutputStream(out) {
    override def write(b: Int): Unit = { out.write(b); n.incrementAndGet() }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); n.addAndGet(len.toLong)
    }
  }

  private def counter(k: (Int, String), metric: String): AtomicLong =
    counters.computeIfAbsent((k._1, k._2, metric), _ => new AtomicLong(0L))

  /** Charge one call; returns the (span, description) key, null when off. */
  private def count(metric: String): (Int, String) = {
    if (!enabled) return null
    val span = Spans.current
    val desc = Option(TaskContext.get())
      .flatMap(t => Option(t.getLocalProperty("spark.job.description")))
      .orElse(Option(sc).flatMap(c => Option(c.getLocalProperty("spark.job.description"))))
      .getOrElse("")
    val k = (span, desc)
    counter(k, metric).incrementAndGet()
    k
  }

  /** Cow data files live under `<table>/files/`; the distinct ones a span
    * opens are the files its scans read. */
  private def noteOpen(k: (Int, String), f: Path): Unit =
    if (f.getName.endsWith(".parquet") && f.getParent != null &&
        f.getParent.getName == "files")
      opened.computeIfAbsent(k._1, _ => ConcurrentHashMap.newKeySet[String]())
        .add(f.toString)

  def records: Map[String, Any] = Map(
    "counts" -> counters.asScala.toSeq.map { case ((span, desc, metric), n) =>
      Map("span" -> span, "desc" -> desc, "metric" -> metric, "n" -> n.get)
    },
    "data_files_opened" -> opened.asScala.map { case (span, s) =>
      span.toString -> s.size
    })
}
