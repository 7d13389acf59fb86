package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Filesystem helpers shared by the writers. */
object FsUtil {

  /** Collision-free per-data-directory state location. The previous
    * scheme keyed on `dir.hashCode` (32 bits, and Java string hashes
    * collide trivially), so two different data directories could
    * silently share — and clobber — each other's committed state. The
    * key is now the sanitized absolute path (readable in /tmp listings)
    * plus an 8-hex-digit SHA-256 prefix of the raw path, so sanitizing
    * can't re-introduce a collision ("a/b" vs "a_b").
    */
  def stateDir(family: String, dir: String): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    val san = abs.replaceAll("[^A-Za-z0-9._-]", "_").replaceAll("^_+", "")
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(abs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    s"/tmp/graft_$family/$san-$h"
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** Exact row count of a parquet directory tree from the file FOOTERS,
    * computed driver-side — zero Spark jobs. A plain `df.count()` over
    * parquet schedules a job whose tasks read the same footer metadata;
    * at statement cadence (the pipeline runner's report phase runs seven
    * of them per invocation) the per-job round-trip is the entire cost.
    * Recurses through partition directories (`k=v/`). Returns None — the
    * caller falls back to the distributed count — when the census
    * exceeds `maxFiles`: a 100k-file table SHOULD count as a job, the
    * driver-side pass is for metadata-sized datasets only (guide §5).
    */
  def footerRows(spark: SparkSession, dirs: Seq[String],
                 maxFiles: Int = 256): Option[Long] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    var budget = maxFiles
    def files(p: Path): Option[Seq[Path]] = {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return Some(Seq.empty)
      val sts = fs.listStatus(p)
      val leaves = scala.collection.mutable.ListBuffer.empty[Path]
      for (st <- sts) {
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (!n.startsWith(".") && !n.startsWith("_"))
            files(st.getPath) match {
              case Some(sub) => leaves ++= sub
              case None => return None
            }
        } else if (n.endsWith(".parquet") && !n.startsWith(".") &&
          !n.startsWith("_")) {
          budget -= 1
          if (budget < 0) return None
          leaves += st.getPath
        }
      }
      Some(leaves.toList)
    }
    try {
      val all = dirs.foldLeft(Option(Seq.empty[Path])) { (acc, d) =>
        acc.flatMap(a => files(new Path(d)).map(a ++ _))
      }
      import scala.jdk.CollectionConverters._
      all.map(_.map { f =>
        val in = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try in.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally in.close()
      }.sum)
    } catch { // unreadable footer etc: let the distributed count report it
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** The Spark schema of parquet file `file`, read driver-side from its
    * footer — the one footer Spark's own schema inference reads for a
    * dataset whose files share a schema, without that inference's job. */
  def footerSchema(spark: SparkSession,
                   file: Path): org.apache.spark.sql.types.StructType = {
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val in = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try ParquetFileFormat.readSchemaFromFooter(new Footer(file, in.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally in.close()
  }

  /** Crash-safe replace for datasets whose content is NOT rebuildable
    * from source (grow-only dims carry id history): write to `<path>.tmp`,
    * swap the old dir to `<path>.bak`, promote tmp, drop the backup. A
    * crash at any step leaves either the old or the new complete dataset
    * recoverable on disk — a plain `mode("overwrite")` deletes the only
    * copy before the new files commit.
    */
  def safeReplace(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + ".tmp")
    val bak = new Path(path + ".bak")
    df.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(p)) fs.rename(p, bak)
    fs.rename(tmp, p)
    fs.delete(bak, true)
  }
}
