package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Driver-side parquet writing for LOCAL relations — the metadata-file
  * discipline every lakehouse format uses (Delta's JSON commits,
  * Iceberg's Avro manifests are written by the committing process, not
  * by a distributed job). [[AtomicPublish.stageDatasets]] stages a cow
  * commit's manifest/meta/txn datasets on every statement; routing a
  * frame that is provably a handful of in-memory rows through
  * `df.write.parquet` costs a full Spark job plus the hadoop output
  * committer's temporary-directory protocol — measured 60–130 ms per
  * dataset at statement cadence, two to three datasets per commit.
  * Writing the same rows with [[ParquetWriteSupport]] (the exact row
  * encoder Spark's own parquet sink uses, so files are byte-compatible
  * with `spark.read.parquet`, including the embedded Spark schema
  * metadata) takes single-digit milliseconds and zero jobs.
  *
  * SCALE BOUND: only frames whose OPTIMIZED plan is already local
  * (LocalRelation, or a Union of them — no scan, no shuffle anywhere
  * below) and small ([[MaxRows]]) take this path; anything distributed
  * keeps the ordinary Spark write. The decision inspects the plan, so
  * no caller can accidentally collect a big frame through the driver.
  */
object LocalParquet {

  private val MaxRows = 65536

  /** The frame's rows if its optimized plan is a tree of local
    * relations (bounded by [[MaxRows]]); None = use a Spark write.
    * Never launches a job. */
  def localRows(df: DataFrame): Option[(StructType, Seq[InternalRow])] = {
    def collect(p: LogicalPlan): Option[Seq[InternalRow]] = p match {
      case l: LocalRelation => Some(l.data)
      case u: Union =>
        u.children.foldLeft(Option(Vector.empty[InternalRow])) {
          (acc, c) => for (a <- acc; r <- collect(c)) yield a ++ r
        }
      case _ => None
    }
    val plan = df.queryExecution.optimizedPlan
    collect(plan).filter(_.size <= MaxRows).map((plan.schema, _))
  }

  /** Write `rows` as one parquet file at `file`, encoded exactly as
    * Spark's parquet sink would (same WriteSupport, same schema
    * metadata, snappy). */
  def write(spark: SparkSession, file: Path, schema: StructType,
            rows: Seq[InternalRow]): Unit = {
    val w = writer(file, schema, writeConf(spark))
    try rows.foreach(w.write) finally w.close()
  }

  /** The session's Hadoop conf plus the keys [[ParquetWriteSupport]]'s
    * `init` asserts on — normally injected by
    * `ParquetFileFormat.prepareWrite`; stated here with the session's
    * effective values. Built on the driver; [[writer]] may run on an
    * executor with it. */
  def writeConf(spark: SparkSession): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    val sc = spark.sessionState.conf
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sc.getConf(SQLConf.PARQUET_WRITE_LEGACY_FORMAT).toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sc.getConf(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE).toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sc.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sc.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf
  }

  /** An open snappy parquet writer of `schema` rows at `file`, with a
    * conf from [[writeConf]]. */
  def writer(file: Path, schema: StructType,
             conf: Configuration): ParquetWriter[InternalRow] = {
    val c = new Configuration(conf)
    ParquetWriteSupport.setSchema(schema, c)
    class B(p: Path) extends ParquetWriter.Builder[InternalRow, B](p) {
      override def self(): B = this
      override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
        new ParquetWriteSupport
    }
    new B(file)
      .withConf(c)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }
}
