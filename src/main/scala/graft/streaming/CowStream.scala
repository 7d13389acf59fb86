package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.{AtomicPublish, CowTable, FsUtil}

/** Exactly-once Structured Streaming MERGE into the cow table
  * — the lakehouse "stream upsert" pattern: foreachBatch folds each
  * micro-batch's per-key delta into the committed row set with
  * [[CowTable.exactlyOnceMerge]], whose (stream, batchId) txn stamp
  * turns checkpoint replays into no-ops. Contrast with
  * [[EventStream.upsertCheck]]'s bespoke versioned sink: here the sink
  * is the general row-level table — the same snapshot serves batch
  * readers, time travel and the change feed — and idempotence is a
  * property of the COMMIT, not of the sink's private protocol.
  *
  * Scale shape per batch: one map-side batch aggregate, one
  * manifest-pruned read of the current rows for the touched keys, and a
  * merge that deletes the replaced rows by position and writes the
  * upserts as one new file. State lives
  * in the table itself — nothing accumulates in executor memory.
  */
object CowStream {

  private val StreamId = "cow_upsert"

  /** Fold one micro-batch: the per-user delta (COUNT + an exact decimal
    * value sum, associative across any batch slicing) is added to the
    * CURRENT committed row for those users and MERGEd back under the
    * batch's txn stamp. */
  private[graft] def foldBatch(spark: SparkSession, base: String,
                               batch: DataFrame, batchId: Long): Unit = {
    val delta = batch.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("total_value"))
    val upserts =
      if (!AtomicPublish.exists(spark, base)) delta
      else {
        // manifest-pruned: only the files whose key range intersects the
        // batch's users are scanned, not the table
        val cur = CowTable.readForKeys(spark, base,
            delta.select("user_id"), "user_id")
          .select(col("user_id"), col("n_events").as("_pn"),
            col("total_value").as("_pt"))
        delta.join(cur, Seq("user_id"), "left")
          .select(col("user_id"),
            (col("n_events") + coalesce(col("_pn"), lit(0L))).as("n_events"),
            (col("total_value") +
              coalesce(col("_pt"), lit(0).cast("decimal(18,2)")))
              .cast("decimal(18,2)").as("total_value"))
      }
    CowTable.exactlyOnceMerge(spark, base, upserts, "user_id",
      StreamId, batchId)
    ()
  }

  /** The registered check: stream the incremental events input one file
    * per trigger into the table, then REPLAY the final batch verbatim —
    * the committed version must not move (the txn stamp detects it) —
    * and the final snapshot must equal the whole-input aggregate no
    * matter how the stream was sliced into batches. */
  def mergeCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "stream_cow_merge", dir, "cow_stream") {
      val base = FsUtil.stateDir("cow_stream", dir)
      val fs = new Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(base), true) // self-contained
      val in = EventStream.incrementalInput(spark, dir)
      val ck = java.nio.file.Files
        .createTempDirectory("graft_cow_stream_ck").toFile
      ck.deleteOnExit()
      val q = spark.readStream.schema(EventStream.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          foldBatch(spark, base, batch, batchId)
        }
        .option("checkpointLocation", ck.getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      // exactly-once proof: re-apply the last batch under its own stamp
      val vBefore = AtomicPublish.committed(spark, base)
      val lastId = CowTable.lastTxn(spark, base, StreamId)
      require(lastId >= 0, "stream committed no batches")
      val inFs = new Path(in).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val lastFile = inFs.listStatus(new Path(in))
        .sortBy(_.getModificationTime).last.getPath
      foldBatch(spark, base,
        spark.read.schema(EventStream.schema).parquet(lastFile.toString), lastId)
      require(AtomicPublish.committed(spark, base) == vBefore,
        "replayed batch must not commit a new version")

      CowTable.read(spark, base)
        .select(col("user_id"), col("n_events"),
          col("total_value").cast("double").as("total_value"))
    }

  /** The whole-input aggregate: batch-slicing-independent because the
    * per-batch fold is associative (counts add; decimal sums are exact). */
  val mergeCheckSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1""".stripMargin
}
