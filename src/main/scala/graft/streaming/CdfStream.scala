package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{AtomicPublish, CowTable, FsUtil}

/** Streaming CHANGE DATA FEED consumption — the subscription form of
  * [[CowTable.changesSince]]: `readStream.format("graft-artifact")` with
  * `cow=true, changeFeed=true` turns every committed version into one
  * exactly-once micro-batch of row-level I/U/D changes, so a downstream
  * consumer (replica, search index, feature cache) follows the table
  * with no polling cursor of its own — the checkpoint IS the cursor,
  * and a restart resumes exactly after the last version it applied.
  */
object CdfStream {

  /** The registered check: the cdf-replay history (merge → vector
    * delete → delete where, every version retained) consumed THROUGH the
    * streaming source, folded version by version onto the v0 snapshot.
    * The fold must reproduce the final table bit-for-bit (in-band
    * require against the direct read — same contract as
    * [[CowTable.cdfReplayCheck]]'s batch cursor, now proven for the
    * stream path); the oracle replays the history relationally. */
  def check(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "stream_cdf", dir, "cow_scdf") {
      val base = FsUtil.stateDir("cow_scdf", dir)
      val fs = new Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(base), true) // self-contained
      val v0 = CowTable.create(spark, base, graft.Tables.orders(spark, dir),
        "o_orderkey", numFiles = 8, retain = 8)
      CowTable.merge(spark, base, CowTable.rangeLocalBatch(spark, dir),
        "o_orderkey", retain = 8) // v1: merge
      CowTable.dvDelete(spark, base, col("o_orderkey") % 19 === 7,
        retain = 8) // v2: vector delete
      CowTable.deleteWhere(spark, base, col("o_orderstatus") === "I",
        "o_orderkey", retain = 8) // v3: delete (drops the inserts)

      val tbl = "cdf_feed_" +
        java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
      val ck = java.nio.file.Files.createTempDirectory("graft_cdf_ck").toFile
      ck.deleteOnExit()
      val q = spark.readStream.format("graft-artifact")
        .option("base", base).option("cow", "true")
        .option("changeFeed", "true").option("key", "o_orderkey")
        .option("startVersion", (v0 + 1).toString)
        .load()
        .writeStream.format("memory").queryName(tbl)
        .option("checkpointLocation", ck.getAbsolutePath)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()

      val feed = spark.table(tbl).localCheckpoint()
      var snap = CowTable.readAt(spark, base, v0)
      AtomicPublish.versions(spark, base).filter(_ > v0).foreach { v =>
        val ch = feed.filter(col("_commit_version") === v)
        val ups = ch.filter(col("_change_type") =!= "delete")
          .drop("_change_type", "_commit_version")
        snap = snap
          .join(ch.select(col("o_orderkey")).distinct(),
            Seq("o_orderkey"), "left_anti")
          .unionByName(ups)
      }
      val folded = CowTable.statusAgg(snap).collect().toSeq
      val direct = CowTable.statusAgg(CowTable.read(spark, base))
      require(direct.collect().toSeq == folded,
        "the streamed change feed must reproduce the final snapshot")
      direct
    }

  /** Same relational replay as the batch CDC cursor — the stream carries
    * the identical change set, just delivered as micro-batches. */
  val checkSql: String = CowTable.cdfReplaySql

  /** MUTATING-TABLE CDC FIDELITY — the consumer the table-schema feed's
    * delete guard points users at, proven end-to-end: a cow table
    * mutated through the SQL surface (row-level `UPDATE` → deletion
    * vectors plus a new file, so a key-joined version; `DELETE FROM` →
    * a position delete that only writes vectors, so a deletes-only
    * version served in place; `CALL compact` → layout-only commit) is
    * subscribed with `changeFeed=true` and folded
    * version by version into a REPLICA cow table via [[CowTable.merge]]
    * (delete rows as `_delete`, insert/update post-images as upserts —
    * the stream_cow_merge keyed-state sink pattern; each version slice
    * is an idempotent by-key fold). In-band requires: the UPDATE and
    * DELETE versions each emit change rows, the COMPACTION version
    * emits ZERO (co-located rewritten rows drop out by struct equality
    * — a replica must not churn when only the layout changed), and the
    * folded replica equals the mutating table bit-for-bit. The oracle
    * replays the two row-level statements relationally. */
  def mutateCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "stream_cdc_mutate", dir, "cow_scdm") {
      val base = FsUtil.stateDir("cow_scdm", dir)
      val fs = new Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
      val v0 = CowTable.create(spark, base, orders, "o_orderkey",
        numFiles = 8, retain = 10)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      spark.sql(s"UPDATE graft.`$base` SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey % 5 = 1") // v1: vectors + new rows
      val vUpdate = AtomicPublish.committed(spark, base)
      spark.sql(s"DELETE FROM graft.`$base` " +
        "WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 3") // v2: vectors only
      val vDelete = AtomicPublish.committed(spark, base)
      val live = CowTable.manifest(spark, base)
        .map(e => e.rows - e.dvRows).sum
      spark.sql(s"CALL graft.compact(`table` => '$base', " +
        s"target_rows => ${math.max(1L, live / 4)})") // v3: layout-only
      val vCompact = AtomicPublish.committed(spark, base)
      require(vCompact > vDelete, "compact must commit a version")

      // replica bootstrapped from the v0 snapshot; the feed carries
      // everything after it
      val replica = FsUtil.stateDir("cow_scdm_replica", dir)
      fs.delete(new Path(replica), true)
      CowTable.create(spark, replica, CowTable.readAt(spark, base, v0),
        "o_orderkey", numFiles = 8)

      val perVersion =
        scala.collection.concurrent.TrieMap.empty[Long, Long]
      val ck = java.nio.file.Files.createTempDirectory("graft_scdm_ck").toFile
      ck.deleteOnExit()
      val q = spark.readStream.format("graft-artifact")
        .option("base", base).option("cow", "true")
        .option("changeFeed", "true").option("key", "o_orderkey")
        .option("startVersion", (v0 + 1).toString)
        .load()
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // one micro-batch may span several committed versions: fold
          // them IN ORDER — each slice is an idempotent by-key merge.
          // ONE aggregate yields the version list AND the per-version
          // change counts the in-band requires need (was a distinct()
          // job plus a localCheckpoint + count() pair per version; the
          // per-version merge re-reads its slice straight from the
          // batch's files — pool files or materialized spans — and
          // checkpoints it itself)
          val counts = batch.groupBy("_commit_version").count()
            .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
          counts.foreach { case (v, n) =>
            perVersion(v) = perVersion.getOrElse(v, 0L) + n
            CowTable.merge(spark, replica,
              batch.filter(col("_commit_version") === v)
                .withColumn("_delete", col("_change_type") === "delete")
                .drop("_change_type", "_commit_version"),
              "o_orderkey")
          }
          ()
        }
        .option("checkpointLocation", ck.getAbsolutePath)
        .start()
      try q.processAllAvailable() finally q.stop()

      require(perVersion.getOrElse(vUpdate, 0L) > 0L,
        "the UPDATE version must emit its post-images")
      require(perVersion.getOrElse(vDelete, 0L) > 0L,
        "the DELETE version must emit its delete rows")
      require(perVersion.getOrElse(vCompact, 0L) == 0L,
        "a layout-only compaction must emit ZERO change rows — a replica " +
          "must not churn when only the file layout changed")
      val folded = CowTable.statusAgg(CowTable.read(spark, replica))
        .collect().toSeq
      val direct = CowTable.statusAgg(CowTable.read(spark, base))
      require(direct.collect().toSeq == folded,
        "the folded CDC feed must reproduce the mutating table")
      direct
    }

  /** Replay the UPDATE then the DELETE relationally. */
  val mutateSql: String =
    """WITH final AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 5 = 1
      |              THEN o_totalprice * 2 ELSE o_totalprice
      |         END AS o_totalprice,
      |         o_orderstatus
      |  FROM orders
      |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 3)
      |)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin
}
