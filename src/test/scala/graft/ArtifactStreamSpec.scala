package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.io.AtomicPublish

/** The `graft-artifact` MICRO-BATCH source: one committed version = one
  * exactly-once batch; offsets are version ids; restart resumes from
  * the checkpoint. */
class ArtifactStreamSpec extends SparkSpec {
  import spark.implicits._

  private def publish(base: String, rows: Seq[(Long, String)],
                      retain: Int = 10): Long =
    AtomicPublish.publish(spark, base,
      Seq("d" -> rows.toDF("id", "tag")), retain)

  test("each committed version is exactly one batch; live commits arrive") {
    val base = Files.createTempDirectory("afeed").toString + "/t"
    publish(base, Seq((1L, "v0a"), (2L, "v0b")))
    publish(base, Seq((3L, "v1a")))

    val q = spark.readStream.format("graft-artifact")
      .option("base", base).option("dataset", "d").load()
      .writeStream.format("memory").queryName("afeed1")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("afeed1").count() === 3L,
        "catch-up must deliver every retained version once")

      publish(base, Seq((4L, "v2a"), (5L, "v2b")))
      q.processAllAvailable()
      val got = spark.table("afeed1")
      assert(got.count() === 5L, "the live commit must arrive exactly once")
      assert(got.filter(col("tag").startsWith("v2")).count() === 2L)
    } finally q.stop()
  }

  test("a crashed writer's orphan version is skipped, never emitted") {
    val base = Files.createTempDirectory("afeed_orph").toString + "/t"
    publish(base, Seq((1L, "v0")))
    // sealed-but-uncommitted debris between two committed versions: the
    // dirty read the commit-marker protocol exists to prevent
    val dir = new java.io.File(s"$base/v1")
    dir.mkdirs()
    Seq((99L, "phantom")).toDF("id", "tag")
      .write.parquet(s"$base/v1/d")
    val w = new java.io.FileWriter(s"$base/v1/_PUBLISHED")
    try w.write("dead-token\nd") finally w.close()
    publish(base, Seq((2L, "v2"))) // commits at v2, collects the orphan

    val q = spark.readStream.format("graft-artifact")
      .option("base", base).option("dataset", "d").load()
      .writeStream.format("memory").queryName("afeed_orph")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("afeed_orph")
      assert(got.count() === 2L, "only committed versions may be emitted")
      assert(got.filter(col("tag") === "phantom").count() === 0L,
        "the orphan's rows were never made visible and must stay so")
    } finally q.stop()
  }

  test("restart from checkpoint resumes after the last processed version") {
    val base = Files.createTempDirectory("afeed_ck").toString + "/t"
    val ckpt = Files.createTempDirectory("afeed_ckpt").toString
    val out = Files.createTempDirectory("afeed_out").toString
    publish(base, Seq((1L, "v0")))
    publish(base, Seq((2L, "v1")))

    def run(): Unit = {
      val q = spark.readStream.format("graft-artifact")
        .option("base", base).option("dataset", "d").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() === 2L)

    publish(base, Seq((3L, "v2")))
    run() // restart against the same checkpoint
    val got = spark.read.parquet(out)
    assert(got.count() === 3L,
      "the restart must emit ONLY the new version — no replays, no gaps")
    assert(got.filter(col("tag") === "v2").count() === 1L)
  }

  test("startVersion skips history") {
    val base = Files.createTempDirectory("afeed_sv").toString + "/t"
    publish(base, Seq((1L, "v0")))
    publish(base, Seq((2L, "v1")))
    publish(base, Seq((3L, "v2")))

    val q = spark.readStream.format("graft-artifact")
      .option("base", base).option("dataset", "d")
      .option("startVersion", "2").load()
      .writeStream.format("memory").queryName("afeed3")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("afeed3")
      assert(got.select("tag").as[String].collect() === Array("v2"))
    } finally q.stop()
  }

  test("every stream reads a `_pos` column as data, not as the row " +
    "position") {
    // a plain artifact dataset
    val art = Files.createTempDirectory("afeed_pos").toString + "/t"
    AtomicPublish.publish(spark, art,
      Seq("d" -> Seq((1L, 70L), (2L, 90L)).toDF("id", "_pos")), 10)
    // a cow table: its table feed and its change feed
    val cow = Files.createTempDirectory("cfeed_pos").toString + "/t"
    val v0 = graft.io.CowTable.create(spark, cow,
      Seq((1L, 70L), (2L, 90L)).toDF("id", "_pos"), "id", numFiles = 1,
      retain = 4)
    graft.io.CowTable.append(spark, cow, Seq((3L, 110L)).toDF("id", "_pos"),
      retain = 4)
    def drain(name: String, r: org.apache.spark.sql.streaming.DataStreamReader) = {
      val q = r.load().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).select("id", "_pos").as[(Long, Long)].collect().toSet
    }
    assert(drain("afeed_pos", spark.readStream.format("graft-artifact")
      .option("base", art).option("dataset", "d")) === Set((1L, 70L), (2L, 90L)))
    assert(drain("tfeed_pos", spark.readStream.format("graft-artifact")
      .option("base", cow).option("cow", "true").option("key", "id")) ===
      Set((1L, 70L), (2L, 90L), (3L, 110L)))
    assert(drain("cfeed_pos", spark.readStream.format("graft-artifact")
      .option("base", cow).option("cow", "true").option("key", "id")
      .option("changeFeed", "true").option("startVersion", (v0 + 1).toString)) ===
      Set((3L, 110L)))
  }

  test("readStream.table: checkpoint restart resumes after the last " +
    "version; a pruned base fails fast instead of re-bootstrapping") {
    val wh = Files.createTempDirectory("tfeed_wh").toString
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    try {
      val base = s"$wh/tf"
      graft.io.CowTable.create(spark, base,
        (1 to 40).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
        "id", numFiles = 2, retain = 4)
      val ck = Files.createTempDirectory("tfeed_ck").toString
      val out = Files.createTempDirectory("tfeed_out").toString
      // the memory sink cannot recover a checkpoint; the FILE sink can —
      // restart semantics are exactly what this spec pins
      def drain(): Long = {
        val q = spark.readStream.table("graft.tf")
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try { q.processAllAvailable() } finally q.stop()
        spark.read.parquet(out).count()
      }
      assert(drain() === 40L, "bootstrap snapshot")
      graft.io.CowTable.append(spark, base,
        Seq((100L, 1.0)).toDF("id", "v"), retain = 4)
      // RESTART from the same checkpoint: only the append arrives —
      // a re-bootstrap would deliver 40 duplicate rows
      assert(drain() === 41L,
        "restart must resume after the consumed version, not re-bootstrap")

      // prune past the consumed offset (table-level retention is a
      // floor, so per-call retain=1 can no longer collapse history —
      // the time-based vacuum is the sanctioned way to): the restarted
      // consumer must fail fast, not duplicate
      (0 until 3).foreach(i => graft.io.CowTable.append(spark, base,
        Seq((200L + i, 1.0)).toDF("id", "v")))
      graft.io.AtomicPublish.pruneOlderThan(spark, base,
        System.currentTimeMillis() + 3600000L)
      val e = intercept[Exception] { drain() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("pruned")),
        s"expected a pruned-base failure, got: ${msgs(e).mkString(" | ")}")
    } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
  }

  private def chainedMsgs(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ chainedMsgs(t.getCause)

  test("readStream.table FAILS FAST on a delete-bearing version " +
    "(naming changeFeed=true); skipChangeCommits opts into " +
    "post-images-only") {
    val wh = Files.createTempDirectory("tfeed_del_wh").toString
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    try {
      val base = s"$wh/tfd"
      graft.io.CowTable.create(spark, base,
        (1 to 40).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
        "id", numFiles = 2, retain = 8)
      graft.io.CowTable.deleteWhere(spark, base, col("id") > 30L, "id",
        retain = 8) // v1 carries deletes
      val out = Files.createTempDirectory("tfeed_del_out").toString
      val q = spark.readStream.table("graft.tfd")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation",
          Files.createTempDirectory("tfeed_del_ck").toString)
        .outputMode("append").start()
      val e = intercept[Exception] {
        try q.processAllAvailable() finally q.stop()
      }
      val ms = chainedMsgs(e)
      assert(ms.exists(m => m.contains("delete") &&
        m.contains("changeFeed=true") && m.contains("skipChangeCommits")),
        s"the default must refuse delete-bearing versions and name the " +
          s"remedies, got: ${ms.mkString(" | ")}")

      // the explicit opt-out restores post-images-only: bootstrap +
      // nothing for the delete-only version (deletes are omitted — the
      // subscriber KNOWINGLY diverges, which is the point of the option)
      val out2 = Files.createTempDirectory("tfeed_skip_out").toString
      val q2 = spark.readStream.option("skipChangeCommits", "true")
        .table("graft.tfd")
        .writeStream.format("parquet").option("path", out2)
        .option("checkpointLocation",
          Files.createTempDirectory("tfeed_skip_ck").toString)
        .outputMode("append").start()
      try q2.processAllAvailable() finally q2.stop()
      // bootstrap is the EARLIEST retained snapshot (40 rows at v0);
      // v1's delete rows are dropped, so nothing else arrives
      assert(spark.read.parquet(out2).count() === 40L,
        "skipChangeCommits must serve post-images only")
    } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
  }

  test("readStream.table: bootstrap is served from pool files (never " +
    "copied) and committed diff batches are pruned from the checkpoint") {
    val wh = Files.createTempDirectory("tfeed_gc_wh").toString
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    try {
      val base = s"$wh/tfg"
      graft.io.CowTable.create(spark, base,
        (1 to 40).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
        "id", numFiles = 2, retain = 8)
      val ck = Files.createTempDirectory("tfeed_gc_ck").toString
      val out = Files.createTempDirectory("tfeed_gc_out").toString
      val q = spark.readStream.table("graft.tfg")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        graft.io.CowTable.append(spark, base,
          Seq((100L, 1.0)).toDF("id", "v"), retain = 8)
        q.processAllAvailable()
        graft.io.CowTable.append(spark, base,
          Seq((101L, 1.0)).toDF("id", "v"), retain = 8)
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.read.parquet(out).count() === 42L)
      // the materialized-batch ledger under the source checkpoint: the
      // bootstrap must never appear (served in place from the pool) and
      // committed diff batches must be reclaimed — at most the newest
      // (not-yet-committed) batch dir may remain
      val feedDirs = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (!f.isDirectory) Seq.empty
          else if (f.getName == "_graft_feed")
            Option(f.listFiles()).toSeq.flatten.toSeq
          else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        walk(new java.io.File(ck))
      }
      assert(!feedDirs.exists(_.getName == "v0"),
        "the bootstrap snapshot must not be copied under the checkpoint")
      assert(feedDirs.size <= 1,
        s"committed batch dirs must be pruned, found: " +
          feedDirs.map(_.getName).mkString(", "))
    } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
  }

  /** Drain the change feed of `base` from its checkpoint `ck` once
    * (`Trigger.AvailableNow`). Each micro-batch's rows are collected —
    * the drain's only job per batch — and returned by batch id. */
  private def drainCdf(base: String, ck: String, from: Long): Map[Long, Seq[String]] = {
    val got = scala.collection.mutable.Map.empty[Long, Seq[String]]
    spark.readStream.format("graft-artifact")
      .option("base", base).option("cow", "true").option("key", "id")
      .option("changeFeed", "true").option("startVersion", from.toString)
      .load().writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        got(id) = b.collect().map(_.toString).toSeq.sorted)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    got.toMap
  }

  private def referenceRows(base: String, v: Long): Seq[String] =
    ChangeFeedSpec.reference(spark, base, v - 1, v, "id")
      .withColumn("_commit_version", lit(v))
      .collect().map(_.toString).toSeq.sorted

  private def cdfDirs(ck: String): Seq[String] = {
    val d = new java.io.File(ck, "sources/0/_graft_cdf")
    Option(d.listFiles()).toSeq.flatten.map(_.getName)
  }

  test("change feed: an append and a dvDelete version are served in place " +
    "— planning launches no job and writes nothing under _graft_cdf/") {
    val base = Files.createTempDirectory("cfeed_inplace").toString + "/t"
    val v0 = graft.io.CowTable.create(spark, base,
      (1 to 200).map(i => (i.toLong, i * 1.5)).toDF("id", "v"), "id",
      numFiles = 4, retain = 10)
    val ck = Files.createTempDirectory("cfeed_inplace_ck").toString
    val appended = graft.io.CowTable.append(spark, base,
      (201 to 220).map(i => (i.toLong, i * 1.5)).toDF("id", "v"), retain = 10)
    var got = Map.empty[Long, Seq[String]]
    // one job per batch: the collect in the sink; none in planning
    assert(jobsOf { got = drainCdf(base, ck, v0 + 1) } === 1)
    assert(got.values.toSeq === Seq(referenceRows(base, appended)))
    val deleted = graft.io.CowTable.dvDelete(spark, base, col("id") % 7 === 0,
      retain = 10)
    assert(jobsOf { got = drainCdf(base, ck, v0 + 1) } === 1)
    assert(got.values.toSeq === Seq(referenceRows(base, deleted)))
    assert(got.values.head.size === 31 && got.values.head.forall(_.contains("delete")))
    assert(cdfDirs(ck).isEmpty, "an in-place batch must not be materialized")
    // a joined version (a merge) is still materialized, and equal too
    val merged = graft.io.CowTable.merge(spark, base, Seq((3L, 0.0)).toDF("id", "v")
      .withColumn("_delete", lit(false)), "id", retain = 10)
    got = drainCdf(base, ck, v0 + 1)
    assert(got.values.toSeq === Seq(referenceRows(base, merged)))
    assert(got.values.head.exists(_.contains("update")))
  }

  test("change feed: a replayed in-place batch returns identical rows; " +
    "after vacuum removes its files it fails with the retain-window message") {
    val base = Files.createTempDirectory("cfeed_replay").toString + "/t"
    val v0 = graft.io.CowTable.create(spark, base,
      (1 to 100).map(i => (i.toLong, i * 1.5)).toDF("id", "v"), "id",
      numFiles = 2, retain = 3)
    val ck = Files.createTempDirectory("cfeed_replay_ck").toString
    graft.io.CowTable.append(spark, base, Seq((500L, 1.0)).toDF("id", "v"))
    graft.io.CowTable.dvDelete(spark, base, col("id") % 3 === 0)
    val first = drainCdf(base, ck, v0 + 1)
    val last = first.keys.max
    // forget that the last batch committed: a restart replays it from
    // the offset log
    def uncommit(): Unit = Seq(s"$last", s".$last.crc")
      .foreach(n => new java.io.File(ck, s"commits/$n").delete())
    uncommit()
    assert(drainCdf(base, ck, v0 + 1) === Map(last -> first(last)),
      "a replayed batch must return the same rows")
    val served = graft.io.CowTable.manifest(spark, base).map(_.file)
    uncommit()
    // rewrite every file, then prune all but the head and reclaim
    graft.io.CowTable.compact(spark, base, targetRows = 1000, key = "id")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.sql(s"CALL graft.vacuum('$base', 0, ${System.currentTimeMillis() + 3600000L})")
    assert(served.forall(f => !new java.io.File(f).exists()),
      "vacuum must have removed the batch's files")
    val ms = chainedMsgs(intercept[Exception](drainCdf(base, ck, v0 + 1)))
    assert(ms.exists(_.contains("retain window")),
      s"expected the retain-window message, got: ${ms.mkString(" | ")}")
  }
}
