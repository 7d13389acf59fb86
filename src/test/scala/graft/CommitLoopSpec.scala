package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.io.{AtomicPublish, CowTable, VersionNotPublishedException}

/** The cow commit loop under deterministic interleavings: a competing
  * commit lands inside a writer's attempt, right after the attempt
  * resolved its parent ([[CowTable.afterParent]]). */
class CommitLoopSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Seq[Int]) =
    ids.map(i => (i.toLong, s"n$i", i * 1.0)).toDF("id", "nm", "amt")

  private def ids(base: String): Set[Long] =
    CowTable.read(spark, base).select("id").as[Long].collect().toSet

  /** Attempts the last [[raced]] writer made, also when it failed. */
  private var attempts = 0

  /** Runs `write` on `base` while a competing append of row `rival`
    * (committed with `rivalRetain`) lands in its first attempt; with
    * `cold` the version caches are dropped first, so the attempt must
    * read its parent from disk. Returns (parent of the first attempt,
    * the writer's result, attempts made). */
  private def raced(base: String, rival: Int, rivalRetain: Int,
                    cold: Boolean)(write: => Long): (Long, Long, Int) = {
    var parent = -1L
    attempts = 0
    var busy = false // the rival's own commit runs the hook too
    CowTable.afterParent = (b, v) => if (b == base && !busy) {
      attempts += 1
      if (attempts == 1) {
        busy = true
        try {
          parent = v
          if (cold) CowTable.dropVersionCachesForTest()
          CowTable.append(spark, base, rows(Seq(rival)), retain = rivalRetain)
        } finally busy = false
      }
    }
    try {
      val v = write
      (parent, v, attempts)
    } finally CowTable.afterParent = (_, _) => ()
  }

  test("every writer retries when a competing commit prunes its parent " +
    "mid-attempt, and both changes stay visible") {
    val base = Files.createTempDirectory("loop_prune").toString + "/t"
    CowTable.create(spark, base, rows(1 to 40), "id", numFiles = 4)
    var expect = (1 to 40).map(_.toLong).toSet
    def check(what: String, rival: Int)(write: => Long): Unit = {
      val (parent, v, tries) = raced(base, rival, 1, cold = true)(write)
      assert(!AtomicPublish.isCommitted(spark, base, parent),
        s"$what: the rival must prune the parent")
      assert((v, tries) === ((parent + 2, 2)),
        s"$what: must retry once and commit after the rival")
      expect += rival.toLong
      assert(ids(base) === expect, s"$what: both changes must be visible")
    }
    expect += 50L
    check("merge", 101)(CowTable.merge(spark, base,
      rows(Seq(5, 50)).withColumn("nm", lit("m")).withColumn("_delete",
        lit(false)), "id"))
    assert(CowTable.read(spark, base).filter($"nm" === "m").count() === 2L)
    expect -= 6L
    check("deleteWhere", 102)(
      CowTable.deleteWhere(spark, base, col("id") === 6L, "id"))
    expect -= 7L
    check("dvDelete", 103)(CowTable.dvDelete(spark, base, col("id") === 7L))
    check("compact", 104)(
      CowTable.compact(spark, base, targetRows = 1000L, key = "id"))
    assert(CowTable.manifest(spark, base).size === 1)
    check("addColumns", 105)(CowTable.addColumns(spark, base,
      Seq(org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.IntegerType))))
    assert(CowTable.read(spark, base).columns.contains("extra"))

    // restore: pruning is prefix-by-id, so a rival that prunes the parent
    // prunes the older target too, and the restore fails at once with
    // the retention message; a rival inside the retained window is an
    // ordinary conflict the loop retries
    CowTable.merge(spark, base, rows(Seq(8)).withColumn("extra", lit(1))
      .withColumn("_delete", lit(true)), "id", retain = 3)
    val target = AtomicPublish.committed(spark, base) - 1
    val targetIds = CowTable.readAt(spark, base, target).select("id").as[Long]
      .collect().toSet
    val (parent, v, tries) = raced(base, 106, 3, cold = true)(
      CowTable.restore(spark, base, target, retain = 3))
    assert((v, tries) === ((parent + 2, 2)))
    assert(ids(base) === targetIds)
    assert(AtomicPublish.commitOp(spark, base, parent + 1) === Some("APPEND"))
    val e = intercept[IllegalArgumentException] {
      raced(base, 107, 1, cold = true)(
        CowTable.restore(spark, base, v - 1, retain = 3))
    }
    assert(e.getMessage.contains(s"cannot RESTORE $base to v${v - 1}"))
  }

  test("a lost vector commit leaves no unreferenced vector; a CHECK " +
    "violation fails on its first attempt although the head moved") {
    val base = Files.createTempDirectory("loop_dv").toString + "/t"
    CowTable.create(spark, base, rows(1 to 40), "id", numFiles = 4,
      retain = 3)
    // the local file system keeps a `.crc` beside each file
    def pool = new java.io.File(s"$base/files").list()
      .filterNot(_.endsWith(".crc")).toSet
    val before = pool
    val (parent, v, tries) = raced(base, 101, 3, cold = false)(
      CowTable.dvDelete(spark, base, col("id") % 5 === 0))
    assert((v, tries) === ((parent + 2, 2)))
    assert(ids(base) === ((1 to 40).filter(_ % 5 != 0) :+ 101)
      .map(_.toLong).toSet)
    assert(CowTable.manifest(spark, base).count(_.dvRows > 0) === 4)
    // the rival's one appended file is the pool's only new file: neither
    // attempt staged a file for its vector
    assert((pool -- before).size === 1 && !pool.exists(_.endsWith("-dv")),
      s"pool files added: ${pool -- before}")

    CowTable.addCheck(spark, base, "amt_pos", "amt >= 0")
    val head = AtomicPublish.committed(spark, base)
    val err = intercept[Exception] {
      raced(base, 102, 3, cold = false) {
        CowTable.merge(spark, base, rows(Seq(3)).withColumn("amt", lit(-1.0))
          .withColumn("_delete", lit(false)), "id")
      }
    }
    assert(attempts === 1, "a CHECK violation must not retry")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("CHECK constraint `amt_pos` violated")))
    assert(AtomicPublish.committed(spark, base) === head + 1,
      "only the rival commits")
    assert(!ids(base).contains(-1L) &&
      CowTable.read(spark, base).filter($"amt" < 0).isEmpty)
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16).toSeq

  test("a replayed batch whose parent a rival prunes commits nothing and " +
    "keeps the stream's stamp") {
    val base = Files.createTempDirectory("loop_replay").toString + "/t"
    CowTable.exactlyOnceMerge(spark, base, rows(1 to 10), "id", "s", 0L)
    CowTable.exactlyOnceMerge(spark, base, rows(Seq(11)), "id", "s", 1L)
    val (parent, v, tries) = raced(base, 101, 1, cold = true)(
      CowTable.exactlyOnceMerge(spark, base,
        rows(Seq(5, 11)).withColumn("nm", lit("replayed")), "id", "s", 1L))
    assert(!AtomicPublish.isCommitted(spark, base, parent),
      "the rival must prune the parent")
    assert((v, tries) === ((parent + 1, 2)),
      "the replay must retry once and commit nothing after the rival")
    assert(AtomicPublish.committed(spark, base) === parent + 1)
    assert(CowTable.lastTxn(spark, base, "s") === 1L)
    assert(ids(base) === ((1 to 11) :+ 101).map(_.toLong).toSet)
    assert(CowTable.read(spark, base).filter($"nm" === "replayed").isEmpty,
      "a replayed batch must not be applied again")
  }

  test("a version pruned by retention fails every reader with " +
    "VersionNotPublishedException") {
    val base = Files.createTempDirectory("loop_pruned").toString + "/t"
    CowTable.create(spark, base, rows(1 to 20), "id", numFiles = 2)
    CowTable.append(spark, base, rows(Seq(21)), retain = 1)
    assert(!AtomicPublish.isCommitted(spark, base, 0L))
    intercept[VersionNotPublishedException](CowTable.metaAt(spark, base, 0L))
    intercept[VersionNotPublishedException](CowTable.readAt(spark, base, 0L))
    val e = intercept[Exception] {
      spark.read.format("graft-artifact").option("base", base)
        .option("cow", "true").option("version", "0").load().count()
    }
    assert(causes(e).exists(_.isInstanceOf[VersionNotPublishedException]),
      s"a pinned read of a pruned version must not fall back: $e")
    assert(CowTable.metaAt(spark, base, 1L).key === "id")
  }
}
