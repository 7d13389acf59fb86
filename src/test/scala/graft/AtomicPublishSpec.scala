package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.io.AtomicPublish

/** The multi-dataset commit protocol: a crash between dataset writes
  * must leave readers on the previous complete version (the PG-
  * transaction semantics of the reference's star build, SURVEY §7.5).
  */
class AtomicPublishSpec extends SparkSpec {
  import spark.implicits._

  test("crash between dataset writes leaves readers on the old version") {
    val base = Files.createTempDirectory("atomic_pub").toString + "/star"
    val v0 = AtomicPublish.publish(spark, base, Seq(
      "dim" -> Seq((1L, "a"), (2L, "b")).toDF("id", "nk"),
      "fact" -> Seq((10L, 1L), (11L, 2L)).toDF("fact_id", "dim_id")))
    assert(v0 === 0L)
    assert(AtomicPublish.committed(spark, base) === 0L)

    // simulate a crash of a writer that bypassed the stage: v1 gets ONE
    // of the two datasets and no _PUBLISHED marker — exactly the window
    // a sequential overwrite write leaves open
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "nk")
      .write.mode("overwrite").parquet(s"$base/v1/dim")
    assert(AtomicPublish.committed(spark, base) === 0L,
      "a partial version must not be visible")
    assert(AtomicPublish.read(spark, base, "dim").count() === 2L,
      "readers must still see the old dim")
    assert(AtomicPublish.read(spark, base, "fact").count() === 2L)

    // the retry claims the next FREE id (the partial dir is treated as
    // taken, never overwritten) and commits atomically
    val v1 = AtomicPublish.publish(spark, base, Seq(
      "dim" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "nk"),
      "fact" -> Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("fact_id", "dim_id")))
    assert(v1 === 2L)
    assert(AtomicPublish.read(spark, base, "dim").count() === 3L)
    assert(AtomicPublish.read(spark, base, "fact").count() === 3L)
    // superseded v0 pruned AND the unsealed partial write collected:
    // storage stays O(1) versions
    assert(!new java.io.File(s"$base/v0").exists())
    assert(!new java.io.File(s"$base/v1").exists(),
      "an unsealed version dir below the committed id is garbage")
  }

  test("two interleaved publishers both commit readable versions") {
    val base = Files.createTempDirectory("atomic_mw").toString + "/t"
    AtomicPublish.publish(spark, base, Seq("d" -> Seq(0).toDF("x")), retain = 8)
    // both writers observe committed=0 and race the SAME next id — the
    // silent-clobber scenario the single-writer protocol had
    val writers = (1 to 4).map { w =>
      new Thread {
        var got: Long = -1L
        override def run(): Unit =
          got = AtomicPublish.publish(spark, base,
            Seq("d" -> Seq.fill(w + 1)(w).toDF("x")), retain = 8)
      }
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    val ids = writers.map(_.got)
    assert(ids.forall(_ >= 1L) && ids.distinct.size === 4,
      s"every writer must win a distinct version, got $ids")
    // every version is sealed, committed, and holds exactly its own
    // writer's rows — no v<N> contains two writers' files
    writers.foreach { t =>
      val rows = AtomicPublish.readVersion(spark, base, "d", t.got)
        .collect().map(_.getInt(0)).toSeq
      assert(rows.nonEmpty && rows.distinct.size === 1,
        s"v${t.got} must hold one writer's dataset, got $rows")
    }
    // the pointer lands on the max committed version, monotonically
    assert(AtomicPublish.committed(spark, base) === ids.max)
    assert(AtomicPublish.versions(spark, base).toSet === (ids :+ 0L).toSet)
    // no stray staging dirs left behind
    val strays = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith(".stage-"))
    assert(strays.isEmpty, s"unclaimed stages: ${strays.mkString(",")}")
  }

  test("a writer held between its claim and its commit marker survives " +
    "another writer's commit") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val base = Files.createTempDirectory("atomic_window").toString + "/t"
    AtomicPublish.publish(spark, base, Seq("d" -> Seq(0).toDF("x")), retain = 8)
    val claimed = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    // hold the FIRST writer that claims under this base
    AtomicPublish.afterClaim = (b, _) =>
      if (b == base && armed.compareAndSet(true, false)) {
        claimed.countDown()
        release.await(120, TimeUnit.SECONDS)
      }
    try {
      var heldV = -1L
      val held = new Thread(() => heldV = AtomicPublish.publish(spark, base,
        Seq("d" -> Seq(1, 1).toDF("x")), retain = 8))
      held.start()
      assert(claimed.await(120, TimeUnit.SECONDS), "the held writer never claimed")
      assert(AtomicPublish.committed(spark, base) === 0L)

      // a second writer commits PAST the held claim and runs its GC
      val v2 = AtomicPublish.publish(spark, base,
        Seq("d" -> Seq(2, 2, 2).toDF("x")), retain = 8)
      assert(v2 === 2L)
      assert(new java.io.File(s"$base/v1/_PUBLISHED").exists(),
        "another writer's commit must not collect a live claim")
      assert(!AtomicPublish.isOrphan(spark, base, 1L))
      assert(AtomicPublish.versions(spark, base) === Seq(0L, 2L))
      assert(AtomicPublish.settledHead(spark, base) === 0L,
        "iterating readers must wait below the live claim")

      release.countDown()
      held.join(120000)
      assert(heldV === 1L)
      assert(AtomicPublish.readVersion(spark, base, "d", 1L)
        .collect().map(_.getInt(0)).toSeq === Seq(1, 1))
      assert(AtomicPublish.versions(spark, base) === Seq(0L, 1L, 2L))
      assert(AtomicPublish.committed(spark, base) === 2L)
      assert(AtomicPublish.settledHead(spark, base) === 2L)
      assert(!new java.io.File(s"$base/v1/_CLAIM").exists(),
        "a committed claim releases its lease")
    } finally {
      release.countDown()
      AtomicPublish.afterClaim = (_, _) => ()
    }
  }

  test("an expired claim lease is collected as an orphan; a live one is kept") {
    val base = Files.createTempDirectory("atomic_lease").toString + "/t"
    AtomicPublish.publish(spark, base, Seq("d" -> Seq(1).toDF("x")), 8)
    def write(path: String, body: String): Unit = {
      val w = new java.io.FileWriter(path)
      try w.write(body) finally w.close()
    }
    // sealed, unmarked claims as a writer leaves them after the claim
    // rename: one from an hour ago (its writer died), one from now
    def fakeClaim(v: Long, since: Long): java.io.File = {
      val dir = new java.io.File(s"$base/v$v")
      dir.mkdirs()
      write(s"$base/v$v/_PUBLISHED", s"token-$v\nd")
      write(s"$base/v$v/_CLAIM", since.toString)
      dir
    }
    val dead = fakeClaim(1L, System.currentTimeMillis() - 3600000L)
    val live = fakeClaim(2L, System.currentTimeMillis())

    val v = AtomicPublish.publish(spark, base, Seq("d" -> Seq(3).toDF("x")), 8)
    assert(v === 3L)
    assert(!dead.exists(), "an expired claim is a dead writer's orphan")
    assert(AtomicPublish.isOrphan(spark, base, 1L))
    assert(live.exists(), "a live claim must not be collected")
    assert(!AtomicPublish.isOrphan(spark, base, 2L))
    assert(AtomicPublish.versions(spark, base) === Seq(0L, 3L))
    assert(AtomicPublish.settledHead(spark, base) === 1L)
  }

  test("a first version held between its claim and its marker is " +
    "invisible; a racing CREATE TABLE is refused") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val root = Files.createTempDirectory("atomic_first").toString
    val base = s"$root/t"
    val claimed = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val heldCreate = new CountDownLatch(1)
    val releaseCreate = new CountDownLatch(1)
    // hold the first writer that claims under this base
    AtomicPublish.afterClaim = (b, _) =>
      if (b == base) {
        claimed.countDown()
        release.await(120, TimeUnit.SECONDS)
      }
    try {
      var heldV = -1L
      val held = new Thread(() => heldV = AtomicPublish.publish(spark, base,
        Seq("d" -> Seq(1, 2).toDF("x"))))
      held.start()
      assert(claimed.await(120, TimeUnit.SECONDS), "the held writer never claimed")
      assert(new java.io.File(s"$base/v0/_PUBLISHED").exists())
      assert(AtomicPublish.committed(spark, base) === -1L,
        "a sealed but unmarked first version must not be committed")
      assert(!AtomicPublish.exists(spark, base))
      assert(AtomicPublish.versions(spark, base).isEmpty)
      intercept[IllegalArgumentException](AtomicPublish.read(spark, base, "d"))
      release.countDown()
      held.join(120000)
      assert(heldV === 0L && AtomicPublish.committed(spark, base) === 0L)
      assert(AtomicPublish.read(spark, base, "d").count() === 2L)

      // two CREATE TABLEs racing: the second is refused while the first
      // still sits between its v0 claim and its marker
      val table = s"$root/cow"
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, nm STRING")
      AtomicPublish.afterClaim = (b, _) =>
        if (b == table) {
          heldCreate.countDown()
          releaseCreate.await(120, TimeUnit.SECONDS)
        }
      var created = -1L
      val creator = new Thread(() =>
        created = graft.io.CowTable.createEmpty(spark, table, schema, "id"))
      creator.start()
      assert(heldCreate.await(120, TimeUnit.SECONDS), "the creator never claimed")
      val e = intercept[IllegalArgumentException] {
        graft.io.CowTable.createEmpty(spark, table, schema, "id")
      }
      assert(e.getMessage.contains("cow table already exists"))
      releaseCreate.countDown()
      creator.join(120000)
      assert(created === 0L)
      assert(AtomicPublish.versions(spark, table) === Seq(0L))
      assert(graft.io.CowTable.read(spark, table).columns.toSeq === Seq("id", "nm"))
    } finally {
      release.countDown()
      releaseCreate.countDown()
      AtomicPublish.afterClaim = (_, _) => ()
    }
  }

  test("a claimed-but-never-committed orphan is invisible and collected") {
    val base = Files.createTempDirectory("atomic_orphan").toString + "/t"
    AtomicPublish.publish(spark, base, Seq("d" -> Seq(1).toDF("x")), 3)
    // fake a writer that crashed between the v<N> claim rename and the
    // commit marker: a SEALED version directory with no _commits entry
    val orphan = new java.io.File(s"$base/v1")
    orphan.mkdirs()
    val w = new java.io.FileWriter(s"$base/v1/_PUBLISHED")
    try w.write("deadbeef-token\nd") finally w.close()

    assert(AtomicPublish.committed(spark, base) === 0L,
      "a sealed-unmarked version must not move the committed pointer")
    assert(AtomicPublish.versions(spark, base) === Seq(0L),
      "the orphan must be invisible to iterating readers")

    // the next writer skips the parked id and commits past it; the GC
    // collects the orphan, leaving a tombstone so readers can tell
    // 'skipped orphan' from 'pruned committed version'
    val v = AtomicPublish.publish(spark, base, Seq("d" -> Seq(2).toDF("x")), 3)
    assert(v === 2L)
    assert(AtomicPublish.versions(spark, base) === Seq(0L, 2L))
    assert(!orphan.exists(), "the orphan directory must be collected")
    assert(AtomicPublish.isOrphan(spark, base, 1L),
      "the tombstone must mark the id as a skipped orphan")
  }

  test("retention window keeps history readable; pruning stays bounded") {
    val base = Files.createTempDirectory("atomic_tt").toString + "/t"
    AtomicPublish.publish(spark, base, Seq("d" -> Seq(1).toDF("x")), retain = 2)
    AtomicPublish.publish(spark, base, Seq("d" -> Seq(1, 2).toDF("x")), retain = 2)
    AtomicPublish.publish(spark, base,
      Seq("d" -> Seq(1, 2, 3).toDF("x")), retain = 2)
    // exactly the newest 2 versions remain; both are readable AS OF
    assert(AtomicPublish.versions(spark, base) === Seq(1L, 2L))
    assert(AtomicPublish.committed(spark, base) === 2L)
    assert(AtomicPublish.readVersion(spark, base, "d", 1L).count() === 2L)
    assert(AtomicPublish.readVersion(spark, base, "d", 2L).count() === 3L)
    assert(AtomicPublish.read(spark, base, "d").count() === 3L,
      "the pointer read must resolve the newest version")
    // a pruned version fails fast, never a partial-directory read
    intercept[IllegalArgumentException] {
      AtomicPublish.readVersion(spark, base, "d", 0L)
    }
  }

  test("runner publishes the star atomically with a deterministic audit clock") {
    val wh = Files.createTempDirectory("runner_pub").toString
    spark.conf.set("spark.graft.run_ts", "2024-01-15 12:00:00")
    try PipelineRunner.run(spark, sf0001, wh,
      Pipeline.defaultStart, Pipeline.defaultEnd)
    finally spark.conf.unset("spark.graft.run_ts")
    // every star member resolves through one committed manifest
    val names = Seq("dim_customer", "dim_product", "dim_region",
      "dim_status", "fact")
    assert(AtomicPublish.committed(spark, s"$wh/star") === 0L)
    names.foreach { n =>
      assert(AtomicPublish.read(spark, s"$wh/star", n).count() > 0)
    }
    // F13: the fixed clock makes BOTH audit columns deterministic —
    // created_dt on the published fact, processed_at on stored silver
    val cd = AtomicPublish.read(spark, s"$wh/star", "fact")
      .select("created_dt").distinct().collect()
    assert(cd.map(_.getDate(0).toString).toSeq === Seq("2024-01-15"))
    val pa = graft.io.WindowReload.read(spark, s"$wh/silver")
      .select("processed_at").distinct().collect()
    assert(pa.map(_.getTimestamp(0).toString).toSeq === Seq("2024-01-15 12:00:00.0"))
  }

  test("TIMESTAMP AS OF history survives a directory copy (commit " +
    "instants are marker payload, not mtime)") {
    val base = Files.createTempDirectory("atomic_ts").toString + "/t"
    (0 to 2).foreach { i =>
      AtomicPublish.publish(spark, base,
        Seq("d" -> Seq.fill(i + 1)(i).toDF("x")), retain = 8)
      Thread.sleep(15) // distinct millis between commit instants
    }
    val instants = (0L to 2L).map(v =>
      AtomicPublish.commitInstant(spark, base, v).get)
    assert(instants === instants.sorted && instants.distinct.size === 3)
    (0L to 2L).foreach(v => assert(
      AtomicPublish.committedAsOf(spark, base, instants(v.toInt)) === v))

    Thread.sleep(15)
    // relocate by DIRECTORY COPY — every file's mtime becomes the copy
    // instant; resolution must be unchanged because the instant is
    // payload
    val copy = Files.createTempDirectory("atomic_ts_copy").toString + "/t"
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        val d = new java.io.File(dst, f.getName)
        if (f.isDirectory) copyDir(f, d)
        else java.nio.file.Files.copy(f.toPath, d.toPath)
      }
    }
    copyDir(new java.io.File(base), new java.io.File(copy))
    (0L to 2L).foreach { v =>
      assert(AtomicPublish.commitInstant(spark, copy, v).get === instants(v.toInt),
        "the commit instant must be durable metadata")
      assert(AtomicPublish.committedAsOf(spark, copy, instants(v.toInt)) === v,
        s"historical timestamp for v$v must resolve on the moved table")
    }
    // a pre-instant timestamp still finds nothing; post-instant the head
    assert(AtomicPublish.committedAsOf(spark, copy, instants.head - 10) === -1L)
    assert(AtomicPublish.committedAsOf(spark, copy,
      System.currentTimeMillis()) === 2L)
  }

  private val Pipeline = graft.pipeline.Pipeline
}
