package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.io.{AtomicPublish, CowTable}

/** Row-level operations: MERGE/DELETE by position, serializable
  * commits under concurrent writers, compaction, vacuum.
  */
class CowTableSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def table(n: Int) =
    (1 to n).map(i => (i.toLong, s"name$i", i * 10.0)).toDF("id", "nm", "amt")

  /** Runs `stmt` on the vector-free table at `base` with every pool
    * file that holds no `touched` row moved aside, so a statement that
    * reads one fails. Then each file holding `touched` rows must have
    * exactly those rows vectored, and every other entry must keep its
    * (file, dv). Returns the entries `stmt` added. */
  private def deletesByPosition(base: String, touched: org.apache.spark.sql.Column)
                               (stmt: => Unit): Seq[CowTable.Entry] = {
    val before = CowTable.manifest(spark, base)
    assert(before.forall(_.dv.isEmpty))
    val hits = before.map(e =>
      e.file -> spark.read.parquet(e.file).filter(touched).count())
      .filter(_._2 > 0).toMap
    val aside = before.filterNot(e => hits.contains(e.file))
      .map(e => (new java.io.File(e.file), new java.io.File(e.file + ".aside")))
    aside.foreach { case (f, a) => assert(f.renameTo(a)) }
    try stmt finally aside.foreach { case (f, a) => a.renameTo(f) }
    val after = CowTable.manifest(spark, base)
    val by = after.map(e => e.file -> e).toMap
    before.foreach { e =>
      val now = by.getOrElse(e.file, fail(s"${e.file} left the manifest"))
      assert((now.dv.nonEmpty, now.dvRows) === ((hits.contains(e.file),
        hits.getOrElse(e.file, 0L))), s"${e.file}: vectored rows")
      if (!hits.contains(e.file)) assert(now === e, "an untouched entry changed")
    }
    after.filterNot(e => before.exists(_.file == e.file))
  }

  test("MERGE deletes by position in the key-range-affected file only, " +
    "references the rest") {
    val base = Files.createTempDirectory("cow").toString + "/t"
    CowTable.create(spark, base, table(1000), "id", numFiles = 8)
    assert(CowTable.manifest(spark, base).size === 8)

    // source touches keys 1..5 only: one file's range. Ids 2 and 4 are
    // vectored in it, the other 7 files are never read, and the upserts
    // (2, 2000) are the one new file
    val src = Seq((2L, "upd2", 99.0, false), (4L, "x", 0.0, true),
      (2000L, "new", 1.0, false))
      .toDF("id", "nm", "amt", "_delete")
    val added = deletesByPosition(base, col("id").isin(2L, 4L)) {
      CowTable.merge(spark, base, src, "id")
    }
    assert(added.map(_.rows) === Seq(2L))
    assert(CowTable.manifest(spark, base).size === 9)

    val got = CowTable.read(spark, base)
    val expect = table(1000)
      .filter(col("id") =!= 2L && col("id") =!= 4L)
      .union(Seq((2L, "upd2", 99.0), (2000L, "new", 1.0)).toDF("id", "nm", "amt"))
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    assert(got.count() === 1000L) // -1 delete +1 insert
  }

  test("tryPublish is a CAS: a stale parent is rejected without a commit") {
    val base = Files.createTempDirectory("cow_cas").toString + "/t"
    val v0 = AtomicPublish.publish(spark, base, Seq("d" -> Seq(1).toDF("x")))
    assert(v0 === 0L)
    val v1 = AtomicPublish.tryPublish(spark, base,
      Seq("d" -> Seq(2).toDF("x")), retain = 2, parent = 0L)
    assert(v1 === Some(1L))
    // a writer still holding parent=0 must observe the conflict
    assert(AtomicPublish.tryPublish(spark, base,
      Seq("d" -> Seq(3).toDF("x")), retain = 2, parent = 0L).isEmpty)
    assert(AtomicPublish.committed(spark, base) === 1L)
    assert(!new java.io.File(s"$base/v2").exists(),
      "the losing stage must not leave a version directory")
  }

  test("concurrent merges: the loser recomputes and neither update is lost") {
    val base = Files.createTempDirectory("cow_conc").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 4)

    // writer B commits BETWEEN writer A's read and A's CAS — the
    // classic lost-update window. A must retry against B's state.
    val srcA = Seq((10L, "A", 1.0, false)).toDF("id", "nm", "amt", "_delete")
    val srcB = Seq((90L, "B", 2.0, false)).toDF("id", "nm", "amt", "_delete")
    var fired = false
    CowTable.merge(spark, base, srcA, "id", beforeCommit = () => {
      if (!fired) { fired = true; CowTable.merge(spark, base, srcB, "id") }
    })
    val got = CowTable.read(spark, base)
    assert(got.filter(col("id") === 10L && col("nm") === "A").count() === 1L)
    assert(got.filter(col("id") === 90L && col("nm") === "B").count() === 1L,
      "writer B's committed change must survive writer A's retry")
    assert(got.count() === 100L)
  }

  test("DELETE WHERE deletes by position in only the files containing " +
    "matches") {
    val base = Files.createTempDirectory("cow_del").toString + "/t"
    CowTable.create(spark, base, table(1000), "id", numFiles = 8)
    // the matches live in one file's key range: the other 7 are pruned
    // from the manifest stats and never read
    val pred = col("id") >= 1L && col("id") <= 50L
    assert(deletesByPosition(base, pred) {
      CowTable.deleteWhere(spark, base, pred, "id")
    }.isEmpty, "a delete adds no file")
    assert(CowTable.manifest(spark, base).count(_.dvRows > 0) === 1)
    assert(CowTable.read(spark, base).count() === 950L)
    assert(CowTable.read(spark, base)
      .filter(col("id") <= 50L).count() === 0L)
  }

  test("compact bin-packs small files; content identical; vacuum reclaims") {
    val base = Files.createTempDirectory("cow_cmp").toString + "/t"
    CowTable.create(spark, base, table(1000), "id", numFiles = 16)
    assert(CowTable.manifest(spark, base).size === 16)
    CowTable.compact(spark, base, targetRows = 500L, "id")
    val m = CowTable.manifest(spark, base)
    assert(m.size <= 3, s"16 x ~63-row files must pack to ~2, got ${m.size}")
    val got = CowTable.read(spark, base)
    assert(got.exceptAll(table(1000)).isEmpty &&
      table(1000).exceptAll(got).isEmpty)

    // vacuum: the 16 superseded originals are unreferenced -> reclaimed;
    // everything the manifest references survives
    val pool = new java.io.File(s"$base/files")
    val beforeN = pool.listFiles().count(_.getName.endsWith(".parquet"))
    val reclaimed = CowTable.vacuum(spark, base)
    assert(reclaimed === 16)
    val left = pool.listFiles().count(_.getName.endsWith(".parquet"))
    assert(left === beforeN - reclaimed)
    assert(CowTable.read(spark, base).count() === 1000L)
  }

  test("DSv2 cow read: manifest-resolved scan with footer-stats pruning") {
    val base = Files.createTempDirectory("cow_dsv2").toString + "/t"
    CowTable.create(spark, base, table(1000), "id", numFiles = 8)
    val df = spark.read.format("graft-artifact")
      .option("base", base).option("cow", "true").load()
    assert(df.exceptAll(table(1000)).isEmpty &&
      table(1000).exceptAll(df).isEmpty,
      "the DSv2 cow scan must equal the manifest-resolved read")

    val q = df.filter(col("id") <= 50L)
    assert(q.count() === 50L)
    val descs = collectWithSubqueries(q.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }
    assert(descs.nonEmpty, "expected a graft-artifact DSv2 scan")
    val FilesRe = ".*files=(\\d+)/(\\d+).*".r
    descs.head match {
      case FilesRe(kept, total) =>
        assert(total.toInt === 8)
        assert(kept.toInt === 1,
          s"a one-range filter must keep one pool file: ${descs.head}")
      case other => fail(s"no file-prune accounting in scan: $other")
    }
  }

  test("merge survives a manifest beyond the broadcast ceiling (>64k files)") {
    // the r11 merge required the manifest to broadcast and refused above
    // Bcast.SafeRows files; the interval-indexed discovery must handle a
    // manifest of ANY size. Build a real 4-file table, then append 70k
    // SYNTHETIC manifest entries with key ranges disjoint from the merge
    // keys — they must ride through discovery + anti-join untouched
    // (never opened), with no SafeRows require and no driver-side
    // materialization of the full manifest.
    val base = Files.createTempDirectory("cow_big").toString + "/t"
    CowTable.create(spark, base, table(1000), "id", numFiles = 4)
    val real = CowTable.manifest(spark, base)
    assert(real.size === 4)
    val synthetic = spark.range(70000).select(
      concat(lit("/nonexistent/pool-"), col("id"), lit(".parquet")).as("file"),
      lit(100L).as("rows"),
      (col("id") * 1000 + 1000000L).as("kmin"),
      (col("id") * 1000 + 1000500L).as("kmax"),
      lit(Array.emptyByteArray).as("dv"), lit(0L).as("dvRows"),
      typedlit(Map.empty[String, String]).as("smin"),
      typedlit(Map.empty[String, String]).as("smax"))
    val big = spark.read.parquet(s"$base/v0/manifest").unionByName(synthetic)
    AtomicPublish.publish(spark, base,
      Seq("manifest" -> big,
        "meta" -> spark.read.parquet(s"$base/v0/meta")))
    assert(CowTable.manifest(spark, base).size === 70004)

    val src = Seq((2L, "upd2", 99.0, false), (2000L, "new", 1.0, false))
      .toDF("id", "nm", "amt", "_delete")
    CowTable.merge(spark, base, src, "id")

    val after = CowTable.manifest(spark, base)
    // reads re-root stored paths under the current base (relocatability),
    // so the synthetic entries are identified by their unique BASENAMES
    assert(after.count(e =>
      e.file.substring(e.file.lastIndexOf('/') + 1).startsWith("pool-")) === 70000,
      "every synthetic entry must be referenced untouched")
    // id 2 is vectored in its real file; the other 3 keep their (file, dv)
    val by = after.map(e => e.file -> e).toMap
    real.foreach { e =>
      if (e.kmin <= 2L && e.kmax >= 2L)
        assert(by(e.file).dvRows === 1L && by(e.file).dv.nonEmpty)
      else assert(by(e.file) === e, "3 of 4 real files referenced untouched")
    }
    assert(after.size === 70005, "the upserts are the one new file")
    // point-read through the same interval index (a full read would try
    // to open the synthetic paths — they exist only as metadata here)
    val got = CowTable.readForKeys(spark, base,
      Seq(2L, 2000L).toDF("id"), "id")
    assert(got.filter(col("id") === 2L && col("nm") === "upd2").count() === 1L)
    assert(got.filter(col("id") === 2000L && col("nm") === "new").count() === 1L)
  }

  test("deleteWhere prunes discovery from per-file stats on a non-key column") {
    val base = Files.createTempDirectory("cow_stats").toString + "/t"
    // grp correlates with the clustering key (id), the production shape
    // stats pruning exists for (a date column on a time-keyed table)
    val df = (1 to 1000).map(i => (i.toLong, s"g${i / 250}", i * 1.0))
      .toDF("id", "grp", "amt")
    CowTable.create(spark, base, df, "id", numFiles = 4,
      statsCols = Seq("grp"))
    var scanned = -1L; var total = -1L
    CowTable.deleteWhere(spark, base, col("grp") === "g0", "id",
      onDiscovery = (s, t) => { scanned = s; total = t })
    assert(total === 4)
    assert(scanned >= 1 && scanned < 4,
      s"stats must prune the discovery scan: $scanned/$total")
    assert(CowTable.read(spark, base).filter(col("grp") === "g0").count() === 0L)
    assert(CowTable.read(spark, base).count() === 1000L - 249L)

    // a predicate the translator does NOT understand must scan all files
    // (conservative), never lose rows
    var s2 = -1L
    CowTable.deleteWhere(spark, base, length(col("grp")) > 90, "id",
      onDiscovery = (s, _) => s2 = s)
    assert(s2 === 4, "untranslatable predicate must keep every candidate")
    assert(CowTable.read(spark, base).count() === 751L)
  }

  test("an emptied table keeps its data schema and accepts a re-merge") {
    val base = Files.createTempDirectory("cow_empty").toString + "/t"
    CowTable.create(spark, base, table(10), "id", numFiles = 2)
    CowTable.deleteWhere(spark, base, lit(true), "id")
    val empty = CowTable.read(spark, base)
    assert(empty.columns.toSeq === Seq("id", "nm", "amt"),
      "an emptied table must preserve the DATA schema, not the manifest's")
    assert(empty.count() === 0L)
    assert(CowTable.readForKeys(spark, base,
      Seq(1L).toDF("id"), "id").columns.toSeq === Seq("id", "nm", "amt"))
    // and it must come back to life through a plain merge
    CowTable.merge(spark, base,
      Seq((5L, "re", 1.0, false)).toDF("id", "nm", "amt", "_delete"), "id")
    assert(CowTable.read(spark, base).count() === 1L)
  }

  test("additive schema evolution: old files null-fill, every path agrees") {
    val base = Files.createTempDirectory("cow_evo").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 4, retain = 4)
    // the source adds `tag`; only ids 1..5 (one file's range) are touched
    val src = Seq((2L, "upd", 99.0, "T", false), (200L, "new", 1.0, "T", false))
      .toDF("id", "nm", "amt", "tag", "_delete")
    // evolution rewrites no file: id 2 is vectored, the upserts are new
    assert(deletesByPosition(base, col("id") === 2L) {
      CowTable.merge(spark, base, src, "id", retain = 4)
    }.map(_.rows) === Seq(2L))
    val got = CowTable.read(spark, base)
    assert(got.columns.toSeq === Seq("id", "nm", "amt", "tag"))
    assert(got.filter(col("tag").isNotNull).count() === 2L)
    assert(got.filter(col("id") === 50L).select("tag").head().isNullAt(0),
      "an untouched old-file row must read NULL for the new column")
    assert(got.count() === 101L)

    // DSv2 + SQL catalog read the same widened shape
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    val sqlGot = spark.sql(s"SELECT tag, COUNT(*) AS n FROM graft.`$base` " +
      "WHERE tag IS NOT NULL GROUP BY 1")
    assert(sqlGot.head().getString(0) === "T" && sqlGot.head().getLong(1) === 2L)

    // a source missing a table column is rejected outright
    val e = intercept[IllegalArgumentException] {
      CowTable.merge(spark, base,
        Seq((3L, "x", false)).toDF("id", "nm", "_delete"), "id")
    }
    assert(e.getMessage.contains("missing table columns"))

    // the change feed diffs cleanly across the evolution boundary:
    // co-located untouched rows drop as no-ops (null == null)
    val ch = CowTable.changes(spark, base, 0L, 1L, "id")
    assert(ch.filter(col("_change_type") === "update").count() === 1L)
    assert(ch.filter(col("_change_type") === "insert").count() === 1L)
    assert(ch.count() === 2L, "evolution alone must produce no phantom diffs")

    // compaction materializes the widened shape into every file
    CowTable.compact(spark, base, targetRows = 1000L, "id", retain = 4)
    val files = CowTable.manifest(spark, base).map(_.file)
    assert(spark.read.parquet(files: _*).columns.contains("tag"))
  }

  test("vacuum honors the retention window: time travel still reads") {
    val base = Files.createTempDirectory("cow_tt").toString + "/t"
    val v0 = CowTable.create(spark, base, table(100), "id",
      numFiles = 2, retain = 2)
    val src = Seq((1L, "u", 0.0, false)).toDF("id", "nm", "amt", "_delete")
    val v1 = CowTable.merge(spark, base, src, "id", retain = 2)
    CowTable.vacuum(spark, base)
    // v0's files are referenced by the RETAINED v0 manifest -> kept
    val old = AtomicPublish.readVersion(spark, base, "manifest", v0)
    assert(old.count() === 2L)
    assert(spark.read
      .parquet(old.select("file").as[String].collect(): _*)
      .count() === 100L, "retained version's data must survive vacuum")
    assert(CowTable.read(spark, base).count() === 100L)
    assert(v1 === v0 + 1)
  }

  test("compact with zorder re-clusters along the Morton curve: 2-D box " +
    "candidates shrink, content and vectors conserved, stats set widened") {
    val base = Files.createTempDirectory("cow_zo").toString + "/t"
    // (seq, x, y): seq-clustered at create, x/y independent — the 2-D
    // predicate shape a single-key sort cannot prune on both sides of
    val df = (0 until 4096).map { i =>
      (i.toLong, (i * 37 % 64).toLong, (i * 53 % 64).toLong)
    }.toDF("seq", "x", "y")
    CowTable.create(spark, base, df, "seq", numFiles = 16,
      statsCols = Seq("x", "y"))
    CowTable.dvDelete(spark, base, col("seq") % 100 === 7) // MoR debt
    val expected = CowTable.read(spark, base).collect().toSet
    def cands(): Int = CowTable.manifest(spark, base).count { e =>
      def ok(cn: String) = (e.smin.get(cn), e.smax.get(cn)) match {
        case (Some(a), Some(b)) => b.toLong >= 16L && a.toLong <= 31L
        case _ => true
      }
      ok("x") && ok("y")
    }
    val pre = cands()
    assert(pre === 16, "seq-sorted files span full x/y: every file a candidate")
    CowTable.compact(spark, base, targetRows = 256, "seq",
      zorder = Seq("x", "y"))
    val m = CowTable.manifest(spark, base)
    assert(m.forall(_.dvRows === 0L), "zorder compact materializes vectors")
    val post = cands()
    assert(post < pre / 2,
      s"z-order must bound both dimensions per file: $pre -> $post")
    assert(CowTable.read(spark, base).collect().toSet === expected,
      "re-clustering must conserve every row exactly")
    // the z-columns joined the meta stats set: a later append keeps
    // recording their per-file ranges
    CowTable.append(spark, base, Seq((9999L, 1L, 1L)).toDF("seq", "x", "y"))
    val appended = CowTable.manifest(spark, base)
      .filter(e => e.kmin <= 9999L && e.kmax >= 9999L)
    assert(appended.exists(e => e.smin.contains("x") && e.smin.contains("y")),
      "later writes must keep recording the z-columns' stats")
  }

  test("time-based vacuum prunes versions older than the cutoff; travel " +
    "inside the kept window serves, beyond it fails fast, head survives") {
    val base = Files.createTempDirectory("cow_ttv").toString + "/t"
    val v0 = CowTable.create(spark, base, table(100), "id",
      numFiles = 2, retain = 10)
    Thread.sleep(5) // commit instants must strictly order across versions
    // compaction rewrites v0's two files into one
    val v1 = CowTable.compact(spark, base, targetRows = 1000L, "id",
      retain = 10)
    Thread.sleep(5)
    val v2 = CowTable.merge(spark, base,
      Seq((2L, "u2", 0.0, false)).toDF("id", "nm", "amt", "_delete"),
      "id", retain = 10)
    val cutoff = AtomicPublish.commitInstant(spark, base, v1).get
    // strictly-older versions go: v0 (instant < v1's); v1, v2 stay
    val (pruned, reclaimed) = CowTable.vacuumOlderThan(spark, base, cutoff)
    assert(pruned === 1, s"exactly v0 must be pruned, got $pruned")
    assert(reclaimed > 0, "v0's superseded rewrite must be reclaimed")
    assert(AtomicPublish.versions(spark, base) === Seq(v1, v2))
    assert(CowTable.readAt(spark, base, v1).count() === 100L,
      "travel inside the kept window must still serve")
    assert(intercept[Exception] {
      CowTable.readAt(spark, base, v0).count()
    }.getMessage.contains("not published"),
      "travel beyond the window must fail fast")
    // TIMESTAMP AS OF before every kept instant resolves to nothing —
    // never silently to a younger snapshot
    assert(AtomicPublish.committedAsOf(spark, base, cutoff - 1) === -1L)
    // a far-future cutoff must never touch the head
    val (p2, _) = CowTable.vacuumOlderThan(spark, base,
      System.currentTimeMillis() + 3600000L)
    assert(p2 === 1 && AtomicPublish.committed(spark, base) === v2)
    assert(CowTable.read(spark, base).count() === 100L)
  }

  test("a string clustering key discovers range-locally despite a shared " +
    "prefix; point lookups and predicate deletes prune") {
    val base = Files.createTempDirectory("cow_strk").toString + "/t"
    // every key shares 'user_0' at this size — the adversarial shape for
    // a naive first-bytes encoding; discovery strips the global common
    // prefix before bucketing
    val users = (0 until 400).map(i => (f"user_$i%04d", i, i * 1.0))
      .toDF("user_name", "n", "v")
    CowTable.create(spark, base, users, "user_name", numFiles = 8)

    val batch = Seq(("user_0003", 3, 99.0, false),
      ("user_0007", 7, 99.0, false), ("user_0005", 5, 0.0, true),
      ("zz_new", 400, 1.0, false))
      .toDF("user_name", "n", "v", "_delete")
    // string discovery reads only the low-range file (the other 7 are
    // unreadable while the merge runs) and vectors its 3 matches
    val touched = col("user_name").isin("user_0003", "user_0005", "user_0007")
    assert(deletesByPosition(base, touched) {
      CowTable.merge(spark, base, batch, "user_name")
    }.map(_.rows) === Seq(3L))
    assert(CowTable.manifest(spark, base).count(_.dvRows > 0) === 1,
      "string discovery must touch only the low-range file")
    val got = CowTable.read(spark, base)
    assert(got.count() === 400L) // 400 - 1 delete + 1 insert
    assert(got.filter(col("user_name") === "user_0003")
      .head().getDouble(2) === 99.0)
    assert(got.filter(col("user_name") === "user_0005").count() === 0L)

    // point lookup by name scans only intersecting files (the probe
    // returns candidate-file rows; the caller applies the key filter)
    val probed = CowTable.readForKeys(spark, base,
      Seq("user_0123").toDF("user_name"), "user_name")
    assert(probed.filter(col("user_name") === "user_0123").count() === 1L)
    assert(probed.count() < 400L,
      "the probe must scan a file subset, not the table")

    // predicate delete on the string key prunes discovery via the
    // auto-recorded natural min/max
    var scanned = -1L
    var total = -1L
    CowTable.deleteWhere(spark, base,
      col("user_name") >= "user_0390", "user_name",
      onDiscovery = (s, t) => { scanned = s; total = t })
    assert(scanned > 0 && scanned < total,
      s"string stats pruning must skip files: $scanned/$total")
    assert(CowTable.read(spark, base).count() === 389L) // drops 0390-0399 + zz_new
    assert(CowTable.read(spark, base)
      .filter(col("user_name") === "zz_new").count() === 0L,
      "zz_new sorts above user_0390: deleted too")
  }

  test("string-keyed SQL row-level DML: UPDATE by name, dup-name guard") {
    val base = Files.createTempDirectory("cow_strsql").toString + "/t"
    val users = (0 until 50).map(i => (f"user_$i%04d", i * 1.0))
      .toDF("user_name", "v")
    CowTable.create(spark, base, users, "user_name", numFiles = 2)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.sql(s"UPDATE graft.`$base` SET v = v + 100.0 " +
      "WHERE user_name = 'user_0007'")
    assert(CowTable.read(spark, base)
      .filter(col("user_name") === "user_0007").head().getDouble(1) === 107.0)
    // duplicate-name table: a partial UPDATE addresses rows by position
    // and changes only its match; a delete by name refuses
    // (row-identity guard)
    val dup = Files.createTempDirectory("cow_strdup").toString + "/t"
    CowTable.create(spark, dup,
      Seq(("a", 1.0, "x"), ("a", 2.0, "y"), ("b", 3.0, "z"))
        .toDF("user_name", "v", "tag"), "user_name", numFiles = 1)
    spark.sql(s"UPDATE graft.`$dup` SET v = 0.0 WHERE tag = 'x'")
    assert(CowTable.read(spark, dup).as[(String, Double, String)].collect()
      .sortBy(_._3).toSeq === Seq(("a", 0.0, "x"), ("a", 2.0, "y"),
        ("b", 3.0, "z")))
    val e = intercept[Exception] {
      CowTable.applyDelta(spark, dup, Seq("a").toDF("user_name"), None)
    }
    assert(e.getMessage.contains("not unique"))
  }

  test("string keys with a supplementary-char shared prefix discover " +
    "completely (code-point vs code-unit LCP)") {
    // "𐐀" (U+10400) is 2 UTF-16 code units but 1 code point. A
    // unit-counted LCP (4) fed to Spark's code-point substring would
    // strip past the real shared prefix (2 code points), invert a
    // file's encoded lo/hi bounds ("…amzz" → "zz" > "…bmaa" → "aa"),
    // and drop the file from discovery — silent row loss.
    val base = Files.createTempDirectory("cow_sup").toString + "/t"
    val keys = Seq("𐐀𐐀amzz",
      "𐐀𐐀bmaa",
      "𐐀𐐀cxxx",
      "𐐀𐐀dxxx")
    val df = keys.zipWithIndex.map { case (k, i) => (k, i * 1.0) }
      .toDF("k", "v")
    CowTable.create(spark, base, df, "k", numFiles = 2)
    keys.foreach { k =>
      val hit = CowTable.readForKeys(spark, base, Seq(k).toDF("k"), "k")
        .filter(col("k") === k).count()
      assert(hit === 1L, s"key $k must resolve through string discovery")
    }
    // and a merge by those keys updates every row (discovery complete)
    val upd = keys.map(k => (k, 100.0, false)).toDF("k", "v", "_delete")
    CowTable.merge(spark, base, upd, "k")
    assert(CowTable.read(spark, base).filter(col("v") === 100.0)
      .count() === keys.size.toLong)
  }

  test("composite clustering key: the silver SCD2 grain " +
    "(user_id, effective_from) merges, diffs and row-identifies by tuple") {
    val base = Files.createTempDirectory("cow_comp").toString + "/t"
    def d(s: String) = java.sql.Date.valueOf(s)
    val scd = Seq(
      (1L, d("2023-01-01"), "A"), (1L, d("2023-06-01"), "B"),
      (2L, d("2023-01-01"), "A"), (2L, d("2023-03-01"), "C"),
      (3L, d("2023-01-01"), "A"))
      .toDF("user_id", "effective_from", "status")
    val v0 = CowTable.create(spark, base, scd, "user_id,effective_from",
      numFiles = 2, retain = 4)

    // API merge by tuple: update ONE version of user 1, delete ONE
    // version of user 2, insert a new version of user 3
    val batch = Seq(
      (1L, d("2023-06-01"), "B2", false),
      (2L, d("2023-03-01"), "C", true),
      (3L, d("2023-09-01"), "N", false))
      .toDF("user_id", "effective_from", "status", "_delete")
    val v1 = CowTable.merge(spark, base, batch, "user_id,effective_from",
      retain = 4)
    val got = CowTable.read(spark, base).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getString(2))).toSet
    assert(got === Set(
      (1L, "2023-01-01", "A"), (1L, "2023-06-01", "B2"),
      (2L, "2023-01-01", "A"),
      (3L, "2023-01-01", "A"), (3L, "2023-09-01", "N")))

    // CDF diffs by tuple: the untouched version of user 1 is a no-op
    val feed = CowTable.changes(spark, base, v0, v1,
      "user_id,effective_from")
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed === Map("update" -> 1L, "delete" -> 1L, "insert" -> 1L))

    // SQL row-level DML through the catalog updates one version of a
    // multi-version user
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.sql(s"UPDATE graft.`$base` SET status = 'Z' " +
      "WHERE user_id = 3 AND effective_from = DATE '2023-09-01'")
    assert(CowTable.read(spark, base).filter(col("status") === "Z")
      .count() === 1L)
    assert(CowTable.manifest(spark, base).exists(_.dvRows > 0),
      "the tuple-identified UPDATE must land as deletion vectors")

    // the SAME data keyed on user_id alone violates row identity: SQL
    // addresses rows by position and updates only the matched version,
    // while a delete by key refuses instead of vectoring rows the
    // statement never hit
    val single = Files.createTempDirectory("cow_comp1").toString + "/t"
    CowTable.create(spark, single, scd, "user_id", numFiles = 1)
    spark.sql(s"UPDATE graft.`$single` SET status = 'Z' " +
      "WHERE user_id = 1 AND effective_from = DATE '2023-06-01'")
    assert(CowTable.read(spark, single).filter(col("user_id") === 1L)
      .select("status").as[String].collect().sorted.toSeq === Seq("A", "Z"))
    val e = intercept[Exception] {
      CowTable.applyDelta(spark, single, Seq(1L).toDF("user_id"), None)
    }
    assert(e.getMessage.contains("not unique"))

    // point probe by the full tuple through readForKeys (leading-key
    // discovery, exact rows via the returned candidate scan)
    val probe = CowTable.readForKeys(spark, base,
      Seq(1L).toDF("user_id"), "user_id,effective_from")
    assert(probe.filter(col("user_id") === 1L).count() === 2L)
  }

  test("a composite key with a STRING leading column discovers " +
    "range-locally and row-identifies by tuple") {
    val base = Files.createTempDirectory("cow_strcomp").toString + "/t"
    // (user_name, version): many versions per name — name alone is not
    // a row identity; every name shares the `user_` prefix (the LCP
    // strip must still spread discovery buckets)
    val df = (0 until 400).map(i =>
      (f"user_${i / 4}%04d", (i % 4).toLong, i * 1.0))
      .toDF("user_name", "version", "v")
    CowTable.create(spark, base, df, "user_name,version", numFiles = 4)

    // range-local merge: names in the lowest quarter only; the other 3
    // files are unreadable while it runs
    val batch = (0 until 25).map(i =>
      (f"user_${i}%04d", 1L, -1.0, false))
      .toDF("user_name", "version", "v", "_delete")
    deletesByPosition(base,
      col("user_name") <= "user_0024" && col("version") === 1L) {
      CowTable.merge(spark, base, batch, "user_name,version")
    }
    assert(CowTable.manifest(spark, base).count(_.dvRows > 0) === 1,
      "string-leading composite discovery must be range-local")
    // exactly one version of each touched name updated
    assert(CowTable.read(spark, base).filter(col("v") === -1.0)
      .count() === 25L)
    assert(CowTable.read(spark, base).count() === 400L)

    // SQL UPDATE by the full tuple (delta route, string+long rowId)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.sql(s"UPDATE graft.`$base` SET v = -2.0 " +
      "WHERE user_name = 'user_0099' AND version = 3")
    assert(CowTable.read(spark, base).filter(col("v") === -2.0)
      .count() === 1L)
  }

  test("non-leading key columns carry per-file stats: a predicate on " +
    "the tuple's tail prunes discovery") {
    val base = Files.createTempDirectory("cow_tailstats").toString + "/t"
    // (user_id, seq): seq correlates with user_id under the key sort,
    // so each file covers a narrow seq range
    val df = (1 to 800).map(i => (i.toLong / 4, i.toLong, s"v$i"))
      .toDF("user_id", "seq", "payload")
    CowTable.create(spark, base, df, "user_id,seq", numFiles = 8)
    var scanned = -1L
    var total = -1L
    CowTable.deleteWhere(spark, base, col("seq") > 780L, "user_id,seq",
      onDiscovery = (s, t) => { scanned = s; total = t })
    assert(total === 8L && scanned > 0 && scanned < total,
      s"tail-key stats must prune discovery: scanned $scanned/$total")
    assert(CowTable.read(spark, base).count() === 780L)
  }

  test("MERGE discovery intersects tail-column bounds: a low-cardinality " +
    "leading key (SCD2 grain) still reads only the tail-range files") {
    val base = Files.createTempDirectory("cow_tailm").toString + "/t"
    // 4 users × 200 versions each: the LEADING key admits every file a
    // touched user appears in, so leading-range discovery alone would
    // scan the whole table for any all-users batch
    val df = (1 to 800).map(i => (i.toLong % 4, i.toLong, s"v$i"))
      .toDF("user_id", "seq", "payload")
    CowTable.create(spark, base, df, "user_id,seq", numFiles = 8)

    // every user, LOW seq only: the tail hull [1, 160] must confine the
    // scan to the head-of-sequence files of each user — the high-seq
    // files are unreadable while the merge runs
    val src = df.filter(col("seq") <= 160L)
      .withColumn("payload", concat(lit("U"), col("payload")))
      .withColumn("_delete", lit(false))
    val added = deletesByPosition(base, col("seq") <= 160L) {
      CowTable.merge(spark, base, src, "user_id,seq")
    }
    val kept = CowTable.manifest(spark, base)
      .count(e => e.dv.isEmpty && !added.contains(e))
    assert(kept >= 3,
      s"tail-bound narrowing must keep the high-seq files untouched: " +
        s"kept $kept/8")

    val got = CowTable.read(spark, base)
    assert(got.count() === 800L)
    assert(got.filter(col("payload").startsWith("U")).count() ===
      df.filter(col("seq") <= 160L).count(),
      "every low-seq tuple must carry the update")
    assert(got.filter(col("seq") > 160L &&
      col("payload").startsWith("U")).count() === 0L)
  }

  test("replaceFiles with a scan version refuses ANY intervening commit " +
    "(serializable group MERGE, no write skew)") {
    val base = Files.createTempDirectory("cow_ser").toString + "/t"
    val v0 = CowTable.create(spark, base, table(100), "id", numFiles = 2)
    val m = CowTable.manifest(spark, base)
    // a concurrent APPEND lands after the statement's scan — it may
    // contain matched keys in files outside the replaced set, so the
    // commit must conflict even though the replaced entries are intact
    CowTable.append(spark, base,
      Seq((500L, "late", 1.0)).toDF("id", "nm", "amt"))
    // TYPED so SQL-layer callers can classify it as retryable (the
    // lakehouse ConcurrentModificationException contract), not a bare
    // IllegalArgumentException
    val e = intercept[graft.io.ConcurrentWriteException] {
      CowTable.replaceFiles(spark, base,
        Seq((m.head.file, m.head.dv)),
        table(10), scanVersion = Some(v0))
    }
    assert(e.getMessage.contains("concurrent update conflict"))
    // without an intervening commit the same replace commits fine
    val v2 = AtomicPublish.committed(spark, base)
    CowTable.replaceFiles(spark, base, Seq((m.head.file, m.head.dv)),
      table(10), scanVersion = Some(v2))
    assert(AtomicPublish.committed(spark, base) === v2 + 1)
  }

  test("RESTORE rolls back rows AND schema as a new metadata-only " +
    "commit; a pruned target fails fast naming the retain remedy") {
    val base = Files.createTempDirectory("cow_rst").toString + "/t"
    val v0 = CowTable.create(spark, base, table(100), "id", numFiles = 2,
      retain = 4)
    CowTable.merge(spark, base,
      Seq((5L, "edit", 1.0, false), (500L, "new", 2.0, false))
        .toDF("id", "nm", "amt", "_delete"), "id", retain = 4)
    CowTable.addColumns(spark, base,
      Seq(org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType)), retain = 4)
    assert(CowTable.read(spark, base).columns.contains("note"))

    // restore to v0: head moves FORWARD, rows and schema both roll back
    val v3 = CowTable.restore(spark, base, v0, retain = 4)
    assert(v3 === v0 + 3)
    val got = CowTable.read(spark, base)
    assert(!got.columns.contains("note"),
      "restore must roll the schema back with the rows")
    assert(got.orderBy("id").collect().toSeq ===
      table(100).orderBy("id").collect().toSeq)
    // restoring to the state the head already has is a no-op
    assert(CowTable.restore(spark, base, v3, retain = 4) === v3)

    // a target outside the retention window fails fast with the remedy
    val tight = Files.createTempDirectory("cow_rst2").toString + "/t"
    CowTable.create(spark, tight, table(10), "id", numFiles = 1)
    CowTable.append(spark, tight, Seq((11L, "x", 1.0)).toDF("id", "nm", "amt"))
    val e = intercept[IllegalArgumentException] {
      CowTable.restore(spark, tight, 0L)
    }
    assert(e.getMessage.contains("retain"),
      s"the error must name the retention remedy: ${e.getMessage}")
  }
}
