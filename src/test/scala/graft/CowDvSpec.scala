package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.io.{AtomicPublish, CowTable}

/** Merge-on-read extensions of the copy-on-write table: deletion
  * vectors, the change data feed, and txn-stamped exactly-once commits.
  */
class CowDvSpec extends SparkSpec {
  import spark.implicits._

  private def table(n: Int) =
    (1 to n).map(i => (i.toLong, s"name$i", i * 10.0)).toDF("id", "nm", "amt")

  test("dvDelete: scattered delete rewrites ZERO files; reads subtract") {
    val base = Files.createTempDirectory("cow_dv").toString + "/t"
    CowTable.create(spark, base, table(1000), "id", numFiles = 8)
    val before = CowTable.manifest(spark, base)

    CowTable.dvDelete(spark, base, col("id") % 10 === 0) // every file hit
    val m = CowTable.manifest(spark, base)
    assert(m.map(_.file).toSet === before.map(_.file).toSet,
      "no data file may be rewritten by a DV delete")
    assert(m.forall(_.dvRows > 0), "every file holds multiples of 10")
    assert(m.map(_.dvRows).sum === 100L)

    val got = CowTable.read(spark, base)
    assert(got.count() === 900L)
    assert(got.filter(col("id") % 10 === 0).count() === 0L)

    // cumulative second delete over the same files
    CowTable.dvDelete(spark, base, col("id") % 10 === 1)
    assert(CowTable.read(spark, base).count() === 800L)
    assert(CowTable.manifest(spark, base).map(_.dvRows).sum === 200L)
  }

  test("a later MERGE of a vectored file does not resurrect dead rows") {
    val base = Files.createTempDirectory("cow_dvm").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 2)
    CowTable.dvDelete(spark, base, col("id") === 7L)
    val before = CowTable.manifest(spark, base)
    // merge touches key 3 -> vectors it in the file that also holds dead
    // key 7, and writes its new image to a new file
    val src = Seq((3L, "u", 0.0, false)).toDF("id", "nm", "amt", "_delete")
    CowTable.merge(spark, base, src, "id")
    val got = CowTable.read(spark, base)
    assert(got.filter(col("id") === 7L).count() === 0L,
      "the new vector must keep the old one's rows")
    assert(got.filter(col("id") === 3L).select("nm").as[String].collect()
      .toSeq === Seq("u"))
    assert(got.count() === 99L)
    // the vectored file's cumulative vector holds 7 and 3; the other file
    // keeps its (file, dv); the upsert is the one new file
    val after = CowTable.manifest(spark, base)
    val by = after.map(e => e.file -> e).toMap
    val hit = before.filter(_.dvRows === 1L)
    assert(hit.size === 1)
    assert(by(hit.head.file).dvRows === 2L &&
      !java.util.Arrays.equals(by(hit.head.file).dv, hit.head.dv))
    before.filterNot(_ == hit.head).foreach(e => assert(by(e.file) === e))
    assert(after.size === 3)
  }

  test("a delete that empties a file removes it from the manifest: SQL " +
    "DELETE with no WHERE, deleteWhere(true), a dvDelete") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    def fresh(name: String) = {
      val base = Files.createTempDirectory(name).toString + "/t"
      CowTable.create(spark, base, table(100), "id", numFiles = 4, retain = 4)
      base
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq.sorted
    /** No fully vectored entry is left, and the head's feed equals the
      * whole-file diff. */
    def check(base: String, what: String): Unit = {
      assert(!CowTable.manifest(spark, base).exists(e => e.rows == e.dvRows),
        s"$what left a fully vectored entry")
      val v = AtomicPublish.committed(spark, base)
      assert(rows(CowTable.changes(spark, base, v - 1, v, "id")) ===
        rows(ChangeFeedSpec.reference(spark, base, v - 1, v, "id")), what)
    }

    val all = fresh("cow_empty_sql")
    spark.sql(s"DELETE FROM graft.`$all`")
    assert(CowTable.manifest(spark, all).isEmpty)
    assert(CowTable.read(spark, all).count() === 0L)
    check(all, "DELETE FROM with no WHERE")

    val vectored = fresh("cow_empty_api")
    CowTable.dvDelete(spark, vectored, col("id") % 10 === 0, retain = 4)
    CowTable.deleteWhere(spark, vectored, lit(true), "id", retain = 4)
    assert(CowTable.manifest(spark, vectored).isEmpty)
    check(vectored, "deleteWhere(true) over vectored files")

    val one = fresh("cow_empty_one")
    val before = CowTable.manifest(spark, one)
    val first = before.minBy(_.kmin)
    CowTable.dvDelete(spark, one, col("id") <= first.kmax, retain = 4)
    assert(CowTable.manifest(spark, one) === before.filterNot(_ == first),
      "only the emptied file leaves; the others keep their (file, dv)")
    assert(CowTable.read(spark, one).count() === 100L - first.rows)
    check(one, "a dvDelete emptying one file")
  }

  test("each entry's inline vector decodes to exactly its dvRows distinct " +
    "positions, through API and SQL deletes and a merge") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    val base = Files.createTempDirectory("cow_dvshared").toString + "/t"
    val v0 = CowTable.create(spark, base, table(200), "id", numFiles = 2,
      retain = 10)
    val Seq(a, b) = CowTable.manifest(spark, base).sortBy(_.kmin)
    val inA = col("id") <= a.kmax
    // the rows every version should hold, recomputed from the statements
    var model = (1 to 200).map(i => (i.toLong, s"name$i", i * 10.0))
    val want = scala.collection.mutable.Map(v0 -> model.toSet)
    def step(v: Long, keep: ((Long, String, Double)) => Boolean,
             upserts: Seq[(Long, String, Double)] = Nil): Unit = {
      model = model.filter(keep) ++ upserts
      want(v) = model.toSet
    }
    def entry(f: String) = CowTable.manifest(spark, base).find(_.file == f).get
    // 1. one statement vectors A and B
    step(CowTable.dvDelete(spark, base, col("id") % 10 === 0, retain = 10),
      _._1 % 10 != 0)
    val bOnce = entry(b.file)
    val aOnce = entry(a.file)
    assert(aOnce.dvRows > 0 && bOnce.dvRows > 0)
    // 2. only A again: B's entry is untouched
    step(CowTable.dvDelete(spark, base, inA && col("id") % 10 === 1,
      retain = 10), r => !(r._1 <= a.kmax && r._1 % 10 == 1))
    assert(entry(b.file) === bOnce &&
      !java.util.Arrays.equals(entry(a.file).dv, aOnce.dv))
    // 3. a SQL DELETE and an API merge touch A again
    spark.sql(s"DELETE FROM graft.`$base` WHERE id <= ${a.kmax} AND id % 10 = 2")
    step(AtomicPublish.committed(spark, base),
      r => !(r._1 <= a.kmax && r._1 % 10 == 2))
    step(CowTable.merge(spark, base,
      Seq((3L, "u", 0.0, false), (13L, "x", 0.0, true))
        .toDF("id", "nm", "amt", "_delete"), "id", retain = 10),
      r => r._1 != 3L && r._1 != 13L, Seq((3L, "u", 0.0)))
    assert(entry(b.file) === bOnce)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "nm", "amt").as[(Long, String, Double)].collect()
    def changeRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq.sorted
    val versions = AtomicPublish.versions(spark, base)
    assert(versions === want.keys.toSeq.sorted)
    versions.foreach { v =>
      CowTable.entriesAtVersion(spark, base, v).filter(_.dv.nonEmpty).foreach { e =>
        val ps = CowTable.voided(Seq((e.file, e.dv, e.dvRows)))(e.file)
        assert(ps.length === e.dvRows && ps.distinct.length === ps.length &&
          ps.forall(p => p >= 0 && p < e.rows),
          s"v$v: ${e.file} has ${ps.length} positions " +
            s"(${ps.distinct.length} distinct) for dvRows ${e.dvRows}")
      }
      val sql = spark.read.format("graft-artifact").option("base", base)
        .option("cow", "true").option("version", v.toString).load()
      Seq("readAt" -> CowTable.readAt(spark, base, v), "SQL scan" -> sql)
        .foreach { case (path, df) =>
          val got = rows(df)
          assert(got.length === want(v).size && got.toSet === want(v),
            s"$path of v$v")
        }
      versions.filter(_ < v).lastOption.foreach { p =>
        assert(changeRows(CowTable.changes(spark, base, p, v, "id")) ===
          changeRows(ChangeFeedSpec.reference(spark, base, p, v, "id")),
          s"changes v$p -> v$v")
      }
    }
    assert(rows(CowTable.read(spark, base)).toSet === want(versions.last))
  }

  test("compact materializes vectors; the pool never holds a vector file") {
    val base = Files.createTempDirectory("cow_dvc").toString + "/t"
    CowTable.create(spark, base, table(1000), "id", numFiles = 4)
    // the local file system keeps a `.crc` beside each file
    def pool = new java.io.File(s"$base/files").list()
      .filterNot(_.endsWith(".crc")).toSet
    val data = pool
    CowTable.dvDelete(spark, base, col("id") % 7 === 0)
    assert(pool === data, "a delete writes no pool file")
    val onRead = CowTable.read(spark, base).orderBy("id").collect()
    // target holds each file its own group: only the DV clause rewrites
    CowTable.compact(spark, base, targetRows = 1L, "id")
    val m = CowTable.manifest(spark, base)
    assert(m.forall(_.dvRows === 0L), "compact must materialize vectors")
    assert(CowTable.read(spark, base).orderBy("id").collect() === onRead)
    assert(CowTable.vacuum(spark, base) === data.size,
      "vacuum reclaims the compacted-away files")
    assert(!pool.exists(_.endsWith("-dv")), "a vector file in the pool")
  }

  test("DSv2 cow scan serves a vectored manifest merge-on-read") {
    val base = Files.createTempDirectory("cow_dvs").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 2)
    CowTable.dvDelete(spark, base, col("id") === 5L)
    CowTable.dvDelete(spark, base, col("id") % 10 === 0) // cumulative
    def served = spark.read.format("graft-artifact")
      .option("base", base).option("cow", "true").load()
    assert(served.count() === 89L,
      "the reader must subtract vectored row positions")
    assert(served.filter(col("id") === 5L || col("id") % 10 === 0)
      .count() === 0L, "no dead row may resurrect through DSv2")
    // a pushed filter on a vectored file stays correct: vectored
    // positions are matched against Spark's row index, which row-group
    // skipping leaves aligned (Spark re-applies the filter above the scan)
    assert(served.filter(col("id") <= 20L).count() === 17L)
    val moR = served.orderBy("id").collect().toSeq
    CowTable.compact(spark, base, targetRows = 1000L, "id")
    assert(served.orderBy("id").collect().toSeq === moR,
      "materialized and merge-on-read serving must agree bit-for-bit")
  }

  test("DSv2 keeps filter pushdown on vectored files: skipped row groups " +
    "leave the vectored positions aligned") {
    val base = Files.createTempDirectory("cow_dvrg").toString + "/t"
    // a tiny row-group target: each file gets several row groups
    spark.conf.set("parquet.block.size", "1024")
    spark.conf.set("parquet.block.size.row.check.min", "50")
    spark.conf.set("parquet.block.size.row.check.max", "50")
    try CowTable.create(spark, base, table(1000), "id", numFiles = 2)
    finally Seq("parquet.block.size", "parquet.block.size.row.check.min",
      "parquet.block.size.row.check.max").foreach(spark.conf.unset)
    val conf = spark.sparkContext.hadoopConfiguration
    CowTable.manifest(spark, base).foreach { e =>
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(e.file), conf))
      try assert(in.getRowGroups.size >= 3, s"${e.file}: too few row groups")
      finally in.close()
    }
    // vectors in every row group, the later ones included
    CowTable.dvDelete(spark, base, col("id") % 7 === 0)
    CowTable.dvDelete(spark, base, col("id") > 300L && col("id") % 5 === 0)
    val pred = col("id") > 120L
    val served = spark.read.format("graft-artifact")
      .option("base", base).option("cow", "true").load().filter(pred)
    // collect `served` itself: its executed plan carries the scan metric
    val got = served.collect().sortBy(_.getLong(0)).toSeq
    assert(got === CowTable.read(spark, base).filter(pred).orderBy("id")
      .collect().toSeq)
    val scanned = served.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        s.metrics("numOutputRows").value
    }.sum
    assert(scanned < CowTable.read(spark, base).count(),
      "the pushed filter must skip the first row group of a vectored file")
  }

  test("_pos is each row's position in its file, with or without a " +
    "pushed filter, and never names a vectored row") {
    val base = Files.createTempDirectory("cow_pos").toString + "/t"
    spark.conf.set("parquet.block.size", "1024")
    spark.conf.set("parquet.block.size.row.check.min", "50")
    spark.conf.set("parquet.block.size.row.check.max", "50")
    try CowTable.create(spark, base, table(1000), "id", numFiles = 2)
    finally Seq("parquet.block.size", "parquet.block.size.row.check.min",
      "parquet.block.size.row.check.max").foreach(spark.conf.unset)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    val conf = spark.sparkContext.hadoopConfiguration
    // pool files are written key-sorted, so a row's position is its
    // rank among its file's ids
    val truth = CowTable.manifest(spark, base).flatMap { e =>
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(e.file), conf))
      try assert(in.getRowGroups.size >= 3, s"${e.file}: too few row groups")
      finally in.close()
      spark.read.parquet(e.file).select("id").as[Long].collect().sorted
        .zipWithIndex.map { case (id, i) => (e.file, i.toLong, id) }
    }
    CowTable.dvDelete(spark, base, col("id") % 7 === 0)
    val live = truth.filter(_._3 % 7 != 0).toSet
    def positions(where: String) =
      spark.sql(s"SELECT _file, _pos, id FROM graft.`$base` $where")
        .as[(String, Long, Long)]
    assert(positions("").collect().toSet === live)
    val pushed = positions("WHERE id > 120")
    assert(pushed.collect().toSet === live.filter(_._3 > 120))
    val scanned = pushed.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        s.metrics("numOutputRows").value
    }.sum
    assert(scanned < live.size,
      "the pushed filter must skip the first row group of a vectored file")
    // a table column named `_pos` hides the metadata column: it is data
    val own = Files.createTempDirectory("cow_posdata").toString + "/t"
    CowTable.create(spark, own, Seq((1L, 7L), (2L, 9L)).toDF("id", "_pos"),
      "id", numFiles = 1)
    assert(spark.sql(s"SELECT id, _pos FROM graft.`$own`").as[(Long, Long)]
      .collect().toSet === Set((1L, 7L), (2L, 9L)))
  }

  test("changes: row-level diff from changed files only, no-ops dropped") {
    val base = Files.createTempDirectory("cow_cdf").toString + "/t"
    val v0 = CowTable.create(spark, base, table(100), "id",
      numFiles = 4, retain = 3)
    val src = Seq(
      (3L, "upd", 99.0, false),   // update
      (5L, "x", 0.0, true),       // delete
      (200L, "new", 1.0, false))  // insert
      .toDF("id", "nm", "amt", "_delete")
    val v1 = CowTable.merge(spark, base, src, "id", retain = 3)

    val cdf = CowTable.changes(spark, base, v0, v1, "id")
    val byType = cdf.groupBy("_change_type").count().as[(String, Long)]
      .collect().toMap
    assert(byType === Map("insert" -> 1L, "update" -> 1L, "delete" -> 1L),
      s"co-located unchanged rows must drop out as no-ops: $byType")
    assert(cdf.filter(col("_change_type") === "update")
      .select("amt").as[Double].head() === 99.0)
    assert(cdf.filter(col("_change_type") === "delete")
      .select("id").as[Long].head() === 5L)
  }

  test("changes sees a DV delete on an otherwise untouched file") {
    val base = Files.createTempDirectory("cow_cdfdv").toString + "/t"
    val v0 = CowTable.create(spark, base, table(100), "id",
      numFiles = 2, retain = 3)
    val v1 = CowTable.dvDelete(spark, base, col("id") === 42L, retain = 3)
    val cdf = CowTable.changes(spark, base, v0, v1, "id")
    assert(cdf.count() === 1L)
    val r = cdf.head()
    assert(r.getAs[String]("_change_type") === "delete")
    assert(r.getAs[Long]("id") === 42L)
  }

  test("changesSince + readAt: the cursor folds forward; pruned gaps fail fast") {
    val base = Files.createTempDirectory("cow_cursor").toString + "/t"
    val v0 = CowTable.create(spark, base, table(100), "id",
      numFiles = 2, retain = 8)
    CowTable.merge(spark, base, Seq(
      (3L, "upd", 99.0, false), (5L, "x", 0.0, true), (200L, "new", 1.0, false))
      .toDF("id", "nm", "amt", "_delete"), "id", retain = 8) // v1
    CowTable.dvDelete(spark, base, col("id") === 50L, retain = 8) // v2

    assert(CowTable.readAt(spark, base, v0).count() === 100L)
    assert(CowTable.readAt(spark, base, v0 + 1).count() === 100L) // -1 +1
    assert(CowTable.readAt(spark, base, v0 + 2).count() === 99L)

    val feed = CowTable.changesSince(spark, base, v0, "id")
    assert(feed.filter(col("_commit_version") === 1L).count() === 3L)
    val v2ch = feed.filter(col("_commit_version") === 2L).collect()
    assert(v2ch.length === 1 &&
      v2ch.head.getAs[String]("_change_type") === "delete" &&
      v2ch.head.getAs[Long]("id") === 50L)

    // a table whose retention pruned the span cannot serve the cursor
    val b2 = Files.createTempDirectory("cow_gap").toString + "/t"
    CowTable.create(spark, b2, table(10), "id", numFiles = 1, retain = 1)
    CowTable.merge(spark, b2,
      Seq((1L, "u", 0.0, false)).toDF("id", "nm", "amt", "_delete"), "id")
    intercept[Exception] {
      CowTable.changesSince(spark, b2, 0L, "id").count()
    }
  }

  test("DSv2 AS-OF: version-pinned cow read equals readAt") {
    val base = Files.createTempDirectory("cow_asof").toString + "/t"
    val v0 = CowTable.create(spark, base, table(100), "id",
      numFiles = 2, retain = 4)
    CowTable.merge(spark, base,
      Seq((7L, "u", 1.0, false), (300L, "n", 2.0, false))
        .toDF("id", "nm", "amt", "_delete"), "id", retain = 4)
    val asOf = spark.read.format("graft-artifact")
      .option("base", base).option("cow", "true")
      .option("version", v0.toString).load()
    val want = CowTable.readAt(spark, base, v0)
    assert(asOf.count() === 100L)
    assert(asOf.exceptAll(want).isEmpty && want.exceptAll(asOf).isEmpty,
      "the DSv2 version-pinned scan must equal the readAt snapshot")
    // the head points at the merged state
    assert(spark.read.format("graft-artifact")
      .option("base", base).option("cow", "true").load().count() === 101L)
  }

  test("exactlyOnceMerge: replays and stale batches are no-ops; compaction keeps the stamp") {
    val base = Files.createTempDirectory("cow_txn").toString + "/t"
    val b0 = Seq((1L, "a", 1.0)).toDF("id", "nm", "amt")
    val b1 = Seq((2L, "b", 2.0)).toDF("id", "nm", "amt")
    CowTable.exactlyOnceMerge(spark, base, b0, "id", "s1", 0L)
    val v1 = CowTable.exactlyOnceMerge(spark, base, b1, "id", "s1", 1L)
    assert(CowTable.lastTxn(spark, base, "s1") === 1L)

    // replay of batch 1 and a stale batch 0: no new version, no new rows
    assert(CowTable.exactlyOnceMerge(spark, base, b1, "id", "s1", 1L) === v1)
    assert(CowTable.exactlyOnceMerge(spark, base, b0, "id", "s1", 0L) === v1)
    assert(CowTable.read(spark, base).count() === 2L)

    // an unstamped maintenance commit must CARRY the stamp forward
    CowTable.compact(spark, base, targetRows = 1000L, "id")
    assert(CowTable.lastTxn(spark, base, "s1") === 1L,
      "compaction must not erase the writer's idempotence marker")
    // ...and an independent stream's stamps coexist
    CowTable.exactlyOnceMerge(spark, base,
      Seq((9L, "z", 9.0)).toDF("id", "nm", "amt"), "id", "s2", 0L)
    assert(CowTable.lastTxn(spark, base, "s1") === 1L)
    assert(CowTable.lastTxn(spark, base, "s2") === 0L)
    assert(CowTable.read(spark, base).count() === 3L)
  }

  test("a live-DV table is relocatable: RENAME TO serves identical " +
    "rows (vectors reference files by basename)") {
    val wh = Files.createTempDirectory("cow_dvren").toString
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    try {
      val df = (1 to 400).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      CowTable.create(spark, s"$wh/dv_live", df, "id", numFiles = 4)
      // scattered delete: every file vectored, none rewritten
      CowTable.dvDelete(spark, s"$wh/dv_live", col("id") % 7 === 0)
      val m = CowTable.manifest(spark, s"$wh/dv_live")
      assert(m.forall(_.dvRows > 0), "every file must carry a vector")
      val agg = "SELECT SUM(CAST(v AS DECIMAL(18,2))), COUNT(*) FROM "
      val before = spark.sql(agg + "graft.dv_live").head()
      spark.sql("ALTER TABLE graft.dv_live RENAME TO dv_moved")
      val after = spark.sql(agg + "graft.dv_moved").head()
      assert(after === before,
        "the moved table must serve the identical vectored snapshot")
      // the API path re-roots too
      assert(CowTable.read(spark, s"$wh/dv_moved")
        .filter(col("id") % 7 === 0).count() === 0L)
      // and a post-move delta commit keeps working (cumulative vector
      // over the re-rooted one)
      CowTable.dvDelete(spark, s"$wh/dv_moved", col("id") % 11 === 0)
      assert(CowTable.read(spark, s"$wh/dv_moved")
        .filter(col("id") % 11 === 0 || col("id") % 7 === 0).count() === 0L)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft.warehouse")
    }
  }
}
