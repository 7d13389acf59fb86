package graft

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.io.CowTable

/** SQL DML against cow tables through the V2 GraftCatalog: DELETE FROM
  * routes into the stats-pruned copy-on-write delete, INSERT INTO
  * appends pool files, SELECT serves the DV-aware manifest scan.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.graft",
    classOf[graft.sources.GraftCatalog].getName)

  private def table(n: Int) =
    (1 to n).map(i => (i.toLong, s"name$i", i * 10.0)).toDF("id", "nm", "amt")

  test("DELETE FROM … WHERE routes through SupportsDelete") {
    val base = Files.createTempDirectory("gcat_del").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 4)
    spark.sql(s"DELETE FROM graft.`$base` WHERE id <= 25 AND amt < 10000.0")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
      .head().getLong(0) === 75L)
    assert(CowTable.read(spark, base).filter(col("id") <= 25).count() === 0L)
  }

  test("an untranslatable DELETE predicate falls back to the row-level " +
    "path (deletion vectors, zero files rewritten)") {
    val base = Files.createTempDirectory("gcat_bad").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 4)
    val pre = CowTable.manifest(spark, base).map(_.file).toSet
    // length(nm) is not a convertible V2 filter: SupportsDelete refuses,
    // Spark rewrites through SupportsDelta — key-addressed DV delete
    spark.sql(s"DELETE FROM graft.`$base` WHERE length(nm) = 5") // name1..name9
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
      .head().getLong(0) === 91L)
    val m = CowTable.manifest(spark, base)
    assert(m.map(_.file).toSet === pre,
      "a row-level DELETE must land as vectors, rewriting no data file")
    assert(m.map(_.dvRows).sum === 9L)
  }

  test("DELETE with a subquery predicate takes the row-level path") {
    val base = Files.createTempDirectory("gcat_subq").toString + "/t"
    CowTable.create(spark, base, table(50), "id", numFiles = 2)
    table(10).select(col("id")).createOrReplaceTempView("gcat_doomed")
    spark.sql(
      s"DELETE FROM graft.`$base` WHERE id IN (SELECT id FROM gcat_doomed)")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
      .head().getLong(0) === 40L)
    assert(spark.sql(s"SELECT MIN(id) FROM graft.`$base`")
      .head().getLong(0) === 11L)
  }

  test("MERGE INTO applies delete/update/insert group-based: runtime file" +
    " pruning rewrites ONLY the files holding a matched key") {
    val base = Files.createTempDirectory("gcat_merge").toString + "/t"
    // 4 range files: ids 1-25, 26-50, 51-75, 76-100
    CowTable.create(spark, base, table(100), "id", numFiles = 4)
    val pre = CowTable.manifest(spark, base).sortBy(_.kmin).map(_.file)
    // source: delete ids 1-10, re-price ids 41-50, insert ids 101-105 —
    // every matched key lives in the first two files
    ((1 to 10).map(i => (i.toLong, "del")) ++
      (41 to 50).map(i => (i.toLong, "upd")) ++
      (101 to 105).map(i => (i.toLong, "ins")))
      .toDF("id", "act").createOrReplaceTempView("gcat_merge_src")
    spark.sql(
      s"""MERGE INTO graft.`$base` t USING gcat_merge_src s
         |ON t.id = s.id
         |WHEN MATCHED AND s.act = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET amt = t.amt + 0.5
         |WHEN NOT MATCHED THEN INSERT (id, nm, amt)
         |  VALUES (s.id, s.act, 1.0)""".stripMargin)
    val got = spark.sql(s"SELECT * FROM graft.`$base`")
    assert(got.count() === 95L) // 100 - 10 + 5
    assert(got.filter(col("id") <= 10).count() === 0L)
    assert(got.filter(col("id").between(41, 50))
      .agg(sum("amt")).head().getDouble(0) ===
      (41 to 50).map(_ * 10.0 + 0.5).sum)
    assert(got.filter(col("nm") === "ins").count() === 5L)
    val m = CowTable.manifest(spark, base)
    // Spark's RowLevelOperationRuntimeGroupFiltering + the scan's _file
    // runtime filter: the two UNMATCHED files must survive untouched,
    // the two matched ones must be replaced (copy-on-write, no vectors)
    assert(m.map(_.file).toSet.intersect(pre.toSet) === pre.drop(2).toSet,
      "group MERGE must rewrite exactly the files holding matched keys")
    assert(m.map(_.dvRows).sum === 0L, "group MERGE leaves no vectors")
    // untouched rows carried over bit-for-bit inside rewritten ranges
    assert(got.filter(col("id").between(11, 25))
      .agg(sum("amt")).head().getDouble(0) === (11 to 25).map(_ * 10.0).sum)
  }

  test("UPDATE rewrites through the delta path and survives a re-read") {
    val base = Files.createTempDirectory("gcat_upd").toString + "/t"
    CowTable.create(spark, base, table(30), "id", numFiles = 2)
    spark.sql(s"UPDATE graft.`$base` SET amt = amt * 2, nm = 'x2' " +
      "WHERE id % 3 = 0")
    val got = CowTable.read(spark, base)
    assert(got.count() === 30L)
    assert(got.filter(col("nm") === "x2").count() === 10L)
    assert(got.filter(col("id") === 9).head().getDouble(2) === 180.0)
    assert(got.filter(col("id") === 10).head().getDouble(2) === 100.0)
  }

  test("a null clustering key is refused at write time") {
    val base = Files.createTempDirectory("gcat_nullk").toString + "/t"
    val bad = Seq((Some(1L), "a", 1.0), (None, "b", 2.0))
      .toDF("id", "nm", "amt")
    val e = intercept[Exception] {
      CowTable.create(spark, base, bad, "id", numFiles = 1)
    }
    assert(e.getMessage.contains("must be non-null"))
  }

  test("INSERT INTO appends; INSERT OVERWRITE is refused") {
    val base = Files.createTempDirectory("gcat_ins").toString + "/t"
    CowTable.create(spark, base, table(10), "id", numFiles = 1)
    val before = CowTable.manifest(spark, base).map(_.file).toSet
    spark.sql(s"INSERT INTO graft.`$base` VALUES (100L, 'new', 1.0)")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
      .head().getLong(0) === 11L)
    assert(CowTable.manifest(spark, base).map(_.file).toSet
      .intersect(before) === before, "append must not rewrite any file")
    // Spark itself refuses the overwrite at planning: the table declares
    // no truncate/dynamic-overwrite capability (which of the two the
    // message names depends on the session's partitionOverwriteMode),
    // so the guard never even needs the InsertableRelation's own require
    val e = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE graft.`$base` VALUES (1L, 'x', 0.0)")
    }
    assert(e.getMessage.contains("does not support") ||
      e.getMessage.contains("INSERT OVERWRITE is not supported"))
    assert(CowTable.read(spark, base).count() === 11L, "nothing overwritten")
  }

  test("DELETE FROM without WHERE truncates; schema survives") {
    val base = Files.createTempDirectory("gcat_trunc").toString + "/t"
    CowTable.create(spark, base, table(10), "id", numFiles = 2)
    spark.sql(s"DELETE FROM graft.`$base`")
    val got = spark.sql(s"SELECT * FROM graft.`$base`")
    assert(got.columns.toSeq === Seq("id", "nm", "amt"))
    assert(got.count() === 0L)
    spark.sql(s"INSERT INTO graft.`$base` VALUES (1L, 'back', 2.0)")
    assert(spark.sql(s"SELECT nm FROM graft.`$base`")
      .head().getString(0) === "back")
  }

  test("SELECT through the catalog serves a deletion-vectored manifest") {
    val base = Files.createTempDirectory("gcat_dv").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 2)
    CowTable.dvDelete(spark, base, col("id") % 10 === 0)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
      .head().getLong(0) === 90L)
    assert(spark.sql(s"SELECT SUM(amt) FROM graft.`$base` WHERE id <= 10")
      .head().getDouble(0) === (1 to 9).map(_ * 10.0).sum)
  }

  test("decimal, short, byte, binary, struct and map columns read and " +
    "write exactly through SQL") {
    val base = Files.createTempDirectory("gcat_types").toString + "/t"
    val df = (1 to 40).map { i =>
      (i.toLong, BigDecimal(i) + BigDecimal("0.125"), i.toShort, i.toByte,
        Array[Byte](i.toByte, 7), (i, s"s$i"), Map(s"k$i" -> i * 0.5))
    }.toDF("id", "dec", "sh", "by", "bin", "st", "mp")
      .withColumn("dec", col("dec").cast("decimal(12,3)"))
    CowTable.create(spark, base, df, "id", numFiles = 2)
    // binary values compare by content, not by array identity
    def rows(d: org.apache.spark.sql.DataFrame) = d.orderBy("id").collect()
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v }).toSeq
    def sqlRows = rows(spark.sql(s"SELECT * FROM graft.`$base`"))
    assert(sqlRows === rows(CowTable.read(spark, base)))

    spark.sql(s"UPDATE graft.`$base` SET dec = dec + 1.001 WHERE id <= 5")
    spark.sql(s"INSERT INTO graft.`$base` SELECT 100L, " +
      "CAST(12345.678 AS DECIMAL(12,3)), CAST(1 AS SMALLINT), " +
      "CAST(2 AS TINYINT), X'0A0B', named_struct('_1', 3, '_2', 'x'), " +
      "map('k', 1.5D)")
    spark.sql(s"MERGE INTO graft.`$base` t USING (SELECT 6L AS id, " +
      "CAST(-0.5 AS DECIMAL(12,3)) AS dec) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET dec = s.dec")
    spark.sql(s"DELETE FROM graft.`$base` WHERE dec = 7.125")
    val decs = spark.sql(s"SELECT id, dec FROM graft.`$base`").collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val want = ((1 to 40).filter(_ != 7).map { i =>
      i.toLong -> (BigDecimal(i) + BigDecimal("0.125") +
        (if (i <= 5) BigDecimal("1.001") else BigDecimal(0)))
    } ++ Seq(6L -> BigDecimal("-0.5"), 100L -> BigDecimal("12345.678"))).toMap
    assert(decs.keySet === want.keySet)
    want.foreach { case (k, v) =>
      assert(BigDecimal(decs(k)) === v, s"id $k")
      assert(decs(k).scale === 3, s"id $k keeps DECIMAL(12,3)")
    }
    assert(sqlRows === rows(CowTable.read(spark, base)))
  }

  test("a non-cow path is NoSuchTable, not a crash") {
    intercept[AnalysisException] {
      spark.sql("SELECT * FROM graft.`/nonexistent/nowhere`").collect()
    }
  }

  test("CREATE TABLE with key property, full SQL lifecycle, DROP TABLE") {
    val base = Files.createTempDirectory("gcat_ddl").toString + "/t"
    spark.sql(s"CREATE TABLE graft.`$base` (id BIGINT, nm STRING, " +
      "amt DOUBLE) TBLPROPERTIES ('key'='id', 'statsCols'='nm')")
    assert(spark.sql(s"SELECT * FROM graft.`$base`").count() === 0L)
    spark.sql(s"INSERT INTO graft.`$base` VALUES (1L, 'a', 1.0), " +
      "(2L, 'b', 2.0)")
    spark.sql(s"UPDATE graft.`$base` SET amt = 9.0 WHERE nm = 'b'")
    assert(spark.sql(s"SELECT SUM(amt) FROM graft.`$base`")
      .head().getDouble(0) === 10.0)
    assert(CowTable.meta(spark, base).get.statsCols === Seq("nm"))
    assert(spark.sql(s"DROP TABLE graft.`$base`") != null)
    intercept[AnalysisException] {
      spark.sql(s"SELECT * FROM graft.`$base`").collect()
    }
  }

  test("CREATE TABLE without the key property is refused") {
    val base = Files.createTempDirectory("gcat_nokey").toString + "/t"
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$base` (id BIGINT)")
    }
    assert(e.getMessage.contains("key"))
  }

  test("CTAS creates and populates in one statement") {
    val base = Files.createTempDirectory("gcat_ctas").toString + "/t"
    table(20).createOrReplaceTempView("gcat_ctas_src")
    spark.sql(s"CREATE TABLE graft.`$base` TBLPROPERTIES ('key'='id') " +
      "AS SELECT * FROM gcat_ctas_src")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
      .head().getLong(0) === 20L)
  }

  test("CALL graft.compact and graft.vacuum maintain the table from SQL") {
    val base = Files.createTempDirectory("gcat_call").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 8)
    CowTable.dvDelete(spark, base, col("id") % 10 === 0)
    val res = spark.sql(
      s"CALL graft.compact(`table` => '$base', target_rows => 1000)")
    assert(res.columns.toSeq === Seq("version", "data_files"))
    assert(res.head().getLong(1) === 1L, "100 rows pack into one file")
    assert(CowTable.manifest(spark, base).forall(_.dvRows === 0L))
    val reclaimed = spark.sql(s"CALL graft.vacuum('$base', 0)")
      .head().getLong(0)
    assert(reclaimed > 0L, "superseded files reclaimed")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
      .head().getLong(0) === 90L)
  }

  test("TBLPROPERTIES retain: table-level retention makes SQL DML keep " +
    "time-travel/CDC depth instead of collapsing history") {
    val base = Files.createTempDirectory("gcat_ret").toString + "/t"
    table(100).createOrReplaceTempView("gcat_ret_src")
    spark.sql(s"CREATE TABLE graft.`$base` " +
      "TBLPROPERTIES ('key'='id', 'retain'='4') AS " +
      "SELECT * FROM gcat_ret_src")
    // CTAS = create (v0, empty) + insert (v1); two row-level statements
    // land v2 and v3 — each would prune its predecessors at the default
    // retain=1, stranding any change-feed subscriber
    spark.sql(s"UPDATE graft.`$base` SET amt = amt + 1 WHERE id % 10 = 1")
    spark.sql(s"DELETE FROM graft.`$base` WHERE id % 10 = 2")
    val vs = graft.io.AtomicPublish.versions(spark, base)
    assert(vs.size >= 4,
      s"table-level retain=4 must keep the DML history, got $vs")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base` VERSION AS OF 1")
      .head().getLong(0) === 100L,
      "the pre-DML snapshot must stay readable")
  }

  test("ADD CONSTRAINT … CHECK enforces per-row on every write path; " +
    "existing-data validation, DROP CONSTRAINT, column guards") {
    val base = Files.createTempDirectory("gcat_chk").toString + "/t"
    // amt is NULLABLE: the CHECK-passes-on-UNKNOWN case below must hit
    // the constraint, not a schema NOT NULL assertion
    CowTable.create(spark, base,
      (1 to 100).map(i => (i.toLong, s"name$i", Option(i * 10.0)))
        .toDF("id", "nm", "amt"),
      "id", numFiles = 4, retain = 8)

    // a constraint the existing data violates must be refused
    val eBad = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$base` ADD CONSTRAINT big CHECK (amt > 500.0)")
    }
    assert(eBad.getMessage != null)
    assert(graft.io.CowTable.meta(spark, base).get.checks.isEmpty,
      "a failed ADD CONSTRAINT must record nothing")

    spark.sql(s"ALTER TABLE graft.`$base` " +
      "ADD CONSTRAINT amt_pos CHECK (amt >= 0.0)")
    assert(graft.io.CowTable.meta(spark, base).get.checks ===
      Seq(("amt_pos", "amt >= 0.0")))

    // valid writes pass through every path
    spark.sql(s"INSERT INTO graft.`$base` VALUES (200, 'ok', 5.0)")
    spark.sql(s"UPDATE graft.`$base` SET amt = amt + 1 WHERE id = 1")
    CowTable.merge(spark, base,
      Seq((201L, "m", 7.0, false)).toDF("id", "nm", "amt", "_delete"), "id")

    // violating writes fail the STATEMENT on each path: SQL INSERT,
    // SQL UPDATE (delta route), API merge, API append — and leave
    // nothing behind: no staging directory, no new pool file
    def listed(dir: String): Set[String] =
      Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)
    def violates(f: => Unit): Unit = {
      val pool = listed(s"$base/files")
      val e = intercept[Exception](f)
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("amt_pos")),
        s"the failure must name the constraint: ${msgs(e).mkString(" | ")}")
      assert(!listed(base).exists(_.startsWith(".data-")),
        "a rejected write must remove its staging directory")
      assert(listed(s"$base/files") === pool,
        "a rejected write must not add a pool file")
    }
    violates(spark.sql(s"INSERT INTO graft.`$base` VALUES (300, 'bad', -1.0)"))
    violates(spark.sql(s"UPDATE graft.`$base` SET amt = -5.0 WHERE id = 2"))
    violates(CowTable.merge(spark, base,
      Seq((301L, "bm", -2.0, false)).toDF("id", "nm", "amt", "_delete"), "id"))
    violates(CowTable.append(spark, base,
      Seq((302L, "ba", -3.0)).toDF("id", "nm", "amt")))
    // rows from local data fail while the plan is optimized; rows Spark
    // must compute fail in a job — without AQE, inside the write job
    // itself, after its output directory exists
    def computed(id: Long): org.apache.spark.sql.DataFrame =
      spark.range(id, id + 1).select(col("id"), lit("c").as("nm"),
        (col("id") - lit(id + 3)).cast("double").as("amt"))
    for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        violates(CowTable.append(spark, base, computed(305L)))
        violates(CowTable.merge(spark, base,
          computed(306L).withColumn("_delete", lit(false)), "id"))
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
    // nothing landed: the table still aggregates clean
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base` WHERE amt < 0")
      .head().getLong(0) === 0L)

    // NULL passes (SQL CHECK: UNKNOWN is not a violation)
    spark.sql(s"INSERT INTO graft.`$base` VALUES (303, 'nullamt', NULL)")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base` WHERE id = 303")
      .head().getLong(0) === 1L)

    // a referenced column can be neither dropped nor renamed
    val eDrop = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$base` DROP COLUMN amt")
    }
    assert(eDrop.getMessage.contains("amt_pos"))

    // DROP CONSTRAINT lifts enforcement; history records both DDL ops
    spark.sql(s"ALTER TABLE graft.`$base` DROP CONSTRAINT amt_pos")
    spark.sql(s"INSERT INTO graft.`$base` VALUES (304, 'nowok', -9.0)")
    val ops = spark.sql(s"CALL graft.history(`table` => '$base')")
      .collect().map(_.getString(2)).toSeq
    assert(ops.contains("ADD CONSTRAINT amt_pos") &&
      ops.contains("DROP CONSTRAINT amt_pos"),
      s"history must record the constraint DDL, got: $ops")
  }

  test("column DEFAULT lifecycle: exists-default fills pre-column files " +
    "(even under a pushed filter), SET DEFAULT is never retroactive, " +
    "DROP DEFAULT nulls future omissions") {
    val base = Files.createTempDirectory("gcat_def").toString + "/t"
    CowTable.create(spark, base,
      (1 to 4).map(i => (i.toLong, s"n$i")).toDF("id", "nm"), "id",
      numFiles = 1, retain = 10)
    spark.sql(s"ALTER TABLE graft.`$base` ADD COLUMN flag INT DEFAULT 7")
    def flags(): Seq[(Long, Any)] =
      spark.sql(s"SELECT id, flag FROM graft.`$base` ORDER BY id")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getInt(1))).toSeq
    assert(flags() === Seq((1L, 7), (2L, 7), (3L, 7), (4L, 7)),
      "pre-column rows must read the exists-default")
    // a PUSHED filter on the defaulted column must not drop pre-column
    // files (parquet-mr would treat the missing column as NULL)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base` WHERE flag = 7")
      .head().getLong(0) === 4L)

    spark.sql(s"INSERT INTO graft.`$base` (id, nm) VALUES (10, 'a')")
    spark.sql(s"ALTER TABLE graft.`$base` ALTER COLUMN flag SET DEFAULT 9")
    spark.sql(s"INSERT INTO graft.`$base` (id, nm) VALUES (11, 'b')")
    spark.sql(s"INSERT INTO graft.`$base` VALUES (12, 'c', DEFAULT)")
    spark.sql(s"UPDATE graft.`$base` SET flag = DEFAULT WHERE id = 10")
    // SET DEFAULT governs future writes only: rows 1-4 still read 7
    assert(flags() === Seq((1L, 7), (2L, 7), (3L, 7), (4L, 7),
      (10L, 9), (11L, 9), (12L, 9)))

    spark.sql(s"ALTER TABLE graft.`$base` ALTER COLUMN flag DROP DEFAULT")
    spark.sql(s"INSERT INTO graft.`$base` (id, nm) VALUES (13, 'd')")
    assert(flags().last === ((13L, null)),
      "after DROP DEFAULT an omitted column is NULL")
    // the DDL trail is in the history
    val ops = spark.sql(s"CALL graft.history(`table` => '$base')")
      .collect().map(_.getString(2)).toSeq
    assert(ops.count(_ == "SET DEFAULT flag") === 1 &&
      ops.count(_ == "DROP DEFAULT flag") === 1, s"got: $ops")
  }

  test("GENERATED ALWAYS AS: recompute on write, source-column DDL " +
    "guards, generated column droppable") {
    val wh = Files.createTempDirectory("gcat_gen_wh").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    try {
      spark.sql("CREATE TABLE graft.gt (id BIGINT, ts TIMESTAMP, " +
        "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
        "TBLPROPERTIES ('key'='id')")
      spark.sql("INSERT INTO graft.gt VALUES " +
        "(1, TIMESTAMP '2024-03-05 10:00:00', DATE '1999-01-01')")
      assert(spark.sql("SELECT CAST(d AS STRING) FROM graft.gt")
        .head().getString(0) === "2024-03-05",
        "a provided value must be recomputed from the expression")
      spark.sql("UPDATE graft.gt SET ts = TIMESTAMP '2025-07-09 09:00:00' " +
        "WHERE id = 1")
      assert(spark.sql("SELECT CAST(d AS STRING) FROM graft.gt")
        .head().getString(0) === "2025-07-09",
        "updating the source column must recompute the generated one")
      // the source column is pinned by the expression
      val eDrop = intercept[Exception] {
        spark.sql("ALTER TABLE graft.gt DROP COLUMN ts")
      }
      assert(eDrop.getMessage.contains("generated column"))
      val eRen = intercept[Exception] {
        spark.sql("ALTER TABLE graft.gt RENAME COLUMN ts TO ts2")
      }
      assert(eRen.getMessage.contains("generated column"))
      // the generated column itself CAN be dropped (metadata goes with it)
      spark.sql("ALTER TABLE graft.gt DROP COLUMN d")
      assert(!spark.sql("SELECT * FROM graft.gt").columns.contains("d"))
      spark.sql("ALTER TABLE graft.gt DROP COLUMN ts") // now unpinned
      spark.sql("DROP TABLE graft.gt")
    } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
  }

  test("IDENTITY: two RACING appends never mint the same id (hwm " +
    "commits with the rows); key/type/count guards at CREATE") {
    val wh = Files.createTempDirectory("gcat_idn_wh").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    try {
      spark.sql("CREATE TABLE graft.idr (k BIGINT, " +
        "sk BIGINT GENERATED ALWAYS AS IDENTITY, v DOUBLE) " +
        "TBLPROPERTIES ('key'='k')")
      val base = s"$wh/idr"
      def batch(off: Int) = (1 to 50)
        .map(i => (off * 100L + i, None: Option[Long], i * 1.0))
        .toDF("k", "sk", "v")
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def runner(off: Int) = new Thread(() =>
        try CowTable.append(spark, base, batch(off))
        catch { case t: Throwable => errs.add(t); () })
      val t1 = runner(1)
      val t2 = runner(2)
      t1.start(); t2.start(); t1.join(); t2.join()
      assert(errs.isEmpty, s"appends must not fail: ${errs.peek()}")
      val ids = spark.sql("SELECT sk FROM graft.idr")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === (1L to 100L),
        s"racing appends must partition the id space, got: ${ids.take(10)}…")

      // CREATE guards: identity as clustering key, non-BIGINT, two
      val e1 = intercept[Exception] {
        spark.sql("CREATE TABLE graft.idbad1 (" +
          "sk BIGINT GENERATED ALWAYS AS IDENTITY, v DOUBLE) " +
          "TBLPROPERTIES ('key'='sk')")
      }
      assert(e1.getMessage.contains("cannot be the clustering key"))
      val e2 = intercept[Exception] {
        spark.sql("CREATE TABLE graft.idbad2 (k BIGINT, " +
          "sk INT GENERATED ALWAYS AS IDENTITY) " +
          "TBLPROPERTIES ('key'='k')")
      }
      assert(e2.getMessage.contains("must be BIGINT"))
      // an INSERT-ONLY merge routes through the append path, so the
      // identity is ASSIGNED (not refused): the id space stays dense
      Seq((999L, 9.9)).toDF("k", "v").createOrReplaceTempView("idr_src")
      spark.sql("MERGE INTO graft.idr t USING idr_src s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
      assert(spark.sql("SELECT sk FROM graft.idr WHERE k = 999")
        .head().getLong(0) === 101L,
        "an insert-only MERGE must mint the next identity value")
      // a MIXED merge's inserts go through the row-level writer, which
      // cannot mint values: the NULL identity is refused loudly
      Seq((999L, 1.0), (998L, 2.0)).toDF("k", "v")
        .createOrReplaceTempView("idr_src2")
      val e3 = intercept[Exception] {
        spark.sql("MERGE INTO graft.idr t USING idr_src2 s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET v = s.v " +
          "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e3).exists(m => m.contains("identity") &&
        m.contains("INSERT/append")), s"got: ${msgs(e3).take(3)}")
    } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
  }

  test("CALL graft.vacuum(older_than_ms) prunes history from SQL; the " +
    "pruned version's time travel fails fast") {
    val base = Files.createTempDirectory("gcat_ttv").toString + "/t"
    val v0 = CowTable.create(spark, base, table(100), "id",
      numFiles = 4, retain = 10)
    Thread.sleep(5) // instants must strictly order
    CowTable.merge(spark, base,
      Seq((1L, "u", 0.0, false)).toDF("id", "nm", "amt", "_delete"),
      "id", retain = 10)
    val v1 = graft.io.AtomicPublish.committed(spark, base)
    val cutoff = graft.io.AtomicPublish.commitInstant(spark, base, v1).get
    val r = spark.sql(s"CALL graft.vacuum(`table` => '$base', " +
      s"older_than_ms => ${cutoff}L)").head()
    assert(r.getLong(1) === 1L, "exactly v0 pruned")
    assert(r.getLong(0) > 0L, "v0's superseded rewrite reclaimed")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
      .head().getLong(0) === 100L)
    val e = intercept[Exception] {
      spark.sql(s"SELECT COUNT(*) FROM graft.`$base` VERSION AS OF $v0")
        .head()
    }
    assert(e.getMessage.contains("pruned"),
      s"pruned-version travel must fail fast, got: ${e.getMessage}")
  }

  test("MERGE WITH SCHEMA EVOLUTION auto-ADDs a source-only column; old " +
    "rows read NULL, untouched files stay untouched") {
    val base = Files.createTempDirectory("gcat_msev").toString + "/t"
    CowTable.create(spark, base, table(400), "id", numFiles = 8)
    val pre = CowTable.manifest(spark, base).map(_.file).toSet
    // range-local source carrying a column the table lacks
    table(400).filter(col("id") <= 50)
      .withColumn("flag", lit("NEW"))
      .createOrReplaceTempView("gcat_msev_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$base` t
         |USING gcat_msev_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(s"SELECT COUNT(*) AS n, COUNT(flag) AS f " +
      s"FROM graft.`$base`").head()
    assert(got.getLong(0) === 400L)
    assert(got.getLong(1) === 50L,
      "matched rows carry the evolved column; the rest read NULL")
    val kept = CowTable.manifest(spark, base).map(_.file).toSet.intersect(pre)
    assert(kept.size >= 5,
      s"evolution must not rewrite unmatched files: kept ${kept.size}/8")
    // the evolved column went through COLUMN MAPPING: dropping it and
    // re-adding the same name must NOT resurrect the old values
    spark.sql(s"ALTER TABLE graft.`$base` DROP COLUMN flag")
    spark.sql(s"ALTER TABLE graft.`$base` ADD COLUMN flag STRING")
    assert(spark.sql(s"SELECT COUNT(flag) FROM graft.`$base`")
      .head().getLong(0) === 0L,
      "a re-added column must read NULL, never the dropped data")
  }

  test("applyDelta rediscovers key positions across a competing rewrite") {
    val base = Files.createTempDirectory("gcat_race").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 4)
    // the delta deletes ids 5 and 55; between its position discovery and
    // its CAS, a competing MERGE rewrites the file holding id 5 (updates
    // ids 1-10), so the first attempt's vector points at a DEAD file —
    // carrying those positions would silently miss the delete
    var fired = false
    CowTable.applyDelta(spark, base,
      Seq(5L, 55L).toDF("id"),
      inserts = Some(Seq((200L, "ins", 1.0)).toDF("id", "nm", "amt")),
      beforeCommit = () => if (!fired) {
        fired = true
        CowTable.merge(spark, base,
          table(100).filter(col("id") <= 10)
            .withColumn("amt", col("amt") + 1000.0), "id")
      })
    val got = CowTable.read(spark, base)
    assert(got.count() === 99L) // 100 - 2 + 1
    assert(got.filter(col("id").isin(5L, 55L)).count() === 0L,
      "both deletes must land even though id 5's file was rewritten")
    assert(got.filter(col("id") === 7).head().getDouble(2) === 1070.0,
      "the competing merge's update must survive")
    assert(got.filter(col("id") === 200).count() === 1L)
  }

  test("a key-identified UPDATE on a duplicate-key table refuses instead " +
    "of silently dropping the unmatched duplicate") {
    val base = Files.createTempDirectory("gcat_dupk").toString + "/t"
    // key 1 appears twice — legal for the API (merge replaces by key),
    // fatal for SQL row-level DML, whose rowId IS the key
    CowTable.create(spark, base,
      Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "c", 3.0))
        .toDF("id", "nm", "amt"), "id", numFiles = 1)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$base` SET amt = 9.0 WHERE nm = 'a'")
    }
    assert(e.getMessage.contains("not unique"),
      s"expected the row-identity guard, got: ${e.getMessage}")
    // nothing was lost OR changed: the statement failed atomically
    assert(CowTable.read(spark, base).count() === 3L)
    assert(CowTable.read(spark, base)
      .agg(sum("amt")).head().getDouble(0) === 6.0)
  }

  test("an UPDATE addressing ALL duplicates of a key commits (actions " +
    "cover every live hit)") {
    val base = Files.createTempDirectory("gcat_dupall").toString + "/t"
    CowTable.create(spark, base,
      Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "c", 3.0))
        .toDF("id", "nm", "amt"), "id", numFiles = 1)
    // WHERE id = 1 matches both duplicates: two delete actions for key 1,
    // two live hits — delete-all + reinsert-all is exactly SQL semantics
    spark.sql(s"UPDATE graft.`$base` SET amt = amt + 10.0 WHERE id = 1")
    val got = CowTable.read(spark, base).orderBy("nm").collect()
    assert(got.map(_.getDouble(2)).toSeq === Seq(11.0, 12.0, 3.0))
  }

  test("a row-level statement that changes nothing commits no version") {
    val base = Files.createTempDirectory("gcat_noop").toString + "/t"
    CowTable.create(spark, base, table(10), "id", numFiles = 1)
    val v0 = graft.io.AtomicPublish.committed(spark, base)
    spark.sql(s"UPDATE graft.`$base` SET amt = 0.0 WHERE length(nm) = 99")
    spark.sql(s"DELETE FROM graft.`$base` WHERE length(nm) = 99")
    assert(graft.io.AtomicPublish.committed(spark, base) === v0,
      "no-op DML must short-circuit to the parent version")
  }

  test("a losing delta attempt's deletion vector is reclaimed on retry, " +
    "not orphaned until vacuum") {
    val base = Files.createTempDirectory("gcat_dvorph").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 4)
    var fired = false
    CowTable.applyDelta(spark, base, Seq(5L, 55L).toDF("id"),
      inserts = None,
      beforeCommit = () => if (!fired) {
        fired = true // competing append bumps the version: CAS loses once
        CowTable.append(spark, base, Seq((300L, "x", 1.0))
          .toDF("id", "nm", "amt"))
      })
    assert(CowTable.read(spark, base).count() === 99L) // 100 - 2 + 1
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvDirs = fs.listStatus(new org.apache.hadoop.fs.Path(base, "files"))
      .map(_.getPath.getName).filter(_.endsWith("-dv"))
    assert(dvDirs.length === 1,
      s"the losing attempt's vector must be deleted on retry, got $dvDirs")
  }

  test("an unknown procedure is an analyzer resolution error") {
    val e = intercept[AnalysisException] {
      spark.sql("CALL graft.no_such_proc('x')")
    }
    assert(e.getMessage.contains("no_such_proc"))
  }

  test("group MERGE on a deletion-vectored target reads through the " +
    "vectors: no resurrection, debt materialized on rewrite") {
    val base = Files.createTempDirectory("gcat_mdv").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 4)
    CowTable.dvDelete(spark, base, col("id") % 10 === 0) // 10 rows vectored
    Seq((5L, 0.5)).toDF("id", "namt").createOrReplaceTempView("gcat_mdv_src")
    spark.sql(
      s"""MERGE INTO graft.`$base` t USING gcat_mdv_src s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET amt = s.namt""".stripMargin)
    val got = CowTable.read(spark, base)
    assert(got.count() === 90L, "vectored rows must not resurrect")
    assert(got.filter(col("id") % 10 === 0).count() === 0L)
    assert(got.filter(col("id") === 5).head().getDouble(2) === 0.5)
    // the rewritten (matched) file drops its vector; untouched files keep
    // theirs — the manifest's dvRows total shrinks by the matched file's
    val m = CowTable.manifest(spark, base)
    assert(m.map(_.dvRows).sum < 10L && m.map(_.dvRows).sum > 0L,
      s"matched file's vector materialized, others kept: ${m.map(_.dvRows)}")
  }

  test("MERGE with a NON-KEY ON condition is file-grain correct (the " +
    "key-identity trap the delta path refuses does not exist here)") {
    val base = Files.createTempDirectory("gcat_mnk").toString + "/t"
    CowTable.create(spark, base,
      Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "c", 3.0))
        .toDF("id", "nm", "amt"), "id", numFiles = 1)
    Seq(("a", 9.0)).toDF("nm", "namt").createOrReplaceTempView("gcat_mnk_src")
    spark.sql(
      s"""MERGE INTO graft.`$base` t USING gcat_mnk_src s
         |ON t.nm = s.nm
         |WHEN MATCHED THEN UPDATE SET amt = s.namt""".stripMargin)
    val got = CowTable.read(spark, base).orderBy("nm").collect()
    assert(got.map(r => (r.getString(1), r.getDouble(2))).toSeq ===
      Seq(("a", 9.0), ("b", 2.0), ("c", 3.0)),
      "only the matched row changes; its duplicate-key sibling survives")
  }

  test("a source matching one target row twice raises the MERGE " +
    "cardinality error instead of silently duplicating") {
    val base = Files.createTempDirectory("gcat_card").toString + "/t"
    CowTable.create(spark, base, table(10), "id", numFiles = 1)
    Seq((5L, 1.0), (5L, 2.0)).toDF("id", "namt")
      .createOrReplaceTempView("gcat_card_src")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$base` t USING gcat_card_src s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET amt = s.namt""".stripMargin)
    }
    assert(e.getMessage.contains("MERGE_CARDINALITY_VIOLATION") ||
      e.getMessage.toLowerCase.contains("multiple"),
      s"unexpected: ${e.getMessage}")
    assert(CowTable.read(spark, base).count() === 10L, "nothing committed")
  }

  test("an insert-only MERGE runtime-prunes the rewrite to ZERO files " +
    "(pure append, nothing rewritten)") {
    val base = Files.createTempDirectory("gcat_mins").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 4)
    val pre = CowTable.manifest(spark, base).map(_.file).toSet
    (201 to 205).map(i => (i.toLong, "ins"))
      .toDF("id", "act").createOrReplaceTempView("gcat_mins_src")
    spark.sql(
      s"""MERGE INTO graft.`$base` t USING gcat_mins_src s
         |ON t.id = s.id
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED THEN INSERT (id, nm, amt)
         |  VALUES (s.id, s.act, 1.0)""".stripMargin)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
      .head().getLong(0) === 105L)
    val m = CowTable.manifest(spark, base).map(_.file).toSet
    assert(m.intersect(pre) === pre,
      "no source key matches any file: every original file survives")
  }

  test("VERSION AS OF pins a snapshot; TIMESTAMP AS OF resolves by " +
    "commit time; pinned snapshots refuse writes") {
    val base = Files.createTempDirectory("gcat_tt").toString + "/t"
    val v0 = CowTable.create(spark, base, table(50), "id",
      numFiles = 2, retain = 3)
    CowTable.merge(spark, base,
      Seq((1L, "upd", 999.0, false)).toDF("id", "nm", "amt", "_delete"),
      "id", retain = 3)
    assert(spark.sql(
      s"SELECT amt FROM graft.`$base` VERSION AS OF $v0 WHERE id = 1")
      .head().getDouble(0) === 10.0, "pinned snapshot = pre-merge value")
    assert(spark.sql(s"SELECT amt FROM graft.`$base` WHERE id = 1")
      .head().getDouble(0) === 999.0)
    val nowMicros = System.currentTimeMillis() * 1000L
    assert(spark.sql(s"SELECT amt FROM graft.`$base` " +
      s"TIMESTAMP AS OF timestamp_micros(${nowMicros}L) WHERE id = 1")
      .head().getDouble(0) === 999.0, "now resolves to latest commit")
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`$base` VERSION AS OF $v0 WHERE id = 1")
    }
    assert(e.getMessage.toLowerCase.contains("read-only") ||
      e.getMessage.toLowerCase.contains("not support") ||
      e.getMessage.toLowerCase.contains("syntax"),
      s"unexpected: ${e.getMessage}")
  }

  test("warehouse registry: CREATE by name, SHOW TABLES, ALTER ADD " +
    "COLUMN metadata-only, DROP by name") {
    val wh = Files.createTempDirectory("gcat_wh").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    try {
      table(20).createOrReplaceTempView("gcat_wh_src")
      spark.sql("CREATE TABLE graft.t_reg TBLPROPERTIES ('key'='id') " +
        "AS SELECT * FROM gcat_wh_src")
      assert(spark.sql("SHOW TABLES IN graft").collect()
        .exists(_.getString(1) === "t_reg"))
      val pre = CowTable.manifest(spark, s"$wh/t_reg").map(_.file).toSet
      spark.sql("ALTER TABLE graft.t_reg ADD COLUMN note STRING")
      assert(CowTable.manifest(spark, s"$wh/t_reg").map(_.file).toSet === pre,
        "ADD COLUMN must not rewrite data files")
      spark.sql("UPDATE graft.t_reg SET note = 'x' WHERE id <= 5")
      assert(spark.sql("SELECT COUNT(note) FROM graft.t_reg")
        .head().getLong(0) === 5L)
      // COLUMN MAPPING: rename is metadata-only — the physical data in
      // old files serves under the new logical name on every path
      val preRen = CowTable.manifest(spark, s"$wh/t_reg").map(_.file).toSet
      spark.sql("ALTER TABLE graft.t_reg RENAME COLUMN note TO memo")
      assert(CowTable.manifest(spark, s"$wh/t_reg").map(_.file).toSet
        === preRen, "RENAME COLUMN must not rewrite data files")
      assert(spark.sql("SELECT COUNT(memo) FROM graft.t_reg")
        .head().getLong(0) === 5L)
      assert(CowTable.read(spark, s"$wh/t_reg")
        .filter(col("memo") === "x").count() === 5L,
        "the API path must map the renamed column too")
      // DROP leaves old files intact; RE-ADDING the name must NOT
      // resurrect the dropped physical values
      spark.sql("ALTER TABLE graft.t_reg DROP COLUMN memo")
      assert(!spark.table("graft.t_reg").columns.contains("memo"))
      spark.sql("ALTER TABLE graft.t_reg ADD COLUMN memo STRING")
      assert(spark.sql("SELECT COUNT(memo) FROM graft.t_reg")
        .head().getLong(0) === 0L,
        "a re-added column must read NULL, not the dropped data")
      // key columns stay immutable identity
      val e = intercept[Exception] {
        spark.sql("ALTER TABLE graft.t_reg RENAME COLUMN id TO id2")
      }
      assert(e.getMessage.contains("clustering key"))
      // maintenance procedures accept warehouse-relative names too
      assert(spark.sql(
        "CALL graft.compact(`table` => 't_reg', target_rows => 1000)")
        .head().getLong(0) >= 0L)
      assert(spark.sql("DROP TABLE graft.t_reg") != null)
      assert(!spark.sql("SHOW TABLES IN graft").collect()
        .exists(_.getString(1) === "t_reg"))
    } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
  }

  test("RENAME TO moves the table directory; old name gone, data intact") {
    val wh = Files.createTempDirectory("gcat_ren").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    try {
      table(10).createOrReplaceTempView("gcat_ren_src")
      spark.sql("CREATE TABLE graft.t_old TBLPROPERTIES ('key'='id') " +
        "AS SELECT * FROM gcat_ren_src")
      // the TO name is catalog-relative (Spark resolves it in t_old's
      // catalog; a graft.-prefixed target would parse as a namespace)
      spark.sql("ALTER TABLE graft.t_old RENAME TO t_new")
      assert(spark.sql("SELECT COUNT(*) FROM graft.t_new")
        .head().getLong(0) === 10L)
      intercept[AnalysisException] {
        spark.sql("SELECT * FROM graft.t_old").collect()
      }
      // destination collision is refused
      spark.sql("CREATE TABLE graft.t_other TBLPROPERTIES ('key'='id') " +
        "AS SELECT * FROM gcat_ren_src")
      intercept[Exception] {
        spark.sql("ALTER TABLE graft.t_other RENAME TO t_new")
      }
    } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
  }

  test("manifest-derived scan statistics drive an unhinted broadcast") {
    val base = Files.createTempDirectory("gcat_stats").toString + "/t"
    CowTable.create(spark, base, table(100), "id", numFiles = 2)
    CowTable.dvDelete(spark, base, col("id") <= 10)
    // exact post-DV row count reaches Catalyst through the scan
    val rel = spark.sql(s"SELECT * FROM graft.`$base`")
    val stats = rel.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(_.toLong === 90L),
      s"expected exact rowCount=90, got ${stats.rowCount}")
    // a cow table far below the broadcast threshold joins broadcast
    // WITHOUT a hint: the size estimate comes from the manifest pass
    val big = spark.range(100000).selectExpr("id", "id * 2 AS v")
    val plan = big.join(rel, "id").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small cow side must auto-broadcast, got:\n$plan")
  }

  test("identifier parts with path separators or dot-steps cannot " +
    "escape the warehouse root") {
    val wh = Files.createTempDirectory("gcat_esc").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    try {
      // plant a cow table OUTSIDE the warehouse that a `..` escape
      // would otherwise reach (and DROP TABLE would delete)
      val outside = new java.io.File(wh).getParent + "/gcat_escape_victim"
      CowTable.create(spark, outside, table(5), "id", numFiles = 1)
      Seq(s"SELECT * FROM graft.`../${new java.io.File(outside).getName}`",
        "SELECT * FROM graft.ns.`../../x`",
        "DROP TABLE graft.`a/b`").foreach { q =>
        val e = intercept[Exception] { spark.sql(q).collect() }
        assert(e.getMessage.contains("illegal identifier part") ||
          e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"),
          s"$q must not resolve, got: ${e.getMessage}")
      }
      assert(CowTable.read(spark, outside).count() === 5L,
        "the outside table must be untouched")
    } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
  }

  test("DROP NAMESPACE without CASCADE refuses ANY contents, not just " +
    "cow tables") {
    val wh = Files.createTempDirectory("gcat_ns").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE graft.scratch")
      // a loose non-cow file inside the namespace
      val loose = new java.io.File(s"$wh/scratch/notes.txt")
      val w = new java.io.FileWriter(loose)
      try w.write("keep me") finally w.close()
      val e = intercept[Exception] {
        spark.sql("DROP NAMESPACE graft.scratch")
      }
      assert(e.getMessage.contains("SCHEMA_NOT_EMPTY") ||
        e.getMessage.toLowerCase.contains("non-empty"),
        s"got: ${e.getMessage}")
      assert(loose.exists(), "refused drop must leave contents intact")
      spark.sql("DROP NAMESPACE graft.scratch CASCADE")
      assert(!loose.exists())
    } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
  }
}
