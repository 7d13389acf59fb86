package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import graft.io.{AtomicPublish, CowTable}

/** `CowTable.changes` serves the change feed from commit structure. On
  * unique-key tables it must equal the REFERENCE — the whole-file diff
  * it ran before — after every kind of commit. */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._
  import ChangeFeedSpec.reference

  spark.conf.set("spark.sql.catalog.graft",
    classOf[graft.sources.GraftCatalog].getName)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `changes(fromV, toV)` equals the reference, column for column. */
  private def same(base: String, fromV: Long, toV: Long, key: String,
                   what: String): Unit = {
    val got = CowTable.changes(spark, base, fromV, toV, key)
    val want = reference(spark, base, fromV, toV, key)
    assert(got.columns.toSeq === want.columns.toSeq, what)
    assert(rows(got) === rows(want), s"$what: v$fromV → v$toV")
  }

  /** Check the head version against its parent. */
  private def sameAtHead(base: String, key: String, what: String): Unit = {
    val v = AtomicPublish.committed(spark, base)
    same(base, AtomicPublish.versions(spark, base).filter(_ < v).last, v, key, what)
  }

  private def orders(lo: Int, hi: Int) = (lo to hi)
    .map(i => (i.toLong, i * 1.5, s"s${i % 17}")).toDF("id", "v", "s")

  private def table(name: String, numFiles: Int = 4): String = {
    val base = Files.createTempDirectory(name).toString + "/t"
    CowTable.create(spark, base, orders(1, 200), "id", numFiles = numFiles,
      retain = 50, statsCols = Seq("s"))
    base
  }

  test("append, merge with deletes, deleteWhere and dvDelete equal the " +
    "whole-file diff; so do a span and changesSince") {
    val base = table("cdf_api")
    val v0 = AtomicPublish.committed(spark, base)
    CowTable.append(spark, base, orders(201, 230), retain = 50)
    sameAtHead(base, "id", "append")
    val src = orders(5, 15).withColumn("v", col("v") + 1).withColumn("_delete", lit(false))
      .unionByName(orders(20, 25).withColumn("_delete", lit(true)))
      .unionByName(orders(300, 305).withColumn("_delete", lit(false)))
    CowTable.merge(spark, base, src, "id", retain = 50)
    sameAtHead(base, "id", "merge")
    CowTable.deleteWhere(spark, base, col("id").between(100, 110), "id", retain = 50)
    sameAtHead(base, "id", "deleteWhere")
    CowTable.dvDelete(spark, base, col("id") % 7 === 0, retain = 50)
    sameAtHead(base, "id", "dvDelete")
    CowTable.dvDelete(spark, base, col("id") % 5 === 0, retain = 50)
    sameAtHead(base, "id", "dvDelete growing a vector")
    // a merge growing a file's vector, then a compaction rewriting the
    // vectored files
    CowTable.merge(spark, base, orders(40, 44).withColumn("_delete", lit(false))
      .withColumn("v", lit(0.0)), "id", retain = 50)
    sameAtHead(base, "id", "merge over a vectored file")
    CowTable.compact(spark, base, targetRows = 1L, key = "id", retain = 50)
    sameAtHead(base, "id", "compact rewriting the vectored files")

    val head = AtomicPublish.committed(spark, base)
    same(base, v0, head, "id", "a multi-version span")
    val want = AtomicPublish.versions(spark, base).filter(_ >= v0).sliding(2)
      .map { case Seq(p, v) =>
        reference(spark, base, p, v, "id").withColumn("_commit_version", lit(v))
      }.reduce(_ unionByName _)
    assert(rows(CowTable.changesSince(spark, base, v0, "id")) === rows(want),
      "changesSince")
  }

  test("SQL UPDATE and DELETE (position deletes) equal the whole-file diff") {
    val base = table("cdf_sql")
    spark.sql(s"DELETE FROM graft.`$base` WHERE id % 7 = 3")
    assert(CowTable.manifest(spark, base).exists(_.dvRows > 0),
      "SQL DELETE wrote no deletion vector")
    val cs = CowTable.changeSet(spark, base,
      AtomicPublish.committed(spark, base) - 1, AtomicPublish.committed(spark, base))
    assert(cs.post.isEmpty && cs.pre.nonEmpty && cs.pre.forall(_.positions.nonEmpty),
      "a position DELETE is deletes only, addressed by position")
    sameAtHead(base, "id", "SQL DELETE")
    spark.sql(s"UPDATE graft.`$base` SET v = v + 1 WHERE id BETWEEN 5 AND 30")
    sameAtHead(base, "id", "SQL UPDATE")
    spark.sql(s"UPDATE graft.`$base` SET v = v + 1 WHERE id % 9 = 1")
    sameAtHead(base, "id", "SQL UPDATE over vectored files")
  }

  test("restore over a vector shrink and a removed file equals the " +
    "whole-file diff") {
    val base = table("cdf_restore")
    // vectors the low half's files only
    val v1 = CowTable.dvDelete(spark, base, col("id") % 7 === 0 && col("id") <= 60,
      retain = 50)
    // rewrites the vectored files: they are gone from every later version
    CowTable.compact(spark, base, targetRows = 1L, key = "id", retain = 50)
    CowTable.dvDelete(spark, base, col("id") % 5 === 0, retain = 50)
    val v4 = CowTable.restore(spark, base, v1, retain = 50)
    val cs = CowTable.changeSet(spark, base, v4 - 1, v4)
    assert(cs.post.exists(_.positions.nonEmpty),
      "the restore must revive rows by position (a vector shrink)")
    assert(cs.pre.exists(_.positions.isEmpty) && cs.post.exists(_.positions.isEmpty),
      "the restore must remove the rewritten file and bring the old one back")
    sameAtHead(base, "id", "restore")
    CowTable.restore(spark, base, v1 - 1, retain = 50)
    sameAtHead(base, "id", "restore to no vector at all")
  }

  test("a restore between two deletes gives one file two vectors of equal " +
    "dvRows: replaceFiles, SQL MERGE and changes compare their content") {
    val base = table("cdf_same_n", numFiles = 2)
    val file = CowTable.manifest(spark, base).minBy(_.kmin).file
    def entry() = CowTable.manifest(spark, base).find(_.file == file).get
    val v1 = CowTable.dvDelete(spark, base, col("id") === 3L, retain = 50)
    val first = CowTable.dvDelete(spark, base, col("id").isin(5L, 7L),
      retain = 50)
    val planned = entry() // vectored to {3, 5, 7}
    /** Back to {3}, then {3, 9, 11}: as many positions, other rows. */
    def reshape(): Unit = {
      CowTable.restore(spark, base, v1, retain = 50)
      CowTable.dvDelete(spark, base, col("id").isin(9L, 11L), retain = 50)
    }
    /** `stmt` with [[reshape]] landing inside its first commit attempt. */
    def raced(stmt: => Unit): Unit = {
      var fired = false
      CowTable.afterParent = (b, _) => if (b == base && !fired) {
        fired = true
        reshape()
      }
      try stmt finally CowTable.afterParent = (_, _) => ()
    }

    val e = intercept[graft.io.ConcurrentWriteException] {
      raced(CowTable.replaceFiles(spark, base, Seq(planned.file -> planned.dv),
        orders(3, 3), retain = 50))
    }
    assert(e.getMessage.contains("1 of 1 replaced files"))
    val reshaped = entry()
    assert(reshaped.dvRows === planned.dvRows &&
      !java.util.Arrays.equals(reshaped.dv, planned.dv))
    same(base, first, AtomicPublish.committed(spark, base), "id",
      "a span from {3, 5, 7} to {3, 9, 11}")
    sameAtHead(base, "id", "the second delete after the restore")

    CowTable.restore(spark, base, first, retain = 50)
    Seq((1L, 0.5)).toDF("id", "nv").createOrReplaceTempView("cdf_same_n_src")
    val sqlErr = intercept[Exception](raced(spark.sql(
      s"""MERGE INTO graft.`$base` t USING cdf_same_n_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)))
    assert(Iterator.iterate[Throwable](sqlErr)(_.getCause)
      .takeWhile(_ != null)
      .exists(_.isInstanceOf[graft.io.ConcurrentWriteException]),
      s"SQL MERGE: $sqlErr")

    // planned against the head, from a copy of its bytes: it commits
    val head = AtomicPublish.committed(spark, base)
    CowTable.replaceFiles(spark, base, Seq(file -> entry().dv.clone()),
      orders(3, 3), retain = 50)
    assert(AtomicPublish.committed(spark, base) === head + 1)
  }

  test("compact and zorder equal the whole-file diff, alone and in a span") {
    val base = table("cdf_compact", numFiles = 6)
    val v1 = CowTable.dvDelete(spark, base, col("id") % 7 === 0, retain = 50)
    CowTable.compact(spark, base, targetRows = 1000, key = "id", retain = 50)
    sameAtHead(base, "id", "compact")
    CowTable.dvDelete(spark, base, col("id") % 5 === 0, retain = 50)
    CowTable.compact(spark, base, targetRows = 60, key = "id", retain = 50,
      zorder = Seq("id", "v"))
    sameAtHead(base, "id", "zorder")
    same(base, v1 - 1, AtomicPublish.committed(spark, base), "id",
      "a span across both compactions")
  }

  test("an added and a renamed column equal the whole-file diff") {
    val base = table("cdf_schema")
    val v0 = AtomicPublish.committed(spark, base)
    CowTable.addColumns(spark, base, Seq(StructField("x", IntegerType)), retain = 50)
    CowTable.merge(spark, base, orders(10, 14).withColumn("x", lit(7))
      .withColumn("_delete", lit(false)), "id", retain = 50)
    sameAtHead(base, "id", "merge after an added column")
    CowTable.dvDelete(spark, base, col("id") % 11 === 0, retain = 50)
    same(base, v0, AtomicPublish.committed(spark, base), "id",
      "a span across the added column (the pre-image null-fills)")
    val beforeRename = AtomicPublish.committed(spark, base)
    CowTable.renameColumn(spark, base, "v", "w", retain = 50)
    CowTable.dvDelete(spark, base, col("id") % 13 === 0, retain = 50)
    sameAtHead(base, "id", "dvDelete on a renamed column's table")
    CowTable.merge(spark, base, orders(50, 52).withColumnRenamed("v", "w")
      .withColumn("x", lit(1)).withColumn("_delete", lit(false)), "id", retain = 50)
    sameAtHead(base, "id", "merge on a renamed column's table")
    same(base, beforeRename, AtomicPublish.committed(spark, base), "id",
      "a span across the rename")
  }

  test("string and composite keys equal the whole-file diff") {
    val sb = Files.createTempDirectory("cdf_skey").toString + "/t"
    CowTable.create(spark, sb, (1 to 120).map(i => (f"user_$i%04d", i.toLong))
      .toDF("name", "n"), "name", numFiles = 3, retain = 50)
    CowTable.merge(spark, sb, Seq(("user_0005", -5L), ("user_9999", 1L))
      .toDF("name", "n").withColumn("_delete", lit(false)), "name", retain = 50)
    sameAtHead(sb, "name", "string-key merge")
    CowTable.dvDelete(spark, sb, col("n") % 6 === 0, retain = 50)
    sameAtHead(sb, "name", "string-key dvDelete")

    val cb = Files.createTempDirectory("cdf_ckey").toString + "/t"
    CowTable.create(spark, cb, (1 to 120).map(i => (i.toLong % 10, i.toLong, i * 2.0))
      .toDF("a", "b", "v"), "a,b", numFiles = 3, retain = 50)
    CowTable.merge(spark, cb, Seq((1L, 1L, 0.0), (1L, 500L, 1.0)).toDF("a", "b", "v")
      .withColumn("_delete", lit(false)), "a,b", retain = 50)
    sameAtHead(cb, "a,b", "composite-key merge")
    CowTable.dvDelete(spark, cb, col("b") % 4 === 0, retain = 50)
    sameAtHead(cb, "a,b", "composite-key dvDelete")
  }

  test("duplicate keys: a vectored duplicate is a delete, where the key " +
    "join paired it with its twin as an update") {
    val base = Files.createTempDirectory("cdf_dup").toString + "/t"
    CowTable.create(spark, base, Seq((1L, "a"), (1L, "b"), (2L, "c"))
      .toDF("id", "tag"), "id", numFiles = 1, retain = 50)
    val v = CowTable.dvDelete(spark, base, col("tag") === "a", retain = 50)
    val got = CowTable.changes(spark, base, v - 1, v, "id")
      .select("id", "tag", "_change_type").as[(Long, String, String)].collect()
    assert(got.toSeq === Seq((1L, "a", "delete")))
    val old = reference(spark, base, v - 1, v, "id")
      .select("id", "tag", "_change_type").as[(Long, String, String)].collect()
    assert(old.toSeq === Seq((1L, "b", "update")),
      "the reference pairs the surviving twin with the deleted row")
  }
}

object ChangeFeedSpec {

  /** The REFERENCE: the whole-file diff `CowTable.changes` ran before it
    * read commit structure. Every file whose (file, vector) pair is in
    * one manifest only is read WHOLE on its side, through that side's
    * vector; both sides take the TO-version's schema and column
    * mapping; the sides full-outer-join on the key, and struct-equal
    * pairs drop out as no-ops. */
  def reference(spark: SparkSession, base: String, fromV: Long, toV: Long,
                key: String): DataFrame = {
    def id(e: CowTable.Entry) = (e.file, e.dv.toSeq)
    val to = CowTable.entriesAtVersion(spark, base, toV)
    val from = CowTable.entriesAtVersion(spark, base, fromV)
    val (toIds, fromIds) = (to.map(id).toSet, from.map(id).toSet)
    val m = CowTable.metaAt(spark, base, toV)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val cols = schema.fieldNames.toSeq
    val ks = CowTable.splitKeys(key)
    val phys = StructType(schema.fields.map(f =>
      f.copy(name = m.phys(f.name), nullable = true)))
    def side(entries: Seq[CowTable.Entry], name: String): DataFrame =
      entries.map { e =>
        val raw = spark.read.schema(phys).parquet(e.file)
          .withColumn("_p", col("_metadata.row_index"))
        val live =
          if (e.dv.isEmpty) raw
          else {
            import spark.implicits._
            raw.join(CowTable.voided(Seq((e.file, e.dv, e.dvRows)))(e.file)
              .toSeq.toDF("_p"), Seq("_p"), "left_anti")
          }
        live.select(cols.map(c => col(m.phys(c)).as(c)): _*)
      }.reduceOption(_ unionByName _)
        .getOrElse(spark.createDataFrame(java.util.Collections.emptyList[Row](),
          StructType(schema.fields.map(_.copy(nullable = true)))))
        .select(struct(ks.map(col): _*).as("_k"), struct(cols.map(col): _*).as(name))
    val img = coalesce(col("_post"), col("_pre"))
    side(from.filterNot(e => toIds(id(e))), "_pre")
      .join(side(to.filterNot(e => fromIds(id(e))), "_post"), Seq("_k"), "full_outer")
      .withColumn("_change_type",
        when(col("_pre").isNull, "insert")
          .when(col("_post").isNull, "delete")
          .when(!(col("_pre") <=> col("_post")), "update")
          .otherwise("noop"))
      .filter(col("_change_type") =!= "noop")
      .select(cols.map(c => img.getField(c).as(c)) :+ col("_change_type"): _*)
  }
}
