package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import graft.io.{AtomicPublish, CowTable}

/** Manifest statistics come out of the pool write itself. Every write
  * path's committed entries must equal the REFERENCE — the re-read
  * aggregate the pool write used to run over the files it had just
  * written — and the write must cost no job beyond the data write. */
class PoolStatsSpec extends SparkSpec {
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.graft",
    classOf[graft.sources.GraftCatalog].getName)

  type Stats = (Long, Long, Long, Map[String, String], Map[String, String])

  /** The reference: one scan of `files`, grouped by file, aggregating
    * exactly what the manifest records (physical column names). */
  private def reference(m: CowTable.Meta, files: Seq[String]): Map[String, Stats] = {
    val ks = CowTable.splitKeys(m.key)
    val logical = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val kDt = logical(ks.head).dataType
    val ke = CowTable.KeyEnc.of(col(m.phys(ks.head)), kDt)
    val sCols = (m.statsCols ++ (if (kDt == StringType) Seq(ks.head) else Nil)
      ++ ks.tail).distinct.filter(logical.fieldNames.contains)
    def statsMap(agg: Column => Column): Column =
      if (sCols.isEmpty) typedLit(Map.empty[String, String])
      else map(sCols.flatMap(c =>
        Seq(lit(m.phys(c)), agg(col(m.phys(c))).cast("string"))): _*)
    spark.read.parquet(files: _*)
      .groupBy(regexp_replace(input_file_name(), "^file:/+", "/").as("file"))
      .agg(count(lit(1)), min(ke), max(ke), statsMap(min), statsMap(max))
      .collect().map { r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getMap[String, String](4).toMap, r.getMap[String, String](5).toMap))
      }.toMap
  }

  /** The files the head version added over its parent: their entries
    * must equal the reference. Returns how many there were. */
  private def checkHead(base: String, what: String): Int = {
    val v = AtomicPublish.committed(spark, base)
    val prior = AtomicPublish.versions(spark, base).filter(_ < v).lastOption
      .map(p => CowTable.entriesAtVersion(spark, base, p).map(_.file).toSet)
      .getOrElse(Set.empty)
    val fresh = CowTable.manifest(spark, base).filterNot(e => prior(e.file))
    if (fresh.nonEmpty) {
      val got = fresh.map(e => e.file -> ((e.rows, e.kmin, e.kmax, e.smin, e.smax)))
        .toMap
      assert(got === reference(CowTable.meta(spark, base).get, fresh.map(_.file)),
        s"$what: manifest stats differ from the re-read reference")
    }
    fresh.size
  }

  private def wide(lo: Int, hi: Int) = (lo to hi).map { i =>
    val dbl: Option[Double] = i % 11 match {
      case 0 => Some(Double.NaN)
      case 1 => Some(-0.0)
      case 2 => Some(0.0)
      case 3 => None
      case _ => Some(i * 1.5 - 300.0)
    }
    (i.toLong, i % 23,
      if (i % 13 == 0) None else Some(s"s${(i * 7919) % 1000}"),
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 400)),
      if (i % 17 == 0) None
      else Some(java.sql.Timestamp.from(
        java.time.Instant.parse("2024-03-01T00:00:00Z").plusSeconds(i * 3607L))),
      BigDecimal(i) / 7, dbl)
  }.toDF("id", "n", "s", "d", "ts", "dec", "dbl")
    .withColumn("dec", col("dec").cast("decimal(12,3)"))

  private val wideStats = Seq("s", "d", "ts", "dec", "dbl")

  test("every write path's entries equal the re-read reference: long key, " +
    "date/timestamp/decimal/double/string stats, zorder") {
    val base = Files.createTempDirectory("pstats_long").toString + "/t"
    CowTable.create(spark, base, wide(1, 400), "id", numFiles = 4, retain = 30,
      statsCols = wideStats)
    assert(checkHead(base, "create") === 4)
    CowTable.append(spark, base, wide(401, 450), numFiles = 2, retain = 30)
    assert(checkHead(base, "append") === 2)
    CowTable.merge(spark, base,
      wide(95, 105).withColumn("s", lit("merged"))
        .union(wide(1000, 1003)).withColumn("_delete", col("id") === 100L),
      "id", retain = 30)
    assert(checkHead(base, "merge") > 0)
    CowTable.deleteWhere(spark, base, col("id") % 5 === 0 && col("id") < 150,
      "id", retain = 30)
    assert(checkHead(base, "deleteWhere") > 0)
    CowTable.dvDelete(spark, base, col("id") % 9 === 4, retain = 30)
    CowTable.compact(spark, base, targetRows = 1000, key = "id", retain = 30)
    assert(checkHead(base, "compact") > 0)

    val victim = CowTable.manifest(spark, base).filter(_.dv.isEmpty).maxBy(_.rows)
    CowTable.replaceFiles(spark, base, Seq(victim.file -> victim.dv),
      spark.read.parquet(victim.file).withColumn("n", lit(-1)), retain = 30)
    assert(checkHead(base, "replaceFiles") > 0)

    CowTable.compact(spark, base, targetRows = 150, key = "id", retain = 30,
      zorder = Seq("n", "id"))
    assert(checkHead(base, "zorder") > 1)
    assert(CowTable.meta(spark, base).get.statsCols.contains("n"))
    // one more write records the widened stats set
    CowTable.append(spark, base, wide(5000, 5010), retain = 30)
    assert(checkHead(base, "append after zorder") === 1)
  }

  test("SQL INSERT / UPDATE / MERGE entries equal the re-read reference") {
    val base = Files.createTempDirectory("pstats_sql").toString + "/t"
    CowTable.create(spark, base, wide(1, 400), "id", numFiles = 4,
      retain = 30, statsCols = wideStats)
    spark.sql(s"INSERT INTO graft.`$base` SELECT * FROM VALUES " +
      "(2000L, 1, 'ins', DATE'2025-05-05', TIMESTAMP'2025-05-05 01:02:03', " +
      "CAST(2.5 AS DECIMAL(12,3)), CAST('NaN' AS DOUBLE))")
    assert(checkHead(base, "sql insert") === 1)
    spark.sql(s"UPDATE graft.`$base` SET dbl = -0.0, s = NULL " +
      "WHERE id BETWEEN 200 AND 210")
    assert(checkHead(base, "sql update") > 0)
    wide(300, 305).withColumn("dbl", lit(Double.NaN))
      .union(wide(3000, 3002)).createOrReplaceTempView("pstats_src")
    spark.sql(s"MERGE INTO graft.`$base` t USING pstats_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(checkHead(base, "sql merge") > 0)
  }

  test("string, composite and column-mapped keys; maxRecordsPerFile splits " +
    "a range partition; empty range partitions and empty writes") {
    val root = Files.createTempDirectory("pstats_keys").toString
    val strBase = s"$root/str"
    val strRows = wide(1, 300).withColumn("k",
      concat(lit("user_000"), format_string("%05d", (col("id") * 37) % 1009)))
    CowTable.create(spark, strBase, strRows, "k", numFiles = 3, retain = 10,
      statsCols = Seq("dec"))
    assert(checkHead(strBase, "string create") === 3)
    CowTable.merge(spark, strBase, strRows.filter(col("id") < 20)
      .withColumn("s", lit("m")).withColumn("_delete", lit(false)), "k", retain = 10)
    assert(checkHead(strBase, "string merge") > 0)

    val compBase = s"$root/comp"
    val compRows = wide(1, 300).withColumn("g", (col("id") % 3).cast("long"))
      .withColumn("t", concat(lit("t"), col("id").cast("string")))
    CowTable.create(spark, compBase, compRows, "g,t", numFiles = 4, retain = 10,
      statsCols = Seq("d"))
    assert(checkHead(compBase, "composite create") === 4)
    CowTable.append(spark, compBase, compRows.withColumn("t",
      concat(col("t"), lit("b"))), numFiles = 2, retain = 10)
    assert(checkHead(compBase, "composite append") > 0)

    // a key of 3 values over 300 rows: the range partitioner's last
    // bound is the largest key, so the partition above it gets no row
    val skewBase = s"$root/skew"
    CowTable.create(spark, skewBase,
      wide(1, 300).withColumn("id", col("id") % 3), "id", numFiles = 6,
      retain = 10, statsCols = wideStats)
    assert(checkHead(skewBase, "empty range partition") === 3)

    val mapBase = s"$root/mapped"
    CowTable.create(spark, mapBase, wide(1, 200), "id", numFiles = 2, retain = 10,
      statsCols = Seq("dbl", "s"))
    CowTable.renameColumn(spark, mapBase, "dbl", "amount", retain = 10)
    CowTable.append(spark, mapBase, wide(201, 260).withColumnRenamed("dbl", "amount"),
      retain = 10)
    assert(checkHead(mapBase, "mapped append") === 1)
    assert(CowTable.manifest(spark, mapBase).forall(_.smin.contains("dbl")),
      "stats maps are keyed by PHYSICAL name across a rename")
    CowTable.merge(spark, mapBase, wide(10, 12).withColumnRenamed("dbl", "amount")
      .withColumn("_delete", lit(false)), "id", retain = 10)
    assert(checkHead(mapBase, "mapped merge") > 0)

    val splitBase = s"$root/split"
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "40")
    try {
      CowTable.create(spark, splitBase, wide(1, 200), "id", numFiles = 2,
        retain = 10, statsCols = wideStats)
      assert(checkHead(splitBase, "maxRecordsPerFile create") >= 5)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.files.maxRecordsPerFile", p)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    // a write whose frame is empty commits no entry and stages no file
    val pool = new java.io.File(s"$splitBase/files")
    val before = pool.list().toSet
    CowTable.deleteWhere(spark, splitBase, col("id") <= 40, "id", retain = 10)
    assert(checkHead(splitBase, "empty rewrite") === 0)
    assert(pool.list().toSet === before,
      "an empty rewrite must not leave a zero-row file in the pool")
    assert(CowTable.read(spark, splitBase).count() === 160L)
  }

  test("identity append and exactly-once bootstrap record reference stats") {
    val wh = Files.createTempDirectory("pstats_idn").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    try spark.sql("CREATE TABLE graft.pstats_idr (k BIGINT, " +
      "sk BIGINT GENERATED ALWAYS AS IDENTITY, v DOUBLE) " +
      "TBLPROPERTIES ('key'='k')")
    finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
    CowTable.append(spark, s"$wh/pstats_idr", (1 to 30)
      .map(i => (i.toLong, None: Option[Long], i * 1.0)).toDF("k", "sk", "v"))
    assert(checkHead(s"$wh/pstats_idr", "identity append") === 1)

    val eo = s"$wh/eo"
    CowTable.exactlyOnceMerge(spark, eo,
      wide(1, 50).withColumn("_delete", lit(false)), "id", "s1", batchId = 0L)
    assert(checkHead(eo, "exactly-once bootstrap") === 1)
  }

  test("a null key is refused before any file enters the pool") {
    val base = Files.createTempDirectory("pstats_null").toString + "/t"
    CowTable.create(spark, base, wide(1, 50), "id", numFiles = 2)
    val pool = new java.io.File(s"$base/files")
    val before = pool.list().toSet
    val e = intercept[IllegalArgumentException](CowTable.append(spark, base,
      wide(51, 60).withColumn("id", when(col("id") =!= 55L, col("id")))))
    assert(e.getMessage.contains("must be non-null"))
    assert(pool.list().toSet === before, "a refused write must not add a pool file")
    assert(!new java.io.File(base).list().exists(_.startsWith(".data-")),
      "a refused write must remove its staging directory")
  }

  /** Spark jobs started by `body`, counted between two marker jobs so
    * asynchronous listener delivery cannot blur the edges. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marks = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.job.description") == "pstats-mark")
          marks.incrementAndGet()
        else if (marks.get() == 1) jobs.incrementAndGet()
    }
    def mark(n: Int): Unit = {
      sc.setJobDescription("pstats-mark")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (marks.get() < n && System.nanoTime() < deadline) Thread.sleep(5)
      assert(marks.get() === n, "marker job never reached the listener")
    }
    sc.addSparkListener(l)
    try { mark(1); body; mark(2) } finally sc.removeSparkListener(l)
    jobs.get()
  }

  test("job budget: append, one-file merge and compact commit after their " +
    "data job alone") {
    val base = Files.createTempDirectory("pstats_jobs").toString + "/t"
    CowTable.create(spark, base, wide(1, 100), "id", numFiles = 4, retain = 10,
      statsCols = Seq("d"))
    val src = wide(101, 110)
    val append = jobsOf(CowTable.append(spark, base, src, retain = 10))
    val upd = wide(5, 6).withColumn("_delete", lit(false))
    val merge = jobsOf(CowTable.merge(spark, base, upd, "id", retain = 10))
    val compact = jobsOf(
      CowTable.compact(spark, base, targetRows = 1000, key = "id", retain = 10))
    assert((append, merge, compact) === ((2, 8, 2)),
      "a cow write's Spark job count moved: a stats re-read (or another " +
        "extra scan) crept back into the write path")
  }

  test("a layout-only version's change feed is empty, launches no job, and " +
    "equals the full diff") {
    val base = Files.createTempDirectory("pstats_cdf").toString + "/t"
    CowTable.create(spark, base, wide(1, 200), "id", numFiles = 4, retain = 10,
      statsCols = Seq("d"))
    CowTable.dvDelete(spark, base, col("id") % 7 === 0, retain = 10)
    val p = AtomicPublish.committed(spark, base)
    assert(CowTable.manifest(spark, base).exists(_.dvRows > 0))
    val v = CowTable.compact(spark, base, targetRows = 1000, key = "id",
      retain = 10)
    assert(v === p + 1 && AtomicPublish.commitOp(spark, base, v).contains("COMPACT"))
    var rows = Array.empty[org.apache.spark.sql.Row]
    val jobs = jobsOf { rows = CowTable.changes(spark, base, p, v, "id").collect() }
    assert(rows.isEmpty)
    assert(jobs === 0, "a layout-only diff must read no data file")
    // the full diff: what each snapshot holds that the other does not
    val (pre, post) = (CowTable.readAt(spark, base, p), CowTable.readAt(spark, base, v))
    assert(pre.exceptAll(post).isEmpty && post.exceptAll(pre).isEmpty)
    // same columns and types as a diff that takes the full path
    assert(CowTable.changes(spark, base, p, v, "id").schema ===
      CowTable.changes(spark, base, p - 1, p, "id").schema)
    assert(CowTable.changes(spark, base, p - 1, v, "id").count() ===
      CowTable.changes(spark, base, p - 1, p, "id").count(),
      "a span ending in the compaction still diffs in full")
  }
}
