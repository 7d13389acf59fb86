package graft

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StringType, StructField, StructType}
import graft.dq.DqSuite
import graft.io.{AtomicPublish, WindowReload}
import graft.pipeline.{Bronze, Pipeline, Silver, Star}

/** The reference's `main.py` end-to-end pipeline
  * (`/root/reference/data-pipeline/src/main.py:6-39`) as a Spark batch job:
  *
  *   bronze (staging) → silver via the M1 window reload (the
  *   `fn_etl_data_load` delete+insert, materialized as date-partitioned
  *   parquet — the medallion materialization point that lets the star
  *   build fan out without recomputing the source join) → gold dims +
  *   fact (`fn_dm_data_load`) → DQ checks appended to a results dataset
  *   (`fn_dq_checks_load`) → row-count report (`final_report.py:22-43`).
  *
  * The dims are closed domains (Bronze derives each natural key from a
  * small modulus or enum), so the star is built around the driver: the
  * four dims come from one aggregate over silver and one read of the
  * previous version, are upserted on the driver ([[upsertDims]]) and
  * published as local frames without a job, and the fact resolves its
  * foreign keys by lookup in them ([[Star.factWithKeys]]) — one scan and
  * one write, no join and no shuffle. Every job a run launches carries
  * its phase's description (`runner: <phase>`).
  *
  * Audit columns (F13): silver carries `processed_at`, gold `created_dt`,
  * results `run_date` — the reference's CURRENT_TIMESTAMP/CURRENT_DATE
  * defaults (`01_init_all.sql:19,37`, `t_dim_tables.sql:5`).
  *
  * Usage: runMain graft.PipelineRunner <sfDir> <warehouseDir> [start end]
  */
object PipelineRunner {

  /** F13 audit clock: a fixed instant injected via the session conf
    * `spark.graft.run_ts` ('yyyy-MM-dd HH:mm:ss') makes the audit
    * columns (`processed_at`, `created_dt`) deterministic and therefore
    * oracle-checkable (the `star_publish` query); unset, they keep the
    * reference's CURRENT_TIMESTAMP / CURRENT_DATE semantics
    * (`01_init_all.sql:19,37`, `t_dim_tables.sql:5`).
    */
  def runTs(spark: SparkSession): org.apache.spark.sql.Column =
    spark.conf.getOption("spark.graft.run_ts")
      .map(s => lit(java.sql.Timestamp.valueOf(s)))
      .getOrElse(current_timestamp())

  def runDate(spark: SparkSession): org.apache.spark.sql.Column =
    spark.conf.getOption("spark.graft.run_ts")
      .map(s => lit(java.sql.Date.valueOf(s.substring(0, 10))))
      .getOrElse(current_date())

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val wh = args(1)
    val start = if (args.length > 2) LocalDate.parse(args(2)) else Pipeline.defaultStart
    val end = if (args.length > 3) LocalDate.parse(args(3)) else Pipeline.defaultEnd
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, wh, start, end)
    spark.stop()
  }

  /** Label the jobs of one runner phase (`runner: <name>`). */
  private def phase[T](spark: SparkSession, name: String)(body: => T): T =
    JobLabel(spark, s"runner: $name")(body)

  def run(spark: SparkSession, sfDir: String, wh: String,
          start: LocalDate, end: LocalDate): Unit = {
    // 1. silver: cleanse + idempotent window reload (fn_etl_data_load);
    //    the memoized bronze frame materializes its join here
    val cleansed = phase(spark, "bronze") {
      Silver.cleanse(Bronze(spark, sfDir), Some(start), Some(end))
        .withColumn("processed_at", runTs(spark))
    }
    phase(spark, "silver-reload") {
      WindowReload.reload(spark, s"$wh/silver", cleansed, start, end)
    }
    // drop the audit column and the reload's partition key (eff_part) —
    // both are storage-side, not part of the silver contract
    val silver = phase(spark, "silver-read") {
      WindowReload.read(spark, s"$wh/silver").drop("processed_at", "eff_part")
    }
    // nothing writes silver after this point: one census serves both
    // report lines
    val silverRows = phase(spark, "silver-count") {
      WindowReload.countRows(spark, s"$wh/silver")
    }
    println(s"[runner] silver rows processed: $silverRows")

    // 2. gold: dims + fact published as ONE ATOMIC VERSION (the
    //    reference runs `fn_dm_data_load` inside a single PG transaction,
    //    `fill_dm_table.py:18-23`; AtomicPublish restores that
    //    all-or-nothing contract on parquet — a crash between dataset
    //    writes leaves readers on the previous version).
    val starBase = s"$wh/star"
    val dims = phase(spark, "dim-build") { upsertDims(spark, silver, starBase) }
    val factFrame = Star.factWithKeys(silver, dims.map(_._2.map(_.swap).toMap))
      .withColumn("created_dt", runDate(spark))
    val published = phase(spark, "star-publish") {
      AtomicPublish.publish(spark, starBase,
        Star.Dims.zip(dims).map { case (d, (frame, _)) => d.name -> frame } :+
          ("fact" -> factFrame))
    }

    // 3. DQ checks appended to the results dataset (fn_dq_checks_load)
    val results = phase(spark, "dq") {
      // the published fact, read with the schema it was written with
      val fact = AtomicPublish.readVersion(spark, starBase, "fact", published,
        Some(factFrame.schema))
      val r = DqSuite.run(spark, silver, fact.drop("created_dt"))
      WindowReload.reloadResults(spark, s"$wh/dq_check_results", r, end)
      r
    }

    // 4. final report (final_report.py:22-43): per-table row counts —
    //    star members of the version this run published, every
    //    count served from parquet footer metadata when the dataset is
    //    metadata-sized (zero jobs; the distributed count is the
    //    fallback for tables whose file census exceeds the bound)
    phase(spark, "report") {
    def footerOr(dir: String, df: => DataFrame): Long =
      graft.io.FsUtil.footerRows(spark, Seq(dir)).getOrElse(df.count())
    println(s"[runner] silver: $silverRows rows")
    println(s"[runner] dq_check_results: " +
      s"${footerOr(s"$wh/dq_check_results", spark.read.parquet(s"$wh/dq_check_results"))} rows")
    (Star.Dims.map(_.name) :+ "fact").foreach { t =>
      println(s"[runner] $t: ${footerOr(AtomicPublish.memberDir(starBase, published, t),
        AtomicPublish.readVersion(spark, starBase, t, published))} rows")
    }
    val summary = results.filter(col("check_type") === "summary")
      .select("error_message").head().getString(0)
    println(s"[runner] DQ summary: $summary")
    }
  }

  /** The four dims after this run's grow-only upsert (M2, `ON CONFLICT
    * (nk) DO NOTHING` + SERIAL), built on the driver: each dim's keys
    * come from one aggregate over silver ([[Star.dimKeys]]), the previous
    * version's four dims from one read, and [[Star.upsertLocal]] keeps
    * every existing id and its `created_dt` (a rebuild would renumber
    * ids and silently re-key every previously-written fact row) while
    * new keys get fresh ids and today's date. Each dim is returned as a
    * local frame (`LocalRelation`), with its (id, key) pairs: the publish
    * writes it on the driver and the fact looks its ids up, with no job.
    * A local frame is frozen by construction, so nothing downstream reads
    * the previous version the publish prunes.
    */
  private def upsertDims(spark: SparkSession, silver: DataFrame,
                         starBase: String): Seq[(DataFrame, Seq[(Long, String)])] = {
    val incoming = Star.dimKeys(silver)
    val v = AtomicPublish.committed(spark, starBase)
    val previous = if (v < 0) Map.empty[Int, Array[Row]] else {
      // one job for all four, read with their known schema (no
      // schema-inference job)
      Star.Dims.zipWithIndex.map { case (d, i) =>
        AtomicPublish.readVersion(spark, starBase, d.name, v, Some(dimSchema(d)))
          .select(lit(i), col(d.idCol), col(d.nkCol), col("created_dt"))
      }.reduce(_.union(_)).collect().groupBy(_.getInt(0))
    }
    Star.Dims.zip(incoming).zipWithIndex.map { case ((d, keys), i) =>
      val prev = previous.getOrElse(i, Array.empty[Row])
      val ids = Star.upsertLocal(
        prev.toSeq.map(r => (r.getLong(1), r.getString(2))), keys)
      require(ids.size <= Bcast.SafeRows,
        s"${d.name} grew past ${Bcast.SafeRows} keys; the runner builds " +
          "its dims on the driver and cannot hold it")
      val created = prev.map(r => r.getString(2) -> r.get(3)).toMap
      val rows = ids.map { case (id, nk) => Row(id, nk, created.getOrElse(nk, null)) }
      // created_dt stays the runDate column: the optimizer folds it into
      // the local relation, so the frame stays local
      val frame = spark.createDataFrame(rows.asJava, dimSchema(d))
        .withColumn("created_dt", coalesce(col("created_dt"), runDate(spark)))
      (frame, ids)
    }
  }

  private def dimSchema(d: Star.DimDef): StructType = StructType(Seq(
    StructField(d.idCol, LongType, nullable = false),
    StructField(d.nkCol, StringType, nullable = false),
    StructField("created_dt", DateType)))
}
