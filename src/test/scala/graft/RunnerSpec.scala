package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._

class RunnerSpec extends SparkSpec {
  import spark.implicits._

  test("dim surrogate ids are stable across incremental runs (M2 grow-only)") {
    val wh = Files.createTempDirectory("runner").toString
    // first half-year window
    PipelineRunner.run(spark, sf0001, wh,
      LocalDate.parse("2023-01-01"), LocalDate.parse("2023-06-30"))
    val before = graft.io.AtomicPublish.read(spark, s"$wh/star", "dim_customer")
      .select("customer_name", "customer_id").as[(String, Long)].collect().toMap
    assert(before.nonEmpty)

    // widen to the full year: previously-assigned ids must not move
    PipelineRunner.run(spark, sf0001, wh,
      LocalDate.parse("2023-01-01"), LocalDate.parse("2023-12-31"))
    val after = graft.io.AtomicPublish.read(spark, s"$wh/star", "dim_customer")
      .select("customer_name", "customer_id").as[(String, Long)].collect().toMap
    before.foreach { case (nk, id) =>
      assert(after(nk) === id, s"surrogate id for '$nk' was renumbered")
    }
    // new keys (if any) got ids beyond the previous max
    val newKeys = after.keySet -- before.keySet
    newKeys.foreach { nk => assert(after(nk) > before.values.max) }

    // fact foreign keys resolve against the grown dim
    val fact = graft.io.AtomicPublish.read(spark, s"$wh/star", "fact")
    val dimIds = after.values.toSet
    val badFk = fact.filter(col("customer_id").isNotNull)
      .select("customer_id").as[Long].collect().filterNot(dimIds)
    assert(badFk.isEmpty)
  }

  test("a reload keeps existing keys' created_dt, dates new keys with its " +
    "run, and keeps each run date's DQ results without touching the " +
    "session's overwrite mode") {
    val wh = Files.createTempDirectory("runner_created").toString
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val outer = spark.conf.get(mode)
    // a static session: a dynamic overwrite must come from the write itself
    spark.conf.set(mode, "static")
    def runAt(ts: String, end: String): Unit = {
      spark.conf.set("spark.graft.run_ts", ts)
      try PipelineRunner.run(spark, sf0001, wh,
        LocalDate.parse("2023-01-01"), LocalDate.parse(end))
      finally spark.conf.unset("spark.graft.run_ts")
    }
    def dims(): Seq[Map[String, String]] = graft.pipeline.Star.Dims.map { d =>
      graft.io.AtomicPublish.read(spark, s"$wh/star", d.name)
        .select(col(d.nkCol), col("created_dt").cast("string"))
        .as[(String, String)].collect().toMap
    }
    try {
      runAt("2024-01-15 12:00:00", "2023-03-31")
      val first = dims()
      runAt("2024-02-20 12:00:00", "2023-12-31")
      assert(spark.conf.get(mode) === "static",
        "the runner changed the session's partitionOverwriteMode")
      val second = dims()
      first.zip(second).foreach { case (before, after) =>
        before.keys.foreach(k => assert(after(k) === "2024-01-15",
          s"existing key '$k' lost its created_dt"))
        (after.keySet -- before.keySet).foreach(k =>
          assert(after(k) === "2024-02-20", s"new key '$k' has the wrong created_dt"))
      }
      assert(second.map(_.size).sum > first.map(_.size).sum,
        "the wider window added no key, so nothing was dated by the reload")
      val runDates = spark.read.parquet(s"$wh/dq_check_results")
        .select(col("run_date").cast("string")).distinct().as[String].collect().toSet
      assert(runDates === Set("2023-03-31", "2023-12-31"),
        "a second run date overwrote the first date's DQ results")
    } finally spark.conf.set(mode, outer)
  }
}
