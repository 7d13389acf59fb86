package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.dq.Dashboard

/** The dashboard's driver-built sections against the same queries run by
  * Spark, over a history that several tasks scan, each holding its own
  * range of days: the tasks' partial counts, their newest failures and
  * the driver's anchor must add up to what one global query returns. */
class DashboardSpec extends SparkSpec {

  test("dash sections equal Spark's queries when each task holds other days") {
    val dir = Files.createTempDirectory("dash_tasks").toString
    Tables.events(spark, sf0001).repartitionByRange(4, col("ts"))
      .write.parquet(s"$dir/events.parquet")
    val h = Dashboard.history(spark, dir)
    assert(h.rdd.getNumPartitions > 1, "the history must be scanned by several tasks")
    h.createOrReplaceTempView("dash_spec_history")
    val lb = "execution_date >= CAST((SELECT date_sub(CAST(MAX(execution_date) " +
      "AS DATE), 7) FROM dash_spec_history) AS TIMESTAMP)"
    def rate(name: String) = "CAST(CAST(COUNT(*) FILTER (WHERE status = 'passed') " +
      s"AS DOUBLE) * 100.0 / NULLIF(COUNT(*), 0) AS DECIMAL(10,2)) AS $name"
    def passed(name: String) = s"COUNT(*) FILTER (WHERE status = 'passed') AS $name"
    def failed(name: String) = s"COUNT(*) FILTER (WHERE status = 'failed') AS $name"
    def errors(name: String) = s"COUNT(*) FILTER (WHERE status = 'error') AS $name"
    def same(got: DataFrame, sql: String): Unit = {
      val want = spark.sql(sql)
      assert(got.schema.map(f => f.name -> f.dataType) ===
        want.schema.map(f => f.name -> f.dataType))
      assert(got.collect().toSeq === want.collect().toSeq, sql)
    }
    same(Dashboard.summary(spark, dir),
      s"SELECT COUNT(*) AS total_checks, ${passed("passed_checks")}, " +
        s"${failed("failed_checks")}, ${errors("error_checks")}, ${rate("success_rate")} " +
        s"FROM dash_spec_history WHERE $lb")
    same(Dashboard.byType(spark, dir),
      s"SELECT check_type, COUNT(*) AS total, ${passed("passed")}, " +
        s"${failed("failed")}, ${errors("errors")}, ${rate("success_rate")} " +
        s"FROM dash_spec_history WHERE $lb AND check_type != 'summary' " +
        "GROUP BY check_type ORDER BY check_type")
    same(Dashboard.trend(spark, dir),
      "SELECT CAST(execution_date AS DATE) AS check_date, COUNT(*) AS total_checks, " +
        s"${passed("passed_checks")}, " +
        s"${rate("daily_success_rate")} FROM dash_spec_history " +
        s"WHERE $lb AND check_type != 'summary' GROUP BY 1 ORDER BY check_date")
    same(Dashboard.critical(spark, dir, n = 7),
      "SELECT check_name, error_message, execution_date FROM dash_spec_history " +
        s"WHERE status IN ('failed', 'error') AND $lb " +
        "ORDER BY execution_date DESC, check_id DESC LIMIT 7")
  }
}
