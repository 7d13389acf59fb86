package graft.dq

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, LongType, StructField, StructType}
import graft.{Bcast, JobLabel, SparkOrder, Tables}

/** The reference's DQ dashboard
  * (`/root/reference/data-pipeline/src/dq_dashboard.py:22-212`): five
  * analytical queries over the check-results log — overall summary with
  * FILTER aggregates, per-type rollup, recent-10 top-k, daily trend,
  * critical top-5. The four lookback sections are built on the driver
  * from ONE scan of the history whose tasks return per-type, per-day
  * check counts and their newest failures ([[sections]]) — the
  * operator-fusion shape, one scan for many outputs — and served both
  * as small local frames (`dash_summary`, `dash_by_type`, `dash_trend`,
  * `dash_critical5`) and as a text render ([[render]]) whose exact
  * bytes are digest-checked against a DuckDB twin ([[renderDigest]]).
  * Every job they launch is labelled `dashboard`.
  *
  * The reference queries an append-only `t_dq_check_results` log grown
  * across many runs and anchors its lookback at `CURRENT_DATE`. For a
  * deterministic, oracle-comparable equivalent we (a) synthesize a
  * multi-day history from the `events` table ([[history]]) and (b) anchor
  * the lookback at `max(execution_date)` instead of the wall clock —
  * the `MAX(execution_date)` latest-run idiom the reference itself uses
  * (`run_data_quality_checks.py:43-46`, A4; a scalar subquery in the
  * oracle, the driver's anchor over the tasks' partial results here).
  *
  * Deviations (documented): `ORDER BY execution_date DESC` top-k queries
  * get a `check_id DESC` tiebreak — the reference's order is
  * nondeterministic on timestamp ties, which a hash-compared result cannot
  * be. `ROUND(x,2)` on the success rate is expressed as a
  * `CAST(... AS DECIMAL(10,2))` so both engines produce the identical
  * exact decimal (IEEE-double `round` bit patterns differ across engines).
  */
object Dashboard {

  private val checkTypes = Seq("correctness", "completeness", "consistency",
    "uniqueness", "validity", "summary")

  /** Deterministic synthetic DQ-results history: one pseudo check result
    * per event, ~70% passed / 20% failed / 10% error, types round-robin.
    * Mirrors `t_dq_check_results` (`t_dq_check_results.sql:4-16`).
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val typeCol = element_at(
      array(checkTypes.map(lit): _*), (col("event_id") % 6).cast("int") + 1)
    Tables.events(spark, dir).select(
      col("event_id").as("check_id"),
      typeCol.as("check_type"),
      lit("v_dm_task").as("table_name"),
      concat(lit("check "), typeCol).as("check_name"),
      col("ts").as("execution_date"),
      when(col("event_id") % 10 < 7, "passed")
        .when(col("event_id") % 10 < 9, "failed")
        .otherwise("error").as("status"),
      when(col("event_id") % 10 < 7, lit(null).cast("string"))
        .otherwise(concat(lit("issue in "), col("event_type"))).as("error_message")
    )
  }

  val historySql: String =
    """dq_history AS (
      |  SELECT event_id AS check_id,
      |         ['correctness','completeness','consistency','uniqueness','validity','summary']
      |           [CAST(event_id % 6 AS INT) + 1] AS check_type,
      |         'v_dm_task' AS table_name,
      |         'check ' || ['correctness','completeness','consistency','uniqueness','validity','summary']
      |           [CAST(event_id % 6 AS INT) + 1] AS check_name,
      |         ts AS execution_date,
      |         CASE WHEN event_id % 10 < 7 THEN 'passed'
      |              WHEN event_id % 10 < 9 THEN 'failed' ELSE 'error' END AS status,
      |         CASE WHEN event_id % 10 < 7 THEN NULL
      |              ELSE 'issue in ' || event_type END AS error_message
      |  FROM events
      |)""".stripMargin

  private def lookbackSql(days: Int): String =
    s"execution_date >= CAST((SELECT CAST(MAX(execution_date) AS DATE) - $days FROM dq_history) AS TIMESTAMP)"

  /** One lookback row, as the critical section reads it: `at` is its
    * `execution_date` as Spark returns it, `micros` and `day` the same
    * instant as epoch microseconds and its epoch day, which order it, and
    * `shown` is `at` as Spark's `date_format` renders it. */
  private final case class Check(id: Option[Long], name: String, at: Any,
                                 error: String, micros: Long, day: Int,
                                 shown: String)

  /** Newest first, with the `check_id DESC` tiebreak (a NULL id last). */
  private val newestFirst: Ordering[Check] =
    Ordering.by[Check, (Long, Option[Long])](c => (c.micros, c.id)).reverse

  /** Check counts of a group of lookback rows. */
  private final case class Tally(total: Long, passed: Long, failed: Long,
                                 errors: Long) {
    def +(o: Tally): Tally =
      Tally(total + o.total, passed + o.passed, failed + o.failed, errors + o.errors)

    /** Percent passed as Spark computes `CAST(passed * 100.0 /
      * NULLIF(total, 0) AS DECIMAL(10,2))` over doubles: NULL for an
      * empty group, rounded half-up. */
    def rate: java.math.BigDecimal =
      if (total == 0) null
      else {
        val d = Decimal(passed.toDouble * 100.0 / total.toDouble)
        if (d.changePrecision(10, 2)) d.toJavaBigDecimal else null
      }
  }

  private val noChecks = Tally(0, 0, 0, 0)

  private def tallyOf(status: String): Tally = status match {
    case "passed" => Tally(1, 1, 0, 0)
    case "failed" => Tally(1, 0, 1, 0)
    case "error" => Tally(1, 0, 0, 1)
    case _ => Tally(1, 0, 0, 0)
  }

  /** What one task returns of its history rows: its latest epoch day
    * (`top`), the check counts per (check_type, day) of its rows within
    * `days` of that day, each such day's date as Spark returns it, and
    * its n newest failed/error rows. All of it is bounded by the check
    * types, the window and n — not by how many rows the history holds. */
  private final case class Partial(top: Int, tallies: Map[(String, Int), Tally],
                                   dates: Map[Int, Any], newest: Seq[Check])

  /** Fold one task's rows (the columns [[sections]] scans) into its
    * [[Partial]]. A row without a day can never pass the anchor. */
  private def partial(rows: Iterator[Row], days: Int, n: Int): Partial = {
    val tallies = scala.collection.mutable.HashMap.empty[(String, Int), Tally]
    val dates = scala.collection.mutable.HashMap.empty[Int, Any]
    // a bounded heap whose head is the oldest of the n kept
    val heap = scala.collection.mutable.PriorityQueue.empty[Check](newestFirst)
    var top = Int.MinValue
    rows.filterNot(_.isNullAt(6)).foreach { r =>
      val day = r.getInt(6)
      top = top max day
      val key = (r.getString(1), day)
      tallies(key) = tallies.getOrElse(key, noChecks) + tallyOf(r.getString(4))
      dates.getOrElseUpdate(day, r.get(3))
      if (r.getString(4) == "failed" || r.getString(4) == "error") {
        val c = Check(Option.when(!r.isNullAt(0))(r.getLong(0)), r.getString(2),
          r.get(7), r.getString(5), r.getLong(8), day, r.getString(9))
        if (heap.size < n) heap += c
        else if (n > 0 && newestFirst.lt(c, heap.head)) { heap.dequeue(); heap += c }
      }
    }
    Partial(top, tallies.filter(_._1._2 >= top - days).toMap,
      dates.filter(_._1 >= top - days).toMap, heap.toSeq)
  }

  /** The dashboard's four sections, all built on the driver: overall
    * summary with FILTER aggregates (`dq_dashboard.py:30-39`), per-type
    * rollup (`:66-79`) and daily trend (`:120-131`) over the non-summary
    * checks, and the critical top-n (`:147-157`), newest first with a
    * `check_id DESC` tiebreak. */
  private final case class Sections(schema: StructType, summary: Tally,
                                    byType: Seq[(String, Tally)],
                                    trend: Seq[(Any, Tally)],
                                    critical: Seq[Check])

  /** The sections over the history rows within the last `days` days of
    * the anchor (`max(execution_date)::DATE - days`), the reference's
    * `execution_date >= CURRENT_DATE - INTERVAL 'n days'` (F10, P2), in
    * ONE job: each task folds its rows into a [[Partial]], keeping only
    * the days within `days` of its OWN latest day — a superset of its
    * share of the lookback, since no task's latest day is after the
    * global one — and the driver applies the global anchor to the
    * partials. The top-n within the lookback is the top-n of the tasks'
    * top-n rows that pass the anchor, since the lookback holds every row
    * newer than any row it holds. Also returns the scanned columns'
    * schema, so the section frames keep their types. */
  private def sections(spark: SparkSession, dir: String, days: Int,
                       n: Int = 5): Sections =
    JobLabel(spark, "dashboard") {
      val at = col("execution_date")
      val cols = history(spark, dir).select(col("check_id"), col("check_type"),
        col("check_name"), to_date(at).as("check_date"), col("status"),
        col("error_message"), unix_date(to_date(at)), at, unix_micros(at),
        // second precision: java.sql.Timestamp.toString appends a
        // Java-only fractional part (".0") no SQL engine reproduces, and
        // the rendered report is digest-checked against a DuckDB twin
        date_format(at, "yyyy-MM-dd HH:mm:ss"))
      val parts = cols.rdd.mapPartitions(rows => Iterator(partial(rows, days, n))).collect()
      val from = parts.map(_.top).maxOption.getOrElse(Int.MaxValue) - days
      val window = parts.flatMap(_.tallies).filter(_._1._2 >= from).toSeq
        .groupMapReduce(_._1)(_._2)(_ + _).toSeq
      // `check_type != 'summary'` is NULL, so false, for a NULL type
      val typed = window.filter { case ((t, _), _) => t != null && t != "summary" }
      val date = parts.flatMap(_.dates).toMap
      Sections(cols.schema, window.map(_._2).foldLeft(noChecks)(_ + _),
        typed.groupMapReduce(_._1._1)(_._2)(_ + _).toSeq.sortBy(_._1)(SparkOrder.strings),
        typed.groupMapReduce(_._1._2)(_._2)(_ + _).toSeq.sortBy(_._1)
          .map { case (d, c) => date(d) -> c },
        parts.flatMap(_.newest).filter(_.day >= from).sorted(newestFirst).take(n).toSeq)
    }

  private def local(spark: SparkSession, fields: Seq[StructField],
                    rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(fields))

  private def counts(names: String*): Seq[StructField] =
    names.map(StructField(_, LongType, nullable = false))

  private def rateField(name: String) = StructField(name, DecimalType(10, 2))

  /** Overall summary with FILTER aggregates (`dq_dashboard.py:30-39`). */
  def summary(spark: SparkSession, dir: String, days: Int = 7): DataFrame = {
    val s = sections(spark, dir, days).summary
    local(spark, counts("total_checks", "passed_checks", "failed_checks",
      "error_checks") :+ rateField("success_rate"),
      Seq(Row(s.total, s.passed, s.failed, s.errors, s.rate)))
  }

  /** Per-type rollup (`dq_dashboard.py:66-79`). */
  def byType(spark: SparkSession, dir: String, days: Int = 7): DataFrame = {
    val s = sections(spark, dir, days)
    local(spark, s.schema("check_type") +: counts("total", "passed",
      "failed", "errors") :+ rateField("success_rate"),
      s.byType.map { case (t, c) => Row(t, c.total, c.passed, c.failed, c.errors, c.rate) })
  }

  /** Recent-10 check results (`dq_dashboard.py:94-104`), deterministic
    * tiebreak on check_id.
    */
  def recent(spark: SparkSession, dir: String, n: Int = 10): DataFrame =
    history(spark, dir)
      .filter(col("check_type") =!= "summary")
      .orderBy(col("execution_date").desc, col("check_id").desc)
      .select("check_name", "status", "execution_date", "error_message")
      .limit(n)

  /** Daily success-rate trend (`dq_dashboard.py:120-131`). */
  def trend(spark: SparkSession, dir: String, days: Int = 7): DataFrame = {
    val s = sections(spark, dir, days)
    local(spark, s.schema("check_date") +: counts("total_checks",
      "passed_checks") :+ rateField("daily_success_rate"),
      s.trend.map { case (d, c) => Row(d, c.total, c.passed, c.rate) })
  }

  /** Critical issues top-5 (`dq_dashboard.py:147-157`). */
  def critical(spark: SparkSession, dir: String, days: Int = 7, n: Int = 5): DataFrame = {
    val s = sections(spark, dir, days, n)
    local(spark, Seq("check_name", "error_message", "execution_date").map(s.schema(_)),
      s.critical.map(c => Row(c.name, c.error, c.at)))
  }

  /** A4/O1 — latest-run selection via MAX scalar subquery + stable
    * check_id ordering (`run_data_quality_checks.py:40-48`), by run date.
    */
  def latestRun(spark: SparkSession, dir: String): DataFrame = {
    val h = history(spark, dir)
    val mx = h.agg(max(to_date(col("execution_date"))).as("mxd"))
    h.crossJoin(Bcast.ifBounded(mx, Bcast.OneRow))
      .filter(to_date(col("execution_date")) === col("mxd"))
      .drop("mxd")
      .orderBy("check_id")
  }

  val latestRunSql: String =
    """SELECT * FROM dq_history
      |WHERE CAST(execution_date AS DATE) =
      |      (SELECT MAX(CAST(execution_date AS DATE)) FROM dq_history)
      |ORDER BY check_id""".stripMargin

  /** Driver-side text rendering (`dq_dashboard.py:47-63,88-92,...`):
    * summary with a pass/fail progress bar, per-type table, daily trend
    * with arrows, critical issues — the reference's console dashboard,
    * from the same [[sections]] the `dash_*` entries serve.
    */
  def render(spark: SparkSession, dir: String, days: Int = 7): String = {
    val s = sections(spark, dir, days)
    val sb = new StringBuilder
    val sum = s.summary
    val rate = Option(sum.rate).fold("n/a")(_.toString)
    sb.append(s"Period: last $days days\n")
    sb.append(s"Total checks: ${sum.total}\nPassed: ${sum.passed} ($rate%)\n")
    sb.append(s"Failed: ${sum.failed}\nErrors: ${sum.errors}\n")
    if (sum.total > 0) {
      val width = 40
      val p = (sum.passed * width / sum.total).toInt
      val f = (sum.failed * width / sum.total).toInt
      sb.append("Progress: [" + "#" * p + "-" * f + " " * (width - p - f) + "]\n")
    }
    sb.append("\nBy check type:\n")
    s.byType.foreach { case (t, c) =>
      sb.append(f"  $t%-15s total=${c.total}%-5d passed=${c.passed}%-5d failed=${c.failed}%-5d errors=${c.errors}%-5d ${c.rate}%s%%\n")
    }
    sb.append("\nDaily trend:\n")
    s.trend.foreach { case (d, c) =>
      val rr = c.rate
      val arrow =
        if (rr == null) "?"
        else if (rr.doubleValue >= 95) "up"
        else if (rr.doubleValue <= 80) "down" else "flat"
      sb.append(s"  $d checks=${c.total} passed=${c.passed} rate=$rr% [$arrow]\n")
    }
    sb.append("\nCritical issues:\n")
    s.critical.zipWithIndex.foreach { case (c, i) =>
      sb.append(s"  ${i + 1}. ${c.name} (${c.shown}) ${Option(c.error).getOrElse("")}\n")
    }
    sb.toString
  }

  /** §3.3 closure — the rendered console report made driver-checkable:
    * md5 + length of [[render]]'s exact text, hash-verified against an
    * independently string-assembled DuckDB report ([[renderSql]]). What
    * is verified is THIS repo's render analogue of the reference's
    * dashboard (`dq_dashboard.py:22-212` renders Russian-labeled text
    * with a different bar format — byte parity with it is not the claim);
    * the claim is that the render path itself, padding/bar/arrows/
    * timestamp formatting included, is oracle-checked rather than
    * display-only.
    *
    * NOTE: eager, like every lookback entry — invoking this runs
    * [[render]]'s one history scan immediately.
    */
  def renderDigest(spark: SparkSession, dir: String, days: Int = 7): DataFrame = {
    val text = render(spark, dir, days)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    import spark.implicits._
    Seq((md5, text.length.toLong)).toDF("render_md5", "render_len")
  }

  /** DuckDB twin of [[render]] → (md5, length): assembles the report text
    * with the same section queries, the same `%-Ns`-style padding (rpad
    * guarded to Java's no-truncate semantics), the same integer-division
    * progress bar, arrow thresholds, and DECIMAL → string rendering.
    */
  def renderSql(days: Int = 7): String = {
    // Java f"%-${w}s" pads but never truncates; bare rpad would truncate
    def pad(e: String, w: Int) =
      s"(CASE WHEN length($e) >= $w THEN $e ELSE rpad($e, $w, ' ') END)"
    def num(e: String) = pad(s"CAST($e AS VARCHAR)", 5)
    val rate =
      """CAST(CAST(COUNT(*) FILTER (WHERE status = 'passed') AS DOUBLE) * 100.0
        |              / NULLIF(COUNT(*), 0) AS DECIMAL(10,2))""".stripMargin
    s"""WITH $historySql, lb AS (
       |  SELECT * FROM dq_history WHERE ${lookbackSql(days)}
       |), s AS (
       |  SELECT COUNT(*) AS total,
       |         COUNT(*) FILTER (WHERE status = 'passed') AS passed,
       |         COUNT(*) FILTER (WHERE status = 'failed') AS failed,
       |         COUNT(*) FILTER (WHERE status = 'error') AS errors,
       |         $rate AS rate
       |  FROM lb
       |), head AS (
       |  SELECT 'Period: last $days days' || chr(10)
       |      || 'Total checks: ' || total || chr(10)
       |      || 'Passed: ' || passed || ' (' || COALESCE(CAST(rate AS VARCHAR), 'n/a') || '%)' || chr(10)
       |      || 'Failed: ' || failed || chr(10)
       |      || 'Errors: ' || errors || chr(10)
       |      || CASE WHEN total > 0 THEN
       |           'Progress: [' || repeat('#', CAST(passed * 40 // total AS INT))
       |             || repeat('-', CAST(failed * 40 // total AS INT))
       |             || repeat(' ', CAST(40 - passed * 40 // total - failed * 40 // total AS INT))
       |             || ']' || chr(10)
       |         ELSE '' END AS txt
       |  FROM s
       |), bt AS (
       |  SELECT check_type, COUNT(*) AS total,
       |         COUNT(*) FILTER (WHERE status = 'passed') AS passed,
       |         COUNT(*) FILTER (WHERE status = 'failed') AS failed,
       |         COUNT(*) FILTER (WHERE status = 'error') AS errors,
       |         $rate AS rate
       |  FROM lb WHERE check_type != 'summary' GROUP BY check_type
       |), btx AS (
       |  SELECT COALESCE(string_agg(
       |    '  ' || ${pad("check_type", 15)} || ' total=' || ${num("total")}
       |        || ' passed=' || ${num("passed")} || ' failed=' || ${num("failed")}
       |        || ' errors=' || ${num("errors")} || ' '
       |        || COALESCE(CAST(rate AS VARCHAR), 'null') || '%' || chr(10),
       |    '' ORDER BY check_type), '') AS txt
       |  FROM bt
       |), tr AS (
       |  SELECT CAST(execution_date AS DATE) AS d, COUNT(*) AS checks,
       |         COUNT(*) FILTER (WHERE status = 'passed') AS passed,
       |         $rate AS rate
       |  FROM lb WHERE check_type != 'summary' GROUP BY 1
       |), trx AS (
       |  SELECT COALESCE(string_agg(
       |    '  ' || CAST(d AS VARCHAR) || ' checks=' || checks || ' passed=' || passed
       |        || ' rate=' || COALESCE(CAST(rate AS VARCHAR), 'null') || '% ['
       |        || CASE WHEN rate IS NULL THEN '?' WHEN rate >= 95 THEN 'up'
       |                WHEN rate <= 80 THEN 'down' ELSE 'flat' END || ']' || chr(10),
       |    '' ORDER BY d), '') AS txt
       |  FROM tr
       |), cr AS (
       |  SELECT * FROM (
       |    SELECT check_name, error_message,
       |           strftime(execution_date, '%Y-%m-%d %H:%M:%S') AS ed,
       |           row_number() OVER (ORDER BY execution_date DESC, check_id DESC) AS rn
       |    FROM lb WHERE status IN ('failed', 'error')
       |  ) WHERE rn <= 5
       |), crx AS (
       |  SELECT COALESCE(string_agg(
       |    '  ' || rn || '. ' || check_name || ' (' || ed || ') '
       |        || COALESCE(error_message, '') || chr(10), '' ORDER BY rn), '') AS txt
       |  FROM cr
       |), rep AS (
       |  SELECT head.txt || chr(10) || 'By check type:' || chr(10) || btx.txt
       |      || chr(10) || 'Daily trend:' || chr(10) || trx.txt
       |      || chr(10) || 'Critical issues:' || chr(10) || crx.txt AS txt
       |  FROM head, btx, trx, crx
       |)
       |SELECT md5(txt) AS render_md5, CAST(length(txt) AS BIGINT) AS render_len
       |FROM rep""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_latest_run" -> ((s, dir) => latestRun(s, dir)),
    "dq_history" -> ((s, dir) => history(s, dir)),
    "dash_summary" -> ((s, dir) => summary(s, dir)),
    "dash_by_type" -> ((s, dir) => byType(s, dir)),
    "dash_recent10" -> ((s, dir) => recent(s, dir)),
    "dash_trend" -> ((s, dir) => trend(s, dir)),
    "dash_critical5" -> ((s, dir) => critical(s, dir)),
    "dash_render" -> ((s, dir) => renderDigest(s, dir))
  )

  private val prefix = "WITH " + historySql

  def oracles: Map[String, String] = Map(
    "dq_history" -> (prefix + " SELECT * FROM dq_history"),
    "dq_latest_run" -> (prefix + " " + latestRunSql),
    "dash_summary" -> (prefix + s"""
      | SELECT COUNT(*) AS total_checks,
      |        COUNT(*) FILTER (WHERE status = 'passed') AS passed_checks,
      |        COUNT(*) FILTER (WHERE status = 'failed') AS failed_checks,
      |        COUNT(*) FILTER (WHERE status = 'error') AS error_checks,
      |        CAST(CAST(CAST(COUNT(*) FILTER (WHERE status = 'passed') AS DOUBLE) * 100.0
      |             / NULLIF(COUNT(*), 0) AS DECIMAL(10,2)) AS DOUBLE) AS success_rate
      | FROM dq_history WHERE ${lookbackSql(7)}""".stripMargin),
    "dash_by_type" -> (prefix + s"""
      | SELECT check_type, COUNT(*) AS total,
      |        COUNT(*) FILTER (WHERE status = 'passed') AS passed,
      |        COUNT(*) FILTER (WHERE status = 'failed') AS failed,
      |        COUNT(*) FILTER (WHERE status = 'error') AS errors,
      |        CAST(CAST(CAST(COUNT(*) FILTER (WHERE status = 'passed') AS DOUBLE) * 100.0
      |             / NULLIF(COUNT(*), 0) AS DECIMAL(10,2)) AS DOUBLE) AS success_rate
      | FROM dq_history WHERE ${lookbackSql(7)} AND check_type != 'summary'
      | GROUP BY check_type ORDER BY check_type""".stripMargin),
    "dash_recent10" -> (prefix + """
      | SELECT check_name, status, execution_date, error_message
      | FROM dq_history WHERE check_type != 'summary'
      | ORDER BY execution_date DESC, check_id DESC LIMIT 10""".stripMargin),
    "dash_trend" -> (prefix + s"""
      | SELECT CAST(execution_date AS DATE) AS check_date,
      |        COUNT(*) AS total_checks,
      |        COUNT(*) FILTER (WHERE status = 'passed') AS passed_checks,
      |        CAST(CAST(CAST(COUNT(*) FILTER (WHERE status = 'passed') AS DOUBLE) * 100.0
      |             / NULLIF(COUNT(*), 0) AS DECIMAL(10,2)) AS DOUBLE) AS daily_success_rate
      | FROM dq_history WHERE ${lookbackSql(7)} AND check_type != 'summary'
      | GROUP BY 1 ORDER BY check_date""".stripMargin),
    "dash_critical5" -> (prefix + s"""
      | SELECT check_name, error_message, execution_date
      | FROM dq_history
      | WHERE status IN ('failed', 'error') AND ${lookbackSql(7)}
      | ORDER BY execution_date DESC, check_id DESC LIMIT 5""".stripMargin),
    "dash_render" -> renderSql()
  )
}
