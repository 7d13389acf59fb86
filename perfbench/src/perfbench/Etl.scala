package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.AtomicPublish

/** `etl_warehouse`: the paper's batch pipeline through its public entry
  * point, [[graft.PipelineRunner.run]] (bronze → silver window reload →
  * grow-only dims → fact → one AtomicPublish star version → DQ suite → DQ
  * results reload → footer-count report), followed by `Dashboard.render`.
  * Round 0 is one full-window load into an empty warehouse followed by one
  * reload; every later round is one more reload. A reload is an idempotent
  * run over a seeded sub-window of 2023 into the populated warehouse. */
final class Etl(spark: SparkSession, seed: Long) extends Workload {
  private val OrderRows = 15000L
  /** Days of history in the warehouse: silver is partitioned by day. */
  private val Days = 60
  private val FullStart = LocalDate.parse("2023-01-01")
  private val FullEnd = LocalDate.parse("2023-12-31")
  private val Dims = Seq(
    ("dim_customer", "customer_id", "customer_name", "user_name"),
    ("dim_product", "product_id", "product_category", "product_category"),
    ("dim_region", "region_id", "region_name", "region"),
    ("dim_status", "status_id", "status_name", "customer_status"))

  private var data = ""
  private var wh = ""
  /** The runner's printed report and the star's state after each run. */
  private val reports = mutable.ArrayBuffer.empty[Map[String, String]]
  private val states = mutable.ArrayBuffer.empty[(String, Seq[String])]

  val traceRounds: Int = 2

  def setup(dir: String): Unit = {
    data = s"$dir/data"
    wh = s"$dir/wh"
    reports.clear()
    states.clear()
    Data.writeInputs(spark, data, OrderRows, Days, seed)
  }

  /** A 30-day window inside the loaded days, at a seeded start. The
    * length is fixed because a reload's cost follows the days it rewrites. */
  private def subWindow(r: Int): (LocalDate, LocalDate) = {
    val start = FullStart.plusDays(new java.util.SplittableRandom(seed * 1000003L + r)
      .nextInt(0, Days - 30).toLong)
    (start, start.plusDays(29))
  }

  def round(r: Int): Seq[Op] = {
    val (start, end) = subWindow(r)
    (if (r == 0) Seq(run("load", FullStart, FullEnd)) else Nil) :+ run("reload", start, end)
  }

  private def run(kind: String, start: LocalDate, end: LocalDate): Op = {
    val out = new ByteArrayOutputStream()
    Op(kind, "pipeline")(
      body = () => {
        Console.withOut(new PrintStream(out, true, "UTF-8")) {
          Spans("pipeline.run", "pipeline") {
            graft.PipelineRunner.run(spark, data, wh, start, end)
          }
        }
        Spans("dq.dashboard", "dq") {
          graft.dq.Dashboard.render(spark, data)
        }
        true
      },
      // the program memoizes the bronze frame per session and input dir;
      // a warehouse load reads its sources afresh, so every run starts
      // without that memo
      prepare = Some(() => graft.Memo.dropFamily("bronze")),
      check = Some(() => {
        reports += parseReport(out.toString("UTF-8"))
        states += starState()
      }))
  }

  /** `[runner] <name>: <n> rows` and `[runner] DQ summary: <text>` lines. */
  private def parseReport(text: String): Map[String, String] = {
    val Rows = """\[runner\] (\w+): (\d+) rows""".r
    val Summary = """\[runner\] DQ summary: (.*)""".r
    text.linesIterator.flatMap {
      case Rows(name, n) => Some(name -> n)
      case Summary(s) => Some("dq_summary" -> s.trim)
      case _ => None
    }.toMap
  }

  private def star(name: String): DataFrame =
    AtomicPublish.read(spark, s"$wh/star", name)

  /** Fact checksum (count + order-independent row hash) and each dim's
    * (surrogate id, natural key) pairs. */
  private def starState(): (String, Seq[String]) = {
    val fact = star("fact")
    val r = fact.agg(count(lit(1)), sum(xxhash64(fact.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    val dims = Dims.map { case (name, id, nk, _) =>
      star(name).select(id, nk).collect().map(x => s"${x.get(0)}=${x.get(1)}").sorted.mkString(",")
    }
    (s"${r.get(0)}/${r.get(1)}", dims)
  }

  def verify(): Seq[(String, Boolean, String)] = {
    if (reports.isEmpty) return Seq(("etl.ran", false, "no pipeline run completed"))
    val silver = graft.io.WindowReload.read(spark, s"$wh/silver").drop("processed_at", "eff_part")
    val fact = star("fact")
    val dimKeys = Dims.map { case (_, _, _, src) => countDistinct(col(src)) }
    val s = silver.agg(count(lit(1)),
      coalesce(sum("purchase_amount"), lit(0)).cast("double") +: dimKeys: _*).head()
    val silverRows = s.getLong(0).toString
    val expectDims = Dims.zipWithIndex.map { case ((name, _, _, _), i) =>
      name -> s.getLong(2 + i).toString
    }.toMap
    val expectSummary = dqSummary(s.getDouble(1), fact)
    val perRun = reports.zipWithIndex.flatMap { case (rep, i) =>
      Seq(
        (s"etl.run$i.fact_rows", rep.get("fact").contains(silverRows),
          s"fact ${rep.get("fact")} vs windowed silver $silverRows"),
        (s"etl.run$i.silver_rows", rep.get("silver").contains(silverRows),
          s"runner silver ${rep.get("silver")} vs $silverRows"),
        (s"etl.run$i.dims", expectDims.forall { case (d, n) => rep.get(d).contains(n) },
          s"runner ${Dims.map(d => rep.get(d._1))} vs $expectDims"),
        (s"etl.run$i.dq_summary", rep.get("dq_summary").contains(expectSummary),
          s"runner '${rep.get("dq_summary")}' vs '$expectSummary'"))
    }
    val first = states.head
    val idempotent = states.zipWithIndex.tail.flatMap { case (s, i) =>
      Seq((s"etl.run$i.fact_checksum", s._1 == first._1, s"${s._1} vs ${first._1}"),
        (s"etl.run$i.dim_ids", s._2 == first._2, "dim surrogate ids changed"))
    }
    perRun.toSeq ++ idempotent.toSeq
  }

  /** The five DQ checks recomputed from the stored fact and the silver
    * purchase sum with plain aggregates; returns the summary line the
    * suite must print. */
  private def dqSummary(e: Double, fact: DataFrame): String = {
    val f = fact.agg(coalesce(sum("purchase_amount"), lit(0)).cast("double"),
      count(when(col("customer_id").isNull, 1)), count(lit(1)),
      count(when(col("effective_to") < col("effective_from"), 1)),
      count(when(col("salary") < 0 || col("salary") > 1000000, 1))).head()
    val dups = fact.groupBy("fact_id", "customer_id", "effective_from").count()
      .filter(col("count") > 1).count()
    val total = f.getLong(2)
    val passed = Seq(
      e != 0 && math.abs(e - f.getDouble(0)) / e <= 0.01,
      total == 0 || f.getLong(1).toDouble * 100.0 / total <= 5,
      f.getLong(3) == 0,
      dups == 0,
      f.getLong(4) == 0).count(identity)
    s"Total: 5, Passed: $passed, Failed: ${5 - passed}"
  }

  def report(): Map[String, Any] = Map(
    "orders_rows" -> OrderRows,
    "lineitem_rows" -> spark.read.parquet(s"$data/lineitem.parquet").count(),
    "silver_rows" -> reports.headOption.flatMap(_.get("silver")).fold(0L)(_.toLong),
    "fact_rows" -> reports.headOption.flatMap(_.get("fact")).fold(0L)(_.toLong))
}
