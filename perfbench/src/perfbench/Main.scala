package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload.
  *  - `prepare` makes the operation's inputs (untimed);
  *  - `body` is the timed call into the program; it returns true when the
  *    operation committed a table version;
  *  - `after` is workload work that follows the operation in the closed
  *    loop but is not part of its latency (the change-feed drain); its
  *    time is recorded separately;
  *  - `check` records what the correctness gate needs (untimed).
  * `metadataOnly` marks a query the design may serve from table metadata
  * alone, so it may legitimately launch no Spark job. */
final case class Op(kind: String, layer: String, metadataOnly: Boolean = false)(
    val body: () => Boolean,
    val prepare: Option[() => Unit] = None,
    val after: Option[() => Unit] = None,
    val check: Option[() => Unit] = None)

trait Workload {
  /** Rounds of a traced run. */
  def traceRounds: Int
  /** Build the fixture under `dir`. Called several times per run to time
    * set-up; each call replaces the previous fixture. */
  def setup(dir: String): Unit
  /** The operations of round `r` (a fixed, seeded list). */
  def round(r: Int): Seq[Op]
  /** Correctness gate, run after timing: (check, passed, detail). */
  def verify(): Seq[(String, Boolean, String)]
  /** Workload-specific values for the report (sizes, lags, ratios). */
  def report(): Map[String, Any]
}

object Main {
  /** Fixture set-ups per run; setup_s reports their median. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, out: String, cores: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"), m("cores").toInt)
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config("spark.sql.maxPlanStringLength", "1000000")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      // the runner's audit columns read this instant, so reloads are
      // byte-identical and their checksums comparable
      .config("spark.graft.run_ts", "2024-01-15 00:00:00")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    CountingFs.sc = spark.sparkContext
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    val wl: Workload = o.workload match {
      case "etl_warehouse" => new Etl(spark, o.seed)
      case "lake_dml" => new Dml(spark, o.seed)
      case "lake_read" => new Read(spark, o.seed)
      case w => sys.error(s"unknown workload $w")
    }
    val raw = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cores" -> o.cores, "session_s" -> sessionS,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory)
    try new Runner(spark, o, wl, counter).run(raw)
    finally {
      Files.write(new File(o.out).toPath, Json.render(raw).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }
}

final class Runner(spark: SparkSession, o: Main.Opts, wl: Workload, counter: JobCounter) {
  private val sc = spark.sparkContext
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def drained(): Long = {
    org.apache.spark.perfbench.Bus.drain(sc)
    counter.started.get()
  }

  private def exec(op: Op, r: Int, traced: Boolean): Unit = {
    op.prepare.foreach(_())
    val v0 = drained()
    val t0 = System.nanoTime()
    var error: String = null
    val committed =
      try Spans(op.kind, op.layer)(op.body())
      catch { case NonFatal(e) => error = s"${e.getClass.getName}: ${e.getMessage}"; false }
    val ms = (System.nanoTime() - t0) / 1e6
    val jobs = drained() - v0
    if (error == null && jobs == 0 && !committed && !op.metadataOnly)
      error = "launched no Spark job and committed no version (a cache hit?)"
    val t1 = System.nanoTime()
    try op.after.foreach(f => Spans("cdc.drain", "streaming")(f()))
    catch { case NonFatal(e) => if (error == null) error = s"after: ${e.getMessage}" }
    val afterMs = (System.nanoTime() - t1) / 1e6
    try op.check.foreach(_())
    catch { case NonFatal(e) => if (error == null) error = s"check: ${e.getMessage}" }
    ops += Map("round" -> r, "kind" -> op.kind, "layer" -> op.layer, "ms" -> ms,
      "after_ms" -> afterMs, "jobs" -> jobs, "ok" -> (error == null),
      "error" -> Option(error).map(_.take(500)), "traced" -> traced)
  }

  def run(raw: mutable.Map[String, Any]): Unit = {
    val reps = if (o.trace) 1 else Main.SetupReps
    val setupS = (0 until reps).map { i =>
      val dir = s"${o.work}/fixture-$i"
      val t0 = System.nanoTime()
      wl.setup(dir)
      (System.nanoTime() - t0) / 1e9
    }
    raw("fixture_s") = setupS
    val t0 = System.nanoTime()
    if (o.trace) {
      // every kind runs both untraced and traced: the n-th kind to appear
      // is traced on its odd runs when n is even and on its even runs when
      // n is odd, so first (colder) runs fall on both sides of the
      // overhead comparison. Untraced operations run with no listener,
      // span or FS counting attached.
      val tracer = new Tracer
      val seen = mutable.LinkedHashMap.empty[String, Int]
      (0 until wl.traceRounds).foreach { r =>
        wl.round(r).foreach { op =>
          val runs = seen.getOrElse(op.kind, 0)
          seen(op.kind) = runs + 1
          val traced = (seen.keys.toSeq.indexOf(op.kind) + runs) % 2 == 1
          if (traced) {
            tracer.install(spark)
            Spans.enabled = true
            CountingFs.enabled = true
          }
          try exec(op, r, traced) finally if (traced) {
            drained()
            CountingFs.enabled = false
            Spans.enabled = false
            tracer.uninstall(spark)
          }
        }
      }
      raw("trace") = tracer.records + ("spans" -> Spans.records)
    } else {
      val deadline = t0 + o.seconds * 1000000000L
      var r = 0
      while (r == 0 || System.nanoTime() < deadline) {
        wl.round(r).foreach(exec(_, r, traced = false))
        r += 1
      }
    }
    raw("measured_s") = (System.nanoTime() - t0) / 1e9
    raw("ops") = ops.toSeq
    val v0 = System.nanoTime()
    raw("checks") = wl.verify().map { case (n, ok, d) =>
      Map("name" -> n, "ok" -> ok, "detail" -> d.take(2000))
    }
    raw("verify_s") = (System.nanoTime() - v0) / 1e9
    raw("report") = wl.report()
  }
}
