package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.WindowReload

class WindowReloadSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Int, String, String)*): DataFrame =
    rows.toDF("id", "f", "t")
      .select(col("id"),
        col("f").cast("date").as("effective_from"),
        col("t").cast("date").as("effective_to"))

  private def snapshot(path: String): Set[(Int, String, String)] =
    WindowReload.read(spark, path)
      .select(col("id"), col("effective_from").cast("string"),
        col("effective_to").cast("string"))
      .as[(Int, String, String)].collect().toSet

  private val jan1 = LocalDate.parse("2023-01-01")
  private val jan31 = LocalDate.parse("2023-01-31")

  test("reload writes ~one file per date partition (rebalance, no small-file fanout)") {
    val target = Files.createTempDirectory("wr_layout").toFile.getAbsolutePath + "/t"
    // 600 rows over 3 dates, written from many upstream partitions: without
    // the REBALANCE before partitionBy, each task writes into each date dir
    val rows = (1 to 600).map(i => (i, s"2023-01-0${i % 3 + 1}", "2023-01-20"))
    WindowReload.reload(spark, target,
      df(rows: _*).repartition(16), jan1, jan31,
      granularity = Some(WindowReload.Day))
    val trees = new java.io.File(s"$target/trees").listFiles()
    assert(trees.length === 1, "one reload = one immutable tree")
    val dirs = trees(0).listFiles()
      .filter(_.getName.startsWith("eff_part="))
    assert(dirs.length === 3)
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${d.getName}: expected 1 coalesced file, found ${files.length}")
    }
  }

  test("granularity scales with density and the marker pins it across reloads") {
    val target = Files.createTempDirectory("wr_gran").toFile.getAbsolutePath + "/t"
    // sparse data (2 rows over a month) → auto picks a coarse granularity:
    // one partition dir instead of one per day
    WindowReload.reload(spark, target,
      df((1, "2023-01-05", "2023-01-10"), (2, "2023-01-20", "2023-01-25")),
      jan1, jan31)
    def partDirs() = WindowReload.read(spark, target)
      .select(col("eff_part").cast("string")).distinct()
      .as[String].collect().toSet
    assert(partDirs() === Set("2023-01-01"),
      "sparse month should collapse to a single coarse partition")
    // second reload (even if a caller now asks for Day) must honor the
    // on-disk layout — mixing truncation schemes in one tree would corrupt
    // the dynamic overwrite
    WindowReload.reload(spark, target, df((3, "2023-01-07", "2023-01-12")),
      jan1, jan31, granularity = Some(WindowReload.Day))
    assert(partDirs() === Set("2023-01-01"))
    assert(snapshot(target).map(_._1) === Set(3))
  }

  test("coarse granularity carries out-of-window rows sharing a partition") {
    val target = Files.createTempDirectory("wr_carry").toFile.getAbsolutePath + "/t"
    // first load over a wide window puts a December row and a January row
    // in distinct coarse partitions
    WindowReload.reload(spark, target,
      df((1, "2022-12-15", "2022-12-20"), (2, "2023-01-05", "2023-01-10")),
      LocalDate.parse("2022-12-01"), LocalDate.parse("2023-01-31"))
    // reload ONLY January: row 2's partition is rewritten; row 1 lives in
    // a different partition and must survive untouched
    WindowReload.reload(spark, target, df((3, "2023-01-06", "2023-01-11")),
      jan1, jan31)
    assert(snapshot(target).map(_._1) === Set(1, 3))
  }

  test("reload is idempotent: same window twice leaves identical state (M1)") {
    val path = Files.createTempDirectory("wr").toString + "/t"
    val inc = df((1, "2023-01-05", "2023-01-10"), (2, "2023-01-20", "2023-01-25"))
    WindowReload.reload(spark, path, inc, jan1, jan31)
    val first = snapshot(path)
    WindowReload.reload(spark, path, inc, jan1, jan31)
    assert(snapshot(path) === first)
    assert(first.map(_._1) === Set(1, 2))
  }

  test("reload replaces in-window rows, keeps out-of-window and straddlers") {
    val path = Files.createTempDirectory("wr").toString + "/t"
    WindowReload.reload(spark, path,
      df((1, "2022-12-15", "2022-12-20"),  // before window (kept untouched)
         (2, "2023-01-05", "2023-01-10"),  // in window (replaced on reload)
         (3, "2023-01-20", "2023-03-01")), // straddler: from in, to out (kept)
      LocalDate.parse("2022-12-01"), LocalDate.parse("2023-03-31"))

    WindowReload.reload(spark, path, df((4, "2023-01-07", "2023-01-12")), jan1, jan31)

    // row 2 purged (delete predicate matched, not re-inserted), row 4 in,
    // rows 1 (outside) and 3 (straddler — never reloaded, only carried) kept
    assert(snapshot(path).map(_._1) === Set(1, 3, 4))
  }

  test("reload purges a stale partition that gets no replacement rows") {
    val path = Files.createTempDirectory("wr").toString + "/t"
    WindowReload.reload(spark, path, df((1, "2023-01-05", "2023-01-10")), jan1, jan31)
    // reload same window with data on a DIFFERENT day: day 05 must vanish
    WindowReload.reload(spark, path, df((2, "2023-01-06", "2023-01-11")), jan1, jan31)
    assert(snapshot(path).map(_._1) === Set(2))
  }

  test("incoming rows outside the window are not inserted (P2 both-bounds quirk)") {
    val path = Files.createTempDirectory("wr").toString + "/t"
    WindowReload.reload(spark, path,
      df((1, "2023-01-05", "2023-02-10"),   // to > end → excluded
         (2, "2022-12-31", "2023-01-10"),   // from < start → excluded
         (3, "2023-01-05", "2023-01-10")),  // inside → inserted
      jan1, jan31)
    assert(snapshot(path).map(_._1) === Set(3))
  }

  test("a reader racing a reload sees the old or the new window, never a gap") {
    val path = Files.createTempDirectory("wr_iso").toString + "/t"
    WindowReload.reload(spark, path,
      df((1, "2023-01-05", "2023-01-10"), (2, "2023-01-20", "2023-01-25")),
      jan1, jan31)
    val oldSet = snapshot(path)
    // a reader that resolved the manifest BEFORE the reload commits —
    // its frame must stay completely readable afterwards (retain=2
    // spares the trees the previous manifest references)
    val preFrame = WindowReload.read(spark, path)
      .select(col("id"), col("effective_from").cast("string"),
        col("effective_to").cast("string"))
    // a reader loop racing the reload: every resolved view must be
    // EXACTLY the old state or the new state — the in-place dynamic
    // overwrite this replaces could expose a partition with its old
    // files deleted and the new ones not yet visible
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[(Int, String, String)]]
    @volatile var halt = false
    val reader = new Thread {
      override def run(): Unit = while (!halt) seen.add(snapshot(path))
    }
    reader.start()
    try WindowReload.reload(spark, path, df((3, "2023-01-06", "2023-01-11")),
      jan1, jan31)
    finally { halt = true; reader.join() }
    val newSet = snapshot(path)
    assert(newSet.map(_._1) === Set(3))
    import scala.jdk.CollectionConverters._
    val torn = seen.asScala.toSet -- Set(oldSet, newSet)
    assert(torn.isEmpty, s"torn views observed: $torn")
    assert(seen.asScala.nonEmpty, "the reader must observe at least one view")
    assert(preFrame.as[(Int, String, String)].collect().toSet === oldSet,
      "a pre-reload reader keeps its complete snapshot")
  }

  test("auto granularity costs no extra job on first load (estimate, not count)") {
    val rows = (1 to 50).map(i => (i, f"2023-01-${i % 28 + 1}%02d", "2023-01-31"))
    def jobsOf(body: => Unit): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      // listener delivery is async; a short quiesce keeps the count exact
      try { body; Thread.sleep(500) }
      finally spark.sparkContext.removeSparkListener(l)
      counter.get()
    }
    val base = Files.createTempDirectory("wr_jobs").toString
    val auto = jobsOf {
      WindowReload.reload(spark, s"$base/auto", df(rows: _*), jan1, jan31)
    }
    val explicit = jobsOf {
      WindowReload.reload(spark, s"$base/expl", df(rows: _*), jan1, jan31,
        granularity = Some(WindowReload.Year))
    }
    assert(auto === explicit,
      s"granularity estimation must not add a job (auto=$auto explicit=$explicit)")
  }

  test("a two-tree read takes its schema from the footers: Spark's inferred " +
    "schema, no job") {
    val target = Files.createTempDirectory("wr_schema").toFile.getAbsolutePath + "/t"
    WindowReload.reload(spark, target,
      df((1, "2023-01-05", "2023-01-20"), (2, "2023-01-07", "2023-01-09")),
      jan1, jan31, granularity = Some(WindowReload.Day))
    WindowReload.reload(spark, target,
      df((3, "2023-02-02", "2023-02-10")),
      LocalDate.parse("2023-02-01"), LocalDate.parse("2023-02-28"))
    val trees = new java.io.File(s"$target/trees").listFiles()
      .filter(_.isDirectory).map(_.getAbsolutePath).sorted.toSeq
    assert(trees.size === 2)
    val inferred = trees.map(spark.read.parquet(_)).reduce(_.unionByName(_))
    var read: DataFrame = null
    assert(jobsOf { read = WindowReload.read(spark, target) } === 0)
    assert(read.schema === inferred.schema)
    assert(snapshot(target) === Set((1, "2023-01-05", "2023-01-20"),
      (2, "2023-01-07", "2023-01-09"), (3, "2023-02-02", "2023-02-10")))
  }
}
