package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs started by `body`, counted between two marker jobs so
    * asynchronous listener delivery cannot blur the edges. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marks = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.job.description") == "spec-mark")
          marks.incrementAndGet()
        else if (marks.get() == 1) jobs.incrementAndGet()
    }
    def mark(n: Int): Unit = {
      sc.setJobDescription("spec-mark")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (marks.get() < n && System.nanoTime() < deadline) Thread.sleep(5)
      assert(marks.get() === n, "marker job never reached the listener")
    }
    sc.addSparkListener(l)
    try { mark(1); body; mark(2) } finally sc.removeSparkListener(l)
    jobs.get()
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // static conf: bucketed-table specs need a writable warehouse
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}
