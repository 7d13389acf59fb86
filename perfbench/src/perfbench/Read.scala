package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.CowTable

/** `lake_read`: queries with no commits against two snapshots of the same
  * rows — `compacted` (8 files, no deletion vectors) and `fragmented` (48
  * files plus small appends, with deletion vectors on most files). Each
  * query shape runs through SQL on `graft.\`path\`` and through
  * `CowTable.read`/`readAt`/`readForKeys`; a round runs every shape on both
  * snapshots through both paths, in a seeded order (the seed also draws the
  * date ranges and keys). Every result is
  * compared with the same query over a plain-parquet copy of the snapshot
  * made in set-up. */
final class Read(spark: SparkSession, seed: Long) extends Workload {
  private val Rows = 150000L
  private val Shapes = Seq("count", "group", "range", "point", "scan", "asof")

  /** snapshot name → (table path, plain copy of head, plain copy of v0) */
  private var snaps = Map.empty[String, (String, String, String)]
  /** (shape, snapshot, path, params) of each query run, with its result */
  private val results = mutable.ArrayBuffer.empty[(String, String, String, String, Seq[String])]

  val traceRounds: Int = 2

  def setup(d: String): Unit = {
    results.clear()
    val v0Plain = s"$d/plain_v0"
    Data.orders(spark, Rows, seed).coalesce(1).write.parquet(v0Plain)
    val v0 = spark.read.parquet(v0Plain)
    val frag = s"$d/fragmented"
    CowTable.create(spark, frag, v0, "o_orderkey", numFiles = 48, retain = 16,
      statsCols = Seq("o_orderdate"))
    val rnd = new SplittableRandom(seed)
    val appended = (0 until 4).flatMap { i =>
      val rows = (0 until 300).map(j => Data.newOrder(Rows + 1 + i * 300 + j, rnd))
      CowTable.append(spark, frag, Data.frame(spark, rows))
      rows
    }
    val (m1, m2) = (rnd.nextInt(53), rnd.nextInt(59))
    val k = col("o_orderkey")
    CowTable.dvDelete(spark, frag, k % 53 === m1)
    CowTable.dvDelete(spark, frag, k % 59 === m2)
    val headPlain = s"$d/plain_head"
    v0.unionByName(Data.frame(spark, appended))
      .filter(!(k % 53 === m1) && !(k % 59 === m2))
      .coalesce(1).write.parquet(headPlain)
    val compact = s"$d/compacted"
    CowTable.create(spark, compact, spark.read.parquet(headPlain), "o_orderkey",
      numFiles = 8, statsCols = Seq("o_orderdate"))
    // the compacted table's only version is its head
    snaps = Map("fragmented" -> (frag, headPlain, v0Plain),
      "compacted" -> (compact, headPlain, headPlain))
  }

  private def dec(c: String) = sum(col(c).cast("decimal(18,2)"))

  /** The query of `shape` over `t` (a frame for the snapshot or its v0). */
  private def query(shape: String, t: DataFrame, p: Seq[Long]): DataFrame = shape match {
    case "count" => t.agg(count(lit(1)))
    case "group" => t.groupBy("o_orderstatus").agg(count(lit(1)), dec("o_totalprice"))
    case "range" => t.filter(col("o_orderdate").between(date(p(0)), date(p(0) + 47)))
      .agg(count(lit(1)), dec("o_totalprice"))
    case "point" => t.filter(col("o_orderkey").isin(p: _*))
    case "asof" => t.agg(count(lit(1)), dec("o_totalprice"))
  }

  private def sql(shape: String, path: String, p: Seq[Long]): String = {
    val t = s"graft.`$path`"
    shape match {
      case "count" => s"SELECT COUNT(*) FROM $t"
      case "group" => s"SELECT o_orderstatus, COUNT(*), SUM(CAST(o_totalprice AS DECIMAL(18,2))) " +
        s"FROM $t GROUP BY o_orderstatus"
      case "range" => s"SELECT COUNT(*), SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM $t " +
        s"WHERE o_orderdate BETWEEN DATE '${date(p(0))}' AND DATE '${date(p(0) + 47)}'"
      case "point" => s"SELECT * FROM $t WHERE o_orderkey IN (${p.mkString(", ")})"
      case "scan" => s"SELECT * FROM $t"
      case "asof" => s"SELECT COUNT(*), SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM $t VERSION AS OF 0"
    }
  }

  private def date(day: Long) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def checksum(t: DataFrame): Seq[String] =
    rows(t.agg(count(lit(1)), sum(xxhash64(Data.ordersSchema.fieldNames.map(col): _*)
      .cast("decimal(38,0)"))))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def round(r: Int): Seq[Op] = {
    val rnd = new SplittableRandom(seed * 31337L + r)
    val all = for {
      shape <- Shapes; snap <- Seq("fragmented", "compacted"); via <- Seq("sql", "api")
    } yield (shape, snap, via)
    all.map(q => (rnd.nextDouble(), q)).sortBy(_._1).map { case (_, (shape, snap, via)) =>
      val p: Seq[Long] = shape match {
        case "range" => Seq(Data.Epoch.toEpochDay + rnd.nextInt(0, Data.DateSpanDays - 48))
        case "point" => (0 until 5).map(_ => rnd.nextLong(1L, Rows + 1))
        case _ => Nil
      }
      val path = snaps(snap)._1
      Op(s"${shape}_${via}_$snap", "sources", metadataOnly = shape == "count")(body = () => {
        val res: Seq[String] = (shape, via) match {
          case ("scan", "sql") => noop(spark.sql(sql(shape, path, p))); Nil
          case ("scan", "api") => noop(CowTable.read(spark, path)); Nil
          case (_, "sql") => rows(spark.sql(sql(shape, path, p)))
          case ("asof", "api") => rows(query(shape, CowTable.readAt(spark, path, 0L), p))
          case ("point", "api") =>
            import spark.implicits._
            rows(query(shape, CowTable.readForKeys(spark, path, p.toDF("k"), "o_orderkey"), p))
          case _ => rows(query(shape, CowTable.read(spark, path), p))
        }
        results += ((shape, snap, via, p.mkString(","), res))
        false
      })
    }
  }

  def verify(): Seq[(String, Boolean, String)] = {
    val expected = mutable.Map.empty[(String, String, String), Seq[String]]
    def plain(shape: String, snap: String, params: String): Seq[String] =
      expected.getOrElseUpdate((shape, snap, params), {
        val (_, head, v0) = snaps(snap)
        val p = if (params.isEmpty) Nil else params.split(",").toSeq.map(_.toLong)
        val t = spark.read.parquet(if (shape == "asof") v0 else head)
        if (shape == "scan") checksum(t) else rows(query(shape, t, p))
      })
    // the timed scans write to the noop sink; the same two scans are
    // checked here by a full-row checksum
    val scans = for {
      (snap, (path, _, _)) <- snaps.toSeq
      (via, t) <- Seq("sql" -> spark.sql(sql("scan", path, Nil)), "api" -> CowTable.read(spark, path))
    } yield {
      val got = checksum(t)
      (s"read.$snap.scan_$via", got == plain("scan", snap, ""), s"$got")
    }
    results.toSeq.filter(_._1 != "scan").map { case (shape, snap, via, params, got) =>
      val want = plain(shape, snap, params)
      (s"read.$snap.${shape}_$via", got == want,
        s"params [$params]: ${got.take(3)} vs ${want.take(3)}")
    } ++ scans
  }

  def report(): Map[String, Any] = snaps.map { case (snap, (path, _, _)) =>
    val m = CowTable.manifest(spark, path)
    snap -> Map("rows" -> m.map(e => e.rows - e.dvRows).sum, "files" -> m.size,
      "files_with_dv" -> m.count(_.dvRows > 0), "manifest_entries" -> m.size,
      "manifest_cache_bound" -> 16384)
  } + ("query_rows" -> results.toSeq.map { case (shape, _, _, _, res) =>
    // rows the query returned; for the range aggregate, the rows it matched
    if (shape == "range") res.headOption.fold(0L)(_.split('|')(0).toLong) else res.size.toLong
  })
}
