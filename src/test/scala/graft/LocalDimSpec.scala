package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Pipeline, Star}

/** The runner's driver-side dims ([[Star.dimKeys]] + [[Star.upsertLocal]])
  * and key-lookup fact ([[Star.factWithKeys]]) against the Spark
  * builders they replace there ([[Star.dim]], [[Star.upsertDim]],
  * [[Star.factWithDims]]). */
class LocalDimSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(df: DataFrame): Set[(Long, String)] =
    df.as[(Long, String)].collect().toSet

  /** Every dim of `silver` built both ways, on top of `existing`. */
  private def assertSameDims(silver: DataFrame,
                             existing: Seq[(Long, String)] = Nil): Unit = {
    val keys = Star.dimKeys(silver)
    Star.Dims.zip(keys).foreach { case (d, ks) =>
      val spark_ =
        if (existing.isEmpty) Star.dim(silver, d.source, d.idCol, d.nkCol)
        else Star.upsertDim(existing.toDF(d.idCol, d.nkCol),
          silver.select(col(d.source).as(d.nkCol)), d.idCol, d.nkCol)
      val local = Star.upsertLocal(existing, ks)
      assert(local.size === local.map(_._2).distinct.size, s"${d.name}: duplicate key")
      assert(local.toSet === pairs(spark_), s"${d.name} differs from the Spark builder")
    }
  }

  private val astral = "\uD83D\uDE00" // U+1F600: above U+FFFF
  private val privateUse = "\uE000" // U+E000–U+FFFF sorts before it in UTF-8
  private val replacement = "\uFFFD"

  /** A silver-shaped frame with NULL, duplicate and non-ASCII keys. */
  private def handMade: DataFrame = Seq[(String, String, String, String)](
    ("User 0002", "Books", null, "active"),
    (null, "Books", "North", null),
    (astral, null, privateUse, "unknown"),
    (privateUse, "\u00E9", astral, "active"),
    (replacement, "Zebra", "North", replacement),
    ("User 0002", "a", null, astral),
    ("\u03A9", "Books", "\u03A9", null)
  ).toDF("user_name", "product_category", "region", "customer_status")

  test("Spark's string order is not String.compareTo for these keys") {
    val ks = Seq(astral, privateUse, replacement, "\u03A9", "a")
    assert(ks.sorted(SparkOrder.strings) !== ks.sorted,
      "the fixture no longer pins UTF-8 binary order")
    assert(Seq(astral, privateUse).toDF("k").orderBy("k").as[String].collect().toSeq ===
      Seq(privateUse, astral))
  }

  test("driver-side dims equal Star.dim over sf0.001 silver") {
    assertSameDims(Pipeline.silver(spark, sf0001))
  }

  test("driver-side dims equal Star.dim with NULL and non-ASCII keys") {
    assertSameDims(handMade)
  }

  test("driver-side upsert equals Star.upsertDim on an existing dim with id gaps") {
    assertSameDims(handMade, Seq((3L, "Books"), (10L, privateUse), (4L, "North"),
      (7L, "Zebra")))
    assertSameDims(Pipeline.silver(spark, sf0001), Seq((5L, "User 0003"),
      (12L, "North"), (13L, "active"), (40L, astral)))
  }

  test("dimKeys fails on a dim over the driver-side bound") {
    val wide = spark.range(0, Bcast.SafeRows + 10).select(
      col("id").cast("string").as("user_name"), lit("Books").as("product_category"),
      lit("North").as("region"), lit("active").as("customer_status"))
    val e = intercept[IllegalArgumentException](Star.dimKeys(wide))
    assert(e.getMessage.contains("dim_customer"))
  }

  test("the key-lookup fact equals the joined fact") {
    val silver = Pipeline.silver(spark, sf0001)
    val keys = Star.dimKeys(silver).map(ks => Star.upsertLocal(Nil, ks).map(_.swap).toMap)
    val looked = Star.factWithKeys(silver, keys)
    val joined = Star.fact(silver)
    assert(looked.schema === joined.schema)
    assert(looked.exceptAll(joined).isEmpty && joined.exceptAll(looked).isEmpty)
  }
}
