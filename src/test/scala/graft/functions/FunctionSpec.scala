package graft.functions

import graft.SparkTestSession
import graft.operators.{FunctionQueries, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** UDAF/generator/approx coverage: the typed Aggregator's algebra and its
  * agreement with a plain-Scala computation, plus the approx-distinct
  * error bound.
  */
class FunctionSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("CentroidAggregator algebra: zero/reduce/merge/finish") {
    val a = CentroidAggregator
    val v1 = Seq(1.0f, -2.0f)
    val v2 = Seq(0.5f, 0.5f)
    val b = a.merge(a.reduce(a.zero, v1), a.reduce(a.zero, v2))
    assert(b.n == 2)
    assert(b.sums.toSeq == Seq(1500L, -1500L))
    assert(a.finish(b) == Seq(750L, -750L))
    // truncating division on negatives (DuckDB integer // parity: -3//2 = -1)
    val neg = a.merge(a.reduce(a.zero, Seq(-0.001f)), a.reduce(a.zero, Seq(-0.002f)))
    assert(a.finish(neg) == Seq(-1L))
    // merge with zero on either side
    assert(a.finish(a.merge(a.zero, b)) == a.finish(b))
    assert(a.finish(a.merge(b, a.zero)) == a.finish(b))
  }

  test("q35 centroids match a plain-Scala groupBy computation") {
    val expected: Map[(Int, Int), Long] =
      Tables.embeddings(spark, dir).select("label", "embedding").collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1))
        .groupBy(_._1)
        .flatMap { case (label, rows) =>
          val n = rows.length
          val dims = rows.head._2.length
          (0 until dims).map { d =>
            val s = rows.map(r => math.round(r._2(d).toDouble * 1000)).sum
            (label, d) -> s / n
          }
        }
    val got = FunctionQueries.q35LabelCentroids(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  test("q37 approx distinct stays within the declared 10% bound") {
    val r = FunctionQueries.q37ApproxDistinct(spark, dir).head()
    assert(r.getBoolean(1), s"approx out of bounds: $r")
  }

  test("q43 counting/histogram percentiles equal the builtin exact percentile") {
    // differential: the r4 reformulations must reproduce the builtin
    // sort-based aggregate bit-for-bit (both interpolate lo+(hi-lo)*frac)
    val got = FunctionQueries.q43Percentiles(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    val ref = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5D)").as("p50"),
        expr("percentile(l_extendedprice, 0.95D)").as("p95"),
        count(lit(1)).as("cnt"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    assert(got == ref)
  }

  test("percentile reformulations equal the builtin on adversarial shapes") {
    import spark.implicits._
    // seeded generator: tiny groups, single-value groups, heavy duplicates,
    // negative values — the shapes where off-by-one rank math would show
    val rng = new scala.util.Random(42)
    val shapes = Seq(
      Seq.fill(1)(rng.nextInt(10)),                   // n=1: k=0, lo=hi
      Seq.fill(2)(7),                                  // all-equal tiny
      Seq.fill(50)(rng.nextInt(3)),                    // heavy duplicates
      Seq.fill(97)(rng.nextInt(1000) - 500),           // negatives, prime n
      Seq.tabulate(1000)(identity),                    // dense distinct
    )
    val rows = shapes.zipWithIndex.flatMap { case (vs, g) =>
      vs.map(v => (s"g$g", v.toDouble))
    }
    val df = rows.toDF("grp", "x")
    for (p <- Seq(0.0, 0.5, 0.9, 0.95, 1.0)) {
      val viaCounting = FunctionQueries.exactPercentileByCounting(df, "grp", "x", p, "v")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val viaHistogram = FunctionQueries.exactPercentileByHistogram(df, "grp", "x", p, "v",
          bucketWidth = 16.0)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val viaBuiltin = df.groupBy(col("grp"))
        .agg(expr(s"percentile(x, ${p}D)").as("v"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(viaCounting == viaBuiltin, s"counting at p=$p")
      assert(viaHistogram == viaBuiltin, s"histogram at p=$p")
    }
  }

  test("q58 approx percentile rank stays within the declared bound") {
    val rows = FunctionQueries.q58ApproxPercentile(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(2), s"rank out of bounds: $r"))
  }
}
