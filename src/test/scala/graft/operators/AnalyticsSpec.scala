package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CUBE/PIVOT/sampling/map-fn semantics beyond the DuckDB gate. */
class AnalyticsSpec extends AnyFunSuite with SparkTestSession {
  private val dir = "/root/testdata/sf0.001"
  private val numShards = 1 << (4 * AnalyticsQueries.ShardHexDigits) // 16^digits

  test("cube emits all four grouping sets consistently") {
    val rows = AnalyticsQueries.q48Cube(spark, dir).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val total = grand.head.getLong(2)
    // each grouping set partitions the same row universe
    val byStatus = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1)).map(_.getLong(2)).sum
    val byPrio = rows.filter(r => r.isNullAt(0) && !r.isNullAt(1)).map(_.getLong(2)).sum
    val byBoth = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map(_.getLong(2)).sum
    assert(byStatus == total && byPrio == total && byBoth == total)
  }

  test("pivot columns reconcile with the plain group-by") {
    val pivoted = AnalyticsQueries.q49Pivot(spark, dir).collect()
      .map(r => r.getString(0) -> (1 to 5).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).sum)
      .toMap
    val plain = Tables.orders(spark, dir).groupBy(col("o_orderstatus")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pivoted == plain)
  }

  test("hash-mod sampling is deterministic and near the per-stratum targets") {
    val a = AnalyticsQueries.q50StratifiedSample(spark, dir).collect().map(_.toSeq)
    val b = AnalyticsQueries.q50StratifiedSample(spark, dir).collect().map(_.toSeq)
    assert(a.sameElements(b), "same data, same sample — always")
    val rates = a.map(r => r(0).asInstanceOf[String] ->
      r(2).asInstanceOf[Long].toDouble / r(1).asInstanceOf[Long]).toMap
    val targets = Map("A" -> 12.0 / 256, "N" -> 25.0 / 256, "R" -> 51.0 / 256)
    targets.foreach { case (k, t) =>
      assert(math.abs(rates(k) - t) < 0.04, s"stratum $k rate ${rates(k)} vs target $t")
    }
  }

  test("train/val/test split partitions the corpus with stable assignment") {
    val rows = AnalyticsQueries.q57TrainTestSplit(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val total = Tables.documents(spark, dir).count()
    assert(rows.map(_._3).sum == total, "splits must partition the corpus")
    assert(rows.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
    // global rates near 80/10/10 (md5 is uniform; tolerance for small SF)
    val bySplit = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum.toDouble / total)
    assert(math.abs(bySplit.getOrElse("train", 0.0) - 0.80) < 0.06, bySplit.toMap)
    assert(math.abs(bySplit.getOrElse("val", 0.0) - 0.10) < 0.05, bySplit.toMap)
    // per-row assignment: independent of the rest of the corpus — the md5
    // threshold recomputed per doc in plain Scala must agree
    val md = java.security.MessageDigest.getInstance("MD5")
    def split(id: Long): String = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString
      if (hex < "cd") "train" else if (hex < "e6") "val" else "test"
    }
    val fromSpark = Tables.documents(spark, dir).select("doc_id", "lang").collect()
      .map(r => (split(r.getLong(0)), r.getString(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val fromQuery = rows.map { case (s, l, n, _) => (s, l) -> n }.toMap
    assert(fromQuery == fromSpark)
  }

  test("temperature resampling: smallest lang keeps everything, head langs " +
      "downsample to sqrt-proportional rates, kept counts match plain Scala") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("temp70").toString
    // en 400 docs, fr 100, de 25: rate(l) = floor(1000*sqrt(25/n_l))
    // -> en 250, fr 500, de 1000
    val docs = (1L to 400L).map(i => (i, s"t$i", "en")) ++
      (401L to 500L).map(i => (i, s"t$i", "fr")) ++
      (501L to 525L).map(i => (i, s"t$i", "de"))
    docs.map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = AnalyticsQueries.q70TemperatureSample(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byLang = got.map(r => r._1 -> r).toMap
    assert(byLang("en")._3 == 250L && byLang("fr")._3 == 500L &&
      byLang("de")._3 == 1000L, got.toSeq)
    assert(byLang("de")._4 == 25L, "the smallest language keeps every doc")
    // plain-Scala recomputation of the md5 cutoff selection
    val md = java.security.MessageDigest.getInstance("MD5")
    def h4(id: Long): String =
      md.digest(id.toString.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
    for ((lang, ids) <- docs.groupBy(_._3).view.mapValues(_.map(_._1))) {
      val t16 = byLang(lang)._3 * 65536 / 1000
      val kept = ids.count(id => t16 >= 65536 || h4(id) < f"$t16%04x")
      assert(byLang(lang)._4 == kept, s"$lang kept count")
    }
  }

  test("shard manifest partitions the corpus; assignment matches the " +
      "plain-Scala md5 digit per doc") {
    val rows = AnalyticsQueries.q73ShardStats(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = Tables.documents(spark, dir)
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .select("doc_id").collect().map(_.getLong(0))
    assert(rows.map(_._2).sum == docs.length, "shards must partition the corpus")
    assert(rows.forall(r => r._1 >= 0 && r._1 < numShards))
    // per-doc assignment recomputed in plain Scala
    val md = java.security.MessageDigest.getInstance("MD5")
    def shard(id: Long): Long =
      Character.digit(md.digest(id.toString.getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString.charAt(0), 16).toLong
    val expected = docs.groupBy(shard).view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == expected)
  }

  test("funnel stages are monotone and a hand-built corpus converts correctly") {
    val r = AnalyticsQueries.q59Funnel(spark, dir).head()
    val (v, vc, conv) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= vc && vc >= conv, s"funnel must narrow: $v >= $vc >= $conv")
    assert(v > 0)

    // hand-built corpus: user 1 converts in order; user 2 clicks before
    // viewing (must NOT count); user 3 views only
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("funnel").toString
    Seq(
      (1L, 1L, "view", 1000L), (2L, 1L, "click", 2000L), (3L, 1L, "purchase", 3000L),
      (4L, 2L, "click", 1000L), (5L, 2L, "view", 2000L), (6L, 2L, "purchase", 3000L),
      (7L, 3L, "view", 1000L),
    ).toDF("event_id", "user_id", "event_type", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val h = AnalyticsQueries.q59Funnel(spark, tmp).head()
    // user 2's purchase follows a click with no prior view-then-click chain
    assert((h.getLong(0), h.getLong(1), h.getLong(2)) == ((3L, 1L, 1L)), h)
    assert(h.getLong(3) == 2000L) // user 1: purchase 3000 - view 1000
  }

  test("map functions agree with the struct-schema twin on sum_k") {
    val viaMap = AnalyticsQueries.q51MapFns(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val viaStruct = Tables.events(spark, dir)
      .withColumn("p", from_json(col("props"), lit("k INT")))
      .groupBy(col("event_type")).agg(sum(col("p.k")).cast("long").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaMap == viaStruct)
  }

  test("q119 shard-drift KL matches a plain-Scala recomputation; md5 shards are representative") {
    import scala.collection.mutable
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val rows = Tables.documents(spark, dir)
      .filter("text IS NOT NULL").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val csb = mutable.Map[(Long, Int), Long]().withDefaultValue(0L)
    rows.foreach { case (id, text) =>
      val shard = java.lang.Long.parseLong(
        md5hex(id.toString).take(AnalyticsQueries.ShardHexDigits), 16)
      text.split(" ").filter(_.nonEmpty).foreach { tok =>
        val b = Integer.parseInt(
          md5hex(tok).take(WebCurationQueries.QcHexChars), 16)
        csb((shard, b)) += 1
      }
    }
    val cb = csb.groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
    val nn = cb.values.sum
    val expected = csb.keys.map(_._1).toSeq.distinct.sorted.map { s =>
      val mine = csb.collect { case ((`s`, b), c) => b -> c }
      val nS = mine.values.sum
      val s1 = mine.map { case (b, c) =>
        BigDecimal(c) * BigDecimal(
          math.floor((math.log(c.toDouble) - math.log(cb(b).toDouble)) * 1e9).toLong)
      }.sum
      val t2 = math.floor((math.log(nn.toDouble) - math.log(nS.toDouble)) * 1e9).toLong
      val kl = BigDecimal((s1.toDouble + nS.toDouble * t2) / 1e9 / nS)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (s, nS, mine.size.toLong, kl)
    }
    val got = AnalyticsQueries.q119ShardDrift(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.map(t => (t._1, t._2, t._3)) === expected.map(t => (t._1, t._2, t._3)))
    got.zip(expected).foreach { case ((s, _, _, kl), (_, _, _, ekl)) =>
      assert(math.abs(kl - ekl) < 1e-9, s"shard $s: $kl vs $ekl")
    }
    // the deterministic md5 sharding IS representative: every shard's
    // divergence from the corpus distribution is tiny and non-negative
    assert(got.map(_._4).forall(kl => kl >= 0.0 && kl < 0.05))
    assert(got.size == numShards)
  }
}
