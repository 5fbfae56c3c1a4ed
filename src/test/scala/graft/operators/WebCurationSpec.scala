package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the web-curation layer (q84–q87): detection/redaction on
  * constructed text, the salted top-K cap against the window formulation
  * it replaces, and the integer-arithmetic quality rules. */
class WebCurationSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  /** q84 over a temp corpus of these (doc_id, text) rows, written as the
    * `documents.parquet` table q84 reads. */
  private def q84Of(df: org.apache.spark.sql.DataFrame): Array[Row] = {
    val dir = java.nio.file.Files.createTempDirectory("q84").toString
    df.write.parquet(s"$dir/documents.parquet")
    WebCurationQueries.q84PiiRedact(spark, dir).collect()
  }

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("q84 enrichment strata produce exactly the expected per-type counts") {
    // doc 60 is divisible by 3,4,5,6 -> one of each; doc 7 by none; doc 9 email only
    val out = q84Of(docs(60L -> "plain words", 7L -> "plain", 9L -> "x"))
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq ===
      Seq((7L, 0L, 0L, 0L, 0L), (9L, 1L, 0L, 0L, 0L), (60L, 1L, 1L, 1L, 1L)))
  }

  test("q84 redaction removes every injected PII token") {
    val out = q84Of(docs((0L to 120L).map(i => i -> "w w w"): _*))
    out.foreach { r =>
      val red = r.getString(5)
      assert(!red.contains("@"), s"doc ${r.getLong(0)}: unredacted email in '$red'")
      assert(!red.contains("+1-555"), s"doc ${r.getLong(0)}: unredacted phone")
      assert(!red.matches(".*[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}.*"),
        s"doc ${r.getLong(0)}: unredacted ip")
      assert(!red.matches(".*[0-9]{3}-[0-9]{2}-[0-9]{4}.*"), s"doc ${r.getLong(0)}: unredacted ssn")
    }
    // placeholders present where injected
    val d60 = out.find(_.getLong(0) == 60L).get.getString(5)
    Seq("[EMAIL]", "[PHONE]", "[IP]", "[SSN]").foreach(p => assert(d60.contains(p)))
  }

  test("q84 drops null-text docs and handles negative doc_ids totally") {
    val df = Seq((java.lang.Long.valueOf(3L), null: String), (java.lang.Long.valueOf(-6L), "neg doc"))
      .toDF("doc_id", "text")
    val out = q84Of(df)
    assert(out.map(_.getLong(0)).toSeq === Seq(-6L))  // no crash, null dropped
  }

  test("scrubText redacts general +1 NANP phones, not just the test exchange") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      (1L, "call me at +1-212-867-5309 thanks"),
      (2L, "or +1 (415) 555-0134 works"),
      (3L, "test exchange +1-555-0042 stays covered"),
      (4L, "bare 2128675309 digits pass through untouched")).toDF("doc_id", "text")
    val got = WebCurationQueries.piiScrub(rows).orderBy("doc_id")
      .collect().map(_.getString(1))
    assert(got(0) == "call me at [PHONE] thanks")
    assert(got(1) == "or [PHONE] works")
    assert(got(2) == "test exchange [PHONE] stays covered")
    assert(got(3) == "bare 2128675309 digits pass through untouched")
  }

  test("scrubText overload applies a custom pattern chain in order") {
    import org.apache.spark.sql.functions.col
    val got = Seq((1L, "ticket ABC-1234 for bob@x.io"))
      .toDF("doc_id", "t")
      .select(WebCurationQueries.scrubText(col("t"),
        Seq("[A-Z]{3}-[0-9]{4}" -> "[TICKET]") ++ WebCurationQueries.PiiPatterns))
      .collect()(0).getString(0)
    assert(got == "ticket [TICKET] for [EMAIL]")
  }

  test("q85 census flags exactly the blocklisted domains and splits schemes") {
    val out = WebCurationQueries.q85DomainCensus(spark, "/root/testdata/sf0.001").collect()
    val byDomain = out.map(r => r.getString(0) -> r).toMap
    val blocked = out.filter(_.getBoolean(4)).map(_.getString(0)).toSet
    assert(blocked === WebCurationQueries.Blocklist.toSet.intersect(byDomain.keySet))
    out.foreach { r =>
      val (domain, nUrls, nHttps) = (r.getString(0), r.getLong(1), r.getLong(3))
      if (domain.endsWith("example.org")) assert(nHttps === nUrls) // https-only hosts
      if (domain.endsWith("example.net")) assert(nHttps === 0L)    // http-only mirrors
    }
  }

  test("q86 bounded top-K is row-identical to the window row_number formulation") {
    // hot-domain corpus: one domain carries 90% of pairs, plus shuffled ids
    val pairs = ((1L to 900L).map(i => (i * 7 % 1000, "hot.example")) ++
      (1L to 100L).map(i => (i, s"cold${i % 9}.example"))).toDF("doc_id", "domain")
      .withColumn("url", concat(lit("https://"), col("domain"), lit("/p")))
    val got = WebCurationQueries.domainCap(pairs, 5)
      .orderBy("domain", "rank").collect().toSeq
    val want = pairs.select("doc_id", "domain").distinct()
      .withColumn("rank", row_number().over(Window.partitionBy("domain").orderBy("doc_id")).cast("int"))
      .filter(col("rank") <= 5).select("domain", "rank", "doc_id")
      .orderBy("domain", "rank").collect().toSeq
    assert(got === want)
    assert(got.count(_.getString(0) == "hot.example") === 5)
  }

  test("q87 rules decide on hand-computed integer boundaries") {
    // 20 words (boundary pass): "the"+"and" (3+3) + 18x"fiver" (5) =>
    // sum_len 96 in the [80,100] band, zero short words, 2 distinct
    // stopwords => every rule passes
    val good = (Seq("the", "and") ++ Seq.fill(18)("fiver")).mkString(" ")
    // 19 words => wordcount rule fails by one; everything else passes
    val short = (Seq("the", "and") ++ Seq.fill(17)("fiver")).mkString(" ")
    val out = WebCurationQueries.qualityRules(docs(1L -> good, 2L -> short))
      .orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getLong(1) === 20L && r1.getDouble(2) === 4.8)
    assert(r1.getBoolean(5) && r1.getBoolean(6) && r1.getBoolean(7) && r1.getBoolean(8) && r1.getBoolean(9))
    val r2 = out(1)
    assert(!r2.getBoolean(5) && r2.getBoolean(6) && !r2.getBoolean(9))
  }

  test("q88 audit columns reconcile: kept = quality survivors minus cap evictions") {
    val out = WebCurationQueries.q88WebCuration(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nDocs, nQual, nCapOut, nKept) = (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nKept === nQual - nCapOut, s"source ${r.getString(0)}")
      assert(nQual <= nDocs && nKept <= nQual)
    }
    // PII strata cover ~63% of doc_ids; with >= 10 docs per source some carriers exist
    assert(out.map(_.getLong(2)).sum > 0)
  }

  test("q89 normalization reunites families the variant noise splinters") {
    val out = WebCurationQueries.q89NormalizedDedup(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), s"doc ${r.getLong(0)}: norm_n < raw_n")
      assert(r.getBoolean(4) === (r.getLong(2) > r.getLong(1)))
    }
    assert(out.count(_.getBoolean(3)) >= 1)
  }

  test("q89 body: normalization reunites a family split across noise variants") {
    val fam = WebCurationQueries.normalizedDedup(docs(
      1L -> "shared body text",
      2L -> "SHARED BODY TEXT",       // case noise
      3L -> "shared body text !!",    // punctuation noise
      4L -> "shared  body   text",    // whitespace noise
      5L -> "a different doc")).orderBy("doc_id").collect()
    val members = fam.filter(_.getLong(0) <= 4L)
    assert(members.forall(r => r.getLong(1) === 1L && r.getLong(2) === 4L && r.getBoolean(4)))
    assert(members.map(r => (r.getLong(0), r.getBoolean(3))).toSet ===
      Set((1L, true), (2L, false), (3L, false), (4L, false)))
    val other = fam.find(_.getLong(0) == 5L).get
    assert(other.getLong(2) === 1L && !other.getBoolean(4) && other.getBoolean(3))
  }

  test("normalizeText folds case, strips punctuation, collapses whitespace") {
    import org.apache.spark.sql.functions.col
    val got = Seq((1L, "  The  QUICK,, brown-fox!!  jumps  42 times.  "))
      .toDF("doc_id", "t")
      .select(WebCurationQueries.normalizeText(col("t"))).collect()(0).getString(0)
    assert(got == "the quick brownfox jumps 42 times")
  }

  test("q87 mean-word-len band is a strict integer comparison (no float drift)") {
    // 10 words, sum_len 51 => mean 5.1 > 5.0 band: r_meanlen false
    val over = Seq.fill(9)("fiver") ++ Seq("sixers")  // 9*5 + 6 = 51
    val out = WebCurationQueries.qualityRules(docs(1L -> over.mkString(" "))).collect()
    assert(!out(0).getBoolean(6))
  }
}
