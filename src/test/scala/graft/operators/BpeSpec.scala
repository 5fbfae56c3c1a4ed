package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Hand-math pins for iterative BPE training (q101): the merge sequence
  * on a constructed corpus computed by hand (counts, argmax, tie-breaks,
  * greedy left-to-right application), early exhaustion, and the
  * normalization front end. */
class BpeSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  private def train(texts: Seq[String], rounds: Int) =
    rows(TextQueries.bpeTrain(texts.toDF("text"), rounds))

  /** The distributed round loop q101 ran before it trained on the driver,
    * kept as the parity reference: per round one vocab-sized pair census,
    * a 1-row argmax collect and a `replace` re-encode of the Materialized
    * census (≤ `rounds` chained projections). */
  private def distributedTrain(docs: org.apache.spark.sql.DataFrame, rounds: Int) = {
    import org.apache.spark.sql.functions._
    var vocab = Materialize.materialize(docs
      .select(explode(split(WebCurationQueries.normalizeText(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("word"), "(.)", "<$1>").as("enc"), col("freq")))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var exhausted = false
    while (merges.length < rounds && !exhausted) {
      val top = vocab
        .select(col("freq"),
          split(expr("substring(enc, 2, length(enc) - 2)"), "><").as("s"))
        .filter(size(col("s")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(s) - 1), i -> concat('<', element_at(s, i), '><', element_at(s, i + 1), '>'))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val mergedEnc = pair.replace("><", "")
        merges += ((merges.length + 1, pair,
          mergedEnc.substring(1, mergedEnc.length - 1), top(0).getLong(1)))
        vocab = vocab.select(
          replace(col("enc"), lit(pair), lit(mergedEnc)).as("enc"), col("freq"))
      }
    }
    merges.toSeq
  }

  test("merge sequence matches hand computation, including ties and merged symbols") {
    // vocab: low:3 lower:1 newest:1
    // r1: (l,o)=4 (o,w)=4 tie -> '<l><o>' asc; r2: (lo,w)=4;
    // r3: all remaining pairs tie at 1 -> '<e><r>' asc;
    // r4: ties at 1 -> '<e><s>' asc ('<e><w>' sorts after it)
    val got = train(Seq("low lower", "low newest", "low"), 4)
    assert(got === Seq(
      (1, "<l><o>", "lo", 4L),
      (2, "<lo><w>", "low", 4L),
      (3, "<e><r>", "er", 1L),
      (4, "<e><s>", "es", 1L)))
  }

  test("merges apply greedily left-to-right within a word") {
    // 'aaaa':1 — r1 pair (a,a)=3 occurrences but count is 3 (adjacent
    // positions); merge left-to-right: <aa><aa>. r2: (aa,aa)=1.
    val got = train(Seq("aaaa"), 2)
    assert(got === Seq(
      (1, "<a><a>", "aa", 3L),
      (2, "<aa><aa>", "aaaa", 1L)))
  }

  test("exhaustion stops the loop early with a short merge table") {
    // single-char words only: no pairs at all
    assert(train(Seq("a b c", "b c a"), 8).isEmpty)
    // one two-char word: exactly one merge possible
    assert(train(Seq("ab"), 8) === Seq((1, "<a><b>", "ab", 1L)))
  }

  test("exact 4x duplication keeps the merge sequence and scales every count 4x") {
    // duplication multiplies every pair count by 4, so neither a round's
    // argmax nor its tie-break (pair ascending) can change
    val texts = Seq("low lower", "low newest", "low", "widest newer wider",
      "the lowest tower")
    val once = train(texts, 8)
    val four = train(Seq.fill(4)(texts).flatten, 8)
    assert(once.length == 8, s"corpus exhausted early: $once")
    assert(four.map(m => (m._1, m._2, m._3)) === once.map(m => (m._1, m._2, m._3)))
    assert(four.map(_._4) === once.map(_._4 * 4))
  }

  test("normalization front end folds case and strips punctuation before training") {
    // 'LOW!' and 'low' are the same word post-normalization
    val got = train(Seq("LOW! low", "l-o-w"), 1)
    // vocab: low:2, low:1 -> 'low':2 plus 'low' from stripped dashes = 3
    assert(got === Seq((1, "<l><o>", "lo", 3L)))
  }

  test("driver training equals the distributed round loop (real corpora, merge-made top pairs, ties)") {
    import org.apache.spark.sql.functions.col
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = Tables.documents(spark, s"/root/testdata/$sf").filter(col("text").isNotNull)
      val got = rows(TextQueries.bpeTrain(docs, TextQueries.BpeRounds))
      assert(got.length === TextQueries.BpeRounds, sf)
      assert(got === distributedTrain(docs, TextQueries.BpeRounds), sf)
    }
    // (o,w)=6 wins r1; r2's top pair (l,ow)=5 exists only after that
    // merge; rounds 4, 6-8 and 10-12 each pick among 2 to 10 pairs tied at
    // the top count, so the (n desc, pair asc) tie-break decides them
    val texts = Seq("low lower", "low newest", "low", "widest newer wider",
      "the lowest tower")
    val docs = texts.toDF("text")
    val got = train(texts, 12)
    assert(got.take(4) === Seq((1, "<o><w>", "ow", 6L), (2, "<l><ow>", "low", 5L),
      (3, "<e><r>", "er", 4L), (4, "<e><s>", "es", 3L)))
    assert(got.length === 12)
    assert(got === distributedTrain(docs, 12))
  }

  private def encode(docs: Seq[(Long, String)], rounds: Int) =
    TextQueries.bpeEncode(docs.toDF("doc_id", "text"), rounds).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("encode applies the trained merges: hand-computed per-doc token counts") {
    // vocab low:3 lower:1 newest:1 -> r1 (l,o) [tie with (o,w), asc],
    // r2 (lo,w):4. Final: low=<low> 1 tok, lower=<low><e><r> 3,
    // newest 6 (untouched).
    val got = encode(Seq(1L -> "low lower", 2L -> "low newest low"), 2)
    assert(got === Seq((1L, 2L, 4L), (2L, 3L, 8L)))
  }

  test("encode with zero merges counts characters; exhausted corpora count words") {
    // rounds=0: every word is its character count
    assert(encode(Seq(1L -> "ab cd"), 0) === Seq((1L, 2L, 4L)))
    // single-char words exhaust training immediately: tokens == words
    assert(encode(Seq(1L -> "a b", 2L -> "c a"), 8) ===
      Seq((1L, 2L, 2L), (2L, 2L, 2L)))
  }

  test("encode normalizes before tokenizing (case fold, punctuation strip)") {
    // 'LOW!' ≡ 'low'; one round merges (l,o) -> low = <lo><w> = 2 toks
    assert(encode(Seq(1L -> "LOW! low"), 1) === Seq((1L, 2L, 4L)))
  }

  test("census-form token totals equal a per-occurrence brute-force encode (real corpus)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull)
    val merges = TextQueries.bpeTrain(docs, TextQueries.BpeRounds).collect()
    val enc = merges.foldLeft(regexp_replace(col("word"), "(.)", "<$1>")) {
      (c, m) =>
        val pair = m.getString(1)
        replace(c, lit(pair), lit(pair.replace("><", "")))
    }
    // brute force: encode EVERY occurrence, no (doc_id, word) collapse
    val brute = docs
      .select(col("doc_id"), explode(split(
        WebCurationQueries.normalizeText(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("n_tok",
        (length(enc) - length(replace(enc, lit("<"), lit("")))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val census = TextQueries.bpeEncode(docs, TextQueries.BpeRounds)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(census === brute)
    assert(census.nonEmpty)
    // every doc: n_words <= n_tokens (a token never spans a word)
    assert(census.values.forall { case (w, t) => t >= w })
  }

  test("fertility groups the encoded census by lang with fixed-point chars/token") {
    val docs = Seq(
      ("en", "low lower"),      // 2 words, 8 chars
      ("de", "low newest low")  // 3 words, 12 chars
    ).toDF("lang", "text")
    // 2 rounds as in the encode pin: low=1 tok, lower=3, newest=6
    val got = TextQueries.tokenizerFertility(docs, 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq(
      ("de", 3L, 8L, 12L, 1500L),   // 1+6+1 toks, 12*1000/8
      ("en", 2L, 4L, 8L, 2000L)))   // 1+3 toks, 8*1000/4
  }

  test("fertility trains ONE tokenizer on the whole corpus, not per language") {
    // 'zz' dominates only via the de rows; if training were per-lang the
    // en row's 'zz' would not merge. One tokenizer -> en's zz is 1 token.
    val docs = (Seq.fill(5)(("de", "zz")) :+ (("en", "zz"))).toDF("lang", "text")
    val got = TextQueries.tokenizerFertility(docs, 1).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(got === Map("de" -> 5L, "en" -> 1L)) // every zz = 1 merged token
  }

  test("token packing bins by cumulative trained-token offset within (lang, shard)") {
    // rounds=0: n_tokens = post-normalization character count per doc.
    // budget=5. Shard = doc_id % 32: ids 0/32/64 share shard 0.
    //   en shard 0: doc 0 "aa bb" = 4 toks (offset 0 -> bin 0),
    //               doc 32 "ccc" = 3 (offset 4 -> bin 0),
    //               doc 64 "d"   = 1 (offset 7 -> bin 1)
    //   de shard 1: doc 1 "eee ff" = 5 (offset 0 -> bin 0)
    val docs = Seq(
      (0L, "en", "aa bb"), (32L, "en", "ccc"), (64L, "en", "d"),
      (1L, "de", "eee ff")).toDF("doc_id", "lang", "text")
    val got = TextQueries.tokenPacking(docs, 0, 5L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq(
      ("de", 1L, 0L, 1L, 5L),
      ("en", 0L, 0L, 2L, 7L),
      ("en", 0L, 1L, 1L, 1L)))
  }

  test("token packing is sequential fill: an oversized doc keeps its start-offset bin") {
    // budget=2, rounds=0: doc 0 is 4 tokens — larger than the budget. It
    // lands ONCE at its start offset (bin 0); the next doc starts at
    // offset 4 -> bin 2. Fill semantics, not splitting (q63's contract).
    val docs = Seq((0L, "en", "aaaa"), (32L, "en", "b"))
      .toDF("doc_id", "lang", "text")
    val got = TextQueries.tokenPacking(docs, 0, 2L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq(("en", 0L, 0L, 1L, 4L), ("en", 0L, 2L, 1L, 1L)))
  }

  test("q108 packing re-derives from the q104 counts (real corpus differential)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val langs = docs.select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val counts = TextQueries.bpeEncode(docs, TextQueries.BpeRounds).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val budget = TextQueries.TokenPackBudget
    val expect = counts
      .groupBy { case (id, _) => (langs(id), id % 32L) }
      .toSeq.flatMap { case ((lang, shard), rows) =>
        var cum = 0L
        rows.sortBy(_._1).map { case (_, toks) =>
          val bin = cum / budget
          cum += toks
          ((lang, shard, bin), toks)
        }
      }
      .groupBy(_._1).view
      .mapValues(v => (v.size.toLong, v.map(_._2).sum)).toSeq
      .map { case ((l, s, b), (n, t)) => (l, s, b, n, t) }
      .sortBy { case (l, s, b, _, _) => (l, s, b) }
    val got = TextQueries.q108TokenPacking(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("q101 catalog entry returns BpeRounds merges on the real corpus") {
    val out = TextQueries.q101BpeTrain(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length === TextQueries.BpeRounds)
    assert(out.map(_.getInt(0)).toSeq === (1 to TextQueries.BpeRounds))
    // counts are non-increasing only weakly (a merge can surface a new
    // heavy pair), but every count is positive and pairs are distinct
    assert(out.forall(_.getLong(3) > 0))
    assert(out.map(_.getString(1)).distinct.length === out.length)
  }

  // ---- persisted tokenizer artifact (VERDICT r10 #1) ----

  private def trainMerges(dir: String) =
    TextQueries.q101BpeTrain(spark, dir).collect()
      .map(r => TextQueries.BpeMerge(
        r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  test("tokenizer artifact round-trips: build + load == train") {
    val td = java.nio.file.Files.createTempDirectory("bpe_tok").toString
    TextQueries.buildBpeTokenizer(spark, "/root/testdata/sf0.001", td)
    assert(TextQueries.loadBpeMerges(spark, td) === trainMerges("/root/testdata/sf0.001"))
  }

  test("session tokenizer cache is a pure memoization of training") {
    val dir = "/root/testdata/sf0.001"
    SessionArtifacts.clear()
    val cached = TextQueries.tokenizerFor(spark, dir)
    assert(cached === trainMerges(dir))
    // second resolve returns the identical artifact without retraining
    assert(TextQueries.tokenizerFor(spark, dir) eq cached)
    // per session: another session misses, the original still hits
    val kind = SessionArtifacts.Tokenizer.name
    def count(i: Int) = SessionArtifacts.counters(kind)(i)
    val (hits, misses) = (count(0), count(1))
    val other = spark.newSession()
    assert(TextQueries.tokenizerFor(other, dir) === cached)
    assert((count(0), count(1)) == ((hits, misses + 1)))
    assert(TextQueries.tokenizerFor(spark, dir) eq cached)
    assert((count(0), count(1)) == ((hits + 1, misses + 1)))
    SessionArtifacts.invalidate(other, dir)
  }

  test("frozen tokenizer applies to a NEW corpus: apply depends on the artifact, not the scored text") {
    val small = trainMerges("/root/testdata/sf0.001")
    val big = trainMerges("/root/testdata/sf0.01")
    // the two corpora genuinely train different tokenizers — without this
    // the cross-corpus assertions below would be vacuous
    assert(small !== big)

    val td = java.nio.file.Files.createTempDirectory("bpe_frozen").toString
    TextQueries.buildBpeTokenizer(spark, "/root/testdata/sf0.001", td)
    val bigDocs = Tables.documents(spark, "/root/testdata/sf0.01")
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

    spark.conf.set("spark.graft.bpe.dir", td)
    try {
      val frozen = counts(TextQueries.q104BpeEncode(spark, "/root/testdata/sf0.01"))
      // identical to an explicit apply of the small-corpus merges...
      assert(frozen === counts(TextQueries.bpeTokenCountsWith(bigDocs, small)))
      // ...and NOT what self-training on the scored corpus would produce
      assert(frozen !== counts(TextQueries.bpeTokenCountsWith(bigDocs, big)))
    } finally spark.conf.unset("spark.graft.bpe.dir")
  }
}
