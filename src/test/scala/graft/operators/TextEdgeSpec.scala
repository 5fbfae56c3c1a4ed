package graft.operators

import graft.SparkTestSession
import graft.engine.Api
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge semantics not covered by the oracle gate: lang-ID tie-break order,
  * MapType JSON parsing (map functions beyond the struct path), and the
  * API's VM t-size route.
  */
class TextEdgeSpec extends AnyFunSuite with SparkTestSession {

  test("q63 shard keeps the id's sign like the DuckDB oracle's % operator") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("packneg").toString
    Seq((-7L, "three words here", "en", "s", 16L),
        (7L, "three words here", "en", "s", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val shards = TextQueries.q63SequencePacking(spark, tmp)
      .select(col("shard")).collect().map(_.getLong(0)).toSet
    // pmod would put -7 in shard 25 while the oracle says -7
    assert(shards == Set(-7L, 7L), s"negative id must keep its sign: $shards")
  }

  test("lang-ID tie-break: zero scores everywhere predict 'en' (fold order)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("langid").toString
    Seq(
      (1L, "no marker words here at all", "zh", "s", 27L),
      (2L, "le la et le la", "fr", "s", 14L), // fr markers dominate
      (3L, "der die und the a and", "de", "s", 21L), // 3-3 tie: en wins (earlier)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.q31LangId(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "fr")
    assert(got(3L) == "en", "ties keep the earlier language in fold order")
  }

  test("q66 decontamination counts distinct shared 3-grams; benchmark and " +
      "short docs are excluded from the output") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("decontam").toString
    Seq(
      // doc 7 -> benchmark (7 % 10 == 7); grams: "x y z", "y z w"
      (7L, "x y z w", "en", "s", 7L),
      // train doc 1: shares "x y z" only (distinct grams: "x y z", "y z q")
      (1L, "x y z q", "en", "s", 7L),
      // train doc 2: no overlap with the benchmark
      (2L, "a b c d", "en", "s", 7L),
      // train doc 3: BOTH benchmark grams + a repeat of "x y z" — the
      // per-doc distinct means the repeat must not double-count
      (3L, "x y z w x y z", "en", "s", 13L),
      // too short for a 3-gram -> excluded everywhere
      (4L, "a b", "en", "s", 3L),
      (5L, null: String, "en", "s", 0L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.q66Decontamination(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 3 grams (distinct): "x y z","y z w","z w x","w x y" -> 2 hits of 4
    assert(got.toSeq == Seq((1L, 1L, 2L, 500L), (3L, 2L, 4L, 500L)), got.toSeq)
  }

  test("q67 repetition flags >20%-duplicate-2-gram docs and counts exactly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("repet").toString
    Seq(
      (1L, "spam spam spam spam spam", "en", "s", 24L), // 4 grams, 1 distinct
      (2L, "all fresh words here now", "en", "s", 24L), // 4 grams, 0 repeats
      (3L, "ab cd ab cd ab", "en", "s", 14L),           // 4 grams, 2 distinct
      (4L, "one", "en", "s", 3L),                        // <2 words -> excluded
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.q67Repetition(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(got.toSeq == Seq(
      (1L, 4L, 1L, 3L, 4L, true),   // "spam spam" x4
      (2L, 4L, 4L, 0L, 1L, false),
      (3L, 4L, 2L, 2L, 2L, true),   // "ab cd" x2, "cd ab" x2
    ), got.toSeq)
  }

  test("q68 BPE pair census weights pairs by word frequency, collapse-first") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe").toString
    Seq(
      (1L, "aaab aaab cd", "en", "s", 12L),
      (2L, "aaab x", "en", "s", 6L), // "x" is 1 char -> no pairs
      (3L, null: String, "en", "s", 0L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.q68BpePairs(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // aaab appears 3x: pairs per occurrence aa,aa,ab -> aa:6, ab:3; cd:1
    assert(got.toSeq == Seq(("aa", 6L), ("ab", 3L), ("cd", 1L)), got.toSeq)
  }

  test("q75 curation v2: each stage drops exactly its target on a " +
      "constructed corpus (dup, contaminated, repetitive, rare)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cur2").toString
    val common = "w1 w2 w3 w4 w5 w6"
    Seq(
      (7L, "x y z w v"),    // benchmark split (7 % 10 == 7) — eval, not corpus
      (1L, common),          // canonical of the exact-dup family {1, 21, 8}
      (21L, common),
      (8L, common),
      (2L, "w2 w3 w4 w5 w6 w1"), // same vocab, different text -> kept
      (3L, "x y z w v w1"),  // 3 of 4 distinct 3-grams hit the benchmark -> contaminated
      (4L, "spam spam spam spam spam spam"), // 4/5 repeated 2-grams -> repetitive
      (5L, "r1 r2 r3 r4 r5 r6"), // all hapaxes: rarity = 49000 >= 40000 -> too rare
      (6L, "w1 w2 w3 w4 w5 r7"), // one hapax diluted by common words -> kept
      (10L, "w1"),           // single token: no grams anywhere, common word -> kept
      (9L, null.asInstanceOf[String]), // absent everywhere
    ).map { case (id, t) => (id, t, "en", "s", Option(t).fold(0L)(_.length.toLong)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.operators.CurationPipeline.q75CurationV2(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // corpus 9 docs; dedup -3+1 -> 7 unique; -1 contaminated -> 6;
    // -1 repetitive -> 5; -1 too-rare -> 4 kept = docs 1, 2, 6, 10
    // (6 + 6 + 6 + 1 = 19 tokens)
    assert(got.toSeq == Seq(("en", 9L, 7L, 6L, 5L, 4L, 19L)), got.toSeq)
  }

  test("q72 rarity scores rare-word-dense docs higher, exact integer math") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("rarity").toString
    Seq(
      (1L, "the the rare", "en", "s", 12L),
      (2L, "the common common", "en", "s", 17L),
      (3L, null: String, "en", "s", 0L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.q72Rarity(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // corpus_tokens = 6; cf: the=3, rare=1, common=2
    // weights (N*1000 DIV cf): the=2000, rare=6000, common=3000
    // doc 1: sum = 2*2000 + 6000 = 10000; mean = 10000 DIV 3 = 3333
    // doc 2: sum = 2000 + 2*3000 = 8000;  mean = 8000 DIV 3 = 2666
    assert(got.toSeq == Seq(
      (1L, 3L, 10000L, 3333L),
      (2L, 3L, 8000L, 2666L),
    ), got.toSeq)
  }

  test("q72 property differential: rarity == plain-Scala reference on a " +
      "seeded Zipf-ish corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // Zipf-ish draw: low word ids far more frequent than high ones
    val vocab = (0 until 30).map(i => s"v$i")
    def draw(): String = vocab(math.min(29, (math.abs(rnd.nextGaussian()) * 8).toInt))
    val docs = (0L until 30L).map(id => (id, Seq.fill(4 + rnd.nextInt(12))(draw()).mkString(" ")))
    val tmp = java.nio.file.Files.createTempDirectory("q72prop").toString
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val toks = docs.flatMap { case (id, t) => t.split(" ", -1).map(id -> _) }
    val cf = toks.groupBy(_._2).view.mapValues(_.size.toLong)
    val n = toks.size.toLong
    val expected = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      val rs = w.map(x => math.min(n * 1000L / cf(x), TextQueries.RarityCap)).sum
      (id, w.length.toLong, rs, rs / w.length)
    }.sortBy(_._1)
    val got = TextQueries.q72Rarity(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("q69 chunking: stride windows clamp at doc end; content hash is the " +
      "md5 of the space-joined window") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("chunk").toString
    val words100 = (1 to 100).map(i => s"w$i")
    Seq(
      (1L, words100.mkString(" "), "en", "s", 100L),
      (2L, "tiny", "en", "s", 4L),
      (3L, null: String, "en", "s", 0L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.q69Chunking(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = Seq(
      (1L, 0L, 0L, 64L, md5(words100.slice(0, 64).mkString(" "))),
      (1L, 1L, 48L, 52L, md5(words100.slice(48, 100).mkString(" "))),
      (1L, 2L, 96L, 4L, md5(words100.slice(96, 100).mkString(" "))),
      (2L, 0L, 0L, 1L, md5("tiny")))
    assert(got.toSeq == expected, got.toSeq)
  }

  test("events.props parses as MapType too (map functions path)") {
    import spark.implicits._
    val df = Seq("""{"k": 1}""", """{"k": 2, "extra": 9}""").toDF("props")
      .withColumn("m", from_json(col("props"), lit("MAP<STRING, INT>")))
    val exploded = df.select(explode(col("m")).as(Seq("key", "value")))
      .groupBy(col("key")).agg(sum(col("value")).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exploded == Map("k" -> 3L, "extra" -> 9L))
    // map functions over the parsed column
    val keys = df.select(map_keys(col("m")).as("ks")).collect()
      .flatMap(_.getSeq[String](0)).toSet
    assert(keys == Set("k", "extra"))
  }

  test("API GET path honors VM t-size normalization end to end") {
    val r = Api.estimateFromParams(Map(
      "project_name" -> "VM via params",
      "messages_per_second" -> "5000",
      "avg_record_size_bytes" -> "512",
      "worker_node_type" -> "VM",
      "worker_node_t_size" -> " s ", // normalized to S
      "nb_worker_nodes" -> "1",
      "simple_statements" -> "2",
      "medium_statements" -> "1",
      "complex_statements" -> "1",
      "expected_latency_seconds" -> "5.0",
      "data_skew_risk" -> "low",
      "num_distinct_keys" -> "100000",
    )).fold(e => fail(e), identity)
    // t-shirt S overrides the GET default memory (2 GB -> 16384 MB)
    assert(r.input_summary.worker_node_memory_capacity_mb == 16384.0)
    assert(r.input_summary.worker_node_t_size.contains("S"))
    // and matches the VM-S golden sizing
    assert(r.resource_estimates.total_memory_mb == 6144)
  }

  test("sequence packing fills each bin to the budget (contiguous invariant)") {
    val w = TextQueries.PackBudget
    val bins = TextQueries.q63SequencePacking(spark, "/root/testdata/sf0.001").collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
    assert(bins.nonEmpty)
    bins.foreach { case ((lang, shard), bs) =>
      // bins are consecutive from 0 and non-empty
      assert(bs.map(_._1).toSeq == (0L until bs.length.toLong), s"$lang/$shard bins")
      assert(bs.forall(_._2 >= 1))
      // pre-sum packing: the cumulative total through every NON-final bin b
      // lands in [(b+1)W, (b+2)W) — each bin fills its budget with at most
      // one doc of overhang
      var cum = 0L
      bs.dropRight(1).zipWithIndex.foreach { case ((b, _, sum), _) =>
        cum += sum
        assert(cum >= (b + 1) * w && cum < (b + 2) * w,
          s"$lang/$shard bin $b: cumulative $cum outside [${(b + 1) * w}, ${(b + 2) * w})")
      }
    }
  }

  test("decontamination and curation v2 accept an EXTERNAL benchmark " +
      "parquet (production form == the carved oracle pin)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // write the q75 eval split to its OWN parquet — the external eval-suite
    // shape — and feed it back through the parameterized pipeline: output
    // must equal the pinned q75 entry exactly
    val base = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val benchPath = java.nio.file.Files.createTempDirectory("bench").toString
    base.filter(col("doc_id") % TextQueries.DecontamMod === TextQueries.DecontamRes)
      .write.mode("overwrite").parquet(benchPath)
    val external = spark.read.parquet(benchPath)
    val corpus = base.filter(
      col("doc_id") % TextQueries.DecontamMod =!= TextQueries.DecontamRes)
    val viaExternal = CurationPipeline.curationV2(corpus, external)
      .collect().map(_.toString).toSeq
    val pinned = CurationPipeline.q75CurationV2(spark, dir)
      .collect().map(_.toString).toSeq
    assert(viaExternal == pinned && pinned.nonEmpty)

    // and the raw probe counts against a hand-built benchmark table
    val b2 = java.nio.file.Files.createTempDirectory("bench2").toString
    Seq(900L -> "x y z w").toDF("doc_id", "text")
      .write.mode("overwrite").parquet(b2)
    val train = Seq(
      (1L, "x y z q"),   // shares gram "x y z" of 2 distinct grams
      (2L, "a b c d"),   // no overlap: n_hits must be 0, row still present
    ).toDF("doc_id", "text")
    val got = TextQueries.contaminationCounts(train, spark.read.parquet(b2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 2L), (2L, 0L, 2L)), got)
  }

  test("q77 span dedup removes exact word ranges, keeps the first copy " +
      "corpus-wide, and passes short docs through whole") {
    import spark.implicits._
    // SpanTokens = 8. The shared passage s1..s8 appears in docs 1, 2, 3, 6;
    // doc 1 (min id) is its keeper. Docs 3/6 are full copies of docs 1/2,
    // so every one of their spans has an earlier keeper -> fully removed.
    // Doc 2 is keeper of its OWN b-prefixed spans but not of s1..s8 ->
    // exactly positions 2..9 drop, pinning the coverage boundary.
    val s = (1 to 8).map("s" + _).mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("q77edge").toString
    Seq(
      (1L, s"$s a1 a2"),
      (2L, s"b1 b2 $s b3"),
      (3L, s"$s a1 a2"),      // copy of doc 1
      (4L, "short doc"),       // below the span floor: passes through
      (5L, null.asInstanceOf[String]),
      (6L, s"b1 b2 $s b3"),   // copy of doc 2
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DedupQueries.q77SpanDedup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      (1L, 10L, 0L, s"$s a1 a2"), // keeper: untouched
      (2L, 11L, 8L, "b1 b2 b3"),   // exactly the span range [2, 9] removed
      (3L, 10L, 10L, ""),          // full copy: everything covered
      (4L, 2L, 0L, "short doc"),
      (6L, 11L, 11L, ""),
    ), got)
    // the corpus-wide guarantee: exactly one copy of the passage survives
    assert(got.count(_._4.contains(s)) == 1)
  }

  test("q33 fingerprint windows by CODE POINT: non-BMP text matches an " +
      "independent code-point reference (no surrogate-pair splits)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("fp_cp").toString
    // 10 astral-plane code points (20 UTF-16 units): a UTF-16-unit loop
    // would emit 13 windows of 8 units (splitting surrogate pairs); the
    // code-point contract emits 3 windows of 8 code points
    val emoji = new String(Character.toChars(0x1F600)) // U+1F600
    val astral = (0 until 10).map(i =>
      new String(Character.toChars(0x1F600 + i))).mkString
    Seq((1L, astral), (2L, "plain ascii text body")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.q33Fingerprint(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    def refFingerprint(text: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5hex(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val cps = text.codePoints().toArray
      (0 to cps.length - TextQueries.GramLen).map { i =>
        md5hex(new String(cps.slice(i, i + TextQueries.GramLen), 0, TextQueries.GramLen))
      }.min
    }
    assert(got(1L) == refFingerprint(astral), s"astral fingerprint ${got(1L)}")
    assert(got(2L) == refFingerprint("plain ascii text body"))
    assert(emoji.length == 2) // sanity: the corpus really is non-BMP
  }

  test("decontamination compares DecontamGrams = 3-word grams: a 3-word " +
      "overlap hits") {
    import spark.implicits._
    // the train doc shares exactly 3 consecutive words with the benchmark:
    // one of its five 3-grams
    val train = Seq((1L, "alpha shared three words beta gamma delta"))
      .toDF("doc_id", "text")
    val bench = Seq((2L, "totally different frame with shared three words inside"))
      .toDF("doc_id", "text")
    val got = TextQueries.contaminationCounts(train, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1L, 5L)), s"(doc_id, n_hits, n_grams): $got")
  }
}
