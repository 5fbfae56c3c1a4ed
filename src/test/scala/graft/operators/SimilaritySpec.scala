package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Similarity-search semantics not covered by the DuckDB oracle: exact KNN
  * vs an independent Scala brute force, ANN recall against exact, and the
  * cosine fold's numeric agreement with plain-Scala double math.
  */
class SimilaritySpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def vectors: Map[Long, Array[Float]] =
    Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  test("non-finite vectors are excluded at the quantization boundary; " +
      "zero vectors survive") {
    import spark.implicits._
    val fin = Array.fill(64)(0.25f)
    def withBad(f: Array[Float] => Unit): Seq[Float] = {
      val v = fin.clone(); f(v); v.toSeq
    }
    val rows = Seq(
      (0L, fin.toSeq, 0),
      (1L, withBad(_(0) = Float.NaN), 0),
      (2L, withBad(_(1) = Float.PositiveInfinity), 0),
      (3L, withBad(_(2) = Float.NegativeInfinity), 0),
      (4L, Seq.fill(64)(0.0f), 0))
    val tmp = java.nio.file.Files.createTempDirectory("embfin").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    // the failed-encoder vectors (NaN/Inf) are dropped — without the
    // filter a single one kills the job at the ANSI BIGINT cast; the
    // zero vector is a legitimate (if useless) embedding and stays
    val kept = SimilarityQueries.quantized(spark, tmp)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 4L), s"kept $kept")
    // and the brute-force top-k runs end-to-end on the mixed corpus
    val knn = SimilarityQueries.q26KnnExact(spark, tmp).collect()
    assert(knn.nonEmpty &&
      !knn.map(_.getLong(1)).toSet.exists(Set(1L, 2L, 3L)), knn.mkString(","))
  }

  test("q26 exact KNN matches plain-Scala brute force") {
    val vs = vectors
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.round(x.toDouble * 1000))
    val expected = (for {
      q <- vs.keys.filter(_ < SimilarityQueries.QueryCount).toSeq
      qa = quant(vs(q))
      top = vs.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          val qb = quant(v)
          (id, qa.zip(qb).map { case (a, b) => a * b }.sum)
        }
        .sortBy { case (id, dot) => (-dot, id) }
        .take(SimilarityQueries.TopK)
      (id, dot) <- top
    } yield (q, id, dot)).toSet
    val got = SimilarityQueries.q26KnnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("q27 ANN achieves useful recall against exact top-k") {
    val exact = SimilarityQueries.q26KnnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SimilarityQueries.q27AnnLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    // 4-bit multi-probe LSH on 64-dim synthetic data: ~0.4 observed; the
    // floor guards against the bucketing silently degenerating.
    assert(recall >= 0.2, s"recall@${SimilarityQueries.TopK} = $recall")
  }

  test("q27 ANN scores are true dot products (subset of exact scoring)") {
    val vs = vectors
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.round(x.toDouble * 1000))
    SimilarityQueries.q27AnnLsh(spark, dir).collect().foreach { r =>
      val (q, id, dot) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val expect = quant(vs(q)).zip(quant(vs(id))).map { case (a, b) => a * b }.sum
      assert(dot == expect, s"ANN dot mismatch for ($q, $id)")
    }
  }

  test("q42 IVF ANN: useful recall, exact scores, deterministic") {
    val exact = SimilarityQueries.q26KnnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf1 = SimilarityQueries.q42IvfAnn(spark, dir).collect()
    val ivf2 = SimilarityQueries.q42IvfAnn(spark, dir).collect()
    assert(ivf1.map(_.toString).toSeq == ivf2.map(_.toString).toSeq,
      "IVF training + search must be deterministic")
    val got = ivf1.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall@${SimilarityQueries.TopK} = $recall")
    // every reported dot is the true quantized dot product
    val vs = vectors
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.round(x.toDouble * 1000))
    ivf1.foreach { r =>
      val (q, id, dot) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val expect = quant(vs(q)).zip(quant(vs(id))).map { case (a, b) => a * b }.sum
      assert(dot == expect, s"IVF dot mismatch for ($q, $id)")
    }
  }

  test("q107 recall audit re-derives from its per-family legs (independent set math)") {
    val exact = SimilarityQueries.q26KnnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val legs = Seq(
      "ivf" -> topSet(SimilarityQueries.q42IvfAnn(spark, dir)),
      "ivfpq" -> topSet(SimilarityQueries.q82IvfPqAnn(spark, dir)),
      "lsh" -> topSet(SimilarityQueries.annLshMultiTable(spark, dir,
        SimilarityQueries.LshBits, SimilarityQueries.RecallLshTables)))
    val expect = legs.flatMap { case (family, approx) =>
      exact.toSeq.sortBy(_._1).map { case (q, ex) =>
        val hits = (ex & approx.getOrElse(q, Set.empty)).size.toLong
        (family, q, ex.size.toLong, hits, hits * 1000L / ex.size)
      }
    }
    val got = SimilarityQueries.q107AnnRecall(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expect)
    assert(got.size == 3 * SimilarityQueries.QueryCount)
    assert(got.forall { case (_, _, n, h, m) => h <= n && m >= 0 && m <= 1000 })
    // the gate must actually gate: every family finds SOMETHING on the
    // real corpus (an all-zero recall row means a broken serving path,
    // not a tuning choice)
    legs.map(_._1).foreach { f =>
      assert(got.filter(_._1 == f).map(_._4).sum > 0, s"family $f found nothing")
    }
  }

  test("recall@k reaches 1000 exactly when the probe budget covers every cell") {
    // probes == cells searches the whole corpus: the IVF leg degenerates to
    // exact brute force INCLUDING tie-breaks, so the audit's numerator and
    // denominator coincide row-for-row — the identity that makes recall a
    // pure function of the probe budget, not of scoring differences.
    val exact = SimilarityQueries.q26KnnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val full = SimilarityQueries.ivfAnnTopK(spark, dir,
      SimilarityQueries.IvfCells, SimilarityQueries.IvfCells).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(full === exact)
  }

  test("q82 IVF-PQ ANN: re-rank scores are true quantized dots, shortlist " +
      "preserves most of q42's full-vector results, deterministic") {
    val ivf = SimilarityQueries.q42IvfAnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq1 = SimilarityQueries.q82IvfPqAnn(spark, dir).collect()
    val pq2 = SimilarityQueries.q82IvfPqAnn(spark, dir).collect()
    assert(pq1.map(_.toString).toSeq == pq2.map(_.toString).toSeq,
      "PQ training + encode + search must be deterministic")
    assert(pq1.length == SimilarityQueries.QueryCount * SimilarityQueries.TopK)
    // the final `dot` is the TRUE quantized dot product — the ADC estimate
    // only selects the shortlist, it never leaks into the served score
    val vs = vectors
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.round(x.toDouble * 1000))
    pq1.foreach { r =>
      val (q, id, dot) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val expect = quant(vs(q)).zip(quant(vs(id))).map { case (a, b) => a * b }.sum
      assert(dot == expect, s"PQ re-rank dot mismatch for ($q, $id)")
    }
    // 32 bits of codes + exact re-rank keep most of what q42 finds probing
    // full vectors over the same cells (measured 0.90 on this corpus;
    // floor with margin — isotropic vectors are PQ's worst case)
    val got = pq1.map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (ivf & got).size.toDouble / ivf.size
    assert(overlap >= 0.7, s"IVF-PQ overlap with q42 = $overlap")
  }

  test("q82 session caches are pure memoization: cold (cleared) and warm " +
      "runs are row-identical") {
    // the r14 serving shape trains codebooks + encodes the corpus once per
    // (session, dir); this pins that an artifact hit is bit-identical to a
    // cold retrain (the tokenizerFor/BpeSpec discipline)
    SessionArtifacts.clear()
    val cold = SimilarityQueries.q82IvfPqAnn(spark, dir).collect()
      .map(_.toString).toSeq
    val warm = SimilarityQueries.q82IvfPqAnn(spark, dir).collect()
      .map(_.toString).toSeq
    SessionArtifacts.clear()
    val cold2 = SimilarityQueries.q82IvfPqAnn(spark, dir).collect()
      .map(_.toString).toSeq
    assert(cold == warm, "cache hit must equal the run that filled it")
    assert(cold == cold2, "retrain after clear must reproduce the result")
  }

  test("invalidate evicts every (session, dir) artifact and the next call " +
      "re-derives cleanly") {
    // ADVICE r14: the caches had clear-all test hooks but no public
    // per-corpus invalidation. This pins the eviction path end-to-end:
    // warm → invalidate (releases the pinned checkpoint blocks) → rerun
    // must recompute from parquet and reproduce the result, not die on a
    // released block or serve a dangling frame.
    val warm = SimilarityQueries.q82IvfPqAnn(spark, dir).collect()
      .map(_.toString).toSeq
    DedupQueries.signedUniquesFor(spark, dir)
    TextQueries.tokenizerFor(spark, dir)
    val misses0 = SessionArtifacts.counters.map { case (k, c) => k -> c(1) }
    SessionArtifacts.invalidate(spark, dir)
    val rederived = SimilarityQueries.q82IvfPqAnn(spark, dir).collect()
      .map(_.toString).toSeq
    assert(warm == rederived, "post-invalidation rerun must reproduce")
    // every kind was dropped, not only the three the q82 path reads
    DedupQueries.signedUniquesFor(spark, dir)
    TextQueries.tokenizerFor(spark, dir)
    val misses = SessionArtifacts.counters.map { case (k, c) => k -> (c(1) - misses0(k)) }
    Seq("quantized", "pq_codebooks", "encoded_pq", "signed_uniques",
      SessionArtifacts.Tokenizer.name)
      .foreach(k => assert(misses(k) == 1, s"$k was not dropped: $misses"))
    // scoped: invalidating a dir this session never touched is a no-op
    SessionArtifacts.invalidate(spark, "/nonexistent/dir")
    val still = SimilarityQueries.q82IvfPqAnn(spark, dir).collect()
      .map(_.toString).toSeq
    assert(still == warm)
  }

  test("PQ codebooks clamp to min(PqK, corpus size); tiny corpora never throw") {
    import spark.implicits._
    // 3 distinct 64-dim vectors, PqK=16: every subspace trains exactly 3
    // codes (each sub-vector is its own nearest seed at distance 0)
    val vecs = Seq(0L, 1L, 2L).map { id =>
      (id, Array.tabulate(SimilarityQueries.Dims)(i => ((id + 1) * (i + 1)).toFloat / 100f))
    }
    val tiny = vecs.map { case (id, v) =>
      (id, v.map(x => math.round(x.toDouble * 1000)).toSeq, v.toSeq)
    }.toDF("vec_id", "qv", "embedding")
    val cbs = SimilarityQueries.trainPqCodebooks(tiny)
    assert(cbs.length == SimilarityQueries.PqM)
    cbs.foreach { cb =>
      assert(cb.length == 3)
      assert(cb.map(_._1).toSeq == Seq(0, 1, 2)) // dense code ids survive
      cb.foreach { case (_, cent) => assert(cent.length == SimilarityQueries.PqSubDim) }
    }
  }

  test("q83 hybrid RRF: a doc ranked by both legs sums both reciprocal " +
      "ranks; single-leg docs keep rank 0 on the missing side") {
    import spark.implicits._
    // constructed corpus where the legs OVERLAP (on the synthetic testdata
    // text and embeddings are independent, so the oracle rows exercise the
    // disjoint path): doc 1 is both the best lexical match (3x "spark")
    // and the nearest vector to query vec 0; doc 9 matches lexically only
    val out = java.nio.file.Files.createTempDirectory("graft_hybrid").toString
    val texts = Seq(
      (0L, "plain filler text"), (1L, "spark spark spark"), (2L, "spark etc"),
      (9L, "window")) ++ (3L to 8L).map(i => (i, "filler"))
    texts.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("t").as("source"),
        org.apache.spark.sql.functions.length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    def vec(scale: Float): Seq[Float] = scale +: Seq.fill(63)(0f)
    Seq((0L, vec(1f), 0), (1L, vec(2f), 0), (2L, vec(0.5f), 0),
      (3L, vec(-1f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val rows = SimilarityQueries.q83HybridSearch(spark, out).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def term(rank: Long): Long =
      if (rank == 0) 0L else 1000000L / (SimilarityQueries.RrfK + rank)
    // doc 1: lex rank 1 (highest tf) AND vec rank 1 (largest dot vs vec 0)
    assert(rows(1L) == ((1L, 1L, term(1) + term(1))))
    // doc 9: lexical only ("window"); its rarer term outscores doc 2's
    // shared "spark" (idf 1000*N/df with df(window)=1 < df(spark)=2)
    assert(rows(9L)._1 > 0 && rows(9L)._2 == 0L)
    assert(rows(9L)._3 == term(rows(9L)._1))
    // doc 3: vector only (negative dot still ranks within depth 20)
    assert(rows(3L)._1 == 0L && rows(3L)._2 > 0)
    // every fused score is consistent with its own ranks
    rows.foreach { case (_, (lr, vr, rrf)) => assert(rrf == term(lr) + term(vr)) }
  }

  test("cosine fold agrees with plain-Scala double math") {
    import org.apache.spark.sql.functions._
    val df = Tables.embeddings(spark, dir).filter(col("vec_id") < 10)
      .withColumn("v", expr("transform(embedding, x -> cast(x AS DOUBLE))"))
      .withColumn("norm", expr("sqrt(aggregate(v, 0.0D, (s, x) -> s + x * x))"))
      .select("vec_id", "norm").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vs = vectors
    df.foreach { case (id, got) =>
      val v = vs(id).map(_.toDouble)
      val expect = math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))
      assert(got == expect, s"norm fold mismatch for $id: $got vs $expect")
    }
  }

  test("label-neighborhood census: same-label pairs are more similar on average") {
    val rows = SimilarityQueries.q28CosineLabelStats(spark, dir).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(3)).toMap
    assert(rows.keySet == Set(true, false))
    assert(rows(true) > rows(false),
      s"same-label avg cosine ${rows(true)} must exceed cross-label ${rows(false)}")
  }

  test("collapsed near-dup (q61) reconciles with pairwise near-dup (q45) " +
      "on a duplicated corpus") {
    import spark.implicits._
    // corpus with exact duplicates: 3 copies of A, 2 of B (A ~ B near-dup),
    // 1 of C (orthogonal)
    val a = Array.fill(64)(0.5f)
    val b = a.clone(); b(63) = 0.45f
    val c = Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.5f)
    val rows = Seq(
      (0L, a), (1L, a), (2L, a), (3L, b), (4L, b), (5L, c))
      .map { case (id, v) => (id, v.toSeq, 0) }
    val tmp = java.nio.file.Files.createTempDirectory("q61").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

    val uniqPairs = SimilarityQueries.q61NearDupUnique(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // uniques are 0 (cnt 3), 3 (cnt 2), 5 (cnt 1); A~B is the only pair
    assert(uniqPairs.toSeq == Seq((0L, 3L, 6L)), uniqPairs.toSeq)

    // q45 must emit the same content pair-by-pair: C(3,2)=3 A-A pairs,
    // C(2,2)=1 B-B pair, 3*2=6 A-B pairs = 10 total
    val allPairs = SimilarityQueries.q45EmbeddingNearDup(spark, tmp).collect()
    assert(allPairs.length == 10, allPairs.toSeq.toString)
  }

  test("multi-table LSH: candidates grow monotonically with tables and " +
      "table 0 matches the single-table bucketing") {
    val dir = "/root/testdata/sf0.001"
    def candSet(tables: Int): Set[(Long, Long)] =
      SimilarityQueries.annLshMultiTableScored(spark, dir, 8, tables)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val t1 = candSet(1); val t2 = candSet(2); val t4 = candSet(4)
    // OR-amplification: each added table can only ADD candidates
    assert(t1.subsetOf(t2) && t2.subsetOf(t4), s"${t1.size}/${t2.size}/${t4.size}")
    assert(t4.size >= t2.size && t2.size >= t1.size)
    // recall can only improve: top-k dots are true dot products, so any
    // exact neighbor present in t1 is present (and ranked the same) in t4
    val top1 = SimilarityQueries.annLshMultiTable(spark, dir, 8, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val top4Scores = SimilarityQueries.annLshMultiTable(spark, dir, 8, 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // every pair surviving into the larger candidate set keeps its exact score
    val scored1 = SimilarityQueries.annLshMultiTableScored(spark, dir, 8, 1)
      .select("query_id", "neighbor_id", "dot")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    top1.foreach { p =>
      top4Scores.get(p).foreach(s4 => assert(s4 == scored1(p), s"score drift for $p"))
    }
  }

  test("q114 cluster balance matches a plain-Scala recomputation of the full IVF pipeline") {
    val dir = "/root/testdata/sf0.001"
    val rows = SimilarityQueries.quantized(spark, dir).localCheckpoint()
      .select("vec_id", "qv").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val cells = SimilarityQueries.IvfCells
    // independent re-derivation: lowest-id seeds, one Lloyd round with the
    // truncating integer mean, nearest-cell assignment with ties -> lower
    def near(v: Array[Long], cb: Seq[(Int, Array[Long])]): Int =
      cb.map { case (c, s) =>
        (s.zip(v).map { case (a, b) => val d = a - b; d * d }.sum, c)
      }.min._2
    val seeds = rows.sortBy(_._1).take(cells).zipWithIndex
      .map { case ((_, v), i) => (i, v) }.toSeq
    val refined = rows.groupBy { case (_, v) => near(v, seeds) }
      .map { case (c, vs) =>
        (c, Array.tabulate(SimilarityQueries.Dims)(i => vs.map(_._2(i)).sum / vs.size))
      }.toSeq.sortBy(_._1)
    val census = rows.groupBy { case (_, v) => near(v, refined) }
      .map { case (c, vs) => (c.toLong, vs.length.toLong) }
    val total = rows.length.toLong
    val expect = census.toSeq
      .map { case (c, n) => (c, n, n * 1000L / total) }.sortBy(_._1)
    val got = SimilarityQueries.q114IvfBalance(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
    // the census is a partition of the corpus, not a sample of it
    assert(got.map(_._2).sum === total)
    assert(got.nonEmpty)
  }

  test("IVF codebook training is bit-deterministic, and its Lloyd step " +
      "never raises the quantization objective over the seed codebook") {
    val dir = "/root/testdata/sf0.001"
    val emb = SimilarityQueries.quantized(spark, dir).localCheckpoint()
    val vecs = emb.select("qv").collect().map(_.getSeq[Long](0).toArray)
    def objective(cb: Seq[Array[Long]]): BigInt =
      vecs.map { v =>
        cb.map(c => v.zip(c).map { case (a, b) => BigInt(a - b) * BigInt(a - b) }.sum).min
      }.sum
    // the seed codebook: the qv of the lowest IvfCells vec_ids
    val seeds = emb.orderBy("vec_id").limit(SimilarityQueries.IvfCells)
      .select("qv").collect().map(_.getSeq[Long](0).toArray).toSeq
    val cb = SimilarityQueries.trainCodebook(emb, SimilarityQueries.IvfCells)
    val (seeded, trained) = (objective(seeds), objective(cb.map(_._2).toSeq))
    // modulo the centroid's truncating milli-division (sub-ppm relative
    // rounding; an exact Lloyd step is non-increasing)
    assert(trained <= seeded + seeded / 1000000, s"objective rose: $seeded -> $trained")
    // same input, same codebook
    val again = SimilarityQueries.trainCodebook(emb, SimilarityQueries.IvfCells)
    assert(again.map(_._2.toSeq).toSeq == cb.map(_._2.toSeq).toSeq)
  }

  test("q65 property differential: collapse-first == naive composition on " +
      "seeded random corpora with forced vector/text collisions") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](gen: Gen[A], seed: Long): A =
      gen.apply(Gen.Parameters.default, Seed(seed)).get
    // small alphabets force the interesting collisions: few base vectors
    // (heavy multiplicity), few texts (same-text pairs across families),
    // occasional nulls
    val baseVecs = Seq(
      Array.fill(64)(0.125f),
      Array.tabulate(64)(i => if (i < 60) 0.125f else 0.126f),
      Array.tabulate(64)(i => if (i % 2 == 0) 0.125f else -0.125f),
      Array.fill(64)(-0.125f),
      Array.tabulate(64)(i => if (i < 32) 0.125f else -0.125f))
    val texts = Seq(Some("t one"), Some("t two"), Some("t three"), None)
    val genCorpus: Gen[Seq[(Long, Int, Int)]] = for {
      n <- Gen.choose(4, 24)
      rows <- Gen.listOfN(n, for {
        v <- Gen.choose(0, baseVecs.size - 1)
        t <- Gen.choose(0, texts.size - 1)
      } yield (v, t))
    } yield rows.zipWithIndex.map { case ((v, t), i) => (i.toLong, v, t) }

    for (seed <- 1L to 6L) {
      val corpus = sample(genCorpus, seed)
      val tmp = java.nio.file.Files.createTempDirectory(s"q65p$seed").toString
      corpus.map { case (id, v, _) => (id, baseVecs(v).toSeq, 0) }
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      corpus.map { case (id, _, t) => (id, texts(t).orNull, s"l${t % 2}") }
        .toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val meta = corpus.map { case (id, _, t) => id -> (texts(t), s"l${t % 2}") }.toMap
      val expected = SimilarityQueries.q45EmbeddingNearDup(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .flatMap { case (a, b, dot) =>
          (meta(a), meta(b)) match {
            case ((Some(ta), la), (Some(tb), lb)) if ta != tb =>
              Some((a, b, dot, la, lb, la == lb))
            case _ => None
          }
        }.sortBy(t => (t._1, t._2)).toSeq
      val got = SimilarityQueries.q65SemanticDedup(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4), r.getBoolean(5))).toSeq
      assert(got == expected, s"seed $seed: corpus $corpus")
    }
  }

  test("q65 collapse-first differential: identical to the naive " +
      "q45-then-filter composition on a duplicated mixed corpus") {
    import spark.implicits._
    // families of identical vectors with mixed texts: copies within a
    // family share text (drop) or differ (keep, incl. self-family pairs);
    // two distinct-but-near vectors cross-pair; a null text drops.
    val va = Array.fill(64)(0.125f)
    val vb = Array.tabulate(64)(i => if (i < 60) 0.125f else 0.126f) // near va
    val vc = Array.tabulate(64)(i => if (i % 2 == 0) 0.125f else -0.125f)
    val emb = Seq(
      1L -> va, 2L -> va, 3L -> va,  // family A x3
      4L -> vb, 5L -> vb,            // family B x2, near A
      6L -> vc,                      // unrelated
      7L -> va                       // in A, null text
    ).map { case (id, v) => (id, v.toSeq, 0) }
    val docs = Seq(
      (1L, "text one", "en"), (2L, "text one", "en"), (3L, "text three", "fr"),
      (4L, "text four", "en"), (5L, "text five", "de"),
      (6L, "text six", "en"), (7L, null: String, "en"))
    val tmp = java.nio.file.Files.createTempDirectory("q65diff").toString
    emb.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    docs.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    // naive reference: q45 pairs joined to doc metadata, filtered in Scala
    val meta = docs.map { case (id, t, l) => id -> (Option(t), l) }.toMap
    val expected = SimilarityQueries.q45EmbeddingNearDup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .flatMap { case (a, b, dot) =>
        (meta.get(a), meta.get(b)) match {
          case (Some((Some(ta), la)), Some((Some(tb), lb))) if ta != tb =>
            Some((a, b, dot, la, lb, la == lb))
          case _ => None
        }
      }.sortBy(t => (t._1, t._2)).toSeq

    val got = SimilarityQueries.q65SemanticDedup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getBoolean(5))).toSeq
    assert(got == expected, s"\ngot:      $got\nexpected: $expected")
    // sanity on the corpus design: self-family different-text pairs exist
    assert(expected.exists { case (a, b, _, _, _, _) => Set(a, b) == Set(1L, 3L) })
    assert(expected.nonEmpty)
  }

  test("q65 semantic dedup keeps only different-text near-dups; " +
      "same-text and null-text pairs drop") {
    import spark.implicits._
    // 64-dim vectors; identical vectors dot to 125^2*64 = 1,000,000 > the
    // 250,000 threshold and trivially share every LSH bucket.
    val a = Array.fill(64)(0.125f)                                  // family A
    val b = Array.tabulate(64)(i => if (i < 32) 0.125f else -0.125f) // dot(A,B)=0
    val d = Array.fill(64)(-0.125f)                                 // family D
    val emb = Seq(
      1L -> a, 2L -> a, // same text pair -> filtered
      3L -> b, 4L -> b, // different texts -> the one kept pair
      5L -> Array.tabulate(64)(i => if (i % 2 == 0) 0.125f else -0.125f),
      6L -> d, 7L -> d  // near-dup embeddings but text(6) is NULL -> dropped
    ).map { case (id, v) => (id, v.toSeq, 0) }
    val docs = Seq(
      (1L, "alpha shared text", "en"), (2L, "alpha shared text", "en"),
      (3L, "bravo wording", "en"), (4L, "charlie other words", "fr"),
      (5L, "delta", "en"),
      (6L, null: String, "en"), (7L, "golf text", "en"))
    val tmp = java.nio.file.Files.createTempDirectory("q65").toString
    emb.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    docs.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    // sanity: the embedding stage sees all three same-vector pairs
    val nearDup = SimilarityQueries.q45EmbeddingNearDup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((1L, 2L), (3L, 4L), (6L, 7L)).subsetOf(nearDup), nearDup)

    val got = SimilarityQueries.q65SemanticDedup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getBoolean(5)))
    assert(got.toSeq == Seq((3L, 4L, 1000000L, "en", "fr", false)), got.toSeq)
  }

  test("IVF seeding clamps to min(cells, corpus size) with a warning (VERDICT r7 #7)") {
    import spark.implicits._
    // 3 vectors, cells=8: train 3 cells — one per vector after one Lloyd
    // round (each vector is its own nearest seed), never a throw
    val tiny = Seq(
      (5000000000L, Seq(10L, 0L), Seq(10f, 0f)),
      (5000000001L, Seq(0L, 10L), Seq(0f, 10f)),
      (5000000002L, Seq(-10L, -10L), Seq(-10f, -10f)),
    ).toDF("vec_id", "qv", "embedding")
    val cb = SimilarityQueries.trainCodebook(tiny, cells = 8)
    assert(cb.length == 3)
    assert(cb.map(_._1).toSeq == Seq(0, 1, 2)) // dense cell ids
    // each vector is its own nearest seed, so one Lloyd round re-derives
    // one centroid per vector: the embedding mean quantized at x1000
    // (CentroidAggregator's QScale; mean-of-one round-trips exactly)
    assert(cb.map(_._2.toSeq).toSet ==
      Set(Seq(10000L, 0L), Seq(0L, 10000L), Seq(-10000L, -10000L)))
  }

  test("q117 SRP audit: constructed vectors hit the exact deciles and match fractions") {
    import spark.implicits._
    def axis(i: Int, scale: Long): Seq[Long] =
      Seq.tabulate(64)(d => if (d == i) scale else 0L)
    // signs of plane p on axis 0 / axis 1 — the spec derives the expected
    // sketch agreement straight from the production plane table
    val planes = SimilarityQueries.planeSignsRange(0, SimilarityQueries.SrpPlanes)
    val sameSign01 = planes.count(p => (p(0) > 0) == (p(1) > 0)).toLong
    val rows = Seq(
      0L -> axis(0, 1000L),             // e0
      1L -> axis(0, 1000L),             // identical to e0
      2L -> axis(0, -1000L),            // -e0
      3L -> axis(1, 1000L),             // orthogonal e1
      4L -> Seq.fill(64)(0L),           // zero norm: excluded
      200L -> axis(2, 1000L),           // beyond SrpSample: excluded
    ).toDF("vec_id", "qv")
    val got = SimilarityQueries.srpAudit(rows).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // pairs among {0,1,2,3}: (0,1) cos 1; (0,2),(1,2) cos -1; (0,3),(1,3)
    // cos 0 with sameSign01 agreeing planes; (2,3) cos 0, complement signs
    val est03 = sameSign01 * 1000L / 16L
    val est23 = (16L - sameSign01) * 1000L / 16L
    val expected = Map(
      10L -> ((1L, 1000L, 1000000L)),
      0L -> ((2L, 0L, -1000000L)),
      5L -> ((3L, (2 * est03 + est23) / 3L, 0L)))
    assert(got === expected)
  }

  test("q117 SRP audit on the real corpus: calibration curve rises with cosine") {
    val got = SimilarityQueries.q117SrpAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // deciles ordered; agreement non-decreasing in cosine (Goemans-
    // Williamson: E[match] = 1 - theta/pi, monotone in cos theta)
    assert(got.map(_._1) === got.map(_._1).sorted)
    val match_ = got.map(_._3)
    assert(match_.zip(match_.drop(1)).forall { case (a, b) => a <= b })
    // the audited sample is the full bounded pair set over nonzero vectors
    val n = SimilarityQueries.quantized(spark, dir)
      .filter(col("vec_id") < SimilarityQueries.SrpSample)
      .collect().count(r => r.getSeq[Long](r.fieldIndex("qv")).exists(_ != 0L))
    assert(got.map(_._2).sum === n.toLong * (n - 1) / 2)
  }
}
