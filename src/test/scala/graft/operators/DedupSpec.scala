package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** Dedup-family semantics beyond what the DuckDB oracle pins: LSH candidate
  * structure, Jaccard bounds, simhash vs an independent plain-Scala
  * reference implementation, and the no-cartesian-product plan property.
  */
class DedupSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  // ---- parity references: the forms the shipped census plans replaced ----

  /** Keyed-window canonical selection: one shuffle instead of
    * [[DedupQueries.withCanonicalFlag]]'s two, but a hot family lands whole
    * in one AQE-unsplittable partition. The keeper is the first row of
    * `ORDER BY priority..., doc_id` — nulls-FIRST, like the census form's
    * struct minimum. */
  private def canonicalFlagWindow(docs: DataFrame,
      priority: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(F.coalesce(F.md5(F.col("text")), F.lit("")))
      .orderBy((priority :+ F.col("doc_id")).map(_.asc): _*)
    docs.withColumn("is_canonical", F.row_number().over(w) === 1)
  }

  /** Per-doc-distinct (doc_id, h) span-hash stream — step 1 of the q71
    * window twin [[DedupQueries.spanDupFlags]] is checked against. */
  private def docSpans(docs: DataFrame): DataFrame =
    docs.filter(F.col("text").isNotNull)
      .select(F.col("doc_id"), F.explode(F.array_distinct(graft.functions.WordNGrams(
        F.col("text"), DedupQueries.spanTokens(docs.sparkSession)))).as("span"))
      .select(F.col("doc_id"), F.md5(F.col("span")).as("h"))

  /** q77's window twin: keeper and duplicated-ness from window aggregates
    * over the h-partition instead of the census rejoin, then the same
    * rebuild stage as [[DedupQueries.spanDedup]]. */
  private def spanDedupWindow(docs: DataFrame): DataFrame = {
    val nTokens = DedupQueries.spanTokens(docs.sparkSession)
    val text = docs.filter(F.col("text").isNotNull).select(F.col("doc_id"), F.col("text"))
    val w = Window.partitionBy(F.col("h"))
    val removed = DedupQueries.occurrenceSpans(text, nTokens)
      .withColumn("keeper", F.min(F.col("doc_id")).over(w))
      .withColumn("maxd", F.max(F.col("doc_id")).over(w))
      .filter(F.col("maxd") =!= F.col("keeper") && F.col("doc_id") =!= F.col("keeper"))
    DedupQueries.removeCovered(text, removed, nTokens)
  }

  /** The un-gated twin of [[DedupQueries.q80BloomDedup]]: plain
    * exact-membership via a corpus-side left join. */
  private def membershipPlain(probes: DataFrame, keys: DataFrame): DataFrame =
    probes
      .join(keys.select(F.col("tkey")).distinct().withColumn("is_dup", F.lit(true)),
        Seq("tkey"), "left")
      .select(F.col("doc_id"), F.coalesce(F.col("is_dup"), F.lit(false)).as("is_dup"))

  test("exact dedup census is internally consistent") {
    val r = DedupQueries.q22ExactDedup(spark, dir).head()
    val (n, unique, dup) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n == unique + dup)
    assert(unique > 0)
  }

  test("LSH candidates are ordered unique pairs") {
    val pairs = DedupQueries.q23MinhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.distinct.length == pairs.length)
  }

  test("q110 sketch audit matches a full independent recomputation (sf0.001)") {
    val docs = Tables.documents(spark, dir).filter("text IS NOT NULL")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val uniq = docs.groupBy(_._2).map { case (t, xs) => (xs.map(_._1).min, t) }
    val md = java.security.MessageDigest.getInstance("MD5")
    val MH = DedupQueries.MinhashCount
    val BR = DedupQueries.BandRows
    val sigs = uniq.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      if (w.length < 3) None else {
        val s = Array.tabulate(w.length - 2)(i => w(i) + " " + w(i + 1) + " " + w(i + 2)).distinct
        val mh = (0 until MH).map(j => s.map(x => DedupQueries.md5hex(md, j + ":" + x)).min)
        Some(id -> ((s.toSet, mh)))
      }
    }.toMap
    val pairs = sigs.toSeq
      .flatMap { case (id, (_, mh)) =>
        (0 until MH / BR).map(b => (b, mh(BR * b), mh(BR * b + 1)) -> id)
      }
      .groupBy(_._1).values
      .flatMap { xs =>
        val ids = xs.map(_._2).toSeq.sorted
        for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
      }.toSet
    val expect = pairs.toSeq.map { case (a, b) =>
      val (shA, mhA) = sigs(a); val (shB, mhB) = sigs(b)
      val est = (0 until MH).count(j => mhA(j) == mhB(j)).toLong * 1000L / MH
      val jac = (shA & shB).size.toLong * 1000L / (shA | shB).size
      (jac / 100, est, jac)
    }.groupBy(_._1).toSeq.map { case (d, xs) =>
      (d, xs.size.toLong, xs.map(_._2).sum, xs.map(_._3).sum,
        xs.map(x => math.abs(x._2 - x._3)).sum / xs.size)
    }.sortBy(_._1)
    val got = DedupQueries.q110MinhashAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expect)
    assert(got.nonEmpty)
    // the audit separates sketch quality by band: the top decile's mean
    // absolute error must undercut the bottom decile's (the LSH
    // false-positive region is exactly where the 8-component estimate
    // is noisiest relative to truth)
    val byDecile = got.map(r => r._1 -> r._5).toMap
    if (byDecile.contains(0L) && byDecile.contains(9L))
      assert(byDecile(9L) < byDecile(0L))
  }

  test("q113 split leakage: hand-built cross-split exact family and near pair") {
    import spark.implicits._
    // splits under q57's md5(doc_id) rule: 1,2,4,6=train; 5,10=val; 3,44=test
    val X = "alpha beta gamma delta" // exact family: 2 train + 1 val + 1 test
    val A = "one two three four five six seven eight nine ten"   // fid 4
    val B = "one two three four five six seven eight nine zebra" // fid 6
    // A vs B: inter 7, union 9 -> jac 777 >= 500; bands 0,1 collide
    // (deterministic given md5), so the pair IS an LSH candidate
    val docs = Seq(
      (1L, X), (2L, X), (5L, X), (3L, X),
      (4L, A), (10L, A),
      (6L, B), (44L, B)).toDF("doc_id", "text")
    val got = DedupQueries.splitLeakage(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq(
      // X: 2 train x 1 test = 2, plus B is itself a cross family (1x1)
      ("exact", "train", "test", 2L, 3L),
      // X: 2 train x 1 val = 2, plus A (1x1)
      ("exact", "train", "val", 2L, 3L),
      ("exact", "val", "test", 1L, 1L), // X only
      // A{train,val} x B{train,test}: one doc pair crosses each split pair
      ("near", "train", "test", 1L, 1L),
      ("near", "train", "val", 1L, 1L),
      ("near", "val", "test", 1L, 1L)))
  }

  test("q113 matches a full independent recomputation (sf0.001); zero-leak rows survive") {
    val docs = Tables.documents(spark, dir).filter("text IS NOT NULL")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def splitOf(id: Long): String = {
      val h = DedupQueries.md5hex(md, id.toString).substring(0, 2)
      if (h < "cd") "train" else if (h < "e6") "val" else "test"
    }
    val fams = docs.groupBy(_._2).map { case (t, xs) =>
      val ids = xs.map(_._1)
      val c = ids.groupBy(splitOf).map { case (s, v) => s -> v.length.toLong }
      (ids.min, t, c.withDefaultValue(0L))
    }.toSeq
    val pairsOf = Seq(("train", "val"), ("train", "test"), ("val", "test"))
    val exact = pairsOf.map { case (a, b) =>
      val leak = fams.filter(f => f._3(a) > 0 && f._3(b) > 0)
      (a, b, leak.size.toLong, fams.map(f => f._3(a) * f._3(b)).sum)
    }
    // near: the q110 recomputation machinery over the family reps
    val MH = DedupQueries.MinhashCount
    val BR = DedupQueries.BandRows
    val sigs = fams.flatMap { case (id, t, c) =>
      val w = t.split(" ", -1)
      if (w.length < 3) None else {
        val s = Array.tabulate(w.length - 2)(i => w(i) + " " + w(i + 1) + " " + w(i + 2)).distinct
        val mh = (0 until MH).map(j => s.map(x => DedupQueries.md5hex(md, j + ":" + x)).min)
        Some(id -> ((s.toSet, mh)))
      }
    }.toMap
    val famById = fams.map(f => f._1 -> f._3).toMap
    val cands = sigs.toSeq
      .flatMap { case (id, (_, mh)) =>
        (0 until MH / BR).map(b => (b, mh(BR * b), mh(BR * b + 1)) -> id)
      }
      .groupBy(_._1).values
      .flatMap { xs =>
        val ids = xs.map(_._2).toSeq.sorted
        for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
      }.toSet
    val verified = cands.toSeq.filter { case (a, b) =>
      val (shA, _) = sigs(a); val (shB, _) = sigs(b)
      val inter = (shA & shB).size.toLong
      inter * 1000L / (shA.size + shB.size - inter) >= DedupQueries.LeakJaccardMilli
    }
    val near = pairsOf.map { case (s1, s2) =>
      val per = verified.map { case (a, b) =>
        famById(a)(s1) * famById(b)(s2) + famById(a)(s2) * famById(b)(s1)
      }
      (s1, s2, per.count(_ > 0).toLong, per.sum)
    }
    val expect = (exact.map(e => ("exact", e._1, e._2, e._3, e._4)) ++
      near.map(n => ("near", n._1, n._2, n._3, n._4)))
      .sortBy(r => (r._1, r._2, r._3))
    val got = DedupQueries.q113SplitLeakage(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === expect)
    assert(got.length === 6) // zero-count rows are emitted, not dropped
    // the real corpus has no verbatim dups -> exact rows all zero, and
    // its near-dup mass crosses splits -> at least one live near row
    assert(got.filter(_._1 == "exact").forall(r => r._4 == 0L && r._5 == 0L))
    assert(got.filter(_._1 == "near").exists(_._5 > 0L))
  }

  test("LSH plan contains no cartesian product or nested-loop join") {
    val plan = DedupQueries.q23MinhashLsh(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("candidate pairs have higher Jaccard than random pairs") {
    val j = DedupQueries.q24JaccardVerify(spark, dir).collect()
      .map(_.getDouble(2))
    assert(j.forall(x => x >= 0.0 && x <= 1.0))
    // banded minhash (4 bands of r=2) selects for similarity; the candidate
    // mean must clearly beat the ~0 similarity of random synthetic docs
    if (j.nonEmpty) assert(j.sum / j.length > 0.05, s"mean jaccard ${j.sum / j.length}")
  }

  /** Independent reference simhash: same definition, plain Scala. */
  private def simhashRef(text: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hashes = text.split(" ", -1).toSeq.map(md5hex)
    (0 until 64).map { j =>
      val sum = hashes.map { h =>
        val digit = Integer.parseInt(h.charAt(j / 4).toString, 16)
        if (((digit >> (3 - j % 4)) & 1) == 1) 1L else -1L
      }.sum
      if (sum > 0) '1' else '0'
    }.mkString
  }

  test("simhash matches the plain-Scala reference on sampled docs") {
    val rows = DedupQueries.q25SimHash(spark, dir).limit(25).collect()
    val texts = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (id, got) = (r.getLong(0), r.getString(1))
      assert(got.length == 64)
      assert(got == simhashRef(texts(id)), s"simhash mismatch for doc $id")
    }
  }

  test("near-identical docs collide in LSH; dissimilar docs mostly don't") {
    import spark.implicits._
    // a corpus of two near-duplicate docs + unrelated docs
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // 1-word diff
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "red orange yellow green blue indigo violet pink brown black"),
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("dedup").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = DedupQueries.q23MinhashLsh(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"near-dups must be candidates, got $pairs")
    assert(!pairs.contains((3L, 4L)), s"unrelated docs with zero shared shingles must not pair: $pairs")
  }

  test("dup clusters match a plain-Scala union-find over the candidate pairs") {
    val pairs = DedupQueries.q23MinhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // independent reference: classic union-find with path compression
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // root compression to the component MINIMUM (find unions larger onto
    // smaller roots, so the final root IS the min id)
    val expected = parent.keys.map(x => x -> find(x)).toMap
    val sizes = expected.groupBy(_._2).view.mapValues(_.size).toMap

    val got = DedupQueries.q56DupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.map(_._1).toSet == expected.keySet, "node set mismatch")
    got.foreach { case (doc, cluster, size, canonical) =>
      assert(cluster == expected(doc), s"doc $doc: cluster $cluster != ${expected(doc)}")
      assert(size == sizes(cluster).toLong, s"cluster $cluster size")
      assert(canonical == (doc == cluster))
    }
    // exactly one canonical per cluster
    val canon = got.filter(_._4).map(_._2)
    assert(canon.distinct.length == canon.length)
    assert(canon.toSet == got.map(_._2).toSet)
  }

  test("q122 canonical pairs are exactly q56's non-canonical rows " +
      "(member, canonical, family size) — k-1 rows per k-member family") {
    val clusters = DedupQueries.q56DupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val expected = clusters.filterNot(_._4)
      .map { case (doc, cid, size, _) => (doc, cid, size) }.sortBy(_._1)
    val got = DedupQueries.q122CanonicalPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected.toSeq)
    // linear contract: every family of size k contributes exactly k-1 rows
    val byFamily = clusters.groupBy(_._2)
    byFamily.foreach { case (cid, members) =>
      assert(got.count(_._2 == cid) == members.length - 1,
        s"family $cid: ${members.length} members")
    }
    // doc_b is always the family min (the canonical)
    got.foreach { case (a, b, _) => assert(b < a) }
  }

  test("collapsed minhash (q62) reconciles with pairwise minhash (q23) " +
      "on a duplicated corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup
      (4L, "one two three four five six seven eight nine ten"),
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("q62").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val collapsed = DedupQueries.q62MinhashUnique(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(collapsed.toSeq == Seq((1L, 3L, 2L)), collapsed.toSeq)
    // q23 emits every copy-level pair: (1,2) exact family + (1,3),(2,3)
    val pairwise = DedupQueries.q23MinhashLsh(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairwise == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // accounting: cross-unique mult (2) + within-family C(2,2) (1) = |q23|
    assert(collapsed.map(_._3).sum + 1 == pairwise.size)
  }

  test("cluster resolution on an empty candidate graph returns no rows") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(DedupQueries.resolveClusters(empty).collect().isEmpty)
  }

  test("cluster resolution converges on an adversarial 500-node chain " +
      "(distributed loop forced)") {
    import spark.implicits._
    // a path graph 0-1-2-...-500: diameter 500 >> the 20-round cap; plain
    // min-label propagation would need 500 rounds — pointer jumping +
    // contraction must collapse it within O(log n) rounds. Threshold 0
    // forces the distributed loop (the default would local-finish a
    // 500-edge graph immediately and test nothing).
    spark.conf.set(DedupQueries.CcLocalThresholdKey, "0")
    try {
      val chain = (0L until 500L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val got = DedupQueries.resolveClusters(chain).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(got.length == 501)
      assert(got.forall(_._2 == 0L), "every node must reach cluster 0")
      assert(got.forall(_._3 == 501L))
      assert(got.count(_._4) == 1 && got.find(_._4).get._1 == 0L)
    } finally spark.conf.unset(DedupQueries.CcLocalThresholdKey)
  }

  test("local union-find finish is output-identical to the distributed " +
      "fixpoint (chains, cliques, singleton pairs, multi-component)") {
    import spark.implicits._
    // the graph mixes every shape the two paths could disagree on: a long
    // chain (pointer-jump territory), a clique (one-round collapse), a
    // 2-node component, and ids far apart so min-root selection matters
    val pairs = ((0L until 60L).map(i => (i, i + 1)) ++ // chain 0..60
      (for (a <- 100L to 105L; b <- (a + 1) to 105L) yield (a, b)) ++ // clique
      Seq((500L, 999L), (1000L, 700L))) // pairs with reversed ids
      .toDF("doc_a", "doc_b")
    val local = DedupQueries.resolveClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    spark.conf.set(DedupQueries.CcLocalThresholdKey, "0")
    val dist =
      try DedupQueries.resolveClusters(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .sortBy(_._1)
      finally spark.conf.unset(DedupQueries.CcLocalThresholdKey)
    assert(local.toSeq == dist.toSeq)
    assert(local.find(_._1 == 1000L).get._2 == 700L, "min id is the root")
  }

  test("local finish engages mid-loop when contraction shrinks the edge " +
      "set under the threshold") {
    import spark.implicits._
    // threshold 300: the 500-chain's initial 1000 directed edges exceed
    // it, so the loop runs distributed rounds until contraction shrinks
    // the graph under 300 rows, then the union-find closes it — the exact
    // at-scale trajectory. Output must match the pure-distributed run.
    spark.conf.set(DedupQueries.CcLocalThresholdKey, "300")
    try {
      val chain = (0L until 500L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val got = DedupQueries.resolveClusters(chain).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(got.length == 501)
      assert(got.forall(_._2 == 0L) && got.forall(_._3 == 501L))
    } finally spark.conf.unset(DedupQueries.CcLocalThresholdKey)
  }

  test("collapse-first q24 equals the naive per-id-pair formulation on a " +
      "duplicated corpus") {
    import spark.implicits._
    // mixed corpus: an exact-dup family of 3, a near-dup, an unrelated doc,
    // a doc below the 3-word shingle floor, and a null text
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "one two three four five six seven eight nine ten"),
      (6L, "too short"),
      (7L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("q24diff").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DedupQueries.q24JaccardVerify(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // naive reference: jaccard over every q23 candidate id pair directly
    val cand = DedupQueries.q23MinhashLsh(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def shingles(t: String): Set[String] = {
      val w = t.split(" ", -1)
      (0 until w.length - 2).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val texts = Map(1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      5L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      3L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda",
      4L -> "one two three four five six seven eight nine ten")
    val expected = cand.map { case (a, b) =>
      val (sa, sb) = (shingles(texts(a)), shingles(texts(b)))
      (a, b, sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble)
    }.sortBy(p => (p._1, p._2)).toSeq
    assert(got == expected, s"got=$got expected=$expected")
    // the exact-dup family must appear at jaccard exactly 1.0 for every pair
    assert(got.count(_._3 == 1.0) >= 3) // (1,2),(1,5),(2,5)
  }

  test("q71 exact-span census counts shared 8-word spans per doc; short and " +
      "unique docs behave") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("q71").toString
    Seq(
      // A and B share exactly one 8-token span: "a b c d e f g h"
      (1L, "a b c d e f g h x y"),      // spans: a..h, b..x, c..y
      (2L, "z a b c d e f g h q"),      // spans: z..g, a..h, b..q
      (3L, "p1 p2 p3 p4 p5 p6 p7 p8 p9"), // 2 spans, none shared
      (4L, "u v"),                       // below the span floor -> absent
      // exact-dup pair: single span, shared -> cloned
      (5L, "m1 m2 m3 m4 m5 m6 m7 m8"),
      (6L, "m1 m2 m3 m4 m5 m6 m7 m8"),
      (7L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DedupQueries.q71ExactSpans(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, 3L, 1L, 333L, false),
      (2L, 3L, 1L, 333L, false),
      (3L, 2L, 0L, 0L, false),
      (5L, 1L, 1L, 1000L, true),
      (6L, 1L, 1L, 1000L, true),
    ), got.toSeq)
  }

  test("q71 property differential: window census == plain-Scala reference " +
      "on a seeded random corpus") {
    import spark.implicits._
    // 3-symbol vocabulary => 3^8 possible spans; ~500 draws guarantee real
    // cross-doc collisions by birthday bound, plus two planted exact dups
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c")
    val random = (0L until 40L).map { id =>
      val n = 2 + rnd.nextInt(20) // some below the 8-token span floor
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val docs = random ++ Seq((100L, random(3)._2), (101L, random(3)._2))
    val tmp = java.nio.file.Files.createTempDirectory("q71prop").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def spans(t: String): Set[String] = {
      val w = t.split(" ", -1)
      (0 to w.length - DedupQueries.SpanTokens)
        .map(i => w.slice(i, i + DedupQueries.SpanTokens).mkString(" ")).toSet
    }
    val perDoc = docs.map { case (id, t) => id -> spans(t) }.filter(_._2.nonEmpty)
    val counts = perDoc.flatMap(_._2.toSeq).groupBy(identity).view.mapValues(_.size)
    val expected = perDoc.map { case (id, ss) =>
      val dup = ss.count(s => counts(s) >= 2).toLong
      (id, ss.size.toLong, dup, dup * 1000L / ss.size,
        dup * 1000L >= ss.size * DedupQueries.SpanSharedPermille)
    }.sortBy(_._1)
    val got = DedupQueries.q71ExactSpans(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSeq
    assert(got == expected, s"got=$got expected=$expected")
    // the corpus genuinely exercised sharing (planted dups + collisions)
    assert(expected.count(_._3 > 0) >= 3, "differential corpus too clean")
  }

  test("q71 census-arithmetic form is output-identical to a window twin " +
      "on a hot-span corpus (one span in >= 50% of docs)") {
    import spark.implicits._
    // the adversarial shape from VERDICT r5: one universal boilerplate span
    // (license header) in half the corpus — a window formulation funnels
    // every row of that span into ONE partition; the shipped census-
    // arithmetic form must agree exactly while carrying the hot span only
    // as map-side-combined census partials (r13: the window and
    // census+rejoin forms were both retired after the census-arithmetic
    // form measured faster than either AND skew-safe by construction)
    val header = (1 to DedupQueries.SpanTokens).map(i => s"lic$i").mkString(" ")
    val docs = (0L until 400L).map { id =>
      if (id % 2 == 0) (id, s"$header unique${id}a unique${id}b unique${id}c")
      else (id, (1 to 12).map(j => s"w${id}_$j").mkString(" "))
    }
    val tmp = java.nio.file.Files.createTempDirectory("q71skew").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val frame = spark.read.parquet(s"$tmp/documents.parquet")
    // independent window twin, built in-spec (the retired formulation,
    // kept here as the differential reference)
    import org.apache.spark.sql.functions.{count, expr, lit, sum, when}
    val spans = docSpans(frame)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"h")
    val window = spans.withColumn("n_docs_with", count(lit(1)).over(w))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"n_docs_with" >= 2L, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_permille", expr("n_dup_spans * 1000 DIV n_spans"))
      .withColumn("cloned",
        $"n_dup_spans" * 1000L >= $"n_spans" * DedupQueries.SpanSharedPermille)
      .orderBy($"doc_id").collect().map(_.toString).toSeq
    val got = DedupQueries.spanDupFlags(frame)
      .orderBy($"doc_id").collect().map(_.toString).toSeq
    assert(got == window)
    // every even doc is dominated by the shared header span
    assert(got.length == 400)
    // plan shape: the shipped form must not contain a Window operator
    // (windows cannot be skew-split by AQE) and must aggregate (map-side
    // partials carry the hot span)
    val plan = DedupQueries.spanDupFlags(frame)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q76 source-overlap matrix counts distinct shared spans per source " +
      "pair; per-source repeats collapse") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("q76").toString
    Seq(
      // A and B share "a b c d e f g h"; the span repeats across TWO A docs
      // but must count once (per-source distinct)
      (1L, "a b c d e f g h", "A"),
      (2L, "a b c d e f g h x", "A"),
      (3L, "z a b c d e f g h", "B"),
      // C shares nothing 8-token long
      (4L, "p1 p2 p3 p4 p5 p6 p7 p8", "C"),
      (5L, null.asInstanceOf[String], "A"),
    ).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DedupQueries.q76SourceOverlap(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // A spans: {a..h, b..x} (doc 2 contributes "b c d e f g h x" + repeat of
    // a..h, collapsed) -> n_a = 2; B spans: {z..g, a..h} -> n_b = 2;
    // shared = {a..h} -> 1; permille = 1000/2 = 500
    assert(got.toSeq == Seq(("A", "B", 1L, 2L, 2L, 500L)), got.toSeq)
  }

  test("q74 incremental near-dup pairs new arrivals against the corpus only; " +
      "the persisted band index reproduces the inline probe exactly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("q74").toString
    val rows = Seq(
      // corpus near-dup family (1, 11): must NOT appear — corpus self-pairs
      // are the standing batch job's business, not the ingest probe's
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "one two three four five six seven eight nine ten"),
      // new arrivals (doc_id % 10 == 3)
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of 1
      (13L, "unrelated words entirely fresh content nothing shared here at all"),
    )
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DedupQueries.q74IncrementalNearDup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((3L, 1L)), s"new doc 3 must hit corpus doc 1: $got")
    assert(got.forall { case (n, c) => n % 10 == 3 && c % 10 != 3 },
      s"pairs must be (new, corpus): $got")
    // index path: build on the corpus split, probe the arrival split
    val idxDir = java.nio.file.Files.createTempDirectory("q74idx").toString
    val docs = spark.read.parquet(s"$tmp/documents.parquet")
    DedupQueries.buildNearDupIndex(spark, docs.filter($"doc_id" % 10 =!= 3), idxDir)
    val viaIndex = DedupQueries.probeBands(
        DedupQueries.bandDocs(docs.filter($"doc_id" % 10 === 3)),
        DedupQueries.readNearDupIndex(spark, idxDir))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == got, s"index probe $viaIndex != inline $got")
  }

  test("cluster resolution under reliable checkpointing (recovery-safe mode)") {
    import spark.implicits._
    // spark.graft.cc.checkpointDir flips every per-round materialization
    // from localCheckpoint (executor blocks — lost with the executor) to
    // reliable checkpoint files that survive executor loss on a cluster
    val ckptDir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    spark.conf.set("spark.graft.cc.checkpointDir", ckptDir)
    try {
      val chain = (0L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val got = DedupQueries.resolveClusters(chain).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(got.length == 101 && got.forall(_._2 == 0L) && got.forall(_._3 == 101L))
      // the rounds actually wrote reliable checkpoint data
      def rddFiles(d: java.io.File): Long =
        if (d.isDirectory) d.listFiles().map(rddFiles).sum
        else if (d.getName.startsWith("part-")) 1L else 0L
      assert(rddFiles(new java.io.File(ckptDir)) > 0,
        "reliable mode must persist checkpoint part files")
    } finally spark.conf.unset("spark.graft.cc.checkpointDir")
  }

  test("canonical-selection census+rejoin form is output-identical to the " +
      "window form on a hot-family corpus, including null texts") {
    import spark.implicits._
    // the curation adversary (VERDICT r6 what's-wrong #1): one boilerplate
    // text exactly duplicated across half the corpus, plus null-text rows
    // (the null-key join trap the coalesce'd hash key must survive)
    val docs = (0L until 300L).map { id =>
      if (id % 2 == 0) (id, "the same boilerplate error page text")
      else if (id % 7 == 3) (id, null: String)
      else (id, s"unique text for doc $id")
    }.toDF("doc_id", "text")
    def flags(df: DataFrame): Seq[(Long, Boolean)] =
      df.select($"doc_id", $"is_canonical")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toSeq
    val window = flags(canonicalFlagWindow(docs))
    val census = flags(DedupQueries.withCanonicalFlag(docs))
    assert(census == window)
    // no row dropped (300 in, 300 out — the null-key trap would eat the
    // null-text family silently)
    assert(census.length == 300)
    // exactly ONE canonical in the hot family (doc 0) and ONE among the
    // null-text docs (lowest id = 3)
    assert(census.filter(_._1 % 2 == 0).count(_._2) == 1)
    assert(census.find(_._1 == 0L).exists(_._2))
    val nullIds = (0L until 300L).filter(id => id % 2 != 0 && id % 7 == 3)
    assert(census.filter(t => nullIds.contains(t._1)).count(_._2) == 1)
    assert(census.find(_._1 == nullIds.min).exists(_._2))
    // plan shape: the census form must carry no Window operator
    val plan = DedupQueries.withCanonicalFlag(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("spark.graft.spans.tokens re-parameterizes q71/q77 span length " +
      "(oracle default 8 untouched)") {
    import spark.implicits._
    // two docs sharing a 4-word passage: invisible at the default 8-token
    // span, caught at tokens=4
    val tmp = java.nio.file.Files.createTempDirectory("spantok").toString
    Seq(
      (1L, "shared four word span plus tail one"),
      (2L, "other prefix words shared four word span"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val at8 = DedupQueries.q71ExactSpans(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(at8.values.forall(_ == 0L), s"no 8-token span is shared: $at8")
    spark.conf.set(DedupQueries.SpanTokensKey, "4")
    try {
      val at4 = DedupQueries.q71ExactSpans(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(at4(1L) >= 1L && at4(2L) >= 1L,
        s"the 4-word passage must count as duplicated at tokens=4: $at4")
      val dedup = DedupQueries.q77SpanDedup(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toMap
      // doc 1 is the keeper (min doc_id): doc 2 loses the 4 covered words
      assert(dedup(1L) == 0L && dedup(2L) == 4L, s"$dedup")
    } finally spark.conf.unset(DedupQueries.SpanTokensKey)
  }

  test("q77 census and window formulations are row-identical on the real corpus") {
    val docs = graft.operators.Tables.documents(spark, "/root/testdata/sf0.001")
    val census = DedupQueries.spanDedup(docs)
      .collect().map(_.toString).sorted
    val window = spanDedupWindow(docs)
      .collect().map(_.toString).sorted
    assert(census.nonEmpty && census.sameElements(window))
  }

  /** Independent reference Levenshtein: textbook two-row DP. */
  private def levRef(a: String, b: String): Int = {
    var prev = (0 to b.length).toArray
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }

  test("edit-verify similarity matches the plain-Scala DP on sampled pairs " +
      "and same-text pairs short-circuit to 1000") {
    val docs = Tables.documents(spark, dir).filter("text IS NOT NULL")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = DedupQueries.q79EditVerify(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (a, b, s) => a < b && s >= 0L && s <= 1000L })
    rows.take(20).foreach { case (a, b, sim) =>
      val (ta, tb) = (docs(a).take(DedupQueries.EditPrefix),
        docs(b).take(DedupQueries.EditPrefix))
      val expect = 1000L - 1000L * levRef(ta, tb) / math.max(ta.length, tb.length)
      assert(sim == expect, s"pair ($a,$b): got $sim want $expect")
    }
    rows.filter { case (a, b, _) => docs(a) == docs(b) }
      .foreach { case (a, b, s) => assert(s == 1000L, s"same-text ($a,$b): $s") }
  }

  test("edit similarity is BYTE-level (DuckDB's levenshtein semantics): " +
      "é counts as two UTF-8 bytes on both engines") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("editbytes").toString
    // 40 shared words guarantee LSH candidacy; the docs differ only in the
    // final word café/cafe — one code point apart but TWO byte edits
    // (C3 A9 -> 65: replace + delete)
    val shared = (0 until 40).map(i => f"word$i%03d").mkString(" ")
    val (ta, tb) = (s"$shared café", s"$shared cafe")
    Seq((1L, ta), (2L, tb)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // independent reference: classic DP over the UTF-8 byte arrays
    def byteLev(a: Array[Byte], b: Array[Byte]): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val (ba, bb) = (ta.getBytes("UTF-8"), tb.getBytes("UTF-8"))
    val expected = 1000L - 1000L * byteLev(ba, bb) / math.max(ba.length, bb.length)
    assert(byteLev(ba, bb) == 2) // the point: 2 byte edits, not 1 code point
    val got = DedupQueries.q79EditVerify(spark, tmp).collect()
      .map(r => r.getLong(2)).headOption
      .getOrElse(fail("expected the pair to be an LSH candidate"))
    assert(got == expected, s"got $got expected $expected")
  }

  test("edit verify catches a word reordering that shingle-jaccard washes out") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("editv").toString
    // doc 2 = doc 1 with two word-block swaps: shingle OVERLAP collapses
    // (order-sensitive 3-grams break at every swap seam) while edit
    // similarity stays high (few character edits relative to length)
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta theta eta kappa iota"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sims = DedupQueries.q79EditVerify(spark, tmp).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(sims((1L, 3L)) == 1000L)
    // the reordered pair must still be a candidate and score high on edit
    // similarity despite the broken shingles (if LSH banding drops it the
    // test corpus needs a longer shared prefix, not a weaker assertion)
    sims.get((1L, 2L)).foreach { s =>
      assert(s >= 800L, s"reordered pair edit sim $s")
    }
  }

  test("spark.graft.edit.prefix re-parameterizes the verify window " +
      "(oracle default 512 untouched)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("editpfx").toString
    // identical first ~600 chars (100 shared words), doc 2 differs only in
    // the final word: inside the default 512-char window the texts look
    // identical (sim 1000); a window past the divergence sees the edit
    val shared = (0 until 100).map(i => f"word$i%03d").mkString(" ")
    Seq((1L, s"$shared tail"), (2L, s"$shared differs"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def sim(): Long = DedupQueries.q79EditVerify(spark, tmp).collect()
      .map(r => r.getLong(2)).headOption.getOrElse(
        fail("expected the pair to be an LSH candidate"))
    assert(sim() == 1000L, "identical inside the default window")
    spark.conf.set(DedupQueries.EditPrefixKey, "2000")
    try assert(sim() < 1000L, "the divergent tail is inside a 2000-char window")
    finally spark.conf.unset(DedupQueries.EditPrefixKey)
  }

  test("priority canonical selection keeps the best-SOURCE copy, not the " +
      "lowest id, and flags exactly one keeper per family") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("prio").toString
    // family A: doc 10 arrived first (lower id) but from source "zz-crawl";
    // doc 20 is the same text from the better (lexicographically earlier)
    // "aa-curated" feed -> 20 must be the keeper, distinguishing priority
    // order from the min-doc_id rule
    Seq(
      (10L, "same page text", "zz-crawl"),
      (20L, "same page text", "aa-curated"),
      (30L, "unique text here", "zz-crawl"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DedupQueries.q81CanonicalPriority(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(got == Map(10L -> false, 20L -> true, 30L -> true), got.toString)
  }

  test("priority canonical: a NULL source never beats a known source, and " +
      "census and window forms agree on priority corpora") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    // doc 1 has LOWER id but unknown provenance; doc 2's copy came from a
    // named source -> 2 is the keeper (Spark's struct-min is nulls-FIRST,
    // so without the isNull flag column doc 1 would win, inverting the
    // semantics and diverging from DuckDB's NULLS LAST)
    val docs = Seq(
      (1L, "boilerplate page", null: String),
      (2L, "boilerplate page", "curated"),
      (3L, "another text", null: String),
      (4L, "another text", null: String))
      .toDF("doc_id", "text", "source")
    val priority = Seq(c("source").isNull, c("source"))
    def flags(df: DataFrame): Map[Long, Boolean] =
      df.select(c("doc_id"), c("is_canonical")).collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    val census = flags(DedupQueries.withCanonicalFlag(docs, priority))
    assert(census == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false),
      census.toString)
    assert(census == flags(canonicalFlagWindow(docs, priority)), "forms must agree")
  }

  test("bloom membership with stale expectedKeys over an actually-empty " +
      "corpus returns all-new instead of NPEing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c, md5 => m}
    val probes = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .select(c("doc_id"), m(c("text")).as("tkey"))
    val empty = Seq.empty[String].toDF("tkey")
    val got = DedupQueries.bloomGatedMembership(spark, probes, empty,
        expectedKeys = 1000000000L)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(got == Map(1L -> false, 2L -> false))
  }

  test("edit-verify and bloom-membership plans contain no cartesian product " +
      "or nested-loop join") {
    for (q <- Seq(DedupQueries.q79EditVerify(spark, dir),
        DedupQueries.q80BloomDedup(spark, dir))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("bloom-gated membership is output-identical to the plain join form " +
      "(no false negatives; false positives die in the backstop)") {
    val got = DedupQueries.q80BloomDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toSeq
    import org.apache.spark.sql.functions.{col, md5}
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val plain = membershipPlain(
        docs.filter(col("doc_id") % DedupQueries.IncrMod === DedupQueries.IncrRes)
          .select(col("doc_id"), md5(col("text")).as("tkey")),
        docs.filter(col("doc_id") % DedupQueries.IncrMod =!= DedupQueries.IncrRes)
          .select(md5(col("text")).as("tkey")))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toSeq
    assert(got == plain)
    assert(got.nonEmpty)
  }

  test("bloom-gated membership flags exactly the known members of a " +
      "constructed corpus") {
    import spark.implicits._
    // arrivals: ids 3,13,23 (id%10==3); 3 and 23 duplicate corpus texts
    val docs = Seq(
      (3L, "dup text one"), (13L, "genuinely new arrival text"),
      (23L, "dup text two"),
      (1L, "dup text one"), (2L, "dup text two"), (4L, "corpus only text"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("bloomd").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DedupQueries.q80BloomDedup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(got == Map(3L -> true, 13L -> false, 23L -> true))
  }
}
