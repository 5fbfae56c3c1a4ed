package graft.tools

import graft.{Env, Sessions}
import graft.operators.SimilarityQueries
import java.nio.file.Files
import org.apache.commons.io.FileUtils

/** Recall/candidate-count curve for the ANN tunables (dev tool; VERDICT r4
  * next-round #9): sweep sign-LSH plane counts and IVF (cells, probes)
  * against the exact brute-force top-k on a given corpus (default sf0.1;
  * `tools/gen_scale.py` writes larger ones) and print one JSON line per
  * config: wall time, candidate-pair count, and mean recall@k.
  *
  * This is the evidence behind the scaladoc claims that the demo-scale
  * parameters (LshBits=4, IvfCells=8) are TUNABLE, not structural: raising
  * bits/cells shrinks candidates (the cost driver at 100 TB) while the
  * bucket-join plan shape stays identical.
  *
  * Usage: runMain graft.tools.RecallSweep [dataDir]
  */
object RecallSweep {

  def main(args: Array[String]): Unit = {
    val cpus = Env.cpus
    val spark = Sessions.build(s"local[$cpus]", cpus, "graft-recall-sweep")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    System.err.println(s"[sweep] corpus: $dir")

    // exact top-k per query — the recall denominator
    val exact: Map[Long, Set[Long]] = SimilarityQueries.q26KnnExact(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }

    def recallOf(rows: Array[(Long, Long)]): Double = {
      val byQ = rows.groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
      val per = exact.map { case (q, ex) =>
        byQ.get(q).fold(0.0)(got => got.intersect(ex).size.toDouble / ex.size)
      }
      if (per.isEmpty) 0.0 else per.sum / per.size
    }

    def emit(kind: String, config: String, candidates: Long,
        recall: Double, sec: Double): Unit =
      println(f"""{"sweep":"$kind","config":"$config","candidates":$candidates,"recall":$recall%.4f,"sec":$sec%.3f}""")

    for (bits <- Seq(4, 6, 8, 10)) {
      val t0 = System.nanoTime()
      val top = SimilarityQueries.annLshTopK(spark, dir, bits)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val sec = (System.nanoTime() - t0) / 1e9
      val cand = SimilarityQueries.annLshScored(spark, dir, bits).count()
      emit("lsh", s"bits=$bits", cand, recallOf(top), sec)
    }

    for ((bits, tables) <- Seq((8, 1), (8, 2), (8, 4), (8, 8), (10, 8))) {
      val t0 = System.nanoTime()
      val top = SimilarityQueries.annLshMultiTable(spark, dir, bits, tables)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val sec = (System.nanoTime() - t0) / 1e9
      val cand = SimilarityQueries.annLshMultiTableScored(spark, dir, bits, tables).count()
      emit("lsh-multi", s"bits=$bits,tables=$tables", cand, recallOf(top), sec)
    }

    // each config trains its codebook ONCE: scored is built a single time
    // (training collects happen at construction) and both the top-k and the
    // candidate count derive from it
    for ((cells, probes) <- Seq((8, 2), (16, 2), (32, 4), (64, 8))) {
      val t0 = System.nanoTime()
      val scored = SimilarityQueries.ivfAnnScored(spark, dir, cells, probes)
      val top = SimilarityQueries.topKScored(scored)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val sec = (System.nanoTime() - t0) / 1e9
      emit("ivf", s"cells=$cells,probes=$probes", scored.count(), recallOf(top), sec)
    }

    // does Lloyd refinement buy recall at a fixed (cells, probes) budget?
    for (rounds <- Seq(1, 2, 4, 8)) {
      val t0 = System.nanoTime()
      val scored = SimilarityQueries.ivfAnnScored(spark, dir, 16, 2, rounds)
      val top = SimilarityQueries.topKScored(scored)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val sec = (System.nanoTime() - t0) / 1e9
      emit("ivf-lloyd", s"cells=16,probes=2,rounds=$rounds", scored.count(),
        recallOf(top), sec)
    }

    // q65 candidate generators (r7): PAIR-level recall of the sign-LSH form
    // vs the persisted-IVF-index form against the brute-force truth set —
    // the curves behind wiring the IVF index into semantic dedup
    // (VERDICT r5 #6 / r6 #2)
    val truth = SimilarityQueries.semanticDedupBruteForce(spark, dir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairRecall(rows: Array[(Long, Long)]): Double =
      if (truth.isEmpty) 0.0
      else rows.count(truth.contains).toDouble / truth.size
    locally {
      val t0 = System.nanoTime()
      val got = SimilarityQueries.q65SemanticDedup(spark, dir)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      emit("q65-lsh", s"bits=${SimilarityQueries.LshBits}", got.length,
        pairRecall(got), (System.nanoTime() - t0) / 1e9)
    }
    for ((cells, probes) <- Seq((8, 1), (8, 2), (8, 4), (16, 2), (16, 4))) {
      val idx = Files.createTempDirectory(s"q65idx_$cells")
      try {
        SimilarityQueries.buildIvfIndex(spark, dir, idx.toString, cells = cells)
        val t0 = System.nanoTime()
        val got = SimilarityQueries
          .semanticDedupFromIvfIndex(spark, dir, idx.toString, probes = probes)
          .select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        emit("q65-ivf", s"cells=$cells,probes=$probes", got.length,
          pairRecall(got), (System.nanoTime() - t0) / 1e9)
      } finally FileUtils.deleteDirectory(idx.toFile)
    }
    spark.stop()
  }
}
