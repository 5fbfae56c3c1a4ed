package graft.operators

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** The catalog plan sweep as a permanent test (tools.ExecutedPlanDump
  * prints each entry's executed plan by hand): no catalog query may plan a
  * CartesianProduct, and BroadcastNestedLoopJoin is allowed ONLY where the
  * cross product IS the declared semantics (q26/q28 brute-force baselines).
  * This is the 100 TB survival property — a refactor that silently turns a
  * bucket join into an all-pairs join fails CI, not the cluster.
  */
class PlanInvariantSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  /** Declared brute-force baselines (q26/q28: the BNLJ is the semantics),
    * plus q53/q70/q72/q75 whose BNLJ is a broadcast of a 1-ROW aggregate
    * (corpus count / min lang count / corpus token count — q75 inherits
    * q72's via the shared rarityScores stage) — the scalar-subquery shape
    * Spark itself plans for `(SELECT count(*) ...)`, constant-size at any
    * corpus scale. */
  private val bnljAllowed = Set("q26_knn_exact", "q28_cosine_label_stats",
    "q53_doc_search", "q70_temperature_sample", "q72_rarity",
    "q75_curation_v2",
    // q83: BOTH its BNLJs are 1-row broadcasts (q53's corpus count on the
    // lexical leg; the single query vector on the embedding leg)
    "q83_hybrid_search",
    // q91: BOTH its BNLJs are 1-row broadcasts (the doc-count scalar and
    // the pigeonhole-bounded boilerplate-hash array)
    "q91_boilerplate_lines",
    // q94: the BNLJ is the 1-row broadcast of the corpus token total
    // (the vocab itself travels by equi-join — it is un-broadcastable)
    "q94_perplexity",
    // q95: the BNLJs are 1-row broadcasts of the node-count scalar
    "q95_pagerank",
    // q97: the BNLJ is the 1-row broadcast of the pair-total scalar
    "q97_pmi_pairs",
    // q102: the BNLJ is the 1-row broadcast of the class-total scalars
    // (the weight table itself travels by broadcast HASH join — bounded
    // at 4096 rows by construction)
    "q102_quality_classifier",
    // q107: the BNLJ is q26's — the recall audit's exact DENOMINATOR is
    // the declared brute-force baseline (QueryCount query rows broadcast
    // once past the corpus); the audit join itself is QueryCount×TopK rows
    "q107_ann_recall",
    // q109: the BNLJ is the 1-row broadcast of the train-corpus (N, V)
    // totals (the censuses themselves travel by equi-join)
    "q109_bigram_lm",
    // q112: same 1-row (N, V) broadcast as q109, one backoff level deeper
    "q112_trigram_lm",
    // q111: inherits q102's 1-row class-total broadcast
    "q111_classifier_calibration",
    // q114: the BNLJ is the 1-row broadcast of the census total
    "q114_ivf_balance",
    // q115: the BNLJ is the 1-row broadcast of the per-class gram totals
    // (the q102 shape; the term table travels by broadcast HASH join,
    // bounded at QcBuckets rows by construction)
    "q115_dsir_weights",
    // q116: two 1-row broadcasts — q109's (N, V) training totals plus the
    // (h_min, h_sum, n_dom) mixture stats over the |domains|-row aggregate
    "q116_domain_mixture",
    // q117: the pair join over the bounded SrpSample vectors is the q28
    // bounded-BNLJ shape (<= SrpSample^2 rows by construction)
    "q117_srp_audit",
    // q118: inherits q115's 1-row class-total broadcast (the term table
    // travels by broadcast HASH join, bounded at QcBuckets rows)
    "q118_dsir_resample",
    // q119: the BNLJ is the 1-row broadcast of the corpus token total
    // (the bucket margin travels by equi-join, <= QcBuckets rows)
    "q119_shard_drift")

  // q56's iterative loop materializes intermediate frames eagerly
  // (localCheckpoint actions); its join shape is pinned by DedupSpec's
  // no-cartesian check on the candidate-pair subplan instead.
  private val exempt = Set("q21_estimator_sweep", "q34_saved_runs_list",
    "q56_dup_clusters")

  /** Catalog entries allowed a partition-less (global) Window: in each,
    * the window input is a `limit(K)`-bounded frame (q83 ranks the two
    * FusionDepth-row legs; q96 ranks the SampleK TakeOrdered survivors),
    * so the single window task touches K rows at ANY corpus scale. An
    * unbounded global window funnels the corpus through one task — the
    * q94-r8 scale bug this net exists to catch (VERDICT r8 #2). */
  // q96/q118: the rank window runs AFTER the distributed top-K limit, so
  // it sees <= SampleK rows — bounded by construction, not corpus-sized
  private val globalWindowAllowed =
    Set("q83_hybrid_search", "q96_priority_sample", "q118_dsir_resample")

  SparkEntry.queries.toSeq.sortBy(_._1)
    .filterNot { case (n, _) => exempt(n) || globalWindowAllowed(n) }
    .foreach { case (name, fn) =>
      test(s"$name plans no unbounded single-partition window") {
        import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, WindowGroupLimit}
        val plan = fn(spark, dir).queryExecution.optimizedPlan
        val global = plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
          case w: WindowGroupLimit if w.partitionSpec.isEmpty => w
        }
        assert(global.isEmpty,
          s"$name has a global (partition-less) window — one task sees every row:\n${global.mkString("\n")}")
      }
    }

  test("q86 aggregates through the bounded top-K buffer, not collect_list") {
    val qe = WebCurationQueries.q86DomainCap(spark, dir).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("collect_list"),
      s"q86 must not buffer unbounded lists (VERDICT r8 #1):\n$plan")
    assert(plan.contains("lowestkaggregator") || plan.toLowerCase.contains("lowestk"),
      s"q86 should aggregate via LowestKAggregator:\n$plan")
  }

  test("q88 stage-3 cap reuses the bounded aggregate (no collect_list)") {
    val plan = WebCurationQueries.q88WebCuration(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"), s"q88 cap must stay bounded:\n$plan")
  }

  test("q66 probes the benchmark gram set through a broadcast hash join") {
    val plan = TextQueries.q66Decontamination(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark probe should be map-side (eval suites are small):\n$plan")
  }

  /** These corpus-path entries build token arrays and adjacent grams with
    * [[TextQueries.tokens]] / [[TextQueries.adjacentGrams]]. A higher-order
    * function in their plans is a lambda Spark 4.1 runs interpreted, once
    * per token, per document. q119 materializes its token census when the
    * entry is built, so its census input is checked in place of the entry. */
  test("tokenizer entries plan no higher-order function") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    val frames = Seq("q97_pmi_pairs", "q109_bigram_lm", "q112_trigram_lm")
      .map(name => name -> SparkEntry.queries(name)(spark, dir)) :+
      ("q119_shard_drift census" -> AnalyticsQueries.shardBucketCensus(spark, dir))
    val offenders = frames.flatMap { case (name, df) =>
      df.queryExecution.sparkPlan.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case h: HigherOrderFunction => s"$name: ${h.prettyName}" })
        .distinct
    }
    assert(offenders.isEmpty, s"interpreted lambdas on the corpus path: $offenders")
  }

  /** The r16 sort-below-projection entries (OPTIMIZATION_r16.md §1.7): each
    * evaluates its heavy projection ONCE, above a pinned-width range sort of
    * the raw rows. Their global-order contract rests on the optimizer NOT
    * dropping that low Sort — and the r16 q91 attempt proved EliminateSorts
    * CAN silently drop it under a future refactor, which the oracle only
    * catches when scan order happens to diverge. This lint is the regression
    * guard (ADVICE r16): the physical plan must still contain a Sort sitting
    * on a range-partitioning Exchange. */
  private val sortBelowProjection = Seq(
    "q29_text_stats", "q31_lang_id", "q33_fingerprint", "q67_repetition",
    "q84_pii_redact", "q87_quality_rules", "q90_line_quality",
    "q105_para_dedup")

  sortBelowProjection.foreach { name =>
    test(s"$name keeps its Sort above the range exchange (order contract)") {
      import org.apache.spark.sql.execution.{SortExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
      def unwrap(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val plan = unwrap(SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan)
      val guarded = plan.collect { case s: SortExec => s }.exists(s =>
        s.child.collectFirst {
          case e: ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
        }.isDefined)
      assert(guarded,
        s"$name lost its Sort-over-range-Exchange (EliminateSorts hazard, " +
          s"see the r16 q91 note):\n$plan")
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1)
    .filterNot { case (n, _) => exempt(n) }
    .foreach { case (name, fn) =>
      test(s"$name plans without a cartesian product") {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"), s"cartesian in $name:\n$plan")
        if (!bnljAllowed(name))
          assert(!plan.contains("BroadcastNestedLoopJoin"),
            s"nested-loop join in $name:\n$plan")
      }
    }
}
