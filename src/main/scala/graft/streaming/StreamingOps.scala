package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming operators for the priced Flink workload classes
  * (SURVEY.md §2.C streaming rows; reference estimation.html:225,239-240,
  * considerations.html:31-32): tumble/hop/session windows with watermarks,
  * stream-stream left join, and stateful pattern matching via
  * flatMapGroupsWithState.
  *
  * Every transform takes a DataFrame and works identically on a batch or a
  * streaming frame (the micro-batch model's core promise) — the batch
  * catalog's q19 is literally [[tumble]] over a batch scan. State scale
  * notes per op; all state is keyed, so a 1000-executor cluster partitions
  * it by key hash with no driver involvement.
  */
object StreamingOps {

  private val dec = DecimalType(18, 2)

  /** Tumbling event-time window + per-type aggregate. State: one row per
    * (window, type) until the watermark closes the window.
    * `watermark = None` means the input is ALREADY watermarked (composed
    * pipelines — e.g. dedup -> tumble — must set the watermark exactly
    * once; Spark disallows redefining it across stateful operators). */
  def tumble(events: DataFrame, width: String = "1 hour",
      watermark: Option[String] = Some("10 minutes")): DataFrame =
    watermark.fold(events)(w => events.withWatermark("ts", w))
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(dec)).cast("double").as("sv"))
      .select(col("w.start").as("h"), col("event_type"), col("cnt"), col("sv"))

  /** Hopping (sliding) window: each event lands in width/slide windows —
    * state grows by that factor; slide must divide width for Flink HOP
    * parity. */
  def hop(events: DataFrame, width: String = "10 minutes",
      slide: String = "5 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("ws"), col("w.end").as("we"),
        col("event_type"), col("cnt"))

  /** Session window with a fixed inactivity gap. Spark merges adjacent
    * sessions in the state store; emission happens when the watermark
    * passes session end. */
  def session(events: DataFrame, gap: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("ws"), col("w.end").as("we"),
        col("user_id"), col("cnt"))

  /** Stream-stream LEFT OUTER join: view-events enriched with purchase
    * events for the same user within [0, +10 min]. Both sides watermarked;
    * unmatched left rows emit with nulls only after the watermark proves no
    * match can still arrive — the Flink "full left join" complex class.
    * State: both sides buffered inside the join window, keyed by user_id. */
  def viewPurchaseLeftJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
    val p = purchases
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    v.join(p,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
  }

  /** Stream-static decontamination: probe a STREAM of documents against a
    * static benchmark gram table (q66's semantics on arriving data — gate
    * eval contamination at ingest instead of in a nightly batch). The
    * static side joins broadcast per micro-batch, so the probe is map-side
    * with no stream-side shuffle before it; the only stateful operator is
    * the final streaming dropDuplicates, whose state is one doc_id per
    * contaminated document EMITTED (bounded by the contamination set, not
    * the corpus — at 100 TB the contaminated set is the small side by
    * construction). Works identically on a batch frame (the micro-batch
    * promise): batch-vs-replay equivalence is pinned in StreamingSpec
    * against q66's doc set. */
  def contaminatedDocs(docs: DataFrame, benchGrams: DataFrame): DataFrame =
    graft.operators.TextQueries.docGrams3(docs)
      .join(broadcast(benchGrams.select(col("gram"))), "gram")
      .select(col("doc_id"))
      .dropDuplicates("doc_id")

  /** Stream-static near-dup INGEST probe: a stream of arriving documents is
    * shingled/signed/banded per micro-batch (the streaming-safe
    * [[graft.operators.DedupQueries.bandDocs]] transform) and equi-joined
    * against the standing corpus' persisted band index — q74's probe at
    * ingest time instead of in a nightly batch, the streaming leg of the
    * buildNearDupIndex lifecycle. Unlike the decontamination probe the
    * static side is CORPUS-sized, so it is NOT broadcast-hinted: Spark
    * re-plans the static side per micro-batch (shuffled hash join at scale,
    * auto-broadcast only when the index is genuinely small). Emits distinct
    * (new_doc, corpus_doc) candidate pairs exactly once across
    * micro-batches; the dedup state is bounded by the match-pair set, not
    * the stream. */
  def nearDupArrivals(docsStream: DataFrame, bandIndex: DataFrame): DataFrame =
    graft.operators.DedupQueries
      .probeBands(graft.operators.DedupQueries.bandDocs(docsStream), bandIndex)
      .dropDuplicates("new_doc", "corpus_doc")

  // ---- the ingest lifecycle (VERDICT r5 #7 / r6 #3, r15) ----

  /** The per-micro-batch DROP CHAIN of [[ingestLifecycle]] — a batch
    * transform shared verbatim by the lifecycle's foreachBatch and any
    * nightly twin (StreamingSpec pins replay == batch), so the streaming
    * and batch forms cannot drift. Drop stages, each computed over the
    * FULL batch:
    *   1. decontamination — drop docs sharing any 3-gram with the static
    *      benchmark set ([[contaminatedDocs]]'s probe; benchmark side
    *      broadcast — eval suites stay MBs at any scale);
    *   2. near-dup — drop arrivals LSH-colliding with the standing band
    *      index: `probed` is the index-probe RESULT,
    *      `probeBands(bandDocs(batch), index)` ([[nearDupArrivals]]'s
    *      probe). The caller probes the corpus-sized index ONCE per batch
    *      and shares the frame with [[ingestDropPairs]] (review r15: the
    *      probe is the dominant per-batch cost; computing it twice doubled
    *      it);
    *   3. WITHIN-BATCH exact dedup — keep the lowest doc_id per md5(text)
    *      among the batch's own arrivals: a backlog drain delivering N
    *      copies of one page in a single micro-batch must land one, not N,
    *      and the index probe cannot catch them because the batch's own
    *      bands are not in the index yet. Within-batch NEAR-dups (distinct
    *      texts, colliding bands, same batch) are deliberately NOT
    *      collapsed here: they need a batch self-join plus cluster
    *      resolution — the periodic q23/q61/q56 batch job's work, not a
    *      per-micro-batch stage; exact copies are the dominant real case
    *      and are exact to drop.
    * Anti-join keys on doc_id — uniform; per batch the arrival side is
    * small, so at 100 TB/day the cost is dominated by the index probe,
    * which is the q74 incremental shape (never a corpus self-join). */
  def cleanIngestBatch(batch: DataFrame, probed: DataFrame,
      benchGrams: DataFrame): DataFrame = {
    val contaminated = contaminatedDocs(batch, benchGrams)
    // no per-set distinct: the union-level distinct below subsumes both the
    // probe's pair-level dedup and each set's own
    val dupped = probed.select(col("new_doc").as("doc_id"))
    // null-text arrivals are exempt (like every other drop stage): the
    // md5(text) family key would otherwise collapse ALL metadata-only
    // docs in a batch into one "duplicate" family and drop all but one.
    // exactDupPairs IS withCanonicalFlag's census rule — one canonical
    // rule shared with the pair surface (review r15)
    val batchDup = graft.operators.DedupQueries
      .exactDupPairs(batch.filter(col("text").isNotNull))
      .select(col("doc_id"))
    // ONE anti-join on the unioned drop-id set instead of three: each
    // left_anti re-partitioned the full-width batch by doc_id, so the wide
    // rows moved three times; the union shuffles only single-column id
    // sets and the batch moves once (VERDICT r15 #4 — the q88
    // single-pass-verdicts shape applied to the drop chain). Semantics
    // unchanged: drop iff the id is in ANY of the three sets.
    val dropIds = contaminated.select(col("doc_id"))
      .unionByName(dupped).unionByName(batchDup).distinct()
    batch.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** The per-batch (doc_a, doc_b) DEDUP-PROVENANCE pairs of the ingest
    * drop chain — q122's canonical-pair contract emitted incrementally, so
    * the production pair surface exists AT INGEST TIME instead of waiting
    * for the nightly q122 batch job. One row per arrival a DEDUP stage
    * flags, linear in the batch by construction (the q122 discipline —
    * never the quadratic q23 pair list):
    *  - `near_dup_index`: the arrival collided with the standing band
    *    index; doc_b = its SMALLEST colliding corpus doc (the accepted
    *    corpus is dedup-maintained by this very chain, so the min partner
    *    is the family's standing representative — the q122 canonical);
    *  - `exact_batch`: a within-batch exact copy; doc_b = the batch
    *    family's min doc_id ([[graft.operators.DedupQueries.exactDupPairs]]
    *    — the SAME census rule the chain's own batch-dedup stage keeps
    *    by, so pair doc_b and the kept doc cannot drift; review r15).
    * An arrival failing both stages emits ONE row, the index collision
    * (matching the chain's stage order). PRECISE contamination semantics
    * (review r15): the chain computes its three drop sets independently
    * over the FULL batch, and so does this surface — an arrival stage 1
    * also drops for contamination still carries its dedup pair (the
    * dedup provenance is real), and a doc_b may itself be dropped by
    * another stage (it lands only if nothing else flags it).
    * Contamination ITSELF contributes no rows — that audit surface is
    * q66's. A batch transform shared by [[ingestLifecycle]]'s
    * foreachBatch and any nightly twin — StreamingSpec pins replay ==
    * batch. `probed` is the same probe result [[cleanIngestBatch]] takes. */
  def ingestDropPairs(batch: DataFrame, probed: DataFrame): DataFrame = {
    val near = probed
      .groupBy(col("new_doc"))
      .agg(min(col("corpus_doc")).as("doc_b"))
      .select(col("new_doc").as("doc_a"), col("doc_b"),
        lit("near_dup_index").as("reason"))
    val exact = graft.operators.DedupQueries
      .exactDupPairs(batch.filter(col("text").isNotNull))
      .select(col("doc_id").as("doc_a"), col("canon").as("doc_b"),
        lit("exact_batch").as("reason"))
    near.unionByName(
      exact.join(near.select(col("doc_a")), Seq("doc_a"), "left_anti"))
  }

  /** The streaming INGEST LIFECYCLE, end to end: a document stream runs
    * through [[cleanIngestBatch]]'s drop chain against a GROWING band index
    * and lands, per micro-batch:
    *  - the kept docs, in their FULL schema, as hash-sharded training
    *    shards at `path` ([[graft.sources.Sinks.writeShardedBatchIdempotent]]);
    *  - the batch's dedup-drop pairs ([[ingestDropPairs]]) at `pairsPath`
    *    ([[graft.sources.Sinks.writeBatchIdempotent]]) — the arrival-time
    *    increment of q122's keep/drop provenance (the nightly q122 job
    *    remains the FAMILY-complete surface: it also pairs docs that
    *    arrived before the index existed);
    *  - the kept docs' band rows, appended to the index at `indexDir`
    *    ([[graft.operators.DedupQueries.appendToNearDupIndex]]), so batch
    *    N+1 near-dups against the base corpus AND every doc accepted in
    *    batches 0..N.
    * Each of the three writes is a batch-id-keyed dynamic overwrite of its
    * own partition.
    *
    * Replay discipline (the part that makes growth exactly-once-safe): the
    * per-batch probe reads the index EXCLUDING the current batch's own
    * partition — a crash between the shard landing and the index append
    * (or after both) re-runs the batch against the exact pre-append index
    * state, reproducing the same kept set and pairs, whose writes all
    * idempotently replace their own partitions (StreamingSpec restarts
    * from a checkpoint with the last commit removed). The filter is
    * partition pruning on the `batch_id` directory key, so exclusion costs
    * a listing, not a scan.
    *
    * Composition is foreachBatch-shaped on purpose: the drop chain needs
    * ANTI-joins against per-batch-derived id sets, which stream-stream
    * joins cannot express. State: none beyond the checkpointed offsets —
    * the probes are stream-static. */
  def ingestLifecycle(docs: DataFrame, benchGrams: DataFrame,
      indexDir: String, path: String, pairsPath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.Sinks.exactlyOnce(docs, checkpointDir) { (batch, batchId) =>
      val index = graft.operators.DedupQueries
        .readNearDupIndex(batch.sparkSession, indexDir)
        .filter(col("batch_id") =!= lit(batchId))
      // the batch is signed ONCE (the minhash loop is the CPU-dominant
      // stage) and the corpus-sized index probed ONCE: the cached frames
      // feed the drop chain, the pair surface and the index append.
      // persist(), not checkpoint: a per-micro-batch reliable checkpoint
      // on an unbounded stream is unbounded disk growth, and within one
      // foreachBatch invocation cached blocks (with lineage retained for
      // executor-loss recompute) are the right pin.
      val bands = graft.operators.DedupQueries.bandDocs(batch).persist()
      val probed = graft.operators.DedupQueries.probeBands(bands, index)
        .persist()
      val kept = cleanIngestBatch(batch, probed, benchGrams).persist()
      try {
        graft.sources.Sinks.writeShardedBatchIdempotent(kept, batchId, path)
        graft.sources.Sinks.writeBatchIdempotent(
          ingestDropPairs(batch, probed), batchId, pairsPath)
        graft.operators.DedupQueries.appendToNearDupIndex(
          bands.join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi"),
          indexDir, batchId)
      } finally { kept.unpersist(); probed.unpersist(); bands.unpersist() }
    }

  // ---- scored ingest (frozen classifier + LM per micro-batch) ----

  /** Per-batch SCORING stage of the ingest lifecycle (VERDICT r10 #2) — a
    * batch transform shared verbatim by [[scoredArrivals]]'s foreachBatch
    * and any nightly job, which is what makes the replay-equals-batch pin
    * possible: left-join the FROZEN q102 classifier verdict, q109
    * bigram-LM cross-entropy, and q115 DSIR importance weight onto every
    * arriving document (r12: all three learned gates serve at the edge).
    *
    * Model discipline: the weight table (≤ 4096 rows), LM censuses, and
    * dense DSIR term table (exactly 4096 rows) are STATIC frames trained
    * once on the standing corpus
    * ([[graft.operators.WebCurationQueries.classifierWeights]] /
    * [[graft.operators.TextQueries.bigramLmModel]] /
    * [[graft.operators.WebCurationQueries.dsirModel]]) — the stream side
    * is featurized per micro-batch and joined (weights + terms broadcast;
    * censuses by equi-join, auto-broadcast only when genuinely small). No
    * label column is read from arrivals. Docs the models cannot score
    * (null text; < 2 words/tokens) pass through with NULL score columns —
    * the gate policy belongs to the consumer (q88's flag comment), the
    * scorer only annotates. No state, no watermark: scoring is per-doc,
    * so exactly-once comes entirely from the idempotent sharded sink. */
  def scoreIngestBatch(batch: DataFrame, classifierWeights: DataFrame,
      lm: graft.operators.TextQueries.BigramLmModel,
      dsir: DataFrame): DataFrame =
    batch
      .join(
        graft.operators.WebCurationQueries
          .scoreWithClassifier(batch, classifierWeights)
          .select(col("doc_id"), col("score").as("qc_score"),
            col("keep").as("qc_keep")),
        Seq("doc_id"), "left")
      .join(
        graft.operators.TextQueries.scoreWithBigramLm(batch, lm)
          .select(col("doc_id"), col("n_bigrams").as("lm_bigrams"),
            col("oov_bigrams").as("lm_oov"), col("h_nats").as("lm_h_nats")),
        Seq("doc_id"), "left")
      .join(
        graft.operators.WebCurationQueries.scoreWithDsir(batch, dsir)
          .select(col("doc_id"), col("logw_nats").as("dsir_logw"),
            col("keep").as("dsir_keep")),
        Seq("doc_id"), "left")

  /** The scored STREAMING ingest: arriving documents annotated with the
    * frozen classifier + LM + DSIR scores ([[scoreIngestBatch]]) and
    * landed as hash-sharded training shards with the same exactly-once-
    * observable semantics as [[ingestLifecycle]] (a re-delivered batch
    * replaces exactly its own (shard, batch_id) partitions — unchanged;
    * scoring is a pure per-doc annotation, so replay reproduces identical
    * rows by construction, pinned in StreamingSpec). */
  def scoredArrivals(docs: DataFrame, classifierWeights: DataFrame,
      lm: graft.operators.TextQueries.BigramLmModel, dsir: DataFrame,
      path: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.Sinks.exactlyOnce(docs, checkpointDir) { (batch, batchId) =>
      graft.sources.Sinks.writeShardedBatchIdempotent(
        scoreIngestBatch(batch, classifierWeights, lm, dsir), batchId, path)
    }

  // ---- BPE-budgeted ingest (frozen tokenizer at the landing edge) ----

  /** Per-batch TOKEN-COUNT annotation with a FROZEN tokenizer (r12,
    * VERDICT r11 #8 — the last composition of the tokenizer lifecycle
    * into streaming): the merge artifact (built once by
    * buildBpeTokenizer / loaded by loadBpeMerges, ≤ rounds rows) is a
    * plan-time literal chain, so the batch side is PURE APPLY — the q104
    * collapse-first shape (chain per unique word, equi-join back), no
    * training job hides in any micro-batch. Docs the tokenizer cannot
    * count (null text, no normalized words) pass through with NULL
    * n_words/n_tokens — the scoreIngestBatch annotation discipline. */
  def tokenizeIngestBatch(batch: DataFrame,
      merges: Seq[graft.operators.TextQueries.BpeMerge]): DataFrame =
    batch.join(
      graft.operators.TextQueries
        .bpeTokenCountsWith(batch.filter(col("text").isNotNull), merges)
        .select(col("doc_id"), col("n_words"), col("n_tokens")),
      Seq("doc_id"), "left")

  /** The BPE-budgeted STREAMING ingest: arriving documents annotated with
    * frozen-tokenizer token counts ([[tokenizeIngestBatch]]) and landed as
    * hash-sharded training shards with the same exactly-once-observable
    * semantics as [[scoredArrivals]]. The packing MANIFEST is the
    * downstream half: a training job derives q108's (lang, shard, bin)
    * bins from the LANDED n_tokens via
    * graft.operators.TextQueries.packingFromCounts — bins depend on the
    * whole standing corpus, so they are a batch job over the landed
    * table, never per-micro-batch state; the stream's job is to make the
    * counts land exactly once (replay == batch, pinned in
    * StreamingSpec). */
  def tokenizedArrivals(docs: DataFrame,
      merges: Seq[graft.operators.TextQueries.BpeMerge], path: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.Sinks.exactlyOnce(docs, checkpointDir) { (batch, batchId) =>
      graft.sources.Sinks.writeShardedBatchIdempotent(
        tokenizeIngestBatch(batch, merges), batchId, path)
    }

  // ---- stateful pattern matching (flatMapGroupsWithState) ----

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(count: Long, sumValue: Double, lastTsMs: Long)

  final case class UserSession(user_id: Long, n_events: Long, sum_value: Double,
      closed_at_ms: Long)

  // ---- streaming temporal (as-of) join ----

  final case class Attribution(user_id: Long, purchase_id: Long, ts_ms: Long,
      last_click_id: Option[Long], gap_ms: Option[Long])

  final case class ClickState(click_id: Long, tsMs: Long)

  /** Streaming purchase->last-click attribution: the TEMPORAL JOIN — each
    * purchase joins the latest click at-or-before it for the same user
    * (Flink's temporal table join; the batch twins are q46/q47 in
    * graft.operators.AsOfQueries / graft.plans.AsOfJoin).
    *
    * State is ONE row per user (the newest click seen), not a buffered
    * stream side — the state-size win over the interval-join formulation,
    * which must buffer both sides across the join window. Within a batch,
    * events are processed in event-time order (clicks before purchases on
    * ties, matching the batch <= semantics); ACROSS batches semantics are
    * Flink-temporal: a purchase joins the newest click ALREADY ARRIVED —
    * a click arriving later than a purchase it precedes in event time
    * cannot retro-attribute. Replayed in event-time order (the equivalence
    * test), the result equals the batch as-of exactly. */
  def purchaseAttribution(events: Dataset[Ev]): Dataset[Attribution] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ClickState, Attribution](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, evs, state: GroupState[ClickState]) =>
          // event-time order; clicks first on an exact tie (<= semantics)
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_type != "click"))
          var cur = state.getOption
          val out = Vector.newBuilder[Attribution]
          sorted.foreach { e =>
            if (e.event_type == "click") {
              if (cur.forall(_.tsMs <= e.ts.getTime))
                cur = Some(ClickState(e.event_id, e.ts.getTime))
            } else {
              val t = e.ts.getTime
              out += Attribution(userId, e.event_id, t,
                cur.map(_.click_id), cur.map(c => t - c.tsMs))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  final case class FunnelState(vMs: Long, cMs: Long, pMs: Long) // -1 = unset
  final case class FunnelProgress(
      user_id: Long, v_ms: Long, c_ms: Long, p_ms: Long)

  private val FunnelRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)

  /** Streaming ordered funnel — the incremental twin of
    * [[graft.operators.AnalyticsQueries.q59Funnel]]: per-user state is just
    * three timestamps (first view, first click strictly after it, first
    * purchase strictly after that); a progress row is emitted whenever a
    * stage advances, so the LATEST row per user is the funnel position.
    * Within a batch, events apply in (event-time, stage) order — a view and
    * a click on the same timestamp resolve exactly like the batch query's
    * strict > comparisons. Same in-order-replay contract as
    * [[purchaseAttribution]]: replayed in event-time order the final states
    * equal the batch computation (StreamingSpec); state is O(1) per user
    * forever, the same reason the temporal join scales. */
  def funnel(events: Dataset[Ev]): Dataset[FunnelProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(e => FunnelRank.contains(e.event_type))
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, evs, state: GroupState[FunnelState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, FunnelRank(e.event_type)))
          val s0 = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          var (v, c, p) = (s0.vMs, s0.cMs, s0.pMs)
          sorted.foreach { e =>
            val t = e.ts.getTime
            e.event_type match {
              case "view"     => if (v < 0) v = t
              case "click"    => if (v >= 0 && t > v && c < 0) c = t
              case "purchase" => if (c >= 0 && t > c && p < 0) p = t
            }
          }
          if (v != s0.vMs || c != s0.cMs || p != s0.pMs) {
            state.update(FunnelState(v, c, p))
            Iterator.single(FunnelProgress(userId, v, c, p))
          } else Iterator.empty
      }
  }

  /** Custom sessionization: per-user event accumulation, session closed and
    * emitted when the event-time watermark passes last-event + gap (the
    * "Complex event pattern matching" class, estimation.html:239).
    * State per live user only — eviction is watermark-driven, so state is
    * bounded by (active users x gap window) at any scale. */
  def userSessions(events: Dataset[Ev], gapMs: Long = 5 * 60 * 1000): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(UserSession(userId, s.count, s.sumValue, s.lastTsMs + gapMs))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, Long.MinValue))
            // close the previous session if the gap already elapsed within the batch
            val (closed, open) = sorted.foldLeft(
              (Vector.empty[UserSession], prev)) { case ((out, s), e) =>
              val t = e.ts.getTime
              if (s.count > 0 && t - s.lastTsMs > gapMs)
                (out :+ UserSession(userId, s.count, s.sumValue, s.lastTsMs + gapMs),
                  SessionState(1L, e.value, t))
              else
                (out, SessionState(s.count + 1, s.sumValue + e.value, t))
            }
            state.update(open)
            state.setTimeoutTimestamp(open.lastTsMs + gapMs)
            closed.iterator
          }
      }
  }
}
