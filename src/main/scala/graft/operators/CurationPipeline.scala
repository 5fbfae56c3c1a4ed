package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Q52 — the flagship TRAINING-CORPUS CURATION PIPELINE: the catalog's
  * primitives composed into the actual job a 100 TB data-curation run
  * executes, end to end in ONE Spark plan:
  *
  *   1. exact dedup   — keep the smallest doc_id per md5(text) (q22's
  *                      census as a filter, via the shared skew-safe
  *                      [[DedupQueries.withCanonicalFlag]] census+rejoin —
  *                      the form that survives a boilerplate page
  *                      duplicated across half a web crawl);
  *   2. quality gate  — token count in [20, 400] and stopword ratio >= 0.05
  *                      (q29's metrics as predicates);
  *   3. stratified    — per-lang md5 hash-mod sampling (q50's primitive):
  *      downsampling    'en' (the over-represented stratum) kept at ~50%,
  *                      everything else at 100%;
  *   4. budget report — per (lang, source): surviving docs, token sum, and
  *                      each stage's cumulative drop counts, so the run is
  *                      auditable (silent data loss is the cardinal sin of
  *                      curation pipelines).
  *
  * Every stage is a narrow predicate or a single keyed aggregate — the
  * whole pipeline is 3 shuffles (family census, canonical rejoin, final
  * group; the census shuffle is map-side-collapsed so it's nearly free)
  * regardless of SF, and every decision is deterministic (md5, not RNG),
  * so a re-run or a per-partition retry reproduces the same corpus
  * byte-for-byte. */
object CurationPipeline {

  val MinTokens = 20
  val MaxTokens = 400
  val MinStopRatio = 0.05
  // THE q29 list (TextQueries) — the quality gate applies the same metric
  // it cites, from the same constant
  val Stopwords: Seq[String] = TextQueries.Stopwords

  def q52Curation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tokens")))
      .withColumn("stop_ratio",
        size(filter(col("tokens"), t => t.isInCollection(Stopwords)))
          .cast("double") / col("n_tokens"))

    // stage 1: exact dedup — canonical representative per content hash,
    // through the shared skew-safe form (VERDICT r6 #1)
    val deduped = DedupQueries.withCanonicalFlag(docs)

    // stage 2: quality predicates
    val qualified = col("is_canonical") &&
      col("n_tokens").between(MinTokens, MaxTokens) &&
      col("stop_ratio") >= MinStopRatio

    // stage 3: deterministic per-stratum downsampling ('en' at ~50%)
    val sampled = qualified && (col("lang") =!= "en" ||
      substring(md5(concat_ws("|", col("doc_id"), col("lang"))), 1, 1) < "8")

    deduped
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_raw"),
        count(when(col("is_canonical"), 1)).as("n_unique"),
        count(when(qualified, 1)).as("n_quality"),
        count(when(sampled, 1)).as("n_kept"),
        coalesce(sum(when(sampled, col("n_tokens"))), lit(0L)).cast("long")
          .as("tokens_kept"))
      .orderBy(col("lang").asc, col("source").asc)
  }

  /** q75 thresholds: a doc is dropped when >= 50% of its distinct 3-grams
    * hit the benchmark set (contamination), >= 20% of its 2-grams are
    * repeats (q67's bar), or its mean word rarity exceeds 40000 milli
    * (the rare-token junk tail — p95-p99 of the corpus distribution). */
  val MaxHitPermille = 500L
  val MaxRarityMilli = 40000L

  /** Q75 — CURATION PIPELINE v2: the r5 signal family composed into the
    * full drop-chain a production pre-training run executes, with a
    * per-stage audit (the q52 discipline — every drop is counted, silent
    * data loss is the cardinal sin):
    *
    *   0. corpus split   — the held-out benchmark docs (doc_id % 10 == 7)
    *                       are the EVAL set: excluded from the corpus AND
    *                       the source of the contamination gram set;
    *   1. exact dedup    — canonical doc per md5(text) (the shared
    *                       skew-safe census+rejoin, [[DedupQueries
    *                       .withCanonicalFlag]]);
    *   2. decontamination— drop docs sharing >= [[MaxHitPermille]] of
    *                       their distinct 3-grams with the benchmark
    *                       (q66's probe as a filter; benchmark grams
    *                       BROADCAST — eval suites stay MBs at any scale);
    *   3. repetition     — drop docs >= 20% duplicate 2-grams (q67's
    *                       signal as a pure projection — no shuffle);
    *   4. rarity         — drop the rare-word junk tail (q72's corpus-
    *                       frequency score: tf collapse, vocab census,
    *                       big-big join on word, 1-row token count
    *                       broadcast);
    *   5. audit          — per-lang counts after each stage + surviving
    *                       token volume.
    *
    * Stage costs at 100 TB: the canonical census and the gram/tf/vocab
    * aggregates shuffle on uniform keys (content hash / doc_id / word with
    * the tf collapse capping Zipf skew — and the census collapses hot
    * families map-side before its shuffle); the contamination probe is
    * map-side;
    * the per-doc signal tables re-join the corpus on doc_id. The gram
    * stream feeds three consumers and is deliberately NOT materialized:
    * the native word_ngrams kernel re-rides the scan for pennies, while
    * checkpointing a token-scale exploded stream would write a
    * corpus-sized intermediate (the opposite trade from the minhash
    * signature table, whose per-element md5 loop is the expensive part).
    * The collapsed tf frame IS materialized inside rarityScores.
    * Everything is deterministic — a retry reproduces the same corpus
    * byte for byte. */
  def q75CurationV2(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).filter(col("text").isNotNull)
    curationV2(
      base.filter(
        col("doc_id") % TextQueries.DecontamMod =!= TextQueries.DecontamRes),
      base.filter(
        col("doc_id") % TextQueries.DecontamMod === TextQueries.DecontamRes))
  }

  /** The drop-chain against an EXTERNAL benchmark frame — the production
    * form: `benchmark` is any frame with a `text` column (an eval-suite
    * parquet), `corpus` the documents to curate. [[q75CurationV2]] pins the
    * oracle by carving the benchmark from the corpus split (doc_id % 10 ==
    * 7) and routing here, so the pinned and external forms share one body
    * (VERDICT r5 next-round #5). */
  def curationV2(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    // null-text rows are not documents: dropped up front so every signal
    // column stays three-valued-logic-free (WordNGrams(NULL) is NULL, and
    // a NULL `repetitive` would silently leak docs out of n_clean while
    // still counting them in n_decontam — poisoning the per-stage audit)
    val docs = corpus.filter(col("text").isNotNull)
    // stage 2 signal: contamination permille vs the broadcast benchmark set
    val contam = TextQueries.contaminationCounts(docs, benchmark)
      .select(col("doc_id"),
        (col("n_hits") * 1000L >=
          col("n_grams") * MaxHitPermille).as("contaminated"))

    // stage 4 signal: mean inverse-corpus-frequency rarity — THE q72 score
    // (shared helper, so score and filter cannot drift), stats drawn from
    // the training corpus, not the eval split
    val rarity = TextQueries.rarityScores(docs)
      .select(col("doc_id"), (col("rarity_milli") >= MaxRarityMilli).as("too_rare"))

    // stages 1 + 3: shared skew-safe canonical selection (VERDICT r6 #1)
    // + repetition projection
    val g2 = graft.functions.WordNGrams(col("text"), 2)
    val flagged = DedupQueries.withCanonicalFlag(docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long")))
      .withColumn("repetitive",
        when(size(g2) === 0, lit(false)).otherwise(
          (size(g2) - size(array_distinct(g2))).cast("long") * 1000L >=
            size(g2).cast("long") * TextQueries.RepetitivePermille))
      .join(contam, Seq("doc_id"), "left")   // <3-token docs have no grams
      .join(rarity, Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      .withColumn("too_rare", coalesce(col("too_rare"), lit(false)))

    val decontamOk = col("is_canonical") && !col("contaminated")
    val cleanOk = decontamOk && !col("repetitive")
    val keptOk = cleanOk && !col("too_rare")
    flagged
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_corpus"),
        count(when(col("is_canonical"), 1)).as("n_unique"),
        count(when(decontamOk, 1)).as("n_decontam"),
        count(when(cleanOk, 1)).as("n_clean"),
        count(when(keptOk, 1)).as("n_kept"),
        coalesce(sum(when(keptOk, col("n_tokens"))), lit(0L)).cast("long")
          .as("tokens_kept"))
      .orderBy(col("lang").asc)
  }

  /** Q78 — the composed INGEST drop chain as a batch catalog entry: the
    * per-arrival decision surface of the streaming lifecycle
    * ([[graft.streaming.StreamingOps.ingestLifecycle]]), pinned to the
    * DuckDB oracle. Splits the documents table the way the standing
    * deployments do — arrivals = doc_id % [[DedupQueries.IncrMod]] ==
    * [[DedupQueries.IncrRes]] (q74's ingest split), standing corpus = the
    * rest, benchmark = the q66/q75 eval split — and reports, per arrival:
    * `contaminated` (shares a 3-gram with the benchmark), `near_dup`
    * (LSH-collides with the standing corpus' band index), `batch_dup`
    * (exact copy of a lower-id arrival in the SAME batch — the backlog
    * blind spot the index probe can't see), and `kept`,
    * where kept is the conjunction of the three verdicts — exactly the
    * drop chain's survival predicate
    * ([[graft.streaming.StreamingOps.cleanIngestBatch]] drops iff ANY
    * verdict fires; StreamingSpec pins
    * column-derived kept == the real chain's survivor set row-for-row, so
    * the production path stays checked without running it twice).
    *
    * Scale shape: per-batch arrival side small; the corpus-side band index
    * is the q74 incremental probe (built once, probed ONCE per batch —
    * never a corpus self-join); the benchmark grams broadcast. Each
    * verdict's subplan runs once and lands as a column in one pass over
    * the arrival ids (VERDICT r15 #4): the entry does not run
    * cleanIngestBatch's probes a second time just to produce `kept`. */
  def q78IngestClean(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val arrivals = docs.filter(
      col("doc_id") % DedupQueries.IncrMod === DedupQueries.IncrRes)
    val corpus = docs.filter(
      col("doc_id") % DedupQueries.IncrMod =!= DedupQueries.IncrRes)
    val benchGrams = TextQueries.benchmarkGrams(docs.filter(
      col("doc_id") % TextQueries.DecontamMod === TextQueries.DecontamRes))
    val index = DedupQueries.bandDocs(corpus)
    val contam = graft.streaming.StreamingOps
      .contaminatedDocs(arrivals, benchGrams)
      .withColumn("contaminated", lit(true))
    val dup = graft.streaming.StreamingOps.nearDupArrivals(arrivals, index)
      .select(col("new_doc").as("doc_id")).distinct()
      .withColumn("near_dup", lit(true))
    // null-text arrivals exempt, mirroring cleanIngestBatch —
    // distinct metadata-only docs are not copies of one page
    val batchDup = DedupQueries.withCanonicalFlag(
        arrivals.filter(col("text").isNotNull))
      .filter(!col("is_canonical"))
      .select(col("doc_id")).withColumn("batch_dup", lit(true))
    arrivals.select(col("doc_id"))
      .join(contam, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .join(batchDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"),
        coalesce(col("batch_dup"), lit(false)).as("batch_dup"),
        (!coalesce(col("contaminated"), lit(false)) &&
          !coalesce(col("near_dup"), lit(false)) &&
          !coalesce(col("batch_dup"), lit(false))).as("kept"))
      .orderBy(col("doc_id").asc)
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q52_curation_pipeline" -> (q52Curation _),
    "q75_curation_v2" -> (q75CurationV2 _),
    "q78_ingest_clean" -> (q78IngestClean _),
  )

  private val stopSqlList = Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  val oracle: Map[String, String] = Map(
    "q78_ingest_clean" -> DedupQueries.minhashOracle(
      s"""g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
         |    i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS gram
         |  FROM w WHERE len(w) >= 3),
         |bench AS (SELECT DISTINCT gram FROM g
         |  WHERE doc_id % ${TextQueries.DecontamMod} = ${TextQueries.DecontamRes}),
         |contam AS (SELECT DISTINCT doc_id FROM g
         |  WHERE doc_id % ${DedupQueries.IncrMod} = ${DedupQueries.IncrRes}
         |    AND gram IN (SELECT gram FROM bench)),
         |dup AS (SELECT DISTINCT doc_a AS doc_id FROM pairs),
         |arr AS (SELECT doc_id FROM documents
         |  WHERE doc_id % ${DedupQueries.IncrMod} = ${DedupQueries.IncrRes}),
         |bd AS (SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (
         |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents
         |    WHERE doc_id % ${DedupQueries.IncrMod} = ${DedupQueries.IncrRes}
         |      AND text IS NOT NULL)
         |  WHERE rn > 1)
         |SELECT a.doc_id,
         |  COALESCE(c.y, false) AS contaminated,
         |  COALESCE(d.y, false) AS near_dup,
         |  COALESCE(b.y, false) AS batch_dup,
         |  (NOT COALESCE(c.y, false) AND NOT COALESCE(d.y, false)
         |    AND NOT COALESCE(b.y, false)) AS kept
         |FROM arr a
         |LEFT JOIN (SELECT doc_id, true AS y FROM contam) c USING (doc_id)
         |LEFT JOIN (SELECT doc_id, true AS y FROM dup) d USING (doc_id)
         |LEFT JOIN (SELECT doc_id, true AS y FROM bd) b USING (doc_id)
         |ORDER BY a.doc_id NULLS FIRST""".stripMargin,
      extraCtes = true,
      pairsPredicate =
        s"a.doc_id % ${DedupQueries.IncrMod} = ${DedupQueries.IncrRes} AND " +
          s"b.doc_id % ${DedupQueries.IncrMod} <> ${DedupQueries.IncrRes}"),
    "q75_curation_v2" -> {
      val mod = TextQueries.DecontamMod
      val res = TextQueries.DecontamRes
      s"""WITH base AS (SELECT * FROM documents WHERE text IS NOT NULL),
         |corpus AS (SELECT * FROM base WHERE doc_id % $mod <> $res),
         |t3 AS (SELECT doc_id, string_split(text, ' ') AS w FROM base
         |  WHERE len(string_split(text, ' ')) >= 3),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
         |    i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS gram FROM t3),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % $mod = $res),
         |train AS (SELECT doc_id, gram FROM g WHERE doc_id % $mod <> $res),
         |tot3 AS (SELECT doc_id, COUNT(*) AS n_grams3 FROM train GROUP BY 1),
         |hits AS (SELECT t.doc_id, COUNT(*) AS n_hits
         |  FROM train t JOIN bench b USING (gram) GROUP BY 1),
         |contam AS (SELECT t.doc_id,
         |    COALESCE(h.n_hits, 0) * 1000 >= t.n_grams3 * $MaxHitPermille AS contaminated
         |  FROM tot3 t LEFT JOIN hits h USING (doc_id)),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus),
         |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |vocab AS (SELECT word, SUM(tf) AS cf FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS corpus_tokens FROM toks),
         |rar AS (SELECT doc_id,
         |    SUM(tf * least(n.corpus_tokens * 1000 // cf, ${TextQueries.RarityCap}))
         |      // SUM(tf) >= $MaxRarityMilli AS too_rare
         |  FROM tf JOIN vocab USING (word), n GROUP BY doc_id),
         |d AS (SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS is_canonical,
         |    CASE WHEN len(string_split(text, ' ')) >= 2 THEN
         |      (len(string_split(text, ' ')) - 1 -
         |       len(list_distinct(list_transform(range(1, len(string_split(text, ' '))),
         |         i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' '))))) * 1000
         |      >= (len(string_split(text, ' ')) - 1) * ${TextQueries.RepetitivePermille}
         |    ELSE false END AS repetitive
         |  FROM corpus),
         |j AS (SELECT d.*, COALESCE(c.contaminated, false) AS contaminated,
         |    COALESCE(r.too_rare, false) AS too_rare
         |  FROM d LEFT JOIN contam c USING (doc_id) LEFT JOIN rar r USING (doc_id))
         |SELECT lang, COUNT(*) AS n_corpus,
         |  COUNT(CASE WHEN is_canonical THEN 1 END) AS n_unique,
         |  COUNT(CASE WHEN is_canonical AND NOT contaminated THEN 1 END) AS n_decontam,
         |  COUNT(CASE WHEN is_canonical AND NOT contaminated AND NOT repetitive
         |    THEN 1 END) AS n_clean,
         |  COUNT(CASE WHEN is_canonical AND NOT contaminated AND NOT repetitive
         |    AND NOT too_rare THEN 1 END) AS n_kept,
         |  CAST(COALESCE(SUM(CASE WHEN is_canonical AND NOT contaminated
         |    AND NOT repetitive AND NOT too_rare THEN n_tokens END), 0) AS BIGINT)
         |    AS tokens_kept
         |FROM j GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin
    },
    "q52_curation_pipeline" ->
      s"""WITH t AS (SELECT doc_id, lang, source, text,
         |    string_split(text, ' ') AS tokens,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x IN $stopSqlList)) AS DOUBLE)
         |      / len(string_split(text, ' ')) AS stop_ratio,
         |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM documents),
         |f AS (SELECT *,
         |    (rn = 1) AS is_canonical,
         |    (rn = 1 AND n_tokens BETWEEN $MinTokens AND $MaxTokens
         |       AND stop_ratio >= $MinStopRatio) AS qualified
         |  FROM t),
         |s AS (SELECT *,
         |    (qualified AND (lang <> 'en' OR
         |       substr(md5(concat_ws('|', doc_id, lang)), 1, 1) < '8')) AS sampled
         |  FROM f)
         |SELECT lang, source, COUNT(*) AS n_raw,
         |  COUNT(CASE WHEN is_canonical THEN 1 END) AS n_unique,
         |  COUNT(CASE WHEN qualified THEN 1 END) AS n_quality,
         |  COUNT(CASE WHEN sampled THEN 1 END) AS n_kept,
         |  CAST(COALESCE(SUM(CASE WHEN sampled THEN n_tokens END), 0) AS BIGINT) AS tokens_kept
         |FROM s GROUP BY lang, source
         |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,
  )
}
