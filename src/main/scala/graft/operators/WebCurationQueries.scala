package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web-corpus curation operators — the PII / URL / heuristic-quality layer
  * a crawl-derived training pipeline runs between ingest and dedup
  * (C4's and RefinedWeb's curation recipes; Gopher's rule-based quality
  * filter, Rae et al. 2021 §A1.1). Beyond-reference LLM-pipeline rows in
  * the SURVEY §2.C sense, like [[DedupQueries]]/[[TextQueries]].
  *
  * The synthetic `documents` corpus is word-salad with no PII or URLs, so —
  * exactly like q38's deterministic fake media encoder
  * ([[graft.multimodal.MultimodalOps.mediaFromDocumentsReal]]) — each
  * operator first ENRICHES the text with tokens that are a pure function of
  * `doc_id`, then runs the real detection machinery on the result. The
  * DuckDB oracle recomputes the same enrichment, so detection, counting,
  * redaction, and capping are value-checked end-to-end, not vacuously
  * zero. The regex layer is deliberately Java-regex ∩ RE2 (no lookaround,
  * no backreferences): the same pattern strings drive both engines.
  *
  * Scale shape: q84/q87 are narrow codegen'd projections that ride the
  * scan (zero shuffles before the deterministic output sort); q85 is one
  * map-side-partial aggregation over domain (cardinality = |domains|, tiny
  * vs the corpus); q86's per-key cap is one groupBy with a bounded-buffer
  * top-K partial aggregate — every buffer holds ≤ K ids in reduce AND
  * merge, so a hot domain (the classic crawl skew: one CDN hosting half
  * the corpus) shuffles O(partitions × K) rows, never O(occurrences).
  * None of these collects to the driver.
  */
object WebCurationQueries {
  import AsciiFold.{Lower, Upper}

  // ---- detection patterns (Java ∩ RE2; single-quoted-safe for DuckDB) ----
  // Deliberately conservative, boundary-free patterns: no lookaround (RE2
  // lacks it) and no \b (Java's is unicode-word-aware, RE2's ASCII-only —
  // a silent cross-engine divergence on non-ASCII corpora). The trade is
  // documented at [[scrubText]]: a digit run longer than a field can be
  // partially matched. A deployment extends the set via the scrubText
  // overload rather than editing these oracle-pinned constants.
  private[operators] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // general +1 NANP number first, then the corpus' fictional +1-555-XXXX
  // test exchange (leftmost-FIRST alternation in both engines, so the
  // general form wins where both could start)
  private[operators] val PhoneRe =
    "\\+1[-. ]?(\\([0-9]{3}\\)|[0-9]{3})[-. ][0-9]{3}[-. ][0-9]{4}|\\+1-555-[0-9]{4}"
  private[operators] val IpRe    = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private[operators] val SsnRe   = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /** The default scrub pattern set, in replacement order. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    EmailRe -> "[EMAIL]", PhoneRe -> "[PHONE]", IpRe -> "[IP]", SsnRe -> "[SSN]")
  private[operators] val UrlRe   = "https?://[A-Za-z0-9.-]+[A-Za-z0-9/._-]*"
  private[operators] val DomainRe = "https?://([A-Za-z0-9.-]+)"

  /** Blocklisted domains for q85 (a literal stand-in for the broadcast
    * blocklist a real pipeline ships — e.g. the C4 badwords domain list). */
  private[operators] val Blocklist = Seq("cdn0.example.net", "cdn1.example.net")
  private def blockSqlList = Blocklist.map(d => s"'$d'").mkString("(", ", ", ")")

  /** Per-domain cap for q86 (RefinedWeb-style "no domain dominates"). */
  private[operators] val DomainCap = 5

  // q87/q88 quality thresholds — single-sourced: the Spark rules, the
  // qualityKeep conjunction, AND the oracle SQL all interpolate these
  // (re-tuning one side cannot silently desynchronize the others).
  private[operators] val QWordMin  = 20  // word-count band
  private[operators] val QWordMax  = 80
  private[operators] val QLenLo    = 4   // mean-word-length band, integer-compared
  private[operators] val QLenHi    = 5
  private[operators] val QShortDen = 10  // short-word ratio <= 1/QShortDen
  private[operators] val QStopMin  = 2   // distinct stopwords required

  // ---- deterministic enrichment (the q38 pattern) ----

  private def sid(c: Column): Column = c.cast("string")

  /** PII enrichment: doc_id-derived email / phone / IPv4 / SSN tokens
    * appended on divisibility strata (3/4/5/6), so ~63% of docs carry at
    * least one PII hit and every detector sees both positives and
    * negatives. Pure function of doc_id — the oracle rebuilds it in SQL. */
  private[operators] def withPiiText: Column = concat(col("text"), piiSuffix)

  /** The appended PII strata alone (composable — q88 stacks them with the
    * URL strata over one base text). */
  private[operators] def piiSuffix: Column =
    concat(
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), sid(col("doc_id")), lit("@ex"),
          sid(col("doc_id") % 7), lit(".com now"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" call +1-555-"), lpad(sid(col("doc_id") % 10000), 4, "0"),
          lit(" today"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" host 10."), sid(col("doc_id") % 256), lit("."),
          sid(col("doc_id") % 199), lit("."), sid(col("doc_id") % 97),
          lit(" up"))).otherwise(lit("")),
      when(col("doc_id") % 6 === 0,
        concat(lit(" ssn "), lpad(sid(col("doc_id") % 1000), 3, "0"), lit("-"),
          lpad(sid(col("doc_id") % 100), 2, "0"), lit("-"),
          lpad(sid(col("doc_id") % 10000), 4, "0"), lit(" id"))).otherwise(lit("")))

  /** URL enrichment: an https URL on one of 23 example.org subdomains for
    * even doc_ids, plus an http mirror on one of 5 cdn*.example.net hosts
    * for doc_id % 6 == 0 — 28 domains total, the cdn hosts ~50% hotter,
    * two of them blocklisted. */
  private[operators] def withUrlText: Column = concat(col("text"), urlSuffix)

  /** The appended URL strata alone (see [[piiSuffix]]). */
  private[operators] def urlSuffix: Column =
    concat(
      when(col("doc_id") % 2 === 0,
        concat(lit(" see https://s"), sid(col("doc_id") % 23),
          lit(".example.org/p/"), sid(col("doc_id")), lit(" ref"))).otherwise(lit("")),
      when(col("doc_id") % 6 === 0,
        concat(lit(" mirror http://cdn"), sid(col("doc_id") % 5),
          lit(".example.net/x/"), sid(col("doc_id") % 11), lit(" end"))).otherwise(lit("")))

  // concat(), not SQL `||`: these fragments are interpolated into outer
  // stripMargin templates, and stripMargin-after-interpolation would eat
  // one pipe of a line-leading `||`.
  private def piiCasesSql: String =
    """CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@ex', CAST(doc_id % 7 AS VARCHAR), '.com now') ELSE '' END,
      |  CASE WHEN doc_id % 4 = 0 THEN concat(' call +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' today') ELSE '' END,
      |  CASE WHEN doc_id % 5 = 0 THEN concat(' host 10.', CAST(doc_id % 256 AS VARCHAR), '.', CAST(doc_id % 199 AS VARCHAR), '.', CAST(doc_id % 97 AS VARCHAR), ' up') ELSE '' END,
      |  CASE WHEN doc_id % 6 = 0 THEN concat(' ssn ', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-', lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'), '-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' id') ELSE '' END""".stripMargin

  private def urlCasesSql: String =
    """CASE WHEN doc_id % 2 = 0 THEN concat(' see https://s', CAST(doc_id % 23 AS VARCHAR), '.example.org/p/', CAST(doc_id AS VARCHAR), ' ref') ELSE '' END,
      |  CASE WHEN doc_id % 6 = 0 THEN concat(' mirror http://cdn', CAST(doc_id % 5 AS VARCHAR), '.example.net/x/', CAST(doc_id % 11 AS VARCHAR), ' end') ELSE '' END""".stripMargin

  private def piiEnrichSql: String =
    s"""SELECT doc_id, concat(text,
       |  $piiCasesSql
       |  ) AS etext
       |FROM documents WHERE text IS NOT NULL""".stripMargin

  private def urlEnrichSql: String =
    s"""SELECT doc_id, concat(text,
       |  $urlCasesSql
       |  ) AS etext
       |FROM documents WHERE text IS NOT NULL""".stripMargin

  /** q88's enrichment: BOTH strata families over one base text (PII tokens
    * never collide with the URL regexes and vice versa — no '@' in URLs,
    * no scheme prefix on PII). */
  private def webEnrichSql: String =
    s"""SELECT doc_id, source, text, concat(text,
       |  $piiCasesSql,
       |  $urlCasesSql
       |  ) AS etext
       |FROM documents WHERE text IS NOT NULL""".stripMargin

  // ---- Q84: PII detection + redaction ----

  /** Q84 — per-document PII census and redaction: count emails / NANP test
    * phone numbers / IPv4 literals / SSN-shaped ids, and emit the text with
    * every hit replaced by a typed placeholder. One codegen'd projection
    * (regexp_extract_all + chained regexp_replace), no shuffle before the
    * output sort — at 100 TB this is scan-bound, exactly like q29. The
    * replacement order (email→phone→ip→ssn) is part of the contract; the
    * four patterns are mutually non-overlapping by construction. */
  def q84PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    // r16: sort BELOW the regex projection. A global orderBy over a
    // map-only child executes that child TWICE — the range partitioner's
    // sampling pass evaluates the full projection, then the shuffle write
    // evaluates it again (guide §7.2: duplicated subtrees) — so the 8-regex
    // redaction ran twice per query. Sorting the (doc_id, etext) rows first
    // (sampling then touches only the cheap enrichment concat) and
    // projecting the regexes AFTER the sort evaluates them once; a
    // projection preserves per-partition order, doc_id is unique, so rows
    // and order are identical. piiRedact keeps the unsorted contract for
    // its other consumers.
    // The partition count is PINNED (repartitionByRange(defaultParallelism)
    // + sortWithinPartitions == orderBy's physical plan with an explicit
    // width): a plain orderBy lets AQE coalesce the range shuffle to ~one
    // 64 MB partition, which then runs the heavy projection on 1–2 cores —
    // measured at sf1.0 as a 1.9× REGRESSION before the pin (q84 1.6 →
    // 3.9 s) while sf0.1's single-task scan hid it. defaultParallelism
    // scales with the cluster, so the pin is scale-adaptive, not a local
    // constant (the q33/q63 shard discipline). Applies to every §1.7
    // sort-below-projection entry (q29/q31/q67/q84/q87/q90/q105).
    val docs = Tables.documents(spark, dir)
    piiCensusProjection(docs.filter(col("text").isNotNull)
      .select(col("doc_id"), withPiiText.as("etext"))
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("doc_id").asc)
      .sortWithinPartitions(col("doc_id").asc))
  }

  /** The PII census + scrub projection over a pre-arranged (doc_id, etext)
    * frame — ONE body shared by [[q84PiiRedact]] (which sorts below it) and
    * [[piiRedact]] (unsorted contract), so the catalog entry and the
    * spec-tested helper cannot drift (ADVICE r16). */
  private def piiCensusProjection(e: DataFrame): DataFrame = {
    def n(re: String) = size(regexp_extract_all(col("etext"), lit(re), lit(0))).cast("long")
    e.select(
      col("doc_id"),
      n(EmailRe).as("n_email"),
      n(PhoneRe).as("n_phone"),
      n(IpRe).as("n_ip"),
      n(SsnRe).as("n_ssn"),
      scrubText(col("etext")).as("redacted"))
  }

  /** The redaction chain over any string column (no enrichment; null in →
    * null out). Replacement order email→phone→ip→ssn is part of the
    * contract. The default [[PiiPatterns]] are a conservative, boundary-
    * free baseline (emails, +1 NANP phones, dotted-quad IPs, SSN-shaped
    * ids) — NOT an exhaustive PII taxonomy: international phone formats,
    * bare 10-digit numbers, and IDs embedded in longer digit runs pass
    * through or are partially matched. A deployment supplies its vetted
    * pattern set via the overload; the defaults are what the q84/q88
    * oracles pin. */
  def scrubText(c: Column): Column = scrubText(c, PiiPatterns)

  /** [[scrubText]] with an explicit (pattern → placeholder) chain,
    * applied in order. */
  def scrubText(c: Column, patterns: Seq[(String, String)]): Column =
    patterns.foldLeft(c) { case (acc, (re, tag)) => regexp_replace(acc, re, tag) }

  /** Production entry: scrub the `text` column of any document frame in
    * place. A pure projection — streaming-safe with no state or watermark,
    * so the same call scrubs an arriving document stream (StreamingSpec
    * pins replay == batch). */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.withColumn("text", scrubText(col("text")))

  /** The census+redaction over any document frame (split out for reuse and
    * constructed-corpus specs). */
  private[graft] def piiRedact(docs: DataFrame): DataFrame =
    piiCensusProjection(docs.filter(col("text").isNotNull)
      .select(col("doc_id"), withPiiText.as("etext")))

  // ---- Q85: URL extraction + domain census ----

  /** Q85 — URL extraction and per-domain census: explode every URL out of
    * the text, reduce to (domain → url count, doc reach, https share,
    * blocklist flag). The only shuffle is the final groupBy(domain) with
    * map-side partials, output cardinality = |domains| — at crawl scale the
    * census is the cheap side that then drives blocklist joins and the q86
    * cap. Domain keys are hashed uniformly by the shuffle; a hot domain
    * collapses in the partial aggregation, not on one reducer. */
  def q85DomainCensus(spark: SparkSession, dir: String): DataFrame = {
    val urls = docUrls(Tables.documents(spark, dir))
    urls.groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(when(col("url").startsWith("https://"), 1L).otherwise(0L)).as("n_https"))
      .withColumn("blocklisted", col("domain").isin(Blocklist: _*))
      .orderBy(col("domain").asc)
  }

  /** (doc_id, url, domain) stream — shared by q85/q86. */
  private[graft] def docUrls(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), withUrlText.as("etext"))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("etext"), lit(UrlRe), lit(0))).as("url"))
      .withColumn("domain", regexp_extract(col("url"), DomainRe, 1))

  // ---- Q86: per-domain document cap (skew-safe exact top-K per key) ----

  /** Q86 — per-domain cap: keep the [[DomainCap]] lowest doc_ids per domain
    * (the deterministic stand-in for "at most K pages per domain"). NOT a
    * window row_number — partitionBy(domain) serializes each domain onto
    * one task, which is exactly wrong for crawl skew. Instead ONE
    * groupBy(domain) with [[graft.functions.LowestKAggregator]], a typed
    * partial aggregate whose buffer is bounded at K longs in `reduce` AND
    * `merge` — so the map-side partial on every executor collapses a hot
    * domain to K ids before the shuffle, exactly like a `sum`. A domain
    * with 10^9 pages moves ≤ partitions×K longs across the wire and never
    * holds more than K in any buffer. The aggregator is distinct-valued,
    * so no upstream `.distinct()` (and no salting) is needed — the r8
    * two-phase salted `collect_list → slice` form held N_domain/16 ids in
    * the final merge buffer of each (domain, salt) group (VERDICT r8 #1);
    * this one is bounded by construction. Output stays row-identical to
    * the window formulation (the oracle). */
  def q86DomainCap(spark: SparkSession, dir: String): DataFrame =
    domainCap(docUrls(Tables.documents(spark, dir)), DomainCap)
      .orderBy(col("domain").asc, col("rank").asc)

  private[graft] def domainCap(urls: DataFrame, k: Int): DataFrame =
    urls.select(col("doc_id"), col("domain"))
      .groupBy(col("domain"))
      .agg(graft.functions.LowestKAggregator.column(k)(col("doc_id")).as("top"))
      .select(col("domain"), posexplode(col("top")).as(Seq("pos", "doc_id")))
      .select(col("domain"), (col("pos") + 1).cast("int").as("rank"), col("doc_id"))

  // ---- Q87: Gopher-style rule-based quality filter ----

  /** Q87 — heuristic quality gate in the Gopher style (Rae et al. 2021
    * §A1.1, re-parameterized for the synthetic corpus): word-count bounds,
    * mean-word-length band, short-word-ratio cap, and a ≥2-distinct-
    * stopwords requirement; `keep` is their conjunction. Every rule is
    * decided in INTEGER arithmetic (sum_len×1 vs 4×n_words etc.) so the
    * booleans cannot drift across engines at float boundaries; the reported
    * ratios are exact-integer IEEE divisions, deterministic on both sides.
    * Same scan-bound shape as q29/q84. */
  def q87QualityRules(spark: SparkSession, dir: String): DataFrame =
    // r16: sort below the projection (the q84 ruling — a global orderBy
    // over a map-only child evaluates the child twice, once for range
    // sampling and once for the shuffle; sorting the raw (doc_id, text)
    // rows first runs the word-split/rule projection ONCE, after the
    // sort). doc_id is unique, a projection preserves order — rows and
    // order identical; qualityRules keeps the unsorted contract.
    qualityRules(Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("doc_id").asc)
      .sortWithinPartitions(col("doc_id").asc))

  private[graft] def qualityRules(docs: DataFrame): DataFrame = {
    docs.filter(col("text").isNotNull)
      .withColumn("w", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        expr("aggregate(w, 0L, (acc, x) -> acc + length(x))").as("sum_len"),
        size(expr("filter(w, x -> length(x) <= 2)")).cast("long").as("n_short"),
        size(array_distinct(expr(s"filter(w, x -> array_contains(${TextQueries.stopArray}, x))")))
          .cast("long").as("n_stop"))
      .select(
        col("doc_id"),
        col("n_words"),
        (col("sum_len").cast("double") / col("n_words")).as("mean_word_len"),
        (col("n_short").cast("double") / col("n_words")).as("short_ratio"),
        col("n_stop").as("n_stop_distinct"),
        (col("n_words") >= QWordMin && col("n_words") <= QWordMax).as("r_wordcount"),
        (col("sum_len") >= col("n_words") * QLenLo && col("sum_len") <= col("n_words") * QLenHi)
          .as("r_meanlen"),
        (col("n_short") * QShortDen <= col("n_words")).as("r_short"),
        (col("n_stop") >= QStopMin).as("r_stopwords"))
      .withColumn("keep",
        col("r_wordcount") && col("r_meanlen") && col("r_short") && col("r_stopwords"))
  }

  // ---- Q88: the composed web-curation drop chain ----

  /** Q88 — the web layer composed into one per-source drop chain with a
    * per-stage audit (the q52/q75/q78 composition discipline applied to
    * q84–q87): over the doubly-enriched text,
    *   1. PII scrub — redact, never drop (`n_pii_docs` audits how many
    *      docs carried any hit);
    *   2. quality gate — q87's integer-decided rules on the RAW text
    *      (stage independence: redaction must not change a doc's fate);
    *   3. domain cap — a doc competes for a cap slot of its FIRST URL's
    *      domain (its "source domain"); docs with no URL are uncapped.
    *      Same bounded-buffer top-K aggregate as q86 — no per-domain window;
    *   4. audit — per `source`: docs seen, PII carriers, quality
    *      survivors, cap evictions, kept docs, kept token volume
    *      (whitespace tokens of the SCRUBBED text — each PII token
    *      redacts to exactly one placeholder, so token counts are stable
    *      through stage 1).
    * Stage costs at 100 TB: stages 1–2 ride the scan (one codegen'd
    * projection); stage 3 shuffles ≤ partitions×K rows per domain plus one
    * broadcast-sized join back (|domains|×K rows — stage 3's shuffle moves
    * ≤ partitions×K ids per domain, buffers capped at K); stage 4 is one
    * map-side-partial groupBy at |sources| cardinality.
    *
    * sf1.0 floor ruling (r15, benched alone min-of-3): 1.95 s vs DuckDB
    * 0.21 s. The plan is two scans (rule projection + cap side) with the
    * cap side ending in the bounded ObjectHashAggregate top-K and a
    * broadcast join back — no per-domain window, no corpus shuffle. The
    * wall is the 9-regex enrichment+scrub projection evaluated over the
    * corpus on BOTH scans (java.util.regex row-at-a-time vs DuckDB's
    * vectorized RE2), which is the entry's declared job — the PII/URL
    * machinery IS the operator. Pure scan-riding codegen otherwise;
    * parallelizes by split at cluster scale. Floor. */
  /** Session flag: when true, q88's stage-2 quality gate additionally
    * requires the q102 learned classifier's keep (rules AND model — the
    * CCNet composition). Default FALSE, so the oracle-pinned q88 output
    * is unchanged unless a deployment opts in. */
  private[graft] val UseClassifierConf = "spark.graft.quality.useClassifier"

  def q88WebCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"),
        concat(col("text"), piiSuffix, urlSuffix).as("etext"))

    def nHits(re: String) = size(regexp_extract_all(col("etext"), lit(re), lit(0)))
    // r16 (guide §1.4/§2.4 — the audited two-scan shape had the 9-regex
    // enrich+scrub projection, the entry's dominant cost by the r15 floor
    // ruling, evaluated TWICE: once under the cap side's filter and again
    // as the decided join's left input). Materialize pins the narrow
    // per-doc verdict frame (6 columns, no text) so the regex projection
    // runs ONCE and both consumers read the checkpoint — at corpus scale
    // the checkpoint is |docs| slim rows vs a second full scan through
    // 9 java.util.regex passes over the text. Measured at sf0.1
    // (shared-session bench, this host): 1.42 → see OPTIMIZATION_r16.md;
    // plan: 2 scans × regex-projection → 1 (plans/r16/q88_web_curation_*).
    val ruleFlagged = Materialize.materialize(docs.select(
      col("doc_id"), col("source"),
      (nHits(EmailRe) + nHits(PhoneRe) + nHits(IpRe) + nHits(SsnRe) > 0).as("has_pii"),
      size(split(scrubText(col("etext")), " ")).cast("long").as("n_tokens"),
      regexp_extract(col("etext"), DomainRe, 1).as("first_domain"),
      qualityKeep(col("text")).as("q_keep")))

    // optional stage 2b: the learned gate (q102) composed onto the rules.
    // Unscorable-doc POLICY (ADVICE r10): classifierScores only emits a
    // row for docs with >= 2 normalized words (a bigram model has no
    // evidence otherwise), so the left join leaves model_keep null there
    // and the coalesce(..., false) REJECTS them — deliberate: with the
    // learned gate on, "no evidence of quality" means drop, mirroring
    // q102's own keep-threshold contract. Rules-only behavior for short
    // docs is the flag-OFF path; flip the coalesce to lit(true) only if
    // that policy changes, and re-pin ClassifierSpec's monotonicity test.
    val flagged =
      if (!spark.conf.getOption(UseClassifierConf).contains("true")) ruleFlagged
      else {
        val scored = classifierScores(Tables.documents(spark, dir))
          .select(col("doc_id"), col("keep").as("model_keep"))
        ruleFlagged.join(scored, Seq("doc_id"), "left")
          .withColumn("q_keep",
            col("q_keep") && coalesce(col("model_keep"), lit(false)))
          .drop("model_keep")
      }

    // stage 3: cap slots per first_domain over quality SURVIVORS (an
    // evicted slot would otherwise be wasted on a doc stage 2 drops)
    val capped = domainCap(
      flagged.filter(col("q_keep") && col("first_domain") =!= "")
        .select(col("doc_id"), col("first_domain").as("domain")),
      DomainCap)
      .select(col("domain").as("first_domain"), col("doc_id"), lit(true).as("in_cap"))

    val decided = flagged.join(capped, Seq("first_domain", "doc_id"), "left")
      .withColumn("kept",
        col("q_keep") && (col("first_domain") === "" || coalesce(col("in_cap"), lit(false))))

    decided.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("has_pii"), 1)).as("n_pii_docs"),
        count(when(col("q_keep"), 1)).as("n_quality"),
        count(when(col("q_keep") && !col("kept"), 1)).as("n_cap_out"),
        count(when(col("kept"), 1)).as("n_kept"),
        coalesce(sum(when(col("kept"), col("n_tokens"))), lit(0L)).cast("long")
          .as("tokens_kept"))
      .orderBy(col("source").asc)
  }

  /** q87's keep conjunction as a single reusable Column over a raw text
    * column (integer-decided, same arithmetic as [[qualityRules]]). */
  private def qualityKeep(text: Column): Column = {
    val stops = array(TextQueries.Stopwords.map(lit): _*)
    val w = split(text, " ")
    val n = size(w).cast("long")
    val sumLen = aggregate(w, lit(0L), (acc, x) => acc + length(x))
    val nShort = size(filter(w, x => length(x) <= 2)).cast("long")
    val nStop = size(array_distinct(filter(w, x => array_contains(stops, x)))).cast("long")
    n >= QWordMin && n <= QWordMax && sumLen >= n * QLenLo && sumLen <= n * QLenHi &&
      nShort * QShortDen <= n && nStop >= QStopMin
  }

  // ---- Q89: normalization-aware exact dedup ----

  /** Canonical text normalization before exact hashing (the C4 / Lee et
    * al. pre-dedup normalization: case-fold, strip punctuation, collapse
    * whitespace). Case-folds over the ASCII range only, never unicode
    * lower() — engines disagree on special casing (the Turkish-İ class of
    * divergence), ASCII folding they agree on byte-for-byte.
    *
    * r10: routed through the native single-pass kernel
    * [[graft.functions.NormalizeText]] (VERDICT r9 #1 — the retired
    * two-regexp chain was the engine's worst constant factor, 25× DuckDB
    * at sf1.0). Semantics are pinned against [[normalizeTextDeclarative]]
    * by a WebCurationSpec differential property over adversarial strings. */
  def normalizeText(c: Column): Column = graft.functions.NormalizeText(c)

  /** The retired declarative form — kept as executable documentation of
    * the exact semantics (it is literally the oracle's SQL) and as the
    * differential-spec reference for the native kernel. */
  private[graft] def normalizeTextDeclarative(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(translate(c, Upper, Lower), "[^a-z0-9 ]", ""),
      " +", " "))

  /** Q89 — normalized exact dedup: per doc, the duplicate-family size
    * under RAW exact hashing vs under [[normalizeText]]-then-hash, the
    * normalized family's keeper flag, and whether normalization recovered
    * dups raw hashing missed. The corpus is noised deterministically per
    * doc_id stratum (upper-case / trailing punctuation / doubled spaces)
    * so the raw hash splinters each true family across variants and the
    * normalized hash must reunite it — the value-checked demonstration of
    * why production dedup hashes normalized text (Lee et al. 2021; C4's
    * preprocessing). Plan (r10, VERDICT r9 #1): ONE hashing projection
    * (native-kernel normalization + two md5s, codegen'd) under two
    * PARTITIONED window passes (count over raw_h; count+min over norm_h).
    * The retired census-then-rejoin shape scanned the projection in three
    * plan branches — Catalyst does not CSE across branches, so every doc
    * was regex-normalized more than once — and its rejoins shipped every
    * full row by hash key anyway, so its map-side census partials bought
    * nothing the windows lose: a hot family lands in one task either way
    * (m rows through the norm_h exchange), and the window form halves the
    * shuffles (2 vs 4) while evaluating the normalization exactly once,
    * lazily. */
  def q89NormalizedDedup(spark: SparkSession, dir: String): DataFrame = {
    val noised = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, translate(col("text"), Lower, Upper))
          .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" !! ??")))
          .otherwise(regexp_replace(col("text"), " ", "  ")).as("text"))
    normalizedDedup(noised).orderBy(col("doc_id").asc)
  }

  /** The census body over any (doc_id, text) frame — q89 routes the noised
    * corpus here; specs feed constructed stratified families. */
  private[graft] def normalizedDedup(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRaw = Window.partitionBy(col("raw_h"))
    val wNorm = Window.partitionBy(col("norm_h"))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        md5(col("text")).as("raw_h"),
        md5(normalizeText(col("text"))).as("norm_h"))
      .withColumn("raw_n", count(lit(1)).over(wRaw))
      .withColumn("norm_n", count(lit(1)).over(wNorm))
      .withColumn("norm_keeper", min(col("doc_id")).over(wNorm))
      .select(
        col("doc_id"),
        col("raw_n"),
        col("norm_n"),
        (col("doc_id") === col("norm_keeper")).as("is_canonical_norm"),
        (col("norm_n") > col("raw_n")).as("recovered"))
  }

  // ---- Q102: model-based quality scoring (fastText-style) ----

  /** Fixed-point scale for classifier weights: w is in units of 1e-5
    * probability mass. Long-safe up to ~9e13 gram occurrences per class
    * (cnt·Scale < 2^63), i.e. beyond a 100 TB text corpus. */
  private[operators] val QcScale = 100000L

  /** md5 hex chars per feature bucket: 3 → 4096 buckets (the hashing
    * trick; Weinberger et al. 2009). The weight table is ≤ 4096 rows at
    * ANY corpus scale — broadcast by construction. */
  private[operators] val QcHexChars = 3

  /** Q102 — LEARNED quality scoring in the fastText style (Joulin et al.
    * 2016; the CCNet/LLaMA wiki-vs-crawl gate): the rule-based (q87),
    * repetition (q67), rarity (q72), and perplexity (q94) filters decide
    * from hand-written heuristics — this one trains a linear classifier
    * on a labeled split and scores every document with it.
    *
    *   - Features: hashed bag of word bigrams over the normalized text
    *     ([[normalizeText]] → [[graft.functions.WordNGrams]](2) → md5 →
    *     [[QcHexChars]]-hex bucket) — fastText's exact feature map.
    *   - Labels: the deterministic curated-vs-crawl split of the corpus's
    *     own sources (src0–src9 = curated) — the q38/q84 enrichment
    *     discipline: the labeled set derives from the corpus, so the
    *     oracle re-derives it bit-for-bit.
    *   - Weights: per-bucket fixed-point class-rate difference
    *     w_b = ⌊cP_b·S/totP⌋ − ⌊cN_b·S/totN⌋ — the linearized
    *     Rocchio/naive-Bayes form, INTEGER-exact in place of float
    *     log-odds so both engines agree to the bit (the q93/q97 no-float
    *     discipline). A real fastText run would fit these by SGD; the
    *     rate-difference weights keep the identical serving shape
    *     (hashed-feature dot product) with a deterministic oracle.
    *   - Score: Σ over gram occurrences of w_bucket; keep = score ≥ 0.
    *
    * Scale shape: featurization is one codegen'd scan projection +
    * explode; the featurized (doc_id, curated, bucket) stream is
    * [[Materialize]]d ONCE (3 narrow columns — it feeds training totals,
    * the weight census, and scoring; the rarityScores discipline). The
    * class totals are a 1-row broadcast; the weight table is ≤ 4096 rows
    * — scoring is a BROADCAST hash join + one groupBy(doc_id). Nothing
    * driver-side; eager at build like q94/q101 (the Materialize).
    * Precondition: both classes non-empty (a one-class corpus divides by
    * zero — Spark yields NULL, DuckDB errors). Docs with < 1 bigram drop
    * (declared, mirrored in the oracle). */
  def q102QualityClassifier(spark: SparkSession, dir: String): DataFrame =
    classifierScores(Tables.documents(spark, dir))
      .orderBy(col("doc_id").asc)

  /** Width of q111's score buckets. Sized from the measured sf0.01 score
    * distribution (−1852..1633): ~14 populated buckets, enough resolution
    * to see the keep-threshold neighborhood without single-doc bins. */
  private[operators] val QcCalBin = 250L

  /** Q111 — classifier CALIBRATION audit: q102's scores bucketed into
    * fixed [[QcCalBin]]-wide bins with the curated share per bin — the
    * reliability table a gating team reads before picking a threshold
    * (does curated share actually rise with score, and where does the
    * 50% crossover sit relative to keep = score ≥ 0?). Completes the
    * eval-audit trio: q107 measures ANN recall, q110 measures sketch
    * error, q111 measures the learned gate's calibration. On this corpus
    * curated_permille rises monotonically 0 → 1000 across buckets with
    * the crossover inside bucket 0 — the keep threshold is where it
    * should be; a feature or label regression now bends this table and
    * fails the gate hash.
    *
    * Integer-exact throughout (`score div bin` truncates toward zero on
    * BOTH engines — DuckDB `//` truncates on integers like Spark `div` —
    * so signed buckets agree; permille by integer division). Costs one
    * |buckets|-row aggregate over q102's scoring stream; same eager-at-
    * build Materialize note as q102. */
  def q111ClassifierCalibration(spark: SparkSession, dir: String): DataFrame =
    classifierScores(Tables.documents(spark, dir))
      .select(expr(s"score div $QcCalBin").as("bucket"), col("curated"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("curated"), 1L).otherwise(0L)).as("n_curated"))
      .withColumn("curated_permille", expr("n_curated * 1000 div n_docs"))
      .orderBy(col("bucket").asc)

  /** The q102 body over ANY (doc_id, source, text) frame. */
  private[graft] def classifierScores(docs: DataFrame): DataFrame = {
    val gb = Materialize.materialize(docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        (replace(col("source"), lit("src"), lit("")).cast("int") < 10).as("curated"),
        normalizeText(col("text")).as("t"))
      .select(col("doc_id"), col("curated"),
        explode(graft.functions.WordNGrams(col("t"), 2)).as("gram"))
      .select(col("doc_id"), col("curated"),
        conv(substring(md5(col("gram")), 1, QcHexChars), 16, 10)
          .cast("int").as("b")))
    val tot = gb.agg(
      sum(when(col("curated"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("curated"), 0L).otherwise(1L)).as("tn"))
    val wt = gb.groupBy(col("b"))
      .agg(
        sum(when(col("curated"), 1L).otherwise(0L)).as("cp"),
        sum(when(col("curated"), 0L).otherwise(1L)).as("cn"))
      .crossJoin(broadcast(tot))
      .select(col("b"),
        (expr(s"cp * $QcScale DIV tp") - expr(s"cn * $QcScale DIV tn")).as("w"))
    gb.join(broadcast(wt), "b")
      .groupBy(col("doc_id"), col("curated"))
      .agg(count(lit(1)).as("n_grams"), sum(col("w")).cast("long").as("score"))
      .select(col("doc_id"), col("curated"), col("n_grams"), col("score"),
        (col("score") >= 0).as("keep"))
  }

  /** Train q102's bucket-weight table ALONE — the frozen-model half of the
    * train/serve split (VERDICT r10 #2): (b, w) with ≤ 2^(4·QcHexChars) =
    * 4096 rows by construction, the artifact a streaming scorer broadcasts
    * per micro-batch. Same derivation as [[classifierScores]] (which keeps
    * its fused self-train-and-score shape for the oracle-pinned q102).
    *
    * The FINAL weight frame is [[Materialize]]d — lazy, every
    * scoredArrivals micro-batch re-scanned and re-aggregated the full gram
    * census before broadcasting, contradicting the frozen-model contract
    * (ADVICE r11; the bigramLmModel ruling applied here). The class totals
    * are a 1-row bounded collect that both inlines (tp, tn) as literals
    * (no per-batch crossJoin) and GUARDS the build: a single-class corpus
    * (zero curated or zero crawl grams) has no discriminative signal and
    * the integer weight derivation would divide by zero — fail loudly at
    * train time, not inside a serving micro-batch (VERDICT r11 #5). */
  private[graft] def classifierWeights(docs: DataFrame): DataFrame = {
    val gb = Materialize.materialize(docs.filter(col("text").isNotNull)
      .select(
        (replace(col("source"), lit("src"), lit("")).cast("int") < 10).as("curated"),
        normalizeText(col("text")).as("t"))
      .select(col("curated"),
        explode(graft.functions.WordNGrams(col("t"), 2)).as("gram"))
      .select(col("curated"),
        conv(substring(md5(col("gram")), 1, QcHexChars), 16, 10)
          .cast("int").as("b")))
    val t = gb.agg(
      sum(when(col("curated"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("curated"), 0L).otherwise(1L)).as("tn")).collect()(0)
    val tp = if (t.isNullAt(0)) 0L else t.getLong(0)
    val tn = if (t.isNullAt(1)) 0L else t.getLong(1)
    require(tp > 0 && tn > 0,
      s"classifierWeights needs BOTH classes in the training corpus " +
        s"(curated grams=$tp, crawl grams=$tn): a single-class corpus has " +
        "no discriminative signal to learn")
    Materialize.materialize(gb.groupBy(col("b"))
      .agg(
        sum(when(col("curated"), 1L).otherwise(0L)).as("cp"),
        sum(when(col("curated"), 0L).otherwise(1L)).as("cn"))
      .select(col("b"),
        (expr(s"cp * $QcScale DIV ${tp}L") - expr(s"cn * $QcScale DIV ${tn}L")).as("w")))
  }

  /** Score ANY (doc_id, text) frame against a TRAINED weight table — the
    * serving half: featurize (normalize → word bigrams → md5 bucket, the
    * exact [[classifierScores]] feature map), broadcast-join the ≤
    * 4096-row weights, one per-doc aggregate. No label column is read —
    * the scorer works on unlabeled arrivals. Docs the model cannot score
    * (null text, < 2 normalized words → no bigrams) emit NO row; callers
    * compose with a left join and decide the unscorable policy (q88's
    * flag comment). A gram hashing to a bucket the training corpus never
    * populated carries weight 0 (LEFT join + coalesce — standard
    * hashed-feature serving; on the training corpus itself every bucket
    * has a row, so this reproduces classifierScores row-for-row —
    * StreamingSpec pins it). */
  private[graft] def scoreWithClassifier(docs: DataFrame,
      weights: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), normalizeText(col("text")).as("t"))
      .select(col("doc_id"),
        explode(graft.functions.WordNGrams(col("t"), 2)).as("gram"))
      .select(col("doc_id"),
        conv(substring(md5(col("gram")), 1, QcHexChars), 16, 10)
          .cast("int").as("b"))
      .join(broadcast(weights), Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("w"), lit(0L))).cast("long").as("score"))
      .select(col("doc_id"), col("n_grams"), col("score"),
        (col("score") >= 0).as("keep"))

  // ---- Q115: DSIR importance weights (generative data selection) ----

  /** Bucket count of the hashed feature space, 2^(4·[[QcHexChars]]) — the
    * add-one smoothing denominator of q115's two bucket LMs (a constant,
    * NOT the observed-bucket count: the smoothed distributions must be
    * proper over the full hash range so unseen buckets carry mass). */
  private[operators] val QcBuckets = 4096L

  /** Q115 — DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): the GENERATIVE dual of
    * q102's discriminative gate. Fit two add-one-smoothed hashed-bigram
    * bag LMs — target p̂ on the curated slice, raw q̂ on the crawl slice
    * (the exact [[classifierScores]] feature map, so the two learned gates
    * see the same features) — and score every CRAWL document by its log
    * importance weight log(p̂(doc)/q̂(doc)) = Σ_g [ln(c_t(b_g)+1) −
    * ln(N_t+B)] − [ln(c_r(b_g)+1) − ln(N_r+B)]. DSIR resamples the raw
    * pool ∝ these weights; the deterministic per-doc weight (plus keep =
    * w ≥ 1, i.e. "looks more target than raw") is the engine-side artifact
    * that sampler consumes.
    *
    * EXACTNESS: every ln argument is an exact integer on both engines
    * (counts + 1, totals + [[QcBuckets]]); each bucket's term is the
    * difference of two floor((ln a − ln b)·10⁹) int64s — the q109
    * integer-ln discipline — and per-doc sums are exact int64s with
    * map-side combine.
    *
    * Scale shape: featurize once ([[Materialize]]d, the q102 discipline —
    * the 3-narrow-column gram stream feeds class totals, the bucket
    * census, and scoring); the term table is ≤ [[QcBuckets]] rows by
    * construction — broadcast, zero per-occurrence lns; scoring is one
    * broadcast join + one per-doc aggregate. Same plan family as q102
    * serving, so the 100 TB story is identical: everything rides the scan
    * except two bounded shuffles. Eager at build (the Materialize). */
  def q115DsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(Tables.documents(spark, dir))
      .orderBy(col("doc_id").asc)

  /** The q115 body over ANY (doc_id, source, text) frame: fit target/raw
    * bucket LMs on the frame's own curated/crawl split, score the crawl
    * slice. Both classes must be non-empty only in the sense that the
    * smoothed LMs stay defined — they always are (add-one over a constant
    * bucket count), so unlike [[classifierWeights]] a single-class corpus
    * degrades gracefully (empty output or all-zero terms), not loudly. */
  private[graft] def dsirWeights(docs: DataFrame): DataFrame =
    dsirSums(docs)
      .select(col("doc_id"), col("n_grams"),
        round(col("logw_sum").cast("double") / lit(1.0e9) / col("n_grams"), 6)
          .as("logw_nats"),
        (col("logw_sum") >= 0L).as("keep"))

  /** The q115 scoring stage BEFORE the per-doc rounding: exact int64
    * fixed-point log-weight sums per crawl doc — [[dsirWeights]] is this
    * plus the presentation divide, and q118's Gumbel resample keys off
    * these EXACT integers (the bigramTermSums discipline). */
  private def dsirSums(docs: DataFrame): DataFrame = {
    val gb = Materialize.materialize(docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        (replace(col("source"), lit("src"), lit("")).cast("int") < 10).as("curated"),
        normalizeText(col("text")).as("t"))
      .select(col("doc_id"), col("curated"),
        explode(graft.functions.WordNGrams(col("t"), 2)).as("gram"))
      .select(col("doc_id"), col("curated"),
        conv(substring(md5(col("gram")), 1, QcHexChars), 16, 10)
          .cast("int").as("b")))
    val tot = gb.agg(
      sum(when(col("curated"), 1L).otherwise(0L)).as("nt"),
      sum(when(col("curated"), 0L).otherwise(1L)).as("nr"))
    val tw = gb.groupBy(col("b"))
      .agg(
        sum(when(col("curated"), 1L).otherwise(0L)).as("ctb"),
        sum(when(col("curated"), 0L).otherwise(1L)).as("crb"))
      .crossJoin(broadcast(tot))
      .select(col("b"),
        (floor((log((col("ctb") + lit(1L)).cast("double")) -
            log((col("nt") + lit(QcBuckets)).cast("double"))) * lit(1.0e9)).cast("long") -
          floor((log((col("crb") + lit(1L)).cast("double")) -
            log((col("nr") + lit(QcBuckets)).cast("double"))) * lit(1.0e9)).cast("long"))
          .as("term"))
    gb.filter(!col("curated"))
      .join(broadcast(tw), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("term")).cast("long").as("logw_sum"))
  }

  // ---- Q118: DSIR importance RESAMPLE (Gumbel-top-k selection) ----

  /** Resample size for q118 — the selected-subset budget. */
  private[operators] val DsirSampleK = 64

  /** Q118 — the importance RESAMPLING step DSIR is named for (Xie et al.
    * 2023 §2): q115 emits per-doc log importance weights; this entry
    * SELECTS the training subset by sampling WITHOUT replacement
    * ∝ exp(logw) via the Gumbel-top-k identity (Vieira 2014: adding
    * i.i.d. Gumbel noise to log-weights and taking the top-k draws a
    * weighted sample without ever leaving log space — exp(logw) itself
    * would underflow at document scale). The q96 priority-sampling twin
    * for LEARNED log-space weights:
    *   e_fix = max(1, ⌊−ln(u)·10⁹⌋),  u = (2·u_int+1)/2³³
    *   key   = logw_sum + ⌊(ln(10⁹) − ln(e_fix))·10⁹⌋
    * with u_int the [[AnalyticsQueries.uFoldSql]] md5-fold — u is a
    * strictly-interior dyadic rational (never 0 or 1, so −ln(u) is
    * finite) and the exponential draw QUANTIZES to the exact int64 e_fix
    * before the outer ln (r13, ADVICE r12: the naive −ln(−ln u) nests two
    * libm calls, and a 1-ulp inner disagreement propagates through the
    * outer ln and can flip the floored key; here EVERY ln argument is
    * exactly representable — u dyadic, e_fix ≤ 2.3·10¹⁰ < 2⁵³, 10⁹
    * exact — the q109 integer-ln discipline, and the e_fix ≥ 1 clamp
    * bounds G at ln(10⁹) for the u-within-2⁻³³-of-1 corner where the
    * floor hits 0). The Gumbel term floors to int64 nano-nats so the KEY
    * is an exact integer — deterministic, mergeable, hash-checkable; the
    * 10⁻⁹ exponential quantization is part of the defined key, not an
    * approximation the oracle could disagree on.
    *
    * Scale shape: q115's scoring plan, one codegen'd key projection,
    * then distributed top-K (TakeOrdered partial top-Ks per partition —
    * no global shuffle); the rank window runs over the ≤ [[DsirSampleK]]
    * survivors only (the q96 bounded-post-limit shape). */
  def q118DsirResample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = AnalyticsQueries.uFoldSql(
      "md5(concat(CAST(doc_id AS STRING), ':gumbel'))")
    val keyed = dsirSums(Tables.documents(spark, dir))
      .withColumn("u_int", expr(s"CAST($u AS BIGINT)"))
      // exponential draw QUANTIZED to an exact int64 before the outer ln
      // (ADVICE r12, low): a nested -ln(-ln u) feeds the outer ln a
      // computed double, doubling cross-libm ulp exposure; flooring
      // e_fix = ⌊−ln(u)·10⁹⌋ first (clamped ≥ 1 — u within 2⁻³³ of 1
      // floors to 0 and ln(0) = −∞) makes BOTH ln arguments exactly
      // representable (e_fix ≤ 2.3·10¹⁰ < 2⁵³), the q109 integer-ln
      // discipline. G = −ln(e_fix/10⁹) = ln(10⁹) − ln(e_fix); the 10⁻⁹
      // quantization of the exponential is part of the DEFINED key, not
      // an approximation the oracle could disagree on.
      .withColumn("e_fix",
        greatest(lit(1L),
          floor(-log((col("u_int") * lit(2L) + lit(1L)).cast("double") /
            lit(8589934592.0)) * lit(1.0e9)).cast("long")))
      .withColumn("gumbel_nano",
        floor((log(lit(1.0e9)) - log(col("e_fix").cast("double"))) *
          lit(1.0e9)).cast("long"))
      .withColumn("key", col("logw_sum") + col("gumbel_nano"))
    keyed.orderBy(col("key").desc, col("doc_id").asc).limit(DsirSampleK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("key").desc, col("doc_id").asc))
          .cast("int"))
      .select(col("doc_id"), col("n_grams"), col("logw_sum"),
        col("gumbel_nano"), col("rank"))
      .orderBy(col("rank").asc)
  }

  /** Train q115's bucket term table ALONE — the frozen-model half of the
    * DSIR train/serve split (the classifierWeights/bigramLmModel
    * discipline): a DENSE [[QcBuckets]]-row (b, term) table, one row for
    * EVERY bucket in the hash range. Density is the serving contract —
    * an arriving gram can hash to a bucket the standing corpus never
    * populated, and the smoothed log ratio of an unseen bucket is NOT
    * zero (it is ln((N_r+B)/(N_t+B)), the "seen by neither LM" prior),
    * so the fused q115's observed-buckets-only census would silently
    * mis-score novel arrivals if broadcast as-is. The class totals are a
    * 1-row bounded collect inlined as literals; add-one smoothing keeps
    * every ln argument positive, so unlike [[classifierWeights]] a
    * single-class corpus trains a valid (if one-sided) model rather than
    * dividing by zero. [[Materialize]]d: frozen, never re-aggregated per
    * micro-batch. Eager at build (the collect + Materialize). */
  private[graft] def dsirModel(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val gb = Materialize.materialize(docs.filter(col("text").isNotNull)
      .select(
        (replace(col("source"), lit("src"), lit("")).cast("int") < 10).as("curated"),
        normalizeText(col("text")).as("t"))
      .select(col("curated"),
        explode(graft.functions.WordNGrams(col("t"), 2)).as("gram"))
      .select(col("curated"),
        conv(substring(md5(col("gram")), 1, QcHexChars), 16, 10)
          .cast("int").as("b")))
    val t = gb.agg(
      sum(when(col("curated"), 1L).otherwise(0L)).as("nt"),
      sum(when(col("curated"), 0L).otherwise(1L)).as("nr")).collect()(0)
    val nt = if (t.isNullAt(0)) 0L else t.getLong(0)
    val nr = if (t.isNullAt(1)) 0L else t.getLong(1)
    val census = gb.groupBy(col("b"))
      .agg(
        sum(when(col("curated"), 1L).otherwise(0L)).as("ctb"),
        sum(when(col("curated"), 0L).otherwise(1L)).as("crb"))
    Materialize.materialize(spark.range(QcBuckets)
      .select(col("id").cast("int").as("b"))
      .join(census, Seq("b"), "left")
      .select(col("b"),
        (floor((log((coalesce(col("ctb"), lit(0L)) + lit(1L)).cast("double")) -
            log(lit(nt + QcBuckets).cast("double"))) * lit(1.0e9)).cast("long") -
          floor((log((coalesce(col("crb"), lit(0L)) + lit(1L)).cast("double")) -
            log(lit(nr + QcBuckets).cast("double"))) * lit(1.0e9)).cast("long"))
          .as("term")))
  }

  /** Score ANY (doc_id, text) frame against a TRAINED dense term table —
    * the serve half (no label column read): featurize with the exact
    * [[dsirWeights]] map, broadcast-join the [[QcBuckets]]-row model
    * (inner — the table is dense over the whole hash range by
    * construction), one per-doc aggregate. On the training corpus's crawl
    * slice this reproduces the fused q115 row-for-row (observed buckets
    * carry identical terms; StreamingSpec pins it). Docs with < 1 bigram
    * emit no row — callers left-join and own the pass-through policy. */
  private[graft] def scoreWithDsir(docs: DataFrame,
      model: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), normalizeText(col("text")).as("t"))
      .select(col("doc_id"),
        explode(graft.functions.WordNGrams(col("t"), 2)).as("gram"))
      .select(col("doc_id"),
        conv(substring(md5(col("gram")), 1, QcHexChars), 16, 10)
          .cast("int").as("b"))
      .join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("term")).cast("long").as("logw_sum"))
      .select(col("doc_id"), col("n_grams"),
        round(col("logw_sum").cast("double") / lit(1.0e9) / col("n_grams"), 6)
          .as("logw_nats"),
        (col("logw_sum") >= 0L).as("keep"))

  // ---- Q125: DoReMi PROXY RETRAIN (per-round α-weighted census LM) ----

  /** Q125 — DoReMi iteration with PER-ROUND PROXY RETRAIN (r15, VERDICT
    * r14 #3): closes the stated q120/q124 gap. Where q124 re-baselines a
    * FROZEN per-domain loss against the moving mixture, this entry
    * retrains the proxy MODEL itself every round — Xie et al. 2023's
    * actual loop with the q115 hashed-bigram bucket LM standing in for
    * the neural proxy:
    *
    *  - REFERENCE (frozen, per-domain): DoReMi's excess is measured
    *    against PER-DOMAIN reference losses ℓ_ref,d — that per-domain
    *    normalization is what keeps heterogeneous-entropy domains
    *    comparable (Xie et al. §3). The census instantiation of ℓ_ref,d
    *    is the tightest achievable floor: domain d's OWN add-one bucket
    *    LM evaluated on d. (A single full-corpus reference degenerates
    *    here: a converged census proxy at the seed mixture ≈ that
    *    reference, so round-1 excess is discretization noise — measured
    *    while building this entry, not a guess.)
    *  - PROXY at round t (retrained on the current mixture α_{t−1}): the
    *    bucket LM of the α-weighted census SCALED TO GRAM UNITS —
    *    c_t(b) = (Σ_d α_{t−1}(d)·c_d(b)) DIV 10⁶ — so the proxy's data
    *    budget is one α-mixture's worth of grams (~N/|domains| at the
    *    uniform seed) and the +1/+B smoothing bites like real
    *    undertraining. This is the feedback edge q120/q124 stubbed: as a
    *    domain's weight rises its counts flow into the proxy and its
    *    loss under the proxy falls (ProxyRetrainSpec pins exactly this).
    *  - EXCESS_t(d) = max(0, h_t(d) − h_ref(d)) in milli-nats (clamped
    *    BEFORE the divide — the q124 negative-DIV discipline), then the
    *    q120 multiplicative update α_t ∝ α_{t−1}·(SCALE + excess).
    *
    * EXACTNESS: weights are exact ppm int64s, so the weighted census is
    * integer-exact (HUGEINT on the oracle side, BigInt here) and the
    * DIV 10⁶ rescale keeps every ln argument an exact integer ≤ N+B —
    * representable while N < 2⁵³ grams (≈ 9·10¹⁵; at 100 TB-corpus
    * widths rescale the ppm basis before this bound binds). Terms are
    * the q109 fixed-point encoding, floor((ln a − ln b)·10⁹) int64, and
    * the driver-side ln is java.lang.StrictMath.log — verified against
    * the Spark 4.1.2 bytecode to be THE function the executor-side `log`
    * expression evaluates, so the driver loop and the hash-green q115
    * executor path share one libm surface against DuckDB's ln.
    *
    * Scale shape: ONE distributed pass (the per-(domain, bucket) census —
    * map-side partials, ≤ |domains|·[[QcBuckets]] rows by construction);
    * that bounded table collects like a codebook and the
    * [[TextQueries.DoremiRounds]] retrain+update rounds run driver-side
    * over ≤ 20·4096 integers (the q120 ruling: a distributed loop here
    * pays a checkpoint round-trip per round to move kilobytes). Output:
    * (source, round, weight_ppm, h_fix, excess_milli) for rounds
    * 0..[[TextQueries.DoremiRounds]]; round 0 carries the SEED weights
    * and h_fix = h_ref(d), putting the frozen reference's arithmetic on
    * its own oracle-checked rows. Eager at construction (the collect). */
  def q125DoremiProxyRetrain(spark: SparkSession, dir: String): DataFrame =
    doremiProxyRetrain(spark, Tables.documents(spark, dir))

  /** The q125 body over ANY (source, text) frame. */
  private[graft] def doremiProxyRetrain(spark: SparkSession,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    val census = docs.filter(col("text").isNotNull)
      .select(col("source"), normalizeText(col("text")).as("t"))
      .select(col("source"),
        explode(graft.functions.WordNGrams(col("t"), 2)).as("gram"))
      .select(col("source"),
        conv(substring(md5(col("gram")), 1, QcHexChars), 16, 10)
          .cast("int").as("b"))
      .groupBy(col("source"), col("b")).agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val domains = census.map(_._1).distinct.sorted.toSeq
    val nDom = domains.length
    val cnt: Map[String, Array[(Int, Long)]] = census.groupBy(_._1)
      .map { case (s, rows) => s -> rows.map(r => (r._2, r._3)) }
    val nD: Map[String, Long] =
      cnt.map { case (s, m) => s -> m.map(_._2).sum }
    val B = QcBuckets.toInt

    // floor((ln a − ln b)·10⁹) over exact-integer args — StrictMath.log
    // IS Spark's `log` (see the scaladoc), the q109 integer-ln encoding
    def termFix(a: Long, b: Long): Long =
      math.floor((StrictMath.log(a.toDouble) -
        StrictMath.log(b.toDouble)) * 1e9).toLong

    // per-domain mean NLL (nano-nats/gram) of d's grams under the bucket
    // LM with counts c(b) and total n — terms ≤ −1 (c(b)+1 < n+B strictly
    // whenever n ≥ c(b)), so −Σ is positive and DIV truncation == floor
    def hFix(c: Int => Long, n: Long): Map[String, Long] = {
      val t = Array.tabulate(B)(b => termFix(c(b) + 1L, n + B))
      domains.map { d =>
        val s = cnt(d).iterator.map { case (b, k) => BigInt(k) * t(b) }.sum
        d -> ((-s) / nD(d)).toLong
      }.toMap
    }

    // frozen PER-DOMAIN reference: each domain's own-census LM floor
    val href: Map[String, Long] = domains.map { d =>
      val nd = nD(d)
      val s = cnt(d).iterator
        .map { case (b, k) => BigInt(k) * termFix(k + 1L, nd + B) }.sum
      d -> ((-s) / nd).toLong
    }.toMap

    val hist =
      scala.collection.mutable.ArrayBuffer[(String, Int, Long, Long, Long)]()
    var w: Map[String, Long] = domains
      .map(_ -> (if (nDom == 0) 0L else 1000000L / nDom)).toMap
    domains.foreach(d => hist += ((d, 0, w(d), href(d), 0L)))
    for (t <- 1 to TextQueries.DoremiRounds) {
      // RETRAIN: α-weighted census rescaled to gram units — accumulate
      // exactly in BigInt ppm units (the HUGEINT twin), then DIV 10⁶ once
      val cwB = Array.fill(B)(BigInt(0))
      domains.foreach { d =>
        val wd = BigInt(w(d))
        cnt(d).foreach { case (b, k) => cwB(b) += wd * k }
      }
      val cp = Array.tabulate(B)(b => (cwB(b) / 1000000L).toLong)
      val np = cp.sum
      val h = hFix(cp(_), np)
      val em = domains
        .map(d => d -> math.max(0L, h(d) - href(d)) / 1000000L).toMap
      val m = domains
        .map(d => d -> w(d) * (TextQueries.DoremiEtaScale + em(d))).toMap
      val tot = m.values.sum
      // tot = 0 only past ~10⁶ domains (the q120 zero-total contract);
      // the generated oracle mirrors this keep-prior-weights guard with a
      // CASE on SUM(m), so engine and oracle share the defined behavior at
      // the edge instead of silently diverging (ADVICE r15)
      if (tot > 0L)
        w = domains.map(d => d -> m(d) * 1000000L / tot).toMap
      domains.foreach(d => hist += ((d, t, w(d), h(d), em(d))))
    }
    hist.toSeq.toDF("source", "round", "weight_ppm", "h_fix", "excess_milli")
      .select(col("source"), col("round").cast("int").as("round"),
        col("weight_ppm").cast("long").as("weight_ppm"),
        col("h_fix").cast("long").as("h_fix"),
        col("excess_milli").cast("long").as("excess_milli"))
      .orderBy(col("round").asc, col("source").asc)
  }

  // ---- Q92: URL canonicalization + canonical-family census ----

  // scheme+authority prefix (scheme per RFC 3986 §3.1: ALPHA then
  // alphanum/+/-/.), shared by both engines
  private val SchemeHostRe = "^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)"

  /** Canonicalize a URL column the way a crawl-frontier dedup does
    * (RFC 3986 §6 syntax-based normalization plus the usual tracking-param
    * strip): drop the fragment, case-fold scheme+host only (paths stay
    * case-sensitive; `translate` over ASCII, not `lower()` — the q89
    * cross-engine discipline), strip default ports (:443/:80), drop utm_*
    * query params, and sort the survivors for order-independence. Pure
    * string expressions end to end — codegen'd, shuffle-free. */
  def canonicalizeUrl(u: Column): Column = {
    val nofrag = regexp_replace(u, "#.*$", "")
    val base = split_part(nofrag, lit("?"), lit(1))
    // everything after the FIRST '?' — split_part(_, '?', 2) kept only the
    // text between the first and second '?', silently truncating queries
    // that legally contain '?' (RFC 3986 §3.4 allows it) and collapsing
    // distinct URLs into one canonical family (ADVICE r8). (?s) keeps the
    // extract total on any input handed to this public API.
    val qs = regexp_extract(nofrag, "(?s)\\?(.*)", 1)
    val sh = regexp_extract(base, SchemeHostRe, 1)
    val path = base.substr(length(sh) + lit(1), length(base))
    val shl = translate(sh, Upper, Lower)
    // default-port strip is SCHEME-RELATIVE (RFC 3986 §6.2.3): only
    // https:443 and http:80 are defaults; http-on-443 names a different
    // resource and must keep its port (review r8)
    val shNoPort = when(shl.startsWith("https://") && shl.endsWith(":443"),
        shl.substr(lit(1), length(shl) - lit(4)))
      .when(shl.startsWith("http://") && shl.endsWith(":80"),
        shl.substr(lit(1), length(shl) - lit(3)))
      .otherwise(shl)
    val params = array_join(
      array_sort(filter(split(qs, "&"), p => p =!= "" && !p.startsWith("utm_"))), "&")
    concat(shNoPort, path,
      when(params === "", lit("")).otherwise(concat(lit("?"), params)))
  }

  /** Messy-URL enrichment for q92: one URL per doc whose raw form varies
    * by doc_id stratum (upper-cased scheme/host, explicit :443, two query-
    * param orders, a utm_source tracker, a fragment) while its canonical
    * form depends only on (doc_id % 7, doc_id % 50) — so canonicalization
    * must reunite each family across all surface variants. */
  private[operators] def rawUrl: Column =
    concat(
      when(col("doc_id") % 4 === 0,
        concat(lit("HTTPS://S"), sid(col("doc_id") % 7), lit(".EXAMPLE.ORG")))
        .otherwise(concat(lit("https://s"), sid(col("doc_id") % 7), lit(".example.org"))),
      when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), sid(col("doc_id") % 50),
      when(col("doc_id") % 2 === 0, lit("?b=2&a=1")).otherwise(lit("?a=1&b=2")),
      when(col("doc_id") % 5 === 0, lit("&utm_source=feed")).otherwise(lit("")),
      when(col("doc_id") % 6 === 0, concat(lit("#sec"), sid(col("doc_id") % 50)))
        .otherwise(lit("")))

  private def urlRawEnrichSql: String =
    """SELECT doc_id, concat(
      |  CASE WHEN doc_id % 4 = 0 THEN concat('HTTPS://S', CAST(doc_id % 7 AS VARCHAR), '.EXAMPLE.ORG') ELSE concat('https://s', CAST(doc_id % 7 AS VARCHAR), '.example.org') END,
      |  CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END,
      |  '/p/', CAST(doc_id % 50 AS VARCHAR),
      |  CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1' ELSE '?a=1&b=2' END,
      |  CASE WHEN doc_id % 5 = 0 THEN '&utm_source=feed' ELSE '' END,
      |  CASE WHEN doc_id % 6 = 0 THEN concat('#sec', CAST(doc_id % 50 AS VARCHAR)) ELSE '' END
      |  ) AS url_raw FROM documents WHERE text IS NOT NULL""".stripMargin

  /** Q92 — URL canonicalization + family census: canonicalize every raw
    * URL, then group by canonical form to report how many surface variants
    * and documents each canonical URL spans and which doc is the family
    * keeper (min doc_id) — the crawl-frontier "have we fetched this
    * already" operator. Plan: one codegen'd canonicalization projection,
    * one census groupBy on the canonical string (uniform keys, map-side
    * partials), one equi-rejoin — the q89 census discipline applied to
    * URLs. */
  def q92UrlCanonical(spark: SparkSession, dir: String): DataFrame = {
    // r16 (the q88 compute-once ruling): the canonicalization projection
    // (4 regexes + splits per URL) fed three evaluations — the family
    // census, the rejoin's left side, and the output sort's range
    // sampling. Pinning the narrow (doc_id, url_raw, url_canon) frame
    // runs it once; both consumers and the sort read the checkpoint.
    val c = Materialize.materialize(
      Tables.documents(spark, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), rawUrl.as("url_raw"))
        .withColumn("url_canon", canonicalizeUrl(col("url_raw"))))
    val fam = c.groupBy(col("url_canon"))
      .agg(
        countDistinct(col("url_raw")).as("n_variants"),
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("keeper"))
    c.join(fam, "url_canon")
      .select(col("doc_id"), col("url_raw"), col("url_canon"),
        col("n_variants"), col("n_docs"),
        (col("doc_id") === col("keeper")).as("is_keeper"))
      .orderBy(col("doc_id").asc)
  }

  // ---- catalog wiring ----

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q84_pii_redact" -> (q84PiiRedact _),
    "q85_domain_census" -> (q85DomainCensus _),
    "q86_domain_cap" -> (q86DomainCap _),
    "q87_quality_rules" -> (q87QualityRules _),
    "q88_web_curation" -> (q88WebCuration _),
    "q89_normalized_dedup" -> (q89NormalizedDedup _),
    "q92_url_canonical" -> (q92UrlCanonical _),
    "q102_quality_classifier" -> (q102QualityClassifier _),
    "q111_classifier_calibration" -> (q111ClassifierCalibration _),
    "q115_dsir_weights" -> (q115DsirWeights _),
    "q118_dsir_resample" -> (q118DsirResample _),
    "q125_doremi_proxy_retrain" -> (q125DoremiProxyRetrain _),
  )

  val oracle: Map[String, String] = Map(
    "q84_pii_redact" ->
      s"""WITH e AS ($piiEnrichSql)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(etext, '$EmailRe')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(etext, '$PhoneRe')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(etext, '$IpRe')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(etext, '$SsnRe')) AS BIGINT) AS n_ssn,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(etext,
         |    '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g'),
         |    '$IpRe', '[IP]', 'g'), '$SsnRe', '[SSN]', 'g') AS redacted
         |FROM e ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q85_domain_census" ->
      s"""WITH e AS ($urlEnrichSql),
         |u AS (SELECT doc_id, unnest(regexp_extract_all(etext, '$UrlRe')) AS url FROM e),
         |d AS (SELECT doc_id, url, regexp_extract(url, '$DomainRe', 1) AS domain FROM u)
         |SELECT domain,
         |  COUNT(*) AS n_urls,
         |  COUNT(DISTINCT doc_id) AS n_docs,
         |  CAST(SUM(CASE WHEN url LIKE 'https://%' THEN 1 ELSE 0 END) AS BIGINT) AS n_https,
         |  (domain IN $blockSqlList) AS blocklisted
         |FROM d GROUP BY domain ORDER BY domain NULLS FIRST""".stripMargin,
    "q86_domain_cap" ->
      s"""WITH e AS ($urlEnrichSql),
         |u AS (SELECT doc_id, unnest(regexp_extract_all(etext, '$UrlRe')) AS url FROM e),
         |d AS (SELECT DISTINCT doc_id, regexp_extract(url, '$DomainRe', 1) AS domain FROM u),
         |rn AS (SELECT domain, doc_id,
         |  row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rank FROM d)
         |SELECT domain, CAST(rank AS INT) AS rank, doc_id FROM rn
         |WHERE rank <= $DomainCap ORDER BY domain NULLS FIRST, rank""".stripMargin,
    "q87_quality_rules" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_len,
         |  CAST(len(list_filter(w, x -> length(x) <= 2)) AS BIGINT) AS n_short,
         |  CAST(len(list_distinct(list_filter(w, x -> x IN ${TextQueries.stopSqlList}))) AS BIGINT) AS n_stop
         | FROM t)
         |SELECT doc_id, n_words,
         |  CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
         |  CAST(n_short AS DOUBLE) / n_words AS short_ratio,
         |  n_stop AS n_stop_distinct,
         |  (n_words >= $QWordMin AND n_words <= $QWordMax) AS r_wordcount,
         |  (sum_len >= $QLenLo * n_words AND sum_len <= $QLenHi * n_words) AS r_meanlen,
         |  (n_short * $QShortDen <= n_words) AS r_short,
         |  (n_stop >= $QStopMin) AS r_stopwords,
         |  (n_words >= $QWordMin AND n_words <= $QWordMax AND sum_len >= $QLenLo * n_words
         |    AND sum_len <= $QLenHi * n_words AND n_short * $QShortDen <= n_words
         |    AND n_stop >= $QStopMin) AS keep
         |FROM s ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q88_web_curation" ->
      s"""WITH e AS ($webEnrichSql),
         |f AS (SELECT doc_id, source,
         |  (len(regexp_extract_all(etext, '$EmailRe')) + len(regexp_extract_all(etext, '$PhoneRe'))
         |    + len(regexp_extract_all(etext, '$IpRe')) + len(regexp_extract_all(etext, '$SsnRe'))) > 0 AS has_pii,
         |  CAST(len(string_split(regexp_replace(regexp_replace(regexp_replace(regexp_replace(etext,
         |    '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g'),
         |    '$IpRe', '[IP]', 'g'), '$SsnRe', '[SSN]', 'g'), ' ')) AS BIGINT) AS n_tokens,
         |  regexp_extract(etext, '$DomainRe', 1) AS first_domain
         |FROM e),
         |q AS (SELECT doc_id,
         |  (n >= $QWordMin AND n <= $QWordMax AND sl >= $QLenLo * n AND sl <= $QLenHi * n
         |    AND ns * $QShortDen <= n AND nst >= $QStopMin) AS q_keep
         |FROM (SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
         |  CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sl,
         |  CAST(len(list_filter(w, x -> length(x) <= 2)) AS BIGINT) AS ns,
         |  CAST(len(list_distinct(list_filter(w, x -> x IN ${TextQueries.stopSqlList}))) AS BIGINT) AS nst
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM e))),
         |c AS (SELECT doc_id, row_number() OVER (PARTITION BY first_domain ORDER BY doc_id) AS rn
         |  FROM (SELECT f.doc_id, f.first_domain FROM f JOIN q USING (doc_id)
         |        WHERE q.q_keep AND f.first_domain <> '')),
         |k AS (SELECT f.source, f.has_pii, f.n_tokens, q.q_keep,
         |  (q.q_keep AND (f.first_domain = '' OR (c.rn IS NOT NULL AND c.rn <= $DomainCap))) AS kept
         |  FROM f JOIN q USING (doc_id) LEFT JOIN c ON c.doc_id = f.doc_id)
         |SELECT source, COUNT(*) AS n_docs,
         |  COUNT(CASE WHEN has_pii THEN 1 END) AS n_pii_docs,
         |  COUNT(CASE WHEN q_keep THEN 1 END) AS n_quality,
         |  COUNT(CASE WHEN q_keep AND NOT kept THEN 1 END) AS n_cap_out,
         |  COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
         |  CAST(COALESCE(SUM(CASE WHEN kept THEN n_tokens END), 0) AS BIGINT) AS tokens_kept
         |FROM k GROUP BY source ORDER BY source NULLS FIRST""".stripMargin,
    "q89_normalized_dedup" ->
      s"""WITH v AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN translate(text, '$Lower', '$Upper')
         |       WHEN doc_id % 3 = 1 THEN concat(text, ' !! ??')
         |       ELSE regexp_replace(text, ' ', '  ', 'g') END AS vtext
         |  FROM documents WHERE text IS NOT NULL),
         |h AS (SELECT doc_id, md5(vtext) AS raw_h,
         |  md5(${AsciiFold.normalizeSql("vtext")}) AS norm_h
         |  FROM v),
         |r AS (SELECT raw_h, COUNT(*) AS raw_n FROM h GROUP BY raw_h),
         |n AS (SELECT norm_h, COUNT(*) AS norm_n, MIN(doc_id) AS norm_keeper
         |  FROM h GROUP BY norm_h)
         |SELECT h.doc_id, r.raw_n, n.norm_n,
         |  (h.doc_id = n.norm_keeper) AS is_canonical_norm,
         |  (n.norm_n > r.raw_n) AS recovered
         |FROM h JOIN r USING (raw_h) JOIN n USING (norm_h)
         |ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q92_url_canonical" ->
      s"""WITH e AS ($urlRawEnrichSql),
         |s1 AS (SELECT doc_id, url_raw, regexp_replace(url_raw, '#.*$$', '') AS nofrag FROM e),
         |s2 AS (SELECT *, split_part(nofrag, '?', 1) AS base, regexp_extract(nofrag, '(?s)\\?(.*)', 1) AS qs FROM s1),
         |s3 AS (SELECT *, regexp_extract(base, '$SchemeHostRe', 1) AS sh FROM s2),
         |s4 AS (SELECT *, translate(sh, '$Upper', '$Lower') AS shl, substring(base, length(sh)+1) AS path FROM s3),
         |s5 AS (SELECT *, CASE WHEN shl LIKE 'https://%' AND shl LIKE '%:443' THEN substring(shl, 1, length(shl)-4)
         |                      WHEN shl LIKE 'http://%' AND shl LIKE '%:80' THEN substring(shl, 1, length(shl)-3) ELSE shl END AS shnp,
         |  array_to_string(list_sort(list_filter(string_split(qs, '&'), p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') AS params FROM s4),
         |c AS (SELECT doc_id, url_raw, concat(shnp, path, CASE WHEN params = '' THEN '' ELSE concat('?', params) END) AS url_canon FROM s5),
         |g AS (SELECT url_canon, COUNT(DISTINCT url_raw) AS n_variants, COUNT(*) AS n_docs, MIN(doc_id) AS keeper FROM c GROUP BY 1)
         |SELECT c.doc_id, c.url_raw, c.url_canon, g.n_variants, g.n_docs, (c.doc_id = g.keeper) AS is_keeper
         |FROM c JOIN g USING (url_canon) ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q102_quality_classifier" ->
      s"""$qcOracleCtes
         |SELECT doc_id, curated, n_grams, score, score >= 0 AS keep
         |FROM sc ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q111_classifier_calibration" ->
      s"""$qcOracleCtes
         |SELECT CAST(score // $QcCalBin AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN curated THEN 1 ELSE 0 END) AS BIGINT) AS n_curated,
         |  CAST(SUM(CASE WHEN curated THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT) AS curated_permille
         |FROM sc GROUP BY bucket ORDER BY bucket NULLS FIRST""".stripMargin,
    "q115_dsir_weights" -> dsirOracleSql,
    "q118_dsir_resample" -> dsirResampleOracleSql,
    "q125_doremi_proxy_retrain" -> doremiRetrainOracleSql,
  )

  /** The hashed-bigram FEATURE prefix (normalize → word bigrams → md5
    * bucket) shared by the q102/q111 classifier oracles and q115's DSIR
    * oracle — one text, so the three cannot drift. Ends at `gb`
    * (doc_id, curated, b). */
  private def qcGramCtes: String =
    s"""WITH d AS (SELECT doc_id, CAST(replace(source, 'src', '') AS INT) < 10 AS curated,
       |  ${AsciiFold.normalizeSql("text")} AS t
       |  FROM documents WHERE text IS NOT NULL),
       |s AS (SELECT doc_id, curated, string_split(t, ' ') AS w FROM d),
       |g AS (SELECT doc_id, curated, unnest(list_transform(range(len(w)-1), i -> w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM s WHERE len(w) >= 2),
       |gb AS (SELECT doc_id, curated, CAST(concat('0x', substr(md5(gram), 1, $QcHexChars)) AS INT) AS b FROM g)""".stripMargin

  /** The DSIR oracle's shared chain (q115 + q118): the feature prefix,
    * per-class gram totals, the per-bucket fixed-point
    * log-likelihood-ratio term (two joint floor((ln a − ln b)·10⁹)
    * int64s subtracted — the engine's exact encoding), crawl-doc sums —
    * ends at `sc` (doc_id, n_grams, logw_sum). */
  private def dsirSumCtes: String =
    s"""$qcGramCtes,
       |tot AS (SELECT SUM(CASE WHEN curated THEN 1 ELSE 0 END) AS nt,
       |               SUM(CASE WHEN curated THEN 0 ELSE 1 END) AS nr FROM gb),
       |tw AS (SELECT b,
       |    CAST(floor((ln(CAST(SUM(CASE WHEN curated THEN 1 ELSE 0 END) + 1 AS DOUBLE)) - ln(CAST((SELECT nt FROM tot) + $QcBuckets AS DOUBLE))) * 1000000000.0) AS BIGINT)
       |  - CAST(floor((ln(CAST(SUM(CASE WHEN curated THEN 0 ELSE 1 END) + 1 AS DOUBLE)) - ln(CAST((SELECT nr FROM tot) + $QcBuckets AS DOUBLE))) * 1000000000.0) AS BIGINT) AS term
       |  FROM gb GROUP BY b),
       |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, CAST(SUM(term) AS BIGINT) AS logw_sum
       |  FROM gb JOIN tw USING (b) WHERE NOT curated GROUP BY doc_id)""".stripMargin

  private def dsirOracleSql: String =
    s"""$dsirSumCtes
       |SELECT doc_id, n_grams, round(CAST(logw_sum AS DOUBLE)/1000000000.0/n_grams, 6) AS logw_nats,
       |  logw_sum >= 0 AS keep
       |FROM sc ORDER BY doc_id NULLS FIRST""".stripMargin

  /** The q125 oracle: the whole retrain loop unrolled into generated
    * per-round CTEs (the q123/q124 discipline — the SQL is produced from
    * the SAME [[TextQueries.DoremiRounds]] constant the engine iterates,
    * so round count cannot drift). Every stage is the engine's exact
    * integer arithmetic: HUGEINT weighted censuses, DIV-10⁶ rescale,
    * joint floor((ln a − ln b)·10⁹) terms over exact-integer arguments,
    * clamp-before-divide excess, truncating renormalize — all operands
    * nonnegative at each `//` so DuckDB and the driver loop agree
    * bit-for-bit. */
  private def doremiRetrainOracleSql: String = {
    val rounds = (1 to TextQueries.DoremiRounds).map { t =>
      val pw = if (t == 1) "w0" else s"w${t - 1}"
      s"""cw$t AS MATERIALIZED (SELECT c.b, CAST(SUM(CAST(w.w AS HUGEINT) * c.cnt) // 1000000 AS BIGINT) AS cw
         |  FROM cen c JOIN $pw w USING (source) GROUP BY c.b),
         |np$t AS MATERIALIZED (SELECT SUM(cw) AS np FROM cw$t),
         |tm$t AS MATERIALIZED (SELECT b, CAST(floor((ln(CAST(cw + 1 AS DOUBLE)) - ln(CAST((SELECT np FROM np$t) + $QcBuckets AS DOUBLE))) * 1000000000.0) AS BIGINT) AS term FROM cw$t),
         |h$t AS MATERIALIZED (SELECT c.source, CAST((-SUM(CAST(c.cnt AS HUGEINT) * t.term)) // n.n_d AS BIGINT) AS h
         |  FROM cen c JOIN tm$t t USING (b) JOIN nd n USING (source) GROUP BY c.source, n.n_d),
         |e$t AS MATERIALIZED (SELECT h.source, h.h, CAST(GREATEST(0, h.h - r.h) // 1000000 AS BIGINT) AS em
         |  FROM h$t h JOIN refh r USING (source)),
         |m$t AS MATERIALIZED (SELECT w.source, CAST(w.w * (${TextQueries.DoremiEtaScale} + e.em) AS BIGINT) AS m, e.h, e.em
         |  FROM $pw w JOIN e$t e USING (source)),
         |w$t AS MATERIALIZED (SELECT m.source,
         |  CASE WHEN (SELECT SUM(m) FROM m$t) > 0
         |       THEN CAST(m.m * 1000000 // GREATEST(1, (SELECT SUM(m) FROM m$t)) AS BIGINT)
         |       ELSE w.w END AS w
         |  FROM m$t m JOIN $pw w USING (source))""".stripMargin
    }.mkString(",\n")
    val outs = (1 to TextQueries.DoremiRounds).map { t =>
      s"""SELECT m.source, $t AS round, w.w AS weight_ppm, m.h AS h_fix, m.em AS excess_milli
         |FROM w$t w JOIN m$t m USING (source)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH d AS MATERIALIZED (SELECT source,
       |  ${AsciiFold.normalizeSql("text")} AS t
       |  FROM documents WHERE text IS NOT NULL),
       |s AS MATERIALIZED (SELECT source, string_split(t, ' ') AS w FROM d),
       |g AS MATERIALIZED (SELECT source, unnest(list_transform(range(len(w)-1), i -> w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM s WHERE len(w) >= 2),
       |cen AS MATERIALIZED (SELECT source, CAST(concat('0x', substr(md5(gram), 1, $QcHexChars)) AS INT) AS b,
       |  CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
       |nd AS MATERIALIZED (SELECT source, SUM(cnt) AS n_d FROM cen GROUP BY source),
       |reft AS MATERIALIZED (SELECT c.source, c.b, c.cnt,
       |  CAST(floor((ln(CAST(c.cnt + 1 AS DOUBLE)) - ln(CAST(n.n_d + $QcBuckets AS DOUBLE))) * 1000000000.0) AS BIGINT) AS term
       |  FROM cen c JOIN nd n USING (source)),
       |refh AS MATERIALIZED (SELECT r.source, CAST((-SUM(CAST(r.cnt AS HUGEINT) * r.term)) // n.n_d AS BIGINT) AS h
       |  FROM reft r JOIN nd n USING (source) GROUP BY r.source, n.n_d),
       |w0 AS MATERIALIZED (SELECT source, CAST(1000000 // (SELECT COUNT(*) FROM nd) AS BIGINT) AS w FROM nd),
       |$rounds
       |SELECT source, CAST(round AS INT) AS round, weight_ppm, h_fix, excess_milli FROM (
       |SELECT w.source, 0 AS round, w.w AS weight_ppm, r.h AS h_fix, CAST(0 AS BIGINT) AS excess_milli
       |FROM w0 w JOIN refh r USING (source)
       |UNION ALL
       |$outs)
       |ORDER BY round, source NULLS FIRST""".stripMargin
  }

  /** The q118 oracle: the shared DSIR sums plus the Gumbel key — the
    * SAME u-fold text as the engine, the same strictly-interior dyadic
    * uniform, the same floored nano-nat Gumbel. */
  private def dsirResampleOracleSql: String = {
    val u = AnalyticsQueries.uFoldSql(
      "md5(CAST(doc_id AS VARCHAR) || ':gumbel')")
    s"""$dsirSumCtes,
       |gk AS (SELECT doc_id, n_grams, logw_sum, CAST($u AS BIGINT) AS u_int FROM sc),
       |ge AS (SELECT doc_id, n_grams, logw_sum,
       |  GREATEST(1, CAST(floor(-ln((2*u_int + 1)/8589934592.0) * 1000000000.0) AS BIGINT)) AS e_fix FROM gk),
       |g2 AS (SELECT doc_id, n_grams, logw_sum,
       |  CAST(floor((ln(1000000000.0) - ln(CAST(e_fix AS DOUBLE))) * 1000000000.0) AS BIGINT) AS gumbel_nano FROM ge),
       |r AS (SELECT *, row_number() OVER (ORDER BY logw_sum + gumbel_nano DESC, doc_id) AS rank FROM g2)
       |SELECT doc_id, n_grams, logw_sum, gumbel_nano, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= $DsirSampleK ORDER BY rank""".stripMargin
  }

  /** The q102 oracle's CTE prefix (shared verbatim with q111's): the
    * feature prefix plus labels, fixed-point weights, per-doc scores —
    * ends at `sc` (doc_id, curated, score, n_grams). Both engines'
    * `score // bin` is truncation toward zero (DuckDB `//` truncates on
    * integers like Spark's `div`), so signed bucket ids agree. */
  private def qcOracleCtes: String =
    s"""$qcGramCtes,
       |tot AS (SELECT SUM(CASE WHEN curated THEN 1 ELSE 0 END) AS tp,
       |               SUM(CASE WHEN curated THEN 0 ELSE 1 END) AS tn FROM gb),
       |wt AS (SELECT b,
       |    (SUM(CASE WHEN curated THEN 1 ELSE 0 END) * $QcScale) // (SELECT tp FROM tot)
       |  - (SUM(CASE WHEN curated THEN 0 ELSE 1 END) * $QcScale) // (SELECT tn FROM tot) AS w
       |  FROM gb GROUP BY b),
       |sc AS (SELECT doc_id, curated, CAST(SUM(w) AS BIGINT) AS score, CAST(COUNT(*) AS BIGINT) AS n_grams
       |  FROM gb JOIN wt USING (b) GROUP BY doc_id, curated)""".stripMargin
}
