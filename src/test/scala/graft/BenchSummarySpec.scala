package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-handshake contract for graft.Bench's FINAL stdout line
  * (VERDICT r14 #1): the driver captures only ~2 KB of process tail, and
  * five consecutive rounds of `parsed: null` traced to the full 124-entry
  * per-query JSON (~3.5 KB) being truncated mid-object. The compact
  * summary is the one line the driver is guaranteed to see whole, so its
  * size budget and JSON shape are contracts, not style.
  */
class BenchSummarySpec extends AnyFunSuite {

  /** The full current catalog as a worst-case results vector. */
  private def fullResults: Seq[(String, Double)] =
    SparkEntry.queries.keys.toSeq.sorted.map(_ -> 123.4567)

  private def paired = Bench.Paired(
    fragment = "", sparkTotal = 12345.6789, duckTotal = 9876.5432,
    n = 122, ratio = 1.250, ratioExNaive = Some(0.931),
    ratioExTva = Some(0.912))

  /** The entry keys of a summary line's `queries` object, in line order. */
  private def queryKeys(line: String): Seq[String] = {
    val qBlock = """"queries":\{(.*?)\}""".r.findFirstMatchIn(line)
      .map(_.group(1)).getOrElse(fail(s"no queries object in $line"))
    """"([^"]+)":""".r.findAllMatchIn(qBlock).map(_.group(1)).toSeq
  }

  test("compact summary stays under 1 KB at full catalog size") {
    val line = Bench.compactSummary(fullResults, Nil, "0.1",
      loadBefore = 31.97, loadAfter = 32.01, Some(paired),
      cpus = 32, master = "local[32]")
    assert(line.getBytes("UTF-8").length < 1024,
      s"compact line must fit the driver's tail capture, was ${line.length}B: $line")
  }

  test("compact summary stays bounded even when many queries fail") {
    val failed = SparkEntry.queries.keys.toSeq.sorted // disaster run: all fail
    val line = Bench.compactSummary(fullResults, failed, "1.0",
      loadBefore = 0.0, loadAfter = 0.0, Some(paired),
      cpus = 8, master = "local[8]")
    assert(line.getBytes("UTF-8").length < 1400,
      s"failed-list must be truncated, was ${line.length}B")
    assert(line.contains("\"failed_n\":" + failed.size))
  }

  test("compact summary is one line of well-formed JSON with the driver's fields") {
    val line = Bench.compactSummary(fullResults, Seq("q99_x"), "0.1",
      31.5, 30.2, Some(paired), cpus = 32,
      master = "local-cluster[2,16,8192]")
    assert(!line.contains("\n"))
    // structural JSON check without a JSON library: balanced braces/brackets
    // outside strings, and the documented driver fields present
    var depth = 0; var inStr = false; var esc = false
    line.foreach { c =>
      if (esc) esc = false
      else if (inStr) { if (c == '\\') esc = true else if (c == '"') inStr = false }
      else c match {
        case '"' => inStr = true
        case '{' | '[' => depth += 1
        case '}' | ']' => depth -= 1
        case _ => ()
      }
      assert(depth >= 0)
    }
    assert(depth == 0 && !inStr, s"unbalanced JSON: $line")
    Seq("\"metric\":\"total\"", "\"value\":", "\"unit\":\"sec\"", "\"sf\":\"0.1\"",
      "\"queries\":{", "\"ratio\":1.250", "\"ratio_ex_naive\":0.931",
      "\"ratio_ex_tva\":0.912", "\"detail\":\"target/bench.json\"",
      // VERDICT r16 #1: the scaling probe is only adjudicable when the
      // line itself says what it ran with
      "\"cpus\":32", "\"master\":\"local-cluster[2,16,8192]\"")
      .foreach(f => assert(line.contains(f), s"missing $f in $line"))
  }

  test("compact summary headline queries are real catalog keys") {
    val line = Bench.compactSummary(fullResults, Nil, "0.1", 0, 0,
      None, cpus = 32, master = "local[32]")
    val keys = queryKeys(line)
    // all 14 headline keys must resolve — a stale key silently drops out of
    // the line (r15: q12_window_rank was a phantom name and the line
    // shipped with 5 entries before this pin; r17 expanded 6 -> 14 per
    // VERDICT r16 #1, keeping the original 6)
    Bench.headlineKeys.foreach(k =>
      assert(SparkEntry.queries.contains(k), s"headline key $k not in catalog"))
    assert(Bench.headlineKeys.size == 14, s"headline keys changed: ${Bench.headlineKeys}")
    // a full run lists exactly the headline set, nothing in its place
    assert(keys == Bench.headlineKeys, s"headline keys drifted from the catalog: $keys")
    Seq("q01_scan_count", "q09_hash_agg", "q12_topk_per_group",
      "q22_dedup_exact_hash", "q23_dedup_minhash_lsh", "q27_ann_lsh")
      .foreach(k => assert(keys.contains(k), s"original headline key $k removed"))
    // a full run whose headline entry failed leaves a gap, not a stand-in
    val gapLine = Bench.compactSummary(fullResults.filterNot(_._1 == "q95_pagerank"),
      Seq("q95_pagerank"), "0.1", 0, 0, None, cpus = 32, master = "local[32]")
    assert(queryKeys(gapLine) == Bench.headlineKeys.filterNot(_ == "q95_pagerank"), gapLine)
  }

  test("subset summary lists the subset's own entries when it has no headline key") {
    def queries(results: Seq[(String, Double)]): Seq[String] =
      queryKeys(Bench.compactSummary(results, Nil, "0.1", 0, 0, None,
        cpus = 4, master = "local[4]"))
    // no headline key among them: every entry, in run order
    assert(queries(Seq("q97_pmi_pairs" -> 1.5, "q109_bigram_lm" -> 2.25)) ==
      Seq("q97_pmi_pairs", "q109_bigram_lm"))
    // a subset with a headline key lists only its headline keys
    assert(queries(Seq("q109_bigram_lm" -> 2.0, "q112_trigram_lm" -> 3.0,
      "q94_perplexity" -> 1.0)) == Seq("q112_trigram_lm"))
    // a large non-headline subset stays within the headline count
    val many = fullResults.map(_._1).filterNot(Bench.headlineKeys.contains)
      .take(40).map(_ -> 1.0)
    assert(queries(many) == many.map(_._1).take(14))
  }

  test("unpaired summary omits ratio fields but keeps the core shape") {
    val line = Bench.compactSummary(fullResults, Nil, "0.01", 1, 1,
      None, cpus = 32, master = "local[32]")
    // field-name match, not a bare substring: the headline key
    // q88_web_cuRATIOn would otherwise trip this
    assert(!line.contains("\"ratio\":") && !line.contains("\"ratio_ex"))
    assert(line.contains("\"metric\":\"total\""))
    assert(line.getBytes("UTF-8").length < 1024)
  }

  test("SPARK_GRAFT_CPUS parses to a positive core count, default 32") {
    def cpus(raw: Option[String]) = Env.parsePositive("SPARK_GRAFT_CPUS", raw, 32)
    assert(cpus(None) == Right(32))
    assert(cpus(Some("8")) == Right(8))
    assert(cpus(Some(" 8 ")) == Right(8))
    // the other reads keep their own defaults
    assert(Env.parsePositive("SPARK_GRAFT_WARMUP", None, 1) == Right(1))
    assert(Env.parsePositive("SPARK_GRAFT_WARMUP", Some("3"), 1) == Right(3))
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_WARMUP");
         bad <- Seq("eight", "8x", "", "0", "-4")) {
      val err = Env.parsePositive(name, Some(bad), 1)
      assert(err == Left(s"$name must be a positive integer, got '$bad'"), s"$name='$bad' -> $err")
    }
  }

  test("SPARK_GRAFT_ONLY keys are trimmed and every unknown key is named") {
    val known = Set("q95_pagerank", "q101_bpe_train")
    def only(raw: String) =
      Env.parseNames("SPARK_GRAFT_ONLY", raw.split(',').toSeq, known)
    assert(only("q95_pagerank, q101_bpe_train") ==
      Right(Set("q95_pagerank", "q101_bpe_train")))
    assert(only(" q95_pagerank ,") == Right(Set("q95_pagerank")))
    assert(only("q95_pagerank,q101_bpe,q9") ==
      Left("SPARK_GRAFT_ONLY names unknown catalog entries: q101_bpe, q9"))
    assert(only(" , ") == Left("SPARK_GRAFT_ONLY names no catalog entry"))
    // the real catalog: a headline key passes, a misspelt one does not
    val catalog = SparkEntry.queries.keySet
    assert(Env.parseNames("x", Seq("q95_pagerank"), catalog).isRight)
    assert(Env.parseNames("x", Seq("q95_page_rank"), catalog).isLeft)
  }

  test("bench exits at once on a malformed SPARK_GRAFT_CPUS") {
    // before a session is built: the run must not be spent first
    val sfDir = java.nio.file.Files.createTempDirectory("bench-sf")
    val result =
      try ChildJvm.run("graft.Bench", timeoutS = 60, env = Map(
        "SPARK_GRAFT_CPUS" -> "eight",
        "SPARK_GRAFT_SF_DIR" -> sfDir.toString))
      finally java.nio.file.Files.delete(sfDir)
    assert(result.isDefined, "bench ran on instead of failing")
    val (rc, out) = result.get
    assert(rc == 2, out)
    assert(out.contains("SPARK_GRAFT_CPUS must be a positive integer, got 'eight'"), out)
  }

  test("codegen block renders per-entry arrays with no nested braces") {
    val block = Bench.codegenJson(Seq(
      "q01_scan_count" -> Array(12.0, 190.26, 0.0, 0.0),
      "q95_pagerank" -> Array(11.0, 402.0, 3.0, 41.55)))
    assert(block ==
      """"codegen":{"q01_scan_count":[12,190.3,0,0.0],"q95_pagerank":[11,402.0,3,41.6]}""")
    // the session-artifact counters ride beside it in the same flat shape
    val artifacts = Bench.artifactsJson(Seq(
      "q24_dedup_jaccard/signed_uniques" -> Seq(3L, 1L, 0L),
      "q82_ann_ivfpq/quantized" -> Seq(4L, 0L, 0L)))
    assert(artifacts ==
      """"artifacts":{"q24_dedup_jaccard/signed_uniques":[3,1,0],"q82_ann_ivfpq/quantized":[4,0,0]}""")
  }
}
