package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential net for the corpus-path tokenizer helpers
  * ([[TextQueries.tokens]], [[TextQueries.tokenNeighbours]],
  * [[TextQueries.adjacentGrams]]) against the lambda forms they replaced,
  * which are kept here as the reference: same arrays and grams, in the same
  * order, on edge-case strings and over a generated corpus; and every
  * helper expression stays inside whole-stage codegen. */
class TokenHelpersSpec extends AnyFunSuite with SparkTestSession {
  import TextQueries.{adjacentGrams, tokenNeighbours, tokens}

  private val LambdaTokens = "filter(split(text, ' '), x -> x <> '')"

  /** The retired gram lambda; callers kept `size(toks) >= n` in front of
    * it, since `sequence` counts down on shorter arrays. */
  private def lambdaGrams(n: Int): String = {
    val fields = Seq("a", "b", "c").take(n).zipWithIndex
      .map { case (f, k) => s"element_at(toks, i + $k) AS $f" }.mkString(", ")
    s"transform(sequence(1, size(toks) - ${n - 1}), i -> struct($fields))"
  }

  private val edgeCases: Seq[String] = Seq(null, "", " ", "   ", "a", " a",
    "a ", "a b", "a  b", " a b ", "a b c", "  a   b  c  ", "a b c d e",
    "héllo wörld grüß gott", "你好 世界 x", "ß  ñ")

  private def edgeDocs: DataFrame = {
    import spark.implicits._
    edgeCases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  /** 2000 generated docs, computed inside the plan (codegen'd, unlike a
    * local relation the optimizer folds): each is up to eight pieces
    * joined by single spaces, where a piece may be empty or a space, so
    * token counts run from 0 to 8 with doubled, leading and trailing
    * spaces; every tenth text is null. */
  private def corpusDocs: DataFrame = {
    val pieces = typedLit(Seq("a", "", "bb", " ", "héllo", "你好", "x", "ß"))
    val text = concat_ws(" ", (0 until 8).map { k =>
      when(lit(k) < pmod(col("id"), lit(9)),
        element_at(pieces, (pmod(hash(col("id"), lit(k)), lit(8)) + 1).cast("int")))
        .otherwise(lit(""))
    }: _*)
    spark.range(2000).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(10)) === 0, lit(null).cast("string")).otherwise(text).as("text"))
  }

  private def byDoc(df: DataFrame): Map[Long, Seq[Row]] =
    df.collect().toSeq.groupBy(_.getLong(0))

  private def helperGrams(docs: DataFrame, n: Int): DataFrame =
    adjacentGrams(docs.select(col("doc_id"), tokens(col("text")).as("toks")),
      n, "doc_id")

  private def lambdaGramRows(docs: DataFrame, n: Int): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), expr(LambdaTokens).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(lambdaGrams(n))).as("g"))
      .select(col("doc_id") +: Seq("a", "b", "c").take(n).map(f => col(s"g.$f")): _*)

  test("tokens match the lambda filter on edge-case strings, null included") {
    val got = edgeDocs
      .select(col("doc_id"), tokens(col("text")).as("h"), expr(LambdaTokens).as("l"))
      .collect()
    assert(got.length == edgeCases.size)
    got.foreach { r =>
      val text = edgeCases(r.getLong(0).toInt)
      if (text == null) assert(r.isNullAt(1) && r.isNullAt(2))
      else {
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"text='$text'")
        assert(r.getSeq[String](1) == text.split(" ").toSeq.filter(_.nonEmpty))
      }
    }
  }

  test("adjacent 2- and 3-grams match the lambda form, in position order") {
    for (n <- Seq(2, 3); docs <- Seq(edgeDocs, corpusDocs)) {
      val helper = byDoc(helperGrams(docs, n))
      assert(helper == byDoc(lambdaGramRows(docs, n)), s"n=$n")
      assert(helper.nonEmpty)
    }
    // the 1-, 2- and 3-token edge docs give 0/1/2 pairs and 0/0/1 trigrams
    val pairs = byDoc(helperGrams(edgeDocs, 2))
    val tris = byDoc(helperGrams(edgeDocs, 3))
    def id(t: String) = edgeCases.indexOf(t).toLong
    assert(!pairs.contains(id("a")) && !tris.contains(id("a")))
    assert(pairs(id("a  b")).map(r => (r.getString(1), r.getString(2))) == Seq(("a", "b")))
    assert(!tris.contains(id(" a b ")))
    assert(pairs(id("  a   b  c  ")).map(r => (r.getString(1), r.getString(2))) ==
      Seq(("a", "b"), ("b", "c")))
    assert(tris(id("你好 世界 x")).map(r => (r.getString(1), r.getString(2), r.getString(3))) ==
      Seq(("你好", "世界", "x")))
  }

  test("token neighbours match a guarded lambda at every position") {
    val reference = """transform(sequence(1, size(toks)), i -> struct(
      |  i - 1 AS i, element_at(toks, i) AS a,
      |  CASE WHEN i < size(toks) THEN element_at(toks, i + 1) END AS b,
      |  CASE WHEN i + 1 < size(toks) THEN element_at(toks, i + 2) END AS c))""".stripMargin
    for (docs <- Seq(edgeDocs, corpusDocs)) {
      val helper = tokenNeighbours(
        docs.select(col("doc_id"), tokens(col("text")).as("toks")), 2, "doc_id")
      val lambda = docs.filter(col("text").isNotNull)
        .select(col("doc_id"), expr(LambdaTokens).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), explode(expr(reference)).as("g"))
        .select(col("doc_id"), col("g.i").cast("int"), col("g.a"), col("g.b"), col("g.c"))
      val h = byDoc(helper)
      assert(h.nonEmpty && h == byDoc(lambda))
    }
  }

  test("helper plans hold no CodegenFallback or higher-order function, generator inside codegen") {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val toks = corpusDocs.select(col("doc_id"), tokens(col("text")).as("toks"))
    for (df <- Seq(toks, adjacentGrams(toks, 2, "doc_id"),
        adjacentGrams(toks, 3, "doc_id"), tokenNeighbours(toks, 1, "doc_id"))) {
      val plan = unwrap(df.queryExecution.executedPlan)
      val exprs = plan.collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })
      assert(exprs.exists(_.prettyName == "array_remove"), plan)
      val fallback = exprs.filter(e =>
        e.isInstanceOf[CodegenFallback] || e.isInstanceOf[HigherOrderFunction])
      assert(fallback.isEmpty, s"interpreted expressions ${fallback.map(_.prettyName)}:\n$plan")
      val generators = plan.collect { case g: GenerateExec => g }
      val inCodegen = plan.collect { case w: WholeStageCodegenExec =>
        w.child.collect { case g: GenerateExec => g } }.flatten
      assert(generators.size == inCodegen.size, s"generator outside codegen:\n$plan")
    }
  }
}
