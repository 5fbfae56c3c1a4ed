package graft.operators

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

/** Meta-property over the whole catalog: every query entry is
  * run-to-run deterministic (collected rows identical across two
  * executions at sf0.001). The oracle gate can't see nondeterminism that
  * happens to hash equal per run — this does.
  */
class CatalogDeterminismSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  /** q34 lists freshly-saved files: its modified_time/size columns are
    * wall-clock-dependent by nature, so compare its stable columns only. */
  private val unstableColumns = Map("q34_saved_runs_list" -> Set("modified_time", "size_bytes"))

  test("a repeated run of catalog entries reuses their generated classes") {
    // Spark keeps compiled classes in one JVM-wide LRU cache (default 100
    // entries). These entries compile about 230 distinct classes per run,
    // so a cache at the default thrashes and recompiles most of them on
    // the repeat; Sessions.build sizes it to hold the catalog. The
    // cache is sized at its first use, so the session must exist before
    // CodeGenerator is touched. Earlier suites may have cached these
    // classes: start from an empty cache.
    assert(!spark.sparkContext.isStopped)
    val cache = CodeGenerator.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    val classes = cache.invoke(CodeGenerator)
    classes.getClass.getMethod("invalidateAll").invoke(classes)
    // entries whose generated code is the same on every run: some others
    // (q120/q124 DoReMi, q112, q116) vary, so part of their code
    // recompiles at any cache size
    val entries = Seq("q94_perplexity", "q95_pagerank", "q101_bpe_train",
      "q103_video_fingerprint", "q110_minhash_audit",
      "q122_neardup_canonical_pairs")
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      entries.foreach { k =>
        SparkEntry.queries(k)(spark, dir).write.format("noop").mode("overwrite").save()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles()
    val repeat = compiles()
    info(s"first run compiled $first classes, the repeat $repeat")
    assert(first > 150, s"the set must outgrow the default cache: $first classes")
    assert(repeat <= first / 10, s"repeat recompiled $repeat of $first classes")
  }

  test("catalog registers every query key exactly once") {
    // SparkEntry.queries is SparkEntry.catalog.toMap: a key listed twice
    // (two modules reusing a name) would silently drop one entry from
    // Bench, Verify and this suite alike, so pin it here
    val keys = SparkEntry.catalog.map(_._1)
    val twice = keys.diff(keys.distinct)
    assert(twice.isEmpty, s"keys registered more than once: $twice")
    assert(SparkEntry.queries.size === keys.length)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name is run-to-run deterministic") {
      def run(): Seq[String] = {
        val df = fn(spark, dir)
        val drop = unstableColumns.getOrElse(name, Set.empty)
        val kept = df.columns.filterNot(drop).toSeq
        df.select(kept.head, kept.tail: _*).collect().map(_.toString).toSeq
      }
      val a = run()
      val b = run()
      assert(a == b, s"$name differs across runs")
      assert(a.nonEmpty || name == "q07_anti_join", s"$name returned no rows")
    }
  }
}
