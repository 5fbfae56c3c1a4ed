package graft.operators

import graft.{SparkEntry, SparkTestSession}
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** A corpus rewritten in place is never served from artifacts built over
  * its old contents: [[SessionArtifacts]] fingerprints each artifact's
  * table file and rebuilds on a change, with no invalidation call. */
class SessionArtifactsSpec extends AnyFunSuite with SparkTestSession {

  // signed uniques; tokenizer; quantized + codebooks + encoded PQ corpus
  private val entries = Seq("q24_dedup_jaccard", "q104_bpe_encode", "q82_ann_ivfpq")

  private def rows(dir: Path): Map[String, Seq[String]] = entries.map { e =>
    e -> SparkEntry.queries(e)(spark, dir.toString).collect().map(_.toString).toSeq.sorted
  }.toMap

  private def copy(from: Path, to: Path): Unit =
    Files.write(to, Files.readAllBytes(from))

  test("an in-place corpus rewrite rebuilds every artifact derived from it") {
    val dir = Files.createTempDirectory("graft_rewrite")
    Files.list(Paths.get("/root/testdata/sf0.001"))
      .forEach(f => copy(f, dir.resolve(f.getFileName)))
    try {
      val pinnedBefore = SessionArtifacts.pinnedIds
      val warm = rows(dir)
      val oldPins = SessionArtifacts.pinnedIds -- pinnedBefore
      assert(oldPins.nonEmpty, "the warm run must pin its frames")

      Seq("documents", "embeddings").foreach { t =>
        copy(Paths.get(s"/root/testdata/sf0.01/$t.parquet"), dir.resolve(s"$t.parquet"))
      }
      val fresh = rows(dir)
      val live = spark.sparkContext.getPersistentRDDs.keySet
      assert((oldPins & live).isEmpty,
        s"stale pinned frames still persisted: ${oldPins & live}")

      SessionArtifacts.clear()
      val cold = rows(dir)
      entries.foreach { e =>
        assert(fresh(e) == cold(e), s"$e served stale artifacts after the rewrite")
        assert(fresh(e) != warm(e), s"$e: the rewrite must change its rows")
      }
    } finally {
      SessionArtifacts.invalidate(spark, dir.toString)
      Files.list(dir).forEach(f => Files.delete(f))
      Files.delete(dir)
    }
  }
}
