package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** The shared [[Materialize]] helper: every materialization site (minhash
  * signature table, rarity tf collapse, IVF quantized frame, the
  * connected-components rounds) must flip from executor-local blocks to
  * RELIABLE checkpoint files when `spark.graft.checkpointDir` is set, with
  * byte-identical results — the cluster-restartability guarantee
  * (VERDICT r5 next-round #1).
  */
class MaterializeSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  /** Count reliable-checkpoint part files under `d`, recursively. */
  private def partFiles(d: java.io.File): Long =
    if (d.isDirectory) d.listFiles().map(partFiles).sum
    else if (d.getName.startsWith("part-")) 1L else 0L

  /** Run `q` twice — default (localCheckpoint) and reliable mode — and
    * assert identical output plus real checkpoint part files on disk. */
  private def assertReliableParity(name: String)(
      q: () => org.apache.spark.sql.DataFrame): Unit = {
    val baseline = q().collect().map(_.toString).sorted
    val ckptDir =
      java.nio.file.Files.createTempDirectory(s"graft_ckpt_$name").toString
    spark.conf.set(Materialize.ConfKey, ckptDir)
    try {
      val reliable = q().collect().map(_.toString).sorted
      assert(reliable.sameElements(baseline),
        s"$name: reliable-mode output differs from default mode")
      assert(partFiles(new java.io.File(ckptDir)) > 0,
        s"$name: reliable mode must persist checkpoint part files")
    } finally spark.conf.unset(Materialize.ConfKey)
  }

  test("minhash signature table checkpoints reliably (q23)") {
    assertReliableParity("q23")(() => DedupQueries.q23MinhashLsh(spark, dir))
  }

  // q72's tf checkpoint retired in r13 (the occurrence-grain rewrite has
  // no Materialize to flip); the reliable-mode contract stays covered by
  // the signature-table / IVF / CC cases below

  test("IVF quantized frame checkpoints reliably (q42)") {
    // the quantized frame is a session artifact — clear it
    // so BOTH legs materialize fresh under their own checkpoint mode (a
    // warm cache would serve the default-mode localCheckpoint and write
    // nothing reliable; mode is fixed at cache-fill time by design)
    SessionArtifacts.clear()
    try assertReliableParity("q42") { () =>
      SessionArtifacts.clear()
      SimilarityQueries.q42IvfAnn(spark, dir)
    } finally SessionArtifacts.clear()
  }

  test("switching to a checkpoint dir that PREFIXES the old one still " +
      "re-points the checkpoint location (no substring false-positive)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ckpfx").toString
    val (dirLong, dirShort) = (s"$base/ck2", s"$base/ck")
    try {
      spark.conf.set(Materialize.ConfKey, dirLong)
      Materialize.materialize(Seq(1, 2).toDF("v")).count()
      spark.conf.set(Materialize.ConfKey, dirShort)
      Materialize.materialize(Seq(3, 4).toDF("v")).count()
      val current = spark.sparkContext.getCheckpointDir.get
      assert(new org.apache.hadoop.fs.Path(current).getParent.toUri.getPath
        == dirShort,
        s"checkpoints must land under $dirShort, still pointing at $current")
    } finally spark.conf.unset(Materialize.ConfKey)
  }

  test("pinned materialization survives the bench's unpersist sweep; " +
      "unpinned frames are swept") {
    import spark.implicits._
    // the session-cache shape: one pinned frame that later entries reuse
    SessionArtifacts.clear()
    val cached = DedupQueries.signedUniquesFor(spark, dir)
    val before = cached.count()
    assert(before > 0)
    val unpinned = Materialize.materialize(Seq(1, 2, 3).toDF("v"))
    // the sweep Bench runs after every entry
    SessionArtifacts.sweep(spark, blocking = true)
    // the pinned frame is still consumable (an unpinned localCheckpoint
    // would die here: truncated lineage cannot recompute — the r12
    // bench failure this guards); same rows as before the sweep
    assert(cached.count() == before)
    // and the sweep DID do its job on the per-query garbage
    val pinned = SessionArtifacts.pinnedIds
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(persisted.forall(pinned),
      s"unpinned ids survived the sweep: ${persisted.filterNot(pinned)}")
    unpinned // silence unused warning; its blocks are gone by design
    SessionArtifacts.clear()
  }
}
