package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Engine
import graft.operators.{AnalyticsQueries, AsOfQueries, CurationPipeline, DedupQueries, FunctionQueries, GraphQueries, LineCurationQueries, RelationalQueries, SimilarityQueries, TextQueries, WebCurationQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator name -> (spark, sfDir) -> DataFrame; every entry
  * with a DuckDB-expressible batch form also appears in `oracleSql` with
  * column names/types aligned (the driver sorts columns by name and hashes
  * values, so aliases must match exactly on both sides).
  */
object SparkEntry {

  /** Flagship query on sf0.001; driver smoke-checks rows>0. r3: the corpus
    * curation pipeline (dedup -> quality gate -> stratified sample -> token
    * budget in one plan) — the engine's identity piece. */
  def entry(spark: SparkSession): DataFrame =
    CurationPipeline.q52Curation(spark, "/root/testdata/sf0.001")

  /** One (key, fn) pair per implemented operator from SURVEY.md §2, in
    * registration order. `queries` is its map; a key listed twice here
    * would silently lose one entry there (CatalogDeterminismSpec pins
    * every key unique). */
  private[graft] def catalog: Seq[(String, (SparkSession, String) => DataFrame)] =
    RelationalQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++
      TextQueries.all ++ FunctionQueries.all ++ AsOfQueries.all ++
      AnalyticsQueries.all ++ CurationPipeline.all ++ WebCurationQueries.all ++
      LineCurationQueries.all ++ GraphQueries.all ++ Seq(
        // Estimator sweep: non-SQL-expressible (rows-only check); the kernel
        // is value-pinned by the ScalaTest parity suite instead.
        "q21_estimator_sweep" -> (Engine.sweepQuery _),
        // Kernel non-loop passes over the same grid: ORACLE-CHECKED (r13 —
        // the straight-line sizing math DuckDB can re-derive; the fixpoint
        // stays rows-only in q21).
        "q121_kernel_passes" -> (Engine.kernelPassesQuery _),
        // A8 TM fixpoint over the same grid: ORACLE-CHECKED (r14 — the
        // <=12-iteration loop unrolls into generated CTE stages; only the
        // data-dependent placement/growth loops stay rows-only in q21).
        "q123_tm_fixpoint" -> (Engine.tmFixpointQuery _),
        // A13/A14 greedy packing + node growth over the placement grid:
        // ORACLE-CHECKED (r16 — the greedy is slot-sort-equivalent because
        // all non-JM nodes are identical, and growth has closed forms; the
        // last estimator math that was rows-only in q21).
        "q127_greedy_placement" -> (Engine.placementQuery _),
        // B5 list pipeline over a deterministic demo run store (rows-only:
        // file sizes/mtimes are machine-dependent; pinned by RunStoreSpec).
        "q34_saved_runs_list" -> (Engine.savedRunsListQuery _),
        // Multimodal decode census (r4: oracle-checked — the deterministic
        // fake encoder lets DuckDB recompute expected metadata from
        // documents).
        "q38_media_meta" -> (graft.multimodal.MultimodalOps.q38MediaMeta _),
        // Perceptual image near-dup (r9: dHash over decoded BMP pixels,
        // banded LSH + exact hamming verify — oracle re-derives the pixel
        // arithmetic from the deterministic layout).
        "q98_image_phash" -> (graft.multimodal.MultimodalOps.q98ImagePhash _),
        // Audio fingerprint near-dup (r9: the WAV twin of q98 — energy-
        // envelope hash through the real header, same banded census).
        "q99_audio_fingerprint" -> (graft.multimodal.MultimodalOps.q99AudioFingerprint _),
        // Video fingerprint near-dup (r10: frame-sampled twin over the
        // GRFT multi-frame stub — per-frame envelope hash, same census).
        "q103_video_fingerprint" -> (graft.multimodal.MultimodalOps.q103VideoFingerprint _),
        // PNG perceptual near-dup (r15: q98 through a REAL compressed
        // container — chunk walk, CRC32, Inflater, all five defilters).
        "q126_png_phash" -> (graft.multimodal.MultimodalOps.q126PngPhash _))

  /** The catalog by key: operator name -> (spark, sfDir) -> DataFrame. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = catalog.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ DedupQueries.oracle ++
      SimilarityQueries.oracle ++ TextQueries.oracle ++ FunctionQueries.oracle ++
      AsOfQueries.oracle ++ AnalyticsQueries.oracle ++ CurationPipeline.oracle ++
      WebCurationQueries.oracle ++ LineCurationQueries.oracle ++
      GraphQueries.oracle +
      ("q121_kernel_passes" -> Engine.kernelPassesOracleSql) +
      ("q123_tm_fixpoint" -> Engine.tmFixpointOracleSql) +
      ("q127_greedy_placement" -> Engine.placementOracleSql) +
      ("q38_media_meta" -> graft.multimodal.MultimodalOps.q38Oracle) +
      ("q98_image_phash" -> graft.multimodal.MultimodalOps.q98Oracle) +
      ("q99_audio_fingerprint" -> graft.multimodal.MultimodalOps.q99Oracle) +
      ("q103_video_fingerprint" -> graft.multimodal.MultimodalOps.q103Oracle) +
      ("q126_png_phash" -> graft.multimodal.MultimodalOps.q126Oracle)
}
