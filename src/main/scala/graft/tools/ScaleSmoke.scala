package graft.tools

import graft.{Env, Sessions, SparkEntry}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10x scale smoke (dev tool): replicate sf0.1 into /tmp/graft_sfbig with
  * shifted keys — written as MULTI-FILE tables so scans split (the provided
  * testdata is one row group per table, which serializes every scan; this is
  * the layout a real ingest writes via graft.sources.Sinks) — then time the
  * heavy catalog queries at 10x to measure how each plan actually scales.
  *
  * Shift design keeps semantics meaningful at 10x:
  *  - lineitem/orders: orderkeys shifted per replica (10x orders, join keys
  *    to the UN-replicated dims unchanged -> genuine 10x fan-out);
  *  - events: event_id shifted, ts shifted by `replica` microseconds (no
  *    artificial exact-tie pileups in the as-of);
  *  - documents: doc_id shifted, text IDENTICAL -> the dedup family sees a
  *    corpus that is 90% exact duplicates (the realistic curation shape);
  *  - embeddings: vec_id shifted for replicas > 0 (query set unchanged,
  *    ANN buckets 10x denser).
  *
  * Usage: runMain graft.tools.ScaleSmoke [queryName...]
  */
object ScaleSmoke {
  private val Src = "/root/testdata/sf0.1"
  private val Replicas = Env.positiveInt("SPARK_GRAFT_REPLICAS", 10)
  private val Out = s"/tmp/graft_sfbig_x$Replicas"
  private val Shift = 10000000L

  private val DefaultQueries = Seq(
    "q09_hash_agg", "q12_topk_per_group", "q22_dedup_exact_hash",
    "q23_dedup_minhash_lsh", "q43_percentiles", "q45_dedup_embedding",
    "q46_asof_join", "q47_asof_custom", "q50_stratified_sample",
    "q52_curation_pipeline", "q56_dup_clusters", "q57_train_test_split",
    "q58_approx_percentile", "q59_funnel",
    "q65_semantic_dedup", "q66_decontamination", "q67_repetition",
    "q68_bpe_pairs", "q71_exact_spans", "q72_rarity", "q73_shard_stats",
    "q74_incremental_neardup", "q75_curation_v2", "q76_source_overlap",
    "q77_span_dedup", "q78_ingest_clean", "q79_edit_verify", "q80_bloom_dedup",
    "q82_ann_ivfpq", "q83_hybrid_search", "q84_pii_redact", "q85_domain_census",
    "q86_domain_cap", "q87_quality_rules", "q88_web_curation",
    "q89_normalized_dedup", "q122_neardup_canonical_pairs")

  private def replicate(df: DataFrame, shiftCols: Seq[String],
      tsCol: Option[String] = None): DataFrame =
    (0 until Replicas).map { r =>
      val shifted = shiftCols.foldLeft(df) { (d, c) =>
        d.withColumn(c, col(c) + lit(r * Shift))
      }
      // type-aware time shift: the sf0.1 events table carries a real
      // timestamp column these days (earlier testdata shipped raw nano
      // longs) — shift each replica by r microseconds either way
      tsCol.fold(shifted) { c =>
        val isTs = df.schema(c).dataType.typeName.startsWith("timestamp")
        if (isTs)
          shifted.withColumn(c, expr(s"timestampadd(MICROSECOND, ${r.toLong}, $c)"))
        else shifted.withColumn(c, col(c) + lit(r.toLong * 1000))
      }
    }.reduce(_ unionAll _)

  private def generate(spark: SparkSession): Unit = {
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$Out/$name.parquet")
    def raw(name: String): DataFrame = spark.read.parquet(s"$Src/$name.parquet")

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(raw(t), t, 1))
    write(replicate(raw("lineitem"), Seq("l_orderkey")), "lineitem", 32)
    write(replicate(raw("orders"), Seq("o_orderkey")), "orders", 16)
    write(replicate(raw("events"), Seq("event_id"), tsCol = Some("ts")), "events", 16)
    write(replicate(raw("documents"), Seq("doc_id")), "documents", 16)
    val emb = raw("embeddings")
    write(emb.unionAll(
      (1 until Replicas).map(r =>
        emb.withColumn("vec_id", col("vec_id") + lit(r * Shift))).reduce(_ unionAll _)),
      "embeddings", 16)
    Files.createFile(Paths.get(Out, "_OK"))
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("local[32]", 32, "graft-scale-smoke")
    if (!Files.exists(Paths.get(Out, "_OK"))) {
      System.err.println(s"[scale] generating $Out (${Replicas}x $Src)")
      generate(spark)
    }
    val wanted = if (args.nonEmpty) args.toSeq else DefaultQueries
    val queries = SparkEntry.queries.filter { case (n, _) => wanted.contains(n) }
    def materialize(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val results = wanted.flatMap { name =>
      queries.get(name).map { fn =>
        materialize(fn(spark, Out)) // warm
        def timed(): Double = {
          val t0 = System.nanoTime(); materialize(fn(spark, Out))
          (System.nanoTime() - t0) / 1e9
        }
        name -> math.min(timed(), timed())
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.4f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale${Replicas}x","sf_equiv":${Replicas / 10.0},"queries":$qs}""")
    spark.stop()
  }
}
