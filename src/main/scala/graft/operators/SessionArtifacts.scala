package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.mutable

/** Artifacts that several catalog entries derive from one corpus table,
  * built once per session and shared: the signed unique-text frame, the
  * quantized and PQ-encoded embedding frames, the PQ codebooks and the BPE
  * tokenizer (each `*For` helper names its users). Each is a deterministic
  * function of its table, so a shared entry is bit-identical to a rebuilt one.
  *
  * Key: (session, kind, corpus dir) — the session INSTANCE, so checkpoint
  * blocks never outlive the session that wrote them. Each entry stores a
  * fingerprint of its table (name, length and mtime of each file at
  * `$dir/<table>.parquet`, via Hadoop FileSystem so HDFS and S3 work too); a
  * lookup that sees another fingerprint releases and rebuilds the entry, so
  * a corpus rewritten in place is never served stale.
  *
  * Frame entries are materialized (checkpoint mode fixed at build time) and
  * PINNED: [[sweep]] spares them, because unpersisting a localCheckpoint
  * destroys its only copy and every later consumer would die. Releasing an
  * entry unpins and unpersists it; no live consumer may still read it.
  *
  * One lock covers lookups, builds, releases and sweeps: a build runs once
  * per key, and no sweep can unpersist a frame before it is pinned. */
object SessionArtifacts {

  /** What an artifact is, and the corpus table it derives from. */
  final case class Kind(name: String, table: String)
  val SignedUniques = Kind("signed_uniques", "documents")
  val Quantized = Kind("quantized", "embeddings")
  val EncodedPq = Kind("encoded_pq", "embeddings")
  val PqCodebooks = Kind("pq_codebooks", "embeddings")
  val Tokenizer = Kind("tokenizer", "documents")

  private final case class Entry(stamp: Seq[(String, Long, Long)], value: Any, pins: Seq[RDD[_]])

  private val entries = mutable.Map.empty[(SparkSession, Kind, String), Entry]
  /** Per kind name: hits, misses, fingerprint rebuilds. */
  private val counts = mutable.Map.empty[String, Array[Long]]

  /** The pinned frame entry of `kind` for `dir`, materialized on first use. */
  def frame(spark: SparkSession, kind: Kind, dir: String)(build: => DataFrame): DataFrame =
    lookup(spark, kind, dir) {
      val df = Materialize.materialize(build)
      (df, df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd })
    }

  /** The driver-side value entry of `kind` for `dir`, built on first use. */
  def value[T](spark: SparkSession, kind: Kind, dir: String)(build: => T): T =
    lookup(spark, kind, dir)((build, Nil))

  private def lookup[T](spark: SparkSession, kind: Kind, dir: String)(
      build: => (T, Seq[RDD[_]])): T = synchronized {
    val key = (spark, kind, dir)
    val stamp = fingerprint(spark, s"$dir/${kind.table}.parquet")
    val count = counts.getOrElseUpdate(kind.name, new Array[Long](3))
    entries.get(key) match {
      case Some(e) if e.stamp == stamp =>
        count(0) += 1
        e.value.asInstanceOf[T]
      case old =>
        count(if (old.isEmpty) 1 else 2) += 1
        entries.remove(key).foreach(release)
        val (v, pins) = build
        entries(key) = Entry(stamp, v, pins)
        v
    }
  }

  private def fingerprint(spark: SparkSession, table: String): Seq[(String, Long, Long)] = {
    val path = new Path(table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(path).toSeq
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  private def release(e: Entry): Unit = e.pins.foreach(_.unpersist(blocking = false))

  /** RDD ids that [[sweep]] leaves persisted. */
  private[graft] def pinnedIds: Set[Int] = synchronized {
    entries.valuesIterator.flatMap(_.pins.map(_.id)).toSet
  }

  /** Release every entry `spark` holds for `dir`, of every kind. */
  def invalidate(spark: SparkSession, dir: String): Unit = synchronized {
    entries.keys.filter { case (s, _, d) => (s eq spark) && d == dir }.toList
      .foreach(k => entries.remove(k).foreach(release))
  }

  /** Between-query cleanup: unpersist every persistent RDD that no entry
    * pins, then drop Spark's cached queries. */
  def sweep(spark: SparkSession, blocking: Boolean = false): Unit = synchronized {
    val pinned = pinnedIds
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .filterNot(r => pinned(r.id))
      .foreach(_.unpersist(blocking))
    spark.sharedState.cacheManager.clearCache()
  }

  /** Hits, misses and fingerprint rebuilds per kind name, since JVM start. */
  def counters: Map[String, Seq[Long]] = synchronized {
    counts.map { case (k, c) => k -> c.toSeq }.toMap
  }

  /** Test hook: release every entry of every session. */
  private[graft] def clear(): Unit = synchronized {
    entries.valuesIterator.foreach(release)
    entries.clear()
  }
}
