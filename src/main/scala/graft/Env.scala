package graft

/** The `SPARK_GRAFT_*` reads of the mains and tools, and their catalog
  * name arguments. A malformed value fails the run before any session is
  * built: an env typo must not cost a whole run. */
object Env {

  /** `raw`, the value of `name`, as a positive integer; `default` when unset. */
  private[graft] def parsePositive(name: String, raw: Option[String],
      default: Int): Either[String, Int] =
    raw.fold[Either[String, Int]](Right(default))(s => s.trim.toIntOption
      .filter(_ > 0).toRight(s"$name must be a positive integer, got '$s'"))

  /** Env var `name` as a positive integer, `default` when unset; exits 2
    * with a message on a malformed value. */
  def positiveInt(name: String, default: Int): Int =
    parsePositive(name, sys.env.get(name), default).fold(
      msg => { System.err.println(s"[env] $msg"); sys.exit(2) }, identity)

  /** `SPARK_GRAFT_CPUS`, the `local[N]` core count of every main; defaults
    * to the host's available processors. */
  def cpus: Int =
    positiveInt("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors)

  /** `raw`, the catalog names given by `source`, trimmed, blanks dropped;
    * every name must be one of `known`. */
  private[graft] def parseNames(source: String, raw: Seq[String],
      known: collection.Set[String]): Either[String, Set[String]] = {
    val names = raw.map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(known)
    if (names.isEmpty) Left(s"$source names no catalog entry")
    else if (unknown.nonEmpty)
      Left(s"$source names unknown catalog entries: ${unknown.mkString(", ")}")
    else Right(names.toSet)
  }

  /** Catalog names given by `source`; exits 2 naming every unknown one. */
  def catalogNames(source: String, raw: Seq[String]): Set[String] =
    parseNames(source, raw, SparkEntry.queries.keySet).fold(
      msg => { System.err.println(s"[env] $msg"); sys.exit(2) }, identity)

  /** `SPARK_GRAFT_ONLY`, the comma-separated catalog subset of a Bench or
    * Verify run; None (the whole catalog) when unset. */
  def only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(v =>
      catalogNames("SPARK_GRAFT_ONLY", v.split(',').toSeq))
}
