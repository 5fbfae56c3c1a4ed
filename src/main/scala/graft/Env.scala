package graft

/** The `SPARK_GRAFT_*` integer reads of the mains and tools. A malformed
  * value fails the run before any session is built: an env typo must not
  * cost a whole run. */
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
}
