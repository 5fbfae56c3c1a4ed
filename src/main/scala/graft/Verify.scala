package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = Env.cpus
    // Dev-only filter for single-query iteration (unset in driver runs).
    val only = Env.only
    val spark = Sessions.build(s"local[$cpus]", cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      // coalesce(1) is a harness convention (one file per query for the
      // driver's DuckDB read) — NOT a production sink pattern; real sinks
      // write partitioned output.
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Provenance sidecar (ADVICE r7: CORRECTNESS_r*.json carries no
    // sf/commit/timestamp, so 'hash-green at sfX' was not reproducible from
    // the artifact) — the driver can fold this into its report; standalone
    // it still pins what this dump ran against.
    // rev-parse anchored at the CODE's location, not the process cwd: a
    // driver may launch Verify from an unrelated directory (possibly
    // inside some other git repo), and a silently-wrong commit hash is
    // worse than "unknown" in a provenance artifact
    val commit =
      try {
        val codeDir = new java.io.File(
          Verify.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
        val anchor = if (codeDir.isDirectory) codeDir else codeDir.getParentFile
        val p = new ProcessBuilder("git", "rev-parse", "HEAD")
          .directory(anchor).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0 && out.nonEmpty) out else "unknown"
      } catch { case _: Exception => "unknown" }
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"),
      s"""{"sf_dir": ${q(sfDir)}, "git_commit": ${q(commit)}, """ +
        s""""timestamp_utc": ${q(java.time.Instant.now.toString)}, """ +
        s""""n_queries": ${SparkEntry.queries.size}, """ +
        s""""n_oracles": ${SparkEntry.oracleSql.size}}""")
    spark.stop()
  }
}
