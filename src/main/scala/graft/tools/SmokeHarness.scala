package graft.tools

import graft.operators.SessionArtifacts
import org.apache.spark.sql.SparkSession

/** The shared measurement discipline of the scale smokes (Scale100Smoke,
  * FamilyScaleSmoke): warmup + 2 timed passes taking the min, with the
  * between-run [[SessionArtifacts.sweep]] after each — pared down from
  * Bench's min-of-3 because smoke legs run minutes, not seconds. */
object SmokeHarness {
  def timed(spark: SparkSession)(f: => Unit): Double = {
    f; SessionArtifacts.sweep(spark)
    val ts = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); f; val t = (System.nanoTime() - t0) / 1e9
      SessionArtifacts.sweep(spark); t
    }
    ts.min
  }
}
