package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (sbt forks a single JVM for
  * tests; spinning a session per suite costs ~5 s each). Small parallelism:
  * test datasets are tiny, task-launch overhead dominates. Nothing may run
  * codegen before this session exists: Spark sizes its JVM-wide codegen
  * class cache at first use (see [[Sessions]]), and CatalogDeterminismSpec
  * fails if the cache ended up at Spark's default size.
  */
object SparkTestSession {
  lazy val spark: SparkSession = Sessions.build("local[4]", 4, "graft-test")
}

trait SparkTestSession {
  // lazy val (not def): `import spark.implicits._` needs a stable identifier.
  protected lazy val spark: SparkSession = SparkTestSession.spark
}
