package graft.tools

import graft.core._
import graft.kernel.Estimator
import org.apache.spark.sql.{Encoders, SparkSession}

/** Scala half of the randomized differential parity harness
  * (tools/parity_diff.py drives it; VERDICT r7 next-round #1).
  *
  * Reads a JSONL file of `{"idx": N, "input": {<EstimationInput fields>}}`
  * cases, runs each through the exact `Engine.estimateOne` decomposition
  * (Validation.validate then Estimator.estimate — the same two calls, split
  * so the output distinguishes a validation reject from a sizing error the
  * way the Python side distinguishes pydantic.ValidationError from
  * ValueError), and writes a JSONL of
  * `{"idx": N, "status": "ok"|"invalid"|"error", "error": msg?, "result": {...}?}`.
  *
  * The map runs as a real Dataset sweep (the Engine.sweep shape: one narrow
  * typed map, no shuffle) so the harness exercises the production encoder
  * path, not just the bare kernel.
  */
object ParityRun {

  final case class ParityCase(idx: Long, input: EstimationInput)
  final case class ParityOut(
      idx: Long,
      status: String,
      error: Option[String],
      result: Option[EstimationResult],
  )

  /** estimateOne's body with the two reject channels kept distinct. */
  def runOne(c: ParityCase): ParityOut =
    Validation.validate(c.input) match {
      case Left(errs) => ParityOut(c.idx, "invalid", Some(errs.mkString("; ")), None)
      case Right(normalized) =>
        Estimator.estimate(normalized) match {
          case Left(err)  => ParityOut(c.idx, "error", Some(err), None)
          case Right(res) => ParityOut(c.idx, "ok", None, Some(res))
        }
    }

  /** The sweep: one outcome JSON line per case of the JSONL (optionally
    * gzipped) file at `inPath`. */
  def sweep(spark: SparkSession, inPath: String): Array[String] = {
    import spark.implicits._
    spark.read
      .schema(Encoders.product[ParityCase].schema)
      .json(inPath)
      .as[ParityCase]
      .map(runOne).toJSON.collect()
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ParityRun <inputs.jsonl> <outputs.jsonl>")
    val Array(inPath, outPath) = args
    val cpus = graft.Env.cpus
    val spark = graft.Sessions.build(s"local[$cpus]", cpus, "graft-parity")
    val outs = sweep(spark, inPath)

    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      outs.mkString("", "\n", "\n").getBytes("UTF-8"))
    System.err.println(s"[parity] wrote ${outs.length} outcomes to $outPath")
    spark.stop()
  }
}
