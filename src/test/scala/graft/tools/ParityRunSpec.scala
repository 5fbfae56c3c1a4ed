package graft.tools

import graft.SparkTestSession
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Kernel parity pinned offline. The resource holds the 5000 cases that
  * `tools/parity_diff.py` generates at its default seed 8
  * (`gen_cases(5000, 8)`); the live Python reference kernel agreed with
  * every outcome of this sweep. Any drift in validation or sizing moves
  * the status counts or the digest of the outcome lines, with no
  * reference checkout needed. `tools/test_parity_inputs.py` checks that
  * the resource still equals the generator's output. */
class ParityRunSpec extends AnyFunSuite with SparkTestSession {

  test("seed-8 parity sweep: 4167 ok / 623 error / 210 invalid, outcome " +
      "lines pinned by digest") {
    val in = getClass.getResource("/parity/seed8_inputs.jsonl.gz").getPath
    val outs = ParityRun.sweep(spark, in)
    val status = """"status":"(\w+)"""".r
    val counts = outs.toSeq.flatMap(status.findFirstMatchIn(_).map(_.group(1)))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    assert(counts == Map("ok" -> 4167, "error" -> 623, "invalid" -> 210), counts)
    val digest = MessageDigest.getInstance("SHA-256")
      .digest(outs.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(digest ==
      "e050229533d4772c910a2c56d0e83a8f198bfdb7afbe6f54cf03a52d259fbb9d", digest)
  }
}
