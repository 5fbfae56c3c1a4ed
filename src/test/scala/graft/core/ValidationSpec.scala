package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Validation parity with Pydantic (models.py:19-76) — ported from
  * test_estimation_logic.py TestInputValidation (:398-477).
  */
class ValidationSpec extends AnyFunSuite {

  private def ok(in: EstimationInput): EstimationInput =
    Validation.validate(in).fold(e => fail(s"expected valid, got $e"), identity)

  private def bad(in: EstimationInput): List[String] =
    Validation.validate(in).fold(identity, r => fail(s"expected invalid, got $r"))

  test("whitespace-only project name rejected (test_estimation_logic.py:398-406)") {
    val errs = bad(EstimationInput(project_name = "   ",
      messages_per_second = 1000, avg_record_size_bytes = 1024, simple_statements = 1))
    assert(errs.exists(_.contains("Project name cannot be empty")))
  }

  test("zero messages_per_second rejected (test_estimation_logic.py:408-416)") {
    assert(bad(EstimationInput(project_name = "Test", messages_per_second = 0,
      avg_record_size_bytes = 1024, simple_statements = 1)).nonEmpty)
  }

  test("zero avg_record_size_bytes rejected (test_estimation_logic.py:418-426)") {
    assert(bad(EstimationInput(project_name = "Test", messages_per_second = 1000,
      avg_record_size_bytes = 0, simple_statements = 1)).nonEmpty)
  }

  test("negative statement counts rejected (test_estimation_logic.py:428-436)") {
    assert(bad(EstimationInput(project_name = "Test", messages_per_second = 1000,
      avg_record_size_bytes = 1024, simple_statements = -1)).nonEmpty)
  }

  test("VM requires t-size (test_estimation_logic.py:438-448)") {
    val errs = bad(EstimationInput(project_name = "Test", messages_per_second = 1000,
      avg_record_size_bytes = 1024, simple_statements = 1,
      worker_node_type = "VM", worker_node_t_size = None))
    assert(errs.exists(_.contains("worker_node_t_size")))
  }

  test("bare_metal allows missing t-size (test_estimation_logic.py:450-460)") {
    val in = ok(EstimationInput(project_name = "Test", messages_per_second = 1000,
      avg_record_size_bytes = 1024, simple_statements = 1,
      worker_node_type = "bare_metal", worker_node_t_size = None))
    assert(in.worker_node_t_size.isEmpty)
  }

  test("VM t-shirt overrides ad-hoc memory/cpu (test_estimation_logic.py:462-477)") {
    val in = ok(EstimationInput(project_name = "SKU", messages_per_second = 100,
      avg_record_size_bytes = 100, worker_node_type = "VM",
      worker_node_t_size = Some("S"),
      worker_node_memory_mb = 1.0, worker_node_cpu_max = 99))
    assert(in.worker_node_memory_mb == 16384.0)
    assert(in.worker_node_cpu_max == 8)
  }

  test("project name is trimmed (models.py:61-65)") {
    val in = ok(EstimationInput(project_name = "  Edge  ",
      messages_per_second = 1, avg_record_size_bytes = 1))
    assert(in.project_name == "Edge")
  }

  test("enum fields validated (models.py:26,52-59)") {
    assert(bad(EstimationInput(project_name = "T", data_skew_risk = "extreme")).nonEmpty)
    assert(bad(EstimationInput(project_name = "T", worker_node_type = "container")).nonEmpty)
    assert(bad(EstimationInput(project_name = "T", worker_node_type = "VM",
      worker_node_t_size = Some("XL"))).nonEmpty)
  }

  test("range rules reject zero/NaN latency, zero keys and out-of-range cpu " +
      "with the rule's own message (models.py:19-59)") {
    // NaN > 0 is false, so only the `!(x > 0)` form rejects NaN; `x <= 0`
    // would let it through
    val latency = "expected_latency_seconds: must be greater than 0"
    val cpu = "worker_node_cpu_max: must be in [2, 256]"
    val table = Seq(
      EstimationInput(project_name = "T", expected_latency_seconds = 0.0) -> latency,
      EstimationInput(project_name = "T", expected_latency_seconds = Double.NaN) -> latency,
      EstimationInput(project_name = "T", num_distinct_keys = 0L) ->
        "num_distinct_keys: must be >= 1",
      EstimationInput(project_name = "T", worker_node_cpu_max = 1) -> cpu,
      EstimationInput(project_name = "T", worker_node_cpu_max = 257) -> cpu)
    table.foreach { case (in, msg) => assert(bad(in) == List(msg), in) }
  }

  test("worker node memory upper bound 512 GiB (models.py:35-40)") {
    assert(bad(EstimationInput(project_name = "T",
      worker_node_memory_mb = 512 * 1024 + 1)).nonEmpty)
    assert(Validation.validate(EstimationInput(project_name = "T",
      worker_node_memory_mb = 512 * 1024)).isRight)
  }
}
