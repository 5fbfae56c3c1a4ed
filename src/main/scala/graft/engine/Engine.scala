package graft.engine

import graft.core._
import graft.kernel.Estimator
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One sizing outcome of a sweep row: exactly one of `result` / `error` is
  * set. Mirrors the reference's HTTP semantics (200 result vs 400/500 error,
  * /root/reference/src/main.py:267-283) as data, so a 10^9-row sweep routes
  * failures to a rejects sink instead of killing the job.
  */
final case class EstimationOutcome(
    input: EstimationInput,
    result: Option[EstimationResult],
    error: Option[String],
) {
  def ok: Boolean = result.isDefined
}

/** Spark bindings for the sizing kernel (SURVEY.md §3: one scenario and 10^9
  * scenarios share one code path).
  *
  * The kernel is a deterministic per-row function, so the sweep is a single
  * narrow `map` — embarrassingly parallel, no shuffle at any scale; Catalyst
  * sees a typed DeserializeToObject/MapElements/SerializeFromObject pipeline.
  * Validation runs inside the same map (not a separate pass) so each row is
  * touched once.
  */
object Engine {

  /** Validate + estimate one scenario — the `POST /api/estimate` semantics
    * (main.py:274-283): validation failures come back as the error channel,
    * estimation failures (impossible placement, overflow) likewise.
    */
  def estimateOne(in: EstimationInput): EstimationOutcome = {
    val outcome = Validation.validate(in) match {
      case Left(errs) => EstimationOutcome(in, None, Some(errs.mkString("; ")))
      case Right(normalized) =>
        Estimator.estimate(normalized) match {
          case Left(err)  => EstimationOutcome(in, None, Some(err))
          case Right(res) => EstimationOutcome(in, Some(res), None)
        }
    }
    // A22 parity: FLINK_ESTIMATOR_DEBUG dumps each outcome (reference
    // estimation.py:400-403); stderr so driver JSON parsing stays clean.
    // Value-checked like the reference — FLINK_ESTIMATOR_DEBUG=0/false
    // must stay silent, not flood a sweep's executor logs.
    if (debugEnabled) System.err.println(outcome)
    outcome
  }

  private lazy val debugEnabled: Boolean =
    Set("1", "true", "yes").contains(
      sys.env.getOrElse("FLINK_ESTIMATOR_DEBUG", "").trim.toLowerCase)

  /** The scenario sweep: Dataset in, Dataset of outcomes out. Narrow map,
    * no shuffle; scales linearly with executor count.
    */
  def sweep(scenarios: Dataset[EstimationInput]): Dataset[EstimationOutcome] = {
    val spark = scenarios.sparkSession
    import spark.implicits._
    scenarios.map(estimateOne)
  }

  /** Register `flink_estimate(struct(...))` for SQL access: takes a struct
    * column shaped like EstimationInput, returns the full nested
    * EstimationResult struct (NULL on validation/sizing failure — SQL callers
    * test `flink_estimate(s) IS NULL` for the reject path; use
    * `flink_estimate_error` for the reason).
    *
    * A Scala UDF is an optimization barrier, but the kernel consumes one
    * 16-scalar row and returns one struct — there is nothing for Catalyst to
    * optimize through (SURVEY §4).
    */
  def registerUdfs(spark: SparkSession): Unit = {
    // Row-based UDFs, not typed-case-class ones: Spark cannot DECODE a
    // NULL struct into a case class with primitive fields (an outer join
    // produces exactly that shape — EXPRESSION_DECODING_FAILED before the
    // lambda ever runs), so the null check must happen on the Row. A null
    // input struct returns NULL, per the documented IS-NULL reject path.
    val resultType = org.apache.spark.sql.Encoders.product[EstimationResult].schema
    spark.udf.register("flink_estimate",
      new org.apache.spark.sql.api.java.UDF1[org.apache.spark.sql.Row, Any] {
        override def call(r: org.apache.spark.sql.Row): Any =
          if (r == null) null else estimateOne(rowToInput(r)).result.orNull
      }, resultType)
    spark.udf.register("flink_estimate_error",
      new org.apache.spark.sql.api.java.UDF1[org.apache.spark.sql.Row, String] {
        override def call(r: org.apache.spark.sql.Row): String =
          if (r == null) null else estimateOne(rowToInput(r)).error.orNull
      }, org.apache.spark.sql.types.StringType)
  }

  /** The `struct(s.*)` positional shape of [[EstimationInput]] — the same
    * field-order contract the typed encoder enforced. */
  private def rowToInput(r: org.apache.spark.sql.Row): EstimationInput =
    EstimationInput(
      project_name = r.getString(0),
      messages_per_second = r.getInt(1),
      avg_record_size_bytes = r.getInt(2),
      number_flink_applications = r.getInt(3),
      num_distinct_keys = r.getLong(4),
      data_skew_risk = r.getString(5),
      bandwidth_capacity_gbps = r.getInt(6),
      expected_latency_seconds = r.getDouble(7),
      simple_statements = r.getInt(8),
      medium_statements = r.getInt(9),
      complex_statements = r.getInt(10),
      worker_node_memory_mb = r.getDouble(11),
      worker_node_cpu_max = r.getInt(12),
      nb_worker_nodes = r.getInt(13),
      worker_node_type = r.getString(14),
      worker_node_t_size = Option(r.getAs[String](15)))

  /** Deterministic demo sweep grid (the driver's rows-only correctness entry):
    * crosses throughput x latency x statement mix x skew x node shape. 144
    * scenarios, all valid; a handful hit the VM-S placement-error path on
    * purpose (large state on small nodes), exercising the reject channel.
    */
  def demoGrid: Seq[EstimationInput] = {
    for {
      mps <- Seq(1000, 10000, 100000)
      lat <- Seq(0.5, 1.0, 5.0)
      (s, m, c) <- Seq((2, 1, 1), (1, 0, 0), (0, 2, 2), (5, 3, 2))
      skew <- Seq("low", "high")
      (tpe, tsize) <- Seq(("VM", Some("S")), ("bare_metal", None))
    } yield EstimationInput(
      project_name = s"grid mps=$mps lat=$lat s=$s m=$m c=$c skew=$skew node=${tsize.getOrElse("bm")}",
      messages_per_second = mps,
      avg_record_size_bytes = 512,
      num_distinct_keys = 1000000L,
      data_skew_risk = skew,
      expected_latency_seconds = lat,
      simple_statements = s,
      medium_statements = m,
      complex_statements = c,
      worker_node_type = tpe,
      worker_node_t_size = tsize,
    )
  }

  /** SparkEntry.queries entry for the B5 list pipeline: save a deterministic
    * demo corpus into a fresh temp store, then run the real Spark
    * scan-filter-project-sort over it (rows-only check: size/mtime columns
    * are machine-dependent by nature; structure is pinned by RunStoreSpec).
    */
  def savedRunsListQuery(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_runs").toString
    val store = new RunStore(spark, tmp)
    store.saveDemoRuns(8)
    store.list()
  }

  /** One row of [[kernelPassesQuery]] — the kernel's non-loop derivations
    * for one grid scenario, every column integer-exact (fixed-point where
    * the kernel value is a double). */
  final case class KernelPasses(
      project_name: String,
      thr_fix: Long,
      mm_permille: Long,
      state_mem_fix: Long,
      cpu_factor_permille: Long,
      jm_cpu: Long,
      jm_memory_mb: Long,
      per_tm_cap_mb: Long,
      buffer_mb_1tm: Long,
  )

  /** SparkEntry.queries entry (r13, VERDICT r12 "what's missing" #3): the
    * estimation kernel's NON-LOOP passes over the demo grid, as an
    * ORACLE-CHECKABLE table — the arithmetic DuckDB can re-derive without
    * the TM fixpoint: computed throughput (µMB/s fixed point), the
    * managed-memory latency step (A4), the state-memory pass (A5 — the
    * exact big-integer byte product, /2²⁰ which is an exact exponent
    * shift, ceil, divided by the latency pct; emitted as
    * floor(mb·1000)), the latency CPU factor (A10), the JM t-shirt (A9),
    * the per-TM cap after the VM t-shirt rewrite (A1/A7), and the
    * network-buffer heuristic evaluated at the defined nbTaskManagers=1
    * point (A6). The fixpoint-dependent passes stay in q21's rows-only
    * entry (pinned value-exactly by EstimatorParitySpec); this entry
    * moves the kernel's straight-line math under the DuckDB hash gate.
    * Every double here is built from exact inputs by the same IEEE
    * expression shape on both engines, then floored/stepped to integers
    * — the q109 discipline applied to the sizing math. The sweep is the
    * same narrow Dataset map as q21: per-row function, no shuffle. */
  def kernelPassesQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(demoGrid).map { raw =>
      val in = Validation.applyTshirt(raw)
      val thr = in.total_throughput_mb_per_sec
      val lat = in.expected_latency_seconds
      val (jmCpu, jmMem) = Estimator.assessJobmanagerSize(in.num_distinct_keys)
      KernelPasses(
        project_name = in.project_name,
        thr_fix = math.floor(thr * 1e6).toLong,
        mm_permille =
          if (lat <= 0.5) 320L else if (lat <= 1.0) 350L
          else if (lat < 5.0) 380L else 400L,
        state_mem_fix =
          math.floor(Estimator.stateFlinkProcessMemoryMb(in) * 1000).toLong,
        cpu_factor_permille =
          if (lat <= 0.5) 1500L else if (lat <= 1.0) 1200L
          else if (lat < 5.0) 1100L else 1000L,
        jm_cpu = jmCpu.toLong,
        jm_memory_mb = jmMem.toLong,
        per_tm_cap_mb = Estimator.perTmCapMb(in.worker_node_memory_mb).toLong,
        buffer_mb_1tm =
          Estimator.networkBufferMinProcessMemoryMb(in, thr, 1).toLong,
      )
    }.toDF().orderBy(col("project_name"))
  }

  /** A scenario grid inlined as SQL VALUES rows (shared by the q121/q123/
    * q127 generated oracles, built from the grid itself so grid and oracle
    * cannot drift). Columns beyond the first ten exist for the q127
    * placement math (post-t-shirt cores, initial node count, the VM flag
    * that picks the error message's number format); q121/q123 ignore them. */
  private def gridValuesSql(grid: Seq[EstimationInput]): String =
    grid.map { raw =>
      val in = Validation.applyTshirt(raw)
      val isVm = in.worker_node_type == "VM" && in.worker_node_t_size.isDefined
      s"('${in.project_name}', ${in.messages_per_second}, " +
        s"${in.avg_record_size_bytes}, ${in.num_distinct_keys}, " +
        s"${in.expected_latency_seconds}, ${in.simple_statements}, " +
        s"${in.medium_statements}, ${in.complex_statements}, " +
        s"${in.number_flink_applications}, ${in.worker_node_memory_mb}, " +
        s"${in.worker_node_cpu_max}, ${in.nb_worker_nodes}, " +
        s"${if (isVm) "TRUE" else "FALSE"})"
    }.mkString(",\n    ")

  /** The 13-name grid header matching [[gridValuesSql]]. */
  private val GridCols =
    "grid(project_name, mps, rec_bytes, keys, lat, s, m, c, apps, node_mb, cpu_max, n0, is_vm)"

  /** The q121 oracle: the SAME demo grid inlined as a VALUES table
    * (generated from [[demoGrid]] itself — the BPE CTE-generation
    * discipline, so grid and oracle cannot drift), then each non-loop
    * pass re-derived in SQL with the kernel's exact expression shapes.
    * Width pins (the two places DuckDB's defaults diverge from the
    * kernel's arithmetic): the state byte product runs through HUGEINT
    * because the kernel computes keys*(m+c)*apps*rec_bytes in BigInt —
    * a BIGINT product would overflow/raise on grids near 2^63 where the
    * kernel succeeds; and per_tm_cap_mb floors node_mb before the BIGINT
    * cast because [[Estimator.perTmCapMb]] truncates (.toInt) while
    * DuckDB's CAST rounds to nearest — they only agreed while the grid
    * kept node memory integral. */
  def kernelPassesOracleSql: String = {
    val rows = gridValuesSql(demoGrid)
    s"""WITH $GridCols AS (VALUES
       |    $rows),
       |d AS (SELECT *,
       |    CAST(mps AS DOUBLE) * rec_bytes / (1024.0 * 1024.0) AS thr,
       |    CASE WHEN lat <= 0.5 THEN 0.32 WHEN lat <= 1.0 THEN 0.35
       |         WHEN lat < 5.0 THEN 0.38 ELSE 0.4 END AS mm_pct,
       |    CAST(s + m + c AS BIGINT) * apps AS pipe_raw
       |  FROM grid)
       |SELECT project_name,
       |  CAST(floor(thr * 1000000.0) AS BIGINT) AS thr_fix,
       |  CAST(CASE WHEN lat <= 0.5 THEN 320 WHEN lat <= 1.0 THEN 350
       |            WHEN lat < 5.0 THEN 380 ELSE 400 END AS BIGINT) AS mm_permille,
       |  CAST(floor(ceiling(CAST(CAST(keys AS HUGEINT) * (m + c) * apps * rec_bytes AS DOUBLE)
       |    / 1048576.0) / mm_pct * 1000) AS BIGINT) AS state_mem_fix,
       |  CAST(CASE WHEN lat <= 0.5 THEN 1500 WHEN lat <= 1.0 THEN 1200
       |            WHEN lat < 5.0 THEN 1100 ELSE 1000 END AS BIGINT) AS cpu_factor_permille,
       |  CAST(CASE WHEN keys <= 10000000 THEN 1 WHEN keys <= 100000000 THEN 2
       |            ELSE 4 END AS BIGINT) AS jm_cpu,
       |  CAST(CASE WHEN keys <= 10000000 THEN 2048 WHEN keys <= 100000000 THEN 4096
       |            ELSE 8192 END AS BIGINT) AS jm_memory_mb,
       |  CAST(least(65536, greatest(CAST(floor(node_mb) AS BIGINT) - 512, 4096)) AS BIGINT) AS per_tm_cap_mb,
       |  CAST(greatest(0, CAST(ceiling(
       |      thr * 1.4 * (1.0 + 0.02 * least(greatest(100, rec_bytes) / 1024.0, 64.0))
       |          * (CASE WHEN lat <= 0.5 THEN 2.0 WHEN lat <= 1.0 THEN 1.5
       |                  WHEN lat < 5.0 THEN 1.15 ELSE 1.0 END)
       |    + 0.4 * (thr * least(greatest(lat, 0.01), 30.0))
       |    + 256.0 * (1.0 + 0.01 * CAST(greatest(1, pipe_raw) AS DOUBLE))
       |    ) AS BIGINT)) AS BIGINT) AS buffer_mb_1tm
       |FROM d ORDER BY project_name NULLS FIRST""".stripMargin
  }

  /** q123 output row — the kernel's A8 TM fixpoint over the demo grid. */
  final case class TmFixpoint(
      project_name: String,
      nb_tm_state: Long,
      nb_tm_cpu: Long,
      tm_mem_mb: Long,
      tm_count: Long,
  )

  /** Q123 — the per-TM-memory / TM-count FIXPOINT (kernel pass A8, the
    * loop q121 left rows-only) over the demo grid, oracle-checked: the
    * fixpoint's inputs are closed-form per row (see
    * [[Estimator.tmFixpointPass]]) and the ≤12-iteration loop unrolls into
    * 12 generated CTE stages (the q95/q101/q120 loop-generation
    * discipline) — iterating past convergence is stationary, so the
    * unrolled 12th stage IS the loop's return value on both engines. The
    * published taskmanagers.memory_mb_each / count equal (tm_mem_mb,
    * tm_count) whenever the orchestrator succeeds (KernelFixpointSpec pins
    * that identity row-for-row); only the greedy placement / node-growth
    * loops — whose iteration counts are data-dependent and whose state is
    * a mutable per-node vector — remain oracle-invisible in q21. */
  def tmFixpointQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(demoGrid).map { raw =>
      val (nbTmState, nbTmCpu, p, n) = Estimator.tmFixpointPass(raw)
      TmFixpoint(Validation.applyTshirt(raw).project_name,
        nbTmState.toLong, nbTmCpu.toLong, p.toLong, n.toLong)
    }.toDF().orderBy(col("project_name"))
  }

  /** The q123 oracle: grid VALUES (shared with q121), the closed-form
    * fixpoint inputs, then 12 unrolled iteration CTEs mirroring
    * [[Estimator.resolveTmProcessMemoryMb]] term-for-term (each double
    * expression written in the kernel's evaluation order so IEEE results
    * are bit-identical; the q121 width pins — HUGEINT state product,
    * floor(node_mb) cap — carry over). */
  def tmFixpointOracleSql: String =
    s"""${fixpointCteChain(demoGrid)}
       |SELECT project_name, nb_tm_state, nb_tm_cpu,
       |  CAST(p AS BIGINT) AS tm_mem_mb, CAST(n AS BIGINT) AS tm_count
       |FROM it12 ORDER BY project_name NULLS FIRST""".stripMargin

  /** The generated CTE chain shared by the q123 and q127 oracles: grid
    * VALUES -> closed-form fixpoint inputs -> 12 unrolled A8 iterations
    * mirroring [[Estimator.resolveTmProcessMemoryMb]] term-for-term (each
    * double expression written in the kernel's evaluation order so IEEE
    * results are bit-identical; width pins: HUGEINT state product,
    * floor(node_mb) cap). Ends after `it12` with no trailing comma — the
    * caller appends either a final SELECT (q123) or further CTEs (q127). */
  private def fixpointCteChain(grid: Seq[EstimationInput]): String = {
    val rows = gridValuesSql(grid)
    // one iteration: buffer from n, then p' = clamp(state/buffer), then
    // n' = max(ceil(state/p'), nbTmCpu); stationary once converged
    def iter(k: Int): String =
      s"""it$k AS (
         |  SELECT *, greatest(greatest(1, CAST(ceiling(greatest(4096.0, raw)
         |      / CAST(p AS DOUBLE)) AS BIGINT)), nb_tm_cpu) AS n
         |  FROM (
         |    SELECT project_name, thr, rec_scale, pressure, lat_capped, extra,
         |      raw, per_tm_state, cap, nb_tm_state, nb_tm_cpu,
         |      least(greatest(4096, per_tm_state, buf), cap) AS p
         |    FROM (SELECT *,
         |        greatest(0, CAST(ceiling(
         |          thr / greatest(1, n) * 1.4 * rec_scale * pressure
         |          + 0.4 * (thr * lat_capped / greatest(1, n))
         |          + extra) AS BIGINT)) AS buf
         |      FROM it${k - 1}) b))""".stripMargin
    s"""WITH $GridCols AS (VALUES
       |    $rows),
       |d AS (SELECT *,
       |    CAST(mps AS DOUBLE) * rec_bytes / (1024.0 * 1024.0) AS thr,
       |    CASE WHEN lat <= 0.5 THEN 0.32 WHEN lat <= 1.0 THEN 0.35
       |         WHEN lat < 5.0 THEN 0.38 ELSE 0.4 END AS mm_pct,
       |    CAST(s + m + c AS BIGINT) * apps AS pipe_raw,
       |    CASE WHEN keys <= 10000000 THEN 1 WHEN keys <= 100000000 THEN 2
       |         ELSE 4 END AS jm_cpu,
       |    CASE WHEN keys <= 10000000 THEN 2048 WHEN keys <= 100000000 THEN 4096
       |         ELSE 8192 END AS jm_mem
       |  FROM grid),
       |base AS (SELECT *,
       |    ceiling(CAST(CAST(keys AS HUGEINT) * (m + c) * apps * rec_bytes AS DOUBLE)
       |      / 1048576.0) / mm_pct AS raw,
       |    least(65536, greatest(CAST(floor(node_mb) AS BIGINT) - 512, 4096)) AS cap,
       |    CASE WHEN lat <= 0.5 THEN 1.5 WHEN lat <= 1.0 THEN 1.2
       |         WHEN lat < 5.0 THEN 1.1 ELSE 1.0 END AS cpu_factor,
       |    1.0 + 0.02 * least(greatest(100, rec_bytes) / 1024.0, 64.0) AS rec_scale,
       |    CASE WHEN lat <= 0.5 THEN 2.0 WHEN lat <= 1.0 THEN 1.5
       |         WHEN lat < 5.0 THEN 1.15 ELSE 1.0 END AS pressure,
       |    least(greatest(lat, 0.01), 30.0) AS lat_capped,
       |    256.0 * (1.0 + 0.01 * CAST(greatest(1, CAST(s + m + c AS BIGINT) * apps) AS DOUBLE)) AS extra
       |  FROM d),
       |b2 AS (SELECT *,
       |    greatest(1, CAST(ceiling(greatest(4096.0, raw) / 4096.0) AS BIGINT)) AS nb_tm_state,
       |    CAST(ceiling((least(4.0, thr / (24000.0 * rec_bytes / (1024.0 * 1024.0))) * s
       |                + least(4.0, thr / (11000.0 * rec_bytes / (1024.0 * 1024.0))) * m
       |                + least(4.0, thr / (2500.0 * rec_bytes / (1024.0 * 1024.0))) * c)
       |         * cpu_factor + jm_cpu) AS BIGINT) * apps AS total_cpu
       |  FROM base),
       |b3 AS MATERIALIZED (SELECT *,
       |    CAST(ceiling(CAST(total_cpu - jm_cpu AS DOUBLE) / 4.0) AS BIGINT) AS nb_tm_cpu,
       |    CAST(ceiling(greatest(4096.0, raw) / nb_tm_state) AS BIGINT) AS per_tm_state
       |  FROM b2),
       |it0 AS (SELECT project_name, thr, rec_scale, pressure, lat_capped, extra,
       |    raw, per_tm_state, cap, nb_tm_state, nb_tm_cpu,
       |    CAST(4096 AS BIGINT) AS p,
       |    greatest(nb_tm_state, nb_tm_cpu) AS n
       |  FROM b3),
       |${(1 to 12).map(iter).mkString(",\n")}""".stripMargin
  }

  /** The q127 grid: the 144 demo scenarios plus six placement-stress rows
    * chosen so every A13/A14 branch fires at least once — the aggregate-
    * shortfall node-growth jump AND the packing-fragmentation +1 growth
    * (E1: 2 -> 12 -> 14 nodes in the state pass), the host-error reject in
    * BOTH number formats (E2 bare-metal "5632.0", E2b VM "13824" — quirk of
    * the reference's int-into-float t-shirt assignment), a NEGATIVE node-0
    * free memory (E3: three L-size JobManagers exceed one node, so node 0
    * holds zero TMs and the greedy tie-break order across 60 identical
    * nodes decides the last allocation), the quirk-Q1 floor (E4: ten
    * over-provisioned nodes, one TM -> total_worker_node_needed = 1), and
    * an off-by-one fragmentation grid (E5: 119 slots for 120 TMs, plus a
    * node-0 priority that TIES other nodes' next level exactly because the
    * JM memory equals one TM). All rows pass [[Validation.validate]]; none
    * errors in the state pass (asserted in [[Estimator.placementTrace]]). */
  def placementGrid: Seq[EstimationInput] = demoGrid ++ Seq(
    EstimationInput(project_name = "pl E1 state growth", messages_per_second = 50000,
      avg_record_size_bytes = 512, number_flink_applications = 2,
      num_distinct_keys = 50000000L, expected_latency_seconds = 5.0,
      simple_statements = 1, medium_statements = 2, complex_statements = 1,
      worker_node_memory_mb = 32768.0, worker_node_cpu_max = 16, nb_worker_nodes = 2),
    EstimationInput(project_name = "pl E2 host error bm", messages_per_second = 3000000,
      avg_record_size_bytes = 1024, num_distinct_keys = 100000L,
      expected_latency_seconds = 5.0, simple_statements = 1, medium_statements = 0,
      complex_statements = 0, worker_node_memory_mb = 8192.0, nb_worker_nodes = 1),
    EstimationInput(project_name = "pl E2b host error vm", messages_per_second = 4200000,
      avg_record_size_bytes = 1024, num_distinct_keys = 100000L,
      expected_latency_seconds = 5.0, simple_statements = 1, medium_statements = 0,
      complex_statements = 0, worker_node_type = "VM", worker_node_t_size = Some("S")),
    EstimationInput(project_name = "pl E3 jm overflow node0", messages_per_second = 20000,
      avg_record_size_bytes = 512, number_flink_applications = 3,
      num_distinct_keys = 200000000L, expected_latency_seconds = 5.0,
      simple_statements = 0, medium_statements = 1, complex_statements = 0,
      worker_node_memory_mb = 16384.0, nb_worker_nodes = 2),
    EstimationInput(project_name = "pl E4 overprovisioned", messages_per_second = 5000,
      avg_record_size_bytes = 256, num_distinct_keys = 1000000L,
      expected_latency_seconds = 5.0, simple_statements = 2, medium_statements = 1,
      complex_statements = 0, worker_node_memory_mb = 65536.0,
      worker_node_cpu_max = 32, nb_worker_nodes = 10),
    EstimationInput(project_name = "pl E5 vm m spread", messages_per_second = 200000,
      avg_record_size_bytes = 2048, num_distinct_keys = 20000000L,
      expected_latency_seconds = 0.5, simple_statements = 3, medium_statements = 2,
      complex_statements = 2, worker_node_type = "VM", worker_node_t_size = Some("M"),
      nb_worker_nodes = 3),
  )

  /** q127 output row — one per (scenario, node), or one error row with
    * node_idx = -1 carrying the reference's verbatim host-error message. */
  final case class PlacementRow(
      project_name: String,
      node_idx: Long,
      final_alloc: Option[Long],
      n0: Long,
      n_after_state: Long,
      n_thr: Long,
      n_final: Option[Long],
      nonzero_nodes: Option[Long],
      total_nodes: Option[Long],
      total_memory_mb: Option[Long],
      tm_mem_mb: Long,
      tm_count: Long,
      placement_error: Option[String])

  /** Q127 — the greedy TM packing (A13) and node-growth (A14) loops over
    * [[placementGrid]], ORACLE-CHECKED (the last estimator math that was
    * rows-only in q21, VERDICT r15 #1): the Spark side runs the REAL
    * production loops via [[Estimator.placementTrace]] and emits every
    * observable the orchestrator reads — per-node allocations, grown node
    * counts, the quirk-Q1 floored total, and the verbatim host-error
    * message. The sweep is the same narrow Dataset map as q21: per-row
    * kernel function, no shuffle. */
  def placementQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(placementGrid).flatMap { raw =>
      val t = Estimator.placementTrace(raw)
      t.outcome match {
        case Left(err) =>
          Seq(PlacementRow(t.projectName, -1L, None, t.n0.toLong,
            t.nAfterState.toLong, t.nThr.toLong, None, None, None, None,
            t.tmMemMb.toLong, t.tmCount.toLong, Some(err)))
        case Right((totalMem, alloc)) =>
          val nonzero = alloc.count(_ > 0)
          alloc.indices.map { i =>
            PlacementRow(t.projectName, i.toLong, Some(alloc(i).toLong),
              t.n0.toLong, t.nAfterState.toLong, t.nThr.toLong,
              Some(alloc.length.toLong), Some(nonzero.toLong),
              Some(math.min(nonzero, t.nThr).toLong), Some(totalMem),
              t.tmMemMb.toLong, t.tmCount.toLong, None)
          }
      }
    }.toDF().orderBy(col("project_name"), col("node_idx"))
  }

  /** The q127 oracle: the shared fixpoint chain (grid VALUES -> A8's
    * unrolled (P, N)), then BOTH placement passes re-derived closed-form.
    * The closed forms exist because every node but node 0 has identical
    * free memory F = node_mb - 512 (node 0: F - jm_mem*apps, strictly
    * less):
    *
    *  - A14 aggregate-shortfall growth jumps straight to the first count
    *    with enough total free memory (the kernel does the same jump);
    *    packing-failure growth adds floor(F/T) >= 1 slots per node, so
    *    "+1 until Sum floor(free_i/T) >= M" is a single ceiling. The greedy
    *    places exactly min(M, Sum floor(free_i/T)) TMs, so packing fails
    *    iff that slot census is short — no simulation needed.
    *  - A13's greedy ("place on the max-remaining node, ties to the lowest
    *    index") is slot-sort-equivalent: node i's k-th TM has priority
    *    free_i - (k-1)*T, priorities within a node strictly decrease, so
    *    the greedy's chosen set IS the top-M slots under
    *    (priority DESC, node ASC, k ASC) — per-node allocations fall out
    *    of a window rank + count, no loop at all.
    *
    * All free-memory values are integral doubles, so DuckDB's floor/
    * division reproduce the kernel's repeated-subtraction arithmetic
    * exactly; the error row renders the message with the reference's
    * number-format quirk (int for t-shirted VMs, float repr otherwise).
    * greatest(1, ...) guards divisors that a vectorized CASE may evaluate
    * on rows whose branch never uses them (error rows). */
  def placementOracleSql: String =
    s"""${fixpointCteChain(placementGrid)},
       |fp AS MATERIALIZED (
       |  SELECT b3.project_name, b3.apps, b3.cpu_max, b3.n0, b3.is_vm,
       |    b3.jm_mem, b3.total_cpu, b3.nb_tm_state,
       |    f.p AS t2, f.n AS m2,
       |    b3.node_mb - 512 AS per_node,
       |    b3.node_mb - 512 - b3.jm_mem * b3.apps AS f0
       |  FROM b3 JOIN it12 f USING (project_name)),
       |st AS (SELECT *,
       |    CAST(nb_tm_state AS BIGINT) * 4096 AS req1,
       |    f0 + (n0 - 1) * per_node AS tot_free0,
       |    greatest(0, CAST(floor(f0 / 4096.0) AS BIGINT)) AS slots0_s,
       |    greatest(1, CAST(floor(per_node / 4096.0) AS BIGINT)) AS slots_pn_s
       |  FROM fp),
       |st2 AS (SELECT *,
       |    CASE WHEN tot_free0 < req1
       |         THEN n0 + greatest(1, CAST(ceiling((CAST(req1 AS DOUBLE) - tot_free0) / per_node) AS BIGINT))
       |         ELSE CAST(n0 AS BIGINT) END AS na
       |  FROM st),
       |st3 AS (SELECT *,
       |    CASE WHEN slots0_s + (na - 1) * slots_pn_s < nb_tm_state
       |         THEN na + CAST(ceiling(CAST(nb_tm_state - (slots0_s + (na - 1) * slots_pn_s) AS DOUBLE) / slots_pn_s) AS BIGINT)
       |         ELSE na END AS n_after_state
       |  FROM st2),
       |th AS (SELECT *,
       |    CASE WHEN n_after_state * cpu_max < total_cpu
       |         THEN CAST(ceiling(CAST(total_cpu AS DOUBLE) / cpu_max) AS BIGINT)
       |         ELSE n_after_state END AS n_thr
       |  FROM st3),
       |fin AS (SELECT *,
       |    CASE WHEN n_after_state >= 2 THEN per_node ELSE f0 END AS mx,
       |    CAST(m2 AS BIGINT) * t2 AS req2,
       |    f0 + (n_after_state - 1) * per_node AS tot_free1,
       |    greatest(0, CAST(floor(f0 / CAST(t2 AS DOUBLE)) AS BIGINT)) AS slots0,
       |    greatest(1, CAST(floor(per_node / CAST(t2 AS DOUBLE)) AS BIGINT)) AS slots_pn
       |  FROM th),
       |fin2 AS (SELECT *, mx < t2 AS is_err,
       |    CASE WHEN tot_free1 < req2
       |         THEN n_after_state + greatest(1, CAST(ceiling((CAST(req2 AS DOUBLE) - tot_free1) / per_node) AS BIGINT))
       |         ELSE n_after_state END AS nb2
       |  FROM fin),
       |fin3 AS MATERIALIZED (SELECT *,
       |    CASE WHEN slots0 + (nb2 - 1) * slots_pn < m2
       |         THEN nb2 + CAST(ceiling(CAST(m2 - (slots0 + (nb2 - 1) * slots_pn) AS DOUBLE) / slots_pn) AS BIGINT)
       |         ELSE nb2 END AS n_final
       |  FROM fin2),
       |nodes AS MATERIALIZED (SELECT project_name, n0, n_after_state, n_thr, n_final,
       |    t2, m2, f0, per_node, jm_mem, req2,
       |    unnest(generate_series(CAST(0 AS BIGINT), n_final - 1)) AS node_idx
       |  FROM fin3 WHERE NOT is_err),
       |caps AS (SELECT *,
       |    greatest(0, CAST(floor(
       |      (CASE WHEN node_idx = 0 THEN f0 ELSE per_node END) / CAST(t2 AS DOUBLE)) AS BIGINT)) AS node_cap,
       |    CASE WHEN node_idx = 0 THEN f0 ELSE per_node END AS node_free
       |  FROM nodes),
       |ranked AS (SELECT project_name, node_idx, m2,
       |    row_number() OVER (PARTITION BY project_name
       |      ORDER BY node_free - (k - 1) * t2 DESC, node_idx ASC, k ASC) AS rk
       |  FROM (SELECT *, unnest(generate_series(CAST(1 AS BIGINT), node_cap)) AS k
       |        FROM caps WHERE node_cap >= 1) s),
       |alloc AS MATERIALIZED (SELECT project_name, node_idx,
       |    CAST(count(*) FILTER (WHERE rk <= m2) AS BIGINT) AS final_alloc
       |  FROM ranked GROUP BY project_name, node_idx),
       |nz AS MATERIALIZED (SELECT project_name,
       |    CAST(count(*) FILTER (WHERE final_alloc > 0) AS BIGINT) AS nonzero_nodes
       |  FROM alloc GROUP BY project_name)
       |SELECT c.project_name, c.node_idx,
       |  coalesce(a.final_alloc, CAST(0 AS BIGINT)) AS final_alloc,
       |  CAST(c.n0 AS BIGINT) AS n0,
       |  CAST(c.n_after_state AS BIGINT) AS n_after_state,
       |  CAST(c.n_thr AS BIGINT) AS n_thr,
       |  CAST(c.n_final AS BIGINT) AS n_final,
       |  nz.nonzero_nodes,
       |  least(nz.nonzero_nodes, c.n_thr) AS total_nodes,
       |  CAST(c.jm_mem + c.req2 AS BIGINT) AS total_memory_mb,
       |  CAST(c.t2 AS BIGINT) AS tm_mem_mb,
       |  CAST(c.m2 AS BIGINT) AS tm_count,
       |  CAST(NULL AS VARCHAR) AS placement_error
       |FROM caps c
       |LEFT JOIN alloc a ON a.project_name = c.project_name AND a.node_idx = c.node_idx
       |JOIN nz ON nz.project_name = c.project_name
       |UNION ALL
       |SELECT project_name, CAST(-1 AS BIGINT) AS node_idx,
       |  CAST(NULL AS BIGINT) AS final_alloc,
       |  CAST(n0 AS BIGINT) AS n0,
       |  CAST(n_after_state AS BIGINT) AS n_after_state,
       |  CAST(n_thr AS BIGINT) AS n_thr,
       |  CAST(NULL AS BIGINT) AS n_final,
       |  CAST(NULL AS BIGINT) AS nonzero_nodes,
       |  CAST(NULL AS BIGINT) AS total_nodes,
       |  CAST(NULL AS BIGINT) AS total_memory_mb,
       |  CAST(t2 AS BIGINT) AS tm_mem_mb,
       |  CAST(m2 AS BIGINT) AS tm_count,
       |  'No worker can host a ' || CAST(t2 AS VARCHAR) ||
       |    ' MB task manager: max free memory on a node is ' ||
       |    CASE WHEN is_vm THEN CAST(CAST(mx AS BIGINT) AS VARCHAR)
       |         ELSE CAST(mx AS VARCHAR) END ||
       |    ' MB. Increase worker_node_memory (or use a larger VM t-shirt) so each node can hold at least one TM.'
       |    AS placement_error
       |FROM fin3 WHERE is_err
       |ORDER BY project_name NULLS FIRST, node_idx""".stripMargin

  /** SparkEntry.queries entry: run the demo grid sweep and flatten headline
    * outputs to scalar columns (driver records a rows-only check — the
    * kernel itself is pinned value-exactly by the ScalaTest parity suite).
    */
  def sweepQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val outcomes = sweep(spark.createDataset(demoGrid))
    outcomes.select(
      col("input.project_name").as("project_name"),
      col("result.resource_estimates.total_memory_mb").as("total_memory_mb"),
      col("result.resource_estimates.total_cpus").as("total_cpus"),
      col("result.resource_estimates.total_worker_node_needed").as("nodes"),
      col("result.cluster_recommendations.taskmanagers.count").as("tm_count"),
      col("result.cluster_recommendations.taskmanagers.memory_mb_each").as("tm_memory_mb_each"),
      col("result.scaling_recommendations.recommended_parallelism").as("rec_parallelism"),
      col("result.scaling_recommendations.checkpointing_interval_ms").as("ckpt_ms"),
      col("error"),
    ).orderBy(col("project_name"))
  }
}
