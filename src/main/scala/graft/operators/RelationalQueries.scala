package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** The workload-operator catalog (SURVEY.md §2.C / §2.4): every Flink SQL
  * operator class the reference prices, as an executable, Catalyst-optimized
  * DataFrame pipeline. One entry per declared oracle query Q1..Q20.
  *
  * Portability conventions (SURVEY §2.4): DOUBLE aggregates go through
  * DECIMAL(18,2) for exact, engine-stable arithmetic and come back out as
  * DOUBLE; ORDER BYs carry a full deterministic key (Spark `asc` = NULLS
  * FIRST, matching the oracle's explicit NULLS FIRST); integer-ish derived
  * columns are cast to BIGINT on both sides so schemas hash identically.
  *
  * Scale notes are per-query in the scaladoc: what shuffles, what broadcasts,
  * and why the plan survives 100 TB.
  */
object RelationalQueries {

  private val dec: DecimalType = DecimalType(18, 2)

  /** DECIMAL(18,2)-exact sum surfaced as DOUBLE (stable across engines). */
  private def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")

  /** Q1 — full scan + count. At scale: metadata-only row-group counts; no shuffle
    * beyond the final single-row agg. Ref: priced "Kafka-like source" rate,
    * /root/reference/src/flink_estimator/models.py:22-23. */
  def q1Scan(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(count(lit(1)).as("n"))

  /** Q2 — filter + projection ("SELECT id.. WHERE status=..", reference
    * estimation.html:203,209). Predicate + 2-column projection both push to the
    * parquet scan; the only shuffle is the global sort. */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter($"o_orderstatus" === "F")
      .select($"o_orderkey", $"o_orderstatus")
      .orderBy($"o_orderkey".asc)

  /** Q3 — compound predicate; both conjuncts push down to parquet. */
  def q3Compound(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter($"l_discount" > 0.05 && $"l_quantity" < 10)
      .select($"l_orderkey", $"l_linenumber")
      .orderBy($"l_orderkey".asc, $"l_linenumber".asc)

  /** Q4 — inner equi-join against a dimension ("Inner/Outer JOINs",
    * estimation.html:222). nation is tiny at any SF: broadcast explicitly so
    * the fact side never shuffles for the join; the groupBy(n_name) agg is
    * map-side partial → 25-row final. */
  def q4InnerJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey", "inner")
      .groupBy($"n_name").agg(count(lit(1)).as("cnt"))
      .orderBy($"n_name".asc)

  /** Q5 — left outer join + count of non-null ("full left join", the
    * reference's canonical complex statement, test_basic_estimation.py:316).
    * customer⋈orders co-shuffles on the key; COUNT(o_orderkey) skips nulls. */
  def q5LeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey").agg(count($"o_orderkey").as("n_orders"))
      .orderBy($"c_custkey".asc)
  }

  /** Q6 — semi join (EXISTS with correlated predicate). The pushed filter
    * o_totalprice > 100000 prunes the build side before the shuffle. */
  def q6SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter($"o_totalprice" > 100000)
    c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey")
      .orderBy($"c_custkey".asc)
  }

  /** Q7 — anti join (NOT EXISTS). */
  def q7AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey")
      .orderBy($"c_custkey".asc)
  }

  /** Q8 — equi + theta (range) join: the equi conjunct keeps it a hash join
    * with the range as a post-join residual — NOT a nested-loop join, which
    * is the difference between hours and seconds at 100 TB. No broadcast
    * hint: part grows linearly with SF (~20M rows at sf100), so the choice
    * between broadcast and shuffle join belongs to AQE/CBO at runtime. */
  def q8RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(p,
        $"l_partkey" === $"p_partkey" && $"l_quantity" > $"p_size".cast("double"),
        "inner")
      .groupBy($"p_partkey").agg(count(lit(1)).as("n"))
      .orderBy($"p_partkey".asc)
  }

  /** Q9 — the flagship hash aggregate (TPC-H Q1 shape; "GROUP BY with
    * aggregations / COUNT, SUM, AVG", estimation.html:217,224-226).
    * Partial agg map-side on 6 groups; COUNT(DISTINCT) expands to a two-phase
    * agg keyed by (flag,status,suppkey) — still bounded state. (r4 measured
    * two alternatives at sf0.1 and kept this form: a hand-lowered partial-
    * distinct rewrite was no better, and a pre-agg repartition was worse —
    * the cost here is the single-row-group scan task, a testdata layout
    * artifact that vanishes on split-able files; see the 10x smoke where
    * this query runs FASTER on 10x the data.)
    *
    * sf1.0 floor ruling (r15, benched alone min-of-3): 1.56 s vs DuckDB
    * 0.12 s. The plan is the canonical two-phase distinct (partial by
    * (keys, suppkey) → merge → final; map-side combined, no Expand, the
    * post-partial shuffle is ~60k rows) — the wall is ~3 lineitem-pass
    * equivalents against the same session's 0.21 s bare scan-count /
    * 0.49 s materialized projection calibration, i.e. per-pass JVM row
    * cost vs DuckDB's vectorized single process, not a plan defect. At
    * cluster scale the same plan's passes parallelize across executors;
    * nothing structural to take. */
  def q9HashAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_price"),
        count(lit(1)).as("cnt"),
        countDistinct($"l_suppkey").as("n_supp"))
      .orderBy($"l_returnflag".asc, $"l_linestatus".asc)

  /** Q10 — exact deduplication ("deduplication", medium class,
    * test_basic_estimation.py:315). dropDuplicates = hash-shuffle on the
    * dedup key with map-side partial distinct. */
  def q10Dedup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select($"user_id", $"event_type")
      .dropDuplicates("user_id", "event_type")
      .agg(count(lit(1)).as("n"))

  /** Q11 — ROLLUP grouping sets ("advanced analytical queries",
    * estimation.html:243). Spark expands to a single shuffle over the
    * grouping-set id — no re-scan per set. */
  def q11Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"o_orderstatus".asc, $"o_orderpriority".asc, $"cnt".asc)

  /** Q12 — ranking window / per-group top-k ("Complex analytics functions",
    * considerations.html:32). row_number over (custkey) then rn<=3: at scale
    * prefer this shape over global sort; Spark pushes a per-key limit into the
    * window when the filter is on row_number (WindowGroupLimit).
    *
    * sf1.0 floor ruling (r15, benched alone min-of-3): 2.14 s vs DuckDB
    * 0.28 s. The plan is already the best top-k shape Spark has:
    * WindowGroupLimit BELOW the exchange (per-partition top-3 before any
    * shuffle) and again above it, so the shuffle carries ≤ 3 rows per
    * customer. The residual is the two sorts + the row-at-a-time Window
    * exec over the broadcast-joined orders — per-pass JVM cost against
    * the 0.49 s single-pass calibration (q09 ruling), with DuckDB
    * clearing the same top-k in one vectorized operator. Floor. */
  def q12TopKPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val j = Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey", "inner")
    val w = Window.partitionBy($"c_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    j.select($"c_custkey", $"o_orderkey", row_number().over(w).as("rn"))
      .filter($"rn" <= 3)
      .select($"c_custkey", $"o_orderkey")
      .orderBy($"c_custkey".asc, $"o_orderkey".asc)
  }

  /** Q13 — frame-spec running aggregate (cumulative sum per order).
    * (l_orderkey, l_linenumber) is NOT unique in the testdata, so the window
    * additionally orders by l_quantity: rows tying on (linenumber, quantity)
    * commute under summation, making run_qty deterministic; run_qty is then a
    * strictly increasing tiebreaker for the output order.
    *
    * The 1-in-~100-orders slice predicate sits ABOVE the window in the query
    * but is on the partition key, so Catalyst pushes it through the Window
    * operator down to the scan (semantics-preserving: a running sum never
    * crosses orders) — plan-verified: Filter(l_orderkey%100=0) directly over
    * the scan. That is the point: at 100 TB you ask for the keys you need
    * and the window costs O(selected), and the determinism sort is O(slice)
    * instead of a full-table range sort that would re-execute the window
    * subtree for range-partition sampling. q12 keeps the full-table window
    * shape in the catalog. */
  def q13RunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"l_orderkey")
      .orderBy($"l_linenumber".asc, $"l_quantity".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber",
        sum($"l_quantity".cast(dec)).over(w).cast("double").as("run_qty"))
      .filter($"l_orderkey" % 100 === 0)
      .orderBy($"l_orderkey".asc, $"l_linenumber".asc, $"run_qty".asc)
  }

  /** Q14 — global top-k (the reference's one executed sort: saved-list
    * order-by-mtime-desc, src/main.py:508). orderBy+limit compiles to
    * TakeOrderedAndProject — per-partition heap, no full sort at scale. */
  def q14TopK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
      .select($"o_orderkey", round($"o_totalprice", 2).as("price"))

  /** Q15 — set op INTERSECT (dedups both sides; one shuffle each). */
  def q15Intersect(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select($"c_nationkey".as("k"))
      .intersect(Tables.supplier(spark, dir).select($"s_nationkey".as("k")))
      .orderBy($"k".asc)

  /** Q16 — scalar string functions (mirrors the reference's executed
    * sanitize/trim/upcase, estimation.py:645-648, main.py:61). Pure narrow
    * map — whole-stage-codegen'd, no shuffle except the sort. */
  def q16Strings(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        $"p_partkey",
        upper($"p_brand").as("b"),
        length($"p_name").cast("long").as("ln"),
        translate(trim($"p_name"), " ", "_").as("slug"))
      .orderBy($"p_partkey".asc)

  /** Q17 — scalar date functions (mirrors executed timestamp formatting,
    * estimation.py:630-649). */
  def q17Dates(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(
        year($"o_orderdate").cast("long").as("y"),
        month($"o_orderdate").cast("long").as("m"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"y".asc, $"m".asc)

  /** Q18 — scalar math functions (mirrors kernel ceil/round,
    * estimation.py:151,330,368). DECIMAL division keeps ceil exact. */
  def q18Math(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter($"l_linenumber" === 1)
      .select(
        $"l_orderkey",
        ceil($"l_extendedprice".cast(dec) / 1024).cast("long").as("mb"),
        round($"l_discount".cast(dec) * 100, 1).cast("double").as("pct"))
      .orderBy($"l_orderkey".asc)

  /** Q19 — tumbling window ("TUMBLE/HOP windows", estimation.html:225):
    * the streaming operator [[graft.streaming.StreamingOps.tumble]] over a
    * batch scan, so the catalog entry and the stream leg are one
    * definition. */
  def q19Tumble(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.tumble(
        // null event times are excluded from every time-windowed operator
        // (a watermarked window drops them); also sidesteps a DuckDB 1.0
        // quirk where ORDER BY ... NULLS FIRST over a grouped trunc sorts
        // the null group as epoch zero
        Tables.events(spark, dir).filter($"ts".isNotNull), watermark = None)
      .orderBy($"h".asc, $"event_type".asc)

  /** Q20 — fan-out join + agg (generator-equivalent correlated duplication).
    * Deliberately kept in the naive shape — the row exists to demonstrate
    * join fan-out; [[q100FanOutPreAgg]] is the scale-shaped twin. */
  def q20FanOut(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), $"l_orderkey" === $"o_orderkey", "inner")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("cnt"))
      .orderBy($"o_orderpriority".asc)

  /** Q100 — q20's partial-aggregation-below-join twin (VERDICT r9 #4): the
    * same 5-row answer, but lineitem collapses to per-orderkey line counts
    * BEFORE the join — count(*) over a fan-out join == sum of per-key
    * counts whenever the aggregate is decomposable — so the join ships a
    * 2-column (orderkey, n_lines) frame instead of full-width lineitem
    * rows and the fan-out never materializes. Bench-paired beside q20 the
    * way q61/q62 sit beside q45/q23: at 100 TB the pre-aggregation is the
    * difference between shuffling the fact table's row count and its
    * distinct-key count. RelationalSpec asserts the two forms
    * row-identical on the real corpus. */
  def q100FanOutPreAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey").agg(count(lit(1)).as("n_lines"))
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey", "inner")
      .groupBy($"o_orderpriority").agg(sum($"n_lines").as("cnt"))
      .orderBy($"o_orderpriority".asc)

  /** Q39 — snowflake dimension chain: customer -> nation -> region, both
    * dims broadcast (fixed 25/5 rows at any SF — the hint stays correct at
    * 100 TB, unlike a fact-side hint). One narrow fact scan, zero fact
    * shuffles before the 5-group aggregate. */
  def q39RegionJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey", "inner")
      .join(broadcast(Tables.region(spark, dir)),
        $"n_regionkey" === $"r_regionkey", "inner")
      .groupBy($"r_name")
      .agg(count(lit(1)).as("cnt"), dsum($"c_acctbal").as("sum_bal"))
      .orderBy($"r_name".asc)

  /** Q40 — set-op coverage beyond INTERSECT: both EXCEPT directions glued
    * with UNION ALL. Each EXCEPT is a distinct-aggregating anti semi-join
    * (one shuffle per side on the key). */
  def q40SetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select($"c_nationkey".as("k"))
    val s = Tables.supplier(spark, dir).select($"s_nationkey".as("k"))
    val onlyCust = c.except(s).select(lit("only_cust").as("src"), $"k")
    val onlySupp = s.except(c).select(lit("only_supp").as("src"), $"k")
    onlyCust.unionAll(onlySupp).orderBy($"src".asc, $"k".asc)
  }

  /** Q41 — batch-equivalent HOP window (width 10 min, slide 5 min): each
    * event lands in width/slide = 2 windows; Spark's window() expands then
    * hash-aggregates — the same state shape the streaming variant keeps
    * (graft.streaming.StreamingOps.hop). */
  def q41HopWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        window($"ts", "10 minutes", "5 minutes").as("w"),
        $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .select($"w.start".as("ws"), $"event_type", $"cnt")
      .orderBy($"ws".asc, $"event_type".asc)

  // Spark's $-interpolator needs an implicits import per session; for a
  // session-agnostic object, build columns with col() under the hood.
  private implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  /** name -> builder, in declaration order. */
  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q01_scan_count"     -> (q1Scan _),
    "q02_filter_project" -> (q2FilterProject _),
    "q03_compound_pred"  -> (q3Compound _),
    "q04_inner_join"     -> (q4InnerJoin _),
    "q05_left_join"      -> (q5LeftJoin _),
    "q06_semi_join"      -> (q6SemiJoin _),
    "q07_anti_join"      -> (q7AntiJoin _),
    "q08_range_join"     -> (q8RangeJoin _),
    "q09_hash_agg"       -> (q9HashAgg _),
    "q10_dedup_exact"    -> (q10Dedup _),
    "q11_rollup"         -> (q11Rollup _),
    "q12_topk_per_group" -> (q12TopKPerGroup _),
    "q13_running_sum"    -> (q13RunningSum _),
    "q14_global_topk"    -> (q14TopK _),
    "q15_intersect"      -> (q15Intersect _),
    "q16_string_fns"     -> (q16Strings _),
    "q17_date_fns"       -> (q17Dates _),
    "q18_math_fns"       -> (q18Math _),
    "q19_tumble_window"  -> (q19Tumble _),
    "q20_fanout_join"    -> (q20FanOut _),
    "q100_fanout_preagg" -> (q100FanOutPreAgg _),
    "q39_region_join"    -> (q39RegionJoin _),
    "q40_set_ops"        -> (q40SetOps _),
    "q41_hop_window"     -> (q41HopWindow _),
  )

  /** DuckDB-runnable ANSI oracle SQL, aligned column-for-column with the
    * builders above (same aliases, same output types — SURVEY §2.4). */
  val oracle: Map[String, String] = Map(
    "q01_scan_count" ->
      "SELECT COUNT(*) AS n FROM lineitem",
    "q02_filter_project" ->
      "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey NULLS FIRST",
    "q03_compound_pred" ->
      "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_discount > 0.05 AND l_quantity < 10 ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST",
    "q04_inner_join" ->
      "SELECT n_name, COUNT(*) AS cnt FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name NULLS FIRST",
    "q05_left_join" ->
      "SELECT c_custkey, COUNT(o_orderkey) AS n_orders FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey ORDER BY c_custkey NULLS FIRST",
    "q06_semi_join" ->
      "SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000) ORDER BY c_custkey NULLS FIRST",
    "q07_anti_join" ->
      "SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey NULLS FIRST",
    "q08_range_join" ->
      "SELECT p_partkey, COUNT(*) AS n FROM part JOIN lineitem ON l_partkey = p_partkey AND l_quantity > CAST(p_size AS DOUBLE) GROUP BY p_partkey ORDER BY p_partkey NULLS FIRST",
    "q09_hash_agg" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, " +
        "COUNT(*) AS cnt, COUNT(DISTINCT l_suppkey) AS n_supp " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "q10_dedup_exact" ->
      "SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, event_type FROM events) t",
    "q11_rollup" ->
      "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority) ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, cnt NULLS FIRST",
    "q12_topk_per_group" ->
      ("SELECT c_custkey, o_orderkey FROM (SELECT c_custkey, o_orderkey, " +
        "ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM customer JOIN orders ON c_custkey = o_custkey) t WHERE rn <= 3 " +
        "ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST"),
    "q13_running_sum" ->
      ("SELECT * FROM (SELECT l_orderkey, l_linenumber, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty " +
        "FROM lineitem) t WHERE l_orderkey % 100 = 0 " +
        "ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST, run_qty NULLS FIRST"),
    "q14_global_topk" ->
      "SELECT o_orderkey, ROUND(o_totalprice, 2) AS price FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q15_intersect" ->
      "SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey AS k FROM supplier ORDER BY k NULLS FIRST",
    "q16_string_fns" ->
      "SELECT p_partkey, UPPER(p_brand) AS b, CAST(LENGTH(p_name) AS BIGINT) AS ln, REPLACE(TRIM(p_name), ' ', '_') AS slug FROM part ORDER BY p_partkey NULLS FIRST",
    "q17_date_fns" ->
      "SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y, CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m, COUNT(*) AS cnt FROM orders GROUP BY 1, 2 ORDER BY y NULLS FIRST, m NULLS FIRST",
    "q18_math_fns" ->
      ("SELECT l_orderkey, CAST(CEIL(CAST(l_extendedprice AS DECIMAL(18,2)) / 1024) AS BIGINT) AS mb, " +
        "CAST(ROUND(CAST(l_discount AS DECIMAL(18,2)) * 100, 1) AS DOUBLE) AS pct " +
        "FROM lineitem WHERE l_linenumber = 1 ORDER BY l_orderkey NULLS FIRST"),
    "q19_tumble_window" ->
      ("SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv " +
        "FROM events WHERE ts IS NOT NULL " +
        "GROUP BY 1, 2 ORDER BY h NULLS FIRST, event_type NULLS FIRST"),
    "q20_fanout_join" ->
      "SELECT o_orderpriority, COUNT(*) AS cnt FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_orderpriority ORDER BY o_orderpriority NULLS FIRST",
    "q100_fanout_preagg" ->
      ("SELECT o_orderpriority, CAST(SUM(n_lines) AS BIGINT) AS cnt " +
        "FROM (SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY l_orderkey) l " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority NULLS FIRST"),
    "q39_region_join" ->
      ("SELECT r_name, COUNT(*) AS cnt, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name ORDER BY r_name NULLS FIRST"),
    "q40_set_ops" ->
      ("SELECT * FROM (" +
        "SELECT 'only_cust' AS src, k FROM (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey AS k FROM supplier) " +
        "UNION ALL " +
        "SELECT 'only_supp' AS src, k FROM (SELECT s_nationkey AS k FROM supplier EXCEPT SELECT c_nationkey AS k FROM customer)" +
        ") t ORDER BY src NULLS FIRST, k NULLS FIRST"),
    "q41_hop_window" ->
      ("""WITH b AS (SELECT CAST(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS t5, """ +
        """CAST(ts AS TIMESTAMP) AS tts, event_type FROM events), """ +
        """w AS (SELECT unnest([t5, t5 - INTERVAL '5 minutes']) AS ws, tts, event_type FROM b) """ +
        """SELECT ws, event_type, COUNT(*) AS cnt FROM w """ +
        """WHERE tts >= ws AND tts < ws + INTERVAL '10 minutes' """ +
        """GROUP BY ws, event_type ORDER BY ws NULLS FIRST, event_type NULLS FIRST"""),
  )
}
