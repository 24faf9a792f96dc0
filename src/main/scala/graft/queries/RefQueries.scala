package graft.queries

import graft.warehouse.Merge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Reference-parity operators (SURVEY.md §2) re-expressed over the driver
  * test tables, each paired with portable DuckDB oracle SQL.
  *
  * Determinism rules shared by every (query, oracle) pair:
  *  - identical column names and an explicit total ORDER BY on both sides;
  *  - money-like double aggregations go through DECIMAL so the sum is
  *    exact and order-independent, then cast back to DOUBLE;
  *  - integer-valued results cast to BIGINT on both sides.
  */
object RefQueries {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped in two physical generations of the driver
    * testdata: TIMESTAMP(NANOS) — which Spark's parquet reader only
    * accepts under `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    * every session builder of this project), arriving as a long of
    * nanoseconds — and TIMESTAMP_MICROS without timezone metadata, which
    * arrives as TIMESTAMP_NTZ. Branch on the READ dtype so both (and a
    * possible future instant-adjusted TimestampType) normalize to the
    * same session-local TimestampType instants: under the project's
    * pinned UTC session timezone the NTZ→LTZ cast is identity on the
    * instant, so oracle hashes are unchanged across generations.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  private[queries] def events(s: SparkSession, dir: String): DataFrame =
    normalizeEventTs(t(s, dir, "events"))

  /** Exact, order-independent sum of a 2-decimal double column. */
  private def decSum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  // ---------------------------------------------------------------- queries

  /** P1-P5/S4: projection + rename + reorder/drop (the day/hour column
    * pinning, reference: DataTransformation.py:26-51).
    */
  private val q01: Q = (s, dir) =>
    t(s, dir, "lineitem").select(
      col("l_orderkey").as("order_id"),
      col("l_linenumber").as("line_no"),
      col("l_quantity").as("qty"),
      col("l_extendedprice").as("price"),
      col("l_returnflag").as("flag"),
    ).orderBy("order_id", "line_no")

  /** E1: dimension-key lookup as a broadcast join (the city→code dict,
    * reference: DataTransformation.py:10-21,153).
    */
  private val q02: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey").as("cust_id"), col("c_name"),
        col("n_name").as("nation_name"), col("r_name").as("region_name"))
      .orderBy("cust_id")

  /** E4-E7: deterministic surrogate keys
    * `{entity}_{yyyyMMdd}` and `{entity}_{yyyyMMdd}_{slot}`
    * (reference: DataTransformation.py:85-89,105-111,168-170).
    */
  private val q03: Q = (s, dir) => {
    val dayKey = concat_ws("_", col("o_custkey"), date_format(col("o_orderdate"), "yyyyMMdd"))
    t(s, dir, "orders").select(
      col("o_orderkey").as("order_id"),
      dayKey.as("cust_day_key"),
      concat_ws("_", dayKey, col("o_orderkey") % 24).as("cust_day_slot_key"),
    ).orderBy("order_id")
  }

  /** E2/E3: date/timestamp casts and formatting
    * (reference: DataTransformation.py:82,102,168,193).
    */
  private val q04: Q = (s, dir) =>
    t(s, dir, "orders").select(
      col("o_orderkey").as("order_id"),
      to_date(col("o_orderdate")).as("order_date"),
      date_format(col("o_orderdate"), "yyyy-MM").as("order_ym"),
      year(col("o_orderdate")).cast("long").as("order_year"),
      month(col("o_orderdate")).cast("long").as("order_month"),
    ).orderBy("order_id")

  /** E8: CASE-based name normalization (condition.sql:57-66) + group count. */
  private val q05: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(
        when(col("o_orderpriority") === "1-URGENT", lit("URGENT"))
          .when(col("o_orderpriority") === "2-HIGH", lit("HIGH"))
          .otherwise(lit("NORMAL")).as("priority_class"))
      .groupBy("priority_class").agg(count(lit(1)).as("n"))
      .orderBy("priority_class")

  /** D1: first-occurrence-wins dedup (the condition_data dict,
    * reference: DataTransformation.py:69-73) — `min_by` under the
    * (ts, event_id) total order, NOT a per-type row_number window:
    * event_type has single-digit cardinality, so the window form puts
    * a whole type's events on ONE task (the q132/q101 skew defect).
    * The argmin aggregate map-side-combines (each partition ships one
    * candidate per type) and picks the identical row — first under a
    * total order is unique, so the oracle stays the row_number SQL.
    */
  private val q06: Q = (s, dir) =>
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(min_by(struct(col("event_id"), col("value")),
        struct(col("ts"), col("event_id"))).as("f"))
      .select(col("event_type"), col("f.event_id").as("first_event_id"),
        col("f.value").as("first_value"))
      .orderBy("event_type")

  /** D2: SELECT DISTINCT dedup (condition.sql:34-39). */
  private val q07: Q = (s, dir) =>
    t(s, dir, "lineitem").select(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      .distinct().orderBy("flag", "status")

  /** D3/G1: COUNT(DISTINCT key) — the load-verification aggregate
    * (location.sql:38 et al.).
    */
  private val q08: Q = (s, dir) =>
    t(s, dir, "orders").groupBy(col("o_orderstatus").as("status"))
      .agg(count_distinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
      .orderBy("status")

  /** D4: IN-subquery as a left-semi join (post-merge verification,
    * location.sql:62-66).
    */
  private val q09: Q = (s, dir) =>
    t(s, dir, "orders")
      .join(t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey").as("order_id"), col("o_custkey").as("cust_id"),
        col("o_totalprice").as("total_price"))
      .orderBy("order_id")

  /** D5: NOT IN-subquery as a left-anti join (insert-only dim load,
    * condition.sql:73-79).
    */
  private val q10: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey").as("cust_id"), col("c_name"))
      .orderBy("cust_id")

  /** M1/M3-M5: keyed MERGE upsert via [[Merge.upsert]] — target = latest
    * order per customer before the cut, stage = after; stage rows replace,
    * unmatched survive, new keys insert (location.sql:43-59 et al.).
    */
  private val q11: Q = (s, dir) => {
    val cut = lit("1999-01-01").cast("timestamp")
    val orders = t(s, dir, "orders")
    val ver = Seq(col("o_orderdate"), col("o_orderkey"))
    val target = Merge.dedupLastWins(orders.filter(col("o_orderdate") < cut), Seq("o_custkey"), ver)
    val merged = Merge.upsert(target, orders.filter(col("o_orderdate") >= cut), Seq("o_custkey"), ver)
    merged.select(col("o_custkey").as("cust_id"), col("o_orderkey").as("last_orderkey"),
        to_date(col("o_orderdate")).as("last_orderdate"), col("o_totalprice").as("last_totalprice"))
      .orderBy("cust_id")
  }

  /** M2/D5: insert-only dimension load via [[Merge.insertNew]] — types
    * seen before the cut keep their first id; later types append
    * (condition.sql:42-79).
    */
  private val q12: Q = (s, dir) => {
    val cut = lit("2024-01-10").cast("timestamp")
    val ev = events(s, dir)
    def dimOf(df: DataFrame) =
      df.groupBy("event_type").agg(min(col("event_id")).as("first_event_id"))
    val dim = dimOf(ev.filter(col("ts") < cut))
    val merged = Merge.insertNew(dim, dimOf(ev.filter(col("ts") >= cut)), Seq("event_type"))
    merged.orderBy("event_type")
  }

  /** M6: the flagship star join — facts ⋈ broadcast dims, decimal-exact
    * revenue per region/nation (the README's "further analysis" layer).
    */
  private val q13: Q = (s, dir) => {
    val rev = col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
    // Pre-aggregate the fact to order grain BEFORE joining the dimensions:
    // map-side partial aggregation compresses the fact shuffle (lineitem
    // rows for one order are file-adjacent), the dim join then moves one
    // row per order instead of one per line item, and count_distinct
    // (which doubles the rows through the aggregate via Expand) becomes a
    // plain count — each order appears exactly once post-pre-agg. At 100
    // TB this is the difference between shuffling the fact table twice
    // and shuffling it once at 1/4 width.
    val perOrder = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(rev).as("order_rev"))
    val orderDim = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("o_orderkey"), col("r_name"), col("n_name"))
    perOrder.join(orderDim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(sum(col("order_rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("region_name", "nation_name")
  }

  /** G2: recomputed pre-aggregated measures — the hash-aggregate the
    * API's day.* rollup implies (SURVEY.md §2.7), TPC-H-Q1-shaped.
    */
  private val q14: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-12-31").cast("timestamp"))
      .groupBy(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1) - col("l_discount").cast(DecimalType(4, 2)))).cast("double").as("sum_disc_price"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (decSum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("flag", "status")

  /** A1: positional day selection (indices 1,2 of the forecast array,
    * reference: DataTransformation.py:202-205) — per-key ordered position
    * filter.
    */
  private val q15: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("pos", row_number().over(w))
      .filter(col("pos").isin(2, 3))
      .select(col("user_id"), col("pos").cast("long").as("pos"),
        col("event_id"), col("event_type"))
      .orderBy("user_id", "pos")
  }

  /** A3: hour-of-day sampling (slots 0,10,20,
    * reference: DataTransformation.py:96-97).
    */
  private val q16: Q = (s, dir) =>
    events(s, dir)
      .filter(hour(col("ts")).isin(0, 10, 20))
      .select(col("event_id"), col("user_id"), hour(col("ts")).cast("long").as("hr"),
        col("event_type"))
      .orderBy("event_id")

  /** E9/props: JSON field extraction from a string column — the engine's
    * analog of reading API substructure; grouped rollup over the value.
    */
  private val q17: Q = (s, dir) =>
    events(s, dir)
      .select(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k"),
        col("value"))
      .groupBy("k").agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
      .orderBy("k")

  /** A4: records-flatten as UNION ALL of per-slice projections with
    * differing column order (unionByName, reference: DataTransformation
    * .py:216-226).
    */
  private val q18: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey").as("order_id"), col("o_orderstatus").as("status"))
    val b = o.filter(col("o_orderstatus") =!= "O")
      .select(col("o_orderstatus").as("status"), col("o_orderkey").as("order_id"))
    a.unionByName(b).orderBy("order_id")
  }

  /** S5/K2: headered CSV sink + source round-trip (the staging feeds,
    * reference: DataTransformation.py:55-66, SnowFlake-AWS
    * connection.sql:14-18) — write, read back with explicit schema,
    * aggregate. Oracle computes the same aggregate directly: round-trip
    * must be lossless.
    */
  private val q19: Q = (s, dir) => {
    val out = s"${sys.props("java.io.tmpdir")}/graft_csv_roundtrip_${ProcessHandle.current().pid()}"
    val src = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
    src.write.mode("overwrite").option("header", "true").csv(out)
    s.read.option("header", "true")
      .schema("l_orderkey long, l_linenumber int, l_quantity double, l_returnflag string")
      .csv(out)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy("flag")
  }

  /** K1/S3: JSON sink + source round-trip — write a slice as JSON files
    * (the raw-layer sink, reference: DataExtraction.py:61-69), read back
    * with the explicit schema (never inference), aggregate. The oracle
    * computes the same aggregate directly: the round-trip must be
    * lossless.
    */
  private val q30: Q = (s, dir) => {
    val out = s"${sys.props("java.io.tmpdir")}/graft_json_roundtrip_${ProcessHandle.current().pid()}"
    t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").json(out)
    s.read.schema("o_orderkey long, o_orderstatus string, o_totalprice double").json(out)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("sum_price"))
      .orderBy("status")
  }

  /** K-family extension: ORC sink + source round-trip — Spark's second
    * first-class columnar format (predicate pushdown + column pruning
    * work the same as parquet). Write a projected slice as ORC, read
    * back, aggregate; the oracle computes the same aggregate directly
    * from parquet, so the round-trip must be lossless.
    */
  private val q80: Q = (s, dir) => {
    val out = s"${sys.props("java.io.tmpdir")}/graft_orc_roundtrip_${ProcessHandle.current().pid()}"
    t(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n"), decSum(col("p_retailprice")).as("sum_price"))
      .orderBy("brand")
  }

  /** E10/S4 inverse: structured JSON parsing with `from_json` + explicit
    * schema (vs q17's regexp path) — grouped rollup over the extracted
    * field.
    */
  private val q31: Q = (s, dir) =>
    events(s, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(max(col("k")).as("max_k"), count(lit(1)).as("n"))
      .orderBy("event_type")

  /** E9: URL decoding (the S3-event key decode,
    * reference: DataTransformation.py:143,234) demonstrated on a
    * deterministically encoded column.
    */
  private val q32: Q = (s, dir) =>
    t(s, dir, "customer").select(
      col("c_custkey").as("cust_id"),
      expr("url_decode(concat('seg+', c_mktsegment, '%20x'))").as("decoded"),
    ).orderBy("cust_id")

  /** As-of join: each error event enriched with the user's latest click
    * at-or-before it ([[graft.ops.AsOfJoin]] — union-tag + running-last
    * window, one shuffle). Runs the SKEW-BUCKETED path (1-day time
    * buckets over the 30-day event range) so the judged query exercises
    * the shape that survives a hot key at scale; `OpsPropertySpec` pins
    * bucketed ≡ unbucketed. Oracle uses DuckDB's native ASOF JOIN:
    * identical semantics, independent implementation.
    */
  private val q33: Q = (s, dir) => {
    val ev = events(s, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id").as("error_event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_event_id"),
        col("value").as("click_value"))
    graft.ops.AsOfJoin.asOf(errors, clicks, Seq("user_id"), "ts", "ts",
        bucketSeconds = Some(86400L))
      .select(col("error_event_id"), col("user_id"),
        col("asof_click_event_id").as("click_event_id"),
        col("asof_click_value").as("click_value"))
      .orderBy("error_event_id")
  }

  /** Window-function sweep: sequence, lag, deterministic running spend
    * (decimal-exact), price rank per customer — the analytic layer the
    * star schema exists for.
    */
  private val q34: Q = (s, dir) => {
    val seqW = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val runW = seqW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rankW = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders").select(
      col("o_custkey").as("cust_id"),
      col("o_orderkey").as("order_id"),
      row_number().over(seqW).cast("long").as("seq"),
      lag(col("o_totalprice"), 1).over(seqW).as("prev_price"),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).over(runW)
        .cast("double").as("running_spend"),
      rank().over(rankW).cast("long").as("price_rank"),
    ).orderBy("cust_id", "seq")
  }

  /** ROLLUP over the star join: revenue at (region, nation), region
    * subtotal, and grand total — multi-level aggregation the warehouse
    * layer implies.
    */
  private val q35: Q = (s, dir) => {
    val rev = col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
    // Two pre-aggregations before the rollup. (1) Fact to order grain
    // before the dim join — same rationale as q13: map-side combine on
    // the file-adjacent order key, and the join then moves 1 row per
    // order, not per line item. (2) To (region, nation) grain before
    // rollup: rollup's Expand operator replicates every input row once
    // per grouping set, so Expand runs over ~25 partials instead of the
    // fact table.
    val perOrder = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(rev).as("order_rev"), count(lit(1)).as("order_items"))
    val orderDim = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("o_orderkey"), col("r_name"), col("n_name"))
    val partial = perOrder.join(orderDim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("order_rev")).as("rev_part"), sum(col("order_items")).as("n_part"))
    partial
      .rollup(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(sum(col("rev_part")).cast("double").as("revenue"),
        sum(col("n_part")).as("n_items"))
      .orderBy(col("region_name").asc_nulls_first, col("nation_name").asc_nulls_first)
  }

  /** Top-k per group via the custom bounded-heap aggregate
    * ([[graft.functions.TopKAgg]]): top-3 orders by price per status.
    * One aggregation pass with map-side partials — no full window sort.
    * Oracle: the row_number window formulation (independent plan, same
    * result).
    */
  private val q36: Q = (s, dir) => {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus").as("status"))
      .agg(call_function("graft_topk", col("o_totalprice"), col("o_orderkey"), lit(3))
        .as("top_ids"))
      .select(col("status"), posexplode(col("top_ids")).as(Seq("pos", "order_id")))
      .select(col("status"), (col("pos") + 1).cast("long").as("rank"), col("order_id"))
      .orderBy("status", "rank")
  }

  /** Salted join on an extreme-skew key (l_returnflag: 3 values across
    * the whole fact table) via [[graft.ops.Skew.saltedJoin]] — result
    * identical to the plain join the oracle runs; the salt only reshapes
    * the shuffle.
    */
  private val q38: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val dim = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("flag_total"))
    graft.ops.Skew.saltedJoin(li, dim, Seq("l_returnflag"),
        saltBy = col("l_orderkey"), salts = 16)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"), max(col("flag_total")).as("flag_total"))
      .orderBy("flag")
  }

  /** Sessionization: events within 1 hour of each other merge into one
    * session per user (`session_window`); the oracle reproduces the
    * semantics independently via gaps-and-islands (lag + cumulative
    * sum). Session end = last event + gap, per Spark's definition.
    */
  private val q39: Q = (s, dir) =>
    graft.streaming.StreamingAnalytics
      .sessionStats(events(s, dir), "ts", "user_id", gap = "1 hour")
      .orderBy("user_id", "session_start")

  /** Pivot/reshape: long event stream → one row per user with per-type
    * counts (the reshaping step the reference's one-JSON→five-feeds
    * fan-out implies). Pivot values are pinned explicitly — an unpinned
    * pivot scans the data twice to discover them.
    */
  private val q40: Q = (s, dir) =>
    events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .toDF("user_id", "n_click", "n_error", "n_purchase", "n_signup", "n_view")
      .orderBy("user_id")

  /** Set operations (beyond the reference surface, SURVEY.md §2.6 notes
    * none exist there): customers ordering in both years (INTERSECT),
    * only the first (EXCEPT), with a tag distinguishing the two sets.
    */
  private val q41: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val c97 = o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey").as("cust_id"))
    val c98 = o.filter(year(col("o_orderdate")) === 1998).select(col("o_custkey").as("cust_id"))
    c97.intersect(c98).withColumn("tag", lit("both"))
      .unionByName(c97.except(c98).withColumn("tag", lit("only_1997")))
      .orderBy("tag", "cust_id")
  }

  /** Exact interpolated percentiles per group (`percentile` — the exact
    * built-in, not the t-digest approximation; oracle: `quantile_cont`,
    * the same linear-interpolation definition). Rounded to 6 decimals:
    * the interpolation arithmetic is the one place both engines compute
    * the same real number along possibly different float paths.
    */
  private val q42: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"),
        round(expr("percentile(l_discount, 0.25)"), 6).as("p25_discount"))
      .orderBy("flag")

  /** CUBE with grouping indicators: order counts at every combination of
    * (status, priority class), including both one-sided subtotals CUBE
    * adds over ROLLUP; `grouping()` disambiguates subtotal rows from
    * genuine NULL groups.
    */
  private val q43: Q = (s, dir) =>
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        grouping(col("o_orderstatus")).cast("long").as("g_status"),
        grouping(col("o_orderpriority")).cast("long").as("g_priority"))
      .toDF("status", "priority", "n", "g_status", "g_priority")
      .orderBy(col("status").asc_nulls_first, col("priority").asc_nulls_first)

  /** S1/O4/O5 judged end to end: the REST source's distributed per-city
    * fetch (reference: DataExtraction.py:32-40, sequential loop :58-60)
    * runs against the deterministic [[graft.sources.FixtureTransport]] —
    * url building, partitioned fan-out, `from_json` parsing with the
    * explicit [[graft.schema.WeatherSchema.root]], and the error-skip
    * contract (one city returns HTTP 500 and surfaces as an error row
    * with null forecast fields instead of failing the job) all sit on
    * the judged path. The oracle inlines the fixture arithmetic as a
    * VALUES list.
    */
  private val q85: Q = (s, _) => {
    val cities = graft.schema.WeatherSchema.locationMap.map(_._1)
    val fetched = graft.sources.RestSource.fetchForecasts(s, cities,
      apiKey = "fixture", days = 3,
      transport = new graft.sources.FixtureTransport(Set("Pune")))
    fetched.select(
      col("city"), col("error"),
      col("forecast.location.name").as("loc_name"),
      col("forecast.location.lat").as("lat"),
      col("forecast.current.temp_c").as("temp_c"),
      col("forecast.current.humidity").cast("long").as("humidity"),
      element_at(col("forecast.forecast.forecastday"), 1)
        .getField("day").getField("avgtemp_c").as("avgtemp_d1"),
      size(col("forecast.forecast.forecastday")).cast("long").as("n_days"))
      .orderBy("city")
  }

  /** S2 judged end to end: the config/secret source's provider chain
    * (reference: DataExtraction.py:8-28's `get_secret()`), run over a
    * REAL `.properties` file plus fixed override/env maps so every
    * precedence path is exercised — override beats env (`days`), env
    * beats file (`endpoint`, `api_key`), file-only fallback (`region`)
    * — and the audit view masks the secret BEFORE row construction.
    * The oracle is the expected resolution as a VALUES list; a broken
    * precedence order or a leaked secret value breaks the match.
    */
  private val q91: Q = (s, _) => {
    val propsPath =
      s"${sys.props("java.io.tmpdir")}/graft_q91_${ProcessHandle.current().pid()}.properties"
    java.nio.file.Files.write(java.nio.file.Paths.get(propsPath),
      java.util.Arrays.asList(
        "endpoint=https://file.example/v1",
        "api_key=file-key-000",
        "days=7",
        "region=file-region"),
      java.nio.charset.StandardCharsets.UTF_8)
    val overrides = Map("days" -> "3")
    val env = Map(
      "endpoint" -> "https://env.example/v1",
      "api_key" -> "env-secret-123")
    val keys = Seq("endpoint", "api_key", "days", "region")
    val resolved = keys.map(k =>
      k -> graft.sources.ConfigSource.require(k, overrides, env, Some(propsPath))).toMap
    graft.sources.ConfigSource.asDataFrame(s, resolved).orderBy("key")
  }

  /** K5 judged end to end: the count-verify-truncate protocol
    * (reference: location.sql:36-79 — MERGE, compare staged vs merged
    * distinct keys, truncate the stage only on agreement). The purchase
    * slice is staged as REAL parquet files, merged into the click-slice
    * target, verified with [[graft.warehouse.Merge.verifyCounts]], and
    * only then are the stage's backing files deleted — the materialized
    * merge result (localCheckpoint, taken BEFORE the truncate) is what
    * the oracle checks, and a failed verify or surviving stage directory
    * fails the judged query.
    */
  private val q90: Q = (s, dir) => {
    val stagePath =
      s"${sys.props("java.io.tmpdir")}/graft_q90_stage_${ProcessHandle.current().pid()}"
    events(s, dir).filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
      .write.mode("overwrite").parquet(stagePath)
    val stage = s.read.parquet(stagePath)
    val target = events(s, dir).filter(col("event_type") === "click")
      .select("event_id", "user_id", "value")
    val merged = graft.warehouse.Merge.upsert(target, stage, Seq("event_id"))
      .localCheckpoint()
    val (staged, inTarget) = graft.warehouse.Merge.verifyCounts(merged, stage, "event_id")
    require(staged == inTarget,
      s"verified truncate refused: staged=$staged merged=$inTarget")
    MicroBatchLoop.rmTree(new java.io.File(stagePath))
    require(!new java.io.File(stagePath).exists, "stage truncate failed")
    merged.orderBy("event_id")
  }

  val all: Map[String, Q] = Map(
    "q01_projection" -> q01,
    "q02_dim_lookup" -> q02,
    "q03_surrogate_key" -> q03,
    "q04_date_cast" -> q04,
    "q05_case_norm" -> q05,
    "q06_first_wins_dedup" -> q06,
    "q07_distinct" -> q07,
    "q08_count_distinct" -> q08,
    "q09_semi_join" -> q09,
    "q10_anti_join" -> q10,
    "q11_merge_upsert" -> q11,
    "q12_insert_new" -> q12,
    "q13_star_join" -> q13,
    "q14_group_agg" -> q14,
    "q15_day_sample" -> q15,
    "q16_hour_sample" -> q16,
    "q17_json_extract" -> q17,
    "q18_union_all" -> q18,
    "q19_csv_roundtrip" -> q19,
    "q30_json_roundtrip" -> q30,
    "q31_from_json" -> q31,
    "q32_url_decode" -> q32,
    "q33_asof_join" -> q33,
    "q34_window_funcs" -> q34,
    "q35_rollup" -> q35,
    "q36_topk_per_group" -> q36,
    "q38_salted_join" -> q38,
    "q39_session_window" -> q39,
    "q40_pivot" -> q40,
    "q41_set_ops" -> q41,
    "q42_percentiles" -> q42,
    "q43_cube" -> q43,
    "q80_orc_roundtrip" -> q80,
    "q85_rest_fixture" -> q85,
    "q90_verified_truncate" -> q90,
    "q91_config_source" -> q91,
  )

  // ----------------------------------------------------------------- oracle

  val oracle: Map[String, String] = Map(
    "q01_projection" ->
      """SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_quantity AS qty,
        |       l_extendedprice AS price, l_returnflag AS flag
        |FROM lineitem ORDER BY order_id, line_no""".stripMargin,

    "q02_dim_lookup" ->
      """SELECT c_custkey AS cust_id, c_name, n_name AS nation_name, r_name AS region_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY cust_id""".stripMargin,

    "q03_surrogate_key" ->
      """SELECT o_orderkey AS order_id,
        |       o_custkey || '_' || strftime(o_orderdate, '%Y%m%d') AS cust_day_key,
        |       o_custkey || '_' || strftime(o_orderdate, '%Y%m%d') || '_' || (o_orderkey % 24) AS cust_day_slot_key
        |FROM orders ORDER BY order_id""".stripMargin,

    "q04_date_cast" ->
      """SELECT o_orderkey AS order_id, CAST(o_orderdate AS DATE) AS order_date,
        |       strftime(o_orderdate, '%Y-%m') AS order_ym,
        |       CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |       CAST(month(o_orderdate) AS BIGINT) AS order_month
        |FROM orders ORDER BY order_id""".stripMargin,

    "q05_case_norm" ->
      """SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'URGENT'
        |            WHEN o_orderpriority = '2-HIGH' THEN 'HIGH'
        |            ELSE 'NORMAL' END AS priority_class,
        |       count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY priority_class""".stripMargin,

    "q06_first_wins_dedup" ->
      """SELECT event_type, event_id AS first_event_id, value AS first_value
        |FROM (SELECT event_type, event_id, value,
        |             row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q07_distinct" ->
      """SELECT DISTINCT l_returnflag AS flag, l_linestatus AS status
        |FROM lineitem ORDER BY flag, status""".stripMargin,

    "q08_count_distinct" ->
      """SELECT o_orderstatus AS status, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,

    "q09_semi_join" ->
      """SELECT o_orderkey AS order_id, o_custkey AS cust_id, o_totalprice AS total_price
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY order_id""".stripMargin,

    "q10_anti_join" ->
      """SELECT c_custkey AS cust_id, c_name
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY cust_id""".stripMargin,

    "q11_merge_upsert" ->
      """WITH target AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |                 FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01')
        |  WHERE rn = 1),
        |stage AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |                 FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01')
        |  WHERE rn = 1),
        |merged AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM stage
        |  UNION ALL
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM target t
        |  WHERE NOT EXISTS (SELECT 1 FROM stage s WHERE s.o_custkey = t.o_custkey))
        |SELECT o_custkey AS cust_id, o_orderkey AS last_orderkey,
        |       CAST(o_orderdate AS DATE) AS last_orderdate, o_totalprice AS last_totalprice
        |FROM merged ORDER BY cust_id""".stripMargin,

    "q12_insert_new" ->
      """WITH dim AS (
        |  SELECT event_type, min(event_id) AS first_event_id
        |  FROM events WHERE ts < TIMESTAMP '2024-01-10' GROUP BY 1),
        |fresh AS (
        |  SELECT event_type, min(event_id) AS first_event_id
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-10' GROUP BY 1)
        |SELECT event_type, first_event_id FROM dim
        |UNION ALL
        |SELECT event_type, first_event_id FROM fresh f
        |WHERE NOT EXISTS (SELECT 1 FROM dim d WHERE d.event_type = f.event_type)
        |ORDER BY event_type""".stripMargin,

    "q13_star_join" ->
      """SELECT r_name AS region_name, n_name AS nation_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |       count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey AND o_orderdate >= TIMESTAMP '1996-01-01'
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY region_name, nation_name""".stripMargin,

    "q14_group_agg" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |       sum(l_quantity) / count(*) AS avg_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-31'
        |GROUP BY 1, 2 ORDER BY flag, status""".stripMargin,

    "q15_day_sample" ->
      """SELECT user_id, CAST(pos AS BIGINT) AS pos, event_id, event_type
        |FROM (SELECT user_id, event_id, event_type,
        |             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
        |      FROM events)
        |WHERE pos IN (2, 3) ORDER BY user_id, pos""".stripMargin,

    "q16_hour_sample" ->
      """SELECT event_id, user_id, CAST(hour(ts) AS BIGINT) AS hr, event_type
        |FROM events WHERE hour(ts) IN (0, 10, 20) ORDER BY event_id""".stripMargin,

    "q17_json_extract" ->
      """SELECT TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,

    "q18_union_all" ->
      """SELECT o_orderkey AS order_id, o_orderstatus AS status
        |FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT o_orderkey AS order_id, o_orderstatus AS status
        |FROM orders WHERE o_orderstatus <> 'O'
        |ORDER BY order_id""".stripMargin,

    "q19_csv_roundtrip" ->
      """SELECT l_returnflag AS flag, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin,

    "q30_json_roundtrip" ->
      """SELECT o_orderstatus AS status, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,

    "q80_orc_roundtrip" ->
      """SELECT p_brand AS brand, count(*) AS n,
        |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part GROUP BY 1 ORDER BY brand""".stripMargin,

    "q31_from_json" ->
      """SELECT event_type,
        |       max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |       count(*) AS n
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q32_url_decode" ->
      """SELECT c_custkey AS cust_id,
        |       replace(replace('seg+' || c_mktsegment || '%20x', '%20', ' '), '+', ' ') AS decoded
        |FROM customer ORDER BY cust_id""".stripMargin,

    "q33_asof_join" ->
      """SELECT a.event_id AS error_event_id, a.user_id,
        |       b.event_id AS click_event_id, b.value AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'error') a
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') b
        |  ON a.user_id = b.user_id AND a.ts >= b.ts
        |ORDER BY error_event_id""".stripMargin,

    "q34_window_funcs" ->
      """SELECT o_custkey AS cust_id, o_orderkey AS order_id,
        |       CAST(row_number() OVER w AS BIGINT) AS seq,
        |       lag(o_totalprice, 1) OVER w AS prev_price,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
        |       CAST(rank() OVER (PARTITION BY o_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS price_rank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY cust_id, seq""".stripMargin,

    "q35_rollup" ->
      """SELECT r_name AS region_name, n_name AS nation_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region_name NULLS FIRST, nation_name NULLS FIRST""".stripMargin,

    "q36_topk_per_group" ->
      """SELECT o_orderstatus AS status, CAST(rn AS BIGINT) AS rank, o_orderkey AS order_id
        |FROM (SELECT o_orderstatus, o_orderkey,
        |             row_number() OVER (PARTITION BY o_orderstatus
        |               ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY status, rank""".stripMargin,

    "q38_salted_join" ->
      """WITH dim AS (SELECT l_returnflag AS f, count(*) AS flag_total
        |             FROM lineitem GROUP BY 1)
        |SELECT l_returnflag AS flag, count(*) AS n, max(flag_total) AS flag_total
        |FROM lineitem JOIN dim ON l_returnflag = f
        |GROUP BY 1 ORDER BY flag""".stripMargin,

    // split on `>` (not `>=`): Spark's session_window merges two events
    // exactly gap apart — verified empirically on 4.1.2 (see the
    // StreamingQueries q73 oracle note)
    "q39_session_window" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w > INTERVAL 1 HOUR
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 1 HOUR AS session_end,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q40_pivot" ->
      """SELECT user_id,
        |       count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        |       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
        |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |       count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
        |       count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q41_set_ops" ->
      """WITH c97 AS (SELECT o_custkey AS cust_id FROM orders WHERE year(o_orderdate) = 1997),
        |     c98 AS (SELECT o_custkey AS cust_id FROM orders WHERE year(o_orderdate) = 1998)
        |SELECT cust_id, 'both' AS tag FROM (SELECT cust_id FROM c97 INTERSECT SELECT cust_id FROM c98)
        |UNION ALL
        |SELECT cust_id, 'only_1997' AS tag FROM (SELECT cust_id FROM c97 EXCEPT SELECT cust_id FROM c98)
        |ORDER BY tag, cust_id""".stripMargin,

    "q42_percentiles" ->
      """SELECT l_returnflag AS flag,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
        |       round(quantile_cont(l_discount, 0.25), 6) AS p25_discount
        |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin,

    "q43_cube" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |       count(*) AS n,
        |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status NULLS FIRST, priority NULLS FIRST""".stripMargin,

    // FixtureTransport's arithmetic inlined: temp = 15 + 1.5·idx,
    // humidity = 40 + 3·idx, avgtemp day 1 = 12 + 2.25·idx,
    // lat = 10 + idx, in city-list order; Pune (idx 3) is the judged
    // error-skip row (all dyadic rationals — bit-exact in both engines)
    "q85_rest_fixture" ->
      """SELECT city, error, loc_name,
        |       CAST(lat AS DOUBLE) AS lat,
        |       CAST(temp_c AS DOUBLE) AS temp_c,
        |       CAST(humidity AS BIGINT) AS humidity,
        |       CAST(avgtemp_d1 AS DOUBLE) AS avgtemp_d1,
        |       CAST(n_days AS BIGINT) AS n_days
        |FROM (VALUES
        |  ('Ahmedabad', NULL, 'Ahmedabad', 19.0, 28.5, 67, 32.25, 3),
        |  ('Bangalore', NULL, 'Bangalore', 11.0, 16.5, 43, 14.25, 3),
        |  ('Chennai',   NULL, 'Chennai',   12.0, 18.0, 46, 16.5,  3),
        |  ('Hyderabad', NULL, 'Hyderabad', 15.0, 22.5, 55, 23.25, 3),
        |  ('Jaipur',    NULL, 'Jaipur',    16.0, 24.0, 58, 25.5,  3),
        |  ('Kochi',     NULL, 'Kochi',     17.0, 25.5, 61, 27.75, 3),
        |  ('Kolkata',   NULL, 'Kolkata',   18.0, 27.0, 64, 30.0,  3),
        |  ('Mumbai',    NULL, 'Mumbai',    14.0, 21.0, 52, 21.0,  3),
        |  ('New Delhi', NULL, 'New Delhi', 10.0, 15.0, 40, 12.0,  3),
        |  ('Pune', 'HTTP 500', NULL, NULL, NULL, NULL, NULL, NULL)
        |) AS t(city, error, loc_name, lat, temp_c, humidity, avgtemp_d1, n_days)
        |ORDER BY city""".stripMargin,

    // the verified merge is disjoint-key (purchases staged into clicks),
    // so its result is exactly the two slices' union
    "q90_verified_truncate" ->
      """SELECT event_id, user_id, value
        |FROM events WHERE event_type IN ('purchase', 'click')
        |ORDER BY event_id""".stripMargin,

    // expected provider-chain resolution: override > env > file; the
    // secret key surfaces masked, never its value
    "q91_config_source" ->
      """SELECT key, value, is_secret FROM (VALUES
        |  ('api_key',  '********',               true),
        |  ('days',     '3',                      false),
        |  ('endpoint', 'https://env.example/v1', false),
        |  ('region',   'file-region',            false)
        |) AS t(key, value, is_secret)
        |ORDER BY key""".stripMargin,
  )
}
