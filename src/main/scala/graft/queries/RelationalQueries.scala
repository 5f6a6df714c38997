package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import org.apache.spark.sql.functions._
import QueryKit._

/** Driver-contract queries covering every relational operator family of
  * SURVEY.md §2 over the synthetic TPC-H-ish testdata, each with an ANSI-SQL
  * oracle the driver runs in DuckDB.
  *
  * Determinism discipline (the driver hash-compares values):
  *   - every query ends in a total ORDER BY over non-null keys (and the
  *     oracle carries the same ORDER BY), so row order can never diverge;
  *   - sums/avgs of 2-decimal money doubles go through DECIMAL(18,2) and
  *     back to double, which is EXACT in both engines — no accumulation-
  *     order noise between Spark's partial aggregates and DuckDB;
  *   - sums of integral-valued doubles (quantities) stay plain double:
  *     integer-valued double addition is exact below 2^53 in any order;
  *   - only genuinely irrational outputs (stddev, interpolated percentiles)
  *     are rounded, coarse enough that cross-engine float noise (≤1e-9)
  *     cannot straddle a rounding boundary;
  *   - integer-ish derived columns are cast to Long on the Spark side and
  *     BIGINT in the oracle (DuckDB's sum(int)→HUGEINT and year()→BIGINT
  *     would otherwise mismatch the schema).
  */
object RelationalQueries {

  /** events with ts as nanos-since-epoch Long regardless of the on-disk
    * timestamp layout — see [[graft.io.TableIO.eventsNanos]]. Ordering by
    * the raw long is identical to ordering by the timestamp, and
    * [[tsDate]] derives the UTC calendar date from it, so every
    * downstream use matches DuckDB's `epoch_ns(ts)` handling.
    */
  private[queries] def events(s: SparkSession, dir: String): DataFrame =
    graft.io.TableIO.eventsNanos(s, dir)

  /** Calendar date of a nanos-since-epoch long column named ts, derived
    * from the epoch-DAY integer — independent of the session time zone
    * (to_date(timestamp_seconds(...)) would resolve in the session TZ and
    * silently diverge from DuckDB's naive CAST(ts AS DATE) in any session
    * not pinned to UTC). FLOOR division, not DIV: CAST(ts AS DATE)
    * floors pre-epoch timestamps to the previous day, while truncation
    * would collapse late-1969-12-31 into 1970-01-01.
    */
  private val tsDate: Column =
    date_from_unix_date(
      graft.functions.floorDivLit(col("ts"), 86400000000000L).cast("int"))

  /** Exact money sum: through DECIMAL(18,2), back to double. */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact money average: exact decimal sum / non-null count. */
  private def davg(c: Column): Column = dsum(c) / count(c)

  /** Oracle-side spellings of the same two patterns. */
  private def oSum(x: String) = s"CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"

  private def oAvg(x: String) = s"${oSum(x)} / count($x)"

  lazy val all: Seq[Query] = Seq(
    // P1/P4/S10: fixed-width round-trip — build a fixed-width line with
    // lpad/rpad/concat, parse it back with literal-offset substring+trim+cast
    // (the .dly/stations parse shape, SURVEY §2.2 P1 / §2.1 S10).
    Query("q01_fixed_width", (s, dir) => {
      val line = concat(
        lpad(col("o_orderkey").cast("string"), 12, "0"),
        rpad(col("o_orderpriority"), 16, " "),
        lpad(year(col("o_orderdate")).cast("string"), 4, "0"))
      t(s, dir, "orders")
        .select(line.as("line"))
        .select(
          substring(col("line"), 1, 12).cast(LongType).as("okey"),
          trim(substring(col("line"), 13, 16)).as("priority"),
          substring(col("line"), 29, 4).cast(LongType).as("yr"))
        .groupBy("priority", "yr")
        .agg(count(lit(1)).as("cnt"), min("okey").as("min_key"), max("okey").as("max_key"))
        .orderBy("priority", "yr")
    },
    oracle =
      """WITH lines AS (
        |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
        |      || rpad(o_orderpriority, 16, ' ')
        |      || lpad(CAST(year(o_orderdate) AS VARCHAR), 4, '0') AS line
        |  FROM orders),
        |parsed AS (
        |  SELECT CAST(substring(line, 1, 12) AS BIGINT) AS okey,
        |         trim(substring(line, 13, 16)) AS priority,
        |         CAST(substring(line, 29, 4) AS BIGINT) AS yr
        |  FROM lines)
        |SELECT priority, yr, CAST(count(*) AS BIGINT) AS cnt,
        |       min(okey) AS min_key, max(okey) AS max_key
        |FROM parsed GROUP BY priority, yr ORDER BY priority, yr""".stripMargin),

    // P2: substring with a COMPUTED offset (Column.substr(Column, Column)) —
    // the bronze per-day slice primitive (bronze_processor.py:98-119).
    Query("q02_computed_substr", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          col("text").substr((col("doc_id") % 7 + 1).cast("int"), lit(12)).as("frag"))
        .withColumn("frag_len", length(col("frag")).cast(LongType))
        .orderBy("doc_id")
    },
    oracle =
      """SELECT doc_id,
        |       substring(text, CAST(doc_id % 7 + 1 AS INT), 12) AS frag,
        |       CAST(length(substring(text, CAST(doc_id % 7 + 1 AS INT), 12)) AS BIGINT) AS frag_len
        |FROM documents ORDER BY doc_id""".stripMargin),

    // P3: NULL-on-bad-cast (try_cast) — ANSI-safe reference semantics
    // (bronze_processor.py:54,112); plus regexp extraction.
    Query("q03_try_cast", (s, dir) => {
      events(s, dir)
        .select(col("event_type"),
          graft.functions.tryCast(regexp_extract(col("props"), "[0-9]+", 0), LongType).as("k"),
          graft.functions.tryCast(col("event_type"), LongType).as("bad"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("k")).as("sum_k"),
          sum(when(col("bad").isNull, 1).otherwise(0)).as("bad_nulls"))
        .orderBy("event_type")
    },
    oracle =
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(TRY_CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(sum(CASE WHEN TRY_CAST(event_type AS BIGINT) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_nulls
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // P6/P7/P8/P9: CASE WHEN chain + isin + between + null predicate
    // (silver_processor.py:52-70, gold_processor.py:167-178).
    Query("q04_case_buckets", (s, dir) => {
      t(s, dir, "lineitem")
        .select(
          when(col("l_quantity") >= 40, "high")
            .when(col("l_quantity") >= 20, "mid")
            .when(col("l_returnflag").isin("A", "R"), "returned_low")
            .otherwise("low").as("bucket"),
          col("l_discount").between(0.02, 0.06).as("mid_discount"),
          nullif(col("l_tax"), lit(0.0)).as("tax_or_null"),
          col("l_quantity"))
        .groupBy("bucket", "mid_discount")
        .agg(count(lit(1)).as("cnt"),
          sum("l_quantity").as("sum_qty"),
          sum(when(col("tax_or_null").isNull, 1).otherwise(0)).as("zero_tax_cnt"))
        .orderBy("bucket", "mid_discount")
    },
    oracle =
      """SELECT CASE WHEN l_quantity >= 40 THEN 'high'
        |            WHEN l_quantity >= 20 THEN 'mid'
        |            WHEN l_returnflag IN ('A','R') THEN 'returned_low'
        |            ELSE 'low' END AS bucket,
        |       l_discount BETWEEN 0.02 AND 0.06 AS mid_discount,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(sum(CASE WHEN nullif(l_tax, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS zero_tax_cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY bucket, mid_discount""".stripMargin),

    // G1+P5: explode(sequence(1,31)) day generator + date assembly with
    // try_to_date culling Feb-30-style slots (bronze_processor.py:67-96).
    Query("q05_date_explode", (s, dir) => {
      t(s, dir, "orders")
        .select(year(col("o_orderdate")).cast(LongType).as("y"),
          month(col("o_orderdate")).cast(LongType).as("m"))
        .withColumn("day", explode(sequence(lit(1), lit(31))))
        .withColumn("d", try_to_date(
          concat(col("y").cast("string"),
            lpad(col("m").cast("string"), 2, "0"),
            lpad(col("day").cast("string"), 2, "0")), "yyyyMMdd"))
        .groupBy("y", "m")
        .agg(count(lit(1)).as("n_slots"),
          count(col("d")).as("n_valid"),
          sum(when(col("d").isNull, 1).otherwise(0)).as("n_invalid"))
        .orderBy("y", "m")
    },
    oracle =
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |       CAST(month(o_orderdate) AS BIGINT) AS m,
        |       CAST(count(*) AS BIGINT) AS n_slots,
        |       CAST(count(CAST(try_strptime(
        |           CAST(year(o_orderdate) AS VARCHAR)
        |           || lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0')
        |           || lpad(CAST(g.day AS VARCHAR), 2, '0'), '%Y%m%d') AS DATE)) AS BIGINT) AS n_valid,
        |       CAST(sum(CASE WHEN try_strptime(
        |           CAST(year(o_orderdate) AS VARCHAR)
        |           || lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0')
        |           || lpad(CAST(g.day AS VARCHAR), 2, '0'), '%Y%m%d') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid
        |FROM orders CROSS JOIN generate_series(1, 31) AS g(day)
        |GROUP BY 1, 2 ORDER BY y, m""".stripMargin),

    // A1: pivot with an explicit value list (silver_processor.py:79-84);
    // missing (user,type) combos stay NULL exactly like Spark's pivot.
    Query("q06_pivot_events", (s, dir) => {
      events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "signup", "error", "purchase"))
        .agg(count(lit(1)))
        .orderBy("user_id")
    },
    oracle =
      """SELECT user_id,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS "view",
        |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // A2/A3: wide multi-aggregate with conditional day-counts and
    // countDistinct (gold_processor.py:49-135).
    Query("q07_agg_wide", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          min("l_extendedprice").as("min_price"),
          max("l_extendedprice").as("max_price"),
          count(lit(1)).as("cnt"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(when(col("l_quantity") > 45, 1).otherwise(0)).as("big_qty_cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    oracle =
      s"""SELECT l_returnflag, l_linestatus,
         |       sum(l_quantity) AS sum_qty,
         |       ${oSum("l_extendedprice")} AS sum_price,
         |       ${oAvg("l_extendedprice")} AS avg_price,
         |       ${oAvg("l_discount")} AS avg_disc,
         |       min(l_extendedprice) AS min_price,
         |       max(l_extendedprice) AS max_price,
         |       CAST(count(*) AS BIGINT) AS cnt,
         |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |       CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) AS big_qty_cnt
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // A4: sample stddev + countDistinct per group (gold_processor.py:137-164).
    Query("q08_stddev_yearly", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(year(col("l_shipdate")).cast(LongType).as("y"))
        .agg(round(stddev(col("l_extendedprice")), 2).as("std_price"),
          round(stddev(col("l_quantity")), 4).as("std_qty"),
          countDistinct(month(col("l_shipdate"))).as("n_months"),
          count(lit(1)).as("cnt"))
        .orderBy("y")
    },
    oracle =
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS y,
        |       round(stddev_samp(l_extendedprice), 2) AS std_price,
        |       round(stddev_samp(l_quantity), 4) AS std_qty,
        |       CAST(count(DISTINCT month(l_shipdate)) AS BIGINT) AS n_months,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY y""".stripMargin),

    // A6/A7: global min/max/avg single-row aggregate
    // (bronze_processor.py:152-155, silver_processor.py:166-170).
    Query("q09_global_stats", (s, dir) => {
      t(s, dir, "orders").agg(
        to_date(min(col("o_orderdate"))).as("min_date"),
        to_date(max(col("o_orderdate"))).as("max_date"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"),
        davg(col("o_totalprice")).as("avg_price"),
        count(lit(1)).as("cnt"),
        countDistinct(col("o_custkey")).as("n_cust"))
    },
    oracle =
      s"""SELECT CAST(min(o_orderdate) AS DATE) AS min_date,
         |       CAST(max(o_orderdate) AS DATE) AS max_date,
         |       min(o_totalprice) AS min_price,
         |       max(o_totalprice) AS max_price,
         |       ${oAvg("o_totalprice")} AS avg_price,
         |       CAST(count(*) AS BIGINT) AS cnt,
         |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
         |FROM orders""".stripMargin),

    // A9+O2: frequency table with descending count sort
    // (notebooks/05_data_validation.py:43).
    Query("q10_freq_desc", (s, dir) => {
      events(s, dir)
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("event_type"))
    },
    oracle =
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY event_type ORDER BY cnt DESC, event_type""".stripMargin),

    // A10: lineage cardinality — distinct (key, date) pair count
    // (notebooks/05_data_validation.py:179-180).
    Query("q11_lineage_pairs", (s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"), tsDate.as("d"))
        .agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("pair_cnt"))
    },
    oracle =
      """SELECT CAST(count(*) AS BIGINT) AS pair_cnt FROM (
        |  SELECT user_id, CAST(ts AS DATE) AS d FROM events GROUP BY 1, 2)""".stripMargin),

    // A11: describe()-shape summary stats (notebooks/05:64,98).
    Query("q12_describe_stats", (s, dir) => {
      t(s, dir, "lineitem").agg(
        count(col("l_quantity")).as("qty_count"),
        (sum("l_quantity") / count("l_quantity")).as("qty_mean"),
        round(stddev(col("l_quantity")), 4).as("qty_std"),
        min("l_quantity").as("qty_min"),
        max("l_quantity").as("qty_max"),
        davg(col("l_extendedprice")).as("price_mean"),
        round(stddev(col("l_extendedprice")), 2).as("price_std"),
        min("l_extendedprice").as("price_min"),
        max("l_extendedprice").as("price_max"))
    },
    oracle =
      s"""SELECT CAST(count(l_quantity) AS BIGINT) AS qty_count,
         |       sum(l_quantity) / count(l_quantity) AS qty_mean,
         |       round(stddev_samp(l_quantity), 4) AS qty_std,
         |       min(l_quantity) AS qty_min,
         |       max(l_quantity) AS qty_max,
         |       ${oAvg("l_extendedprice")} AS price_mean,
         |       round(stddev_samp(l_extendedprice), 2) AS price_std,
         |       min(l_extendedprice) AS price_min,
         |       max(l_extendedprice) AS price_max
         |FROM lineitem""".stripMargin),

    // A12: quantile IQR outlier bounds then outlier count
    // (data_validator.py:99-115; exact percentile so the oracle can match).
    // Fences are snapped to a 1e-6 grid on BOTH engines before the
    // comparison: Spark percentile() and DuckDB quantile_cont interpolate
    // with the same formula but can differ by ~1 ulp, and a data point
    // lying exactly on an unrounded fence could flip the count.
    Query("q13_iqr_outliers", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val q = li.agg(
        percentile(col("l_extendedprice"), lit(0.25)).as("q1"),
        percentile(col("l_extendedprice"), lit(0.75)).as("q3"))
      val lo = round(col("q1") - (col("q3") - col("q1")) * 1.5, 6)
      val hi = round(col("q3") + (col("q3") - col("q1")) * 1.5, 6)
      li.crossJoin(q)
        .agg(round(first(col("q1")), 2).as("q1_r"),
          round(first(col("q3")), 2).as("q3_r"),
          sum(when(col("l_extendedprice") < lo || col("l_extendedprice") > hi,
            1).otherwise(0)).as("n_outliers"))
    },
    oracle =
      """WITH q AS (
        |  SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
        |         quantile_cont(l_extendedprice, 0.75) AS q3
        |  FROM lineitem)
        |SELECT round(q.q1, 2) AS q1_r, round(q.q3, 2) AS q3_r,
        |       CAST(sum(CASE WHEN l_extendedprice < round(q.q1 - (q.q3 - q.q1) * 1.5, 6)
        |                       OR l_extendedprice > round(q.q3 + (q.q3 - q.q1) * 1.5, 6)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM lineitem CROSS JOIN q GROUP BY q.q1, q.q3""".stripMargin),

    // W1: lag over (partition, order) — row semantics (gold_processor.py:185-193).
    Query("q14_window_lag", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta"))
        .orderBy("event_id")
    },
    oracle =
      """SELECT event_id, user_id, value,
        |       lag(value, 1) OVER w AS prev_value,
        |       value - lag(value, 1) OVER w AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),

    // W2: rolling 7-ROW frame sum/avg (gold_processor.py:195-199), exact via
    // decimal window sum / frame row count.
    Query("q15_window_rolling", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, 0)
      events(s, dir)
        .select(col("event_id"),
          sum(col("value").cast(DecimalType(18, 2))).over(w).cast(DoubleType).as("roll_sum"),
          (sum(col("value").cast(DecimalType(18, 2))).over(w).cast(DoubleType) /
            count(lit(1)).over(w)).as("roll_avg"))
        .orderBy("event_id")
    },
    oracle =
      """SELECT event_id,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |         / count(*) OVER w AS roll_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // O1/O3/O4: global sort + limit + offset pagination (spark_utils.py:59-84).
    Query("q16_topk_offset", (s, dir) => {
      t(s, dir, "lineitem")
        .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .offset(50).limit(100)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    },
    oracle =
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100 OFFSET 50""".stripMargin),

    // U1: position-based dup-preserving union (bronze_processor.py:35-38).
    Query("q17_union_all", (s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 150000)
      val urgent = o.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      hi.union(urgent)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    },
    oracle =
      s"""WITH u AS (
         |  SELECT * FROM orders WHERE o_totalprice > 150000
         |  UNION ALL
         |  SELECT * FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
         |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
         |       ${oSum("o_totalprice")} AS sum_price
         |FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // U2: set-difference lineage — keys present upstream but not downstream
    // (notebooks/05_data_validation.py:183-187).
    // Non-trivial difference: customers who never placed a high-value order.
    Query("q18_except_lineage", (s, dir) => {
      t(s, dir, "customer").select(col("c_custkey"))
        .except(t(s, dir, "orders").filter(col("o_totalprice") > 200000)
          .select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")
    },
    oracle =
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 200000
        |ORDER BY c_custkey""".stripMargin),

    // P13/P14: projection + distinct (bronze_processor.py:151-156).
    Query("q19_distinct_proj", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          month(col("l_shipdate")).cast(LongType).as("m"))
        .distinct()
        .orderBy("l_returnflag", "l_linestatus", "m")
    },
    oracle =
      """SELECT DISTINCT l_returnflag, l_linestatus,
        |       CAST(month(l_shipdate) AS BIGINT) AS m
        |FROM lineitem ORDER BY l_returnflag, l_linestatus, m""".stripMargin),

    // J1: left equi-join with an explicitly broadcast dimension
    // (silver_processor.py:116-119).
    Query("q20_join_enrich", (s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy(coalesce(col("c_mktsegment"), lit("<none>")).as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"),
          davg(col("c_acctbal")).as("avg_acctbal"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("segment")
    },
    oracle =
      s"""SELECT coalesce(c_mktsegment, '<none>') AS segment,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${oSum("o_totalprice")} AS revenue,
         |       ${oAvg("c_acctbal")} AS avg_acctbal,
         |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
         |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY segment""".stripMargin),

    // Skew-mitigated join: salted equi-join (operators/Skew) — semantics
    // identical to the plain join, so the oracle is plain SQL; the salt
    // only changes the physical key distribution.
    Query("q36_salted_join", (s, dir) => {
      val right = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(
        t(s, dir, "lineitem"), right, Seq("l_orderkey"), saltFactor = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum("l_quantity").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    },
    oracle =
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
         |       sum(l_quantity) AS sum_qty,
         |       ${oSum("l_extendedprice")} AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Skew-mitigated aggregation: two-phase salted sum (operators/Skew) —
    // partials on (key, salt), final on key, so one dominant group's
    // final reduce spreads across salt buckets. Result is salt-invariant,
    // so the oracle is the plain GROUP BY; the value goes through
    // DECIMAL(18,2) on both sides so the two-phase summation order
    // cannot produce a float drift vs DuckDB's single-phase sum.
    Query("q68_salted_agg", (s, dir) => {
      val in = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast(DecimalType(18, 2)).as("qty"))
      graft.operators.Skew.saltedSum(in, Seq("l_returnflag"), "qty", saltFactor = 8)
        .select(col("l_returnflag"),
          col("sum_qty").cast(DoubleType).as("sum_qty"))
        .orderBy("l_returnflag")
    },
    oracle =
      s"""SELECT l_returnflag, ${oSum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Sessionization via session_window (the streaming operator, batch
    // mode): 5-minute inactivity gap over second-truncated event times.
    // Oracle: the classic gaps-and-islands formulation.
    Query("q38_sessionize", (s, dir) => {
      events(s, dir)
        .select(col("user_id"), col("value"),
          timestamp_seconds(expr("ts DIV 1000000000")).as("t"))
        .groupBy(session_window(col("t"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("session_value"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("session_start"),
          col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start")
    },
    oracle =
      s"""WITH ts AS (
         |  SELECT user_id, value,
         |         epoch_ns(ts) // 1000000000 AS t_s
         |  FROM events),
         |marked AS (
         |  SELECT user_id, value, t_s,
         |         -- strictly greater: session_window treats an event at
         |         -- EXACTLY last+gap as still in-session (touching windows
         |         -- merge), surfaced by two exact-300s pairs at sf0.1
         |         CASE WHEN t_s - lag(t_s) OVER w > 300
         |              OR lag(t_s) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
         |  FROM ts
         |  WINDOW w AS (PARTITION BY user_id ORDER BY t_s)),
         |sessions AS (
         |  SELECT user_id, value, t_s,
         |         sum(new_session) OVER (PARTITION BY user_id ORDER BY t_s
         |           ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM marked)
         |SELECT user_id, min(t_s) AS session_start,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       ${oSum("value")} AS session_value
         |FROM sessions GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin),

    // Backward as-of join (union+window, no inequality join): each event
    // picks up the latest PRECEDING error of its user — the "state at
    // event time" lookup. Right side pre-aggregated per (user, second) so
    // the as-of match is unique.
    Query("q44_asof_join", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        expr("ts DIV 1000000000").as("t"), col("event_type"), col("value"))
      val err = ev.filter(col("event_type") === "error")
        .groupBy("user_id", "t").agg(max("value").as("err_value"))
        .withColumn("err_t", col("t"))
      graft.operators.AsofJoin.asofBackward(
        ev.drop("event_type", "value"), err,
        Seq("user_id"), "t", Seq("err_t", "err_value"))
        .select("event_id", "user_id", "t", "err_t", "err_value")
        .orderBy("event_id")
    },
    oracle =
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS t,
        |         event_type, value
        |  FROM events),
        |err AS (
        |  SELECT user_id, t, max(value) AS err_value
        |  FROM ev WHERE event_type = 'error' GROUP BY user_id, t)
        |SELECT e.event_id, e.user_id, e.t, err.t AS err_t, err.err_value
        |FROM ev e ASOF LEFT JOIN err
        |  ON e.user_id = err.user_id AND e.t >= err.t
        |ORDER BY e.event_id""".stripMargin),

    // Range join via coarse-bucket overlay (equi-join on the bucket, then
    // exact BETWEEN refine — no BroadcastNestedLoopJoin): lineitems
    // shipped inside week-long windows anchored at a sparse order subset.
    Query("q45_range_join", (s, dir) => {
      val iv = t(s, dir, "orders").filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(col("o_orderkey").as("iv_id"),
          unix_date(col("o_orderdate").cast("date")).cast("long").as("lo"))
        .withColumn("hi", col("lo") + 6)
      val pts = t(s, dir, "lineitem").select(col("l_quantity"),
        unix_date(col("l_shipdate").cast("date")).cast("long").as("p"))
      graft.operators.RangeJoin.pointInInterval(pts, iv, "p", "lo", "hi",
        bucketWidth = 7)
        .groupBy("iv_id")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
        .orderBy("iv_id")
    },
    oracle =
      """WITH iv AS (
        |  SELECT o_orderkey AS iv_id,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS lo,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) + 6 AS hi
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |pts AS (
        |  SELECT l_quantity,
        |         CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS p
        |  FROM lineitem)
        |SELECT iv_id, CAST(count(*) AS BIGINT) AS cnt,
        |       sum(l_quantity) AS sum_qty
        |FROM iv JOIN pts ON p BETWEEN lo AND hi
        |GROUP BY iv_id ORDER BY iv_id""".stripMargin),

    // J2: join back to an aggregate of the same input (anomaly vs normals,
    // gold_processor.py:211-225).
    Query("q21_anomaly_join", (s, dir) => {
      val o = t(s, dir, "orders")
      val normals = o.groupBy("o_custkey")
        .agg(davg(col("o_totalprice")).as("cust_avg"))
      o.join(normals, Seq("o_custkey"), "left")
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") - col("cust_avg")).as("anomaly"))
        .orderBy("o_orderkey")
    },
    oracle =
      s"""SELECT o_orderkey, o_custkey,
         |       o_totalprice - n.cust_avg AS anomaly
         |FROM orders
         |LEFT JOIN (SELECT o_custkey, ${oAvg("o_totalprice")} AS cust_avg
         |           FROM orders GROUP BY o_custkey) n USING (o_custkey)
         |ORDER BY o_orderkey""".stripMargin),

    // Changelog compaction: latest event per (user, type) via ONE hash
    // aggregate (max over a (version, payload) struct) — the upsert/merge
    // primitive, with no per-key sort window anywhere.
    Query("q56_upsert_latest", (s, dir) => {
      // µs-truncated version: DuckDB's parquet reader truncates
      // TIMESTAMP_NS to µs, so compare (and order) at µs precision.
      graft.operators.Merge.latestByKey(
        events(s, dir).select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("ts_us"), col("event_id"), col("value")),
        keys = Seq("user_id", "event_type"), versionCols = Seq("ts_us", "event_id"))
        .orderBy("user_id", "event_type")
    },
    oracle =
      """SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us,
        |       event_id, value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) = 1
        |ORDER BY user_id, event_type""".stripMargin),

    // Bloom-pruned join: lineitem rows are filtered by a broadcast Bloom
    // filter of the urgent-order keys BEFORE the join shuffle; false
    // positives die in the join, so the result equals the plain join.
    Query("q57_bloom_semijoin", (s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      graft.operators.BloomPrune.bloomPrunedJoin(
        t(s, dir, "lineitem"), "l_orderkey", urgent, "o_orderkey",
        expectedItems = 20000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    },
    // The bloom prune is physical-only: the oracle is the PLAIN join.
    oracle =
      s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
         |       sum(l_quantity) AS sum_qty,
         |       ${oSum("l_extendedprice")} AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Snapshot diff (CDC shape): two deterministic order-table versions —
    // keys % 4 = 0 only in the new snapshot, % 4 = 1 only in the old,
    // % 3 = 0 repriced — full-outer join, unchanged keys dropped.
    Query("q58_snapshot_diff", (s, dir) => {
      val orders = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val oldSnap = orders.filter(pmod(col("o_orderkey"), lit(4)) =!= 0)
      val newSnap = orders.filter(pmod(col("o_orderkey"), lit(4)) =!= 1)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(3)) === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")))
      graft.operators.Cdc.snapshotDiff(oldSnap, newSnap,
        Seq("o_orderkey"), Seq("o_totalprice"))
        .orderBy("o_orderkey")
    },
    oracle =
      """WITH snap_a AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 <> 0),
        |snap_b AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 4 <> 1),
        |d AS (
        |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |         CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |              WHEN b.o_orderkey IS NULL THEN 'removed'
        |              WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
        |                THEN 'changed'
        |              ELSE 'unchanged' END AS change,
        |         a.o_totalprice AS old_o_totalprice,
        |         b.o_totalprice AS new_o_totalprice
        |  FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey)
        |SELECT * FROM d WHERE change <> 'unchanged'
        |ORDER BY o_orderkey""".stripMargin),

    // Per-group z-score normalization via aggregate-then-join (NO window
    // over the group): moments are exact integer-valued sums, so the
    // scores are bit-reproducible against the SQL oracle.
    Query("q61_group_zscore", (s, dir) => {
      graft.operators.Normalize.zscoreByGroup(
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
        Seq("l_returnflag"), "l_quantity")
        .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
          col("l_returnflag"), col("z"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    oracle =
      """WITH st AS (
        |  SELECT l_returnflag, sum(l_quantity) AS s,
        |         sum(l_quantity * l_quantity) AS ss,
        |         count(l_quantity) AS n
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       l.l_returnflag,
        |       CASE WHEN n > 1 THEN (l_quantity - s / n)
        |              / sqrt((ss - s * s / n) / (n - 1)) END AS z
        |FROM lineitem l JOIN st ON l.l_returnflag = st.l_returnflag
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Z-order curve values (multi-dimensional data-layout clustering):
    // pure bit-interleave arithmetic, reproduced literally in the oracle.
    // Z-order EFFECTIVENESS, measured: the same 100-partkey range
    // predicate pruned against zone maps of two layouts of the SAME
    // rows — arrival order vs Z-order on (l_partkey, l_suppkey). The
    // skip-ratio delta is the number q66's layout exists for.
    Query("q226_zorder_benefit", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      def layout(name: String, keyed: org.apache.spark.sql.DataFrame,
                 bucket: Column, order: Seq[Column]) = {
        val sharded = graft.operators.GlobalIds.shardByOrder(
          keyed, bucket, order, shardSize = 1000)
        val stats = graft.operators.Profiling.shardStats(sharded,
          col("shard"), col("l_partkey"))
        graft.operators.Profiling.pruneSimulation(stats, lit(100), lit(199))
          .select(lit(name).as("layout"), col("n_shards"), col("n_pruned"),
            col("n_scanned"), col("rows_skipped"), col("rows_total"),
            col("skip_ratio"))
      }
      layout("arrival", li, expr("l_orderkey DIV 4096"),
        Seq(col("l_orderkey"), col("l_linenumber")))
        .unionByName(layout("zorder",
          li.withColumn("__zv", graft.operators.Layout.zValue(12,
            col("l_partkey"), col("l_suppkey"))),
          expr("__zv DIV 4096"),
          Seq(col("__zv"), col("l_orderkey"), col("l_linenumber"))))
        .orderBy("layout")
    },
    // Two rankings of the same rows → 1000-row shards → zone-map stats
    // on l_partkey → the q155 prune rule for BETWEEN 100 AND 199.
    oracle = {
      val z = (0 until 12).flatMap { b =>
        Seq(s"(((CAST(l_partkey AS BIGINT) >> $b) & 1) << ${2 * b})",
          s"(((CAST(l_suppkey AS BIGINT) >> $b) & 1) << ${2 * b + 1})")
      }.mkString(" | ")
      def side(name: String, shardSql: String) =
        s"""(WITH sh AS ($shardSql),
           |st AS (
           |  SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
           |         CAST(min(l_partkey) AS BIGINT) AS min_v,
           |         CAST(max(l_partkey) AS BIGINT) AS max_v
           |  FROM sh GROUP BY 1),
           |pr AS (
           |  SELECT CASE WHEN max_v < 100 OR min_v > 199 OR min_v IS NULL
           |              THEN 1 ELSE 0 END AS pruned, n_rows
           |  FROM st)
           |SELECT '$name' AS layout,
           |       CAST(count(*) AS BIGINT) AS n_shards,
           |       CAST(sum(pruned) AS BIGINT) AS n_pruned,
           |       CAST(count(*) - sum(pruned) AS BIGINT) AS n_scanned,
           |       CAST(sum(CASE WHEN pruned = 1 THEN n_rows ELSE 0 END)
           |         AS BIGINT) AS rows_skipped,
           |       CAST(sum(n_rows) AS BIGINT) AS rows_total,
           |       CAST(sum(CASE WHEN pruned = 1 THEN n_rows ELSE 0 END)
           |         AS DOUBLE) / CAST(sum(n_rows) AS DOUBLE) AS skip_ratio
           |FROM pr)""".stripMargin
      val arrival =
        """SELECT l_partkey,
          |       CAST((row_number() OVER (ORDER BY l_orderkey, l_linenumber)
          |         - 1) // 1000 AS BIGINT) AS shard
          |FROM lineitem""".stripMargin
      val zorder =
        s"""SELECT l_partkey,
           |       CAST((row_number() OVER (ORDER BY ($z), l_orderkey,
           |         l_linenumber) - 1) // 1000 AS BIGINT) AS shard
           |FROM lineitem""".stripMargin
      s"""SELECT * FROM (
         |${side("arrival", arrival)}
         |UNION ALL
         |${side("zorder", zorder)}
         |) ORDER BY layout""".stripMargin
    }),

    Query("q66_zorder", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          graft.operators.Layout.zValue(16, col("l_partkey"), col("l_suppkey")).as("z"))
        .orderBy("z", "l_partkey", "l_suppkey")
        .limit(200)
    },
    oracle = {
      // The same bit-interleave Layout.zValue(16, x, y) emits: bit b of x
      // at output bit 2b, bit b of y at 2b+1.
      val z = (0 until 16).flatMap { b =>
        Seq(s"(((CAST(l_partkey AS BIGINT) >> $b) & 1) << ${2 * b})",
          s"(((CAST(l_suppkey AS BIGINT) >> $b) & 1) << ${2 * b + 1})")
      }.mkString(" | ")
      s"""SELECT l_partkey, l_suppkey, ($z) AS z
         |FROM lineitem
         |ORDER BY z, l_partkey, l_suppkey LIMIT 200""".stripMargin
    }),

    // Fixed-point PageRank (operators/PageRank.scala) over the sparse
    // derived purchase graph ([[purchaseGraph]]). All rank arithmetic is
    // BIGINT in 1e-12 units, so the 8-round power iteration is
    // bit-identical under any partitioning — which is what lets a
    // parallel graph algorithm hash-match a sequential SQL engine.
    Query("q105_pagerank", (s, dir) => {
      graft.operators.PageRank.pageRank(purchaseGraph(s, dir), "src", "dst",
        iterations = 8)
        .orderBy("node")
    },
    oracle = oPagerank(iters = 8)),

    // Degree-ordered triangle counting + local clustering coefficient
    // (operators/Triangles.scala) over the same purchase graph, read as
    // undirected: a tripartite triangle is a closed c→s→p→c affinity
    // loop (the customer's top supplier stocks a part whose top buyers
    // include that customer). Exact integer counts; the coefficient is a
    // small-integer ratio, so the double division is bit-portable.
    Query("q106_triangles", (s, dir) => {
      graft.operators.Triangles.triangleCounts(purchaseGraph(s, dir),
        "src", "dst")
        .orderBy("node")
    },
    oracle =
      s"""WITH $oPurchaseEdges,
         |${oTriangleCtes("e")}
         |SELECT node, degree, triangles, wedges, clustering
         |FROM tstats ORDER BY node""".stripMargin),

    // 4-core of the purchase graph (operators/KCore.scala). Every node
    // has out-degree 3 by construction, so k=4 is the first level where
    // peeling bites: only nodes that are also POPULAR (chosen by others'
    // top-3 lists) survive, and their tendrils cascade away — measured
    // fixpoint depth 3 at sf0.01, well inside the 8-round contract the
    // oracle unrolls (extra rounds are no-ops; peeling is idempotent).
    Query("q108_kcore", (s, dir) => {
      graft.operators.KCore.kCore(purchaseGraph(s, dir), "src", "dst",
        k = 4, rounds = 8)
        .orderBy("node")
    },
    oracle = oKcore(k = 4, rounds = 8)),

    // Synchronous label-propagation communities (operators/LabelProp
    // .scala) over the same purchase graph: 4 rounds of neighbor-label
    // mode with min-label ties — dense affinity neighborhoods, where
    // connected components (q47's machinery) would lump everything
    // reachable into one piece. Exact integer votes; the fixed-round
    // synchronous contract is what the oracle unrolls literally.
    Query("q132_label_prop", (s, dir) => {
      graft.operators.LabelProp.labelPropagation(purchaseGraph(s, dir),
        "src", "dst", rounds = 4)
        .orderBy("node")
    },
    oracle = oLabelProp(rounds = 4)),

    // Modularity of q132's communities: per-community exact-BIGINT
    // numerators 4m·e_c − d_c² over the shared 4m² denominator (Q = Σ
    // num / 4m²) — the "did LPA find real structure" read, cells
    // returned, statistic = their sum (the chi-squared discipline).
    Query("q207_modularity", (s, dir) => {
      // cache the derived edge table: LPA checkpoints its own copy, but
      // modularity's degree/intra-edge passes would otherwise recompute
      // the purchase-graph joins+windows from scratch
      val g = graft.operators.CacheScope.track(purchaseGraph(s, dir))
      val labs = graft.operators.LabelProp.labelPropagation(g, "src", "dst",
        rounds = 4)
      graft.operators.LabelProp.modularity(g, "src", "dst", labs)
        .orderBy("label")
    },
    // q132's chain, then degree sums and intra-community edge counts per
    // final label; zero-internal-edge communities coalesce to 0.
    oracle =
      (oLabelPropChain(rounds = 4) +
        s"""
           |, deg AS (
           |  SELECT node, CAST(count(*) AS BIGINT) AS dg
           |  FROM adj GROUP BY 1),
           |ds AS (
           |  SELECT l.label, CAST(count(*) AS BIGINT) AS n_nodes,
           |         CAST(sum(dg) AS BIGINT) AS d_sum
           |  FROM deg d JOIN l4 l USING (node) GROUP BY 1),
           |ei AS (
           |  SELECT lu.label, CAST(count(*) AS BIGINT) AS e_in
           |  FROM e0
           |  JOIN l4 lu ON e0.u = lu.node
           |  JOIN l4 lv ON e0.v = lv.node
           |  WHERE lu.label = lv.label GROUP BY 1),
           |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0)
           |SELECT ds.label, ds.n_nodes, ds.d_sum,
           |       CAST(coalesce(ei.e_in, 0) AS BIGINT) AS e_in, mm.m,
           |       CAST(4 * mm.m * coalesce(ei.e_in, 0) - ds.d_sum * ds.d_sum
           |         AS BIGINT) AS q_num,
           |       CAST(4 * mm.m * coalesce(ei.e_in, 0) - ds.d_sum * ds.d_sum
           |         AS DOUBLE) / CAST(4 * mm.m * mm.m AS DOUBLE) AS q_contrib
           |FROM ds LEFT JOIN ei USING (label) CROSS JOIN mm
           |ORDER BY ds.label""".stripMargin)),

    // Ordered funnel view → click → purchase within 24h of the first
    // view (operators/EventAnalytics.scala): per-stage reach counts and
    // average lag. Lags are floored to whole SECONDS per user before
    // summing — the ns sums would pass 2^53 and double-round differently
    // per engine; second-sums stay exact integers.
    Query("q109_funnel", (s, dir) => {
      graft.operators.EventAnalytics.funnel(events(s, dir), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        windowNs = 86400000000000L)
        .withColumn("lag_s", expr("(ts - t1) DIV 1000000000"))
        .groupBy("stage_idx", "stage")
        .agg(count(lit(1)).as("users"),
          (sum(col("lag_s")).cast(DoubleType) / count(lit(1))).as("avg_lag_s"))
        .orderBy("stage_idx")
    },
    oracle =
      // One CTE per stage, each the same "earliest valid event after the
      // previous reach, within the window of t1" min-aggregate the
      // operator runs; lags floor to whole seconds before summing so the
      // averages divide identical exact integers.
      s"""WITH ev AS (SELECT user_id, epoch_ns(ts) AS ns, event_type FROM events),
         |$oFunnelStageCtes,
         |st AS (
         |  SELECT 1 AS stage_idx, 'view' AS stage, t1 AS ts, t1 FROM s1
         |  UNION ALL SELECT 2, 'click', t2, t1 FROM s2
         |  UNION ALL SELECT 3, 'purchase', t3, t1 FROM s3)
         |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
         |       CAST(count(*) AS BIGINT) AS users,
         |       CAST(CAST(sum((ts - t1) // 1000000000) AS BIGINT) AS DOUBLE)
         |         / count(*) AS avg_lag_s
         |FROM st GROUP BY 1, 2 ORDER BY stage_idx""".stripMargin),

    // Weekly cohort retention (operators/EventAnalytics.scala): users
    // cohorted by first-activity epoch-day, activity bucketed into
    // 7-day offsets — all integer DIV arithmetic on epoch days, time
    // zone independent by construction.
    Query("q110_retention", (s, dir) => {
      graft.operators.EventAnalytics.retentionCohorts(events(s, dir),
        "user_id", "ts", bucketDays = 7)
        .orderBy("cohort", "offset")
    },
    oracle =
      """WITH ev AS (
        |  SELECT user_id,
        |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS d0 FROM ev GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT ev.user_id,
        |         ((f.d0 - (((f.d0 % 7) + 7) % 7)) // 7) AS cohort,
        |         (ev.day - f.d0) // 7 AS "offset"
        |  FROM ev JOIN f ON ev.user_id = f.user_id)
        |SELECT cohort, "offset", CAST(count(*) AS BIGINT) AS users
        |FROM a GROUP BY 1, 2 ORDER BY cohort, "offset"""".stripMargin),

    // INTERSECT + semi/anti joins — the set-op family's missing gates
    // next to q17 (UNION ALL) and q18 (EXCEPT). Per nation: customers
    // whose key set has BOTH urgent and finished orders (INTERSECT
    // feeding a LEFT SEMI join) vs customers with NEITHER (LEFT ANTI
    // against the distinct union). The key sets are order-key
    // projections — orders of magnitude under the customer table — so
    // both probes broadcast.
    Query("q121_set_membership", (s, dir) => {
      val ords = t(s, dir, "orders")
      val urgent = ords.filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      val fstat = ords.filter(col("o_orderstatus") === "F")
        .select("o_custkey")
      val both = urgent.intersect(fstat)
      val either = urgent.union(fstat).distinct()
      val cust = t(s, dir, "customer")
      val nBoth = cust
        .join(broadcast(both), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey").cast(LongType).as("nation"))
        .agg(count(lit(1)).as("n_both"))
      val nNeither = cust
        .join(broadcast(either), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast(LongType).as("nation"))
        .agg(count(lit(1)).as("n_neither"))
      nBoth.join(nNeither, Seq("nation"), "full_outer")
        .select(col("nation"),
          coalesce(col("n_both"), lit(0L)).as("n_both"),
          coalesce(col("n_neither"), lit(0L)).as("n_neither"))
        .orderBy("nation")
    },
    // INTERSECT for the both-set, UNION (distinct) for the either-set,
    // IN / NOT IN as the semi/anti twins.
    oracle =
      """WITH urgent AS (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |fstat AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |both_k AS (SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM fstat),
        |either_k AS (SELECT o_custkey FROM urgent UNION SELECT o_custkey FROM fstat),
        |nb AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |         CAST(count(*) AS BIGINT) AS n_both
        |  FROM customer WHERE c_custkey IN (SELECT o_custkey FROM both_k)
        |  GROUP BY 1),
        |nn AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |         CAST(count(*) AS BIGINT) AS n_neither
        |  FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM either_k)
        |  GROUP BY 1)
        |SELECT coalesce(nb.nation, nn.nation) AS nation,
        |       coalesce(n_both, 0) AS n_both,
        |       coalesce(n_neither, 0) AS n_neither
        |FROM nb FULL JOIN nn ON nb.nation = nn.nation
        |ORDER BY nation""".stripMargin),

    // Unpivot/melt — the inverse of q06's pivot: four measure columns to
    // (measure, val) rows via Spark's native unpivot (an Expand; the 4x
    // fanout IS the operator's semantics, unlike the grouping-sets case
    // where the cascade avoids it). Values pass through untouched, so
    // doubles are bit-stable.
    Query("q120_unpivot", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(500)) === 0)
        .select(col("l_orderkey").as("okey"),
          col("l_linenumber").cast(LongType).as("line"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("extendedprice"),
          col("l_discount").as("discount"),
          col("l_tax").as("tax"))
        .unpivot(Array(col("okey"), col("line")),
          Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
          "measure", "val")
        .orderBy("okey", "line", "measure")
    },
    oracle =
      """SELECT okey, line, measure, val FROM (
        |  SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS line,
        |         l_quantity AS quantity, l_extendedprice AS extendedprice,
        |         l_discount AS discount, l_tax AS tax
        |  FROM lineitem WHERE l_orderkey % 500 = 0)
        |UNPIVOT (val FOR measure IN (quantity, extendedprice, discount, tax))
        |ORDER BY okey, line, measure""".stripMargin),

    // Distribution-window showcase: rank / percent_rank / cume_dist /
    // nth_value over one total order, plus a 7-DAY RANGE-frame running
    // revenue (the ROWS-frame q15's calendar sibling — a range frame
    // covers gaps and same-day ties by VALUE, which row frames cannot).
    // Money sums go through DECIMAL(18,2) per the object-doc discipline;
    // percent_rank/cume_dist are single exact divisions of rank counts.
    // Both windows share the partition key, so one shuffle feeds both
    // sorts.
    Query("q119_window_suite", (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(20)) === 0)
        .select(col("o_orderpriority").as("prio"),
          col("o_orderkey").as("okey"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price_d"),
          unix_date(col("o_orderdate").cast("date")).cast(LongType).as("day"))
      val wv = Window.partitionBy("prio").orderBy(col("price_d"), col("okey"))
      val wr = Window.partitionBy("prio").orderBy(col("day"))
        .rangeBetween(-6, 0)
      o.select(col("prio"), col("okey"),
          col("price_d").cast(DoubleType).as("price"),
          rank().over(wv).cast(LongType).as("rnk"),
          percent_rank().over(wv).as("pr"),
          cume_dist().over(wv).as("cd"),
          nth_value(col("okey"), 3).over(wv).as("third_key"),
          sum(col("price_d")).over(wr).cast(DoubleType).as("rev7"))
        .orderBy("prio", "rnk")
    },
    // Same named window for the distribution functions (default
    // cumulative frame; the unique (price_d, okey) order makes RANGE vs
    // ROWS moot), RANGE 6 PRECEDING on epoch-day for the revenue frame.
    oracle =
      """WITH o AS (
        |  SELECT o_orderpriority AS prio, o_orderkey AS okey,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS price_d,
        |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
        |  FROM orders WHERE o_orderkey % 20 = 0)
        |SELECT prio, okey, CAST(price_d AS DOUBLE) AS price,
        |       CAST(rank() OVER wv AS BIGINT) AS rnk,
        |       percent_rank() OVER wv AS pr,
        |       cume_dist() OVER wv AS cd,
        |       nth_value(okey, 3) OVER wv AS third_key,
        |       CAST(sum(price_d) OVER (PARTITION BY prio ORDER BY day
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev7
        |FROM o
        |WINDOW wv AS (PARTITION BY prio ORDER BY price_d, okey)
        |ORDER BY prio, rnk""".stripMargin),

    // Distribution shape per group (operators/Profiling.momentsByGroup):
    // mean/variance/skewness/excess-kurtosis from exact BIGINT power
    // sums with a mirrored double tail — the moment profile a curation
    // pipeline reads before choosing winsorize/z-score bounds. Built-in
    // skewness()/kurtosis() float moments are merge-order-dependent and
    // can't hash-gate.
    Query("q125_moments", (s, dir) => {
      graft.operators.Profiling.momentsByGroup(
        t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_quantity").cast(LongType))
        .orderBy("l_returnflag")
    },
    // Exact integer power sums; the double tail mirrors momentsByGroup
    // token-for-token (left-assoc +/-, left-assoc products, sqrt never
    // pow — pow's libm varies across engines, sqrt is IEEE-exact).
    oracle =
      """WITH b AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS y FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(y) AS BIGINT) AS s1, CAST(sum(y*y) AS BIGINT) AS s2,
        |         CAST(sum(y*y*y) AS BIGINT) AS s3,
        |         CAST(sum(y*y*y*y) AS BIGINT) AS s4
        |  FROM b GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |         CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
        |         CAST(s3 AS DOUBLE) AS d3, CAST(s4 AS DOUBLE) AS d4
        |  FROM s),
        |m AS (
        |  SELECT l_returnflag, n, d1 / nd AS mean,
        |         d2 / nd - (d1 / nd) * (d1 / nd) AS m2,
        |         d3 / nd - 3.0 * (d1 / nd) * (d2 / nd)
        |           + 2.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m3,
        |         d4 / nd - 4.0 * (d1 / nd) * (d3 / nd)
        |           + 6.0 * (d1 / nd) * (d1 / nd) * (d2 / nd)
        |           - 3.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m4
        |  FROM d)
        |SELECT l_returnflag, n, mean, m2 AS variance,
        |       CASE WHEN m2 != 0.0 THEN m3 / (m2 * sqrt(m2)) END AS skewness,
        |       CASE WHEN m2 != 0.0 THEN m4 / (m2 * m2) - 3.0 END AS kurtosis
        |FROM m ORDER BY l_returnflag""".stripMargin),

    // SCD type-2 builder (operators/Cdc.scala): each user's event_type
    // history collapsed into versioned [valid_from, valid_to) intervals,
    // consecutive restatements opening no version. Per-key windows only;
    // (ts, event_id) is a total order so same-timestamp events are
    // stable. Timestamps are floored to MICROSECONDS on both sides —
    // DuckDB's epoch extraction is µs-granular, and ordering at a finer
    // grain than the oracle can see would let sub-µs ties resolve
    // differently per engine.
    Query("q124_scd2", (s, dir) => {
      graft.operators.Cdc.scd2(
        events(s, dir).withColumn("ts", expr("ts DIV 1000")),
        "user_id", "event_type", "ts", "event_id")
        .orderBy("user_id", "version")
    },
    oracle =
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts, event_id
        |  FROM events),
        |chg AS (
        |  SELECT user_id, event_type, ts, event_id FROM (
        |    SELECT user_id, event_type, ts, event_id,
        |           lag(event_type) OVER (PARTITION BY user_id
        |             ORDER BY ts, event_id) AS prev
        |    FROM ev)
        |  WHERE prev IS NULL OR prev != event_type)
        |SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version,
        |       event_type, ts AS valid_from, lead(ts) OVER w AS valid_to,
        |       CAST(lead(ts) OVER w IS NULL AS BIGINT) AS is_current
        |FROM chg
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin),

    // Per-group OLS trend (operators/Regression.scala): quantity drift
    // over ship date per return flag. Integer sufficient statistics
    // (x centered to days since 2000-01-01 per the operator's overflow
    // contract), doubles only in the mirrored final arithmetic.
    Query("q118_group_trend", (s, dir) => {
      graft.operators.Regression.trendByGroup(
        t(s, dir, "lineitem"), Seq("l_returnflag"),
        xCol = (unix_date(col("l_shipdate").cast("date")) - 10957L).cast(LongType),
        yCol = col("l_quantity").cast(LongType))
        .orderBy("l_returnflag")
    },
    // Same integer sufficient statistics, same fixed double tail as
    // Regression.trendByGroup — never regr_slope/corr, whose float
    // accumulation is merge-order-dependent.
    oracle =
      """WITH b AS (
        |  SELECT l_returnflag,
        |         date_diff('day', DATE '2000-01-01', CAST(l_shipdate AS DATE)) AS x,
        |         CAST(l_quantity AS BIGINT) AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM b GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN n * sxx - sx * sx != 0
        |       THEN CAST(n * sxy - sx * sy AS DOUBLE) /
        |            CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
        |  CASE WHEN n * sxx - sx * sx != 0
        |       THEN (CAST(sy AS DOUBLE) -
        |             (CAST(n * sxy - sx * sy AS DOUBLE) /
        |              CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) /
        |            CAST(n AS DOUBLE) END AS intercept,
        |  CASE WHEN n * sxx - sx * sx != 0 AND n * syy - sy * sy != 0
        |       THEN (CAST(n * sxy - sx * sy AS DOUBLE) *
        |             CAST(n * sxy - sx * sy AS DOUBLE)) /
        |            (CAST(n * sxx - sx * sx AS DOUBLE) *
        |             CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
        |FROM s ORDER BY l_returnflag""".stripMargin),
  )

  /** Sparse shared graph for q105/q106: customer → its top-3 suppliers by
    * exact DECIMAL revenue, supplier → top-3 parts, part → top-3
    * customers. Additive offsets keep the three id spaces disjoint, and
    * the revenue ranks give cycles through all three layers. Group sizes
    * in the rank windows are bounded by DIMENSION cardinality (the
    * suppliers/parts/customers a key can pair with), not corpus rows, so
    * plain windows are safe — TopK.topKPerGroup is the salted form for
    * corpus-sized groups. Ties break on exact decimals, then the key, so
    * the edge SET is deterministic and oracle-reproducible.
    */
  private def purchaseGraph(s: SparkSession, dir: String): DataFrame = {
    val j = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"),
        col("l_partkey").as("p"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("rev"))
    def top3(a: String, b: String, aOff: Long, bOff: Long): DataFrame = {
      val w = Window.partitionBy(col(a)).orderBy(desc("rv"), col(b))
      j.groupBy(col(a), col(b)).agg(sum(col("rev")).as("rv"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select((col(a) + lit(aOff)).cast(LongType).as("src"),
          (col(b) + lit(bOff)).cast(LongType).as("dst"))
    }
    top3("c", "sp", 0L, 10000000L)
      .unionAll(top3("sp", "p", 10000000L, 20000000L))
      .unionAll(top3("p", "c", 20000000L, 0L))
  }

  /** Triangle-count oracle CTE chain over an edge relation exposing
    * `src`/`dst` — mirrors operators/Triangles.scala step-for-step:
    * canonical undirected simple edges, (deg, id)-ranked orientation,
    * wedges at the low corner, closure by the oriented (b, c) edge.
    * All-integer counts; the coefficient is a small-int double ratio.
    * Ends with `tstats(node, degree, triangles, wedges, clustering)`;
    * the caller writes the final SELECT. Shared with CorpusQueries' q107.
    */
  private[queries] def oTriangleCtes(rel: String): String =
    s"""und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM $rel WHERE src <> dst),
       |deg AS MATERIALIZED (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
       |  GROUP BY 1),
       |ori AS MATERIALIZED (
       |  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS lo,
       |         CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS hi,
       |         CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS dhi
       |  FROM (SELECT und.u, und.v, d1.deg AS du, d2.deg AS dv
       |        FROM und JOIN deg d1 ON und.u = d1.node
       |                 JOIN deg d2 ON und.v = d2.node)),
       |tris AS MATERIALIZED (
       |  SELECT o1.lo, o1.hi AS b, o2.hi AS c
       |  FROM ori o1
       |  JOIN ori o2 ON o1.lo = o2.lo
       |   AND (o1.dhi < o2.dhi OR (o1.dhi = o2.dhi AND o1.hi < o2.hi))
       |  JOIN ori o3 ON o3.lo = o1.hi AND o3.hi = o2.hi),
       |pern AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
       |    SELECT lo AS node FROM tris
       |    UNION ALL SELECT b FROM tris
       |    UNION ALL SELECT c FROM tris)
       |  GROUP BY 1),
       |tstats AS (
       |  SELECT d.node, d.deg AS degree,
       |         coalesce(p.tri, CAST(0 AS BIGINT)) AS triangles,
       |         (d.deg * (d.deg - 1)) // 2 AS wedges,
       |         CASE WHEN d.deg >= 2
       |              THEN CAST(coalesce(p.tri, 0) AS DOUBLE)
       |                   / CAST((d.deg * (d.deg - 1)) // 2 AS DOUBLE)
       |         END AS clustering
       |  FROM deg d LEFT JOIN pern p ON d.node = p.node)""".stripMargin

  /** q105's oracle: PageRank's fixed-point iteration unrolled as chained
    * CTEs. Standard SQL recursion cannot reference the recursive table
    * twice per step (the contribution sum AND the dangling sum both read
    * the previous ranks), so the fixed round count is spelled out — which
    * also mirrors the operator's "T rounds" determinism contract. Every
    * step is BIGINT floor arithmetic (`//` == Spark's DIV on non-negative
    * values), so both engines compute identical units at every round.
    * Multiply-referenced CTEs are MATERIALIZED: DuckDB 1.0 inlines CTEs
    * per reference, and each round reads the previous one 3× — inlined,
    * the base scans multiply by 3^rounds and exhaust file handles.
    */
  /** The purchase-graph edge list as oracle CTEs (ends with `e`) —
    * [[purchaseGraph]]'s SQL twin, shared by the q105 and q106 oracles.
    * A def, not a val: `oracles` above interpolates it during object
    * init, before a later-declared val would be assigned.
    */
  private def oPurchaseEdges: String =
    """j AS MATERIALIZED (
      |  SELECT o_custkey AS c, l_suppkey AS sp, l_partkey AS p,
      |         CAST(l_extendedprice AS DECIMAL(18,2)) AS rev
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |cs AS (SELECT c, sp, sum(rev) AS rv FROM j GROUP BY 1, 2),
      |sp2 AS (SELECT sp, p, sum(rev) AS rv FROM j GROUP BY 1, 2),
      |pc AS (SELECT p, c, sum(rev) AS rv FROM j GROUP BY 1, 2),
      |e AS MATERIALIZED (
      |  SELECT CAST(c AS BIGINT) AS src,
      |         10000000 + CAST(sp AS BIGINT) AS dst
      |  FROM (SELECT c, sp, row_number() OVER (PARTITION BY c
      |          ORDER BY rv DESC, sp) AS rk FROM cs)
      |  WHERE rk <= 3
      |  UNION ALL
      |  SELECT 10000000 + CAST(sp AS BIGINT), 20000000 + CAST(p AS BIGINT)
      |  FROM (SELECT sp, p, row_number() OVER (PARTITION BY sp
      |          ORDER BY rv DESC, p) AS rk FROM sp2)
      |  WHERE rk <= 3
      |  UNION ALL
      |  SELECT 20000000 + CAST(p AS BIGINT), CAST(c AS BIGINT)
      |  FROM (SELECT p, c, row_number() OVER (PARTITION BY p
      |          ORDER BY rv DESC, c) AS rk FROM pc)
      |  WHERE rk <= 3)""".stripMargin

  /** q132's oracle: synchronous LPA unrolled round by round. Each round
    * counts neighbor labels and takes the (count DESC, label ASC)
    * argmax per node via row_number — the operator's `min_by` over the
    * lexicographic (-count, label) struct, spelled relationally.
    */
  /** The LPA CTE chain (purchase edges, adjacency, rounds l0..lN) shared
    * by q132's assignment oracle and q207's modularity oracle.
    */
  private def oLabelPropChain(rounds: Int): String = {
    val head =
      s"""WITH $oPurchaseEdges,
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM e WHERE src <> dst),
         |adj AS MATERIALIZED (
         |  SELECT u AS node, v AS nbr FROM e0
         |  UNION ALL SELECT v, u FROM e0),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT node, node AS label FROM adj)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""m$r AS (
         |  SELECT a.node, l.label, count(*) AS cnt
         |  FROM adj a JOIN l${r - 1} l ON a.nbr = l.node
         |  GROUP BY 1, 2),
         |l$r AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (PARTITION BY node
         |      ORDER BY cnt DESC, label) AS rk FROM m$r)
         |  WHERE rk = 1)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  private def oLabelProp(rounds: Int): String =
    oLabelPropChain(rounds) +
      s"""
         |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin

  /** q108's oracle: synchronous k-core peeling unrolled round by round —
    * the operator's fixed-`rounds` contract made literal. Each round is
    * a HAVING-filtered degree count and an edge semi-filter, all exact
    * integers; rounds beyond the fixpoint re-produce the same relation.
    */
  private def oKcore(k: Int, rounds: Int): String = {
    val head =
      s"""WITH $oPurchaseEdges,
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM e WHERE src <> dst)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""kp$r AS MATERIALIZED (
         |  SELECT node FROM (SELECT u AS node FROM e${r - 1}
         |                    UNION ALL SELECT v FROM e${r - 1})
         |  GROUP BY 1 HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT u, v FROM e${r - 1}
         |  WHERE u IN (SELECT node FROM kp$r)
         |    AND v IN (SELECT node FROM kp$r))""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT node, CAST(count(*) AS BIGINT) AS core_deg
         |FROM (SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
         |GROUP BY 1 ORDER BY node""".stripMargin
  }

  private def oPagerank(iters: Int): String = {
    val head =
      s"""WITH $oPurchaseEdges,
         |od AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM e GROUP BY 1),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |cnt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |p0 AS MATERIALIZED (
         |  SELECT n.node, coalesce(od.odeg, CAST(0 AS BIGINT)) AS odeg,
         |         (SELECT 1000000000000 // n FROM cnt) AS pr
         |  FROM nodes n LEFT JOIN od ON n.node = od.src)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS node, CAST(sum(pp.pr // pp.odeg) AS BIGINT) AS cb
         |  FROM e JOIN p${k - 1} pp ON e.src = pp.node GROUP BY 1),
         |d$k AS (SELECT CAST(coalesce(sum(pr), 0) AS BIGINT) AS dang
         |        FROM p${k - 1} WHERE odeg = 0),
         |p$k AS MATERIALIZED (
         |  SELECT pp.node, pp.odeg,
         |         ((3 * 1000000000000) // (20 * nn.n))
         |           + (17 * (coalesce(cb.cb, CAST(0 AS BIGINT))
         |                    + (dd.dang // nn.n))) // 20 AS pr
         |  FROM p${k - 1} pp
         |  LEFT JOIN c$k cb ON pp.node = cb.node
         |  CROSS JOIN d$k dd CROSS JOIN cnt nn)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT node, pr AS pr_fixed,
         |       CAST(pr AS DOUBLE) / CAST(1000000000000 AS DOUBLE) AS pr
         |FROM p$iters ORDER BY node""".stripMargin
  }
}
