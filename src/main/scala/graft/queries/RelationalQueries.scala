package graft
package queries

import graft.catalog.SpecCatalog
import graft.load.JsonPack
import graft.operators.{Curation, TextOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryFixtures._
import Role._

/** Relational operators over the harness tables: aggregations, windows,
  * joins, set ops, projections, scalar functions and generators
  * (SURVEY.md §2 a*, w*, j*, u*, p*, f*, g*), plus the Catalyst analytics
  * the warehouse should expose beyond the reference.
  */
private[graft] object RelationalQueries {

  val all: Seq[Query] = Seq(
    // --- aggregations -----------------------------------------------------
    Query("q1_agg", (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("count_order")),
      Timed("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS count_order FROM lineitem GROUP BY 1, 2")),
    Query("a1_schema_merge", (s, d) =>
      SpecCatalog.mergeColumns(
        t(s, d, "part").select(
          col("p_type").as("recordName"), col("p_brand").as("name"),
          col("p_size").as("len"), col("p_partkey").as("start"))),
      Timed("SELECT p_type AS recordname, lower(p_brand) AS name, max(p_size) AS len, max(p_partkey) AS start FROM part GROUP BY 1, 2")),
    Query("a2_distinct", (s, d) =>
      t(s, d, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct(),
      Timed("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),
    Query("a3_count", (s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("n")),
      Timed("SELECT count(*) AS n FROM lineitem")),
    Query("a4_dup_having", (s, d) =>
      SpecCatalog.duplicates(t(s, d, "orders"), Seq("o_custkey"), minCount = 5L),
      Timed("SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1 HAVING count(*) > 5")),
    Query("a5_group_threshold", (s, d) =>
      // grouped size + threshold flag (ref 03.ipynb:1037-1039: flag surveys
      // whose duplicate count exceeds a bound)
      t(s, d, "orders").groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("flagged", (col("n") > 1000L).cast("int")),
      Timed("SELECT o_orderpriority, count(*) AS n, CAST(count(*) > 1000 AS INTEGER) AS flagged FROM orders GROUP BY 1")),
    Query("a6_maxlen", (s, d) =>
      t(s, d, "customer").agg(
        max(length(col("c_name"))).cast("bigint").as("max_name_len"),
        max(length(col("c_mktsegment"))).cast("bigint").as("max_seg_len")),
      Timed("SELECT CAST(max(length(c_name)) AS BIGINT) AS max_name_len, CAST(max(length(c_mktsegment)) AS BIGINT) AS max_seg_len FROM customer")),
    Query("a7_lexmax_version", (s, d) =>
      // lexical max of a trailing version code per group (ref lib03:128-142,
      // 03.ipynb:814 "version is alphanumeric but lexical comparison works")
      t(s, d, "part").groupBy(col("p_brand"))
        .agg(max(expr("substring(p_type, length(p_type)-1)")).as("max_ver")),
      Timed("SELECT p_brand, max(substring(p_type, length(p_type)-1)) AS max_ver FROM part GROUP BY 1")),
    // --- beyond the reference: Catalyst analytics the warehouse should expose
    Query("a8_rollup", (s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")),
      Timed("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)")),
    // production HLL sketch (rows-only: the approx value is engine-specific);
    // its error-bound contract runs as the _contract sibling below — bench
    // times the operator, verify gates the contract (VERDICT r5 #4)
    Query("a9_approx_distinct", (s, d) =>
      t(s, d, "orders").agg(
        approx_count_distinct(col("o_custkey")).as("approx_customers"),
        countDistinct(col("o_custkey")).as("exact_customers")),
      BenchOnly(Query("a9_approx_distinct_contract", (s, d) =>
        // HLL sketch error-bound contract (VERDICT r4 #2): the approximate
        // cardinality must sit within 3× the sketch's configured relative
        // standard deviation (default rsd 0.05 → bound 15%) of the exact
        // count. The violations frame is provably empty and rides the hash
        // gate; both sides are deterministic (HLL++ is seedless-deterministic
        // over a fixed dataset), so this is a real tripwire, not a flake.
        // Integer-only comparison: |approx-exact|·100 > exact·15
        t(s, d, "orders").agg(
          approx_count_distinct(col("o_custkey")).as("approx_customers"),
          countDistinct(col("o_custkey")).as("exact_customers"))
          .select(col("approx_customers"), col("exact_customers"))
          .filter(abs(col("approx_customers") - col("exact_customers")) * 100L >
            col("exact_customers") * 15L),
        // Contract siblings of the 9 production rows-only queries (VERDICT r5
        // #4: bench the operator under its original name; verify the contract
        // as a `_contract` sibling excluded from bench). Each emits a provably-
        // empty violations frame; the oracle states that emptiness (with the
        // schema pinned), so each contract rides the full rows+schema+hash gate
        Contract("SELECT CAST(0 AS BIGINT) AS approx_customers, CAST(0 AS BIGINT) AS exact_customers FROM orders WHERE 1 = 0")))),
    // exact (interpolated) percentiles per group — both engines implement
    // the same linear-interpolation continuous quantile
    Query("a10_percentile", (s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag")).agg(
        expr("percentile(l_extendedprice, 0.25)").as("p25"),
        expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.75)").as("p75")),
      Timed("SELECT l_returnflag, quantile_cont(l_extendedprice, 0.25) AS p25, quantile_cont(l_extendedprice, 0.5) AS p50, quantile_cont(l_extendedprice, 0.75) AS p75 FROM lineitem GROUP BY 1")),
    Query("a11_cube", (s, d) =>
      // full grouping-set lattice (rollup's big sibling) — partial
      // aggregation below the exchange applies per grouping set, so the
      // shuffle carries pre-combined rows at every granularity
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")),
      Timed("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)")),
    Query("a12_pivot", (s, d) =>
      // pivot with PINNED values: an unpinned pivot runs an extra distinct
      // job over the corpus just to discover column names — never at scale
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity"))),
      // pivot = conditional aggregation; quoted aliases pin the exact
      // pivot-value column names Spark produces
      Timed("""SELECT l_returnflag, sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS "F", sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS "O" FROM lineitem GROUP BY 1""")),
    Query("w6_running_sum", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice")).over(w).as("running_spend"))
    },
      Timed("SELECT o_custkey, o_orderkey, sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_spend FROM orders")),
    Query("w7_lag_lead", (s, d) => {
      // neighbor-row analytics per key: prior/next order price and spend
      // quartile — one partitioned window, no self-join
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).as("quartile"))
    },
      Timed("SELECT o_custkey, o_orderkey, lag(o_totalprice, 1) OVER w AS prev_price, lead(o_totalprice, 1) OVER w AS next_price, CAST(ntile(4) OVER w AS INTEGER) AS quartile FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)")),
    // TIME-keyed (RANGE) frame, not row-keyed: the trailing-7-day sum per
    // user shrinks over silent days — a ROWS frame would silently span gaps.
    // Ordered on epoch day so the range arithmetic is integer-exact
    Query("w8_rolling_range", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("epoch_day",
          datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("epoch_day"))
        .rangeBetween(-6, Window.currentRow)
      daily.select(col("user_id"), col("day"), col("n"),
        sum(col("n")).over(w).as("n7"))
    },
      // CAST the window sum: DuckDB widens sum(BIGINT) to HUGEINT, which the
      // driver's fetch canonicalizes differently from Spark's int64 (the r6
      // hash-fail); every other integer column here is already BIGINT
      Timed("SELECT user_id, day, n, CAST(sum(n) OVER (PARTITION BY user_id ORDER BY epoch_day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n7 FROM (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n, CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS epoch_day FROM events GROUP BY 1, 2, 4)")),
    // per-group top-k through the k-bounded Aggregator (shuffle carries ≤ k
    // rows per group per map partition, vs the window plan's full-table
    // exchange) — drop-in for the row_number() <= k oracle
    Query("w9_topk_group", (s, d) =>
      graft.operators.Sketches.topKPerGroup(
        t(s, d, "orders"), Seq("o_custkey"), "o_totalprice", "o_orderkey", k = 3),
      Timed("SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rank FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3")),
    // deterministic weighted sampling: integer Efraimidis–Spirakis analog
    // (priority = portable hash div weight), weight = token count — the
    // oracle replays hash, division, and the top-k cut exactly
    Query("t_weighted_sample", (s, d) =>
      Curation.weightedPrioritySample(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", TextOps.tokenCount(col("text")), k = 100)
        .select(col("doc_id"), col("weight"), col("priority")),
      Timed("""SELECT doc_id, w AS weight, prio AS priority FROM (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS w, (((doc_id % 1000003) * 2654435761) % 1000003) // CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS prio FROM documents WHERE len(regexp_extract_all(text, '\S+')) > 0) ORDER BY prio, doc_id LIMIT 100""")),
    Query("j7_nullsafe_join", (s, d) => {
      val a = t(s, d, "lineitem")
        .select(nullif(col("l_returnflag"), lit("N")).as("k")).distinct()
      val b = t(s, d, "lineitem")
        .select(nullif(col("l_returnflag"), lit("R")).as("k2")).distinct()
      a.join(b, col("k") <=> col("k2")).select(col("k"))
    },
      Timed("SELECT k FROM (SELECT DISTINCT nullif(l_returnflag, 'N') AS k FROM lineitem) a JOIN (SELECT DISTINCT nullif(l_returnflag, 'R') AS k2 FROM lineitem) b ON a.k IS NOT DISTINCT FROM b.k2")),
    Query("j10_deep_join", (s, d) =>
      // region → nation → supplier → lineitem chain: the deep equi-join
      // shape of pooled warehouse extractions; dims broadcast up the chain
      t(s, d, "lineitem")
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("revenue")),
      Timed("SELECT r_name, n_name, count(*) AS n, sum(l_extendedprice) AS revenue FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2")),
    Query("j8_asof", (s, d) => {
      // each click matched to the user's most recent purchase at or before
      // it — the as-of join Spark lacks, as union + last-over-window (one
      // shuffle on user_id, no pair explosion)
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
      graft.operators.AsOfJoin.asOf(clicks, purchases,
        "user_id", "ts", "p_ts", Seq("p_ts", "p_value"))
        .filter(col("p_ts").isNotNull)
    },
      Timed("SELECT l.event_id, l.user_id, l.ts, r.ts AS p_ts, r.value AS p_value FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r ON l.user_id = r.user_id AND l.ts >= r.ts")),
    Query("j9_range_join", (s, d) => {
      // point-in-interval join in banded equi-join form (misaligned band
      // width on purpose — correctness never depends on alignment)
      val points = t(s, d, "events").select(col("event_id"), col("value"))
      val intervals = t(s, d, "nation").select(col("n_nationkey"),
        (col("n_nationkey") * 20.0).as("lo"), (col("n_nationkey") * 20.0 + 20.0).as("hi"))
      graft.operators.RangeJoin.banded(points, intervals,
        "value", "lo", "hi", bandWidth = 7L)
        .groupBy(col("n_nationkey")).agg(count(lit(1)).as("n_points"))
    },
      Timed("SELECT n_nationkey, count(*) AS n_points FROM nation JOIN events ON value >= n_nationkey * 20.0 AND value < n_nationkey * 20.0 + 20.0 GROUP BY 1")),
    // --- windows / sorts --------------------------------------------------
    Query("w1_sort_limit", (s, d) =>
      t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(10),
      Timed("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10")),
    Query("w3_top1_group", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    },
      Timed("SELECT o_custkey, o_orderkey, o_orderdate FROM (SELECT o_custkey, o_orderkey, o_orderdate, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) WHERE rn = 1")),
    // --- joins ------------------------------------------------------------
    Query("j1_inner_agg", (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty")),
      Timed("SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1")),
    Query("j2_anti", (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey")),
      Timed("SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)")),
    Query("j5_semi", (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey")),
      Timed("SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)")),
    Query("j3_fullouter_diff", (s, d) =>
      SpecCatalog.diffIndicator(
        t(s, d, "customer").select(col("c_custkey").as("key")),
        t(s, d, "orders").select(col("o_custkey").as("key")),
        Seq("key")),
      Timed("SELECT COALESCE(l.key, r.key) AS key, CASE WHEN l.key IS NOT NULL AND r.key IS NOT NULL THEN 'both' WHEN l.key IS NOT NULL THEN 'left_only' ELSE 'right_only' END AS merge_status FROM (SELECT DISTINCT c_custkey AS key FROM customer) l FULL OUTER JOIN (SELECT DISTINCT o_custkey AS key FROM orders) r ON l.key = r.key")),
    Query("j6_padded_key", (s, d) => {
      val h = t(s, d, "customer")
        .select(lpad(col("c_custkey").cast("string"), 12, " ").as("hhid"))
      val p = t(s, d, "orders").select(
        concat(
          lpad(col("o_custkey").cast("string"), 12, " "),
          lpad((col("o_orderkey") % 1000).cast("string"), 3, "0")).as("caseid"))
      p.join(h, col("hhid") === substring(col("caseid"), 1, 12))
        .groupBy(col("hhid")).agg(count(lit(1)).as("n_orders"))
    },
      Timed("SELECT h.hhid AS hhid, count(*) AS n_orders FROM (SELECT lpad(CAST(c_custkey AS VARCHAR), 12, ' ') AS hhid FROM customer) h JOIN (SELECT lpad(CAST(o_custkey AS VARCHAR), 12, ' ') || lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0') AS caseid FROM orders) p ON h.hhid = substring(p.caseid, 1, 12) GROUP BY 1")),
    // --- set ops ----------------------------------------------------------
    Query("u1_union_distinct", (s, d) =>
      t(s, d, "orders").select(col("o_custkey").as("key"))
        .union(t(s, d, "customer").select(col("c_custkey").as("key")))
        .distinct(),
      Timed("SELECT o_custkey AS key FROM orders UNION SELECT c_custkey AS key FROM customer")),
    Query("u2_except", (s, d) =>
      t(s, d, "customer").select(col("c_custkey").as("key"))
        .except(t(s, d, "orders").select(col("o_custkey").as("key"))),
      Timed("SELECT c_custkey AS key FROM customer EXCEPT SELECT o_custkey AS key FROM orders")),
    Query("u3_union_by_name", (s, d) =>
      // schema union-of-columns across differently-shaped inputs (A1/U3):
      // missing columns null-filled, matched by NAME not position
      t(s, d, "nation").select(col("n_nationkey").as("key"), col("n_name").as("name"))
        .unionByName(
          t(s, d, "region").select(col("r_regionkey").as("key")),
          allowMissingColumns = true),
      Timed("SELECT n_nationkey AS key, n_name AS name FROM nation UNION ALL BY NAME SELECT r_regionkey AS key FROM region")),
    // --- projections / filters --------------------------------------------
    Query("p1_projection", (s, d) =>
      t(s, d, "customer").select(
        col("c_custkey"),
        substring(col("c_name"), 1, 8).as("prefix"),
        element_at(split(col("c_name"), "#"), 2).as("num_part"),
        length(col("c_name")).cast("bigint").as("name_len")),
      Timed("SELECT c_custkey, substring(c_name, 1, 8) AS prefix, split_part(c_name, '#', 2) AS num_part, CAST(length(c_name) AS BIGINT) AS name_len FROM customer")),
    Query("p2_conditional_trim", (s, d) =>
      // the conditional-trim projection (SURVEY §1.4-1): key columns keep
      // their padding, everything else is trimmed — decided at plan build
      t(s, d, "customer").select(
        lpad(col("c_custkey").cast("string"), 12, " ").as("caseid"), // no trim
        trim(lpad(col("c_name"), 30, " ")).as("name_trimmed")),
      Timed("SELECT lpad(CAST(c_custkey AS VARCHAR), 12, ' ') AS caseid, trim(lpad(c_name, 30, ' ')) AS name_trimmed FROM customer")),
    Query("p7_like_filter", (s, d) =>
      t(s, d, "documents")
        .filter(col("source").like("src1%") && lower(col("lang")).like("e_"))
        .select(col("doc_id"), col("source"), col("lang")),
      Timed("SELECT doc_id, source, lang FROM documents WHERE source LIKE 'src1%' AND lower(lang) LIKE 'e_'")),
    // --- scalar functions -------------------------------------------------
    Query("f_case_coalesce", (s, d) =>
      t(s, d, "lineitem").select(
        when(col("l_returnflag") === "R", "returned")
          .when(col("l_returnflag") === "A", "accepted")
          .otherwise("none").as("flag_desc"),
        coalesce(nullif(col("l_linestatus"), lit("O")), lit("open")).as("status_desc"))
        .groupBy(col("flag_desc"), col("status_desc")).agg(count(lit(1)).as("n")),
      Timed("SELECT CASE WHEN l_returnflag = 'R' THEN 'returned' WHEN l_returnflag = 'A' THEN 'accepted' ELSE 'none' END AS flag_desc, COALESCE(NULLIF(l_linestatus, 'O'), 'open') AS status_desc, count(*) AS n FROM lineitem GROUP BY 1, 2")),
    Query("f_regexp_extract", (s, d) =>
      t(s, d, "part")
        .select(regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"))
        .groupBy(col("first_word")).agg(count(lit(1)).as("n")),
      Timed("SELECT regexp_extract(p_name, '^(\\w+)', 1) AS first_word, count(*) AS n FROM part GROUP BY 1")),
    Query("f_json_pack", (s, d) =>
      JsonPack.pack(t(s, d, "nation"), Seq("n_nationkey")),
      Timed("SELECT n_nationkey, to_json(struct_pack(n_name := n_name, n_regionkey := CAST(n_regionkey AS VARCHAR)))::VARCHAR AS data FROM nation")),
    Query("f_cmc_dates", (s, d) => {
      // the DHS century-month-code codec (graft.functions.DhsDates): CMC
      // round trip + the age derivation, at CMC 1513 = 2026-01
      import graft.functions.DhsDates
      val cmc = DhsDates.dateToCmc(col("o_orderdate"))
      t(s, d, "orders").select(
        col("o_orderkey"), cmc.as("cmc"),
        DhsDates.cmcYear(cmc).as("cmc_year"),
        DhsDates.cmcMonth(cmc).as("cmc_month"),
        DhsDates.ageAtCmc(cmc, lit(1513)).as("age_years"))
    },
      Timed("SELECT o_orderkey, CAST((year(o_orderdate) - 1900) * 12 + month(o_orderdate) AS INTEGER) AS cmc, CAST(year(o_orderdate) AS INTEGER) AS cmc_year, CAST(month(o_orderdate) AS INTEGER) AS cmc_month, CAST(floor((1513 - ((year(o_orderdate) - 1900) * 12 + month(o_orderdate))) / 12) AS INTEGER) AS age_years FROM orders")),
    Query("f_json_unpack", (s, d) =>
      // pack → unpack round trip: map access on the packed column (the read
      // side of the JSONB tables, ref doc/Data_Format.md:218-220)
      JsonPack.unpack(JsonPack.pack(t(s, d, "nation"), Seq("n_nationkey")))
        .select(col("n_nationkey"),
          element_at(col("data_map"), "n_name").as("n_name"),
          element_at(col("data_map"), "n_regionkey").as("n_regionkey_str")),
      Timed("SELECT n_nationkey, n_name, CAST(n_regionkey AS VARCHAR) AS n_regionkey_str FROM nation")),
    // --- generators --------------------------------------------------------
    Query("g_range_expand", (s, d) =>
      t(s, d, "nation").select(
        col("n_nationkey"),
        explode(sequence(lit(0L), col("n_nationkey").cast("bigint"))).as("v")),
      Timed("SELECT n_nationkey, unnest(generate_series(0, n_nationkey)) AS v FROM nation")),
    Query("g_range_capped", (s, d) => {
      // the range_expansion_limit policy (ref DCF_Parser.py:53,89-97): ranges
      // within the cap expand to one row per value (ExpandedRange); oversize
      // ranges degrade to a Min/Max row pair
      val limit = 10L
      val n = col("n_nationkey").cast("bigint")
      t(s, d, "nation").select(col("n_nationkey"),
        explode(
          when(n + 1 <= limit,
            transform(sequence(lit(0L), n),
              v => struct(v.cast("string").as("value"), lit("ExpandedRange").as("value_type"))))
          .otherwise(array(
            struct(lit("0").as("value"), lit("RangeMin").as("value_type")),
            struct(n.cast("string").as("value"), lit("RangeMax").as("value_type"))))).as("x"))
        .select(col("n_nationkey"), col("x.value").as("value"), col("x.value_type").as("value_type"))
    },
      Timed("""SELECT n_nationkey, CAST(unnest(generate_series(0, n_nationkey)) AS VARCHAR) AS value, 'ExpandedRange' AS value_type FROM nation WHERE n_nationkey + 1 <= 10 UNION ALL SELECT n_nationkey, '0' AS value, 'RangeMin' AS value_type FROM nation WHERE n_nationkey + 1 > 10 UNION ALL SELECT n_nationkey, CAST(n_nationkey AS VARCHAR) AS value, 'RangeMax' AS value_type FROM nation WHERE n_nationkey + 1 > 10"""))
  )
}
