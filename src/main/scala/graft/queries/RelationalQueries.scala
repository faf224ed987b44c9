package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import Shared._

/** Relational analytics: TPC-H and Catalyst built-in operator categories. */
object RelationalQueries {
  val specs: Seq[QuerySpec] = Seq(
    // ---- relational analytics (operator categories absent from the
    //      reference, SURVEY §2.2, exposed via Catalyst built-ins) ----
    QuerySpec("q01_pricing_summary", (s, dir) =>
      Analytics.pricingSummary(s, dir).orderBy(col("l_returnflag"), col("l_linestatus")), oracleSql =
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
          |round(sum(l_extendedprice), 2) AS sum_base_price,
          |round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
          |round(avg(l_quantity), 4) AS avg_qty, count(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    QuerySpec("q03_shipping_priority", (s, dir) => Analytics.shippingPriority(s, dir), oracleSql =
        """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    QuerySpec("q05_revenue_by_nation", (s, dir) =>
      Analytics.revenueByNation(s, dir).orderBy(col("n_name")), oracleSql =
        """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin),
    QuerySpec("q05_salted", (s, dir) => {
      // q05 rebuilt on the skew-salting join: the lineitem⋈supplier
      // equi-join keyed (suppkey, salt∈[0,8)) so one hot supplier spreads
      // over 8 reducers. Result set is identical to the plain join —
      // shares q05's oracle SQL — the salting changes ONLY the shuffle
      // distribution, and the oracle proves it. shuffle_hash hint: at
      // test scale Catalyst would broadcast the (tiny) salted build side,
      // which hides the salted exchange salting exists to demonstrate —
      // in the real salting regime the build side is too big to broadcast
      // by definition.
      val li = Analytics.read(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      val sup = Analytics.read(s, dir, "supplier")
        .join(broadcast(Analytics.read(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
        .hint("shuffle_hash")
      Analytics.saltedJoin(li, sup, "l_suppkey", "s_suppkey", salts = 8)
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }, oracleSql = // salting must not change the result: same oracle as q05
        """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin),
    QuerySpec("q_window_rank", (s, dir) =>
      Analytics.topOrdersPerPriority(s, dir, 5).orderBy(col("o_orderpriority"), col("rk")), oracleSql =
        """SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM
          |(SELECT o_orderpriority, o_orderkey, o_totalprice,
          |  row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk
          | FROM orders)
          |WHERE rk <= 5 ORDER BY o_orderpriority, rk""".stripMargin),
    QuerySpec("q13_custdist", (s, dir) => Analytics.customerOrderDistribution(s, dir), oracleSql =
        """SELECT CAST(c_count AS BIGINT) AS c_count, CAST(count(*) AS BIGINT) AS custdist FROM
          |(SELECT c_custkey, count(o_orderkey) AS c_count
          | FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          | GROUP BY c_custkey)
          |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
    QuerySpec("q_sortmerge_join", (s, dir) => {
      // the large⋈large join strategy: explicit merge hint keeps Catalyst
      // from broadcasting the (testdata-small) orders side, exercising the
      // SortMergeJoin path every fact⋈fact join takes at 100 TB — both
      // sides shuffle ONCE on the key, sort within partitions, and stream
      // the merge without materializing either side. Plan shape pinned in
      // PlanRegressionSpec; results oracle-checked like any other query.
      val li = Analytics.read(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
      val ord = Analytics.read(s, dir, "orders").hint("merge")
        .select(col("o_orderkey"), col("o_orderpriority"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("total_price"))
        .orderBy(col("o_orderpriority"))
    }, oracleSql =
        """SELECT o_orderpriority, count(*) AS n_items,
          |round(sum(l_extendedprice), 2) AS total_price
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    QuerySpec("q17_small_qty_revenue", (s, dir) =>
      Analytics.smallQuantityRevenue(s, dir, Seq("Brand#2", "Brand#4")), oracleSql =
        // the correlated-subquery form — DuckDB decorrelates it into the
        // same agg+join the Spark side declares directly
        """SELECT p_brand, round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
          |count(*) AS n_items
          |FROM lineitem l1 JOIN part ON p_partkey = l_partkey
          |WHERE p_brand IN ('Brand#2', 'Brand#4')
          |AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
          |                  WHERE l2.l_partkey = l1.l_partkey)
          |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    QuerySpec("q_set_except", (s, dir) => Analytics.customerOnlyNations(s, dir), oracleSql =
        """SELECT nationkey FROM
          |(SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
          | EXCEPT SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000)
          |ORDER BY nationkey""".stripMargin),
    QuerySpec("q_set_except_all", (s, dir) => {
      // MULTISET difference (EXCEPT ALL): each supplier occurrence
      // cancels ONE customer occurrence per nation — max(m−n, 0) copies
      // survive, the cardinality-aware semantics DISTINCT set ops lose;
      // counted per key so the multiplicities are what the oracle hashes
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.exceptAll(su).groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey"))
    }, oracleSql =
        """SELECT nationkey, count(*) AS n FROM (
          |  SELECT c_nationkey AS nationkey FROM customer
          |  EXCEPT ALL
          |  SELECT s_nationkey FROM supplier)
          |GROUP BY nationkey ORDER BY nationkey""".stripMargin),
    QuerySpec("q_set_intersect_all", (s, dir) => {
      // MULTISET intersection (INTERSECT ALL): min(m, n) copies per key
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersectAll(su).groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey"))
    }, oracleSql =
        """SELECT nationkey, count(*) AS n FROM (
          |  SELECT c_nationkey AS nationkey FROM customer
          |  INTERSECT ALL
          |  SELECT s_nationkey FROM supplier)
          |GROUP BY nationkey ORDER BY nationkey""".stripMargin),
    QuerySpec("q_union_all", (s, dir) => {
      // explicit UNION ALL surface: one tagged account roster from two
      // tables, counted per (nation, role) — the router's dual (merge n
      // streams into one) as a relational query
      val c = t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"), lit("customer").as("role"))
      val su = t(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey"), lit("supplier").as("role"))
      c.unionAll(su)
        .groupBy(col("nationkey"), col("role"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey"), col("role"))
    }, oracleSql =
        """SELECT nationkey, role, count(*) AS n FROM (
          |  SELECT c_nationkey AS nationkey, 'customer' AS role FROM customer
          |  UNION ALL
          |  SELECT s_nationkey AS nationkey, 'supplier' AS role FROM supplier)
          |GROUP BY nationkey, role ORDER BY nationkey, role""".stripMargin),
    QuerySpec("q_window_ntile", (s, dir) => {
      // ranking-distribution window functions: quartile (ntile) and
      // percent_rank of each customer's orders by price. percent_rank =
      // (rank-1)/(n-1) is a ratio of integers — engine-exact, hash-safe
      // (same rule as tfidf). The partition key is the DATA-SCALE
      // customer key: a handful-valued key (the earlier per-priority
      // form) funnels corpus/|keys| rows through one task at 100 TB —
      // the WindowKeySweepSpec rule, caught by the round-8 sweep.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"))
        .filter(col("quartile") === 1)
        .orderBy(col("o_custkey"), col("pct_rank"), col("o_orderkey"))
    }, oracleSql =
        """SELECT o_custkey, o_orderkey,
          |ntile(4) OVER w AS quartile,
          |round(percent_rank() OVER w, 6) AS pct_rank
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
          |QUALIFY quartile = 1
          |ORDER BY o_custkey, pct_rank, o_orderkey""".stripMargin),
    QuerySpec("q_anti_join", (s, dir) =>
      Analytics.customersWithoutOrders(s, dir).orderBy(col("c_mktsegment")), oracleSql =
        """SELECT c_mktsegment, count(*) AS n_customers FROM customer
          |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    QuerySpec("q_rollup", (s, dir) =>
      Analytics.ordersRollup(s, dir).orderBy(col("status"), col("priority")), oracleSql =
        """SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS priority,
          |count(*) AS n, round(sum(o_totalprice), 2) AS total
          |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
          |ORDER BY status, priority""".stripMargin),
    QuerySpec("q_distinct_counts", (s, dir) => Analytics.distinctCounts(s, dir), oracleSql =
        """SELECT count(DISTINCT l_partkey) AS exact_parts, count(DISTINCT l_suppkey) AS exact_supps,
          |count(*) AS n_rows FROM lineitem""".stripMargin),
    QuerySpec("q_grouping_sets", (s, dir) => { // SQL-entry surface + explicit sets
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
              |coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
              |FROM orders_gs
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY status, priority""".stripMargin)
    }, oracleSql =
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
          |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY status, priority""".stripMargin),
    QuerySpec("events_multigrain", (s, dir) => {
      // hour/day/week monitoring rollup in ONE event-log pass: GROUPING
      // SETS plans as a single scan + Expand(×3) + one aggregation — not
      // three scans or a union; value summed as integer cents (a sliding
      // double sum is engine-order-dependent, cents are exact)
      t(s, dir, "events").createOrReplaceTempView("events_mg")
      s.sql("""SELECT event_type,
              |  CASE WHEN grouping(h) = 0 THEN 'hour'
              |       WHEN grouping(d) = 0 THEN 'day' ELSE 'week' END AS grain,
              |  unix_timestamp(coalesce(h, d, w)) AS bucket,
              |  count(*) AS n, sum(cents) AS cents
              |FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
              |        date_trunc('HOUR', ts) AS h, date_trunc('DAY', ts) AS d,
              |        date_trunc('WEEK', ts) AS w
              |      FROM events_mg)
              |GROUP BY GROUPING SETS ((event_type, h), (event_type, d), (event_type, w))
              |ORDER BY event_type, grain, bucket""".stripMargin)
    }, oracleSql =
        """SELECT event_type,
          |  CASE WHEN grouping(h) = 0 THEN 'hour'
          |       WHEN grouping(d) = 0 THEN 'day' ELSE 'week' END AS grain,
          |  CAST(floor(epoch(coalesce(h, d, w))) AS BIGINT) AS bucket,
          |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
          |FROM (SELECT event_type, CAST(round("value" * 100) AS BIGINT) AS cents,
          |        date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
          |        date_trunc('week', ts) AS w
          |      FROM events)
          |GROUP BY GROUPING SETS ((event_type, h), (event_type, d), (event_type, w))
          |ORDER BY event_type, grain, bucket""".stripMargin),
    QuerySpec("q_set_intersect", (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_nationkey").as("nationkey"))
      val sp = t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
        .select(col("s_nationkey").as("nationkey"))
      c.intersect(sp).orderBy(col("nationkey"))
    }, oracleSql =
        """SELECT nationkey FROM
          |(SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
          | INTERSECT SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000)
          |ORDER BY nationkey""".stripMargin),
    QuerySpec("q_exists_subquery", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_ex")
      t(s, dir, "orders").createOrReplaceTempView("orders_ex")
      s.sql("""SELECT c_mktsegment, count(*) AS n_customers FROM customer_ex c
              |WHERE EXISTS (SELECT 1 FROM orders_ex o
              |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }, oracleSql =
        """SELECT c_mktsegment, count(*) AS n_customers FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    QuerySpec("q_approx_distinct", (s, dir) =>
      // HLL++, promoted to a FULL hash oracle via the within-documented-
      // bound verdict (the forced-outcome pattern): the sketch value
      // itself is engine-specific, but the verdict — |approx − exact| ≤
      // ⌈4·rsd·exact⌉ — is a deterministic boolean both engines state
      // identically. The margin is deliberately 4σ, NOT the rsd itself:
      // rsd 0.05 is HLL++'s one-standard-deviation ESTIMATE, not a hard
      // bound (P(|err| > rsd·exact) ≈ 0.3 for a ~Gaussian error), so a
      // 1σ verdict would be a data-dependent coincidence that a testdata
      // regeneration could flip. At 4σ the per-group failure probability
      // is ~6e-5, and HLL++ is hash-seeded and deterministic for a fixed
      // input, so for any committed corpus the verdict is stable AND the
      // margin survives regeneration. The exact counts ride along so the
      // oracle checks real values, not just the verdict; the exact-vs-
      // sketch scale trade-off lives in q_distinct_counts' scaladoc.
      t(s, dir, "lineitem").agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_suppkey")).as("exact_supps"),
          approx_count_distinct(col("l_partkey")).as("__ap"),
          approx_count_distinct(col("l_suppkey")).as("__as"))
        .select(col("exact_parts"), col("exact_supps"),
          (abs(col("__ap") - col("exact_parts")) <=
            ceil(col("exact_parts") * lit(0.20))).as("parts_within_bound"),
          (abs(col("__as") - col("exact_supps")) <=
            ceil(col("exact_supps") * lit(0.20))).as("supps_within_bound")), oracleSql =
        // the oracle recomputes the exact counts and states the HLL++
        // accuracy contract as constant true — Spark MEASURES the verdict
        """SELECT count(DISTINCT l_partkey) AS exact_parts, count(DISTINCT l_suppkey) AS exact_supps,
          |true AS parts_within_bound, true AS supps_within_bound FROM lineitem""".stripMargin),
    QuerySpec("q_pivot", (s, dir) =>
      t(s, dir, "events")
        .groupBy(pmod(col("user_id"), lit(10)).as("user_bucket"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_bucket")), oracleSql =
        """SELECT user_id % 10 AS user_bucket,
          |count(*) FILTER (event_type = 'click') AS click,
          |count(*) FILTER (event_type = 'view') AS view,
          |count(*) FILTER (event_type = 'purchase') AS purchase,
          |count(*) FILTER (event_type = 'signup') AS signup,
          |count(*) FILTER (event_type = 'error') AS error
          |FROM events GROUP BY user_bucket ORDER BY user_bucket""".stripMargin),
    QuerySpec("q_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"), col("qty"))
        .orderBy(col("rf"), col("ls")), oracleSql =
        """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
          |count(*) AS n, round(sum(l_quantity), 2) AS qty
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY rf, ls""".stripMargin),
    QuerySpec("q_percentiles", (s, dir) => {
      // EXACT grouped percentiles WITHOUT the built-in's all-values-per-
      // group aggregation buffer (round-11 verdict: the exact aggregate
      // was the repo's remaining structural scale problem — a 100 TB
      // group OOMs its buffer). Analytics.percentileExact locates each
      // target rank through a fixed-geometry integer-cent bucket census
      // (the q_percentiles_approx lattice: [0, 8e7) cents / 1000 bins)
      // and reads the exact value off a per-value census of the few
      // answering buckets — bit-identical to percentile() (spec-pinned
      // with ===), same DuckDB quantile_cont oracle, every window over
      // a census. min/max stay the plain fixed-width aggregate.
      val pct = Analytics.percentileExact(t(s, dir, "orders"),
          "o_orderpriority", "o_totalprice",
          Seq(0.5, 0.9), lo = 0L, hi = 80000000L, bins = 1000, scale = 100L)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(min(when(col("q") === 0.5, col("pct"))), 2).as("p50"),
          round(min(when(col("q") === 0.9, col("pct"))), 2).as("p90"))
      val mm = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(min(col("o_totalprice")), 2).as("p_min"),
          round(max(col("o_totalprice")), 2).as("p_max"))
      pct.join(broadcast(mm), "o_orderpriority")
        .orderBy(col("o_orderpriority"))
    }, oracleSql =
        """SELECT o_orderpriority, round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
          |round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
          |round(min(o_totalprice), 2) AS p_min, round(max(o_totalprice), 2) AS p_max
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    QuerySpec("q_percentiles_approx", (s, dir) => {
      // the 100 TB path for q_percentiles: exact percentile() buffers
      // every group value; approx_percentile is a bounded-memory
      // mergeable sketch. The verdict bound is ALSO bounded-memory
      // since round 12 — the round-11 form computed FOUR exact
      // percentile() legs (at q ∓ 0.003) to state the rank-error
      // contract, so the self-described scale path carried the very
      // all-values-per-group buffer it exists to avoid (round-11
      // verdict). The bound now reads off a grouped equi-width
      // histogram census over integer cents (histBuild's fixed-geometry
      // argument, inlined with the group key): exact integer
      // construction, ≤ |priorities|·1000 census rows at any corpus
      // size, cumulated by a window over the census (bounded grain).
      // Soundness: accuracy-1000 returns an element whose exact rank is
      // within N/1000 of target (below ~500 rows/group it stores every
      // value — exact), so with the ∓0.005 margin (≥ 2 ranks of slack
      // for every N this corpus produces: N ≥ 300/group at sf0.001,
      // growing with SF) its rank is ≥ r_lo = ⌈N(q−0.005)⌉ and
      // ≤ r_hi = ⌈N(q+0.005)⌉; a value of rank ≥ r_lo is ≥ the
      // inclusive lower edge of the bin answering r_lo, and of rank
      // ≤ r_hi is < the exclusive upper edge of the bin answering r_hi.
      // Both engines state the boolean identically (oracle: constant
      // true over the exactly-recomputed group keys).
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.expressions.Window
      val loC = 0L; val hiC = 80000000L; val bins = 1000
      val width = (hiC - loC) / bins // 80000 cents; o_totalprice < $500k
      val hist = t(s, dir, "orders")
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("__c"))
        .select(col("o_orderpriority"),
          (greatest(lit(loC), least(col("__c"), lit(hiC - 1))) - lit(loC)).as("__v"))
        .selectExpr("o_orderpriority", s"__v DIV ${width}L AS bin")
        .groupBy(col("o_orderpriority"), col("bin"))
        .agg(count(lit(1)).as("n"))
      val cum = hist.withColumn("cum", sum(col("n")).over(
        Window.partitionBy(col("o_orderpriority")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = hist.groupBy(col("o_orderpriority")).agg(sum(col("n")).as("__N"))
      def rnk(pm: Int) = expr(s"(__N * $pm + 999) DIV 1000")
      val bounds = cum.join(broadcast(tot), "o_orderpriority")
        .withColumn("__rlo50", rnk(495)).withColumn("__rhi50", rnk(505))
        .withColumn("__rlo90", rnk(895)).withColumn("__rhi90", rnk(905))
        .groupBy(col("o_orderpriority"))
        .agg(
          min(when(col("cum") >= col("__rlo50"), col("bin"))).as("__blo50"),
          min(when(col("cum") >= col("__rhi50"), col("bin"))).as("__bhi50"),
          min(when(col("cum") >= col("__rlo90"), col("bin"))).as("__blo90"),
          min(when(col("cum") >= col("__rhi90"), col("bin"))).as("__bhi90"))
      def loEdge(b: Column) = lit(loC) + b * lit(width) // inclusive
      def hiEdge(b: Column) = lit(loC) + (b + lit(1)) * lit(width) // exclusive
      def cents(c: Column) =
        when(round(c * 100).cast("long") < lit(hiC), round(c * 100).cast("long"))
          .otherwise(raise_error(lit("q_percentiles_approx: o_totalprice " +
            s"exceeded the documented lattice ceiling (hiC=$hiC cents) — " +
            "the census range no longer covers the corpus; widen hiC")))
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("approx_percentile(o_totalprice, 0.5, 1000)").as("__a50"),
          expr("approx_percentile(o_totalprice, 0.9, 1000)").as("__a90"))
        .join(broadcast(bounds), "o_orderpriority")
        .select(col("o_orderpriority"),
          // ceiling assert (round-12 advice): an approx value past the
          // clamped lattice would flip the verdict false — a hash
          // mismatch whose real cause is the corpus outgrowing the
          // documented $800k bound, not a sketch failure. Name it.
          (cents(col("__a50")) >= loEdge(col("__blo50")) &&
            cents(col("__a50")) < hiEdge(col("__bhi50")))
            .as("p50_in_bound"),
          (cents(col("__a90")) >= loEdge(col("__blo90")) &&
            cents(col("__a90")) < hiEdge(col("__bhi90")))
            .as("p90_in_bound"))
        .orderBy(col("o_orderpriority"))
    }, oracleSql =
        // group keys recomputed exactly; the sketch's rank-error contract
        // is the constant-true verdict Spark measures against the grouped
        // histogram census's bin edges at the ∓0.005 rank margin (no
        // exact percentile anywhere — the bound is bounded-memory too)
        """SELECT o_orderpriority, true AS p50_in_bound, true AS p90_in_bound
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    QuerySpec("q_asof_join", (s, dir) => {
      // for each event, the user's latest purchase value at or before it
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
      Analytics.asOfJoin(ev, purchases, "user_id", "p_user", "ts", "p_ts", "p_value")
        .select(col("event_id"), round(col("asof_val"), 2).as("last_purchase_value"))
        .orderBy(col("event_id"))
    }, oracleSql =
        """SELECT e.event_id, round(p."value", 2) AS last_purchase_value
          |FROM events e ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          |ON e.user_id = p.user_id AND p.ts <= e.ts
          |ORDER BY e.event_id""".stripMargin),
    QuerySpec("q_range_join", (s, dir) => {
      // error events within the hour preceding each purchase, per user
      val ev = t(s, dir, "events")
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("probe_id"), col("user_id"), col("ts").as("p_ts"))
      val hits = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("hit_id"), col("user_id").as("h_user"), col("ts").as("h_ts"))
      Analytics.bandedRangeJoin(probes, hits, "user_id", "h_user", "p_ts", "h_ts", 3600L)
        .select(col("probe_id"), col("hit_id"), col("user_id"))
        .orderBy(col("probe_id"), col("hit_id"))
    }, oracleSql =
        """SELECT p.event_id AS probe_id, x.event_id AS hit_id, p.user_id
          |FROM events p JOIN events x ON p.user_id = x.user_id
          |AND p.event_type = 'purchase' AND x.event_type = 'error'
          |AND floor(epoch(x.ts)) BETWEEN floor(epoch(p.ts)) - 3600 AND floor(epoch(p.ts))
          |ORDER BY probe_id, hit_id""".stripMargin),

    QuerySpec("q04_priority_late", (s, dir) => {
      // EXISTS-against-the-fact-table as a LEFT SEMI join with a
      // non-equi conjunct: orders with at least one lineitem shipped >90
      // days after the order date, counted per priority. The semi join
      // keeps the orders side deduplicated without a distinct — one
      // shuffle on the order key (or broadcast of orders at small SF).
      val late = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      t(s, dir, "orders")
        .join(late,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "leftsemi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }, oracleSql =
        """SELECT o_orderpriority, count(*) AS order_count FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey
          |              AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    QuerySpec("q07_volume_shipping", (s, dir) => {
      // 5-way snowflake join with the SAME dimension (nation) joined twice
      // under different roles — supplier's nation vs customer's nation —
      // cross-border revenue by year. Both nation sides broadcast; the
      // fact chain shuffles only for the final aggregation.
      // revenue carried as integer CENTS: with 4k+ output groups one of
      // them will sit on a .xx5 rounding boundary of an order-dependent
      // double sum (observed at sf0.01) — the per-row product is
      // bit-identical across engines, so round-to-cents per row then an
      // exact integer sum is hash-stable at any group count
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_shipdate"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("volume_cents"))
      val n1 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation")))
      li.join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(n1, col("s_nationkey") === col("snk"))
        .join(n2, col("c_nationkey") === col("cnk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
        .agg(sum(col("volume_cents")).as("revenue_cents"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }, oracleSql =
        """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |CAST(year(l_shipdate) AS INT) AS l_year,
          |CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |WHERE n1.n_name <> n2.n_name
          |GROUP BY supp_nation, cust_nation, l_year
          |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
    QuerySpec("q10_returned_items", (s, dir) => {
      // top-20 revenue lost to returns per customer: 4-way join filtered
      // on the fact side (returnflag pushed to the lineitem scan), ordered
      // top-k via TakeOrderedAndProject — never a global sort.
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("lost"))
      li.join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("lost")), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, oracleSql =
        """SELECT c_custkey, c_name, n_name,
          |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |GROUP BY c_custkey, c_name, n_name
          |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    QuerySpec("q14_promo_revenue", (s, dir) => {
      // conditional-aggregate ratio (promo share of revenue): one scan,
      // one broadcast dim join, a single-row answer — the shape where the
      // ONLY cost at 100 TB is the fact scan, so the dim filter must not
      // force a shuffle (it doesn't: CASE WHEN inside the agg).
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      li.join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0.0))), 2)
            .as("promo_revenue"),
          round(sum(col("rev")), 2).as("total_revenue"),
          round(lit(100.0) * sum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0.0)))
            / sum(col("rev")), 4).as("promo_pct"))
    }, oracleSql =
        """SELECT round(sum(CASE WHEN p_type = 'PROMO'
          |  THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2) AS promo_revenue,
          |round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
          |round(100.0 * sum(CASE WHEN p_type = 'PROMO'
          |  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
          |  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
          |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin),
    QuerySpec("q18_large_volume", (s, dir) => {
      // HAVING over a fact-side pre-aggregation: collapse lineitem to
      // per-order quantity FIRST (map-side partial sums), filter the tiny
      // survivor set, THEN join order/customer metadata — at 100 TB the
      // join input is the filtered aggregate, not the raw fact table.
      // Quantities are integral doubles, so the bigint cast is exact.
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
        .filter(col("total_qty") > 300)
      big.join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("total_qty"))
        .orderBy(col("o_orderkey"))
    }, oracleSql =
        """WITH big AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
          |             FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
          |SELECT c_custkey, c_name, o_orderkey,
          |round(o_totalprice, 2) AS o_totalprice, total_qty
          |FROM big JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |ORDER BY o_orderkey""".stripMargin),
    QuerySpec("q19_or_of_ands", (s, dir) => {
      // disjunction-of-conjunctions predicate spanning both join sides
      // (brand/size from part, quantity from lineitem). Catalyst can't
      // push the mixed OR below the join, so the part-side implication
      // `p_brand IN (...)` is stated explicitly — it prunes the build side
      // at the scan and is the difference between broadcasting 3 brands
      // and broadcasting the whole part table at 100 TB.
      val part = t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#5"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) && col("l_quantity") <= 25) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 20) && col("l_quantity") >= 10) ||
          (col("p_brand") === "Brand#5" && col("l_quantity").between(5, 30)))
        .agg(round(sum(col("rev")), 2).as("revenue"), count(lit(1)).as("n_items"))
    }, oracleSql =
        """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
          |count(*) AS n_items
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity <= 25)
          |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity >= 10)
          |   OR (p_brand = 'Brand#5' AND l_quantity BETWEEN 5 AND 30)""".stripMargin),
    QuerySpec("q22_prospects", (s, dir) => {
      // scalar subquery (global threshold) + NOT EXISTS anti join, via the
      // SQL entry point: customers above the average positive balance with
      // no urgent order, rolled up per nation. The threshold is
      // round(avg, 2) — a 2-dp threshold makes the cross-engine compare
      // deterministic (measured margin to the nearest balance ≥ 0.07 at
      // every SF, vs ~1e-12 summation-order noise on the raw avg).
      t(s, dir, "customer").createOrReplaceTempView("customer_q22")
      t(s, dir, "orders").createOrReplaceTempView("orders_q22")
      s.sql("""SELECT c_nationkey, count(*) AS numcust,
              |round(sum(c_acctbal), 2) AS totacctbal
              |FROM customer_q22 c
              |WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2)
              |                   FROM customer_q22 WHERE c_acctbal > 0)
              |AND NOT EXISTS (SELECT 1 FROM orders_q22 o
              |                WHERE o.o_custkey = c.c_custkey
              |                AND o.o_orderpriority = '1-URGENT')
              |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
    }, oracleSql =
        """SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
          |FROM customer c
          |WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer WHERE c_acctbal > 0)
          |AND NOT EXISTS (SELECT 1 FROM orders o
          |                WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
          |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
    QuerySpec("q_corr_scalar_subquery", (s, dir) => {
      // correlated scalar subquery — Catalyst decorrelates the per-brand
      // min into an aggregate + join (same rewrite DuckDB applies), so the
      // declared O(n²) subquery executes as one shuffle on p_brand.
      t(s, dir, "part").createOrReplaceTempView("part_cs")
      s.sql("""SELECT p_partkey, p_brand, p_retailprice FROM part_cs p
              |WHERE p_retailprice = (SELECT min(p2.p_retailprice)
              |                       FROM part_cs p2 WHERE p2.p_brand = p.p_brand)
              |ORDER BY p_brand, p_partkey""".stripMargin)
    }, oracleSql =
        """SELECT p_partkey, p_brand, p_retailprice FROM part p
          |WHERE p_retailprice = (SELECT min(p2.p_retailprice)
          |                       FROM part p2 WHERE p2.p_brand = p.p_brand)
          |ORDER BY p_brand, p_partkey""".stripMargin),
    QuerySpec("q_full_outer_join", (s, dir) => {
      // FULL OUTER join of two overlapping top-k document sets (longest-50
      // vs a deterministic md5 bottom-50 sample): genuine unmatched rows
      // on BOTH sides, null-flag projection as membership indicators.
      // md5-ordering is the content-keyed sampling rule again — stable
      // across re-runs and engines.
      val docs = t(s, dir, "documents")
      val longest = docs.orderBy(col("n_chars").desc, col("doc_id")).limit(50)
        .select(col("doc_id").as("id_long"))
      val sample = docs.orderBy(md5(col("text")), col("doc_id")).limit(50)
        .select(col("doc_id").as("id_samp"))
      longest.join(sample, col("id_long") === col("id_samp"), "full_outer")
        .select(coalesce(col("id_long"), col("id_samp")).as("doc_id"),
          col("id_long").isNotNull.cast("int").as("in_longest"),
          col("id_samp").isNotNull.cast("int").as("in_sample"))
        .orderBy(col("doc_id"))
    }, oracleSql =
        """WITH a AS (SELECT doc_id FROM documents ORDER BY n_chars DESC, doc_id LIMIT 50),
          |b AS (SELECT doc_id FROM documents ORDER BY md5(text), doc_id LIMIT 50)
          |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
          |CAST(a.doc_id IS NOT NULL AS INT) AS in_longest,
          |CAST(b.doc_id IS NOT NULL AS INT) AS in_sample
          |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id ORDER BY doc_id""".stripMargin),
    QuerySpec("q_unpivot", (s, dir) =>
      // wide→long unpivot via stack(): per-language corpus stats as
      // (lang, metric, value) rows — the inverse of q_pivot. All-bigint
      // values so the compare is exact.
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("source")).as("n_sources"))
        .select(col("lang"),
          expr("stack(3, 'n_docs', n_docs, 'sum_chars', sum_chars, 'n_sources', n_sources) AS (metric, value)"))
        .orderBy(col("lang"), col("metric")), oracleSql =
        """WITH w AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
          |  FROM documents GROUP BY lang)
          |SELECT lang, metric, value FROM (
          |  SELECT lang, 'n_docs' AS metric, n_docs AS value FROM w
          |  UNION ALL SELECT lang, 'sum_chars', sum_chars FROM w
          |  UNION ALL SELECT lang, 'n_sources', n_sources FROM w)
          |ORDER BY lang, metric""".stripMargin),

    QuerySpec("q06_forecast_revenue", (s, dir) =>
      // the pushdown showcase: a single fact scan with EVERY predicate in
      // PushedFilters (shipdate range, discount band, quantity cap) and a
      // 3-column ReadSchema, partial+final agg to one row — at 100 TB the
      // entire query cost is the pruned scan. Revenue as exact integer
      // cents (the q07 rule: per-row product is bit-identical across
      // engines; round to cents per row, then an exact integer sum).
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(
          sum(round(col("l_extendedprice") * col("l_discount") * 100).cast("long"))
            .as("revenue_cents"),
          count(lit(1)).as("n_items")), oracleSql =
        """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
          |count(*) AS n_items
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          |AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
          |AND l_quantity < 24""".stripMargin),
    QuerySpec("q08_market_share", (s, dir) => {
      // national market share: NATION_3's slice of STANDARD-part volume
      // sold to ASIA-region customers, per year. The region constraint
      // rides the nation⋈region dim join (broadcast, prunes the customer
      // side at the join); numerator and denominator are both exact cent
      // sums, so the share is one double division of exact integers —
      // hash-stable without any tolerance.
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
          year(col("l_shipdate")).as("l_year"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("volume_cents"))
      val pt = broadcast(t(s, dir, "part")
        .filter(col("p_type") === "STANDARD").select(col("p_partkey")))
      val n1 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      val asiaNations = broadcast(t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA").select(col("n_nationkey").as("cnk")))
      li.join(pt, col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("snk"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(asiaNations, col("c_nationkey") === col("cnk"))
        .groupBy(col("l_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", col("volume_cents"))
            .otherwise(lit(0L))).as("nation_cents"),
          sum(col("volume_cents")).as("total_cents"))
        .select(col("l_year"), col("nation_cents"), col("total_cents"),
          round(col("nation_cents").cast("double") / col("total_cents").cast("double"), 6)
            .as("mkt_share"))
        .orderBy(col("l_year"))
    }, oracleSql =
        """WITH v AS (
          |  SELECT CAST(year(l_shipdate) AS INT) AS l_year, n1.n_name AS supp_nation,
          |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS volume_cents
          |  FROM lineitem
          |  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |  JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA')
          |SELECT l_year,
          |CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume_cents ELSE 0 END) AS BIGINT) AS nation_cents,
          |CAST(sum(volume_cents) AS BIGINT) AS total_cents,
          |round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume_cents ELSE 0 END) AS DOUBLE)
          |  / CAST(sum(volume_cents) AS DOUBLE), 6) AS mkt_share
          |FROM v GROUP BY l_year ORDER BY l_year""".stripMargin),
    QuerySpec("q09_profit_by_nation", (s, dir) => {
      // product-line profit by (supplier nation, year). The testdata has
      // no partsupp table, so supply cost is proxied as 10% of the part's
      // retail price per unit — the plan shape (substring-filtered part
      // dim broadcast into the fact scan, profit formed per-row, grouped
      // on dim attributes) is exactly TPC-H Q9's. Profit in exact cents.
      val pt = broadcast(t(s, dir, "part")
        .filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice")))
      val profit = round(
        (col("l_extendedprice") * (lit(1) - col("l_discount"))
          - col("p_retailprice") * col("l_quantity") * 0.1) * 100).cast("long")
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"), col("l_quantity"))
        .join(pt, col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("l_shipdate")).as("o_year"))
        .agg(sum(profit).as("profit_cents"), count(lit(1)).as("n_items"))
        .orderBy(col("n_name"), col("o_year").desc)
    }, oracleSql =
        """SELECT n_name, CAST(year(l_shipdate) AS INT) AS o_year,
          |CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1) * 100) AS BIGINT)) AS BIGINT) AS profit_cents,
          |count(*) AS n_items
          |FROM lineitem
          |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY n_name, o_year ORDER BY n_name, o_year DESC""".stripMargin),
    QuerySpec("q15_top_supplier", (s, dir) => {
      // view-then-max: per-supplier revenue over one quarter, returning
      // the supplier(s) achieving the global max (scalar subquery over the
      // aggregate). Exact cents make "= max" safe — the double form of
      // this query is famously nondeterministic across engines.
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q15")
      t(s, dir, "supplier").createOrReplaceTempView("supplier_q15")
      s.sql("""WITH rev AS (
              |  SELECT l_suppkey AS supplier_no,
              |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
              |  FROM lineitem_q15
              |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              |    AND l_shipdate < TIMESTAMP '1996-04-01'
              |  GROUP BY l_suppkey)
              |SELECT s_suppkey, s_name, total_cents
              |FROM supplier_q15 JOIN rev ON s_suppkey = supplier_no
              |WHERE total_cents = (SELECT max(total_cents) FROM rev)
              |ORDER BY s_suppkey""".stripMargin)
    }, oracleSql =
        """WITH rev AS (
          |  SELECT l_suppkey AS supplier_no,
          |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_cents
          |FROM supplier JOIN rev ON s_suppkey = supplier_no
          |WHERE total_cents = (SELECT max(total_cents) FROM rev)
          |ORDER BY s_suppkey""".stripMargin),
    QuerySpec("q16_part_supplier_variety", (s, dir) => {
      // supplier variety per (brand, size): COUNT(DISTINCT) over a
      // dim-filtered fact join — Catalyst expands the distinct into a
      // two-level aggregate (partial distinct per partition, then final),
      // so the shuffle carries (brand, size, suppkey) triples, never raw
      // fact rows. partsupp doesn't exist in the testdata; lineitem IS the
      // part↔supplier association.
      val pt = broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_size")))
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    }, oracleSql =
        """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE p_brand <> 'Brand#1'
          |AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
          |GROUP BY p_brand, p_size
          |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin),
    QuerySpec("q21_waiting_supplier", (s, dir) => {
      // suppliers who were the SOLE late shipper in a multi-supplier
      // order. TPC-H Q21's double EXISTS/NOT EXISTS is hand-decorrelated:
      // one (order, supplier)-grain aggregate with a per-row lateness
      // flag, then the per-order rollup as a WINDOW over that aggregate —
      // not a second aggregate joined back, which (plan-audited) recomputes
      // the whole lineitem⋈orders subtree per branch. The window form
      // touches the fact join once; the window itself runs on the
      // order×supplier-grain relation, orders of magnitude smaller than
      // lineitem. Lateness = shipped >60 days after the order date (the
      // testdata has no commit/receipt dates).
      import org.apache.spark.sql.expressions.Window
      val flagged = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          lit(1)).otherwise(lit(0))).as("late"))
      val w = Window.partitionBy(col("l_orderkey"))
      flagged
        .withColumn("n_supps", count(lit(1)).over(w))
        .withColumn("n_late", sum(col("late")).over(w))
        .filter(col("late") === 1 && col("n_supps") >= 2 && col("n_late") === 1)
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }, oracleSql =
        // the decorrelated form (see the query comment); identical
        // semantics to Q21's EXISTS/NOT EXISTS over the lateness proxy
        """WITH flagged AS (
          |  SELECT l_orderkey, l_suppkey,
          |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS late
          |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |  GROUP BY l_orderkey, l_suppkey),
          |stats AS (SELECT l_orderkey, count(*) AS n_supps, CAST(sum(late) AS BIGINT) AS n_late
          |          FROM flagged GROUP BY l_orderkey)
          |SELECT s_name, count(*) AS numwait
          |FROM flagged f JOIN stats USING (l_orderkey)
          |JOIN supplier ON s_suppkey = f.l_suppkey
          |WHERE f.late = 1 AND stats.n_supps >= 2 AND stats.n_late = 1
          |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),

    QuerySpec("q02_min_cost_supplier", (s, dir) => {
      // TPC-H Q2's groupwise-argmin shape, adapted (no partsupp table —
      // lineitem is the part↔supplier association; "supply cost" = the
      // cheapest sale, exact cents). The correlated MIN subquery is
      // decorrelated as a window MIN over the (part, supplier)-grain
      // aggregate — one pass, no agg-joined-back recompute of the fact
      // subtree. Ties (several suppliers at the min) are all returned,
      // exactly like Q2. Both dims broadcast; the window runs on the
      // already-aggregated relation, |parts ∩ filter| × |EU suppliers|
      // rows at most — tiny next to lineitem at any scale.
      import org.apache.spark.sql.expressions.Window
      val cost = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("cost_cents"))
      val eu = broadcast(t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name")))
      val pt = broadcast(t(s, dir, "part")
        .filter(col("p_size") <= 15 && col("p_type") === "STANDARD")
        .select(col("p_partkey"), col("p_brand")))
      cost.join(eu, col("l_suppkey") === col("s_suppkey"))
        .join(pt, col("l_partkey") === col("p_partkey"))
        .withColumn("best_cents",
          min(col("cost_cents")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("cost_cents") === col("best_cents"))
        .select(col("p_partkey"), col("p_brand"), col("s_name"), col("n_name"),
          col("cost_cents"))
        .orderBy(col("cost_cents"), col("p_partkey"), col("s_name"))
    }, oracleSql =
        """WITH cost AS (
          |  SELECT l_partkey, l_suppkey,
          |         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cents
          |  FROM lineitem GROUP BY 1, 2),
          |eu AS (SELECT s_suppkey, s_name, n_name FROM supplier
          |       JOIN nation ON s_nationkey = n_nationkey
          |       JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
          |best AS (
          |  SELECT p_partkey, p_brand, s_name, n_name, cost_cents,
          |         min(cost_cents) OVER (PARTITION BY p_partkey) AS best_cents
          |  FROM cost JOIN eu ON l_suppkey = s_suppkey
          |  JOIN part ON p_partkey = l_partkey AND p_size <= 15 AND p_type = 'STANDARD')
          |SELECT p_partkey, p_brand, s_name, n_name, cost_cents
          |FROM best WHERE cost_cents = best_cents
          |ORDER BY cost_cents, p_partkey, s_name""".stripMargin),
    QuerySpec("q11_important_parts", (s, dir) => {
      // TPC-H Q11's HAVING-vs-global-scalar shape: per-part value among
      // one region's suppliers, keeping parts above 1.25× the mean part
      // value. The threshold is self-normalizing (value·nparts·4 >
      // 5·total, all BIGINT — no doubles, no SF-dependent constant like
      // Q11's 0.0001/SF). The global scalar derives from the SAME
      // aggregate subtree, so the per-part exchange is planned once and
      // consumed twice (ReuseExchange); the corpus-wide rollup to one row
      // is O(nparts), not a second fact scan.
      val asia = broadcast(t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey")))
      val value = t(s, dir, "lineitem")
        .join(asia, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("value_cents"))
      val tot = value.agg(sum(col("value_cents")).as("total_cents"),
        count(lit(1)).as("nparts"))
      value.crossJoin(broadcast(tot))
        .filter(col("value_cents") * col("nparts") * 4 > col("total_cents") * 5)
        .select(col("l_partkey").as("p_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("p_partkey"))
    }, oracleSql =
        """WITH val AS (
          |  SELECT l_partkey AS p_partkey,
          |         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS value_cents
          |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
          |  GROUP BY 1)
          |SELECT p_partkey, CAST(value_cents AS BIGINT) AS value_cents FROM val
          |WHERE value_cents * (SELECT count(*) FROM val) * 4
          |      > 5 * (SELECT sum(value_cents) FROM val)
          |ORDER BY value_cents DESC, p_partkey""".stripMargin),
    QuerySpec("q12_delay_priority", (s, dir) => {
      // TPC-H Q12's conditional-count-by-class shape, adapted (no
      // l_shipmode in the testdata — the class is the order→ship delay
      // bucket). Fact⋈fact equi-join on the order key with the year
      // filter pushed into the lineitem scan BEFORE the join, so the
      // exchange carries one year, not seven. The priority split is two
      // conditional sums in one aggregate — one pass, no pivot.
      val delay = datediff(col("l_shipdate"), col("o_orderdate"))
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("delay_bucket",
          when(delay < 30, "1_fast").when(delay < 60, "2_medium")
            .otherwise("3_slow"))
        .groupBy(col("delay_bucket"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("delay_bucket"))
    }, oracleSql =
        """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 30 THEN '1_fast'
          |            WHEN date_diff('day', o_orderdate, l_shipdate) < 60 THEN '2_medium'
          |            ELSE '3_slow' END AS delay_bucket,
          |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          |GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q20_excess_share", (s, dir) => {
      // TPC-H Q20's nested-agg-threshold + semi-join-chain shape:
      // suppliers holding >12.5% of any red part's total shipped quantity,
      // restricted to one region. The (part, supplier)-grain aggregate
      // feeds BOTH the share probe and the per-part total; the two
      // consumers' pruned projections canonicalize differently, so
      // neither ReuseExchange nor AQE stage reuse dedupes them (verified
      // — same finding as text_tfidf) and lineitem would be scanned
      // twice. Materialize it ONCE with a lazy localCheckpoint (drained
      // by the harness via Cleanup); at 100 TB that per-(part, supplier)
      // relation is ~|parts|·avg-suppliers rows — tiny next to the fact.
      // Quantities are integral doubles → BIGINT; share test is
      // qty·8 > total, integer-exact. The supplier roster joins the
      // excess set as LEFT SEMI — no duplicate-row blowup, no distinct
      // needed on the probe side.
      val ps = Cleanup.register(t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).cast("long").as("qty"))
        .localCheckpoint(false))
      val tot = ps.groupBy(col("l_partkey")).agg(sum(col("qty")).as("total_qty"))
      // round 15: red is a ~25%-selectivity filter of a table that GROWS
      // with the corpus — broadcast-pinning it (round-9 form) ships an
      // unbounded relation to every executor at 100 TB; merge-pin instead
      // (the mechanical CorpusJoinHintSpec rule)
      val red = t(s, dir, "part")
        .filter(col("p_name").contains("red")).select(col("p_partkey"))
      val excess = ps.join(tot.hint("merge"), "l_partkey")
        .join(red.hint("merge"), col("l_partkey") === col("p_partkey"))
        .filter(col("qty") * 8 > col("total_qty"))
        .select(col("l_suppkey"))
      t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    }, oracleSql =
        """WITH ps AS (
          |  SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
          |  FROM lineitem GROUP BY 1, 2),
          |tot AS (SELECT l_partkey, sum(qty) AS total_qty FROM ps GROUP BY 1)
          |SELECT s_suppkey, s_name FROM supplier
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
          |WHERE s_suppkey IN (
          |  SELECT l_suppkey FROM ps JOIN tot USING (l_partkey)
          |  JOIN part ON p_partkey = l_partkey AND contains(p_name, 'red')
          |  WHERE qty * 8 > total_qty)
          |ORDER BY s_suppkey""".stripMargin),
    QuerySpec("docs_global_rank", (s, dir) =>
      // scalable GLOBAL ranking — two-phase, no single-partition corpus
      // window (rationale in Analytics.globalRank's scaladoc); identical
      // to the oracle's one-window form because (n_chars, doc_id) is a
      // total order
      Analytics.globalRank(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars", "doc_id")
        .orderBy(col("doc_id")), oracleSql =
        """SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) AS global_rank
          |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_qnorm_length", (s, dir) =>
      // quantile normalization across sources: each doc's within-source
      // midrank maps onto the POOLED n_chars distribution — the
      // model-free cross-source score calibration (one threshold for
      // many crawls); exact integer ranks + a pooled-rank lookup, no new
      // float arithmetic anywhere (Analytics.quantileNormalize)
      Analytics.quantileNormalize(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
          "source", "doc_id", "n_chars")
        .orderBy(col("doc_id")), oracleSql =
        // within-source midrank -> pooled-rank lookup, all integer
        // arithmetic; DuckDB // is floor division == Spark DIV on longs
        """WITH src AS (SELECT doc_id, source, n_chars FROM documents),
          |r AS (SELECT doc_id, source, n_chars,
          |      row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
          |      count(*) OVER (PARTITION BY source) AS ns FROM src),
          |p AS (SELECT n_chars AS qnorm,
          |      row_number() OVER (ORDER BY n_chars, doc_id) AS gr FROM src),
          |n AS (SELECT count(*) AS nt FROM src)
          |SELECT r.doc_id, r.source, r.n_chars, p.qnorm
          |FROM r, n, p WHERE p.gr = ((2 * r.r - 1) * n.nt) // (2 * r.ns) + 1
          |ORDER BY r.doc_id""".stripMargin),
    QuerySpec("docs_len_hist_quantiles", (s, dir) => {
      // the mergeable histogram quantile sketch end-to-end: a fixed
      // [0, 512)/64-bin length census (≤64 counter rows at any corpus
      // size, map-side-collapsed before the one shuffle) answering the
      // p50/p90/p99 ranks with one-bin-width error BY CONSTRUCTION —
      // exact integers everywhere, so the sketch AND the quantile reads
      // hash-oracle directly (Analytics.histBuild/histQuantiles)
      val sk = Analytics.histBuild(t(s, dir, "documents"), "n_chars",
        lo = 0L, hi = 512L, bins = 64)
      Analytics.histQuantiles(sk, Seq(500, 900, 990))
        .orderBy(col("q_pm"))
    }, oracleSql =
        // clamp -> integer floor-div binning -> bounded running sum ->
        // ceiling-rank lookup; // is floor division == Spark DIV
        """WITH v AS (SELECT greatest(0, least(n_chars, 511)) AS v FROM documents),
          |h AS (SELECT v // 8 AS bin, count(*) AS n FROM v GROUP BY 1),
          |c AS (SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum FROM h),
          |t AS (SELECT sum(n) AS nt FROM h),
          |q(q_pm) AS (VALUES (500), (900), (990)),
          |r AS (SELECT q_pm, CAST((nt * q_pm + 999) // 1000 AS BIGINT) AS rnk FROM q, t),
          |sel AS (SELECT r.q_pm, r.rnk, min(c.bin) AS bin
          |        FROM r JOIN c ON c.cum >= r.rnk GROUP BY r.q_pm, r.rnk)
          |SELECT CAST(q_pm AS INT) AS q_pm, bin, (bin + 1) * 8 AS est_hi, rnk AS rank
          |FROM sel ORDER BY q_pm""".stripMargin),
    QuerySpec("events_ewma", (s, dir) =>
      // per-user event-time EWMA with dyadic α = 1/4: the decay multiply
      // is exact IEEE and the fold order is pinned to the (ts, event_id)
      // total order, so every intermediate double is bit-identical across
      // engines — the sequential-recurrence counterpart of the
      // order-free integer-cent monitors (Events.ewmaByUser; streaming
      // twin StatefulOps.streamingEwma, parity spec-pinned)
      Events.ewmaByUser(t(s, dir, "events"))
        .orderBy(col("user_id")), oracleSql =
        // seedless list_reduce uses the first element as the seed —
        // exactly the batch op's convention; the fold order is the
        // repo's (ts, event_id) event total order
        """WITH l AS (SELECT user_id, count(*) AS n_events,
          |      list("value" ORDER BY ts, event_id) AS vs FROM events GROUP BY user_id)
          |SELECT user_id, n_events,
          |  round(list_reduce(vs, (a, x) -> a + (x - a) * 0.25), 4) AS ewma_r
          |FROM l ORDER BY user_id""".stripMargin),
    QuerySpec("events_ohlc", (s, dir) =>
      // 15-min OHLC bars per event type — tie-proof argmin/argmax over a
      // unique order key, one hash aggregate (Events.ohlcBars scaladoc)
      Events.ohlcBars(t(s, dir, "events"))
        .orderBy(col("event_type"), col("w_start")), oracleSql =
        // (sec, event_id) lexicographic order key mirrored as a HUGEINT
        // composite (DuckDB's arg_min takes scalar keys only): the 2e19
        // multiplier exceeds any BIGINT event_id, so no id can alias into
        // a later second and 128-bit arithmetic cannot overflow — the
        // same total order as the Spark side's struct(s, i) key
        """WITH e AS (
          |  SELECT event_type, "value",
          |         CAST(floor(epoch(ts)) AS BIGINT)
          |           - CAST(floor(epoch(ts)) AS BIGINT) % 900 AS w_start,
          |         CAST(floor(epoch(ts)) AS HUGEINT) * 20000000000000000000 + event_id AS ord
          |  FROM events)
          |SELECT event_type, w_start,
          |       arg_min("value", ord) AS open_v, max("value") AS high_v,
          |       min("value") AS low_v, arg_max("value", ord) AS close_v,
          |       count(*) AS n
          |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("docs_mix_interleave", (s, dir) =>
      // deterministic 3:2:1-style corpus-mixing schedule (en:fr:rest) —
      // weighted round-robin as integer virtual time + scalable global
      // rank (TextAnalysis.mixInterleave scaladoc)
      TextAnalysis.mixInterleave(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 3, "fr" -> 2), defaultWeight = 1)
        .orderBy(col("doc_id")), oracleSql =
        // tie order (vt, lang) — matches the analytic per-source position
        // formula's source-ascending tie-break (mixInterleave scaladoc);
        // within a source vts are distinct, so this is a total order
        """WITH r AS (
          |  SELECT doc_id, lang,
          |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
          |  FROM documents),
          |v AS (SELECT doc_id, lang,
          |        rk * (CASE lang WHEN 'en' THEN 2 WHEN 'fr' THEN 3 ELSE 6 END) AS vt
          |      FROM r)
          |SELECT doc_id, lang, CAST(vt AS BIGINT) AS vt,
          |       row_number() OVER (ORDER BY vt, lang) AS mix_pos
          |FROM v ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_mix_allocate", (s, dir) =>
      // closed-form token-budget waterfilling: 1.45 corpus epochs at
      // uniform per-source shares (alpha = 0), nothing repeated past 1.5
      // epochs — small sources hit the cap, the rest share one λ
      // (TextAnalysis.mixAllocate scaladoc); the corpus-scale work is a
      // single token census, the waterfill runs at source grain
      TextAnalysis.mixAllocate(t(s, dir, "documents"), "source", "text",
          budgetEpochs = 1.45, alpha = 0.0, maxEpochs = 1.5)
        .orderBy(col("source")), oracleSql =
        // the greedy prefix test in ratio order (mixAllocate scaladoc),
        // replayed with the identical arithmetic: integer token sums are
        // exact in doubles regardless of addition order, so B/totw/cumc
        // match Spark's window sums bit-for-bit
        raw"""WITH t AS (SELECT source,
           |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY source),
           |b AS (SELECT source, n_tokens, CAST(n_tokens AS DOUBLE)*1.5 AS c, 1.0 AS w,
           |      CAST(n_tokens AS DOUBLE)*1.5/1.0 AS r FROM t WHERE n_tokens > 0),
           |s AS (SELECT *, sum(CAST(n_tokens AS DOUBLE)) OVER ()*1.45 AS bb,
           |  COALESCE(sum(c) OVER (ORDER BY r, source ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumc,
           |  COALESCE(sum(w) OVER (ORDER BY r, source ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumw,
           |  sum(w) OVER () AS totw FROM b),
           |f AS (SELECT *, (r <= (bb - cumc)/(totw - cumw)) AS capped FROM s),
           |g AS (SELECT *, (bb - COALESCE(sum(CASE WHEN capped THEN c END) OVER (), 0)) /
           |      COALESCE(sum(CASE WHEN NOT capped THEN w END) OVER (), CAST('inf' AS DOUBLE)) AS lam FROM f)
           |SELECT source, n_tokens, CAST(capped AS INT) AS capped,
           |round(CASE WHEN capped THEN c ELSE lam*w END, 2) AS alloc_tokens,
           |round((CASE WHEN capped THEN c ELSE lam*w END)/CAST(n_tokens AS DOUBLE), 4) AS epochs
           |FROM g ORDER BY source""".stripMargin),
    QuerySpec("docs_budget_select", (s, dir) =>
      // greedy char-budget curation cut: best-quality-first prefix whose
      // cumulative cost fits 50k chars — prefix sum is the two-phase
      // globalCumsum, never a single-partition corpus window
      // (TextAnalysis.budgetSelect scaladoc)
      TextAnalysis.budgetSelect(t(s, dir, "documents"), "text", "doc_id",
          budget = 50000L)
        .orderBy(col("doc_id")), oracleSql =
        // the text_quality oracle's score construction → integer rank
        // key → ONE-window prefix sum (the oracle form of the two-phase
        // globalCumsum) → greedy budget cut
        s"""WITH f AS (SELECT doc_id, length(text) AS nc, $toks AS w, $subw AS sw FROM documents),
           |g AS (SELECT doc_id, nc, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id, nc,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g),
           |k AS (SELECT doc_id, nc,
           |  (100 - CAST(round(quality_score * 100) AS BIGINT)) * 1000 + least(nc, 999) AS rank_key
           |FROM q),
           |s AS (SELECT doc_id, rank_key, CAST(nc AS BIGINT) AS cost,
           |  CAST(sum(nc) OVER (ORDER BY rank_key, doc_id) AS BIGINT) AS cum FROM k)
           |SELECT doc_id, rank_key, cost, cum FROM s WHERE cum <= 50000
           |ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_lm_score", (s, dir) =>
      // corpus-trained bigram-LM scoring (the CCNet-style LM quality
      // filter as a relational query) — exact-integer counts, nano-unit
      // probabilities, vocab-sized model joined not broadcast
      // (TextAnalysis.lmScore scaladoc)
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")), oracleSql =
        // identical float op order: (c12+1)/(c1+V) FIRST, then ·1e9, then
        // floor — every double op IEEE-identical to the Spark side
        raw"""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
           |bg AS (SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
           |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t)),
           |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
           |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
           |v AS (SELECT count(DISTINCT x) AS v FROM
           |      (SELECT w1 AS x FROM c12 UNION SELECT w2 AS x FROM c12)),
           |m AS (SELECT w1, w2,
           |  CAST(floor(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE) * 1e9) AS BIGINT) AS p_nano
           |FROM c12 JOIN c1 USING (w1), v)
           |SELECT doc_id, CAST(sum(p_nano) AS BIGINT) AS score_nano,
           |  count(*) AS n_bigrams,
           |  CAST(sum(p_nano) // count(*) AS BIGINT) AS avg_p_nano
           |FROM bg JOIN m USING (w1, w2) GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QuerySpec("events_transitions", (s, dir) =>
      // first-order Markov next-event matrix: per-user lag window
      // (key-local, parallel), ppm probabilities by integer division —
      // no doubles anywhere (Events.transitionMatrix scaladoc)
      Events.transitionMatrix(t(s, dir, "events"))
        .orderBy(col("prev_type"), col("event_type")), oracleSql =
        """WITH s AS (SELECT user_id, event_type,
          |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
          |FROM events),
          |c AS (SELECT prev_type, event_type, count(*) AS cnt FROM s
          |      WHERE prev_type IS NOT NULL GROUP BY 1, 2),
          |tt AS (SELECT prev_type, CAST(sum(cnt) AS BIGINT) AS total FROM c GROUP BY 1)
          |SELECT prev_type, event_type, cnt,
          |  CAST((cnt * 1000000) // total AS BIGINT) AS p_ppm
          |FROM c JOIN tt USING (prev_type)
          |ORDER BY prev_type, event_type""".stripMargin),
    QuerySpec("text_postings", (s, dir) =>
      // inverted-index build for the 20 highest-df terms — posting lists
      // as sorted doc-id strings; one term-doc relation feeds df census
      // and assembly (TextAnalysis.postings scaladoc has the segment-
      // sharding production form)
      TextAnalysis.postings(t(s, dir, "documents"), "doc_id", "text", 20)
        .orderBy(col("term")), oracleSql =
        raw"""WITH td AS (SELECT DISTINCT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           |  FROM documents),
           |dfs AS (SELECT term, count(*) AS df FROM td GROUP BY term),
           |top AS (SELECT term, df FROM dfs ORDER BY df DESC, term LIMIT 20)
           |SELECT term, df, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS posting
           |FROM td JOIN top USING (term) GROUP BY term, df
           |ORDER BY term""".stripMargin),
    QuerySpec("text_postings_segments", (s, dir) =>
      // the production posting form: assembly key (term, doc_id div 100)
      // bounds every row/agg-buffer at segSize ids even for a hot term;
      // segSize 100 exercises multiple segments per term at every SF
      // (TextAnalysis.postingsSegments scaladoc)
      TextAnalysis.postingsSegments(t(s, dir, "documents"), "doc_id", "text",
          20, segSize = 100L)
        .orderBy(col("term"), col("seg")), oracleSql =
        raw"""WITH td AS (SELECT DISTINCT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           |  FROM documents),
           |dfs AS (SELECT term, count(*) AS df FROM td GROUP BY term),
           |top AS (SELECT term, df FROM dfs ORDER BY df DESC, term LIMIT 20)
           |SELECT term, df, doc_id // 100 AS seg, count(*) AS seg_df,
           |string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS posting
           |FROM td JOIN top USING (term) GROUP BY term, df, seg
           |ORDER BY term, seg""".stripMargin),
    QuerySpec("docs_quality_calibrated", (s, dir) =>
      // per-language percent-rank calibration — one threshold transfers
      // across languages; exact ppm integers
      // (TextAnalysis.calibrateQuality scaladoc)
      TextAnalysis.calibrateQuality(t(s, dir, "documents"), "text", "lang")
        .orderBy(col("doc_id")), oracleSql =
        // the text_quality score construction + exact-integer per-lang
        // percent rank (ppm)
        s"""WITH f AS (SELECT doc_id, lang, $toks AS w, $subw AS sw FROM documents),
           |g AS (SELECT doc_id, lang, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id, lang,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g)
           |SELECT doc_id, lang, quality_score,
           |  CAST(CASE WHEN count(*) OVER (PARTITION BY lang) > 1
           |    THEN ((rank() OVER (PARTITION BY lang ORDER BY quality_score) - 1) * 1000000)
           |         // (count(*) OVER (PARTITION BY lang) - 1)
           |    ELSE 0 END AS BIGINT) AS cal_ppm
           |FROM q ORDER BY doc_id""".stripMargin),
    QuerySpec("docs_calibrate_apply", (s, dir) => {
      // the train/apply split: build the calibration CDF model on the
      // even-id half, rank the odd-id half against it — new data scored
      // against the TRAINED distribution, not its own (the model is the
      // build-once artifact; the apply is a broadcast join that runs
      // unchanged on a stream)
      val d = t(s, dir, "documents")
      val model = TextAnalysis.qualityCalibrationBuild(
        d.filter(col("doc_id") % 2 === 0), "text", "lang")
      TextAnalysis.calibrateQualityWith(
          d.filter(col("doc_id") % 2 === 1), model, "text", "lang")
        .orderBy(col("doc_id"))
    }, oracleSql =
        // same score construction; odd-id docs ranked against the even-id
        // half's distribution: below = strict-below count in the
        // reference, n = reference language total; unseen language → NULL
        s"""WITH f AS (SELECT doc_id, lang, $toks AS w FROM documents),
           |g AS (SELECT doc_id, lang, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id, lang,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g),
           |ref AS (SELECT * FROM q WHERE doc_id % 2 = 0),
           |nw AS (SELECT * FROM q WHERE doc_id % 2 = 1),
           |m AS (SELECT lang, count(*) AS n FROM ref GROUP BY lang),
           |b AS (SELECT nw.doc_id, count(r.doc_id) AS below FROM nw
           |      LEFT JOIN ref r ON r.lang = nw.lang AND r.quality_score < nw.quality_score
           |      GROUP BY nw.doc_id)
           |SELECT nw.doc_id, nw.lang, nw.quality_score,
           |  CAST(CASE WHEN m.n > 1 THEN (b.below * 1000000) // (m.n - 1)
           |            WHEN m.n IS NOT NULL THEN 0 END AS BIGINT) AS cal_ppm
           |FROM nw JOIN b ON b.doc_id = nw.doc_id LEFT JOIN m ON m.lang = nw.lang
           |ORDER BY nw.doc_id""".stripMargin),
    QuerySpec("events_session_paths", (s, dir) =>
      // top-25 within-session event-type sequences — collect is pinned
      // by an array_sort over (ts, event_id) structs, so the path string
      // is deterministic on any engine (Events.sessionPaths scaladoc)
      Events.sessionPaths(t(s, dir, "events")), oracleSql =
        // the events_sessions gap construction (proven by that oracle) +
        // order-pinned string_agg path + top-k census
        """WITH x AS (SELECT user_id, ts, event_id, event_type,
          |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          |       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
          |       THEN 1 ELSE 0 END AS new_s FROM events),
          |y AS (SELECT user_id, ts, event_id, event_type,
          |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM x),
          |p AS (SELECT user_id, sid,
          |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
          |FROM y GROUP BY user_id, sid)
          |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
          |ORDER BY n_sessions DESC, path LIMIT 25""".stripMargin),
    QuerySpec("docs_snapshot_diff", (s, dir) => {
      // incremental-rebuild diff between two corpus versions (old drops
      // doc_id≡3 mod 19; new drops ≡5 mod 23 and edits ≡2 mod 17) —
      // sides pruned to (id, fingerprint) BEFORE the full-outer join
      // (Analytics.snapshotDiff scaladoc)
      val docs = t(s, dir, "documents")
      val oldS = docs.filter(pmod(col("doc_id"), lit(19L)) =!= 3)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      val newS = docs.filter(pmod(col("doc_id"), lit(23L)) =!= 5)
        .select(col("doc_id"), TextAnalysis.fingerprint(
          when(pmod(col("doc_id"), lit(17L)) === 2,
            concat(col("text"), lit(" v2"))).otherwise(col("text"))).as("fp"))
      Analytics.snapshotDiff(oldS, newS, "doc_id", "fp")
        .orderBy(col("doc_id"))
    }, oracleSql = {
        // the text_fingerprint rolling-hash fold, applied to each
        // snapshot's (possibly edited) text
        def fold(x: String) =
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(range(1, length($x) + 1), i -> CAST(ascii(substr($x, i, 1)) AS BIGINT))),
             |  (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin
        s"""WITH oldv AS (SELECT doc_id, ${fold("text")} AS fp
           |  FROM documents WHERE doc_id % 19 <> 3),
           |newv AS (SELECT doc_id, ${fold("t2")} AS fp FROM (
           |  SELECT doc_id, CASE WHEN doc_id % 17 = 2 THEN text || ' v2' ELSE text END AS t2
           |  FROM documents WHERE doc_id % 23 <> 5)),
           |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.fp AS fpo, n.fp AS fpn
           |      FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
           |SELECT doc_id, CASE WHEN fpo IS NULL THEN 'added'
           |  WHEN fpn IS NULL THEN 'removed' ELSE 'changed' END AS status
           |FROM j WHERE fpo IS NULL OR fpn IS NULL OR fpo <> fpn
           |ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("orders_profile", (s, dir) =>
      // single-pass data-validation profile: per-column null/distinct/
      // numeric-range stats from ONE scan (Expand, plan-pinned)
      Analytics.profileTable(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
        .orderBy(col("col_name")), oracleSql = {
        // one UNION ALL block per column; numeric min/max as DOUBLE,
        // NULL for non-numerics (string/timestamp renderings are
        // engine-dependent; counts and cardinalities are not)
        val profCols = Seq(("o_orderkey", true), ("o_custkey", true),
          ("o_orderstatus", false), ("o_totalprice", true),
          ("o_orderdate", false), ("o_orderpriority", false))
        profCols.map { case (c, num) =>
          val mn = if (num) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          val mx = if (num) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS non_null,
             |count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
             |$mn AS min_num, $mx AS max_num FROM orders""".stripMargin
        }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")
      }),
    QuerySpec("docs_incremental_curation", (s, dir) => {
      // the incremental-rebuild pattern end-to-end: diff two corpus
      // versions on (id, fingerprint), then run curation (quality score +
      // keep cut) ONLY on the added/changed delta — the unchanged bulk of
      // a 100 TB corpus is never rescanned past the fingerprint project;
      // removed docs surface as retractions (null score, keep_flag 0)
      val docs = t(s, dir, "documents")
      val oldS = docs.filter(pmod(col("doc_id"), lit(19L)) =!= 3)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      val newDocs = docs.filter(pmod(col("doc_id"), lit(23L)) =!= 5)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(17L)) === 2,
            concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
      val newS = newDocs.select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val delta = Analytics.snapshotDiff(oldS, newS, "doc_id", "fp")
      val toCurate = newDocs.join(
        delta.filter(col("status") =!= "removed").select("doc_id"),
        Seq("doc_id"), "left_semi")
      val curated = TextAnalysis.qualityScore(toCurate, "text")
        .select(col("doc_id"), col("quality_score"))
      delta.join(curated, Seq("doc_id"), "left")
        .select(col("doc_id"), col("status"), col("quality_score"),
          (col("status") =!= "removed" && col("quality_score") >= 0.5)
            .cast("int").as("keep_flag"))
        .orderBy(col("doc_id"))
    }, oracleSql = {
        // the docs_snapshot_diff CTEs + the text_quality fold, applied
        // only to the added/changed delta (removed rows keep null score)
        def fold(x: String) =
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(range(1, length($x) + 1), i -> CAST(ascii(substr($x, i, 1)) AS BIGINT))),
             |  (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin
        s"""WITH oldv AS (SELECT doc_id, ${fold("text")} AS fp
           |  FROM documents WHERE doc_id % 19 <> 3),
           |newdocs AS (SELECT doc_id,
           |  CASE WHEN doc_id % 17 = 2 THEN text || ' v2' ELSE text END AS text
           |  FROM documents WHERE doc_id % 23 <> 5),
           |newv AS (SELECT doc_id, ${fold("text")} AS fp FROM newdocs),
           |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.fp AS fpo, n.fp AS fpn
           |      FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id),
           |delta AS (SELECT doc_id, CASE WHEN fpo IS NULL THEN 'added'
           |  WHEN fpn IS NULL THEN 'removed' ELSE 'changed' END AS status
           |  FROM j WHERE fpo IS NULL OR fpn IS NULL OR fpo <> fpn),
           |f AS (SELECT d.doc_id, $toks AS w
           |      FROM newdocs JOIN delta d ON newdocs.doc_id = d.doc_id
           |      WHERE d.status <> 'removed'),
           |q AS (SELECT doc_id, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |  FROM f),
           |sc AS (SELECT doc_id,
           |  round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |    + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |    + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score FROM q)
           |SELECT d.doc_id, d.status, sc.quality_score,
           |CAST(CASE WHEN d.status <> 'removed' AND sc.quality_score >= 0.5
           |     THEN 1 ELSE 0 END AS INT) AS keep_flag
           |FROM delta d LEFT JOIN sc ON d.doc_id = sc.doc_id
           |ORDER BY d.doc_id""".stripMargin
      }),
    QuerySpec("orders_zorder", (s, dir) => {
      // Z-order (Morton) file-clustering key over (custkey, order day) —
      // the multi-dim layout key that lets footer min/max stats prune on
      // EITHER dimension after range-partitioning by zkey; zbucket is the
      // coarse file assignment (Analytics.zorderKey scaladoc)
      val b = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey").bitwiseAND(lit(16383L)).as("x"),
        datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
          .cast("long").bitwiseAND(lit(16383L)).as("y"))
      b.withColumn("zkey", Analytics.zorderKey(col("x"), col("y")))
        .withColumn("zbucket", shiftright(col("zkey"), 18))
        .orderBy(col("o_orderkey"))
    }, oracleSql = {
        // 14-bit Morton interleave written as 28 explicit terms — no
        // correlated generate_series subquery, bit-identical to the
        // unrolled Spark expression
        val zterms = (0 until 14).map(i =>
          s"((x >> $i) & 1) * ${1L << (2 * i)} + ((y >> $i) & 1) * ${1L << (2 * i + 1)}")
          .mkString(" + ")
        s"""WITH b AS (SELECT o_orderkey,
           |  CAST(o_custkey AS BIGINT) & 16383 AS x,
           |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) & 16383 AS y
           |FROM orders)
           |SELECT o_orderkey, x, y, CAST($zterms AS BIGINT) AS zkey,
           |  CAST(($zterms) >> 18 AS BIGINT) AS zbucket
           |FROM b ORDER BY o_orderkey""".stripMargin
      }),
  )
}
