package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch analytics backbone (SURVEY.md §2 B1-B11).
  *
  * Every operator is a declarative plan builder: filters/projections sit
  * directly on the parquet scans (Catalyst pushes them down), dimension
  * tables are broadcast explicitly, and top-k goes through
  * TakeOrderedAndProject rather than a global sort.
  *
  * Oracle-parity rules (SURVEY.md §6): float aggregates rounded on both
  * sides, deterministic ORDER BY with tie-breaks, temporal outputs as DATE
  * or epoch-µs BIGINT (never raw ns timestamps).
  */
object Analytics {

  /** B1: TPC-H Q1-style pricing summary. One shuffle (partial aggs map-side). */
  def q1Pricing(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("count_order"))

  /** B2: shipping-priority top-k — 3-way join, broadcast customer, bounded top-k. */
  def q3Shipping(t: Tables): DataFrame = {
    val cutoff = lit("1998-03-15").cast("timestamp")
    val cust = t.customer.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = t.orders.filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = t.lineitem.filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord.join(broadcast(cust), ord("o_custkey") === cust("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** B3: local-supplier volume — 5-way star join. The orders fact side
    * shuffle-joins with lineitem (it is NOT broadcast: at scale it is
    * fact-sized); all true dims (customer/supplier/nation/region) are
    * broadcast, so the plan has exactly one fact-fact shuffle.
    */
  def q5Volume(t: Tables): DataFrame = {
    val li = t.lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val ord = t.orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer.select("c_custkey", "c_nationkey")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t.nation.select("n_nationkey", "n_name", "n_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.select("r_regionkey", "r_name")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** B4: running window aggregates per customer over order time. */
  def winRunning(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    t.orders
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("running_spend",
        round(sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .select(col("o_orderkey"), col("o_custkey"), col("rn"), col("running_spend"))
  }

  /** B5: exact distinct counts per group (Catalyst expand rewrite). */
  def aggDistinct(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  /** B6: rollup hierarchy totals (order status ⊃ priority). */
  def cubeRollup(t: Tables): DataFrame =
    t.orders
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).as("total"), count(lit(1)).as("n"))

  /** B6b: GROUPING SETS — arbitrary grouping combinations in one pass (the
    * generalization of rollup B6 that can skip levels or add disjoint
    * ones; here (status, priority), (priority), and the grand total — a
    * set rollup cannot express). Spark plans one Expand + one aggregate,
    * exactly like rollup; `grouping_id()` disambiguates a genuinely NULL
    * group value from a rolled-up level.
    */
  def groupingSets(t: Tables): DataFrame =
    t.orders
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")), Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("long").as("gid"),
        round(sum(col("o_totalprice")), 2).as("total"), count(lit(1)).as("n"))

  /** B7: EXISTS / NOT EXISTS via semi/anti joins (never a full join + distinct). */
  def semiAnti(t: Tables): DataFrame = {
    val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val withUrgent = t.customer.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit(1L).as("has_urgent"))
    val withoutUrgent = t.customer.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit(0L).as("has_urgent"))
    withUrgent.unionAll(withoutUrgent)
  }

  /** B8: top-N per group via rank window. */
  def topnGroup(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal").desc, col("c_custkey"))
    t.customer
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("c_mktsegment"), col("rk"), col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"))
  }

  /** B9: wide pivot by event_type via conditional aggregation (oracle-parity with FILTER). */
  def pivotEvents(t: Tables): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    val aggs = types.flatMap { ty =>
      Seq(
        count(when(col("event_type") === ty, 1)).as(s"n_$ty"),
        round(coalesce(sum(when(col("event_type") === ty, col("value"))), lit(0.0)), 2).as(s"v_$ty"))
    }
    t.events
      .groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Exact interpolated quantiles via BUCKETED rank selection — the
    * scalable alternative both to Spark's `percentile` aggregate (which
    * materializes a value→count hashmap per group) and to a naive
    * per-group window sort (whose parallelism is capped at the group
    * count — 3 groups = 3 tasks no matter how many executors).
    *
    * Shape: all requested value columns are unpivoted into (group,
    * metric, v) rows, so ONE pipeline serves every metric. Each row gets
    * a bucket from the high bits of the order-preserving sortable-bits
    * map of v (monotone in v with NO min/max pre-pass, so bucket-order
    * concatenation of per-bucket sorts IS the global sort order). Scan 1
    * counts rows per (group, metric, bucket) — a partial-agg-only pass
    * whose result is bounded by distinct buckets; a tiny window turns the
    * counts into cumulative offsets (broadcast). Scan 2 recomputes the
    * bucket and gets global rank = offset + row_number within (group,
    * metric, bucket). Before that second pass, the offsets table already
    * tells which buckets CONTAIN a target rank (off < rank ≤ off + count)
    * — so scan 2 keeps only those ~2 buckets per quantile via an inner
    * broadcast join, and the only sort in the whole plan runs over a few
    * bucket-sized slivers of data (the classic two-pass distributed
    * selection / histogram-select algorithm). The two bracketing ranks
    * per quantile then feed the final interpolation
    * `v_lo + frac·(v_hi − v_lo)` — identical to `quantile_cont`/Spark
    * `percentile` semantics.
    */
  def exactQuantiles(df: DataFrame, groupCol: String,
                     specs: Seq[(String, Seq[(String, Double)])],
                     bucketShift: Int = 44): DataFrame = {
    val stackArgs = specs.map { case (vc, _) => s"'$vc', $vc" }.mkString(", ")
    def stacked = df
      .select(col(groupCol).as("g"), expr(s"stack(${specs.size}, $stackArgs) AS (m, v)"))
      .filter(col("v").isNotNull)
      .withColumn("b", shiftright(expr("graft_sortable_bits(v)"), bucketShift))
    val bcounts = stacked.groupBy(col("g"), col("m"), col("b")).agg(count(lit(1)).as("bc"))
    val woff = Window.partitionBy(col("g"), col("m")).orderBy(col("b"))
    val offsets = bcounts
      .withColumn("off",
        coalesce(sum(col("bc")).over(woff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("bc")).over(Window.partitionBy(col("g"), col("m"))))
    def loOf(p: Double) = floor((col("n") - 1).cast("double") * p).cast("long") + 1
    def hiOf(p: Double) = least(loOf(p) + 1, col("n"))
    def inBucket(r: Column) = r > col("off") && r <= col("off") + col("bc")
    val targetBuckets = offsets.filter(
      specs.map { case (vc, probs) =>
        col("m") === vc && probs.map { case (_, p) =>
          inBucket(loOf(p)) || inBucket(hiOf(p))
        }.reduce(_ || _)
      }.reduce(_ || _))
    // null-safe on g: a NULL group key is a legitimate stratum (grouping
    // keeps it; a USING join would silently drop it here)
    val ranked = stacked
      .join(broadcast(targetBuckets.select(col("g").as("tg"), col("m").as("tm"),
          col("b").as("tb"), col("off"), col("n"))),
        col("g") <=> col("tg") && col("m") === col("tm") && col("b") === col("tb"))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("g"), col("m"), col("b")).orderBy(col("v")))
          .cast("long") + col("off"))
    val wanted = specs.flatMap { case (vc, probs) =>
      probs.map { case (_, p) => col("m") === vc && (col("rn") === loOf(p) || col("rn") === hiOf(p)) }
    }.reduce(_ || _)
    val aggs = specs.flatMap { case (vc, probs) =>
      probs.flatMap { case (name, p) =>
        val frac = (col("n") - 1).cast("double") * p - floor((col("n") - 1).cast("double") * p)
        Seq(
          max(when(col("m") === vc && col("rn") === loOf(p), col("v"))).as(s"${name}_lo"),
          max(when(col("m") === vc && col("rn") === hiOf(p), col("v"))).as(s"${name}_hi"),
          max(when(col("m") === vc && col("rn") === loOf(p), frac)).as(s"${name}_frac"))
      }
    }
    // roundHalfUp (floor(x*1e4+0.5)/1e4), NOT round(): Spark's round is
    // BigDecimal-exact while DuckDB's round on DOUBLE is a double
    // multiply — at ~4e11 magnitudes (funnel latencies) the two disagree
    // in the 4th decimal (caught live at sf1). The floor idiom is pure
    // double arithmetic, so both engines produce the identical bits; on
    // the small-magnitude/exact-grid quantiles every other consumer
    // feeds it agrees with round() exactly. Above |x| = 1e14 the value
    // passes through UNROUNDED: 4 dp is below one ulp there (nothing to
    // round), and Spark's floor returns a LONG, which would clamp a
    // ~1e299 quantile to Long.MaxValue/1e4 (the QuantilesPropertySpec
    // fuzz caught exactly that).
    val out = specs.flatMap(_._2).map { case (name, _) =>
      val v = col(s"${name}_lo") +
        col(s"${name}_frac") * (col(s"${name}_hi") - col(s"${name}_lo"))
      when(abs(v) < 1e14, graft.functions.roundHalfUp(v, 4)).otherwise(v).as(name)
    }
    ranked.filter(wanted)
      .groupBy(col("g").as(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .select((col(groupCol) +: out): _*)
  }

  /** B10: exact interpolated percentiles per group (≡ DuckDB `quantile_cont`). */
  def percentiles(t: Tables): DataFrame =
    exactQuantiles(t.lineitem, "l_returnflag",
      Seq(
        "l_extendedprice" -> Seq("p50_price" -> 0.5, "p90_price" -> 0.9),
        "l_quantity" -> Seq("p50_qty" -> 0.5)))

  /** B12: two-phase salted aggregation — the skew-mitigation pattern for
    * heavy-hitter keys at scale: partial sums over (key, salt) spread a hot
    * key across `salts` reducers, then a cheap final combine. Result is
    * identical to a direct groupBy (and oracle-checked against one).
    */
  def skewAgg(t: Tables, salts: Int = 16): DataFrame =
    t.events
      .withColumn("salt", pmod(col("event_id"), lit(salts.toLong)))
      .groupBy(col("event_type"), col("salt"))
      .agg(sum(col("value")).as("psum"), count(lit(1)).as("pn"))
      .groupBy(col("event_type"))
      .agg(round(sum(col("psum")), 2).as("total_value"), sum(col("pn")).as("n"))

  /** B13: approximate aggregates for interactive 100 TB profiling — HLL
    * distinct counts and quantile sketches (single pass, mergeable, no
    * exact-distinct expand). Rows-only driver check; accuracy bounds are
    * asserted against exact values in AnalyticsSpec.
    */
  def approxStats(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 1000)").as("pq"),
        count(lit(1)).as("n_rows"))
      // scalar columns only (the driver's rows-only compare can't hash arrays)
      .select(col("l_returnflag"), col("approx_orders"), col("approx_parts"),
        round(element_at(col("pq"), 1), 2).as("approx_p50_price"),
        round(element_at(col("pq"), 2), 2).as("approx_p90_price"),
        col("n_rows"))

  /** Morton (Z-order) interleave of the low `bits` bits of two integer
    * key columns — the multi-dimensional clustering key behind
    * Z-ordered data layout (Delta/Iceberg OPTIMIZE ZORDER lineage;
    * Morton 1966): sorting by zkey places rows close in BOTH key
    * dimensions into the same file, so parquet footer min/max stats
    * prune scans filtered on EITHER dimension — the layout-level
    * complement to partition pruning at 100 TB.
    *
    * Pure unrolled integer Column algebra (2·bits shift/mask/add terms,
    * static plan, codegen'd; no UDF, no HOF) — bit-exact on both
    * engines. Values above 2^bits alias into the low bits: clamp
    * `bits` to the real key domain when laying out production data.
    */
  def zorderKeyCol(a: Column, b: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, s"zorder bits must be in (0, 31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftright(a.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }
  }

  /** SQL text of the same interleave for the DuckDB oracle — generated
    * from the same loop so the two formulas can never drift.
    */
  def zorderKeySql(a: String, b: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($a >> $i) & 1) * ${1L << (2 * i)}) + ((($b >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString("(", " + ", ")")

  /** B19: Z-order layout evidence query — zkey over (l_partkey,
    * l_suppkey), then per-zbucket (zkey >> bucketShift) row counts and
    * min/max of BOTH dimensions. The narrow per-bucket spans in the
    * output are exactly the parquet footer stats a Z-ordered file
    * layout would expose to multi-dim predicate pruning; the aggregate
    * is map-side combinable with one bucket-cardinality shuffle.
    */
  def zorderLayout(t: Tables, bits: Int = 16, bucketShift: Int = 16): DataFrame =
    t.lineitem
      .select(col("l_partkey"), col("l_suppkey"),
        zorderKeyCol(col("l_partkey"), col("l_suppkey"), bits).as("zkey"))
      .groupBy(shiftright(col("zkey"), bucketShift).as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))

  /** B19 write path: materialize a relation Z-ordered on two integer
    * keys — range-partition by zkey (contiguous zkey runs per output
    * file), sort within partitions, write parquet. Each output file
    * then covers a narrow range in BOTH key dimensions, so parquet
    * footer min/max stats let predicates on EITHER dimension skip
    * whole files/row groups — the layout-level pruning complement to
    * partition pruning (ZorderSpec measures the per-file spans against
    * an unclustered baseline write).
    *
    * The range exchange samples zkey for balanced output files; the
    * sortWithinPartitions is the only sort and is file-local. At 100 TB
    * this is the one-off layout job whose cost every later scan repays.
    */
  def zorderWrite(df: DataFrame, a: String, b: String, bits: Int,
                  dir: String, nFiles: Int): Unit =
    df.withColumn("zkey", zorderKeyCol(col(a), col(b), bits))
      .repartitionByRange(nFiles, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .drop("zkey")
      .write.mode("overwrite").parquet(dir)

  /** B20: join-key skew profile — the per-key-count distribution in
    * integer decimal-digit buckets (digit count of cnt: exact on both
    * engines, no float log) with per-bucket key counts, row volume and
    * the heaviest key size. This is the diagnostic that sizes
    * `spark.sql.shuffle.partitions` and decides when a key needs the
    * B12 salting treatment BEFORE a 100 TB join runs: a fat top bucket
    * = a straggler task in any hash-partitioned plan.
    *
    * Two aggregations: per-key counts (map-side combinable, the same
    * shuffle shape the diagnosed join itself would pay) and the
    * ≤ 19-row digit rollup.
    */
  def skewProfile(t: Tables): DataFrame =
    t.events
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .groupBy(length(col("cnt").cast("string")).cast("long").as("digits"))
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"))

  /** B21: iterative graph analytics — PageRank over the customer↔supplier
    * trade graph (distinct (o_custkey, l_suppkey) pairs from orders⋈
    * lineitem, symmetrized so the bipartite graph has no rank sinks),
    * `iters` synchronous iterations, top-`k` nodes.
    *
    * ALL rank arithmetic is fixed-point INTEGER (ranks in units of
    * 1/SCALE; contribution = rank div degree; damping as (85·sum) div
    * 100): long sums are associative-commutative-EXACT, so the
    * distributed aggregation order — which Spark does not define — can
    * never change a result bit, and the DuckDB oracle unrolls the same
    * iterations with `//` arithmetic to an exact hash match. A
    * float-rank formulation would need a per-node ordered fold of
    * contributions (unbounded collect_list per high-degree node) to be
    * deterministic; integer units get exactness for free at any degree.
    *
    * Scale shape per iteration: ONE join of the node-sized rank relation
    * against the edge relation on src (ranks exchange hash(src); the
    * edge side's exchange is produced once and REUSED every iteration —
    * the loop body's plan is identical so AQE/stage reuse serves the
    * cached edges), then one map-side-combinable sum keyed by dst.
    * Degrees fold into the rank relation once up front. No driver-side
    * graph state: the driver holds only loop control; ranks stay a
    * DataFrame throughout (the C18 iterate-a-bounded-relation shape,
    * except here the relation is node-sized and stays distributed).
    */
  def graphPagerank(t: Tables, iters: Int = 5, k: Int = 20): DataFrame = {
    val scale = 1000000000000L // 1e12: rank units of 1/SCALE
    // node ids are LONGS inside the loop (customer c → 2c, supplier s →
    // 2s+1, disjoint and bijective with the "c123"/"s45" output labels):
    // every per-iteration exchange hashes/compares an 8-byte long instead
    // of a string — the guide's narrow-the-shuffle-key rule — and the
    // output boundary reconstructs the exact public label.
    val edgesCS = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2L).as("src"),
        (col("l_suppkey").cast("long") * 2L + 1L).as("dst"))
      .distinct()
    // cache the edges ALREADY hash-partitioned on the join key: the
    // cached InMemoryRelation reports hashpartitioning(src) (a
    // localCheckpoint would NOT — LogicalRDD surfaces
    // UnknownPartitioning, and the 2|E|-row edge side would re-exchange
    // every iteration), so each iteration's rank⋈edges join exchanges
    // only the node-sized rank relation. Measured at 60M lineitem rows
    // (100M directed edges): 195 → 169 s for the full warm+2-pass bench
    // — the remaining cost is the per-iteration contribution sum keyed
    // by dst, which IS PageRank's irreducible shuffle (map-side partial
    // sums bound it at edge cardinality).
    val edges = edgesCS.unionAll(edgesCS.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .persist()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val n = deg.select(count(lit(1)).as("n"))
    // localCheckpoint (the starComponents discipline) instead of
    // persist+count: it materializes eagerly AND truncates lineage, so
    // iteration i+1 plans against a flat LogicalRDD with measured-size
    // stats. The old persist chain kept the full join lineage in every
    // plan — each iteration referenced the previous ranks twice, so the
    // analyzed tree (and its join-size estimates) grew 2x per iteration:
    // by iteration 5 the optimizer was planning a 2^5-copy tree with
    // 1e28-byte stats, forcing SortMergeJoin and megabyte explain dumps
    // (plans/r17/graph_pagerank_before.txt: 24.8 MB, 271 nodes).
    var ranks = deg.crossJoin(broadcast(n))
      .select(col("src").as("node"), col("deg"), col("n"),
        expr(s"${scale}L div n").as("rank"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contrib = ranks.withColumn("contrib", expr("rank div deg"))
        .join(edges, col("node") === col("src"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("inflow"))
      ranks = ranks.drop("rank")
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"), col("deg"), col("n"),
          (expr(s"(${scale}L * 15 div 100) div n") +
            expr("(85 * coalesce(inflow, 0L)) div 100")).as("rank"))
        .localCheckpoint() // eager: materialize + flatten lineage per iteration
    }
    // every iteration is materialized (node-sized final ranks stay
    // resident for the caller); the corpus-pair-sized edge cache can go
    edges.unpersist(false)
    // output boundary: reconstruct the public "c<custkey>"/"s<suppkey>"
    // labels from the internal long ids; ordering is on the LABEL string,
    // exactly as the pre-rewrite operator ordered
    ranks
      .select(
        when(col("node") % 2L === 0L, concat(lit("c"), expr("node div 2")))
          .otherwise(concat(lit("s"), expr("(node - 1) div 2"))).as("node"),
        col("deg"), col("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(k)
  }

  /** B23: triangle counting over the co-purchase graph — parts are
    * linked when they appear in one order ("bought together"); the
    * triangle count is the classic clustering/community-density signal
    * on interaction graphs (a co-purchase graph with many triangles has
    * strong basket structure; near-zero means independent purchases).
    *
    * Scale design is the standard degree-ordered orientation (Cohen
    * 2009 / Suri-Vassilvitskii 2011): every undirected edge is directed
    * from the LOWER-(degree, id) endpoint to the higher, which turns
    * the wedge join into low-out-degree fan-outs — a high-degree hub
    * contributes wedges only through its (few) higher-ranked neighbors,
    * so no single key explodes the intermediate even on a skewed graph
    * (the n³ wedge blowup of the naive formulation becomes Σ C(d⁺, 2)
    * with d⁺ bounded by √m-ish under this orientation; measured at sf10:
    * 4.11B oriented wedges vs 14.78B naive, max d⁺ 97 vs max degree 222
    * — tools/bench_sf10_r13_9ops.json). Edge construction is bounded by
    * construction: pairs form WITHIN an order (self-join on o_orderkey,
    * dedup'd), so the pair stream is Σ(items-per-order choose 2) —
    * basket-size-quadratic, corpus-linear — not parts². The closure
    * never materializes the wedge stream as rows: out-adjacency
    * compresses into ≤d⁺-sized arrays (one edge-sized groupBy) and each
    * oriented edge closes via a codegen'd array_intersect — two hash
    * joins of edge-sized relations instead of a 34× wedge shuffle + semi
    * join (no cross product, plan-audited).
    */
  /** Skew gate for the basket-quadratic operators (B23/B29): pair
    * generation within an order is Σ C(basket, 2) — corpus-linear when
    * baskets are bounded, but ONE pathological 100k-item basket is 5e9
    * pairs in a single join task. The gate is a map-side-combinable
    * per-order count + max (order-cardinality, runs before any pair is
    * formed) over whatever relation the caller hands it — B23 passes the
    * RAW line relation (an upper bound on the distinct basket: no dedup
    * shuffle spent on a guard, and a duplicate-heavy pathological order
    * trips early, the conservative direction) — and fails with the
    * remedy named, the C42 precedent.
    */
  private def requireBasketBound(items: DataFrame, maxBasket: Int, op: String): Unit = {
    val worst = items.groupBy(col("ok")).agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L))).collect().head.getLong(0)
    require(worst <= maxBasket,
      s"$op: largest basket has $worst items > maxBasket=$maxBasket — per-basket pair " +
        "generation is quadratic; pre-cap baskets (e.g. keep the top-N items per order) " +
        "or raise maxBasket deliberately for a corpus known to be this dense")
  }

  /** Within-order co-purchase pair stream (a < b, per-order distinct) —
    * the shared edge/pair generator for B23/B29/B31/B34. Baskets collapse
    * to one sorted distinct-item array per order (collect_set partial-
    * aggregates map-side), and pairs assemble ARRAY-SIDE from the sorted
    * array (every element with each later element), so the whole
    * Σ C(basket, 2) stream needs ONE exchange (hash(ok)) — where the old
    * self-join-on-o_orderkey form paid the distinct's exchange PLUS the
    * join, and materialized Σ basket² join-probe work. Identical pair
    * set by construction: sort_array(collect_set) enumerates exactly the
    * distinct items, and (earlier, later) over a sorted array is exactly
    * the a < b canonical form.
    */
  /** Array-side (earlier, later) pair expansion over a sorted
    * distinct-item array column — the ONE definition [[basketPairs]]
    * and [[assocRules]] both explode, so the B23/B29/B31/B34 edge
    * stream and the B29 pair stream can never drift (review r17
    * ADVICE). 1-based SQL slice: element i pairs with i+2..size.
    */
  private def pairExpansionExpr(itemsCol: String): String =
    s"flatten(transform($itemsCol, (x, i) -> " +
      s"transform(slice($itemsCol, i + 2, size($itemsCol) - i - 1), y -> struct(x AS a, y AS b))))"

  private def basketPairs(li: DataFrame): DataFrame = {
    val arr = sort_array(collect_set(col("s")))
    li.groupBy(col("ok")).agg(arr.as("items"))
      .select(explode(expr(pairExpansionExpr("items"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
  }

  /** The (edges, degrees, oriented-edges) triple behind [[triangleCount]].
    * The sf10 oriented-wedge figure (Σ C(d⁺,2)) in its Scaladoc was
    * measured from this exact relation by a since-deleted probe.
    */
  private[graft] def coPurchaseOriented(t: Tables, maxBasket: Int = 4096): (DataFrame, DataFrame, DataFrame) = {
    val li = t.lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("s"))
    requireBasketBound(li.withColumnRenamed("s", "item"), maxBasket, "triangleCount")
    // undirected co-supply edges (a < b as canonical form), deduplicated.
    // localCheckpoint: every consumer reads the edge relation at least
    // twice (B23: degrees + orientation + census; B34: both union
    // directions), so materializing the distinct ONCE replaces repeated
    // basket-explode recomputes; blocks are GC-reclaimed with the result.
    val e = basketPairs(li).distinct().localCheckpoint()
    // total degree per node (graph is undirected)
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    (e, deg, orientEdges(e, deg))
  }

  /** Orient each edge from the lower (degree, id) endpoint to the higher —
    * the one definition shared by [[coPurchaseOriented]] and the
    * degree-materializing path in [[triangleCount]], so the two can
    * never drift.
    */
  private def orientEdges(e: DataFrame, deg: DataFrame): DataFrame = {
    val da = deg.select(col("n").as("a"), col("d").as("da"))
    val db = deg.select(col("n").as("b"), col("d").as("db"))
    e.join(da, Seq("a")).join(db, Seq("b"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))
  }

  def triangleCount(t: Tables, maxBasket: Int = 4096): DataFrame = {
    val (e, degLazy, _) = coPurchaseOriented(t, maxBasket)
    // degrees feed both orientation joins AND the node census: one
    // node-sized materialization instead of three aggregations over e
    val deg = degLazy.localCheckpoint()
    // the oriented relation feeds the adjacency build AND the closure
    // probe: materialize it once instead of re-running the two degree
    // joins per consumer
    val oriented = orientEdges(e, deg).localCheckpoint()
    // edge-iterator closure over COMPRESSED adjacency: a triangle under
    // the orientation is an edge (u, v) plus a common out-neighbor w, so
    // n_triangles = Σ over oriented edges of |N⁺(u) ∩ N⁺(v)|. The wedge
    // STREAM never materializes as rows — the r13 sf10 probe measured it
    // at 4.1B rows (tools/bench_sf10_r13_9ops.json) while the out-
    // adjacency is one edge-sized groupBy into ≤max_outdeg arrays
    // (measured 97), so the closure is two hash joins of edge-sized
    // relations with a codegen'd array_intersect per edge instead of a
    // 34×-larger wedge shuffle + semi join (446s → see bench artifact).
    // Each triangle counts exactly once: w is the orientation-maximum of
    // its triangle, seen from its unique generating edge (u, v).
    val adj = oriented.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))
    val closed = oriented
      .join(adj.select(col("src").as("ju"), col("nbrs").as("nu")), col("src") === col("ju"))
      .join(adj.select(col("src").as("jv"), col("nbrs").as("nv")), col("dst") === col("jv"))
      .select(size(array_intersect(col("nu"), col("nv"))).cast("long").as("c"))
    // census as literals: e and deg are already-materialized checkpoints,
    // so their cardinalities are shuffle-free RDD counts — the two
    // broadcast-subquery aggregation jobs the crossJoins planned are gone
    val (nEdges, nNodes) = (e.count(), deg.count())
    closed.agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
      .select(lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"), col("n_triangles"))
  }

  /** B29: market-basket association rules — support / confidence / lift
    * over order baskets (items = parts bought together in one order),
    * the classic recommendation/affinity miner. Emits both rule
    * directions A→B and B→A from each canonical co-purchase pair, with
    * exact integer support counts and the float ratios computed only at
    * the output boundary.
    *
    * Scale shape: the (order, item) relation is a map-side-combinable
    * distinct; pair generation self-joins WITHIN an order, so the
    * intermediate is Σ C(basket, 2) — basket-size-quadratic,
    * corpus-linear — never items². Pair counts collapse to pair
    * cardinality with map-side partial aggregation and the
    * `minPairSupport` filter thins the relation BEFORE the two
    * item-support joins (equi-joins keyed on item — AQE broadcasts them
    * when small; at catalog scale they stay shuffled hash joins at
    * item cardinality). The basket total rides as a broadcast scalar.
    * All ratio arithmetic is in one fixed literal order (double cast →
    * multiply → two divisions) so conf/lift are bit-identical
    * cross-engine before the shared 4 dp floor-rounding.
    */
  def assocRules(t: Tables, minPairSupport: Long = 2, k: Int = 50,
                 maxBasket: Int = 4096): DataFrame = {
    requireBasketBound(
      t.lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("item")),
      maxBasket, "assocRules")
    // one sorted distinct-item array per order, checkpointed: baskets
    // feed three consumers (pair counts, item supports, basket total) —
    // localCheckpoint materializes the collect_set aggregation once
    // instead of re-running the scan+exchange per consumer, and pair
    // generation is the shared array-side [[basketPairs]] shape (one
    // exchange, no self-join)
    val baskets = t.lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("s"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("s"))).as("items"))
      .localCheckpoint()
    val nb = baskets.agg(count(lit(1)).as("nb"))
    val supp = baskets.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("supp"))
    val pairs = baskets
      .select(explode(expr(pairExpansionExpr("items"))).as("p"))
      .groupBy(col("p.a").as("item"), col("p.b").as("item_b"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= minPairSupport)
    val rules = pairs
      .select(col("item").as("antecedent"), col("item_b").as("consequent"), col("supp_ab"))
      .unionByName(pairs.select(col("item_b").as("antecedent"),
        col("item").as("consequent"), col("supp_ab")))
    val joined = rules
      .join(supp.select(col("item").as("antecedent"), col("supp").as("supp_a")), Seq("antecedent"))
      .join(supp.select(col("item").as("consequent"), col("supp").as("supp_b")), Seq("consequent"))
      .crossJoin(broadcast(nb))
    joined.select(
        col("antecedent"), col("consequent"), col("supp_ab"), col("supp_a"), col("supp_b"),
        graft.functions.roundHalfUp(
          col("supp_ab").cast("double") / col("supp_a"), 4).as("conf"),
        graft.functions.roundHalfUp(
          col("supp_ab").cast("double") * col("nb") / col("supp_a") / col("supp_b"), 4).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(k)
  }

  /** B30: RFM segmentation — per-customer recency (days since last order,
    * relative to the corpus's latest order date), frequency (order
    * count) and monetary value (lifetime spend in exact integer cents),
    * each banded into quartiles 1–4 by exact interpolated quantile
    * cutoffs. The standard marketing-analytics customer segmentation,
    * built the scale-correct way: NO ntile/row_number over a global
    * sort anywhere.
    *
    * Scale shape: one pass over orders collapses to customer
    * cardinality (map-side combinable: max / count / integer-cent sum —
    * the cent cast makes the monetary total an exact long, immune to
    * float summation order). Quartile cutoffs come from
    * [[exactQuantiles]]'s two-pass bucketed rank selection over that
    * customer-sized relation under a constant group key, then ride back
    * as ONE broadcast row; band assignment is a zero-shuffle scan.
    * Integer metrics against quarter-grid cutoffs make every `<=`
    * boundary comparison engine-parity-safe.
    */
  def rfmSegments(t: Tables): DataFrame = {
    val mx = t.orders.agg(max(col("o_orderdate").cast("date")).as("mxd"))
    val m = t.orders
      .crossJoin(broadcast(mx))
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(
        // min over per-order deltas ≡ delta to the most recent order —
        // stays a plain map-side-combinable min
        min(datediff(col("mxd"), col("o_orderdate").cast("date"))).cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")).as("monetary_cents"))
    val cuts = Analytics.exactQuantiles(
      m.select(lit(1).as("g"),
          col("recency_days").cast("double").as("r"),
          col("frequency").cast("double").as("f"),
          col("monetary_cents").cast("double").as("mo")),
      "g",
      Seq(
        "r" -> Seq("r25" -> 0.25, "r50" -> 0.5, "r75" -> 0.75),
        "f" -> Seq("f25" -> 0.25, "f50" -> 0.5, "f75" -> 0.75),
        "mo" -> Seq("m25" -> 0.25, "m50" -> 0.5, "m75" -> 0.75)))
    def band(v: Column, c25: Column, c50: Column, c75: Column): Column =
      when(v <= c25, 1).when(v <= c50, 2).when(v <= c75, 3).otherwise(4)
    m.crossJoin(broadcast(cuts.drop("g")))
      .select(col("c_custkey"), col("recency_days"), col("frequency"), col("monetary_cents"),
        band(col("recency_days").cast("double"), col("r25"), col("r50"), col("r75")).as("r_band"),
        band(col("frequency").cast("double"), col("f25"), col("f50"), col("f75")).as("f_band"),
        band(col("monetary_cents").cast("double"), col("m25"), col("m50"), col("m75")).as("m_band"))
  }

  /** B31: connected components of the co-purchase graph — component =
    * min part id, sized and ranked. The structural complement of B21/B23:
    * PageRank scores nodes, triangles measure density, components answer
    * "how many disconnected markets does this graph actually have".
    *
    * Reuses C17's [[Dedup.starComponents]] kernel verbatim — alternating
    * large-star/small-star contraction (Kiveris et al., CC in MapReduce),
    * O(log²) rounds of hash-only groupBy/join with a one-job symmetric-
    * difference fixpoint test and the same loud non-convergence refusal;
    * sub-gate edge sets route to the driver union-find (asserted
    * interchangeable in DedupSpec). Edge construction shares B23's
    * basket-bounded within-order pair join ([[coPurchaseOriented]], same
    * maxBasket gate). The oracle unrolls min-label propagation a fixed
    * 20 rounds — the driver compare holds star contraction to the exact
    * fixpoint labeling, so the two independent algorithms must agree on
    * every component.
    */
  def graphCC(t: Tables, k: Int = 20, maxIter: Int = 20,
              maxBasket: Int = 4096): DataFrame = {
    val (e, _, _) = coPurchaseOriented(t, maxBasket)
    // preDeduped: the co-purchase edge set is distinct with a < b strict
    // (checkpointed in coPurchaseOriented)
    val (labels, iters) = Dedup.starComponents(
      e.select(col("a").as("id_a"), col("b").as("id_b")), maxIter,
      preDeduped = true)
    graft.IterationLog.record("graph_cc", iters)
    labels.groupBy(col("cluster").as("component"))
      .agg(count(lit(1)).cast("long").as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("component"))
      .limit(k)
  }

  /** B34: label-propagation community detection (Raghavan et al. 2007,
    * made deterministic) over the co-purchase graph — B31's components
    * answer "what is connected", LPA answers "what CLUSTERS inside a
    * component": a fixed number of synchronous rounds where each node
    * adopts its neighbors' most frequent label, ties broken by the
    * smallest label. Both the vote count and the tie rule are integers,
    * so every round is bit-reproducible under any partitioning and the
    * whole fixpoint is SQL-expressible — the oracle unrolls the same
    * rounds as generated MATERIALIZED CTEs (the B21/B31 precedent) and
    * must agree on every label.
    *
    * Scale shape per round (the B21 cost class): one node-sized label
    * relation joins the edge relation cached PRE-PARTITIONED on the join
    * key (only labels exchange per iteration), the (node, label) vote
    * count combines map-side, and the argmax is a min(struct) partial
    * aggregate — no window, no sort; census is a bounded take.
    */
  def graphLpa(t: Tables, iters: Int = 5, k: Int = 20,
               maxBasket: Int = 4096): DataFrame = {
    val (e, _, _) = coPurchaseOriented(t, maxBasket)
    val labels = lpaLabels(e.select(col("a"), col("b")), iters)
    val out = labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).cast("long").as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(k)
    out
  }

  /** The LPA kernel over an undirected edge list (a, b), a < b canonical:
    * labels start as node ids; each synchronous round every node takes
    * min(struct(−count, label)) over its neighbors' labels — most
    * frequent wins, smallest label breaks ties (the node's own label
    * does not vote, per the original formulation). Isolated nodes cannot
    * occur (every node comes from an edge).
    */
  private[graft] def lpaLabels(e: DataFrame, iters: Int,
                               materializeAll: Boolean = true): DataFrame = {
    // label rounds localCheckpoint (the starComponents discipline), not
    // persist+count: eager materialization PLUS lineage truncation, so
    // each round plans a flat LogicalRDD instead of the whole join chain
    // (the old label relation appeared in its successor's plan, growing
    // the analyzed tree and its size estimates every round — see the
    // graphPagerank comment; before-evidence plans/r17/graph_lpa_before.txt
    // is a 937 KB dump for 5 rounds). The EDGES stay a persist()ed
    // InMemoryRelation: the cache reports hashpartitioning(a) so each
    // round's labels⋈edges join exchanges only the node-sized label
    // relation — a checkpointed LogicalRDD would surface
    // UnknownPartitioning and re-exchange the 2|E| edge rows every round.
    val edgesRaw = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("a"))
    // materializeAll = false (plan-audit hook): edges stay LAZY — the
    // hook only explains the one-round plan, so a persist would leak an
    // un-unpersistable cache entry into the audit session (review r17
    // ADVICE); the round-shape check does not need the cache node
    val edges = if (materializeAll) edgesRaw.persist() else edgesRaw
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    for (i <- 1 to iters) {
      // NOTE (r18, measured rejection): fusing vote count + argmax into
      // one `mode() WITHIN GROUP (ORDER BY lbl)` aggregation is
      // bit-identical (most frequent, smallest label on ties — oracle
      // verified) and halves the exchanges per round, but benched ~20 %
      // SLOWER at sf1 (15.1→19.3 s warm) and a wash at sf0.1: mode's
      // ObjectHashAggregate pays a per-group OpenHashMap build, map
      // serialization across the exchange, and the 128-key sort-based
      // fallback — more than the second node-keyed exchange of
      // partially-combined counts costs. The two-aggregate codegen'd
      // HashAggregate round stays.
      val votes = labels.join(edges, col("node") === col("a"))
        .groupBy(col("b"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val next = votes
        .groupBy(col("b"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("w"))
        .select(col("b").as("node"), col("w").getField("l").as("lbl"))
      // the last audit-hook round stays lazy so the round shape is
      // inspectable; declared-query rounds all materialize
      labels = if (materializeAll || i < iters) next.localCheckpoint() else next
    }
    if (materializeAll) edges.unpersist(false)
    labels
  }

  /** B11: non-equi range join against a broadcast band table. */
  def rangeJoin(t: Tables): DataFrame = {
    val spark = t.part.sparkSession
    import spark.implicits._
    val bands = Seq((0.0, 905.0, "low"), (905.0, 912.0, "mid"), (912.0, 1e9, "high"))
      .toDF("lo", "hi", "band")
    t.part
      .join(broadcast(bands), col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_parts"), round(avg(col("p_retailprice")), 4).as("avg_price"))
  }
}
