package graft

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset,
  SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AnalyticsOps => An, CleanseOps => C,
  DedupOps => D, GraphOps => G,
  LayoutOps => L, MultimodalOps => M, QualityOps => Q, RelationalOps => R,
  SampleOps => Sam, SessionMemo, SketchOps => Sk, TextOps => T,
  TimeOps => Ti, VectorOps => Vec, VizPrep => V}
import graft.operators.SessionMemo.{Corpus, Round}
import graft.sources.{CatalogOps => Cat, Sources => Src}

/** Driver contract — one named query per operator in SURVEY.md §2, each with
  * a DuckDB-oracle ANSI-SQL twin in [[graft.oracle.OracleSql]].
  *
  * Oracle-hash safety conventions on the Spark side (SURVEY.md §7 risks;
  * the DuckDB half is on [[graft.oracle.OracleSql]]):
  *  - aggregate EXACTLY (decimal/int), cast to double only AFTER the
  *    aggregate → bit-identical doubles in Spark and DuckDB regardless of
  *    partial-aggregation order;
  *  - half-even rounding via Spark `bround` (pandas semantics);
  *  - no double→string casts; timestamps exported via date_format strings
  *    or integer fields.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Exact-sum helper: decimal-cast sum exported as double. */
  private def dsum(c: Column): Column = sum(c).cast("double")

  /** Spread a scan across all cores before per-row kernel work (hashing,
    * shingling, vector math) — but ONLY when the frame arrives with fewer
    * partitions than cores (a small parquet file is one split and would
    * serialize the map work on a single thread) AND its plan-stats size
    * (= file bytes for a scan) is at least `minBytes`. The partition
    * count is checked first, so a frame that already splits never reads
    * plan stats. At cluster scale the file splits already provide
    * parallelism and the guard makes this a no-op — an unconditional
    * repartition would be a full shuffle of the corpus for nothing.
    *
    * The byte gate is per kernel, not global: the rescue exchange only
    * pays when the kernel work (∝ scan bytes) exceeds the exchange +
    * AQE-barrier cost (~0.1–0.4 s measured). Heavy per-row kernels
    * spread at any size (gate 0, r17); the light per-doc ones wait for
    * [[SpreadMinBytes]] (r18). */
  private[graft] def spread(s: SparkSession, df: DataFrame,
                            minBytes: Long): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes >= minBytes)
      df.repartition(target)
    else df
  }

  /** The r18 byte gate of the light per-doc kernels: the documents
    * parquet is one ROW GROUP, so its scan is unsplittable below file
    * granularity and per-doc kernels run on a single task at any SF.
    * Gate at 4 MB: the sf0.1 corpus (0.6 MB, kernels ≤ 0.5 s
    * single-task) stays on the raw scan where the r18 A/B measured the
    * exchange as a pure loss, the sf1 probe (6 MB, kernels 1.5–4.4 s
    * single-task) spreads (measured −51% over the band, q60 −87%), and
    * at cluster scale multi-row-group files already split so the
    * partition guard makes it a no-op. */
  private val SpreadMinBytes = 4L * 1024 * 1024

  /** The embeddings corpus [[spread]] across cores (r17, guide §2.1):
    * every ANN/quantization path runs per-row vector kernels (nearest
    * centroid, PQ subspace argmins, LSH planes, per-pair cosine against
    * the broadcast query side) directly on this scan, and the corpus
    * arrives as ONE parquet split locally — the measured plans ran the
    * whole family's map work on a single task (q171's ADC stage: 1 task,
    * 1.1 s of a 1.5 s query). The repartition is ~|corpus| vector bytes
    * once per plan; spread's guard makes it a no-op at cluster scale
    * where file splits already provide parallelism. Query sides
    * (`vec_id < 20`) keep reading the raw scan — tiny by construction
    * and usually broadcast. */
  private def emb(s: SparkSession, dir: String): DataFrame =
    spread(s, t(s, dir, "embeddings"), 0L)

  /** The documents corpus [[spread]] across cores at any size, for the
    * heavy per-doc kernels (n-gram models, span dedup, phrase search). */
  private def spreadDocs(s: SparkSession, dir: String): DataFrame =
    spread(s, t(s, dir, "documents"), 0L)

  /** The documents corpus [[spread]] only above [[SpreadMinBytes]], for
    * the light per-doc kernels (token stats, shingle sets); q19 is the
    * first of them. */
  private def gatedSpreadDocs(s: SparkSession, dir: String): DataFrame =
    spread(s, t(s, dir, "documents"), SpreadMinBytes)

  // ------------------------------------------------- shared query fragments
  // Star-schema joins, exact derived terms and readouts that several
  // query bodies share. The joins apply through `Dataset.transform`; a
  // fragment whose DuckDB twin is one `sql*` value in OracleSql names it.

  /** `l_extendedprice` in exact integer cents. */
  private def priceCents: Column =
    expr("CAST(round(l_extendedprice * 100) AS BIGINT)")

  /** Exact e4 revenue of a line: price cents × (10000 − discount basis
    * points), the integer form of `l_extendedprice * (1 - l_discount)`. */
  private def revE4: Column =
    priceCents *
      (lit(10000L) - expr("CAST(round(l_discount * 10000) AS BIGINT)"))

  /** Event `value` in exact integer cents. */
  private def valueCents: Column =
    (col("value").cast("decimal(12,2)") * lit(100)).cast("long")

  /** A purchase's value in cents, 0 for other events (`cents`). */
  private def purchaseCents: Column =
    when(col("event_type") === "purchase" && col("value").isNotNull,
      valueCents).otherwise(lit(0L)).as("cents")

  /** Events with a value, for the per-event-type screens. */
  private def eventValues(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").filter(col("value").isNotNull)

  /** Per-user A/B readout input: events `(user_id, us, cols…)` split at
    * the midpoint of their µs range (`mid`) and grouped per user. The
    * Spark twin of `sqlAbCentsCtes` / `sqlAbEventCtes` (`ev`) and
    * `sqlAbMidCte` (`m`) in [[graft.oracle.OracleSql]]. */
  private def abPerUser(s: SparkSession, dir: String,
                        cols: Column*): RelationalGroupedDataset = {
    val ev = t(s, dir, "events").select(
      col("user_id") +: expr("unix_micros(ts)").as("us") +: cols: _*)
    val midDf = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    ev.crossJoin(broadcast(midDf)).groupBy(col("user_id"))
  }

  /** 1 when a user purchased after the A/B midpoint, else 0. */
  private def abPostPurchase: Column =
    max(when(col("us") >= col("mid") &&
      col("event_type") === "purchase", 1L).otherwise(0L))

  /** Events grouped per (event_type, `day`). */
  private def eventsPerDay(s: SparkSession, dir: String,
                           day: Column): RelationalGroupedDataset =
    t(s, dir, "events").groupBy(col("event_type"), day)

  /** An event's day since the epoch (`day`). */
  private def epochDay: Column =
    datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
      .cast("long").as("day")

  /** Whole days from order date to ship date. */
  private def shipLagDays: Column =
    expr("unix_micros(l_shipdate) div 86400000000") -
      expr("unix_micros(o_orderdate) div 86400000000")

  /** SCD2 state history of `ev`'s event types per user, versions
    * ordered by (ts, event_id): the Spark twin of `sqlScdLagCtes`. */
  private def scdHistory(ev: DataFrame): DataFrame =
    Ti.scd2(
      ev.select(col("user_id"), col("event_type"), col("ts"),
        col("event_id")),
      Seq("user_id"), col("event_type"), "ts",
      Seq(unix_micros(col("ts")), col("event_id")))

  /** Value counts `f` of `grouped`'s (g, v) cells, with each g's running
    * count `cum` in v order and its total `tot`: the Spark twin of
    * `sqlCumCountCte`. */
  private def cumCounts(grouped: RelationalGroupedDataset, g: String,
                        v: String): DataFrame =
    grouped.agg(count(lit(1)).as("f"))
      .withColumn("cum", sum(col("f")).over(Window
        .partitionBy(col(g)).orderBy(col(v))))
      .withColumn("tot", sum(col("f")).over(Window
        .partitionBy(col(g))))

  /** One-way ANOVA's Σ term over sources, folded in source order:
    * `sum_terms` of `sqlAnovaCtes`. */
  private def anovaSumTerms: Column =
    expr("aggregate(array_sort(collect_list(struct(source, term)))" +
      ", 0.0D, (acc, x) -> acc + x.term)").as("sum_terms")

  /** `agg`'s per-`g` success counts `succ` of `total` with their rate
    * (as `rate`) and its 95% Wilson band (`wilson_lo`, `wilson_hi`): the
    * Spark twin of `sqlWilsonCtes` + `sqlWilsonBounds`. */
  private def wilsonRates(agg: DataFrame, g: String, total: String,
                          succ: String, rate: String): DataFrame = {
    val (lo, hi) = An.wilsonBounds(col(succ), col(total), 1.96)
    agg.select(col(g), col(total), col(succ),
      (col(succ).cast("double") / col(total).cast("double")).as(rate),
      lo.as("wilson_lo"), hi.as("wilson_hi"))
  }

  /** Near-dup component label per document (`doc_id`, `label`). */
  private def nearDupDocLabels(s: SparkSession, dir: String): DataFrame =
    nearDupComponents(s, dir)
      .select(col("node").as("doc_id"), col("label"))

  /** Broadcast `nation(n_nationkey, n_name)`. */
  private def nationNames(s: SparkSession, dir: String): DataFrame =
    broadcast(t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name")))

  /** Each line's supplier nation (`s_nationkey`), broadcast. */
  private def joinSupplier(s: SparkSession, dir: String)
                          (df: DataFrame): DataFrame =
    df.join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
      col("l_suppkey") === col("s_suppkey"))

  /** [[joinSupplier]] plus the supplier nation's `n_name`. */
  private def joinSupplierNation(s: SparkSession, dir: String)
                                (df: DataFrame): DataFrame =
    joinSupplier(s, dir)(df)
      .join(nationNames(s, dir), col("s_nationkey") === col("n_nationkey"))

  /** Each order's customer nation (`c_nationkey`). */
  private def joinCustomer(s: SparkSession, dir: String)
                          (df: DataFrame): DataFrame =
    df.join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
      col("o_custkey") === col("c_custkey"))

  /** Each line's customer and supplier nations, through its order. */
  private def joinTradeNations(s: SparkSession, dir: String)
                              (df: DataFrame): DataFrame =
    df.join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
      col("l_orderkey") === col("o_orderkey"))
      .transform(joinCustomer(s, dir))
      .transform(joinSupplier(s, dir))

  /** Each order's customer market segment (`c_mktsegment`). */
  private def joinCustomerSegment(s: SparkSession, dir: String)
                                 (df: DataFrame): DataFrame =
    df.join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
      col("o_custkey") === col("c_custkey"))

  /** Each line's order date. */
  private def joinOrderDate(s: SparkSession, dir: String)
                           (df: DataFrame): DataFrame =
    df.join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate")),
      col("l_orderkey") === col("o_orderkey"))

  /** Each line's order date and priority. */
  private def joinOrderPriority(s: SparkSession, dir: String)
                               (df: DataFrame): DataFrame =
    df.join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")),
      col("l_orderkey") === col("o_orderkey"))

  /** Each line's part type, broadcast. */
  private def joinPartType(s: SparkSession, dir: String)
                          (df: DataFrame): DataFrame =
    df.join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_type"))),
      col("l_partkey") === col("p_partkey"))

  /** The lines whose part satisfies `p` (broadcast part keys). */
  private def joinPartsWhere(s: SparkSession, dir: String, p: Column)
                            (df: DataFrame): DataFrame =
    df.join(broadcast(t(s, dir, "part")
        .filter(p)
        .select(col("p_partkey"))),
      col("l_partkey") === col("p_partkey"))

  /** The full region row of each nation (`n_regionkey`), broadcast. */
  private def joinRegion(s: SparkSession, dir: String)
                        (df: DataFrame): DataFrame =
    df.join(broadcast(t(s, dir, "region")),
      col("n_regionkey") === col("r_regionkey"))

  /** Suppliers with their full nation and region rows. */
  private def supplierRegions(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .transform(joinRegion(s, dir))

  /** Customers with their full nation row. */
  private def customerNations(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))

  /** The suppliers of the nation named `nation`. */
  private def nationSuppliers(s: SparkSession, dir: String,
                              nation: String): DataFrame =
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === nation)
          .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))

  // ---------------------------------------------------------------- q01
  /** Flagship (SURVEY.md §7 minimum slice): scan→filter→join→derive→agg —
    * S-scan, F5, J1, C7, C5, A3 in one query. */
  private def q01(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(C.positive(col("l_quantity")))
    val o = t(s, dir, "orders")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(C.revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        dsum(C.money(col("l_quantity"))).as("sum_qty"))
      .withColumn("rate_per_100k",
        C.roundHalfEven(C.per100k(col("revenue"), col("sum_qty")), 2))
  }

  // ---------------------------------------------------------------- queries
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_rate_by_year" -> (q01(_, _)),

    // P1/P2 + C1: projection, rename, lower+trim normalization.
    "q02_project_rename" -> ((s, dir) =>
      t(s, dir, "nation").select(
        col("n_nationkey").as("nation_id"),
        col("n_name").as("nation_name"),
        C.normalizeName(col("n_name")).as("nation_name_norm"))),

    // F1/J2: broadcast anti-join exclusion (the "Aggregates" filter).
    "q03_anti_join_exclusion" -> ((s, dir) => {
      val excl = t(s, dir, "region")
        .filter(col("r_name").isin("ASIA", "AMERICA"))
        .select(col("r_regionkey"))
      R.antiJoinExclude(t(s, dir, "nation"), "n_regionkey", excl, "r_regionkey")
        .select(col("n_nationkey"), col("n_name"))
    }),

    // J2 at fact scale: anti join against a big side (no broadcast).
    "q04_customers_without_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 2001).select(col("o_custkey"))
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // F2/F3/F5/F7: validity-filter battery, pushdown-friendly.
    "q05_validity_filter" -> ((s, dir) =>
      t(s, dir, "part")
        .filter(C.validCode(col("p_brand"), 8))
        .filter(C.positive(col("p_retailprice")))
        .filter(col("p_size").isNotNull && col("p_size").between(1, 25))
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size"), col("p_retailprice"))),

    // C2/C3/C8/F4: JSON nested extraction + coercion-to-null + range filter.
    "q06_json_coerce" -> ((s, dir) => {
      val k = C.coerceLong(
        get_json_object(col("props"), "$.k")).as("k")
      t(s, dir, "events").select(col("event_type"), k)
        .filter(col("k").isNotNull && col("k") >= 0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    }),

    // A1: deterministic first-wins dedup by key subset.
    "q07_dedup_first" -> ((s, dir) =>
      R.dedupFirst(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), Seq(col("c_custkey")))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("c_custkey"), col("c_name"))),

    // J3/J4: broadcast lookup join with miss-fallback (coalesce).
    "q08_lookup_fallback" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val lookup = n
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("n_name").as("lk_key"), col("r_name").as("lk_val"))
      R.lookupWithFallback(n.select(col("n_nationkey"), col("n_name")),
        col("n_name"), lookup, "lk_key", "lk_val", "canonical")
    }),

    // J1+C7+C5: composite-key rate via single-scan conditional aggregation
    // (VERDICT r1 #4: the shipped/returned self-join paid a second lineitem
    // scan + shuffle + join; sum(when(returnflag='R')) computes both in one
    // pass — at 100 TB that halves IO and removes a fact-fact shuffle join).
    // Inner-join semantics kept: groups with no 'R' rows are dropped.
    "q09_composite_join_rate" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), year(col("l_shipdate")).as("ship_year"))
        .agg(
          dsum(C.money(col("l_quantity"))).as("shipped_qty"),
          dsum(when(col("l_returnflag") === "R", C.money(col("l_quantity"))))
            .as("returned_qty"))
        .filter(col("returned_qty").isNotNull)
        .withColumn("rate_per_100k",
          C.roundHalfEven(C.per100k(col("returned_qty"), col("shipped_qty")), 2))
    }),

    // §2.7 + C11: per-year accumulation (ref's page loop). VERDICT r1 #5:
    // the faithful one-scan-per-year unionAll paid 3× scan; the scale-right
    // plan is ONE scan + isin filter + derived year. unionAll itself stays
    // exercised by the fixture-based e2e golden (EtlGoldenSpec).
    "q10_union_by_year" -> ((s, dir) =>
      t(s, dir, "orders")
        .withColumn("order_year", year(col("o_orderdate")))
        .filter(col("order_year").isin(1995, 1996, 1997))
        .select(col("o_orderkey"), col("order_year"))),

    // J5: star-schema FK joins, broadcast dims, grouped revenue.
    "q11_star_join" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .transform(joinRegion(s, dir))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          dsum(C.revenue(col("l_extendedprice"), col("l_discount")))
            .as("revenue"))
    }),

    // A3: grouped average (exact sum / count → double).
    "q12_avg_by_group" -> ((s, dir) =>
      customerNations(s, dir)
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(C.money(col("c_acctbal"))).as("sum_acctbal"))
        .withColumn("avg_acctbal", col("sum_acctbal") / col("n_customers"))),

    // §2.5: lag window — chronological-order gap per customer.
    "q13_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"),
            col("prev_date").cast("date")).as("gap_days"))
    }),

    // §2.6: top-k (TakeOrderedAndProject), deterministic tie-break.
    "q14_topk_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(dsum(C.revenue(col("l_extendedprice"), col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_custkey"))
        .limit(10)),

    // V2: value-semantics bucketing (when-cascade) + grouped rollup.
    "q15_bucketize" -> ((s, dir) =>
      t(s, dir, "orders")
        .withColumn("bucket", V.bucketLabel(col("o_totalprice"),
          Seq(0L -> 50000L, 50000L -> 100000L, 100000L -> 200000L,
            200000L -> 400000L, 400000L -> 3000000L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(C.money(col("o_totalprice"))).as("total_price"))),

    // V1/V3 + C9/C10/C12: tooltip text + marker size viz prep.
    "q16_viz_prep" -> ((s, dir) =>
      customerNations(s, dir)
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(C.money(col("c_acctbal"))).as("total_bal"))
        .select(col("n_name"),
          V.tooltip(col("n_name"),
            "Customers" -> col("n_customers"),
            "Balance" -> floor(col("total_bal"))).as("tooltip"),
          V.markerSize(col("total_bal"), 5000.0).as("marker_size"))),

    // C4/C5: half-even rounding semantics (pandas .round parity).
    "q17_rounding" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("value"),
          C.roundHalfEven(col("value"), 1).as("value_r1"),
          C.roundHalfEven(col("value"), 0).as("value_r0"),
          // decimal round-trip, exported as double (decimal output columns
          // format differently across engines: '18.20' vs '18.2')
          col("value").cast("decimal(10,2)").cast("double").as("value_dec"))),

    // §2.9 stretch: batch tumbling time-window aggregate over events.
    "q18_time_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"),
          dsum(C.money(col("value"))).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH")
          .as("hour_start"), col("n"), col("sum_value"), col("n_users"))),

    // Behavioral analytics: cohort retention — each user joins the cohort
    // of its first event DAY (the corpus spans one month, so daily
    // cohorts; the operator takes any timestamp), distinct actives per
    // (cohort, day offset), fraction against day-0 size. All counting is
    // integer; the one double (retention) is a single final division.
    "q74_cohort_retention" -> ((s, dir) =>
      An.cohortRetention(t(s, dir, "events"), col("user_id"), col("ts"))),

    // Behavioral analytics: strict-sequence funnel signup → click →
    // purchase. Step k counts users whose earliest step-k event lands
    // strictly after their earliest qualifying step-(k-1) event — an
    // actor who purchased before signing up does NOT convert.
    "q75_funnel" -> ((s, dir) =>
      An.funnel(t(s, dir, "events"), col("user_id"), col("ts"), Seq(
        "signup" -> (col("event_type") === "signup"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase")))),

    // Robust outlier screen: median/MAD per event type with the 1.4826
    // consistency constant — the screening stat that outliers can't drag
    // toward themselves (a mean/stddev z-score can). Values quantize to
    // integer cents (the q127 convention) so both medians run over the
    // bounded value-histogram route — med/mad report in cents.
    "q76_robust_outliers" -> ((s, dir) =>
      An.robustOutliers(eventValues(s, dir), col("event_type"), valueCents)
        .select(col("grp").as("event_type"), col("med"), col("mad"),
          col("n_total"), col("n_outliers"), col("outlier_frac"))),

    // Exact per-group OLS trend: daily order volume slope per priority.
    // Sufficient statistics (n, Σx, Σy, Σxy, Σx²) accumulate as exact
    // int64 sums — associative, immune to partial-agg order, unlike a
    // float regr_slope accumulation — then ONE final double expression
    // per coefficient. x = epoch day, y = orders that day.
    "q77_group_trend" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          datediff(to_date(col("o_orderdate")),
            to_date(lit("1970-01-01"))).as("x"))
        .agg(count(lit(1)).as("y"))
      An.trend(daily, col("priority"), col("x"), col("y"))
        .select(col("grp").as("priority"), col("n").as("n_days"),
          col("slope"), col("intercept"))
    }),

    // SCD Type-2 history: each user's event-type stream collapsed into
    // versioned validity ranges [valid_from, valid_to) — consecutive
    // same-state rows merge, the open version carries is_current. One
    // exchange, two windows on the same partition spec. Subset of users
    // keeps the dump bounded; the filter is on the partition key, so it
    // prunes BEFORE the shuffle.
    "q78_scd2_history" -> ((s, dir) =>
      scdHistory(
          t(s, dir, "events").filter(pmod(col("user_id"), lit(10)) === 0))
        .select(col("user_id"), col("state"), col("valid_from_us"),
          col("valid_to_us"), col("is_current"))),

    // Distribution drift: per event type, total-variation distance (and
    // worst-bin L∞) between the first and second half of the month over
    // a fixed 10-bin value histogram. Per-bin terms are EXACT integers
    // over the common denominator n_A·n_B (decimal products — a float
    // Σ|p−q| would hash-differ by summation order); one final double
    // division each.
    "q79_drift_tvd" -> ((s, dir) =>
      An.driftTvd(t(s, dir, "events"), col("event_type"),
          unix_micros(col("ts")) >= lit(1705363200000000L), // 2024-01-16
          col("value"), lo = 0.0, binWidth = 50.0, nBins = 10)
        .select(col("grp").as("event_type"), col("na"), col("nb"),
          col("n_bins"), col("tvd"), col("linf"))),

    // Entity resolution: dirty-lookup of corrupted part names (3rd char
    // deleted from every 7th part) against the clean catalog — blocked
    // on the 2-char prefix (equi-join, never a cartesian), bounded
    // levenshtein ≤ 2, deterministic best match by (distance, key).
    // The catalog pre-reduces to one canonical (min) id per distinct
    // name — provably output-identical under the (dist, id) tiebreak
    // (the winning id IS the min id of the winning name), and it keeps
    // the candidate fan-out at name-domain size instead of row count.
    "q80_fuzzy_match" -> ((s, dir) => {
      val probes = t(s, dir, "part")
        .filter(pmod(col("p_partkey"), lit(7)) === 3)
        .select(col("p_partkey").as("probe_id"),
          concat(substring(col("p_name"), 1, 2),
            expr("substring(p_name, 4)")).as("probe_name"))
      val catalog = t(s, dir, "part")
        .groupBy(col("p_name").as("match_name"))
        .agg(min(col("p_partkey")).as("match_id"))
      R.dedupFirst(
        D.fuzzyCandidates(probes, col("probe_name"),
          catalog, col("match_name"), prefixLen = 2, maxDist = 2),
        Seq("probe_id"), Seq(col("edit_dist"), col("match_id")))
        .select(col("probe_id"), col("probe_name"), col("match_id"),
          col("match_name"), col("edit_dist"))
    }),

    // One-pass column profile of orders — the ingest-time data-quality
    // census: row/null/distinct counts and numeric min/max per column,
    // from ONE scan + one bounded shuffle (stack unpivot, not N scans).
    "q82_profile" -> ((s, dir) =>
      An.profile(t(s, dir, "orders"), Seq("o_orderkey", "o_custkey",
        "o_orderstatus", "o_totalprice", "o_orderpriority"))),

    // Exact CUSUM changepoint series: per event type, the running
    // deviation of daily volume from the period mean. The numerator
    // stays an exact int64 on the common denominator n (a float running
    // sum would be engine-dependent: DuckDB's windowed SUM adds in
    // segment-tree order, not scan order).
    "q83_cusum" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
      An.cusum(daily, col("event_type"), col("day"), col("y"))
        .select(col("grp").as("event_type"),
          date_format(col("x"), "yyyy-MM-dd").as("day"), col("y"),
          col("cusum"))
    }),

    // Triangle census of the near-dup graph (pairs from the session
    // sweep — the q25/q35/q61/q66 build, fifth consumer, zero rebuild):
    // clustering coefficient near 1 ⇒ dup families are closed cliques
    // that transitive clustering collapses cleanly; near 0 ⇒ chainy
    // borderline similarity that would over-merge. Degree-ordered
    // enumeration (one out-vertex per triangle, O(√E) out-degree).
    "q84_triangles" -> ((s, dir) =>
      G.triangleStats(wordNearDupPairs(s, dir), "id_a", "id_b")),

    // Collocation mining: top-20 adjacent bigrams by LIFT = c_xy·N /
    // (c_x·c_y) — PMI's argument without the libm-dependent ln (the
    // ranking is identical: log is monotone). One exact-integer-input
    // division; ties broken by the pair itself.
    "q87_collocations" -> ((s, dir) =>
      T.collocationLift(spreadDocs(s, dir), col("text"), minCount = 5, k = 20)),

    // Rolling engagement: DAU / trailing-7-day WAU / stickiness per day.
    // Sliding distinct counting explodes each (user, day) activity to
    // the 7 days it keeps the user active in (map-side, from the DEDUPED
    // activity table) — a collect_set window would hold the whole active
    // set in state per row, and count(DISTINCT) over windows doesn't
    // exist. Trailing edge days (windows still open) are dropped.
    "q90_rolling_actives" -> ((s, dir) =>
      An.rollingActives(t(s, dir, "events"), col("user_id"), col("ts"),
        windowDays = 7)),

    // Materialized-rollup serving (VERDICT r6 #3): refresh a
    // (returnflag, linestatus, ship_year) rollup of lineitem, then serve
    // a coarser GROUP BY returnflag dashboard aggregation FROM THE
    // ROLLUP — summing decomposable partial sums/counts, never touching
    // the fact table on the read path. The oracle aggregates the fact
    // table directly, so the green row IS the rollup contract:
    // rollup-served == fact-served, exactly (decimal partials, double
    // cast only at the boundary). At 100 TB the refresh cost amortizes
    // across every dashboard query; the serve scans dims-cardinality
    // rows.
    "q91_rollup_serve" -> ((s, dir) => {
      val db = RollupDb
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      Cat.createRollup(s,
        t(s, dir, "lineitem").withColumn("ship_year",
          year(col("l_shipdate"))),
        db, "lineitem_by_flag_status_year",
        Seq("l_returnflag", "l_linestatus", "ship_year"),
        Map("qty" -> col("l_quantity"), "price" -> col("l_extendedprice")))
      Cat.fromRollup(s, db, "lineitem_by_flag_status_year",
          Seq("l_returnflag"), Seq("price", "qty"))
        .select(col("l_returnflag"),
          col("sum_price").cast("double").as("sum_price"),
          col("sum_qty").cast("double").as("sum_qty"), col("n_rows"))
    }),

    // Markov transition matrix over per-user event sequences — the
    // session-flow / Sankey feed. Order totalized by (ts, event_id);
    // P(next | state) = pair count / from-state out-degree, one exact
    // division.
    "q92_transitions" -> ((s, dir) =>
      An.transitionMatrix(t(s, dir, "events"), col("user_id"), col("ts"),
        col("event_type"), col("event_id"))),

    // Audience overlap: distinct-user Jaccard between event-type
    // segments — every unordered pair once, intersection via the
    // actor-keyed membership self-join, union derived as
    // |A|+|B|-|A∩B| (no union pass).
    "q93_audience_overlap" -> ((s, dir) =>
      An.audienceOverlap(t(s, dir, "events"), col("user_id"),
          col("event_type"))
        .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
          col("n_both"), col("jaccard"))),

    // Equal-frequency binning: per-event-type value quartiles (ntile
    // over the (value, event_id)-totalized order) with the per-bin
    // census — the feature-engineering discretizer.
    "q94_quantile_bins" -> ((s, dir) =>
      An.quantileBins(t(s, dir, "events"), col("event_type"),
          col("value"), col("event_id"), nBins = 4)
        .select(col("grp").as("event_type"), col("bin"), col("n"),
          col("lo"), col("hi"))),

    // Day-of-week seasonal deviation: each (type, day) count against
    // the type's same-weekday baseline — exact int64 numerator over
    // the common denominator, one final division.
    "q95_seasonality" -> ((s, dir) =>
      An.seasonalDeviation(t(s, dir, "events"), col("ts"),
          col("event_type"))
        .select(col("grp").as("event_type"), col("day"), col("dow"),
          col("cnt"), col("dow_total"), col("n_dowdays"),
          col("dow_ratio"))),

    // Digest-guided snapshot reconciliation (the scale path q58's full
    // diff doesn't have): 64-bucket Merkle-style digests of both
    // snapshots (one combinable shuffle each, O(buckets) exchanged),
    // then added/removed/changed counts ONLY inside digest-mismatched
    // buckets — both row scans semi-joined down to the divergence.
    // Snapshot B mutates documents exactly like q58: %13 removed,
    // %7 changed, %11 re-added under new negative ids.
    "q97_snapshot_reconcile" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val a = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      val b = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
        .select(col("doc_id"),
          md5(when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
            .as("fp"))
        .union(docs.filter(pmod(col("doc_id"), lit(11)) === 0)
          .select((-(col("doc_id") + 1)).as("doc_id"),
            md5(col("text")).as("fp")))
      R.reconcileSnapshots(a, b, col("doc_id"), col("fp"), buckets = 64)
    }),

    // Token-weighted median document length per language: the length of
    // the doc containing the median TOKEN (a doc-uniform median
    // over-represents short docs — same inversion q67's token-weighted
    // sampling corrects). Integer cumulative-weight pick, no division.
    "q98_weighted_median" -> ((s, dir) =>
      An.weightedMedian(
        t(s, dir, "documents")
          .select(col("lang"), col("n_chars"), col("doc_id"),
            size(T.tokens(col("text"))).as("n_tokens")),
        col("lang"), col("n_chars"), col("n_tokens"), col("doc_id"))
        .select(col("grp").as("lang"), col("weighted_median"),
          col("total_weight"))),

    // Last-activity churn census: actors bucketed by days since last
    // seen relative to the CORPUS max day (reproducible, backfill-safe)
    // — active [0,1), cooling [1,2), churned [2,∞). (Day-scale edges:
    // the synthetic actors are hyper-active, so week-scale edges
    // degenerate to one bucket; a production caller passes [7, 14].)
    "q99_churn_census" -> ((s, dir) =>
      An.churnCensus(t(s, dir, "events"), col("user_id"), col("ts"),
        edges = Seq(1, 2))),

    // BM25 ranked retrieval: top-10 docs for three term queries. Rational
    // idf (no libm ln), fixed-point integer contributions so the per-doc
    // sum is order-free and bit-identical in the oracle. The exploded
    // token stream is broadcast-pruned to query terms before any shuffle.
    "q100_bm25" -> ((s, dir) => {
      import s.implicits._
      // tf/dl/df all fold from the session artifact; only the corpus
      // doc COUNT still reads documents (null-text docs are invisible
      // to the tf relation but count toward N in the idf).
      T.bm25TopKFromTf(
        docTerms(s, dir).select(col("doc_id"), col("term"), col("tf"),
          col("dl")),
        "doc_id",
        t(s, dir, "documents").agg(count(lit(1)).as("__n")),
        Bm25Queries.toDF("query_id", "term"), k = 10)
    }),

    // L80: data-quality audit — the dbt-test/Great-Expectations contract
    // as Spark plans: referential integrity (anti-joins), key uniqueness,
    // null screens, and row-level expectations, folded into ONE
    // (check, n_violations) report. Structural checks pass on this
    // corpus (0 rows); the business expectations genuinely trip.
    "q101_quality_audit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer"); val ev = t(s, dir, "events")
      val docs = t(s, dir, "documents")
      Q.auditReport(Seq(
        "fk_lineitem_orders" -> Q.fkOrphans(li, col("l_orderkey"),
          ord, col("o_orderkey")),
        "fk_orders_customer" -> Q.fkOrphans(ord, col("o_custkey"),
          cust, col("c_custkey")),
        "pk_documents_doc_id" -> Q.dupKeys(docs, Seq("doc_id")),
        "null_events_value" -> Q.nullRows(ev, col("value")),
        "expect_value_le_400" -> Q.expectViolations(ev,
          col("value") <= 400.0),
        "expect_doc_len_ge_100" -> Q.expectViolations(docs,
          col("n_chars") >= 100L),
        "expect_nchars_consistent" -> Q.expectViolations(docs,
          col("n_chars") === length(col("text")).cast("long")),
        "expect_quantity_range" -> Q.expectViolations(li,
          col("l_quantity") >= 1 && col("l_quantity") <= 50)))
    }),

    // L81: leakage-safe split — train/val/test assignment hashed on the
    // near-dup CLUSTER canonical (q61's components), so no cluster
    // straddles a split boundary. n_groups counts distinct canonicals
    // per split: the leakage audit is n_docs vs n_groups, and a cluster
    // appearing under two splits would be visible as a canonical counted
    // twice (definitionally impossible here — the split is a pure
    // function of the canonical).
    "q102_leakage_split" -> ((s, dir) => {
      val comp = nearDupComponents(s, dir)
      Sam.leakageSplit(t(s, dir, "documents"), col("doc_id"), comp,
          "node", "label", salt = "q102split")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("split_group")).as("n_groups"),
          min(col("doc_id")).as("min_doc_id"))
    }),

    // L82: Mann-Whitney rank-sum — click vs purchase order values. One
    // global sort of the two bounded samples; integer-scaled ranks keep
    // the z assembly IEEE-exact for the oracle hash.
    "q103_ranksum" -> ((s, dir) =>
      An.rankSumTest(t(s, dir, "events"), col("event_type"),
        col("value"), "click", "purchase")),

    // L83: date-spine gap fill on a sparse slice (high-value events miss
    // days at every SF): calendar from each type's [first, last] day,
    // zeros for silent days, last-observed carried forward.
    "q104_gapfill" -> ((s, dir) =>
      Ti.gapFill(
          t(s, dir, "events").filter(col("value") > 300.0),
          col("event_type"), to_date(col("ts")), lit(1L))
        .select(col("__g").as("event_type"),
          date_format(col("__day"), "yyyy-MM-dd").as("day"),
          col("n"), col("is_observed"), col("carried"))),

    // L84: EWMA smoothing (α=1/2, lookback-40) over the gap-filled daily
    // series — the control-chart companion to q83's CUSUM: halving-fold
    // EWMA is exact, so the smoothed series oracle-hashes.
    "q105_ewma" -> ((s, dir) =>
      Ti.ewmaSmooth(
          Ti.gapFill(
            t(s, dir, "events").filter(col("value") > 300.0),
            col("event_type"), to_date(col("ts")), lit(1L)),
          col("__g"), col("__day"), col("n"))
        .select(col("__g").as("event_type"),
          date_format(col("__day"), "yyyy-MM-dd").as("day"),
          col("n"), col("ewma"))),

    // L85: golden-record survivorship — each near-dup cluster keeps its
    // LONGEST member (quality = n_chars), not its min-id; kept_longer
    // flags clusters where the rule beat the arbitrary canonical.
    "q106_survivorship" -> ((s, dir) =>
      D.survivorship(t(s, dir, "documents"), col("doc_id"),
        col("n_chars"), nearDupComponents(s, dir), "node", "label")),

    // L86: per-domain quality calibration — keep each source's top 20% by
    // length (percent_rank >= 0.8 within the source), so one quality bar
    // adapts to every domain's own distribution instead of a global
    // threshold silently flattening a long-doc domain.
    "q107_quality_calibration" -> ((s, dir) =>
      Sam.percentileFilter(t(s, dir, "documents"), col("source"),
          col("n_chars"), 0.8)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("n_chars")).as("threshold_chars"),
          min(col("doc_id")).as("min_doc_id"))),

    // L87: exact Pearson correlation (value-cents vs hour-of-day per
    // event type) — integer sufficient statistics, decimal cross terms,
    // engine-exact; the built-in float `corr` is partial-agg-order
    // nondeterministic and could not hash-verify.
    "q108_correlation" -> ((s, dir) =>
      An.correlation(
        t(s, dir, "events").filter(col("value").isNotNull),
        col("event_type"), hour(col("ts")),
        valueCents)),

    // L92: PageRank over the co-purchase graph (parts sharing an order)
    // — scaled-integer arithmetic (rank in 10⁻⁹ units, floor-div mass
    // transfer) so 3 damped iterations are exact, order-independent, and
    // hash-identical to the oracle's unrolled CTE chain. Top 20 hubs.
    "q109_pagerank" -> ((s, dir) =>
      // The 3 rank iterations ride the session ADJACENCY artifact (r18):
      // per round the broadcast rank table is probed once per NODE and
      // the out-cells fan out map-side (GraphSpec pins the values
      // against a driver-side reference), with per-edge work cut to
      // emit + combinable sum. Degrees and |V| come off the artifacts.
      G.pageRankAdjPrepared(symAdjFrame(s, dir),
          degreeTable(s, dir).select(col("node"), col("deg").as("outdeg")),
          coPurchaseNodeCount(s, dir), iters = 3, scale = 1000000000L)
        .orderBy(col("rank").desc, col("node").asc).limit(20)
        .select(col("node").as("part"), col("rank"),
          col("outdeg").as("degree"))),

    // L93: sorted-neighborhood blocking — per-lang sort by (n_chars, id),
    // pair each doc with its next 2 sort neighbors map-side (lead, no
    // self-join), verify on the length gap. The merge/purge candidate
    // generator that catches pairs an exact blocking key would split.
    "q110_sorted_neighborhood" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lens = docs.select(col("doc_id").as("__d"),
        col("n_chars").as("__len"))
      D.sortedNeighborhood(docs, col("lang"), col("doc_id"),
          Seq(col("n_chars")), window = 2)
        .join(lens.select(col("__d").as("id_a"), col("__len").as("len_a")),
          "id_a")
        .join(lens.select(col("__d").as("id_b"), col("__len").as("len_b")),
          "id_b")
        .filter(abs(col("len_a") - col("len_b")) <= 2)
        .select(col("block").as("lang"), col("id_a"), col("id_b"),
          col("gap"), col("len_a"), col("len_b"))
    }),

    // L94: association rules on order baskets — co-purchased part pairs
    // seen in ≥ 3 orders expand to directed rules with support /
    // confidence / lift (exact-int numerators, one division each).
    "q111_assoc_rules" -> ((s, dir) => {
      // Pair counts come off the maintained co-purchase artifact (the
      // canonical half of the bucketed table IS the co-basket count
      // table) — the per-query (order, part) self-join is gone; only
      // the basket-membership marginals still read lineitem.
      // r17: the membership relation is the session artifact the
      // co-purchase build itself consumes ([[basketMembership]]) — no
      // per-query distinct + persist.
      val m = basketMembership(s, dir)
      val n = m.select(col("__b")).distinct()
        .agg(count(lit(1)).as("__n"))
      val ic = m.groupBy(col("__i")).agg(count(lit(1)).as("__ci"))
      val pairs = coPurchaseSymFrame(s, dir)
        .filter(col("node") < col("peer") && col("w") >= 3L)
        .select(col("node").as("__a"), col("peer").as("__c"),
          col("w").as("__cab"))
      An.rulesFromCooccurrence(pairs, n, ic)
    }),

    // L96: containment near-dup — asymmetric |A∩B|/min(|A|,|B|) over
    // word-3-shingle hash sets catches a small doc embedded in a larger
    // one (J → 0 but c → 1); candidates from a WIDER banding (6×2) than
    // the Jaccard pass, verify exact on sorted hashed sets, output
    // oriented (contained, container).
    "q113_containment" -> ((s, dir) =>
      D.containmentPairs(
        spreadDocs(s, dir).select(col("doc_id"), col("text")),
        "doc_id", D.wordKernels(col("text"), 3), 0.6)),

    // L97: Kaplan-Meier survival over user lifetimes at HOUR granularity
    // (first→last active hour; last seen within 24h of the horizon =
    // censored) — the corpus spans one month with near-universal daily
    // activity, so hours are where churn is visible. Survival folds
    // left-to-right over exact-int division factors so it hash-verifies.
    "q114_kaplan_meier" -> ((s, dir) =>
      An.kaplanMeier(t(s, dir, "events"), col("user_id"),
        floor(unix_micros(col("ts")) / lit(3600000000L)),
        censorTicks = 24)),

    // L98: two-sample KS D per event type — first vs second half of the
    // month (the drift question q79 answers with binned TVD, here exact
    // over the full empirical CDFs). D carried as an integer numerator;
    // one final division.
    "q115_ks_test" -> ((s, dir) =>
      An.ksTest(
        t(s, dir, "events").withColumn("__half",
          when(dayofmonth(col("ts")) < 16, "h1").otherwise("h2")),
        col("event_type"), col("__half"),
        (col("value").cast("decimal(12,2)") * 100).cast("long"),
        "h1", "h2")),

    // L99: k-anonymity violations over customer quasi-identifiers
    // (segment × nation × coarsened balance — the classic generalized
    // numeric QI): equivalence classes smaller than k=8 — the privacy
    // census the PII scrub (q42) cannot see.
    "q116_k_anonymity" -> ((s, dir) =>
      Q.kAnonymityViolations(t(s, dir, "customer"),
        Seq(col("c_mktsegment"), col("c_nationkey"),
          floor(col("c_acctbal") / 1000).as("bal_bucket")), k = 8)),

    // L100: last-touch attribution — purchases credited to the same
    // user's latest click/view within 24h, else unattributed; one
    // actor-sorted merge-scan, no conversion×touch self-join.
    "q117_attribution" -> ((s, dir) =>
      An.lastTouchAttribution(t(s, dir, "events"), col("user_id"),
        col("ts"), col("event_id"),
        when(col("event_type").isin("click", "view"), col("event_type")),
        col("event_type") === "purchase", col("value"),
        lookbackMicros = 86400000000L)),

    // L101: trigram LM table over documents — context "w1 w2" → top-3
    // next tokens with exact conditional probabilities, contexts seen
    // ≥5 times. Pairs expand map-side; counts shuffle once.
    "q118_ngram_lm" -> ((s, dir) =>
      T.ngramNextTokens(spreadDocs(s, dir), col("text"),
        n = 3, minContext = 5L, k = 3)),

    // L102: BPE tokenizer training — the first 6 merge rules learned
    // from the corpus (count-weighted argmax pair per round, greedy
    // within-word application). One corpus shuffle for word counts;
    // every round runs on the 31-type vocabulary table.
    "q119_bpe_merges" -> ((s, dir) =>
      T.bpeMerges(t(s, dir, "documents"), col("text"), rounds = 6)),

    // L103: referential-integrity-preserving pseudonymization — customer
    // and orders tokenized INDEPENDENTLY with the same salt; the join on
    // tokens must reproduce the cleartext join exactly (per-segment order
    // counts prove it against the cleartext oracle).
    "q120_pseudonymize" -> ((s, dir) => {
      val salt = "graft-release-2026-08"
      val cust = t(s, dir, "customer").select(
        Q.pseudonymize(col("c_custkey"), salt).as("token"),
        col("c_mktsegment"))
      val ord = t(s, dir, "orders").select(
        Q.pseudonymize(col("o_custkey"), salt).as("token"))
      ord.join(cust, "token")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("token")).as("n_customers"))
    }),

    // L104: BPE tokenizer APPLICATION — the q119-trained merge rules
    // (session-memoized) segment the corpus; per-lang census of
    // words/chars/subtokens and the compression ratio. The replace chain
    // runs over the distinct word VOCABULARY and joins back to (lang,
    // word) occurrence counts — segmentation work scales with |V|, not
    // corpus tokens.
    "q121_bpe_segment" -> ((s, dir) => {
      val rules = bpeRules(s, dir, 6)
      val occ = t(s, dir, "documents")
        .select(col("lang"), explode(T.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
      // Segment each (lang, word) GROUP row map-side — the replace chain
      // runs |V|×|langs| times (vocabulary-scale), and the plan stays ONE
      // corpus scan + two combinable shuffles (a distinct-w + join-back
      // would re-scan the corpus for the vocabulary branch).
      T.bpeSubtokens(occ, col("w"), rules)
        .groupBy(col("lang"))
        .agg(sum(col("cnt")).as("n_words"),
          sum(col("cnt") * length(col("w")).cast("long")).as("n_chars"),
          sum(col("cnt") * col("n_subtokens")).as("n_subtokens"))
        .withColumn("subtokens_per_word",
          col("n_subtokens").cast("double") / col("n_words").cast("double"))
    }),

    // L105: LM-predictability census — share of each source's trigram
    // events the corpus-trained count LM (q118's exact table) already
    // predicts; high share = boilerplate/templated source, the
    // memorization probe next to q60's eval-set decontamination.
    // Fused self-trained form: the LM derives from the probe side's own
    // checkpointed count table, so the corpus n-gram expansion runs once
    // (spec-pinned identical to the ngramNextTokens + lmNoveltyStats
    // composition).
    "q122_lm_novelty" -> ((s, dir) =>
      T.lmSelfNoveltyStats(spreadDocs(s, dir),
        col("source"), col("text"), n = 3, minContext = 5L, k = 3)),

    // L106: hybrid-retrieval rank fusion — RRF over the radius-1
    // multi-probe LSH list and the int8-quantized list (both depth 10),
    // fused top-3 per query; rank-based fusion needs no cross-list score
    // calibration, and n_sources reports per-survivor list agreement.
    "q123_rrf_fusion" -> ((s, dir) =>
      Vec.rrfFuse(Seq(
        annLshMultiprobe(s, dir, radius = 1, k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank")),
        annI8(s, dir, k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))),
        rrfK = 60, k = 3)),

    // L107: walk-forward temporal split with a 2-day embargo before the
    // 10-day test window (horizon = corpus max ts, backfill-safe), plus
    // the actor-leakage residual a time split cannot remove.
    "q124_temporal_split" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .crossJoin(broadcast(t(s, dir, "events")
          .agg(max(unix_micros(col("ts"))).as("__mx"))))
      Sam.temporalSplitCensus(ev, unix_micros(col("ts")), col("user_id"),
        col("__mx") - lit(10L * 86400000000L),
        embargoMicros = 2L * 86400000000L)
    }),

    // L109: JL random-projection compressed search — 64-dim floats
    // projected once to 16 doubles (md5-decorrelated weight matrix),
    // brute-force cosine in projected space: 4× less data per
    // comparison. q49's rp row MEASURES what the compression costs on
    // THIS corpus: recall@3 0.05 (sf0.1) — the synthetic embeddings'
    // top-3 margins are noise-level, so a 16-dim score cannot rank them
    // (numpy cross-check: even 32 dims + depth-200 rerank recovers only
    // 0.72). That measured negative result is the point of the recall
    // harness: it says compressed SCORING is unusable here and the
    // engine's scale paths correctly keep exact scores over filtered
    // candidates (lsh_mp2 0.87, ivf 0.97 — candidates approximate,
    // scores exact). On a corpus with real margins the same operator
    // serves as the compressed tier; the q49 row is the gate.
    "q126_rp_topk" -> ((s, dir) => {
      val e = emb(s, dir)
        .select(col("vec_id"), Vec.randomProject(col("embedding"), 16)
          .as("rp"))
        .withColumn("__n", sqrt(Vec.dotD(col("rp"), col("rp"))))
        .filter(col("__n") > 0)
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("rp").as("__q"),
          col("__n").as("__qn"))
      val c = e.select(col("vec_id").as("neighbor_id"),
        col("rp").as("__c"), col("__n").as("__cn"))
      val scored = c.join(broadcast(q),
          col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine_rp",
          Vec.dotD(col("__q"), col("__c")) / (col("__qn") * col("__cn")))
      R.topKPerGroup(scored, Seq("query_id"),
          Seq(col("cosine_rp").desc, col("neighbor_id")), 3, "rank")
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("cosine_rp"))
    }),

    // L110: Tukey-fence outlier census — boxplot-rule IQR fences per
    // event type over value cents; the quartile-based robust screen
    // next to q76's median/MAD and q112's mean/sd.
    "q127_tukey_fences" -> ((s, dir) =>
      An.tukeyFences(eventValues(s, dir), col("event_type"), valueCents)),

    // L111: near-dup pair EVIDENCE report — the audit table a curation
    // pipeline ships with its dedup decisions: per banded candidate pair
    // the word-3-gram Jaccard (the decision metric), the containment
    // coefficient (sub-document flag), the char-8-gram Jaccard
    // (tokenization-robust corroboration), and the SimHash hamming
    // distance (the cheap global fingerprint). Threshold tuning and
    // human spot-checks read THIS, not the bare pair list. Pairs come
    // from the shared session sweep; features are three equi-joins of
    // the (bounded) pair list against per-doc kernel columns.
    "q128_pair_evidence" -> ((s, dir) => {
      val pairs = wordNearDupPairs(s, dir)
        .select(col("id_a"), col("id_b"),
          col("jaccard").as("word3_jaccard"))
      // Kernel features ONLY for pair PARTICIPANTS (VERDICT r15 #3):
      // the former plan computed the three shingle/simhash kernels for
      // EVERY document and then joined the bounded pair list against
      // them — at sf1 the kernel pass over the full corpus was the
      // whole 6.4 s cost while the decision pair list stayed tiny. The
      // participant id set is ≤ 2·|pairs| longs; a count-guarded
      // broadcast semi-join prunes the corpus BEFORE the kernels run,
      // turning the feature pass from corpus-linear to
      // participant-linear (rows identical — pruned docs feed no
      // output row). Past the budget the semi-join falls back to an
      // AQE-sized shuffle, the 100 TB posture of every bounded
      // broadcast in the engine.
      val ids0 = pairs.select(col("id_a").as("doc_id"))
        .unionByName(pairs.select(col("id_b").as("doc_id")))
        .distinct()
      val ids =
        if (nearDupPairCount(s, dir) <= DeltaBroadcastMaxRows)
          broadcast(ids0)
        else ids0
      val feat = t(s, dir, "documents")
        .join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
        call_function("word_shingle_hashset", col("text"), lit(3))
          .as("__w3"),
        call_function("char_shingle_hashset", col("text"), lit(8))
          .as("__c8"),
        call_function("simhash60",
          call_function("token_hash60_array", col("text"))).as("__sh"))
      val a = feat.select(col("doc_id").as("id_a"), col("__w3").as("__w3a"),
        col("__c8").as("__c8a"), col("__sh").as("__sha"))
      val b = feat.select(col("doc_id").as("id_b"), col("__w3").as("__w3b"),
        col("__c8").as("__c8b"), col("__sh").as("__shb"))
      val i3 = call_function("sorted_intersect_count",
        col("__w3a"), col("__w3b"))
      val i8 = call_function("sorted_intersect_count",
        col("__c8a"), col("__c8b"))
      pairs.join(a, "id_a").join(b, "id_b")
        .select(col("id_a"), col("id_b"), col("word3_jaccard"),
          (i3.cast("double")
            / least(size(col("__w3a")), size(col("__w3b"))).cast("double"))
            .as("word3_containment"),
          (i8.cast("double")
            / (size(col("__c8a")) + size(col("__c8b")) - i8).cast("double"))
            .as("char8_jaccard"),
          bit_count(col("__sha").bitwiseXOR(col("__shb")))
            .as("simhash_hamming"))
    }),

    // L112: per-source duplicated-span share census — the Gopher /
    // RefinedWeb "duplicate line fraction" curation rule over
    // content-defined 16-token windows (q70's fingerprints, consumed
    // per document instead of per span). Census sums are exact longs;
    // the share is ONE int/int double division per source; a doc is
    // majority-dup by the integer test 2·dup ≥ total.
    "q129_dup_span_share" -> ((s, dir) => {
      val perDoc = D.dupSpanShare(
        spreadDocs(s, dir), "doc_id", col("text"),
        width = 16, modulus = 4, carry = Seq("source"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_spans")).as("n_spans"),
          sum(col("n_dup_spans")).as("n_dup_spans"),
          sum(when(lit(2) * col("n_dup_spans") >= col("n_spans"), 1L)
            .otherwise(0L)).as("n_docs_majority_dup"))
        .withColumn("dup_share", col("n_dup_spans").cast("double") /
          col("n_spans").cast("double"))
    }),

    // L113: exact-COMPLETE similarity self-join (prefix filter, PPJoin
    // family) at word-3-shingle Jaccard ≥ 1/2 — every qualifying pair
    // returned with a proof-backed guarantee, vs the banded-LSH
    // screen's probabilistic recall. Oracle is the brute-force exact
    // join (independent algorithm), so the hash match IS the
    // completeness check at sf0.01.
    "q130_prefix_join" -> ((s, dir) =>
      D.prefixFilterPairs(
        spreadDocs(s, dir).select(col("doc_id"), col("text")),
        "doc_id", D.wordKernels(col("text"), 3), tNum = 1, tDen = 2)),

    // L114: fixed-grid linear-interpolation resample of event values at
    // 6-hour ticks per user — gapFill's measurement-series twin. ONE
    // merge-scan window per user (both neighbor frames share one sort);
    // interp evaluates in a fixed double op sequence so it
    // hash-verifies.
    "q131_interp_resample" -> ((s, dir) =>
      Ti.interpResample(t(s, dir, "events"), col("user_id"), col("ts"),
          col("value"), stepUs = 21600000000L)
        .withColumnRenamed("__g", "user_id")),

    // L115: MinHash estimator calibration — for every banded candidate
    // pair, the signature-agreement estimate (n_eq/K) next to the exact
    // shingle Jaccard it approximates: the dedup-side sketch-vs-exact
    // audit (q49 is the ANN-side one). Per-pair rows, each double one
    // exact division — no float summation anywhere.
    "q132_minhash_calibration" -> ((s, dir) => {
      val docs = spreadDocs(s, dir)
        .select(col("doc_id"), col("text"))
      val kn = D.wordKernels(col("text"), 3)
      val sigs = docs.select(col("doc_id"), kn.sig.as("__sig"))
        .filter(col("__sig").isNotNull)
        .select(col("doc_id") +: (0 until D.K).map(k =>
          element_at(col("__sig"), k + 1).as(s"mh$k")): _*)
      val bands = D.lshBands(sigs, "doc_id")
      val cand = bands.select(col("doc_id").as("id_a"),
          col("band"), col("band_hash"))
        .join(bands.select(col("doc_id").as("id_b"),
            col("band").as("band_r"), col("band_hash").as("band_hash_r")),
          col("band") === col("band_r") &&
            col("band_hash") === col("band_hash_r") &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      def sigSide(name: String): DataFrame =
        sigs.select(col("doc_id").as(name) +:
          (0 until D.K).map(k => col(s"mh$k").as(s"__${name}_mh$k")): _*)
      val sets = docs.select(col("doc_id"), kn.hashedSet.as("__set"))
      def setSide(name: String): DataFrame =
        sets.select(col("doc_id").as(name), col("__set").as(s"__s_$name"))
      val nEq = (0 until D.K).map(k =>
        when(col(s"__id_a_mh$k") === col(s"__id_b_mh$k"), 1)
          .otherwise(0)).reduce(_ + _)
      val inter = call_function("sorted_intersect_count",
        col("__s_id_a"), col("__s_id_b"))
      cand
        .join(sigSide("id_a"), "id_a").join(sigSide("id_b"), "id_b")
        .join(setSide("id_a"), "id_a").join(setSide("id_b"), "id_b")
        .withColumn("n_eq", nEq)
        .withColumn("__inter", inter)
        .select(col("id_a"), col("id_b"), col("n_eq"),
          (col("n_eq").cast("double") / lit(D.K.toDouble))
            .as("est_jaccard"),
          (col("__inter").cast("double") /
            (size(col("__s_id_a")) + size(col("__s_id_b")) -
              col("__inter")).cast("double")).as("exact_jaccard"),
          abs((col("n_eq").cast("double") / lit(D.K.toDouble)) -
            (col("__inter").cast("double") /
              (size(col("__s_id_a")) + size(col("__s_id_b")) -
                col("__inter")).cast("double"))).as("abs_err"))
    }),

    // L116: SemDeDup embedding-cluster prune list — keep-earliest rule
    // within deterministic sign-LSH cells at cosine >= 0.3 (the corpus's
    // meaningful-similarity tail; the all-pairs 99.9th pct is ~0.38).
    // Cell count is CORPUS-SIZED (r13; the FAISS nlist discipline): a
    // 1-row count drives Vec.sizedPlanes, so per-cell density — and the
    // in-cell pair work — stays bounded as the corpus grows (the r12 sf1
    // probe measured 20.5× wall on 10× data under the old FIXED 16-cell
    // grid). At the verified small SFs (≤ 32·2^4 vectors) the rule
    // reproduces the historical planes=4 geometry bit-for-bit; the
    // oracle twin replays the same integer sizing from count(*).
    "q133_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // driver-side 1-row read — the q225 broadcast-guard discipline
      Vec.semDedupPrune(e, "vec_id", "embedding",
        planes = Vec.sizedPlanes(e.count()), theta = 0.3)
    }),

    // L117: hard-negative mining — per query, the top-3 most-similar
    // OTHER-label vectors from radius-1 multi-probe LSH candidates.
    "q134_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Vec.hardNegativeTopK(e.filter(col("vec_id") < 20), e, "vec_id",
        "embedding", "label", planes = AnnPlanes, k = 3)
    }),

    // L118: lexical-diversity census per source — vocabulary size, TTR,
    // hapax share, top-token share from ONE (source, token) count table.
    "q135_lexical_diversity" -> ((s, dir) =>
      // (source, term) counts fold from the session tf artifact —
      // bucket-local (term partitioning co-locates every (grp, term)
      // group); the doc census is a pruned documents aggregate.
      T.lexicalDiversityFromCounts(
          docTerms(s, dir)
            .groupBy(col("source").as("grp"), col("term").as("__tok"))
            .agg(sum(col("tf")).as("__n")),
          t(s, dir, "documents").groupBy(col("source").as("grp"))
            .agg(count(lit(1)).as("n_docs")))
        .withColumnRenamed("grp", "source")),

    // L119: histogram-quantile calibration — 64-bin mergeable histogram
    // estimates vs the exact interpolated quantiles, per event type.
    "q136_hist_quantiles" -> ((s, dir) =>
      Sk.histQuantileCalibration(t(s, dir, "events"), col("event_type"),
          col("value"), buckets = 64, qs = Seq(0.5, 0.9, 0.99))
        .withColumnRenamed("grp", "event_type")),

    // L120: quantized DSIR importance score — target = English docs,
    // raw = whole corpus, 4096 hashed unigram features, exact integer
    // floor-log2 ratios (no transcendental anywhere).
    "q137_dsir_score" -> ((s, dir) =>
      // Feature counts fold from the session tf artifact (lang rides
      // the artifact, so the target marker needs no corpus re-join).
      T.dsirScoreFromTf(
        docTerms(s, dir).select(col("doc_id"), col("lang"), col("term"),
          col("tf")),
        col("doc_id"), col("lang") === "en", buckets = 4096)),

    // L121: exact duplicated-span removal — q129's census turned into
    // the Lee et al. rewrite: 16-token windows seen in >= 2 docs are
    // cut from every doc but the window's first.
    "q138_dup_span_removal" -> ((s, dir) =>
      D.dupSpanRemove(spreadDocs(s, dir), "doc_id", col("text"), width = 16)),

    // L122: positional phrase search — adjacency-in-order matching over
    // a positional inverted index; phrase terms broadcast.
    "q139_phrase_search" -> ((s, dir) => {
      import s.implicits._
      T.phraseSearch(spreadDocs(s, dir), "doc_id",
        col("text"), searchPhrases.toDF("phrase_id", "phrase"))
    }),

    // L123: τ=1/2 temperature source mixing — sqrt-scaled token budgets
    // per source over a 1M-token budget.
    "q140_temperature_mix" -> ((s, dir) =>
      Sam.temperatureMixSqrt(t(s, dir, "documents"), col("source"),
          size(T.tokens(col("text"))).cast("long"), budget = 1000000L)
        .withColumnRenamed("grp", "source")),

    // L124: cross-source contamination matrix — pairwise distinct
    // 13-gram overlap between sources (the train/eval bleed audit).
    "q141_contamination_matrix" -> ((s, dir) =>
      T.crossSourceOverlap(spreadDocs(s, dir),
        col("source"), col("text"), n = 13)),

    // L125: decode-free binary perceptual-hash near-dup — byte-window
    // SimHash over the multimodal payload column, 4×15-bit band screen,
    // exact Hamming verify at <= 8.
    "q142_binary_phash_neardup" -> ((s, dir) =>
      M.binaryNearDupPairs(
        M.fromText(spreadDocs(s, dir), "doc_id", "text"),
        "asset_id", col("content"), maxHamming = 8)),

    // L126: Zipf rank-frequency slope per source — OLS over exact
    // floor-log2 (rank, freq) points; quantized-transcendental OLS.
    "q143_zipf_slope" -> ((s, dir) =>
      // (source, term) counts from the session tf artifact (see q135).
      T.zipfSlopeFromCounts(docTerms(s, dir)
          .groupBy(col("source").as("grp"), col("term").as("__tok"))
          .agg(sum(col("tf")).as("__n")))
        .withColumnRenamed("grp", "source")),

    // L127: dedup yield forecast — cluster-size histogram + docs/tokens
    // removed under keep-min-id curation, from the session's shared CC
    // labels (q61/q66's build, another zero-rebuild consumer).
    "q144_dedup_yield" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(T.tokens(col("text"))).cast("long").as("__nt"))
      val comp = nearDupDocLabels(s, dir)
      val lab = docs.join(comp, Seq("doc_id"), "left")
        .withColumn("__cid", coalesce(col("label"), col("doc_id")))
      val cl = lab.groupBy(col("__cid"))
        .agg(count(lit(1)).as("__sz"), sum(col("__nt")).as("__tok"),
          sum(when(col("doc_id") === col("__cid"), col("__nt"))
            .otherwise(0L)).as("__keepTok"))
      cl.groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("__sz")).as("n_docs"),
          sum(col("__sz") - 1).as("n_removed_docs"),
          sum(col("__tok") - col("__keepTok")).as("n_removed_tokens"))
    }),

    // L128: point-in-time (feature-store) join — each purchase probe
    // reads the user's SCD2 state version valid AT ITS TIMESTAMP (no
    // future leakage): the q78 history consumed through the q37
    // merge-scan as-of, zero joins, one keyed shuffle.
    "q145_pit_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(pmod(col("user_id"), lit(10)) === 0)
      val hist = scdHistory(ev)
        .select(col("user_id"), col("valid_from_us"), col("state"),
          col("event_id").as("__vid"))
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("probe_us"))
      Ti.asofBackward(probes, "probe_us", hist, "valid_from_us",
          Seq("user_id"), payload = Seq("state", "valid_from_us"),
          rightOrder = Seq(col("valid_from_us"), col("__vid")))
        .select(col("user_id"), col("event_id"), col("probe_us"),
          col("state"), col("valid_from_us"))
    }),

    // L129: group-aware k-fold assignment (GroupKFold) — folds hash the
    // near-dup CLUSTER id, so near-duplicate docs can never straddle a
    // fold boundary (q102's leakage rule, k-fold shape). Census per
    // (fold, lang).
    "q146_group_kfold" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val comp = nearDupDocLabels(s, dir)
      docs.join(comp, Seq("doc_id"), "left")
        .withColumn("__cid", coalesce(col("label"), col("doc_id")))
        .withColumn("fold",
          pmod(T.hash32(concat(lit("fold:"), col("__cid"))), lit(5L))
            .cast("int"))
        .groupBy(col("fold"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("__cid")).as("n_clusters"))
    }),

    // L130: curation-waterfall census — ordered filter funnel with
    // per-stage removal attribution (nonempty → length floor → English
    // → length ceiling), one corpus scan.
    "q147_curation_waterfall" -> ((s, dir) => {
      val nTok = size(T.tokens(col("text")))
      Q.curationWaterfall(t(s, dir, "documents"), Seq(
        "nonempty" -> (col("n_chars") > 0),
        "min_tokens" -> (nTok >= 30),
        "english" -> (col("lang") === "en"),
        "max_tokens" -> (nTok <= 90)))
    }),

    // L131: weak-supervision majority vote — three deterministic
    // labeling functions (length band, type-token ratio band, stopword
    // presence) vote good/bad/abstain per doc; plurality with
    // smallest-label tie-break; census per (final label, votes cast).
    // All three per-doc stats come from ONE fused byte-walk
    // (T.tokenCensus): the plan is map-only + a tiny census exchange, so
    // the three token-array materializations per doc WERE the query (the
    // r13 sf1 probe read 9.4× on 10× data — row-linear, but the biggest
    // constant factor on the board).
    "q148_weak_labels" -> ((s, dir) => {
      val nT = col("__c.nt")
      val nD = col("__c.nd")
      val nStop = col("__c.ns")
      val lfLen = when(nT >= 30 && nT <= 90, "good")
        .when(nT < 15, "bad").otherwise(lit(null).cast("string"))
      val lfTtr = when(nD * 5 >= nT * 3, "good")
        .when(nD * 5 <= nT * 2, "bad").otherwise(lit(null).cast("string"))
      val lfStop = when(nStop >= 2, "good").when(nStop === 0, "bad")
        .otherwise(lit(null).cast("string"))
      t(s, dir, "documents")
        .select(T.tokenCensus(col("text"), Seq("the", "a")).as("__c"))
        .select(Q.majorityVote(Seq(lfLen, lfTtr, lfStop)).as("label"),
          size(array_compact(array(lfLen, lfTtr, lfStop))).as("n_votes"))
        .groupBy(col("label"), col("n_votes"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // L132: deadline funnel — q75's greedy walk with a 1-day
    // per-transition conversion window (the attribution-window
    // semantics); spec/oracle replay the same greedy recursion.
    "q149_funnel_deadline" -> ((s, dir) =>
      An.funnelWithin(t(s, dir, "events"), col("user_id"), col("ts"), Seq(
        "signup" -> (col("event_type") === "signup"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase")),
        maxGapUs = 86400000000L)),

    // L133: deterministic hash-bootstrap confidence band — 32 exact
    // integer resamples of per-flag total quantity, p05/p50/p95. The
    // 32 per-row resample hashes are heavy enough that the single-split
    // local scan serialized them (one task, 1.1 s of a 1.3 s plan —
    // r17, guide §2.1); spread after projecting the 4 needed columns.
    "q150_bootstrap_ci" -> ((s, dir) =>
      An.hashBootstrap(
          spread(s, t(s, dir, "lineitem").select(col("l_returnflag"),
            col("l_orderkey"), col("l_linenumber"), col("l_quantity")), 0L),
          col("l_returnflag"),
          concat(col("l_orderkey"), lit("_"), col("l_linenumber")),
          col("l_quantity"), b = 32)
        .withColumnRenamed("grp", "l_returnflag")),

    // L134: multi-touch linear attribution — q117's equal-credit
    // sibling: 2-day lookback, fixed-point credit shares, interval-join
    // candidate generation (1-day bins).
    "q151_linear_attribution" -> ((s, dir) =>
      An.linearAttribution(t(s, dir, "events"), col("user_id"), col("ts"),
        col("event_id"), col("event_type"),
        col("event_type") === "purchase",
        lookbackMicros = 172800000000L, binWidthUs = 86400000000L)),

    // L90b: zone-map pruning effectiveness census — simulate three write
    // layouts (arrival order, single-dim value sort, z-order on
    // (value, user)) into 64 files and count which a value-range scan
    // could skip from min/max stats alone.
    "q152_zone_map_pruning" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
      val ext = ev.agg(min(col("value")).as("__vlo"),
        max(col("value")).as("__vhi"),
        min(col("user_id")).as("__ulo"), max(col("user_id")).as("__uhi"))
      val df = ev.crossJoin(broadcast(ext))
      val zkey = L.zOrderKey(Seq(
        L.normalizeLinear(col("value"), col("__vlo"), col("__vhi"), 8),
        L.normalizeLinear(col("user_id"), col("__ulo"), col("__uhi"), 8)),
        8)
      L.zoneMapPruneCensus(df, Seq(
        "arrival" -> Seq(col("event_id")),
        "value_sort" -> Seq(col("value"), col("event_id")),
        "zorder" -> Seq(zkey, col("event_id"))),
        col("value"), predLo = 100.0, predHi = 120.0, nFiles = 64)
    }),

    // L135: k-core peel of the co-purchase graph (q109's bucketed
    // symmetric table), k pinned at the initial p10 degree, 3 rounds.
    "q153_kcore" -> ((s, dir) =>
      G.kCorePeelPrepared(coPurchaseSymFrame(s, dir), "node", "peer",
        degreeTable(s, dir).select(col("node"), col("deg")),
        coPurchaseNodeCount(s, dir), rounds = 3, q = 0.1)),

    // L136: behavioral trigram patterns — per-user ordered event-type
    // 3-sequences (two leads on ONE user window), global top-20.
    "q154_event_trigrams" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type").as("e1"),
          lead(col("event_type"), 1).over(w).as("e2"),
          lead(col("event_type"), 2).over(w).as("e3"))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy(col("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(20)
    }),

    // L137: Wilson score intervals — per event type, the share of
    // events with value > 100 with its 95% Wilson band (the error bar
    // a rate census ships; sqrt is the only non-arithmetic op).
    "q155_wilson_rates" -> ((s, dir) => {
      val agg = t(s, dir, "events").filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 100.0, 1L).otherwise(0L))
            .as("n_success"))
      wilsonRates(agg, "event_type", "n", "n_success", "p_hat")
    }),

    // L138: Benford first-digit audit — the fraud/synthetic-data screen:
    // first significant digit of integer cents via pure STRING ops (no
    // log10, no float formatting), observed share vs the Benford
    // expectation from literal probabilities.
    "q156_benford" -> ((s, dir) => {
      val cents = floor(col("value") * 100.0).cast("long")
      val digit = substring(cents.cast("string"), 1, 1).cast("int")
      val obs = t(s, dir, "events")
        .filter(col("value").isNotNull && col("value") > 0.0)
        .select(digit.as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum(col("n_obs")).as("__n"))
      // log10(1 + 1/d) as shared literals — computed once HERE, pasted
      // into the oracle from the same constant list.
      val pLit = benfordP.foldLeft(lit(0.0).cast("double")) { case (acc, (d, p)) =>
        when(col("digit") === d, lit(p)).otherwise(acc) }
      obs.crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"),
          (col("n_obs").cast("double") / col("__n").cast("double"))
            .as("obs_share"),
          pLit.as("benford_p"),
          ((col("n_obs").cast("double") / col("__n").cast("double")) /
            pLit).as("ratio"))
    }),

    // L139: sequence-continuity audit — are each order's line numbers
    // the contiguous run 1..n? The integrity check CDC pipelines run:
    // per order max vs count vs min detects gaps/offsets in one
    // combinable aggregate; census by anomaly class.
    "q157_sequence_audit" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("__n"), min(col("l_linenumber")).as("__lo"),
          max(col("l_linenumber")).as("__hi"))
        .select(when(col("__lo") === 1 && col("__hi") === col("__n"),
            "contiguous")
          .when(col("__lo") =!= 1, "offset_start")
          .otherwise("gapped").as("status"))
        .groupBy(col("status")).agg(count(lit(1)).as("n_orders"))),

    // L140: per-language source concentration — HHI, effective source
    // count (1/HHI), top-source share. The mixture-health audit run
    // before any source-weighted sample (q62/q140); entropy is
    // deliberately absent (data-dependent ln has no cross-engine
    // rounding guarantee — 1/HHI carries the same signal).
    "q158_source_concentration" -> ((s, dir) =>
      An.concentrationCensus(t(s, dir, "documents"), col("lang"),
          col("source"))
        .withColumnRenamed("grp", "lang")),

    // L141: cross-document boilerplate census — word bigrams appearing
    // in ≥6% of documents are template text (the C4 screen's
    // corpus-frequency complement to q59/q70's within-doc repetition);
    // docs censused by the decile of their boilerplate-gram fraction.
    "q159_boilerplate" -> ((s, dir) =>
      // Served from the session bigram artifact: its rows are the
      // distinct (doc, bigram) pairs, so df census + df join ride the
      // term buckets exchange-free (r12; was a fresh corpus explode +
      // distinct + checkpoint per run).
      T.boilerplateCensusFromTf(
        docTermsBucketed(s, dir, 2).select(col("doc_id"), col("term")),
        minDocPct = 6)),

    // L142: content-addressed fingerprint census — sha256 over
    // (lang, normalized text) as the stable document identity a
    // content-addressed store keys on, plus the 8-hex short-id birthday
    // check. Only counts cross the engine boundary (hash-string
    // formatting never does), so the census is encoding-proof.
    "q160_content_fingerprint" -> ((s, dir) => {
      // concat (not concat_ws): the twin's `||` chain null-propagates,
      // and concat_ws SKIPS nulls — a null lang/text doc would hash on
      // Spark but fall into the oracle's null group (ADVICE r9).
      val h = sha2(concat(col("lang"), lit("\u001f"),
        lower(trim(col("text")))), 256)
      t(s, dir, "documents")
        .select(h.as("__h"))
        .groupBy(col("__h")).agg(count(lit(1)).as("__c"))
        .agg(sum(col("__c")).as("n_docs"), count(lit(1)).as("n_hashes"),
          sum(when(col("__c") > 1, col("__c")).otherwise(0L))
            .as("n_dup_docs"),
          sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
          max(col("__c")).as("max_group"),
          countDistinct(substring(col("__h"), 1, 8)).as("n_short_ids"))
        .withColumn("short_collisions",
          col("n_hashes") - col("n_short_ids"))
    }),

    // L143: winsorized mean of event value per type — robust location
    // with DISCRETE order-statistic bounds at p05/p95 (integer ranks,
    // corpus elements — never an interpolated float blend), exact
    // decimal clamp-sum, one final division.
    "q161_winsorized_mean" -> ((s, dir) =>
      An.winsorizedMean(t(s, dir, "events"), col("event_type"),
          col("value"), Seq(col("event_id")), pLo = 5, pHi = 95)
        .withColumnRenamed("grp", "event_type")),

    // L144: Fleiss' kappa of the q148 weak-labeler panel — does the
    // panel agree beyond chance? Abstain is its own category so every
    // item keeps a full 3-rater panel. Three integer sums, one double
    // division (formula in AnalyticsOps.fleissKappa).
    "q162_fleiss_kappa" -> ((s, dir) => {
      val w = T.tokens(col("text"))
      val nT = size(w)
      val nD = size(array_distinct(w))
      val nStop = T.stopwordCount(w, Seq("the", "a"))
      val lfLen = when(nT >= 30 && nT <= 90, "good")
        .when(nT < 15, "bad").otherwise(lit(null).cast("string"))
      val lfTtr = when(nD * 5 >= nT * 3, "good")
        .when(nD * 5 <= nT * 2, "bad").otherwise(lit(null).cast("string"))
      val lfStop = when(nStop >= 2, "good").when(nStop === 0, "bad")
        .otherwise(lit(null).cast("string"))
      An.fleissKappa(
        t(s, dir, "documents").select(lfLen.as("l1"), lfTtr.as("l2"),
          lfStop.as("l3")),
        Seq(col("l1"), col("l2"), col("l3")), Seq("good", "bad"))
    }),

    // L145: session-stats census by entry event type — q38's sessions
    // rolled up to the product questions (bounce rate, mean depth).
    // The entry event comes from a combinable min_by over the total
    // (us, event_id) order — NOT a second rank window, which would need
    // its own (user, session) exchange on top of sessionize's user
    // exchange; the groupBy's partial aggregation folds sessions
    // map-side instead.
    "q163_session_stats" -> ((s, dir) => {
      val sess = Ti.sessionize(t(s, dir, "events"), Seq("user_id"), "ts",
        30L * 60 * 1000000, Seq(col("ts"), col("event_id")))
      sess.select(col("user_id"), col("session_idx"), col("event_type"),
          unix_micros(col("ts")).as("__us"), col("event_id"))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("__n"),
          (max(col("__us")) - min(col("__us"))).as("__dur"),
          min_by(col("event_type"),
            struct(col("__us"), col("event_id"))).as("entry_type"))
        .groupBy(col("entry_type"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("__n") === 1, 1L).otherwise(0L)).as("n_bounce"),
          sum(col("__n")).as("n_events"), max(col("__dur")).as("max_dur_us"))
        .select(col("entry_type"), col("n_sessions"), col("n_bounce"),
          col("n_events"), col("max_dur_us"),
          (col("n_bounce").cast("double") / col("n_sessions").cast("double"))
            .as("bounce_rate"),
          (col("n_events").cast("double") / col("n_sessions").cast("double"))
            .as("avg_depth"))
    }),

    // L146: RFM actor segmentation — recency/frequency/monetary coded
    // 1-4 against exact discrete quartiles (histogram + cumulative
    // count; never an interpolated float threshold, whose last-ulp
    // placement could flip boundary actors cross-engine), censused by
    // code cell with exact integer-cents mass.
    "q164_rfm_segments" -> ((s, dir) =>
      An.rfmSegments(t(s, dir, "events"), col("user_id"), col("ts"),
        col("value"))),

    // L147: distribution-shape census — per-source skewness and excess
    // kurtosis of document length from exact SHIFTED power sums
    // (Σ(x−⌊mean⌋)ᵏ in decimal — raw Σx⁴ assemblies overflow width 38
    // near n≈1e10; the shift is the 100-TB safety), one pinned-order
    // double assembly per statistic.
    "q165_source_moments" -> ((s, dir) =>
      An.shapeMoments(t(s, dir, "documents"), col("source"),
          col("n_chars"))
        .withColumnRenamed("grp", "source")),

    // L148: local clustering-coefficient census over the co-purchase
    // graph (q109's edges — basket-width-bounded, never cartesian) —
    // closed co-purchase pockets vs open hubs, per-node coefficients
    // bucketed by integer division (no per-node float crosses the
    // engine boundary; degree-1 nodes census as -1). Reads the session
    // ORIENTED layout + adjacency artifacts (r15): the per-query cost
    // is the compact-forward intersect kernel + output-scale census
    // folds; orientation/adjacency prep is corpus-pure topology built
    // once beside the degree table (spec-pinned against a brute-force
    // triangle census in GraphSpec and PropertySpec).
    "q166_clustering_census" -> ((s, dir) =>
      G.localClusteringCensusPrepared(orientedEdgesFrame(s, dir),
        orientedAdjFrame(s, dir),
        degreeTable(s, dir).select(col("node"), col("deg")),
        coPurchaseSymCount(s, dir) / 2)),

    // L149: revenue concentration — the Pareto question ("what share of
    // revenue sits above the p50/p90/p99 customer?") with exact
    // discrete-rank thresholds and integer-cents mass, one double
    // division per share.
    "q167_revenue_concentration" -> ((s, dir) => {
      // Checkpoint the customer rollup: the threshold pass and the tail
      // sums both branch from it — without the pin each branch replays
      // the orders scan (customer-cardinality materialization).
      val cust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100.0).cast("long"))
          .as("cents"))
        .localCheckpoint()
      val th = An.discreteQuantiles(cust, col("cents"),
        Seq(("t50", 1, 2), ("t90", 9, 10), ("t99", 99, 100)))
      cust.crossJoin(broadcast(th))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents")).as("total_cents"),
          max(col("t50")).as("t50_cents"), max(col("t90")).as("t90_cents"),
          max(col("t99")).as("t99_cents"),
          sum(when(col("cents") > col("t50"), col("cents")).otherwise(0L))
            .as("__a50"),
          sum(when(col("cents") > col("t90"), col("cents")).otherwise(0L))
            .as("__a90"),
          sum(when(col("cents") > col("t99"), col("cents")).otherwise(0L))
            .as("__a99"))
        .select(col("n_customers"), col("total_cents"), col("t50_cents"),
          col("t90_cents"), col("t99_cents"),
          (col("__a50").cast("double") / col("total_cents").cast("double"))
            .as("share_above_p50"),
          (col("__a90").cast("double") / col("total_cents").cast("double"))
            .as("share_above_p90"),
          (col("__a99").cast("double") / col("total_cents").cast("double"))
            .as("share_above_p99"))
    }),

    // L150: dedup threshold yield curve — for each candidate Jaccard
    // threshold, how many pairs fire and how many docs the keep-min rule
    // would drop (id_b is always the pair loser). THE artifact a dedup
    // rollout decision reads; computed over the q25 candidate set at
    // threshold 0 (banding bounds candidates — recall below ~0.5 is the
    // documented LSH trade, same geometry as q25).
    "q168_dedup_yield_curve" -> ((s, dir) =>
      wordCandidatePairs(s, dir)
        .select(col("id_b"), col("jaccard"),
          explode(array(Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*))
            .as("threshold"))
        .filter(col("jaccard") >= col("threshold"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("id_b")).as("n_docs_removed"))),

    // L151: inter-arrival time stats — per event type, the gap between
    // an actor's consecutive same-type events (the cadence census rate
    // limiting and anomaly thresholds are tuned from). Gaps quantize to
    // MILLISECONDS (floor) — the quantization bounds the percentile
    // state by the value domain instead of the corpus (raw µs gaps have
    // ≈ row-count distinct values, the r9 `weak` finding) — and the
    // interpolated p50/p90/p99 come off the bounded value-histogram
    // route (groupedQuantilesCont), never an unbounded exact-percentile
    // buffer.
    "q169_interarrival_stats" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("event_type"),
          (unix_micros(col("ts")) -
            lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
        .filter(col("gap_us").isNotNull)
        .select(col("event_type"), expr("gap_us div 1000").as("gap_ms"))
      An.groupedQuantilesCont(gaps, col("event_type"), col("gap_ms"),
          Seq(("p50_ms", 1, 2), ("p90_ms", 9, 10), ("p99_ms", 99, 100)))
        .select(col("grp").as("event_type"), col("n").as("n_gaps"),
          col("p50_ms"), col("p90_ms"), col("p99_ms"))
    }),

    // L152: degree assortativity of the co-purchase graph — do popular
    // parts co-occur with popular parts? One number, exact integer
    // sufficient statistics ([[GraphOps.degreeAssortativityCanon]]).
    "q170_degree_assortativity" -> ((s, dir) =>
      G.degreeAssortativityCanon(coPurchaseSymFrame(s, dir)
        .filter(col("node") < col("peer"))
        .select(col("node").as("u"), col("peer").as("v")),
        degreeTable(s, dir).select(col("node"), col("deg").as("d")))),

    // L153: product-quantization ADC top-k — the store-compression leg
    // of the ANN triad (IVF q34 prunes the search space, int8 q65
    // shrinks the scan, PQ shrinks the STORE to M codes/vector).
    // Codebooks train per subspace on the deterministic hash-sample
    // (pqCodebooks); encoding is a map-side argmin per subspace; each
    // query builds M distance TABLES once and scores candidates with
    // map lookups — no float vector math per pair.
    "q171_pq_adc_topk" -> ((s, dir) =>
      pqAdcRanked(s, dir)
        .filter(col("rank") <= PqAdcK)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("rank"), col("adc_d2"))),

    // L154: PQ shortlist + EXACT re-rank — the production PQ serving
    // shape (ADC is the coarse ranker; a 50-candidate shortlist is then
    // re-scored with exact L2 on raw vectors — ~2.5% of the corpus at
    // this sf). The ApproxSpec gate measures the recall this recovers
    // over raw ADC (q171's 1-bit/dim quantization is deliberately lossy
    // on the isotropic corpus).
    "q172_pq_rerank_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val short = pqAdcRanked(s, dir)
        .filter(col("rank") <= PqShortlist)
        .select(col("query_id"), col("neighbor_id"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("d2"), col("neighbor_id"))
      short
        .join(e.select(col("vec_id").as("query_id"),
          col("embedding").as("__qv")), "query_id")
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("__cv")), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          Vec.dist2(col("__qv"), col("__cv")).as("d2"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= PqAdcK)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("rank"), col("d2"))
    }),

    // L159: IVFPQ — the complete FAISS index shape: the trained coarse
    // quantizer (q34's cells) prunes WHERE to look, PQ codes on the
    // RESIDUAL v − centroid(cell) compress the store, and the candidate
    // path is an EQUI-join on cell_id (q171's flat-PQ broadcast pair
    // scan becomes bucket-bounded work — the geometry that scales to
    // 100 TB stores). Per (query, probed cell): residual distance
    // tables; per candidate: M map lookups.
    "q177_ivfpq_topk" -> ((s, dir) => {
      val coarse = trainedCentroids(s, dir, IvfCells, IvfTrainIters)
      val books = ivfpqBooks(s, dir)
      val e = emb(s, dir)
      val cmap = Vec.centroidVecMapExpr(coarse)
      def subArr(c: Column, i: Int) =
        slice(c, i * PqSubDims + 1, PqSubDims)
      val enc = e
        .select(col("vec_id"),
          Vec.nearestCellExpr(col("embedding"), coarse).as("cell_id"),
          col("embedding"))
        .withColumn("__res",
          Vec.residualExpr(col("embedding"), element_at(cmap, col("cell_id"))))
        .select(Seq(col("vec_id"), col("cell_id")) ++
          (0 until PqM).map(i =>
            Vec.nearestCellExpr(subArr(col("__res"), i), books(i))
              .as(s"code$i")): _*)
      val probed = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"),
          explode(Vec.probeCellsExpr(col("embedding"), coarse, IvfProbes))
            .as("cell_id"))
        .withColumn("__qres",
          Vec.residualExpr(col("__qv"), element_at(cmap, col("cell_id"))))
        .select(Seq(col("query_id"), col("cell_id")) ++
          (0 until PqM).map(i =>
            Vec.distMapExpr(subArr(col("__qres"), i), books(i))
              .as(s"__dt$i")): _*)
      val adc = (0 until PqM).map(i =>
        element_at(col(s"__dt$i"), col(s"code$i"))).reduce(_ + _)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_d2"), col("neighbor_id"))
      probed.join(enc, Seq("cell_id"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("cell_id"), adc.as("adc_d2"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= PqAdcK)
        .select(col("query_id"), col("neighbor_id"), col("cell_id"),
          col("rank").cast("int").as("rank"), col("adc_d2"))
    }),

    // L155: session-depth conversion census — do deeper sessions
    // convert? q38's sessions bucketed by depth (1..4, 5+), with
    // purchase-conversion share per bucket; one combinable per-session
    // aggregate on sessionize's exchange, then a ≤5-row census.
    "q173_session_conversion" -> ((s, dir) =>
      Ti.sessionize(t(s, dir, "events"), Seq("user_id"), "ts",
          30L * 60 * 1000000, Seq(col("ts"), col("event_id")))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("__n"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("__conv"))
        .groupBy(least(col("__n"), lit(5L)).as("depth_bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("__conv")).cast("long").as("n_converted"))
        .withColumn("conversion_rate",
          col("n_converted").cast("double") /
            col("n_sessions").cast("double"))),

    // L156: rolling trend — per event type, the 7-day trailing OLS
    // slope of daily event counts (q77 fits ONE line per group; this is
    // the per-day monitoring variant). x = epoch day ordinal, exact
    // integer windowed sufficient statistics over a days×types table,
    // one double division per row.
    "q174_rolling_slope" -> ((s, dir) => {
      val daily = eventsPerDay(s, dir,
        expr("unix_micros(ts) div 86400000000").as("__d"))
        .agg(count(lit(1)).as("__y"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("__d"))
        .rangeBetween(-6, 0)
      val D38 = "decimal(38,0)"
      val dec = (c: Column) => c.cast(D38)
      val st = daily.select(col("event_type"), col("__d"), col("__y"),
        count(lit(1)).over(w).as("__k"),
        sum(dec(col("__y"))).over(w).as("__sy"),
        sum(dec(col("__d"))).over(w).as("__sx"),
        sum(dec(col("__d")) * dec(col("__y"))).over(w).as("__sxy"),
        sum(dec(col("__d")) * dec(col("__d"))).over(w).as("__sxx"))
      st.select(col("event_type"), col("__d").as("day_ord"),
        col("__y").as("n_events"), col("__k").as("n_days"),
        when(col("__k") > 1 &&
          (dec(col("__k")) * col("__sxx") - col("__sx") * col("__sx"))
            =!= lit(0).cast(D38),
          (dec(col("__k")) * col("__sxy") - col("__sx") * col("__sy"))
            .cast("double") /
            (dec(col("__k")) * col("__sxx") - col("__sx") * col("__sx"))
              .cast("double")).as("slope_7d"))
    }),

    // L157: burstiness (Fano factor) — per event type, daily-count
    // variance-to-mean ratio (F=1 Poisson baseline; F>1 bursty). One
    // exact rational per group: F = n(nΣy²−(Σy)²) / (n(n−1)Σy).
    "q175_fano_burstiness" -> ((s, dir) => {
      val daily = eventsPerDay(s, dir,
        expr("unix_micros(ts) div 86400000000").as("__d"))
        .agg(count(lit(1)).as("__y"))
      val D38 = "decimal(38,0)"
      val dec = (c: Column) => c.cast(D38)
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(dec(col("__y"))).as("__sy"),
          sum(dec(col("__y")) * dec(col("__y"))).as("__syy"))
        .select(col("event_type"), col("n_days"),
          col("__sy").cast("long").as("n_events"),
          (col("__sy").cast("double") / col("n_days").cast("double"))
            .as("mean_daily"),
          when(col("n_days") > 1,
            (dec(col("n_days")) *
              (dec(col("n_days")) * col("__syy") - col("__sy") * col("__sy")))
              .cast("double") /
              (dec(col("n_days")) * dec(col("n_days") - 1) * col("__sy"))
                .cast("double")).as("fano"))
    }),

    // L158: Gini coefficient of customer revenue — the inequality
    // complement to q158's HHI and q167's top-share report; exact
    // tied-rank identity over the cents histogram
    // (AnalyticsOps.giniCoefficient).
    "q176_revenue_gini" -> ((s, dir) =>
      An.giniCoefficient(
        t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100.0).cast("long"))
            .as("cents")),
        col("cents"))),

    // L161: k-step absorption probability — "will a user in state s
    // convert within 8 transitions?", the forward-looking companion to
    // q92's one-step matrix; scaled-integer rounds (the PageRank
    // discipline), oracle-unrolled.
    "q178_absorption" -> ((s, dir) =>
      An.absorptionProbability(t(s, dir, "events"), col("user_id"),
        col("ts"), col("event_type"), col("event_id"),
        absorbing = "purchase", steps = 8)),

    // L162: time-to-convert distribution — for users whose earliest
    // purchase follows their earliest signup (q75's two-step greedy
    // semantics), the signup→purchase delay in whole seconds, summarized
    // by exact discrete quantiles (the histogram-cumsum path — no
    // corpus sort, no interpolated float boundary).
    "q179_time_to_convert" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val f1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("t1"))
      val delays = ev.join(f1, "user_id")
        .filter(col("event_type") === "purchase" &&
          unix_micros(col("ts")) > col("t1"))
        .groupBy(col("user_id"))
        .agg((min(unix_micros(col("ts"))) - max(col("t1"))).as("__dus"))
        .select(expr("__dus div 1000000").as("delay_s"))
        .localCheckpoint()
      val qs = An.discreteQuantiles(delays, col("delay_s"),
        Seq(("p25_s", 1, 4), ("p50_s", 1, 2), ("p75_s", 3, 4),
          ("p90_s", 9, 10)))
      delays.agg(count(lit(1)).as("n_converters"))
        .crossJoin(broadcast(qs))
    }),

    // L163: Heaps'-law vocabulary growth — per source, token count N
    // and vocabulary size V, plus ONE global Heaps exponent β from OLS
    // over (ilog2 N, ilog2 V) points across sources (the q143 Zipf
    // discipline: transcendentals quantized to exact integer floor-log2,
    // integer sufficient statistics, one double division). The corpus
    // statistic that predicts vocabulary at 100 TB from a sample.
    "q180_heaps_law" -> ((s, dir) => {
      // (source, term) counts from the session tf artifact (see q135).
      val tok = docTerms(s, dir)
        .groupBy(col("source"), col("term"))
        .agg(sum(col("tf")).as("__n"))
        .groupBy(col("source"))
        .agg(sum(col("__n")).as("n_tokens"), count(lit(1)).as("n_types"))
        .localCheckpoint()
      val pts = tok.select(
        T.ilog2(col("n_tokens")).cast("long").as("__x"),
        T.ilog2(col("n_types")).cast("long").as("__y"))
      val st = pts.agg(count(lit(1)).as("__k"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      val den = col("__k") * col("__sxx") - col("__sx") * col("__sx")
      val num = col("__k") * col("__sxy") - col("__sx") * col("__sy")
      val beta = st.select(when(den === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
        .as("heaps_beta"))
      tok.crossJoin(broadcast(beta))
        .select(col("source"), col("n_tokens"), col("n_types"),
          (col("n_types").cast("double") / col("n_tokens").cast("double"))
            .as("ttr"),
          col("heaps_beta"))
    }),

    // L164: stopword-density drift — per source, the stopword token
    // share with its 95% Wilson band (q155's error-bar discipline on
    // q21's quality signal): the screen that catches a source whose
    // text register shifted (scraped boilerplate, code, another
    // language) even when mean length looks fine.
    "q181_stopword_density" -> ((s, dir) => {
      // Token and stopword totals fold from the session tf artifact:
      // n_tokens = Σtf per source, n_stop = Σtf over the stopword terms
      // — same integers as the per-doc size/filter sums.
      val agg = docTerms(s, dir)
        .groupBy(col("source"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(when(col("term").isin(Stopwords: _*), col("tf"))
            .otherwise(0L)).as("n_stop"))
      wilsonRates(agg, "source", "n_tokens", "n_stop", "stop_share")
    }),

    // L165: cohort LTV triangle — per acquisition-month cohort, the
    // CUMULATIVE revenue per customer at each month-since-acquisition
    // (the lifetime-value curve; q74 counts actors, this follows the
    // money). Integer month ordinals (year·12+month — no interval
    // arithmetic to diverge on), exact cents, the cumulative window
    // runs over the cohort×months table (bounded), one division per
    // cell.
    "q182_cohort_ltv" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .as("__m"),
        floor(col("o_totalprice") * 100.0).cast("long").as("__cents"))
      val cohort = o.groupBy(col("o_custkey"))
        .agg(min(col("__m")).as("__cm"))
      val cells = o.join(cohort, "o_custkey")
        .groupBy(col("__cm"), (col("__m") - col("__cm")).as("months_since"))
        .agg(sum(col("__cents")).as("__rev"),
          countDistinct(col("o_custkey")).as("n_active"))
      val wCum = Window.partitionBy(col("__cm")).orderBy(col("months_since"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("__cm"))
      cells
        .withColumn("cum_cents", sum(col("__rev")).over(wCum))
        .withColumn("cohort_size",
          max(when(col("months_since") === 0, col("n_active"))).over(wAll))
        .select(col("__cm").as("cohort_month"), col("months_since"),
          col("n_active"), col("__rev").as("rev_cents"), col("cum_cents"),
          col("cohort_size"),
          (col("cum_cents").cast("double") /
            col("cohort_size").cast("double")).as("ltv_cents_per_customer"))
    }),

    // L166: segment-migration matrix — each actor's monetary quartile
    // (q164's exact discrete thresholds, computed PER PERIOD) in the
    // first vs second half of the corpus window, censused as the 4×4
    // migration matrix plus appeared/disappeared margins. The question
    // a retention team asks after any intervention: who moved tiers?
    "q183_segment_migration" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("__us"),
          floor(coalesce(col("value"), lit(0.0)) * 100.0).cast("long")
            .as("__c"))
        .localCheckpoint()
      val mid = ev.agg(expr("(min(__us) + max(__us)) div 2").as("__mid"))
      val quart = Seq(("q1", 1, 4), ("q2", 1, 2), ("q3", 3, 4))
      def period(cmp: Column => Column, out: String): DataFrame = {
        val p = ev.crossJoin(broadcast(mid)).filter(cmp(col("__us")))
          .groupBy(col("user_id")).agg(sum(col("__c")).as("__m"))
          .localCheckpoint()
        val th = An.discreteQuantiles(p, col("__m"), quart)
        p.crossJoin(broadcast(th))
          .select(col("user_id"), (lit(1) +
            when(col("__m") > col("q1"), 1).otherwise(0) +
            when(col("__m") > col("q2"), 1).otherwise(0) +
            when(col("__m") > col("q3"), 1).otherwise(0)).as(out))
      }
      val a = period(u => u < col("__mid"), "code_a")
      val b = period(u => u >= col("__mid"), "code_b")
      a.join(b, Seq("user_id"), "full_outer")
        .groupBy(coalesce(col("code_a"), lit(0)).as("code_a"),
          coalesce(col("code_b"), lit(0)).as("code_b"))
        .agg(count(lit(1)).as("n_actors"))
    }),

    // L167: bucketed graph serving — the write-once-shuffle strategy
    // applied to the co-purchase graph: the symmetric edge list lands
    // BUCKETED BY NODE (the write pays the one exchange), and every
    // degree-style read after is exchange-free (plan-pinned zero
    // shuffles before the top-k) — the layout a graph-serving store
    // keeps at 100 TB so per-node reads never re-shuffle the edges.
    "q184_bucketed_degrees" -> ((s, dir) =>
      // Served off the session DEGREE artifact (the q185 discipline):
      // the artifact build IS the exchange-free bucket-riding aggregate
      // this query demonstrates, so re-running it per query only
      // re-paid the scan — a top-20 TakeOrdered over |V| rows remains.
      degreeTable(s, dir)
        .select(col("node"), col("deg").as("degree"))
        .orderBy(col("degree").desc, col("node")).limit(20)),

    // L168: degree-distribution power-law fit — is the co-purchase
    // graph scale-free? ilog2-binned degree histogram with a global OLS
    // slope over (ilog2 degree, ilog2 node-count) — the L117/Zipf/Heaps
    // quantization discipline (no libm on data); completes the graph
    // census family (q84 shape, q166 local structure, q170 mixing,
    // q185 tail).
    "q185_degree_powerlaw" -> ((s, dir) => {
      // Degrees read off the session degree artifact — a
      // node-cardinality checkpoint scan, no edge rescan (VERDICT r11
      // #5; the artifact build itself rides the bucket layout).
      val hist = degreeTable(s, dir)
        .select(col("node"), col("deg").as("__d"))
        .groupBy(T.ilog2(col("__d")).cast("long").as("log2_degree"))
        .agg(count(lit(1)).as("n_nodes"), min(col("__d")).as("min_degree"),
          max(col("__d")).as("max_degree"))
        .localCheckpoint()
      val pts = hist.select(col("log2_degree").as("__x"),
        T.ilog2(col("n_nodes")).cast("long").as("__y"))
      val st = pts.agg(count(lit(1)).as("__k"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      val den = col("__k") * col("__sxx") - col("__sx") * col("__sx")
      val num = col("__k") * col("__sxy") - col("__sx") * col("__sy")
      val slope = st.select(when(den === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
        .as("powerlaw_slope"))
      hist.crossJoin(broadcast(slope))
    }),

    // Item-item co-occurrence kNN — the serving artifact a recommender
    // reads ("customers who bought X also bought ..."): per part, top-3
    // peers by damped co-occurrence w/√(s(a)·s(b)) (cosine-style
    // normalization so promiscuous hub items don't dominate every
    // list), read entirely off the WEIGHTED bucketed table: weighted
    // degrees are an exchange-free groupBy(node), the score is one
    // pinned-order double over exact integers, top-3 is one
    // group-partitioned window. (s(a)·s(b) stays a long: weighted
    // degrees cap near 1e9 at 100 TB, the product inside 2⁶³.)
    "q187_item_similarity" -> ((s, dir) =>
      itemKnnTable(s, dir)
        .select(col("node"), col("rank"), col("peer"), col("score"))),

    // Order→ship latency quantiles — the SLA census per order priority:
    // one orderkey equi-join (fact-fact, hash-partitioned both sides,
    // AQE-sized), gaps as exact integer DAYS (µs difference floor-div —
    // the non-negativity filter runs on the RAW µs so truncating and
    // flooring division can never disagree), then interpolated
    // p50/p90/p99 off the bounded groupedQuantilesCont histogram (the
    // day domain is calendar-bounded, never corpus-sized).
    "q188_ship_latency_quantiles" -> ((s, dir) => {
      val gaps = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .transform(joinOrderPriority(s, dir))
        .filter(unix_micros(col("l_shipdate")) >=
          unix_micros(col("o_orderdate")))
        .select(col("o_orderpriority"),
          expr("(unix_micros(l_shipdate) - unix_micros(o_orderdate)) " +
            "div 86400000000").as("gap_days"))
      An.groupedQuantilesCont(gaps, col("o_orderpriority"),
          col("gap_days"),
          Seq(("p50_days", 1, 2), ("p90_days", 9, 10),
            ("p99_days", 99, 100)))
        .select(col("grp").as("o_orderpriority"), col("n").as("n_items"),
          col("p50_days"), col("p90_days"), col("p99_days"))
    }),

    // BFS reachability layers — how much of the co-purchase graph sits
    // within k hops of its smallest part id: a bounded-horizon frontier
    // walk (4 rounds of semi-join + anti-join off the bucketed table),
    // censused by distance with the unreached remainder as dist −1. The
    // graph-traversal capability (distance, not just components) the
    // family lacked; the DuckDB twin is a bounded recursive CTE.
    "q189_bfs_layers" -> ((s, dir) =>
      // Frontier expansion off the |V|-row adjacency artifact (r18):
      // each round reads node-scale rows and explodes only the
      // frontier's cells, instead of re-scanning the 2|E| edge frame.
      G.bfsLayersAdjPrepared(symAdjFrame(s, dir),
          degreeTable(s, dir).select(col("node")),
          coPurchaseNodeCount(s, dir), rounds = 4)
        .orderBy(col("dist"))),

    // Feature-store snapshot — the per-actor training-feature row an ML
    // pipeline materializes at a cut timestamp: recency in days against
    // the CORPUS horizon (backfill-safe, the q164 convention),
    // multi-window activity counts (7d/30d), and 30-day monetary in
    // exact integer cents. ONE combinable groupBy(actor) + a 1-row
    // horizon broadcast — no windows, no per-actor sort; the raw-µs
    // recency difference is non-negative by construction so floor and
    // truncating division agree.
    "q190_feature_snapshot" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("__us"),
          coalesce((col("value").cast("decimal(12,2)") * lit(100))
            .cast("long"), lit(0L)).as("__cents"))
      val horizon = ev.agg(max(col("__us")).as("__h"))
      ev.crossJoin(broadcast(horizon))
        .groupBy(col("user_id"))
        .agg(max(col("__us")).as("__last"), max(col("__h")).as("__hh"),
          count(lit(1)).as("n_total"),
          sum(when(col("__us") > col("__h") - lit(604800000000L), 1L)
            .otherwise(0L)).as("n_7d"),
          sum(when(col("__us") > col("__h") - lit(2592000000000L), 1L)
            .otherwise(0L)).as("n_30d"),
          sum(when(col("__us") > col("__h") - lit(2592000000000L),
            col("__cents")).otherwise(0L)).as("cents_30d"))
        .select(col("user_id"),
          expr("(__hh - __last) div 86400000000").as("r_days"),
          col("n_total"), col("n_7d"), col("n_30d"), col("cents_30d"))
    }),

    // Personalized PageRank over the co-purchase graph — the teleport
    // mass pinned to a deterministic seed segment (every 50th part id):
    // the "rank relative to MY interests" a recommender serves, in the
    // same scaled-integer arithmetic as q109 so 3 iterations are exact
    // and the oracle unrolls them CTE-for-CTE. Top 20 by personalized
    // rank.
    "q191_personalized_pagerank" -> ((s, dir) =>
      G.personalizedPageRankAdjPrepared(symAdjFrame(s, dir),
          degreeTable(s, dir).select(col("node"), col("deg").as("outdeg")),
          coPurchaseNodeCount(s, dir), n => pmod(n, lit(50L)) === 0,
          iters = 3, scale = 1000000000L)
        .orderBy(col("rank").desc, col("node").asc).limit(20)
        .select(col("node").as("part"), col("rank"),
          col("outdeg").as("degree"))),

    // Per-customer recommendations — the serving JOIN a recommender
    // actually runs: customer purchase history ⋈ the item-kNN table
    // (q187's top-3-per-part artifact, NOT the full edge list — the
    // kNN cap is what bounds fan-out to |history|·k when a hub item
    // has 10⁶ co-purchase neighbors at 100 TB), already-bought
    // candidates anti-joined away, scored by the EXACT integer
    // co-occurrence sum Σw (doubles never cross an aggregation
    // boundary: the damped double only ORDERS the kNN edges, same as
    // q187, and the oracle replays the identical arithmetic), top-5
    // per customer by (score desc, part asc).
    "q192_user_recommendations" -> ((s, dir) => {
      val knn0 = itemKnnTable(s, dir).select(col("node"), col("peer"),
        col("w"))
      // ≤ 3|V| rows by construction, but the checkpoint scan carries no
      // stats, so Catalyst plans the candidate join as a shuffle join —
      // re-exchanging the history frame by part (the q198 plan read,
      // r13). Broadcast under the q195/q198 |V| count guard instead.
      val knn =
        if (coPurchaseNodeCount(s, dir) <= KnnBroadcastMaxNodes)
          broadcast(knn0)
        else knn0
      // The history frame is the session PURCHASE-HISTORY artifact
      // (r15): the candidate join AND the already-bought anti-join read
      // its checkpoint — the lineitem scan (the biggest table at
      // 100 TB) runs once per SESSION, at artifact-build time, not once
      // per run (plan-pinned: PlanShapeSpec's q187/q192 scan-once
      // assertion).
      val bought = custPartOrders(s, dir)
        .select(col("cust"), col("part"))
      val cand = bought.join(knn, bought("part") === knn("node"))
        .groupBy(col("cust"), col("peer"))
        .agg(sum(col("w")).as("score"), count(lit(1)).as("n_paths"))
      val fresh = cand.join(
        bought.select(col("cust"), col("part").as("peer")),
        Seq("cust", "peer"), "left_anti")
      R.topKPerGroup(fresh, Seq("cust"),
          Seq(col("score").desc, col("peer")), 5, "rank")
        .select(col("cust").as("c_custkey"), col("rank"),
          col("peer").as("part"), col("score"), col("n_paths"))
    }),

    // Retention triangle — the cohort × age matrix every growth
    // dashboard starts from: users cohorted by first-activity week
    // (absolute epoch weeks — integer µs floor-div, no calendar
    // library), n_active = users from that cohort active age weeks
    // later. All exact integers off one distinct (user, week) frame;
    // the rate is ONE final division. Cohort sizes are a weeks-count
    // table — broadcast back onto the triangle.
    "q193_retention_triangle" -> ((s, dir) => {
      val uw = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("wk"))
        .distinct()
      val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("fw"))
      val coh = first.groupBy(col("fw"))
        .agg(count(lit(1)).as("cohort_size"))
      uw.join(first, "user_id")
        .groupBy(col("fw"), (col("wk") - col("fw")).as("age_weeks"))
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(coh), "fw")
        .select(col("fw").as("cohort_week"), col("age_weeks"),
          col("n_active"), col("cohort_size"),
          (col("n_active").cast("double") /
            col("cohort_size").cast("double")).as("retention"))
    }),

    // Incremental kNN maintenance — the index-refresh shape a serving
    // store runs when a DELTA of orders lands (every 37th order, the
    // delta-sided discipline of q85): a damped score w/√(s_n·s_p) is
    // stale exactly where w or an endpoint degree changed, so the
    // affected set is the delta-touched parts PLUS their one-hop
    // neighbors, and the kNN recompute reads only edges INCIDENT to
    // that set — maintenance cost proportional to the delta's
    // neighborhood, never |V|. Result rows are bit-identical to the
    // full rebuild restricted to the affected set (the twin IS that
    // restriction).
    "q195_incremental_knn" -> ((s, dir) => {
      val sym = coPurchaseSymFrame(s, dir)
      // The delta seed off the session HOLDOUT artifact (r15 — VERDICT
      // r14 #3): the every-37th split is the same fixture q198
      // evaluates against, derived once per session, not per run.
      val deltaParts = holdoutParts(s, dir)
      val affected = sym
        .join(broadcast(deltaParts.select(col("node").as("peer"))),
          Seq("peer"), "left_semi")
        .select(col("node"))
        .union(deltaParts).distinct()
        .localCheckpoint(true)
      // Delta parts are delta-bounded, but the 1-hop closure can
      // approach |V| on a dense graph — broadcast only while it fits
      // (10M nodes, the GraphOps rank budget); past that the semi-join
      // rides an AQE shuffle.
      val affSide =
        if (affected.count() <= DeltaBroadcastMaxRows) broadcast(affected)
        else affected
      val wdeg = degreeTable(s, dir)
        .select(col("node"), col("wdeg").as("__s"))
      val scored = sym
        .join(affSide, Seq("node"), "left_semi")
        .join(wdeg, "node")
        .join(wdeg.select(col("node").as("peer"), col("__s").as("__sp")),
          "peer")
        .select(col("node"), col("peer"),
          (col("w").cast("double") /
            sqrt((col("__s") * col("__sp")).cast("double"))).as("score"))
      R.topKPerGroup(scored, Seq("node"),
          Seq(col("score").desc, col("peer")), 3, "rank")
        .select(col("node"), col("rank"), col("peer"), col("score"))
    }),

    // A/B experiment readout — users deterministically split by id
    // parity, conversion = any purchase event; the two-proportion
    // z-statistic every experimentation platform prints, assembled from
    // four exact integers with the division/sqrt order pinned
    // identically in the twin. One combinable actor pass + a 1-row
    // reduce.
    "q196_ab_readout" -> ((s, dir) => {
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("conv"))
        .select(pmod(col("user_id"), lit(2L)).as("arm"), col("conv"))
      users.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_ctl"),
          sum(when(col("arm") === 0, col("conv")).otherwise(0L))
            .as("conv_ctl"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_trt"),
          sum(when(col("arm") === 1, col("conv")).otherwise(0L))
            .as("conv_trt"))
        .select(col("n_ctl"), col("conv_ctl"), col("n_trt"),
          col("conv_trt"),
          when(col("n_ctl") > 0, col("conv_ctl").cast("double") /
            col("n_ctl").cast("double")).as("rate_ctl"),
          when(col("n_trt") > 0, col("conv_trt").cast("double") /
            col("n_trt").cast("double")).as("rate_trt"))
        .select(col("*"),
          (col("rate_trt") - col("rate_ctl")).as("abs_lift"),
          // Degenerate-variance guard (the shapeMoments discipline): an
          // empty arm or an all-/never-converting experiment reads null,
          // identically on both engines — and the when() also keeps
          // Spark's fused agg+project codegen from tripping ANSI
          // DIVIDE_BY_ZERO on the initial buffer row.
          when(col("n_ctl") > 0 && col("n_trt") > 0 &&
              col("conv_ctl") + col("conv_trt") > 0 &&
              col("conv_ctl") + col("conv_trt") < col("n_ctl") + col("n_trt"),
            (col("rate_trt") - col("rate_ctl")) /
              sqrt(((col("conv_ctl") + col("conv_trt")).cast("double") /
                  (col("n_ctl") + col("n_trt")).cast("double")) *
                (lit(1.0) -
                  (col("conv_ctl") + col("conv_trt")).cast("double") /
                    (col("n_ctl") + col("n_trt")).cast("double")) *
                (lit(1.0) / col("n_ctl").cast("double") +
                  lit(1.0) / col("n_trt").cast("double")))).as("z_score"))
    }),

    // Small-file compaction planner — the metadata-side ops query every
    // lake runs: census ROWS PER FILE over an over-partitioned hive tree
    // (input_file_name groupBy — map-side partials, file-cardinality
    // output), then NEXT-FIT bin-packing by cumulative rows in path
    // order: bin = (cum − rows) div target. The plan a compactor
    // executes; the DuckDB twin globs the SAME files with
    // filename=true. The single-partition window runs over FILE
    // metadata (40 leaves here; file counts, not row counts, at
    // 100 TB — and a lake's file census is exactly the thing that must
    // fit in one place for a compactor to plan at all).
    "q197_compaction_plan" -> ((s, dir) => {
      val path = partFilesExport(s, dir)
      val files = s.read.parquet(path)
        .select(regexp_replace(input_file_name(),
          lit(s"^.*$PartFilesBase[^/]*/"), lit("")).as("f"))
        .groupBy(col("f")).agg(count(lit(1)).as("n"))
      files
        .withColumn("cum",
          sum(col("n")).over(Window.orderBy(col("f"))))
        .select((expr("(cum - n) div 4000")).as("bin"), col("n"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("n")).as("n_rows"))
    }),

    // Offline recommender evaluation — the holdout readout that decides
    // whether q192's serving join ships: train the item-kNN on the BASE
    // orders only (every-37th held out, the q195 delta), recommend
    // top-5 per customer from base history, score against what those
    // customers ACTUALLY bought in the held-out orders. Reported as a
    // precision-at-rank census (rank → n_recs, n_hits, hit_rate): all
    // integers + one division per rank row — no mean-of-doubles NDCG
    // whose summation order diverges cross-engine; any discounted
    // metric derives from these five rows.
    "q198_rec_eval" -> ((s, dir) => {
      // The base-trained kNN is the SESSION ARTIFACT [[baseKnnTable]]
      // since r16 (VERDICT r15 #2): the holdout is deterministic, so
      // the base index is corpus-pure — a run pays only the candidate
      // join + anti-join + census off the ≤ 3|V|-row checkpoint, the
      // exact lifecycle of q187's serving index.
      val knn0 = baseKnnTable(s, dir)
      // ≤ 3|V| rows by construction, and it reads from a checkpoint
      // leaf AQE cannot size, so without the hint the candidate join
      // plans as an SMJ — which would re-exchange the bought table by
      // part. Broadcast under the |V| guard instead.
      val knn =
        if (coPurchaseNodeCount(s, dir) <= KnnBroadcastMaxNodes)
          broadcast(knn0)
        else knn0
      // The base-trained purchase history off the session artifact's
      // EXISTS slice (r15): n_all > n_hold ⟺ the (cust, part) pair has
      // at least one lineitem row in a base (non-held-out) order —
      // exactly the former base-slice join + distinct, now a map-side
      // filter over the checkpoint shared with q192. Both consumers
      // (cand, the anti-join) read the same checkpoint blocks.
      val boughtB = custPartOrders(s, dir)
        .filter(col("n_all") > col("n_hold"))
        .select(col("cust"), col("part"))
      val cand = boughtB.join(knn, boughtB("part") === knn("node"))
        .groupBy(col("cust"), col("peer"))
        .agg(sum(col("w")).as("score"))
      val recs = R.topKPerGroup(
        cand.join(boughtB.select(col("cust"), col("part").as("peer")),
          Seq("cust", "peer"), "left_anti"),
        Seq("cust"), Seq(col("score").desc, col("peer")), 5, "rank")
      // Off the history artifact's n_hold > 0 slice — a map-side filter
      // over the checkpoint, identical to the former dPairs⋈orders +
      // distinct (each held-out (ok, pk) lands exactly one history row
      // with n_hold ≥ 1). Row count ≤ |dPairs| by construction, so the
      // same count guard that sized dsym certifies the census-join
      // broadcast.
      // Renamed columns (not Dataset aliases): recs descends from the
      // SAME artifact checkpoint via boughtB, and identical attribute
      // ids across the join trip the ambiguous-self-join analyzer.
      val deltaBuy0 = custPartOrders(s, dir)
        .filter(col("n_hold") > 0)
        .select(col("cust").as("d_cust"), col("part").as("d_part"))
      val deltaBuy =
        if (holdoutPairCount(s, dir) <= DeltaBroadcastMaxRows)
          broadcast(deltaBuy0)
        else deltaBuy0
      recs.join(deltaBuy,
          recs("cust") === deltaBuy("d_cust") &&
            recs("peer") === deltaBuy("d_part"), "left_outer")
        .select(recs("rank"),
          when(deltaBuy("d_cust").isNotNull, 1L).otherwise(0L).as("hit"))
        .groupBy(col("rank"))
        .agg(count(lit(1)).as("n_recs"), sum(col("hit")).as("n_hits"))
        .select(col("rank"), col("n_recs"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_recs").cast("double"))
            .as("hit_rate"))
    }),

    // Embedding-space drift — did the vector distribution move between
    // two corpus halves? Cells are the 8-dim SIGN CUBE (256 cells, a
    // training-free LSH code both engines compute bit-identically from
    // the raw floats), halves split by vec_id parity; the statistic is
    // the total-variation distance assembled from EXACT integer
    // cross-products Σ|c_a·N_b − c_b·N_a| (one division at the end —
    // never a sum of per-cell doubles, whose order diverges). The
    // index-health monitor an embedding store runs per ingest batch.
    "q199_embedding_drift" -> ((s, dir) => {
      val cellBits = (0 until 8).map { i =>
        when(element_at(col("embedding"), i + 1) > 0f,
          lit(1L << (7 - i))).otherwise(lit(0L))
      }.reduce(_ + _)
      val cells = t(s, dir, "embeddings")
        .select(pmod(col("vec_id"), lit(2L)).as("half"),
          cellBits.as("cell"))
        .groupBy(col("cell"))
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("cb"))
      val all = Window.partitionBy()
      cells
        .withColumn("na", sum(col("ca")).over(all))
        .withColumn("nb", sum(col("cb")).over(all))
        .agg(count(lit(1)).as("n_cells"),
          max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          // ca·nb is a count CROSS-product: both factors scale with the
          // vector corpus (~4e11² ≈ 1e23 at 100 TB), so the TVD
          // numerator sums in decimal(38,0) — the e4-money discipline
          // applied to count algebra (LongSumAuditSpec).
          sum(abs(col("ca").cast("decimal(38,0)") *
              col("nb").cast("decimal(38,0)") -
            col("cb").cast("decimal(38,0)") *
              col("na").cast("decimal(38,0)")))
            .as("__x"))
        .select(col("n_cells"), col("n_a"), col("n_b"),
          (col("__x").cast("double") /
            (lit(2.0) * col("n_a").cast("double") *
              col("n_b").cast("double"))).as("tvd"))
    }),

    // Corpus release manifest — the one-page artifact a dataset release
    // ships: every document routed through the curation gate (validity
    // + quality window), exact-dup groups collapsed to their min-id
    // keeper, survivors split train/val/test by deterministic id
    // residue, and each split summarized as counts + an ORDER-INVARIANT
    // release fingerprint (bit_xor over 60-bit sha256 prefixes — the
    // same manifest recomputes bit-identically from any replica, in any
    // row order, which is the whole point of a manifest). One corpus
    // scan + one hash-group keeper join.
    "q200_release_manifest" -> ((s, dir) => {
      val h = sha2(concat(col("lang"), lit("\u001f"),
        lower(trim(col("text")))), 256)
      val flagged = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), h.as("__h"),
          (col("text").isNotNull && length(trim(col("text"))) > 0 &&
            col("lang").isNotNull &&
            col("n_chars").between(20, 100000)).as("__ok"))
      val keeper = flagged.filter(col("__ok"))
        .groupBy(col("__h")).agg(min(col("doc_id")).as("__keep"))
      flagged.join(keeper, Seq("__h"), "left")
        .select(col("n_chars"), col("__h"),
          when(!col("__ok"), lit("_rejected"))
            .when(col("doc_id") =!= col("__keep"), lit("_rejected"))
            .when(pmod(col("doc_id"), lit(10L)) < 8, lit("train"))
            .when(pmod(col("doc_id"), lit(10L)) === 8, lit("val"))
            .otherwise(lit("test")).as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
          bit_xor(expr("CAST(conv(substring(__h, 1, 15), 16, 10) " +
            "AS BIGINT)")).as("fingerprint"))
    }),

    // Watermark-sizing audit — the number a streaming deployment needs
    // BEFORE it picks `withWatermark`: how late does event time arrive
    // relative to ARRIVAL order (event_id is the ingest sequence)?
    // Per type, lateness = running-max(event time over everything that
    // arrived before me) − my event time, censused by floor-log2
    // millisecond bucket (ilog2 — exact integers, the Zipf/Heaps
    // quantization discipline) with in-order arrivals as bucket −1.
    // Read the p99 bucket off this census and you have the watermark
    // delay that bounds state while dropping <1% of late data. One
    // arrival-ordered window per type, one bounded census.
    "q201_watermark_audit" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val late = t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("__us"))
        .select(col("event_type"),
          (max(col("__us")).over(w) - col("__us")).as("__late_us"))
        .select(col("event_type"),
          when(col("__late_us").isNull || col("__late_us") <= 0, lit(-1))
            .otherwise(T.ilog2(expr("__late_us div 1000") + 1))
            .as("bucket"),
          col("__late_us"))
      late.groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n_events"),
          max(expr("CASE WHEN __late_us > 0 THEN __late_us div 1000 " +
            "ELSE 0 END")).as("max_late_ms"))
    }),

    // ——— The TPC-H classics (adapted to this corpus's columns) — the
    // recognizable star-join yardstick, run in the repo's exact-integer
    // discipline: money in cents, discount/tax in basis points (both
    // via round() — DuckDB's double→int CAST rounds while Spark's
    // truncates, so the explicit round() is what keeps the engines on
    // the same integer), every sum exact, one division or double-cast
    // per output column. ———

    // TPC-H Q1: pricing summary report. disc_price/charge accumulate as
    // exact integers in decimal(38,0) — their e4/e8-scaled group sums
    // pass 2⁶³ at corpus scale (disc_price ≈ 1e11/row wraps a LongType
    // sum near 1e8 rows/group, i.e. ~sf150) — then ONE double cast each,
    // matching the oracle's HUGEINT-sum→DOUBLE route bit for bit.
    "q202_tpch_q1" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(expr("l_shipdate <= TIMESTAMP'1998-09-02 00:00:00'"))
        .select(col("l_returnflag"), col("l_linestatus"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
          priceCents.as("cents"),
          expr("CAST(round(l_discount * 10000) AS BIGINT)").as("dbp"),
          expr("CAST(round(l_tax * 10000) AS BIGINT)").as("tbp"))
      l.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("qty")).as("sum_qty"),
          sum(col("cents")).as("sum_base_cents"),
          sum((col("cents") * (lit(10000L) - col("dbp")))
              .cast("decimal(38,0)"))
            .cast("double").as("sum_disc_price_e4"),
          sum(col("cents").cast("decimal(38,0)") *
            (lit(10000L) - col("dbp")).cast("decimal(38,0)") *
            (lit(10000L) + col("tbp")).cast("decimal(38,0)"))
            .cast("double").as("sum_charge_e8"),
          sum(col("dbp")).as("__sd"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
          col("sum_base_cents"), col("sum_disc_price_e4"),
          col("sum_charge_e8"),
          (col("sum_qty").cast("double") /
            col("count_order").cast("double")).as("avg_qty"),
          (col("sum_base_cents").cast("double") /
            col("count_order").cast("double")).as("avg_cents"),
          (col("__sd").cast("double") /
            col("count_order").cast("double")).as("avg_disc_bp"),
          col("count_order"))
    }),

    // TPC-H Q3: shipping-priority top-10 (o_orderpriority stands in for
    // the missing o_shippriority), tie-broken (revenue desc, orderdate,
    // orderkey).
    "q203_tpch_q3" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .filter(expr("o_orderdate < TIMESTAMP'1998-03-15 00:00:00'"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = t(s, dir, "lineitem")
        .filter(expr("l_shipdate > TIMESTAMP'1998-03-15 00:00:00'"))
        .select(col("l_orderkey"), revE4.as("rev"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum(col("rev")).as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("o_orderdate"),
          col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5: local-supplier volume in ASIA for 1996 — the 6-table
    // star join with the c_nationkey = s_nationkey locality predicate.
    "q204_tpch_q5" -> ((s, dir) => {
      val asia = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val o = t(s, dir, "orders")
        .filter(expr("o_orderdate >= TIMESTAMP'1996-01-01 00:00:00'") &&
          expr("o_orderdate < TIMESTAMP'1997-01-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_custkey"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), revE4.as("rev"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .transform(joinCustomer(s, dir))
        .join(broadcast(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        // per-nation group scales with the corpus: sum in decimal(38,0)
        // (a LongType sum of ~1e11/row products wraps at 100-TB scale),
        // then ONE double cast, twinning the oracle's HUGEINT sum.
        .agg(sum(col("rev").cast("decimal(38,0)"))
          .cast("double").as("revenue_e4"))
    }),

    // TPC-H Q6: forecasting revenue change — one pushed-down filter +
    // one exact integer sum, the minimal scan-dominated query.
    "q205_tpch_q6" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(expr("l_shipdate >= TIMESTAMP'1996-01-01 00:00:00'") &&
          expr("l_shipdate < TIMESTAMP'1997-01-01 00:00:00'") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        // single corpus-scale group: decimal(38,0) sum (LongType wraps
        // at ~1e10 filtered rows), ONE double cast at the end.
        .agg(sum((priceCents *
            expr("CAST(round(l_discount * 10000) AS BIGINT)"))
            .cast("decimal(38,0)"))
          .cast("double").as("revenue_e4"),
          count(lit(1)).as("n_lines"))),

    // TPC-H Q10: returned-item reporting — top-20 customers by revenue
    // lost to returns in 1997Q4, tie-broken by custkey.
    "q206_tpch_q10" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(expr("o_orderdate >= TIMESTAMP'1997-10-01 00:00:00'") &&
          expr("o_orderdate < TIMESTAMP'1998-01-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_custkey"))
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), revE4.as("rev"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
              col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(nationNames(s, dir), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(sum(col("rev")).as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q4 (adapted): order-priority checking — orders in 1996Q1
    // with at least one LATE line (shipped > 60 days after the order
    // date; the corpus has no commit/receipt dates), as a left-semi
    // join whose condition spans both sides. The EXISTS-subquery shape.
    "q207_tpch_q4" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(expr("o_orderdate >= TIMESTAMP'1996-01-01 00:00:00'") &&
          expr("o_orderdate < TIMESTAMP'1996-04-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          unix_micros(col("l_shipdate")) >
            unix_micros(col("o_orderdate")) + lit(5184000000000L),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // TPC-H Q7: volume shipping between two nations — revenue per
    // (supplier nation, customer nation, ship year) for the
    // NATION_1/NATION_2 pair, both directions.
    "q208_tpch_q7" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"), revE4.as("rev"))
        .transform(joinTradeNations(s, dir))
        .filter((col("s_nationkey") === 1 && col("c_nationkey") === 2) ||
          (col("s_nationkey") === 2 && col("c_nationkey") === 1))
        .groupBy(col("s_nationkey").as("supp_nation"),
          col("c_nationkey").as("cust_nation"), col("l_year"))
        // (nation-pair, year) groups scale with the corpus →
        // decimal(38,0) sum, ONE double cast (HUGEINT twin).
        .agg(sum(col("rev").cast("decimal(38,0)"))
          .cast("double").as("revenue_e4"))),

    // TPC-H Q14: promo revenue share for one ship month — exact integer
    // numerator and denominator, the share as ONE division.
    "q209_tpch_q14" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(expr("l_shipdate >= TIMESTAMP'1996-03-01 00:00:00'") &&
          expr("l_shipdate < TIMESTAMP'1996-04-01 00:00:00'"))
        .select(col("l_partkey"), revE4.as("rev"))
        .transform(joinPartType(s, dir))
        // month-slice groups scale with the corpus → decimal(38,0)
        // sums, ONE double cast each; the share divides the two doubles
        // (both exactly rounded from the same integers in both engines).
        .agg(sum(when(col("p_type") === "PROMO", col("rev"))
            .otherwise(0L).cast("decimal(38,0)"))
            .cast("double").as("promo_rev_e4"),
          sum(col("rev").cast("decimal(38,0)"))
            .cast("double").as("total_rev_e4"))
        .select(col("promo_rev_e4"), col("total_rev_e4"),
          (lit(100.0) * col("promo_rev_e4") /
            col("total_rev_e4")).as("promo_pct"))),

    // TPC-H Q18: large-volume customers — orders whose total quantity
    // exceeds 250, with customer detail, top-20 by (totalprice desc,
    // orderdate, orderkey). The HAVING-subquery membership shape as a
    // semi-join against the aggregated order list.
    "q210_tpch_q18" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"),
          col("o_orderkey"))
        .limit(20)
    }),

    // TPC-H Q19: discounted revenue under brand/size/quantity bracket
    // disjunctions — the multi-predicate pushdown shape.
    "q211_tpch_q19" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), revE4.as("rev"))
        .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 21)) ||
          (col("p_brand") === "Brand#17" && col("p_size").between(1, 30) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#8" && col("p_size").between(1, 50) &&
            col("l_quantity").between(20, 40)))
        // single corpus-scale group → decimal(38,0) sum, ONE double cast.
        .agg(sum(col("rev").cast("decimal(38,0)"))
            .cast("double").as("revenue_e4"),
          count(lit(1)).as("n_lines"))),

    // TPC-H Q8: national market share — NATION_1's share of PROMO-part
    // revenue sold into ASIA, by order year; numerator and denominator
    // exact integers, the share ONE division per year row.
    "q212_tpch_q8" -> ((s, dir) => {
      val asiaCust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
            .join(broadcast(t(s, dir, "region")
                .filter(col("r_name") === "ASIA")
                .select(col("r_regionkey"))),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          revE4.as("rev"))
        .join(broadcast(t(s, dir, "part")
            .filter(col("p_type") === "PROMO").select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey"),
              year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"))
        .transform(joinSupplier(s, dir))
        .groupBy(col("o_year"))
        // per-year groups scale with the corpus → decimal(38,0) sums,
        // ONE double cast each; the share divides the two doubles.
        .agg(sum(col("rev").cast("decimal(38,0)"))
            .cast("double").as("total_e4"),
          sum(when(col("s_nationkey") === 1, col("rev")).otherwise(0L)
              .cast("decimal(38,0)"))
            .cast("double").as("nation1_e4"))
        .select(col("o_year"), col("total_e4"), col("nation1_e4"),
          (col("nation1_e4") / col("total_e4")).as("mkt_share"))
    }),

    // TPC-H Q15: top supplier — revenue per supplier over one quarter,
    // the max-revenue supplier(s) via a 1-row broadcast max (exact
    // integer ties surface ALL maximal suppliers, as the spec demands).
    "q213_tpch_q15" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(expr("l_shipdate >= TIMESTAMP'1996-01-01 00:00:00'") &&
          expr("l_shipdate < TIMESTAMP'1996-04-01 00:00:00'"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revE4).as("total_rev_e4"))
      rev.crossJoin(broadcast(rev.agg(max(col("total_rev_e4"))
          .as("__mx"))))
        .filter(col("total_rev_e4") === col("__mx"))
        .join(broadcast(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_e4"))
    }),

    // TPC-H Q17: small-quantity-order revenue — Brand#4 lines below
    // 20% of their part's average quantity. The fractional threshold
    // becomes the EXACT integer predicate 5·qty·n < Σqty (multiply
    // through by 5n — no 0.2·avg double ever exists to disagree on).
    "q214_tpch_q17" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .transform(joinPartsWhere(s, dir, col("p_brand") === "Brand#4"))
        .select(col("p_partkey"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
          priceCents.as("cents"))
      val stats = l.groupBy(col("p_partkey").as("__pk"))
        .agg(sum(col("qty")).as("__sq"), count(lit(1)).as("__n"))
      l.join(stats, col("p_partkey") === col("__pk"))
        .filter(lit(5L) * col("qty") * col("__n") < col("__sq"))
        .agg(sum(col("cents")).as("small_qty_cents"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q22 (adapted): lapsed prospective customers — above-average
    // balance (the average over positive balances, as the EXACT integer
    // predicate cents·n > Σcents) with NO orders in the corpus's final
    // window (every customer here has ordered at least once, so the
    // classic never-ordered predicate is vacuous); censused per nation.
    // Balances carried as integer cents so no double sums across rows.
    "q215_tpch_q22" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
      val pos = c.filter(col("bal_cents") > 0)
        .agg(sum(col("bal_cents")).as("__s"), count(lit(1)).as("__n"))
      c.crossJoin(broadcast(pos))
        .filter(col("bal_cents") * col("__n") > col("__s"))
        .join(t(s, dir, "orders")
            .filter(expr("o_orderdate >= TIMESTAMP'2000-01-01 00:00:00'"))
            .select(col("o_custkey")).distinct(),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_custs"),
          sum(col("bal_cents")).as("total_bal_cents"))
    }),

    // TPC-H Q13: customer order-count distribution — the left join that
    // must KEEP zero-order customers (an inner join silently drops the
    // c_count=0 bucket, the classic Q13 trap), counting only
    // non-excluded orders (the 5-LOW class stands in for the spec's
    // comment-pattern exclusion), then the distribution census.
    "q216_tpch_q13" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .join(t(s, dir, "orders")
            .filter(col("o_orderpriority") =!= "5-LOW")
            .select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))),

    // L169: weighted label-propagation communities over the co-purchase
    // graph — the DENSITY structure the component/k-core family can't
    // see (the co-purchase graph is one giant component; LPA splits it
    // into basket-cohesive clusters). Three deterministic synchronous
    // rounds (max-weight label, tie → min id) off the SAME bucketed
    // artifact the rest of the graph family serves from; reported as
    // the top-20 community census. [[GraphOps.labelPropagationPrepared]].
    "q217_label_propagation" -> ((s, dir) =>
      // The TABLE, not the checkpoint frame: LPA's per-round tally is
      // an EDGE-SCALE (node, lbl) aggregate that rides the bucket
      // distribution (satisfied as a superset of the node key); the
      // frame's UnknownPartitioning would re-shuffle 2|E| rows per
      // round. (An adjacency-explode variant was measured in r18 and
      // REJECTED: 2.89 → 4.66 s paired — the exploded tally loses the
      // exchange-free bucket ride.) Since r18 the bounded rounds chain
      // LAZILY in one action (no per-round checkpoints, no per-query
      // persist — see labelPropagationPrepared).
      G.labelPropagationPrepared(coPurchaseSymTable(s, dir),
          "node", "peer", "w", degreeTable(s, dir).select(col("node")),
          coPurchaseNodeCount(s, dir), 3)
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("community"))
        .limit(20)),

    // Skyline / Pareto frontier (Börzsönyi et al., ICDE 2001) — the
    // multi-objective SELECT the top-k family can't express: parts no
    // other part beats on BOTH price (cheaper) and size (bigger). The
    // domain-bounded two-phase shape (per-cents frontier → running-max
    // over the price domain → membership join) — never the O(n²)
    // dominance self-join. [[RelationalOps.skylineMinMax]];
    // property-pinned against brute-force dominance in PropertySpec.
    "q218_skyline" -> ((s, dir) =>
      R.skylineMinMax(
        t(s, dir, "part").select(col("p_partkey"),
          expr("CAST(round(p_retailprice * 100) AS BIGINT)")
            .as("price_cents"),
          col("p_size")),
        col("price_cents"), col("p_size"))),

    // Incremental JOIN-view maintenance — the delta algebra q91's
    // aggregate rollup doesn't exercise: when BOTH sides of a stored
    // join view V = O ⋈ C receive an insert batch, the maintenance
    // reads are delta-sided only — ΔV = ΔO ⋈ C ∪ O_old ⋈ ΔC (the
    // ΔO ⋈ ΔC cross term rides inside ΔO ⋈ C) — never a re-join of
    // the two full inputs. Batches: every-37th order + every-41st
    // customer; the view is per-(nation, status) exact-cents revenue;
    // the merged partials must equal the DuckDB full recompute — the
    // IVM correctness theorem AS the oracle check. ΔC attaches to the
    // corpus-scale old-orders side broadcast (count-guarded: a batch
    // is delta-bounded by construction).
    "q219_ivm_join_view" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val oldO = o.filter(pmod(col("o_orderkey"), lit(37L)) =!= 0)
      val dO = o.filter(pmod(col("o_orderkey"), lit(37L)) === 0)
      val oldC = c.filter(pmod(col("c_custkey"), lit(41L)) =!= 0)
      val dC = c.filter(pmod(col("c_custkey"), lit(41L)) === 0)
        .localCheckpoint(true)
      val dCSide =
        if (dC.count() <= DeltaBroadcastMaxRows) broadcast(dC) else dC
      def viewAgg(df: DataFrame): DataFrame =
        df.groupBy(col("c_nationkey"), col("o_orderstatus"))
          .agg(sum(col("cents")).as("sum_cents"),
            count(lit(1)).as("n_orders"))
      val base = viewAgg(oldO.join(oldC,
        col("o_custkey") === col("c_custkey")))
      val deltaNew = viewAgg(dO.join(c,
        col("o_custkey") === col("c_custkey")))
      val deltaDim = viewAgg(oldO.join(dCSide,
        col("o_custkey") === col("c_custkey")))
      base.unionByName(deltaNew).unionByName(deltaDim)
        .groupBy(col("c_nationkey"), col("o_orderstatus"))
        .agg(sum(col("sum_cents")).as("sum_cents"),
          sum(col("n_orders")).as("n_orders"))
    }),

    // L170: greedy maximum-coverage source selection — the submodular
    // curation question ("which 4 corpora buy the most content
    // diversity?") over word-3-gram coverage, the q39/q25 shingle
    // semantics. Four deterministic greedy rounds (max new shingles,
    // tie → min source); the covered set stays distributed, one argmax
    // row collects per round. [[SampleOps.greedyCoverageSelect]].
    "q220_coverage_select" -> ((s, dir) =>
      // (source, shingle) pairs read off the session trigram artifact
      // (the operator dedups internally, so the multiset rows and the
      // former per-doc-distinct rows reduce to the same relation).
      Sam.greedyCoverageSelect(
        docTerms3(s, dir).select(col("source"), col("term").as("sh")),
        col("source"), col("sh"), 4)),

    // CUPED-adjusted experiment readout (Deng, Xu, Kohavi & Walker,
    // WSDM 2013) — q196's readout with the variance-reduction step
    // every mature experimentation platform applies: per-user PRE-period
    // spend (the covariate X) regresses out of the POST-period metric Y
    // via θ = cov(X,Y)/var(X), pooled across arms. θ rides the q108
    // integer-sufficient-statistic discipline (decimal(38,0) cross
    // terms, ONE double division); the adjusted means assemble from
    // exact per-arm integers in a pinned operation order. Period split
    // = the q183 integer-midpoint rule (replayable, no wall clock);
    // degenerate var(X)=0 reads null on both engines.
    "q221_cuped_readout" -> ((s, dir) => {
      val per = abPerUser(s, dir, purchaseCents)
        .agg(sum(when(col("us") < col("mid"), col("cents"))
            .otherwise(0L)).as("x"),
          sum(when(col("us") >= col("mid"), col("cents"))
            .otherwise(0L)).as("y"))
        .select(pmod(col("user_id"), lit(2L)).as("arm"),
          col("x"), col("y"))
        .localCheckpoint(true) // two consumers: pooled θ + per-arm stats
      val D = "decimal(38,0)"
      val g = per.agg(count(lit(1)).as("n"),
        sum(col("x").cast(D)).as("sx"), sum(col("y").cast(D)).as("sy"),
        sum(col("x").cast(D) * col("x").cast(D)).as("sxx"),
        sum(col("x").cast(D) * col("y").cast(D)).as("sxy"))
      val arm = per.groupBy(col("arm")).agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sum_x_cents"), sum(col("y")).as("sum_y_cents"))
      val num = (col("n").cast(D) * col("sxy")
        - col("sx") * col("sy")).cast("double")
      val den = (col("n").cast(D) * col("sxx")
        - col("sx") * col("sx")).cast("double")
      val meanY = col("sum_y_cents").cast("double") /
        col("n_users").cast("double")
      val meanX = col("sum_x_cents").cast("double") /
        col("n_users").cast("double")
      val meanXAll = col("sx").cast("double") / col("n").cast("double")
      arm.crossJoin(broadcast(g))
        .select(col("arm"), col("n_users"), col("sum_x_cents"),
          col("sum_y_cents"), meanY.as("mean_y"),
          when(den > 0.0, num / den).as("theta"),
          when(den > 0.0, meanY - (num / den) * (meanX - meanXAll))
            .as("mean_y_cuped"))
    }),

    // Qini / uplift-by-decile readout (Radcliffe, "Using control groups
    // to target on predicted lift", 2007) — the targeting-model audit
    // that completes the q196/q221 experimentation family: rank users by
    // a pre-period activity score, cut into deciles, and read cumulative
    // incremental conversions (treatment minus scaled control) down the
    // ranking. Deciles are VALUE-CUT from a score histogram (the
    // discreteQuantiles discipline) — no global row sort, no ntile over
    // an unpartitioned window; after the one per-user shuffle everything
    // runs at (score, arm) granularity, which is bounded by the score
    // domain. All counts exact BIGINT; uplift/Qini assemble with pinned
    // double division order, null-guarded on empty arms.
    "q222_qini_deciles" -> ((s, dir) => {
      val per = abPerUser(s, dir, col("event_type"))
        .agg(sum(when(col("us") < col("mid"), 1L).otherwise(0L))
            .as("score"),
          abPostPurchase.as("conv"))
        .select(pmod(col("user_id"), lit(2L)).as("arm"),
          col("score"), col("conv"))
      // (score, arm) cells — the corpus is never re-joined; two
      // consumers (histogram + decile rollup) share the checkpoint.
      val cell = per.groupBy(col("score"), col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
        .localCheckpoint(true)
      // Value-cut decile per score: floor(10 * cum_before / total). The
      // windows run over the DISTINCT-SCORE histogram (bounded domain),
      // not the user set.
      val hw = Window.orderBy(col("score").desc)
      val dec = cell.groupBy(col("score")).agg(sum(col("n")).as("nv"))
        .select(col("score"),
          coalesce(sum(col("nv")).over(
            hw.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .as("cb"),
          sum(col("nv")).over(
            hw.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)).as("nt"))
        .select(col("score"),
          expr("(10 * cb) div nt").cast("long").as("decile"))
      val byDec = cell.join(broadcast(dec), "score")
        .groupBy(col("decile"))
        .agg(sum(when(col("arm") === 1L, col("n")).otherwise(0L))
            .as("n_t"),
          sum(when(col("arm") === 0L, col("n")).otherwise(0L)).as("n_c"),
          sum(when(col("arm") === 1L, col("c")).otherwise(0L))
            .as("conv_t"),
          sum(when(col("arm") === 0L, col("c")).otherwise(0L))
            .as("conv_c"))
      val cw = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, 0) // ≤ 10 rows
      byDec.select(col("decile"), col("n_t"), col("n_c"),
          col("conv_t"), col("conv_c"),
          sum(col("n_t")).over(cw).as("cn_t"),
          sum(col("n_c")).over(cw).as("cn_c"),
          sum(col("conv_t")).over(cw).as("cc_t"),
          sum(col("conv_c")).over(cw).as("cc_c"))
        .select(col("decile"), col("n_t"), col("n_c"), col("conv_t"),
          col("conv_c"), col("cn_t"), col("cn_c"), col("cc_t"),
          col("cc_c"),
          when(col("n_t") > 0L && col("n_c") > 0L,
            col("conv_t").cast("double") / col("n_t").cast("double") -
              col("conv_c").cast("double") / col("n_c").cast("double"))
            .as("uplift"),
          when(col("cn_c") > 0L,
            col("cc_t").cast("double") -
              col("cc_c").cast("double") * col("cn_t").cast("double") /
                col("cn_c").cast("double")).as("qini"))
    }),

    // Chi-squared test of independence (source × lang over documents) —
    // the categorical-association audit next to Cramér-adjacent
    // contingency (q86) and drift TVD (q79): exact BIGINT cell counts
    // and margins, expected counts via ONE double division from an
    // exact decimal(38,0) margin product, per-cell contribution
    // (o−e)²/e as pinned double ops, and the χ² TOTAL folded in sorted
    // cell order (the sqlDot discipline: list_reduce twin, 0.0 seed)
    // so partial-aggregation order can never perturb the sum. The cell
    // frame is the only shuffle; margins and the total ride broadcasts.
    "q223_chi2_independence" -> ((s, dir) => {
      val D = "decimal(38,0)"
      val o = t(s, dir, "documents")
        .filter(col("source").isNotNull && col("lang").isNotNull)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(true) // margins + cells + total share it
      val r = o.groupBy(col("source")).agg(sum(col("o")).as("r"))
      val c = o.groupBy(col("lang")).agg(sum(col("o")).as("c"))
      val nDf = o.agg(sum(col("o")).as("n"))
      val e = (col("r").cast(D) * col("c").cast(D)).cast("double") /
        col("n").cast("double")
      val dv = col("o").cast("double") - col("e")
      val k = o.join(broadcast(r), "source").join(broadcast(c), "lang")
        .crossJoin(broadcast(nDf))
        .select(col("source"), col("lang"), col("o"), col("r"), col("c"),
          e.as("e"))
        .withColumn("contrib", dv * dv / col("e"))
        .localCheckpoint(true) // consumed by the total and the output
      val tot = k.agg(
        expr("aggregate(array_sort(collect_list(struct(source, lang, " +
          "contrib))), 0.0D, (acc, x) -> acc + x.contrib)").as("chi2"),
        ((countDistinct(col("source")) - 1L) *
          (countDistinct(col("lang")) - 1L)).as("dof"))
      k.crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("o"), col("r"), col("c"),
          col("e"), col("contrib"), col("chi2"), col("dof"))
    }),

    // Priority sampling (Duffield, Lund & Thorup, JACM 2007) — weighted
    // sampling WITHOUT replacement with near-optimal subset-sum
    // variance: priority q = w/u with u uniform from the doc_id hash,
    // keep the top-k by q, and estimate with Horvitz-Thompson weight
    // max(w, τ) where τ is the (k+1)-th priority. Chosen over the
    // textbook A-ES scheme (key u^(1/w)) because the priority needs ONE
    // IEEE division — bit-stable across engines — where A-ES needs ln(),
    // which this repo bans as not bit-identical cross-engine (q156
    // precedent). Top-(k+1) runs as TakeOrdered (per-partition heaps +
    // driver merge of k+1 rows, no global sort, no single-reducer
    // window); ties break on doc_id.
    "q224_priority_sample" -> ((s, dir) => {
      val k = 100
      val d = t(s, dir, "documents").filter(col("n_chars") > 0L)
        .select(col("doc_id"), col("n_chars"),
          (col("n_chars").cast("double") /
            (conv(substring(md5(concat(lit("prio:"),
              col("doc_id").cast("string"))), 1, 12), 16, 10)
              .cast("long") + 1L).cast("double")).as("q"))
      val top = d.orderBy(col("q").desc, col("doc_id")).limit(k + 1)
        .localCheckpoint(true) // consumers: τ + the k-sample
      val tauDf = top.agg(min(col("q")).as("tau"))
      top.orderBy(col("q").desc, col("doc_id")).limit(k)
        .crossJoin(broadcast(tauDf))
        .select(col("doc_id"), col("n_chars"), col("q").as("priority"),
          col("tau"),
          greatest(col("n_chars").cast("double"), col("tau"))
            .as("ht_weight"))
    }),

    // Fellegi-Sunter record-linkage scoring (JASA 1969) — the
    // probabilistic step the blocked fuzzy matcher (q80) stops short
    // of: candidate pairs from (source, lang) blocks, per-field
    // agreement on a length bucket and the leading token, and the
    // match ODDS Π m/u (agree) vs (1−m)/(1−u) (disagree). u-probs are
    // estimated from the corpus EXACTLY — Σ n_v(n_v−1) / N(N−1) in
    // decimal(38,0) — and the odds stay a product of divisions in
    // fixed order (no log-weights: ln is not bit-stable cross-engine,
    // so the classic log2 weight sum is deliberately re-expressed as
    // odds). Blocked self-join (the L59 discipline) + two tiny
    // broadcast u-stats; top-200 by odds via TakeOrdered.
    "q225_fs_linkage" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .filter(col("source").isNotNull && col("lang").isNotNull &&
          col("text").isNotNull && col("n_chars").isNotNull)
        .select(col("doc_id"), col("source"), col("lang"),
          expr("n_chars div 100").as("f1"),
          element_at(split(col("text"), " "), 1).as("f2"))
        .localCheckpoint(true) // consumers: u1, u2, both join sides
      val nDf = base.agg(count(lit(1)).as("nn"))
      val D = "decimal(38,0)"
      def uStat(f: String, out: String): DataFrame =
        base.groupBy(col(f)).agg(count(lit(1)).as("nv"))
          .agg(sum(col("nv").cast(D) * (col("nv") - 1L).cast(D))
            .as("num"))
          .crossJoin(broadcast(nDf))
          .select((col("num").cast("double") /
            (col("nn").cast(D) * (col("nn") - 1L).cast(D))
              .cast("double")).as(out))
      val u1df = uStat("f1", "u1")
      val u2df = uStat("f2", "u2")
      // Count-guarded class enumeration (r12 scale probe: the
      // (source, lang) blocking has FIXED cardinality on this corpus, so
      // block sizes — and the pair join — grow quadratically; 23.8x wall
      // at 10x data). The top-200 is ordered by odds, and every
      // both-agree pair shares the MAXIMAL odds (0.9/u)(0.9/u') — strict
      // while u1, u2 < 0.9 — with ties broken by (a_id, b_id). So when
      // the both-agree class alone holds >= 200 pairs, the answer is
      // exactly the 200 id-smallest pairs of the FINE-GRAINED
      // (source, lang, f1, f2) self-join — near-linear blocks — and the
      // coarse join never runs. Guards are driver-side 1-row reads (the
      // broadcast-guard discipline); any failure falls back to the full
      // blocked join, so the output is identical by construction.
      // ONE guard action (VERDICT r13 #5: three separate plan-time
      // `.head` jobs): the three 1-row guard reads — u1, u2, and the
      // both-agree pair mass — cross-join into a single row. The
      // arithmetic trees are byte-identical to before (u1df/u2df are
      // the same frames the output branches broadcast), so the branch
      // decision cannot shift; only the job count drops 3 → 1.
      val guard = u1df.crossJoin(u2df)
        .crossJoin(base
          .groupBy(col("source"), col("lang"), col("f1"), col("f2"))
          .agg(count(lit(1)).as("nv"))
          .agg(sum(col("nv").cast(D) * (col("nv") - 1L).cast(D))
            .as("p2")))
        .head
      val u1v = if (guard.isNullAt(0)) 1.0 else guard.getDouble(0)
      val u2v = if (guard.isNullAt(1)) 1.0 else guard.getDouble(1)
      val bothPairsX2 =
        if (guard.isNullAt(2)) BigDecimal(0)
        else BigDecimal(guard.getDecimal(2))
      if (u1v < 0.9 && u2v < 0.9 && bothPairsX2 >= 400) {
        val a = base.select(col("doc_id").as("a_id"), col("source"),
          col("lang"), col("f1"), col("f2"))
        val b = base.select(col("doc_id").as("b_id"), col("source"),
          col("lang"), col("f1"), col("f2"))
        a.join(b, Seq("source", "lang", "f1", "f2"))
          .filter(col("a_id") < col("b_id"))
          .crossJoin(broadcast(u1df))
          .crossJoin(broadcast(u2df))
          .select(col("a_id"), col("b_id"), col("source"), col("lang"),
            lit(1L).as("agree_len"), lit(1L).as("agree_tok"),
            col("u1"), col("u2"),
            // same IEEE tree as the general expression's both-agree
            // branch: multiply(div(0.9,u1), div(0.9,u2))
            ((lit(0.9) / col("u1")) * (lit(0.9) / col("u2"))).as("odds"))
          .orderBy(col("odds").desc, col("a_id"), col("b_id")).limit(200)
      } else {
        val a = base.select(col("doc_id").as("a_id"), col("source"),
          col("lang"), col("f1").as("a_f1"), col("f2").as("a_f2"))
        val b = base.select(col("doc_id").as("b_id"), col("source"),
          col("lang"), col("f1").as("b_f1"), col("f2").as("b_f2"))
        a.join(b, Seq("source", "lang")).filter(col("a_id") < col("b_id"))
          .crossJoin(broadcast(u1df))
          .crossJoin(broadcast(u2df))
          .select(col("a_id"), col("b_id"), col("source"), col("lang"),
            when(col("a_f1") === col("b_f1"), 1L).otherwise(0L)
              .as("agree_len"),
            when(col("a_f2") === col("b_f2"), 1L).otherwise(0L)
              .as("agree_tok"),
            col("u1"), col("u2"))
          .select(col("a_id"), col("b_id"), col("source"), col("lang"),
            col("agree_len"), col("agree_tok"), col("u1"), col("u2"),
            (when(col("agree_len") === 1L, lit(0.9) / col("u1"))
              .otherwise(lit(0.1) / (lit(1.0) - col("u1"))) *
              when(col("agree_tok") === 1L, lit(0.9) / col("u2"))
                .otherwise(lit(0.1) / (lit(1.0) - col("u2")))).as("odds"))
          .orderBy(col("odds").desc, col("a_id"), col("b_id")).limit(200)
      }
    }),

    // Mann-Kendall trend test (Mann 1945; Kendall 1975) per event type
    // over the daily-volume series — the nonparametric monotone-trend
    // audit next to the OLS rolling slope (q174) and CUSUM (q83):
    // S = Σ sign(n_j − n_i) over day pairs i<j, tie-corrected variance
    // Var S = (n(n−1)(2n+5) − Σ t(t−1)(2t+5))/18, z with the ±1
    // continuity correction, and Kendall's τ_a. Everything up to the
    // two final divisions is EXACT (BIGINT sign sums, decimal(38,0)
    // variance numerator); sqrt is IEEE-exact so z is bit-stable. The
    // pair join runs per event type over the DAILY aggregate — a
    // domain-bounded O(days²) per type, never over raw events — and
    // the checkpointed daily frame feeds all three consumers.
    "q226_mann_kendall" -> ((s, dir) => {
      val D = "decimal(38,0)"
      val daily = eventsPerDay(s, dir, epochDay)
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // consumers: pair join ×2, ties, n_days
      val sDf = daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.day") < col("b.day"))
        .groupBy(col("a.event_type").as("event_type"))
        .agg(sum(when(col("b.n") > col("a.n"), 1L)
          .when(col("b.n") < col("a.n"), -1L).otherwise(0L)).as("s"))
      val nd = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"))
      val ties = daily.groupBy(col("event_type"), col("n"))
        .agg(count(lit(1)).as("tcnt"))
        .groupBy(col("event_type"))
        .agg(sum(col("tcnt").cast(D) * (col("tcnt") - 1L).cast(D) *
          (lit(2L) * col("tcnt") + 5L).cast(D)).as("tie_term"))
      val varS = (((col("n_days").cast(D) *
        (col("n_days") - 1L).cast(D) *
        (lit(2L) * col("n_days") + 5L).cast(D)) - col("tie_term"))
        .cast("double") / lit(18.0)).as("var_s")
      nd.join(ties, "event_type").join(sDf, "event_type")
        .select(col("event_type"), col("n_days"), col("s"), varS)
        .select(col("event_type"), col("n_days"), col("s"), col("var_s"),
          when(col("var_s") > 0.0,
            when(col("s") > 0L,
              (col("s") - 1L).cast("double") / sqrt(col("var_s")))
              .when(col("s") < 0L,
                (col("s") + 1L).cast("double") / sqrt(col("var_s")))
              .otherwise(lit(0.0))).as("z"),
          when(col("n_days") > 1L, col("s").cast("double") /
            ((col("n_days").cast(D) * (col("n_days") - 1L).cast(D))
              .cast("double") / lit(2.0))).as("tau_a"))
    }),

    // Pettitt change-point test (Pettitt 1979) per event type — the
    // rank-based WHERE to q83's CUSUM WHEN-did-it-drift: U_t =
    // Σ_{i≤t, j>t} sign(x_j − x_i), change point = argmax |U_t|, K =
    // max |U_t|. Computed WITHOUT the O(n²)-per-t triple loop via the
    // prefix identity U_t = −Σ_{i≤t} s_i with s_i = below(x_i) −
    // above(x_i) (the within-prefix pair sum cancels by antisymmetry):
    // one bounded value histogram gives s per value, one broadcast
    // join tags each day, one per-type cumulative window reads U. The
    // ENTIRE statistic is integer arithmetic — no doubles anywhere —
    // so the cross-engine hash cannot drift. Argmax ties break to the
    // earliest day.
    "q227_pettitt_changepoint" -> ((s, dir) => {
      val daily = eventsPerDay(s, dir, epochDay)
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // consumers: value histogram + day tag
      val vw = Window.partitionBy(col("event_type")).orderBy(col("n"))
      val hist = daily.groupBy(col("event_type"), col("n"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("event_type"), col("n"),
          coalesce(sum(col("cnt")).over(
            vw.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .as("below"),
          sum(col("cnt")).over(vw.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
            .as("tot"),
          col("cnt"))
        .select(col("event_type"), col("n"),
          (col("below") - (col("tot") - col("below") - col("cnt")))
            .as("s_val"))
      val u = daily.join(broadcast(hist), Seq("event_type", "n"))
        .select(col("event_type"), col("day"),
          (lit(-1L) * sum(col("s_val")).over(
            Window.partitionBy(col("event_type")).orderBy(col("day"))
              .rowsBetween(Window.unboundedPreceding, 0))).as("u"))
        .localCheckpoint(true) // consumers: K + argmax day
      val k = u.groupBy(col("event_type"))
        .agg(max(abs(col("u"))).as("k_stat"),
          count(lit(1)).as("n_days"))
      u.join(broadcast(k), "event_type")
        .filter(abs(col("u")) === col("k_stat"))
        .groupBy(col("event_type"), col("k_stat"), col("n_days"))
        .agg(min(col("day")).as("change_day"))
        .select(col("event_type"), col("n_days"), col("k_stat"),
          col("change_day"))
    }),

    // Spearman rank correlation (per source, n_chars vs token count) —
    // the monotone-association twin of q108's Pearson: average ranks
    // come from the bounded VALUE HISTOGRAM (rank×2 = 2·below + t + 1,
    // an exact integer — the ×2 keeps half-ranks out of floating
    // point), broadcast back onto the scan, then the q108
    // integer-sufficient-statistic discipline (decimal(38,0) cross
    // terms, one double division against an IEEE sqrt). No global row
    // sort anywhere: ranking is histogram arithmetic, so the plan
    // survives a corpus 100× wider.
    "q228_spearman_rank" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .filter(col("source").isNotNull && col("text").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("source"), col("n_chars").as("v1"),
          size(T.tokens(col("text"))).cast("long").as("v2"))
        .localCheckpoint(true) // consumers: two histograms + the scan
      def rankMap(v: String): DataFrame = {
        val w = Window.partitionBy(col("source")).orderBy(col(v))
        base.groupBy(col("source"), col(v)).agg(count(lit(1)).as("t"))
          .select(col("source"), col(v),
            (lit(2L) * coalesce(sum(col("t")).over(
              w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
              col("t") + 1L).as(s"r_$v"))
      }
      val ranked = base
        .join(broadcast(rankMap("v1")), Seq("source", "v1"))
        .join(broadcast(rankMap("v2")), Seq("source", "v2"))
      val D = "decimal(38,0)"
      val g = ranked.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("r_v1").cast(D)).as("s1"),
        sum(col("r_v2").cast(D)).as("s2"),
        sum(col("r_v1").cast(D) * col("r_v1").cast(D)).as("s11"),
        sum(col("r_v2").cast(D) * col("r_v2").cast(D)).as("s22"),
        sum(col("r_v1").cast(D) * col("r_v2").cast(D)).as("s12"))
      val f1 = (col("n_docs").cast(D) * col("s11") -
        col("s1") * col("s1")).cast("double")
      val f2 = (col("n_docs").cast(D) * col("s22") -
        col("s2") * col("s2")).cast("double")
      g.select(col("source"), col("n_docs"),
        when(f1 > 0.0 && f2 > 0.0,
          (col("n_docs").cast(D) * col("s12") -
            col("s1") * col("s2")).cast("double") / sqrt(f1 * f2))
          .as("rho_spearman"))
    }),

    // Simpson diversity index per source (Simpson, Nature 1949) — the
    // log-free concentration reading the corpus-mix monitors need
    // (exact entropy is banned: ln isn't bit-stable cross-engine):
    // λ = Σ nᵢ(nᵢ−1)/(N(N−1)) is the probability two draws WITHOUT
    // replacement share a language — exact integers up to one double
    // division — and 1−λ is the diversity. Two tiny aggregates; the
    // language histogram is the only shuffle.
    "q229_simpson_diversity" -> ((s, dir) => {
      val D = "decimal(38,0)"
      val lam = col("num").cast("double") /
        (col("nn").cast(D) * (col("nn") - 1L).cast(D)).cast("double")
      t(s, dir, "documents")
        .filter(col("source").isNotNull && col("lang").isNotNull)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(countDistinct(col("lang")).as("n_langs"),
          sum(col("c")).as("nn"),
          sum(col("c").cast(D) * (col("c") - 1L).cast(D)).as("num"))
        .select(col("source"), col("n_langs"), col("nn").as("n_docs"),
          when(col("nn") > 1L, lam).as("simpson_lambda"),
          when(col("nn") > 1L, lit(1.0) - lam).as("diversity"))
    }),

    // Welch's unequal-variance t-test (Welch 1947) on post-period spend
    // between the q196 arms — the significance readout the experiment
    // family was missing: per-arm means and variances from ONE
    // conditional aggregate over the per-user frame (decimal(38,0)
    // sufficient statistics), t and the Welch-Satterthwaite dof
    // assembled in pinned double order against IEEE sqrt — no
    // transcendental anywhere, so the statistic is bit-stable. One
    // per-user shuffle; everything after is a single row.
    "q230_welch_ttest" -> ((s, dir) => {
      val per = abPerUser(s, dir, purchaseCents)
        .agg(sum(when(col("us") >= col("mid"), col("cents"))
          .otherwise(0L)).as("y"))
        .select(pmod(col("user_id"), lit(2L)).as("arm"), col("y"))
      val D = "decimal(38,0)"
      def side(a: Int, n: String, sy: String, syy: String) = Seq(
        sum(when(col("arm") === a.toLong, 1L).otherwise(0L)).as(n),
        sum(when(col("arm") === a.toLong, col("y").cast(D))
          .otherwise(lit(0L).cast(D))).as(sy),
        sum(when(col("arm") === a.toLong,
          col("y").cast(D) * col("y").cast(D))
          .otherwise(lit(0L).cast(D))).as(syy))
      val aggs = side(1, "n_t", "sy_t", "syy_t") ++
        side(0, "n_c", "sy_c", "syy_c")
      val g = per.agg(aggs.head, aggs.tail: _*)
      def mean(n: String, sy: String) =
        col(sy).cast("double") / col(n).cast("double")
      // s²/n = (n·Σy² − (Σy)²) / (n·(n−1)) / n, each step pinned
      def sem2(n: String, sy: String, syy: String) =
        (col(n).cast(D) * col(syy) - col(sy) * col(sy)).cast("double") /
          (col(n).cast(D) * (col(n) - 1L).cast(D)).cast("double") /
          col(n).cast("double")
      val vT = sem2("n_t", "sy_t", "syy_t")
      val vC = sem2("n_c", "sy_c", "syy_c")
      g.select(col("n_t"), col("n_c"),
          mean("n_t", "sy_t").as("mean_t"),
          mean("n_c", "sy_c").as("mean_c"),
          vT.as("sem2_t"), vC.as("sem2_c"))
        .select(col("n_t"), col("n_c"), col("mean_t"), col("mean_c"),
          when(col("n_t") > 1L && col("n_c") > 1L &&
            col("sem2_t") + col("sem2_c") > 0.0,
            (col("mean_t") - col("mean_c")) /
              sqrt(col("sem2_t") + col("sem2_c"))).as("t_stat"),
          when(col("n_t") > 1L && col("n_c") > 1L &&
            col("sem2_t") + col("sem2_c") > 0.0,
            (col("sem2_t") + col("sem2_c")) *
              (col("sem2_t") + col("sem2_c")) /
              (col("sem2_t") * col("sem2_t") /
                (col("n_t") - 1L).cast("double") +
                col("sem2_c") * col("sem2_c") /
                  (col("n_c") - 1L).cast("double"))).as("dof_welch"))
    }),

    // One-way ANOVA F (Fisher) — does mean document length differ by
    // source? Group sufficient statistics in decimal(38,0); SSB's
    // Σ (Σy)²/n_j group terms fold in SORTED source order (the q223
    // χ² discipline) so the double sum is order-invariant; SST from
    // exact totals; F = (SSB/(k−1)) / (SSW/(N−k)) in pinned order.
    // One bounded group aggregate — the scan is the only corpus pass.
    "q231_anova_oneway" -> ((s, dir) => {
      val D = "decimal(38,0)"
      val g = t(s, dir, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_j"),
          sum(col("n_chars").cast(D)).as("s_j"),
          sum(col("n_chars").cast(D) * col("n_chars").cast(D))
            .as("ss_j"))
        .select(col("source"), col("n_j"), col("s_j"), col("ss_j"),
          ((col("s_j") * col("s_j")).cast("double") /
            col("n_j").cast("double")).as("term"))
      val tot = g.agg(sum(col("n_j")).as("nn"),
        sum(col("s_j")).as("s"), sum(col("ss_j")).as("ss"),
        countDistinct(col("source")).as("k"), anovaSumTerms)
      val sst = col("ss").cast("double") -
        (col("s") * col("s")).cast("double") / col("nn").cast("double")
      val ssb = col("sum_terms") -
        (col("s") * col("s")).cast("double") / col("nn").cast("double")
      tot.select(col("k"), col("nn").as("n_docs"), ssb.as("ssb"),
          (sst - ssb).as("ssw"))
        .select(col("k"), col("n_docs"), col("ssb"), col("ssw"),
          when(col("k") > 1L && col("n_docs") > col("k") &&
            col("ssw") > 0.0,
            (col("ssb") / (col("k") - 1L).cast("double")) /
              (col("ssw") / (col("n_docs") - col("k")).cast("double")))
            .as("f_stat"))
    }),

    // Kruskal-Wallis H (1952) — the rank-based ANOVA for when length
    // distributions are skewed: GLOBAL doubled average ranks off the
    // bounded n_chars value histogram (q228's rank discipline), per-
    // source rank sums in decimal(38,0), group terms (ΣR)²/n folded in
    // sorted source order, the exact-integer tie correction
    // 1 − Σ(t³−t)/(N³−N), and H = H₀/C — every division pinned, no
    // transcendental. The histogram window runs over distinct lengths
    // (domain-bounded), never over rows.
    "q232_kruskal_wallis" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .select(col("source"), col("n_chars").as("v"))
        .localCheckpoint(true) // consumers: histogram + rank join
      val hw = Window.orderBy(col("v"))
      val hist = base.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .select(col("v"), col("cnt"),
          (lit(2L) * coalesce(sum(col("cnt")).over(
            hw.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
            col("cnt") + 1L).as("r2"))
        .localCheckpoint(true) // consumers: rank join + tie term
      val D = "decimal(38,0)"
      val grp = base.join(broadcast(hist.select(col("v"), col("r2"))),
          Seq("v"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_j"), sum(col("r2").cast(D)).as("sr2"))
        // (ΣR)²/n with doubled ranks: (Σr2)²/(4n)
        .select(col("source"), col("n_j"),
          ((col("sr2") * col("sr2")).cast("double") /
            (col("n_j") * 4L).cast("double")).as("term"))
      val ties = hist.agg(sum(col("cnt").cast(D) * col("cnt").cast(D) *
        col("cnt").cast(D) - col("cnt").cast(D)).as("tie_num"))
      val tot = grp.agg(sum(col("n_j")).as("nn"),
        countDistinct(col("source")).as("k"), anovaSumTerms)
      val h0 = lit(12.0) * col("sum_terms") /
        (col("nn").cast(D) * (col("nn") + 1L).cast(D)).cast("double") -
        (lit(3L) * (col("nn") + 1L)).cast("double")
      val corr = lit(1.0) - col("tie_num").cast("double") /
        (col("nn").cast(D) * col("nn").cast(D) * col("nn").cast(D) -
          col("nn").cast(D)).cast("double")
      tot.crossJoin(broadcast(ties))
        .select(col("k"), col("nn").as("n_docs"), h0.as("h0"),
          corr.as("tie_correction"))
        .select(col("k"), col("n_docs"), col("h0"),
          col("tie_correction"),
          when(col("tie_correction") > 0.0,
            col("h0") / col("tie_correction")).as("h_stat"))
    }),

    // Cochran-Mantel-Haenszel common odds ratio (1959) — the
    // confounder-adjusted A/B readout: stratify users by capped
    // pre-period activity (Simpson's-paradox insurance the pooled q196
    // table can't give), then OR_MH = Σ aᵢdᵢ/nᵢ / Σ bᵢcᵢ/nᵢ with
    // exact-integer cell products, each stratum's term ONE double
    // division, and both sums folded in stratum order (the q223
    // discipline). The crude pooled OR rides along to expose the
    // confounding. One per-user shuffle; strata are capped at 4.
    "q233_cmh_odds_ratio" -> ((s, dir) => {
      val per = abPerUser(s, dir, col("event_type"))
        .agg(least(sum(when(col("us") < col("mid"), 1L).otherwise(0L)),
            lit(3L)).as("stratum"),
          abPostPurchase.as("conv"))
        .select(pmod(col("user_id"), lit(2L)).as("arm"),
          col("stratum"), col("conv"))
      val cells = per.groupBy(col("stratum")).agg(
        sum(when(col("arm") === 1L && col("conv") === 1L, 1L)
          .otherwise(0L)).as("a"),
        sum(when(col("arm") === 1L && col("conv") === 0L, 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("arm") === 0L && col("conv") === 1L, 1L)
          .otherwise(0L)).as("c"),
        sum(when(col("arm") === 0L && col("conv") === 0L, 1L)
          .otherwise(0L)).as("d"),
        count(lit(1)).as("n"))
      val terms = cells.select(col("stratum"), col("a"), col("b"),
        col("c"), col("d"), col("n"),
        ((col("a") * col("d")).cast("double") / col("n").cast("double"))
          .as("num_t"),
        ((col("b") * col("c")).cast("double") / col("n").cast("double"))
          .as("den_t"))
      terms.agg(count(lit(1)).as("n_strata"),
          sum(col("a")).as("aa"), sum(col("b")).as("bb"),
          sum(col("c")).as("cc"), sum(col("d")).as("dd"),
          expr("aggregate(array_sort(collect_list(struct(stratum, " +
            "num_t))), 0.0D, (acc, x) -> acc + x.num_t)").as("mh_num"),
          expr("aggregate(array_sort(collect_list(struct(stratum, " +
            "den_t))), 0.0D, (acc, x) -> acc + x.den_t)").as("mh_den"))
        .select(col("n_strata"), col("aa"), col("bb"), col("cc"),
          col("dd"),
          when(col("mh_den") > 0.0, col("mh_num") / col("mh_den"))
            .as("or_mh"),
          when(col("bb") > 0L && col("cc") > 0L,
            (col("aa") * col("dd")).cast("double") /
              (col("bb") * col("cc")).cast("double")).as("or_crude"))
    }),

    // Neyman optimal allocation (1934) — how a fixed sampling budget
    // should split across sources: n_h ∝ N_h·S_h. Per-stratum S_h from
    // decimal(38,0) sufficient stats against IEEE sqrt, Σw folded in
    // source order, fractional seats floor()ed (floor is exact on both
    // engines) and the remainder distributed largest-fraction-first
    // (ties to the lexicographically first source) — the whole
    // allocation integer-deterministic. Windows run over the
    // source-bounded stratum table only.
    "q234_neyman_allocation" -> ((s, dir) => {
      val D = "decimal(38,0)"
      val B = 1000L
      val g = t(s, dir, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_h"),
          sum(col("n_chars").cast(D)).as("s_h"),
          sum(col("n_chars").cast(D) * col("n_chars").cast(D))
            .as("ss_h"))
        .select(col("source"), col("n_h"),
          when(col("n_h") > 1L,
            col("n_h").cast("double") * sqrt(
              (col("n_h").cast(D) * col("ss_h") -
                col("s_h") * col("s_h")).cast("double") /
                (col("n_h").cast(D) * (col("n_h") - 1L).cast(D))
                  .cast("double"))).otherwise(lit(0.0)).as("w"))
        .localCheckpoint(true) // consumers: Σw fold + the seat table
      val sw = g.agg(expr("aggregate(array_sort(collect_list(struct(" +
        "source, w))), 0.0D, (acc, x) -> acc + x.w)").as("sum_w"))
      val frac = g.crossJoin(broadcast(sw))
        .select(col("source"), col("n_h"),
          when(col("sum_w") > 0.0,
            lit(B.toDouble) * col("w") / col("sum_w"))
            .otherwise(lit(0.0)).as("frac"))
        .select(col("source"), col("n_h"), col("frac"),
          floor(col("frac")).cast("long").as("base"))
      val wAll = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val wRank = Window.orderBy((col("frac") - col("base")).desc,
        col("source"))
      frac.select(col("source"), col("n_h"), col("frac"), col("base"),
          (lit(B) - sum(col("base")).over(wAll)).as("leftover"),
          row_number().over(wRank).cast("long").as("rk"))
        .select(col("source"), col("n_h"), col("frac"),
          (col("base") + when(col("rk") <= col("leftover"), 1L)
            .otherwise(0L)).as("n_alloc"))
    }),

    // Chapman capture-recapture (1951) — how many duplicate pairs did
    // BOTH detectors miss? Two independent dup detectors (exact text
    // hash; a (lang, n_chars, 24-char-prefix) metadata block), their
    // pair lists intersected, and the nearly-unbiased Chapman
    // estimate N̂ = (n₁+1)(n₂+1)/(m+1) − 1 of the TRUE dup-pair
    // population — the residual-risk number a dedup pipeline reports.
    // Both detectors are hash-blocked (no all-pairs anywhere);
    // arithmetic is exact integers to one division.
    "q235_capture_recapture" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), md5(col("text")).as("h_exact"),
          concat_ws("", col("lang"), col("n_chars").cast("string"),
            substring(col("text"), 1, 24)).as("h_block"))
        .localCheckpoint(true) // consumers: both detectors
      def pairsBy(c: String): DataFrame = {
        val l = base.select(col(c).as("k"), col("doc_id").as("a_id"))
        val r = base.select(col(c).as("k"), col("doc_id").as("b_id"))
        l.join(r, Seq("k")).filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"))
      }
      val p1 = pairsBy("h_exact").localCheckpoint(true)
      val p2 = pairsBy("h_block").localCheckpoint(true)
      val n1 = p1.agg(count(lit(1)).as("n1"))
      val n2 = p2.agg(count(lit(1)).as("n2"))
      val m = p1.join(p2, Seq("a_id", "b_id"))
        .agg(count(lit(1)).as("m"))
      n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
        .select(col("n1"), col("n2"), col("m"),
          (((col("n1") + 1L) * (col("n2") + 1L)).cast("double") /
            (col("m") + 1L).cast("double") - lit(1.0))
            .as("chapman_total"))
    }),

    // Jackknife variance over hash buckets (Quenouille/Tukey) — the
    // cluster-robust standard error for the conversion-rate ratio
    // metric (per-row binomial SEs lie when users correlate): 20
    // deterministic user-hash buckets, leave-one-bucket-out
    // θ₋ᵢ = (S−sᵢ)/(N−nᵢ), and Var = (B−1)/B · Σ(θ₋ᵢ − θ̄)² with both
    // bucket folds in bucket order (q223 discipline). The bucket
    // table is 20 rows — every double op after the one per-user
    // shuffle runs on it.
    "q236_jackknife_se" -> ((s, dir) => {
      val per = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("conv"))
        .select(Sam.sampleBucket(col("user_id"), "jk", 20).as("bkt"),
          col("conv"))
      val b = per.groupBy(col("bkt"))
        .agg(count(lit(1)).as("n_i"), sum(col("conv")).as("s_i"))
        .localCheckpoint(true) // consumers: totals + pseudo-values
      val tot = b.agg(sum(col("n_i")).as("nn"), sum(col("s_i")).as("ss"),
        count(lit(1)).as("nb"))
      val loo = b.crossJoin(broadcast(tot))
        .select(col("bkt"), col("nb"), col("nn"), col("ss"),
          ((col("ss") - col("s_i")).cast("double") /
            (col("nn") - col("n_i")).cast("double")).as("theta_i"))
        .localCheckpoint(true) // consumers: mean fold + variance fold
      val mDf = loo.agg((expr("aggregate(array_sort(collect_list(" +
        "struct(bkt, theta_i))), 0.0D, (acc, x) -> acc + x.theta_i)") /
        first(col("nb")).cast("double")).as("theta_bar"))
      loo.crossJoin(broadcast(mDf))
        .select(col("bkt"), col("nb"), col("nn"), col("ss"),
          col("theta_bar"),
          ((col("theta_i") - col("theta_bar")) *
            (col("theta_i") - col("theta_bar"))).as("dev2"))
        .agg(first(col("nb")).as("n_buckets"),
          first(col("nn")).as("n_users"),
          first(col("ss")).as("n_converters"),
          (first(col("ss")).cast("double") /
            first(col("nn")).cast("double")).as("theta_hat"),
          sqrt((first(col("nb")) - 1L).cast("double") /
            first(col("nb")).cast("double") *
            expr("aggregate(array_sort(collect_list(struct(bkt, " +
              "dev2))), 0.0D, (acc, x) -> acc + x.dev2)"))
            .as("se_jackknife"))
    }),

    // Effect-size panel for the A/B readout — the magnitudes that
    // belong NEXT to q230's significance: risk difference, relative
    // risk, odds ratio (conversion), Cohen's d on post-spend (pooled
    // SD, decimal stats + IEEE sqrt), and the probability-of-
    // superiority AUC from doubled average ranks over the ilog2-
    // bucketed spend distribution (log-bounded domain — the q169
    // lesson applied: never rank raw cents). Everything exact up to
    // pinned divisions; one per-user shuffle.
    "q237_effect_sizes" -> ((s, dir) => {
      val D = "decimal(38,0)"
      val per = abPerUser(s, dir, col("event_type"), purchaseCents)
        .agg(sum(when(col("us") >= col("mid"), col("cents"))
            .otherwise(0L)).as("y"),
          abPostPurchase.as("conv"))
        .select(pmod(col("user_id"), lit(2L)).as("arm"), col("y"),
          col("conv"),
          T.ilog2(col("y") + 1L).cast("long").as("yb"))
        .localCheckpoint(true) // consumers: moments + the rank table
      val g = per.agg(
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 1L, col("conv")).otherwise(0L))
          .as("x_t"),
        sum(when(col("arm") === 0L, col("conv")).otherwise(0L))
          .as("x_c"),
        sum(when(col("arm") === 1L, col("y").cast(D))
          .otherwise(lit(0L).cast(D))).as("sy_t"),
        sum(when(col("arm") === 0L, col("y").cast(D))
          .otherwise(lit(0L).cast(D))).as("sy_c"),
        sum(when(col("arm") === 1L, col("y").cast(D) * col("y").cast(D))
          .otherwise(lit(0L).cast(D))).as("syy_t"),
        sum(when(col("arm") === 0L, col("y").cast(D) * col("y").cast(D))
          .otherwise(lit(0L).cast(D))).as("syy_c"))
      // doubled average ranks over the ilog2-bucket histogram; R1 =
      // Σ ranks of the TREATED arm (doubled) → AUC without a raw sort
      val hw = Window.orderBy(col("yb"))
      val hist = per.groupBy(col("yb"))
        .agg(count(lit(1)).as("t"))
        .select(col("yb"),
          (lit(2L) * coalesce(sum(col("t")).over(
            hw.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
            col("t") + 1L).as("r2"))
      val r1 = per.filter(col("arm") === 1L)
        .join(broadcast(hist), Seq("yb"))
        .agg(sum(col("r2").cast(D)).as("r2_t"))
      val pT = col("x_t").cast("double") / col("n_t").cast("double")
      val pC = col("x_c").cast("double") / col("n_c").cast("double")
      val mT = col("sy_t").cast("double") / col("n_t").cast("double")
      val mC = col("sy_c").cast("double") / col("n_c").cast("double")
      // pooled variance from exact partials:
      // ((n_t·syy_t − sy_t²)/n_t + (n_c·syy_c − sy_c²)/n_c) / (n−2)
      val ssT = (col("n_t").cast(D) * col("syy_t") -
        col("sy_t") * col("sy_t")).cast("double") /
        col("n_t").cast("double")
      val ssC = (col("n_c").cast(D) * col("syy_c") -
        col("sy_c") * col("sy_c")).cast("double") /
        col("n_c").cast("double")
      g.crossJoin(broadcast(r1))
        .select(col("n_t"), col("n_c"), col("x_t"), col("x_c"),
          when(col("n_t") > 0L && col("n_c") > 0L, pT - pC)
            .as("risk_diff"),
          when(col("x_c") > 0L && col("n_t") > 0L, pT / pC)
            .as("relative_risk"),
          when(col("x_t") < col("n_t") && col("x_c") > 0L,
            (col("x_t") * (col("n_c") - col("x_c"))).cast("double") /
              ((col("n_t") - col("x_t")) * col("x_c")).cast("double"))
            .as("odds_ratio"),
          when(col("n_t") > 1L && col("n_c") > 1L &&
            (ssT + ssC) > 0.0,
            (mT - mC) / sqrt((ssT + ssC) /
              (col("n_t") + col("n_c") - 2L).cast("double")))
            .as("cohens_d"),
          // AUC = (R1/2 − n_t(n_t+1)/2) / (n_t·n_c), doubled-rank form:
          // (R2_t − n_t(n_t+1)) / (2·n_t·n_c)
          when(col("n_t") > 0L && col("n_c") > 0L,
            (col("r2_t") - (col("n_t").cast(D) *
              (col("n_t") + 1L).cast(D))).cast("double") /
              (lit(2L).cast(D) * col("n_t").cast(D) *
                col("n_c").cast(D)).cast("double")).as("auc_bucketed"))
    }),

    // Friedman test (1937) — do the event types keep a consistent
    // daily-volume ORDERING across days (blocks)? The repeated-
    // measures rank test next to Kendall's W territory: the complete
    // day×type grid (absent cells count 0 — a missing type that day IS
    // the lowest volume), within-day doubled average ranks off each
    // day's k-row histogram, per-type rank sums in decimal(38,0), and
    // χ²_F = 12·Σ(R_j)²/(n·k·(k+1)) − 3·n·(k+1) with the Σ(R_j)²
    // fold in type order. Day and type domains are both bounded; the
    // grid is their product.
    "q238_friedman" -> ((s, dir) => {
      val D = "decimal(38,0)"
      val daily = eventsPerDay(s, dir, epochDay)
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true) // consumers: grid axes + the fill join
      val days = daily.select(col("day")).distinct()
      val types = daily.select(col("event_type")).distinct()
      val grid = days.crossJoin(types)
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
      val dw = Window.partitionBy(col("day")).orderBy(col("cnt"))
      val ranked = grid.groupBy(col("day"), col("cnt"))
        .agg(collect_list(col("event_type")).as("ets"),
          count(lit(1)).as("t"))
        .select(col("day"), col("cnt"), col("t"), col("ets"),
          (lit(2L) * coalesce(sum(col("t")).over(
            dw.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
            col("t") + 1L).as("r2"))
        .select(col("day"), explode(col("ets")).as("event_type"),
          col("r2"))
      val perType = ranked.groupBy(col("event_type"))
        .agg(sum(col("r2").cast(D)).as("sr2"),
          count(lit(1)).as("n_days"))
        .select(col("event_type"), col("n_days"),
          ((col("sr2") * col("sr2")).cast("double") / lit(4.0))
            .as("rj2"))
      perType.agg(count(lit(1)).as("k"),
          max(col("n_days")).as("n_days"),
          expr("aggregate(array_sort(collect_list(struct(event_type, " +
            "rj2))), 0.0D, (acc, x) -> acc + x.rj2)").as("sum_rj2"))
        .select(col("k"), col("n_days"),
          when(col("k") > 1L && col("n_days") > 0L,
            lit(12.0) * col("sum_rj2") /
              (col("n_days").cast(D) * col("k").cast(D) *
                (col("k") + 1L).cast(D)).cast("double") -
              (lit(3L) * col("n_days") * (col("k") + 1L))
                .cast("double")).as("chi2_friedman"))
    }),

    // Sample-size planner — the question asked BEFORE q196/q230 can
    // run: how many users per arm to detect a 1/2/5/10% lift on the
    // spend metric at α=.05, power=.8? n = 2(z_α/2+z_β)²σ²/δ² with the
    // z-constant folded to ONE shared literal (2·(1.959963984540054 +
    // 0.8416212335729143)² = 15.697759468698177 — the Benford
    // paste-the-literal discipline; erf/quantile functions are
    // transcendental and banned), σ² from exact decimal(38,0) corpus
    // moments, δ = mean·pct/100 pinned, ceil() exact on both engines.
    "q239_samplesize_planner" -> ((s, dir) => {
      val D = "decimal(38,0)"
      val per = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase" &&
            col("value").isNotNull,
          valueCents)
          .otherwise(lit(0L))).as("y"))
      val g = per.agg(count(lit(1)).as("n_users"),
        sum(col("y").cast(D)).as("sy"),
        sum(col("y").cast(D) * col("y").cast(D)).as("syy"))
      val d = g.select(col("n_users"),
        (col("sy").cast("double") / col("n_users").cast("double"))
          .as("baseline_mean"),
        ((col("n_users").cast(D) * col("syy") - col("sy") * col("sy"))
          .cast("double") /
          (col("n_users").cast(D) * (col("n_users") - 1L).cast(D))
            .cast("double")).as("variance"))
      val delta = col("baseline_mean") *
        col("mde_pct").cast("double") / lit(100.0)
      d.select(col("n_users"), col("baseline_mean"), col("variance"),
          explode(array(lit(1L), lit(2L), lit(5L), lit(10L)))
            .as("mde_pct"))
        .select(col("mde_pct"), col("n_users"), col("baseline_mean"),
          col("variance"),
          when(col("n_users") > 1L && col("baseline_mean") > 0.0 &&
            col("variance") > 0.0,
            ceil(lit(15.697759468698177) * col("variance") /
              (delta * delta))).as("n_required_per_arm"))
    }),

    // Good-Turing unseen-mass estimate (Good 1953) — what fraction of
    // the NEXT crawl's tokens will be words this corpus has never
    // seen? p₀ = N₁/N (singleton mass), with the Turing-smoothed
    // singleton probability 2·N₂/N₁/N riding along — the vocabulary-
    // saturation reading Heaps' law (q180) fits and this measures.
    // Exact integers to single divisions; the (source, token) census
    // is the only corpus-scale shuffle.
    "q240_good_turing" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("source")).agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          col("n1"), col("n2"),
          when(col("n_tokens") > 0L,
            col("n1").cast("double") / col("n_tokens").cast("double"))
            .as("p_unseen"),
          when(col("n1") > 0L && col("n_tokens") > 0L,
            (lit(2L) * col("n2")).cast("double") /
              col("n1").cast("double") /
              col("n_tokens").cast("double")).as("p1_turing"))
    }),

    // McNemar's test (1947) — did the SAME users change conversion
    // behavior across the midpoint? The paired 2×2 the independent-
    // samples tests (q230/q233) can't express: only the discordant
    // cells b (converted→lapsed) and c (lapsed→converted) carry
    // information. χ² = (b−c)²/(b+c) and the continuity-corrected
    // (|b−c|−1)²/(b+c) — exact integers to one division each. One
    // per-user shuffle, four-cell output.
    "q241_mcnemar" -> ((s, dir) => {
      val per = abPerUser(s, dir, col("event_type"))
        .agg(max(when(col("us") < col("mid") &&
            col("event_type") === "purchase", 1L).otherwise(0L))
            .as("pre"),
          abPostPurchase.as("post"))
      per.agg(
          sum(when(col("pre") === 1L && col("post") === 1L, 1L)
            .otherwise(0L)).as("both_conv"),
          sum(when(col("pre") === 1L && col("post") === 0L, 1L)
            .otherwise(0L)).as("b"),
          sum(when(col("pre") === 0L && col("post") === 1L, 1L)
            .otherwise(0L)).as("c"),
          sum(when(col("pre") === 0L && col("post") === 0L, 1L)
            .otherwise(0L)).as("neither"))
        .select(col("both_conv"), col("b"), col("c"), col("neither"),
          when(col("b") + col("c") > 0L,
            ((col("b") - col("c")) * (col("b") - col("c")))
              .cast("double") / (col("b") + col("c")).cast("double"))
            .as("chi2_mcnemar"),
          when(col("b") + col("c") > 0L,
            ((abs(col("b") - col("c")) - 1L) *
              (abs(col("b") - col("c")) - 1L)).cast("double") /
              (col("b") + col("c")).cast("double"))
            .as("chi2_mcnemar_cc"))
    }),

    // Wilcoxon signed-rank (1945) on the paired pre→post spend deltas
    // — the magnitude-aware paired test next to q241's sign-only view:
    // zero deltas drop (the classic rule), magnitudes quantize to
    // ilog2 buckets (the q237 discipline — NEVER rank raw cents; the
    // quantization is the operator's documented resolution), doubled
    // average ranks off the ≤64-bucket histogram, W⁺ exact in
    // decimal(38,0), and the normal-approx z from exact integer
    // numerator A = 2W⁺ − n(n+1) against IEEE sqrt.
    "q242_wilcoxon_signed_rank" -> ((s, dir) => {
      val per = abPerUser(s, dir, purchaseCents)
        .agg((sum(when(col("us") >= col("mid"), col("cents"))
          .otherwise(0L)) -
          sum(when(col("us") < col("mid"), col("cents"))
            .otherwise(0L))).as("d"))
        .filter(col("d") =!= 0L)
        .select(col("d"), T.ilog2(abs(col("d"))).cast("long").as("mb"))
        .localCheckpoint(true) // consumers: histogram + rank join
      val hw = Window.orderBy(col("mb"))
      val hist = per.groupBy(col("mb")).agg(count(lit(1)).as("t"))
        .select(col("mb"),
          (lit(2L) * coalesce(sum(col("t")).over(
            hw.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
            col("t") + 1L).as("r2"))
      val D = "decimal(38,0)"
      val g = per.join(broadcast(hist), Seq("mb"))
        .agg(count(lit(1)).as("n_eff"),
          sum(when(col("d") > 0L, col("r2").cast(D))
            .otherwise(lit(0L).cast(D))).as("w2_plus"))
      // A = 2W⁺ − n(n+1) (exact); z = (A/4) / sqrt(n(n+1)(2n+1)/24)
      val a = lit(2L).cast(D) * col("w2_plus") -
        col("n_eff").cast(D) * (col("n_eff") + 1L).cast(D)
      g.select(col("n_eff"),
        (col("w2_plus").cast("double") / lit(2.0)).as("w_plus"),
        when(col("n_eff") > 1L,
          a.cast("double") / lit(4.0) /
            sqrt((col("n_eff").cast(D) * (col("n_eff") + 1L).cast(D) *
              (lit(2L) * col("n_eff") + 1L).cast(D)).cast("double") /
              lit(24.0))).as("z_approx"))
    }),

    // Brown-Forsythe / Levene variance-equality test (1974) — are the
    // per-source length SPREADS equal (the assumption q231's ANOVA
    // rests on)? Median-centered: each source's lower median comes off
    // the bounded value histogram (integer order statistic — no
    // percentile state), deviations |x − med| are EXACT INTEGERS, and
    // the one-way F on those deviations reuses the q231 discipline
    // (decimal stats, source-ordered folds). Two bounded shuffles +
    // one broadcast median join.
    "q243_brown_forsythe" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .select(col("source"), col("n_chars").as("v"))
        .localCheckpoint(true) // consumers: median histogram + devs
      val mw = Window.partitionBy(col("source")).orderBy(col("v"))
      val med = base.groupBy(col("source"), col("v"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("source"), col("v"),
          sum(col("cnt")).over(
            mw.rowsBetween(Window.unboundedPreceding, 0)).as("cum"),
          sum(col("cnt")).over(mw.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
            .as("tot"))
        .filter(lit(2L) * col("cum") >= col("tot"))
        .groupBy(col("source")).agg(min(col("v")).as("med"))
      val dev = base.join(broadcast(med), Seq("source"))
        .select(col("source"), abs(col("v") - col("med")).as("z"))
      val D = "decimal(38,0)"
      val g = dev.groupBy(col("source"))
        .agg(count(lit(1)).as("n_j"), sum(col("z").cast(D)).as("s_j"),
          sum(col("z").cast(D) * col("z").cast(D)).as("ss_j"))
        .select(col("source"), col("n_j"), col("s_j"), col("ss_j"),
          ((col("s_j") * col("s_j")).cast("double") /
            col("n_j").cast("double")).as("term"))
      val tot = g.agg(sum(col("n_j")).as("nn"), sum(col("s_j")).as("s"),
        sum(col("ss_j")).as("ss"),
        countDistinct(col("source")).as("k"), anovaSumTerms)
      val sst = col("ss").cast("double") -
        (col("s") * col("s")).cast("double") / col("nn").cast("double")
      val ssb = col("sum_terms") -
        (col("s") * col("s")).cast("double") / col("nn").cast("double")
      tot.select(col("k"), col("nn").as("n_docs"), ssb.as("ssb"),
          (sst - ssb).as("ssw"))
        .select(col("k"), col("n_docs"), col("ssb"), col("ssw"),
          when(col("k") > 1L && col("n_docs") > col("k") &&
            col("ssw") > 0.0,
            (col("ssb") / (col("k") - 1L).cast("double")) /
              (col("ssw") / (col("n_docs") - col("k")).cast("double")))
            .as("f_bf"))
    }),

    // TPC-H Q12 (adapted): shipping-priority audit. The corpus has no
    // l_shipmode/commit/receipt dates, so the Q12 grouping key becomes
    // the lateness bucket (shipped > 60 days after the order date, the
    // q207 rule) and the CASE-sum splits lines by order priority class.
    // One join, one combinable two-way conditional sum.
    "q244_tpch_q12" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(expr("l_shipdate >= TIMESTAMP'1997-01-01 00:00:00'") &&
          expr("l_shipdate < TIMESTAMP'1998-01-01 00:00:00'"))
        .select(col("l_orderkey"), col("l_shipdate"))
        .transform(joinOrderPriority(s, dir))
        .select(
          when(unix_micros(col("l_shipdate")) >
              unix_micros(col("o_orderdate")) + lit(5184000000000L),
            "LATE").otherwise("ONTIME").as("ship_bucket"),
          col("o_orderpriority"))
        .groupBy(col("ship_bucket"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            1L).otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            0L).otherwise(1L)).as("low_line_count"))),

    // TPC-H Q21 (adapted): suppliers who kept orders waiting — late
    // lines (q207's 60-day rule) on finished multi-supplier orders
    // where NO other supplier in the order was also late. The classic
    // EXISTS + NOT-EXISTS pair, expressed as a left-semi then a
    // left-anti join on (orderkey, ≠suppkey); counts qualifying LINES
    // per supplier as the spec does. All three probe sides are
    // order-bounded; the supplier/nation dim is broadcast.
    "q245_tpch_q21" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val lines = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
      val late = lines
        .filter(unix_micros(col("l_shipdate")) >
          unix_micros(col("o_orderdate")) + lit(5184000000000L))
        .select(col("l_orderkey"), col("l_suppkey"))
      val natSupp = broadcast(nationSuppliers(s, dir, "NATION_3")
        .select(col("s_suppkey"), col("s_name")))
      val others = lines
        .select(col("l_orderkey").as("o2_orderkey"),
          col("l_suppkey").as("o2_suppkey"))
        .distinct()
      val lateOthers = late
        .select(col("l_orderkey").as("o3_orderkey"),
          col("l_suppkey").as("o3_suppkey"))
        .distinct()
      late
        .join(natSupp, col("l_suppkey") === col("s_suppkey"))
        .join(others, col("l_orderkey") === col("o2_orderkey") &&
          col("l_suppkey") =!= col("o2_suppkey"), "left_semi")
        .join(lateOthers, col("l_orderkey") === col("o3_orderkey") &&
          col("l_suppkey") =!= col("o3_suppkey"), "left_anti")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // TPC-H Q16 (adapted): parts/supplier relationship — distinct
    // supplier count per (brand, type, size) over the OBSERVED
    // part-supplier pairs (the corpus has no partsupp table; distinct
    // lineitem pairs stand in), excluding one brand, one type, sizes
    // outside the probe list, and "complaint" suppliers (negative
    // account balance stands in for the comment scan). Anti-join +
    // broadcast dim + distinct-count, all key-bounded.
    "q246_tpch_q16" -> ((s, dir) => {
      val ps = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .distinct()
      val badSupp = t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      ps.join(broadcast(badSupp),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(t(s, dir, "part")
            .filter(col("p_brand") =!= "Brand#13" &&
              col("p_type") =!= "PROMO" &&
              col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
            .select(col("p_partkey"), col("p_brand"), col("p_type"),
              col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // TPC-H Q11 (adapted): important stock — per-part revenue value
    // routed through NATION_7 suppliers, kept when the part's share
    // exceeds TWICE the average share (TPC-H scales its 0.0001
    // fraction by 1/SF for the same reason: a fixed fraction returns
    // nothing once the part count outgrows it; 2× the mean is
    // scale-invariant). The global scalar is a 1-row broadcast; the
    // share test stays exact — decimal(38,0) cross-products, never a
    // double division (value·n_parts vs 2·total overflows bigint at
    // corpus scale).
    "q247_tpch_q11" -> ((s, dir) => {
      val natSupp = broadcast(nationSuppliers(s, dir, "NATION_7")
        .select(col("s_suppkey")))
      val v = t(s, dir, "lineitem")
        .join(natSupp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(priceCents).as("value_e2"))
      v.join(broadcast(v.agg(sum(col("value_e2")).as("total_e2"),
          count(lit(1)).as("n_parts"))))
        .filter(col("value_e2").cast("decimal(38,0)") * col("n_parts") >
          col("total_e2").cast("decimal(38,0)") * lit(2L))
        .select(col("l_partkey").as("p_partkey"), col("value_e2"))
    }),

    // TPC-H Q9 (adapted): product-type profit. No partsupp supplycost
    // exists, so cost = retail price × quantity; no o_orderdate join —
    // the ship year groups directly. amount stays an exact integer at
    // the e4 scale: ext_cents·(10000−disc_e4) − retail_cents·10000·qty.
    "q248_tpch_q9" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
            .filter(col("p_name").like("%red%"))
            .select(col("p_partkey"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .transform(joinSupplierNation(s, dir))
        .select(col("n_name").as("nation"),
          year(col("l_shipdate")).as("o_year"),
          (revE4 -
            expr("CAST(round(p_retailprice * 100) AS BIGINT)") *
              lit(10000L) *
              expr("CAST(round(l_quantity) AS BIGINT)")).as("amount"))
        .groupBy(col("nation"), col("o_year"))
        // (nation, year) groups scale with the corpus → decimal(38,0)
        // sum (per-row amount ~1e12 fits BIGINT; the group sum does
        // not), ONE double cast (HUGEINT twin).
        .agg(sum(col("amount").cast("decimal(38,0)"))
          .cast("double").as("profit_e4"))),

    // TPC-H Q2 (adapted): minimum-cost supplier — for EUROPE suppliers
    // and STANDARD size-15 parts, the cheapest observed line price in
    // cents per (part, supplier) stands in for ps_supplycost, and the
    // correlated-min subquery keeps exactly the suppliers achieving
    // each part's regional minimum. Exact integer min; dims broadcast;
    // deterministic 5-key order + limit → TakeOrdered.
    "q249_tpch_q2" -> ((s, dir) => {
      val euSupp = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .join(broadcast(t(s, dir, "region")
                .filter(col("r_name") === "EUROPE")
                .select(col("r_regionkey"))),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name")))
      val cost = t(s, dir, "lineitem")
        .transform(joinPartsWhere(s, dir,
          col("p_size") === 15 && col("p_type") === "STANDARD"))
        .join(euSupp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(priceCents).as("cost_e2"))
      val minCost = cost.groupBy(col("l_partkey").as("mc_partkey"))
        .agg(min(col("cost_e2")).as("min_cost_e2"))
      cost
        .join(minCost, col("l_partkey") === col("mc_partkey") &&
          col("cost_e2") === col("min_cost_e2"))
        .join(euSupp, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("l_partkey").as("p_partkey"), col("cost_e2"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q20 (adapted): part-promotion suppliers — NATION_1
    // suppliers who shipped MORE THAN HALF of their lifetime volume of
    // some "blue" part during 1997 (availqty has no source table, so
    // the lifetime-total-vs-year comparison replaces availqty > ½·year
    // — same two-aggregate correlated shape). Exact integer halving
    // test; the supplier probe is a left-semi join.
    "q250_tpch_q20" -> ((s, dir) => {
      val concentrated = t(s, dir, "lineitem")
        .transform(joinPartsWhere(s, dir, col("p_name").like("%blue%")))
        .select(col("l_partkey"), col("l_suppkey"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
          year(col("l_shipdate")).as("yr"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("qty")).as("qty_total"),
          sum(when(col("yr") === 1997, col("qty")).otherwise(0L))
            .as("qty_1997"))
        .filter(col("qty_1997") * lit(2L) > col("qty_total"))
        .select(col("l_suppkey"))
        .distinct()
      nationSuppliers(s, dir, "NATION_1")
        .join(concentrated, col("s_suppkey") === col("l_suppkey"),
          "left_semi")
        .select(col("s_name"), col("s_acctbal"))
    }),

    // Range-partition planner: pick 7 split points over o_totalprice
    // that divide the table into 8 near-equal range partitions — the
    // planning step before a range-partitioned write at 100 TB. The
    // key is quantized to whole dollars (exact: cents div 100), so the
    // cumulative pass runs over a BOUNDED value histogram (the
    // discrete-quantile discipline), never the raw rows; the 7 target
    // ranks join the histogram as a tiny cross product.
    "q251_range_partition_plan" -> ((s, dir) => {
      val h = t(s, dir, "orders")
        .select(expr(
          "CAST(round(o_totalprice * 100) AS BIGINT) div 100").as("d"))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("cnt"))
      val c = h.withColumn("cum",
        sum(col("cnt")).over(Window.orderBy(col("d"))))
      val n = c.agg(max(col("cum")).as("n"))
      s.range(1, 8).select(col("id").as("split_id"))
        .join(broadcast(n))
        .select(col("split_id"),
          expr("(n * split_id + 7) div 8").as("target"))
        .join(c, col("cum") >= col("target"))
        .groupBy(col("split_id"))
        .agg(min(struct(col("d"), col("cum"))).as("b"))
        .select(col("split_id"), col("b.d").as("boundary_dollar"),
          col("b.cum").as("rows_le"))
    }),

    // HITS hubs/authorities on the bipartite order-part graph, two
    // synchronous iterations unrolled: a1 = in-degree, h1 = Σ a1 over
    // the order's parts, a2 = Σ h1 over the part's orders. All exact
    // integers (no per-round normalization — the ranking is invariant
    // to the scale factor), each round one equi-join + one combinable
    // sum; top-20 via orderBy+limit → TakeOrdered. The bipartite edge
    // list IS the distinct basket-membership relation, so it reads the
    // [[basketMembership]] session artifact (r17) instead of re-paying
    // a private lineitem distinct + checkpoint per query.
    "q252_hits" -> ((s, dir) => {
      val e = basketMembership(s, dir)
        .select(col("__b").as("ok"), col("__i").as("pk"))
      val a1 = e.groupBy(col("pk")).agg(count(lit(1)).as("auth1"))
      val h1 = e.join(a1, "pk").groupBy(col("ok"))
        .agg(sum(col("auth1")).as("hub1"))
      e.join(h1, "ok").groupBy(col("pk"))
        .agg(sum(col("hub1")).as("auth2"))
        .join(a1, "pk")
        .select(col("pk").as("p_partkey"), col("auth1"), col("auth2"))
        .orderBy(col("auth2").desc, col("p_partkey"))
        .limit(20)
    }),

    // Exact ROC AUC of "discount predicts returns" — the Mann-Whitney
    // U over a BOUNDED score histogram (disc_e4, ≤ 10001 values) with
    // doubled average ranks for ties (exact integers; the q228/q242
    // rank discipline). Sufficient stats go through decimal(38,0) so a
    // trillion-row corpus can't overflow the rank sum; ONE double
    // division at the end on both engines.
    "q253_auc" -> ((s, dir) => {
      val h = t(s, dir, "lineitem")
        .select(expr("CAST(round(l_discount * 10000) AS BIGINT)")
            .as("v"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("pos"))
        .groupBy(col("v"))
        .agg(sum(col("pos")).as("np"),
          (count(lit(1)) - sum(col("pos"))).as("nn"))
      val below = coalesce(
        sum(col("np") + col("nn")).over(Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
      h.withColumn("below", below)
        .agg(
          sum((col("np") * (lit(2L) * col("below") + col("np") +
            col("nn") + lit(1L))).cast("decimal(38,0)")).as("r2"),
          sum(col("np")).cast("decimal(38,0)").as("npos"),
          sum(col("nn")).cast("decimal(38,0)").as("nneg"))
        .select(col("npos").cast("long").as("n_pos"),
          col("nneg").cast("long").as("n_neg"),
          ((col("r2") - col("npos") * (col("npos") + lit(1)))
            .cast("double") /
            (lit(2) * col("npos") * col("nneg")).cast("double"))
            .as("auc"))
    }),

    // ANALYZE-style statistics collector over orders: per column, row
    // count, null count, exact NDV, and canonical min/max (bigints for
    // keys, cents for money, epoch-µs for timestamps, raw for strings
    // — never a double→string format, which diverges across engines).
    // Six COLUMN-PRUNED branches, each a hash-aggregate on its own
    // value domain (n_rows/nulls/ndv/min/max all read off the grouped
    // census) — on columnar parquet the six 1-column scans cost the
    // bytes of one 6-column scan, and nothing sorts: the one-scan
    // alternative (multi-distinct Expand ×7) forces a corpus-wide
    // SortAggregate because string min/max buffers can't hash
    // (measured 3.7s → 0.6s at sf0.1).
    "q254_stats_collect" -> ((s, dir) => {
      def stats(colName: String, key: Column, minMax: Column => Column)
          : DataFrame =
        t(s, dir, "orders")
          .groupBy(key.as("__k"))
          .agg(count(lit(1)).as("__cnt"))
          .agg(sum(col("__cnt")).as("n_rows"),
            sum(when(col("__k").isNull, col("__cnt")).otherwise(0L))
              .as("n_nulls"),
            count(col("__k")).as("ndv"),
            min(minMax(col("__k"))).as("min_val"),
            max(minMax(col("__k"))).as("max_val"))
          .select(lit(colName).as("col_name"), col("n_rows"),
            col("n_nulls"), col("ndv"),
            col("min_val").cast("string").as("min_val"),
            col("max_val").cast("string").as("max_val"))
      stats("o_orderkey", col("o_orderkey"), identity)
        .union(stats("o_custkey", col("o_custkey"), identity))
        .union(stats("o_orderstatus", col("o_orderstatus"), identity))
        .union(stats("o_totalprice",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"), identity))
        .union(stats("o_orderdate", col("o_orderdate"),
          c => unix_micros(c)))
        .union(stats("o_orderpriority", col("o_orderpriority"),
          identity))
    }),

    // LISTAGG / top-k-per-group report: each nation's top-5 parts by
    // exact revenue as ONE ordered comma-joined label column (the
    // GROUP_CONCAT surface). The per-group ranking is the q63 two-level
    // salted top-k — each (nation, salt) keeps its 5 best structs, the
    // merge sorts ≤ 32×5 — so no nation ever funnels its whole part
    // domain through one reducer's row_number sort.
    "q255_nation_top_parts" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .transform(joinSupplierNation(s, dir))
        .groupBy(col("n_name"), col("l_partkey"))
        .agg(sum(revE4).as("rev_e4"))
        .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_name"))),
          col("l_partkey") === col("p_partkey"))
      rev
        .groupBy(col("n_name"),
          pmod(col("l_partkey"), lit(32)).as("__salt"))
        .agg(slice(sort_array(collect_list(struct(
          (-col("rev_e4")).as("negrev"), col("l_partkey").as("pk"),
          col("p_name").as("p_name"), col("rev_e4").as("rev_e4")))),
          1, 5).as("top"))
        .groupBy(col("n_name"))
        .agg(slice(sort_array(flatten(collect_list(col("top")))), 1, 5)
          .as("top5"))
        .select(col("n_name"), expr("array_join(transform(top5, " +
          "x -> concat(x.p_name, ':', CAST(x.rev_e4 AS STRING))), ',')")
          .as("top_parts"))
    }),

    // Link prediction on the co-purchase graph: common-neighbor counts
    // from a DEGREE-CAPPED wedge expansion (centers with degree ≤ 64 —
    // hubs carry no signal and their d² wedge fan-out is the classic
    // scale-killer), candidates anti-joined against existing edges,
    // Jaccard = cn/(deg_a+deg_b−cn) as ONE double division over exact
    // integers. Reads the session's bucketed symmetric table: the
    // center join and both degree reads ride the node buckets
    // exchange-free; top-20 via TakeOrdered.
    "q256_link_prediction" -> ((s, dir) => {
      val sym = coPurchaseSymFrame(s, dir)
        .select(col("node"), col("peer"))
      // All three degree reads (center cap + both endpoint joins) come
      // off the session degree artifact — node-cardinality checkpoint
      // scans instead of three edge-table aggregations (VERDICT r11 #5).
      val deg = degreeTable(s, dir).select(col("node"), col("deg"))
      val low = sym.join(deg.filter(col("deg") <= 64).select(col("node")),
        "node")
      val cn = low.as("x").join(low.as("y"),
          col("x.node") === col("y.node") &&
            col("x.peer") < col("y.peer"))
        .select(col("x.peer").as("a"), col("y.peer").as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("common_neighbors"))
      cn.join(coPurchaseEdges(s, dir),
          col("a") === col("id_a") && col("b") === col("id_b"),
          "left_anti")
        .join(deg.select(col("node").as("a"), col("deg").as("deg_a")),
          "a")
        .join(deg.select(col("node").as("b"), col("deg").as("deg_b")),
          "b")
        .select(col("a").as("id_a"), col("b").as("id_b"),
          col("common_neighbors"), col("deg_a"), col("deg_b"),
          (col("common_neighbors").cast("double") /
            (col("deg_a") + col("deg_b") - col("common_neighbors"))
              .cast("double")).as("jaccard"))
        .orderBy(col("common_neighbors").desc, col("id_a"), col("id_b"))
        .limit(20)
    }),

    // Ratio-to-report: each supplier nation's revenue share of its
    // REGION's total — the percent-of-total window surface. Exact e4
    // integers up to the single share division; the window partitions
    // are region-bounded (≤ 5 rows of 25), ranked deterministically.
    "q257_ratio_to_report" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .transform(joinSupplier(s, dir))
        .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name"),
              col("n_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .transform(joinRegion(s, dir))
        .groupBy(col("r_name"), col("n_name"))
        // per-nation group scales with the corpus: sum and window-sum
        // stay EXACT in decimal(38,0) (a LongType sum of ~1e11/row
        // products wraps at 100-TB scale; a double window-sum would be
        // frame-order-divergent), double casts only at output.
        .agg(sum(revE4
          .cast("decimal(38,0)"))
          .as("__rev_d"))
      val wr = Window.partitionBy(col("r_name"))
      rev
        .withColumn("__region_d", sum(col("__rev_d")).over(wr))
        .withColumn("rank_in_region", rank().over(
          wr.orderBy(col("__rev_d").desc, col("n_name"))).cast("long"))
        .select(col("r_name"), col("n_name"),
          col("__rev_d").cast("double").as("rev_e4"),
          col("rank_in_region"),
          (col("__rev_d").cast("double") /
            col("__region_d").cast("double")).as("share_of_region"))
    }),

    // Consistent-hash shard rebalance planner (64 → 96 shards): how
    // many documents move under naive modulo vs a hash ring — the
    // movement bound (≈ new/total vs ≈ 1−1/k') that decides whether a
    // 100 TB resharding is an append or a full rewrite. The ring is a
    // 96-element CONSTANT-FOLDED array expression probed map-side per
    // row (sort_array(filter(ring, pos ≥ key))[0] with wraparound) —
    // zero expansion, zero shuffle before the 1-row global count.
    // Doc keys and ring positions are 60-bit md5 prefixes, identical
    // on both engines.
    "q258_shard_rebalance" -> ((s, dir) => {
      def hpos(sql: String): String =
        s"CAST(conv(substring(md5($sql), 1, 15), 16, 10) AS BIGINT)"
      val ring = (0 until 96).map(i =>
        s"named_struct('rpos', ${hpos(s"'shard:$i'")}, 'shard', $i)")
        .mkString("array(", ", ", ")")
      def assign(arr: String): String =
        s"""coalesce(
           | try_element_at(sort_array(filter($arr, x -> x.rpos >= kpos)), 1),
           | try_element_at(sort_array($arr), 1)).shard""".stripMargin
      t(s, dir, "documents")
        .select(expr(
          hpos("concat('doc:', CAST(doc_id AS STRING))")).as("kpos"))
        .withColumn("ring", expr(ring))
        .withColumn("ring64",
          expr("filter(ring, x -> x.shard < 64)"))
        .select(col("kpos"),
          expr(assign("ring")).as("s96"),
          expr(assign("ring64")).as("s64"),
          pmod(col("kpos"), lit(64L)).as("m64"),
          pmod(col("kpos"), lit(96L)).as("m96"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("m64") =!= col("m96"), 1L).otherwise(0L))
            .as("moved_naive"),
          sum(when(col("s64") =!= col("s96"), 1L).otherwise(0L))
            .as("moved_ring"))
        .select(col("n_docs"), col("moved_naive"), col("moved_ring"),
          (col("moved_naive").cast("double") /
            col("n_docs").cast("double")).as("naive_frac"),
          (col("moved_ring").cast("double") /
            col("n_docs").cast("double")).as("ring_frac"))
    }),

    // Seasonal decomposition (STL-style, moving-average flavor): daily
    // revenue → centered 7-day trend → per-weekday seasonal index.
    // Numerators stay EXACT integers all the way: the detrended value
    // is 7·day − Σ₇(window) in cents (never trend-as-double), summed
    // per weekday, ONE division by 7·n at the end. The global window
    // runs over the BOUNDED daily domain (the q226 Mann-Kendall
    // regime), weekday = epoch-day mod 7 (pure arithmetic — engine
    // dayofweek conventions never agree).
    "q259_seasonal_decompose" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(to_date(col("ts")).as("d"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .groupBy(col("d"))
        .agg(sum(col("c")).as("day_cents"))
      val w7 = Window.orderBy(col("d")).rowsBetween(-3, 3)
      daily
        .withColumn("s7", sum(col("day_cents")).over(w7))
        .withColumn("n7", count(lit(1)).over(w7))
        .filter(col("n7") === 7)
        .withColumn("dow",
          pmod(expr("datediff(d, DATE'1970-01-01')"), lit(7)).cast("int"))
        .groupBy(col("dow"))
        .agg(count(lit(1)).as("n_days"),
          sum(lit(7L) * col("day_cents") - col("s7")).as("num"))
        .select(col("dow"), col("n_days"),
          (col("num").cast("double") /
            (lit(7L) * col("n_days")).cast("double"))
            .as("seasonal_cents"))
    }),

    // Functional-dependency discovery (profiling sweep): does A
    // determine B? For each candidate FD, the LHS-group census reports
    // distinct LHS, distinct (LHS,RHS) pairs, and the number of LHS
    // groups with >1 RHS (0 ⇒ the FD holds). Each candidate is one
    // key-bounded shuffle + a 1-row rollup; the Metanome-style
    // primitive behind PK/denormalization inference on unknown data.
    "q260_fd_discovery" -> ((s, dir) => {
      def fd(df: DataFrame, name: String, lhs: Seq[Column],
          rhs: Column): DataFrame =
        df.groupBy(lhs: _*)
          .agg(countDistinct(rhs).as("k"))
          .agg(count(lit(1)).as("n_lhs"), sum(col("k")).as("n_pairs"),
            sum(when(col("k") > 1, 1L).otherwise(0L))
              .as("n_violating_lhs"))
          .select(lit(name).as("fd"), col("n_lhs"), col("n_pairs"),
            col("n_violating_lhs"),
            when(col("n_violating_lhs") === 0L, 1L).otherwise(0L)
              .as("holds"))
      fd(t(s, dir, "orders"), "orders: o_orderkey -> o_custkey",
          Seq(col("o_orderkey")), col("o_custkey"))
        .union(fd(t(s, dir, "orders"),
          "orders: o_custkey -> o_orderpriority",
          Seq(col("o_custkey")), col("o_orderpriority")))
        .union(fd(t(s, dir, "customer"), "customer: c_custkey -> c_name",
          Seq(col("c_custkey")), col("c_name")))
        .union(fd(t(s, dir, "customer"),
          "customer: c_nationkey -> c_mktsegment",
          Seq(col("c_nationkey")), col("c_mktsegment")))
        .union(fd(t(s, dir, "lineitem"),
          "lineitem: (l_orderkey, l_linenumber) -> l_partkey",
          Seq(col("l_orderkey"), col("l_linenumber")), col("l_partkey")))
    }),

    // Inclusion-dependency discovery (FK inference): is every distinct
    // child value present in the parent column? Distinct child keys
    // (key-domain bounded) anti-joined against the parent — the
    // containment census that finds joinable columns in an unprofiled
    // lake. n_missing = 0 ⇒ the IND (candidate FK) holds.
    "q261_ind_discovery" -> ((s, dir) => {
      def ind(child: DataFrame, ck: String, parent: DataFrame,
          pk: String, name: String): DataFrame = {
        val cd = child.select(col(ck).as("__v")).distinct()
        val miss = cd.join(parent.select(col(pk).as("__v")).distinct(),
          Seq("__v"), "left_anti")
        cd.agg(count(lit(1)).as("n_child_distinct"))
          .join(miss.agg(count(lit(1)).as("n_missing")))
          .select(lit(name).as("ind"), col("n_child_distinct"),
            col("n_missing"),
            when(col("n_missing") === 0L, 1L).otherwise(0L).as("holds"))
      }
      ind(t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey",
          "orders.o_custkey <= customer.c_custkey")
        .union(ind(t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey",
          "lineitem.l_partkey <= part.p_partkey"))
        .union(ind(t(s, dir, "customer"), "c_nationkey",
          t(s, dir, "nation"), "n_nationkey",
          "customer.c_nationkey <= nation.n_nationkey"))
        .union(ind(t(s, dir, "orders"), "o_orderkey",
          t(s, dir, "lineitem"), "l_orderkey",
          "orders.o_orderkey <= lineitem.l_orderkey"))
        .union(ind(t(s, dir, "supplier"), "s_nationkey",
          t(s, dir, "nation"), "n_nationkey",
          "supplier.s_nationkey <= nation.n_nationkey"))
    }),

    // kNN label classification + confusion matrix: leave-one-out 5-NN
    // majority vote over a BOUNDED eval sample (vec_id < 200 — the
    // classifier-eval regime: the eval set is small by design, the
    // corpus side is what scales), tie-broken (count desc, label asc)
    // via one max-of-struct — no vote window. The confusion matrix is
    // the standard embedding-quality gate before a corpus relabel.
    "q262_knn_confusion" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val lab = e.select(col("vec_id"), col("label"))
      val preds = evalKnnVotes(s, dir)
        .groupBy(col("query_id"))
        .agg(max(struct(col("cnt"), (-col("nlab")).as("neg"))).as("m"))
        .select(col("query_id"),
          (-col("m.neg")).cast("int").as("pred_label"))
      preds
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), "query_id")
        .groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
    }),

    // Per-class precision/recall/F1 off the same 5-NN predictions:
    // tp/fp/fn as exact integers; precision and recall are single
    // divisions, and F1 uses the integer identity 2tp/(2tp+fp+fn) —
    // never the (2·p·r)/(p+r) double chain, which rounds differently
    // per engine. Classes with no predictions read null precision
    // (guarded), not a division error.
    "q263_knn_class_metrics" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val lab = e.select(col("vec_id"), col("label"))
      val preds = evalKnnVotes(s, dir)
        .groupBy(col("query_id"))
        .agg(max(struct(col("cnt"), (-col("nlab")).as("neg"))).as("m"))
        .select(col("query_id"),
          (-col("m.neg")).cast("int").as("pred_label"))
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), "query_id")
      val byTrue = preds.groupBy(col("true_label").as("class"))
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("pred_label") === col("true_label"), 1L)
            .otherwise(0L)).as("tp"))
      val byPred = preds.groupBy(col("pred_label").as("class"))
        .agg(count(lit(1)).as("n_pred"))
      byTrue.join(byPred, Seq("class"), "full_outer")
        .select(col("class"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          (coalesce(col("n_pred"), lit(0L)) -
            coalesce(col("tp"), lit(0L))).as("fp"),
          (coalesce(col("n_true"), lit(0L)) -
            coalesce(col("tp"), lit(0L))).as("fn"))
        .select(col("class"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0L, col("tp").cast("double") /
            (col("tp") + col("fp")).cast("double")).as("precision"),
          when(col("tp") + col("fn") > 0L, col("tp").cast("double") /
            (col("tp") + col("fn")).cast("double")).as("recall"),
          when(lit(2L) * col("tp") + col("fp") + col("fn") > 0L,
            (lit(2L) * col("tp")).cast("double") /
              (lit(2L) * col("tp") + col("fp") + col("fn"))
                .cast("double")).as("f1"))
    }),

    // Data-freshness audit: per event type, staleness against the
    // corpus max timestamp and the last-7-days vs prior-7-days volume
    // ratio — the ops gate before a training snapshot. The global max
    // is a 1-row broadcast; everything else is one combinable pass in
    // exact epoch-µs integers, divisions guarded and last.
    "q264_freshness_audit" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val wk = 604800000000L
      ev.join(broadcast(ev.agg(max(col("us")).as("gmax"))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          max(col("us")).as("tmax"), max(col("gmax")).as("g"),
          sum(when(col("us") > col("gmax") - lit(wk), 1L).otherwise(0L))
            .as("n_last7"),
          sum(when(col("us") <= col("gmax") - lit(wk) &&
            col("us") > col("gmax") - lit(2L * wk), 1L).otherwise(0L))
            .as("n_prior7"))
        .select(col("event_type"), col("n_total"), col("n_last7"),
          col("n_prior7"),
          ((col("g") - col("tmax")).cast("double") /
            lit(3.6e9)).as("staleness_hours"),
          when(col("n_prior7") > 0L, col("n_last7").cast("double") /
            col("n_prior7").cast("double")).as("wow_ratio"))
    }),

    // Sparse TF-cosine similarity join over word-trigram vectors:
    // candidates from RARE shared shingles — rarity is the FRACTION
    // df·100 ≤ n_docs (an absolute cap dies whenever the vocabulary
    // saturates: this corpus has 31 words, so every unigram df scales
    // with the corpus), narrowed further to each doc's 4 rarest
    // shingles (the ppjoin prefix filter: every doc feeds ≤ 4 posting
    // lists no matter how long it is). Then the EXACT full dot product
    // per candidate pair: dots and squared norms are exact integer sums
    // of trigram frequencies; cosine is dot / (√na²·√nb²) — IEEE sqrt
    // and one division, same operand order both engines. Top-20 via
    // TakeOrdered.
    "q265_sparse_sim_join" -> ((s, dir) => {
      // The (doc, trigram, tf) relation is the session artifact itself
      // (materialized in the warehouse — the former localCheckpoint's
      // job); the df census and the posting join ride the term buckets.
      val tf = docTerms3(s, dir)
        .select(col("doc_id"), col("term"), col("tf"))
      val norm2 = tf.groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("tf")).as("n2"))
      val nd = tf.select(col("doc_id")).distinct()
        .agg(count(lit(1)).as("n_docs"))
      val rare = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
        .join(broadcast(nd))
        .filter(col("df") * lit(100L) <= col("n_docs"))
        .select(col("term"), col("df"))
      val wsig = Window.partitionBy(col("doc_id"))
        .orderBy(col("df"), col("term"))
      val sig = tf.join(rare, "term")
        .withColumn("__rk", row_number().over(wsig))
        .filter(col("__rk") <= 4)
        .select(col("doc_id"), col("term"))
      val cand = sig.as("x").join(sig.as("y"),
          col("x.term") === col("y.term") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
      // (r17 note: a map-attached per-pair fold — per-doc term→tf maps
      // joined to cand, dot via aggregate(map_entries(ma), ...) — was
      // measured SLOWER (2.33 vs 1.38 s paired subset): Spark MapType
      // element_at is a linear key scan, so the fold is O(|a|·|b|) per
      // pair. The explode route's two equi-joins stay.)
      val dot = cand
        .join(tf.select(col("doc_id").as("a"), col("term"),
          col("tf").as("tfa")), Seq("a"))
        .join(tf.select(col("doc_id").as("b"), col("term"),
          col("tf").as("tfb")), Seq("b", "term"))
        .groupBy(col("a"), col("b"))
        .agg(sum(col("tfa") * col("tfb")).as("dot"))
      dot
        .join(norm2.select(col("doc_id").as("a"), col("n2").as("na2")),
          "a")
        .join(norm2.select(col("doc_id").as("b"), col("n2").as("nb2")),
          "b")
        .select(col("a").as("doc_a"), col("b").as("doc_b"), col("dot"),
          (col("dot").cast("double") /
            (sqrt(col("na2").cast("double")) *
              sqrt(col("nb2").cast("double")))).as("cosine"))
        .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    }),

    // Difference-in-differences readout: synthetic cohorts (user_id
    // parity = treatment) around a cutoff date; the DiD estimate is
    // (T,after − T,before) − (C,after − C,before) on per-cell means.
    // Cell sums are exact integer cents; the four means are single
    // divisions and the estimate is arithmetic on those four doubles —
    // same operands, same order, both engines.
    "q266_diff_in_diff" -> ((s, dir) => {
      val cut = "TIMESTAMP'1996-07-01 00:00:00'"
      val cells = t(s, dir, "events")
        .select(
          when(pmod(col("user_id"), lit(2)) === 1, lit("T"))
            .otherwise(lit("C")).as("grp"),
          when(expr(s"ts >= $cut"), lit("after")).otherwise(lit("before"))
            .as("period"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .groupBy(col("grp"), col("period"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
        .select(col("grp"), col("period"), col("n"),
          (col("s").cast("double") / col("n").cast("double"))
            .as("mean_cents"))
      val m = cells.groupBy()
        .pivot(concat(col("grp"), lit("_"), col("period")),
          Seq("T_after", "T_before", "C_after", "C_before"))
        .agg(first(col("mean_cents")))
      m.select(col("T_after"), col("T_before"), col("C_after"),
          col("C_before"),
          ((col("T_after") - col("T_before")) -
            (col("C_after") - col("C_before"))).as("did_cents"))
    }),

    // Active-learning batch selection by vote-margin uncertainty: from
    // the q262 5-NN votes, margin = (top vote − runner-up vote) — the
    // 20 eval docs the classifier is least sure about, the batch a
    // labeling run wants next. Margins are exact integers (no
    // probability normalization needed for ranking); ascending
    // TakeOrdered, ties by query id.
    "q267_uncertainty_sampling" -> ((s, dir) => {
      evalKnnVotes(s, dir)
        .groupBy(col("query_id"))
        .agg(sort_array(collect_list(struct(col("cnt"),
          (-col("nlab")).as("neg"))), asc = false).as("vs"))
        .select(col("query_id"),
          (-col("vs")(0).getField("neg")).cast("int").as("top_label"),
          col("vs")(0).getField("cnt").as("top_votes"),
          coalesce(expr("try_element_at(vs, 2).cnt"), lit(0L))
            .as("runner_votes"))
        .withColumn("margin", col("top_votes") - col("runner_votes"))
        .orderBy(col("margin"), col("query_id"))
        .limit(20)
    }),

    // Quantile normalization (batch-effect removal): map each source's
    // n_chars distribution onto the POOLED distribution — for every
    // (source, value), the mapped value is the smallest pooled value
    // whose cumulative fraction ≥ the source's, decided by the EXACT
    // integer cross-product cum_pool·n_src ≥ cum_src·n_pool (never a
    // fraction). Both sides are bounded value histograms (the discrete-
    // quantile regime); the lookup is a histogram × histogram range
    // join, domain-bounded on both sides.
    "q268_quantile_normalize" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("n_chars").isNotNull)
      val src = d.groupBy(col("source"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(Window
          .partitionBy(col("source")).orderBy(col("v"))))
        .withColumn("n_src", sum(col("cnt")).over(Window
          .partitionBy(col("source"))))
      val pool = d.groupBy(col("n_chars").as("pv"))
        .agg(count(lit(1)).as("pcnt"))
        .withColumn("pcum", sum(col("pcnt")).over(Window.orderBy(col("pv"))))
        .join(broadcast(d.agg(count(lit(1)).as("n_pool"))))
      src.join(broadcast(pool),
          col("pcum").cast("decimal(38,0)") * col("n_src") >=
            col("cum").cast("decimal(38,0)") * col("n_pool"))
        .groupBy(col("source"), col("v"))
        .agg(min(col("pv")).as("mapped_v"))
        .select(col("source"), col("v"), col("mapped_v"),
          (col("mapped_v") - col("v")).as("shift"))
    }),

    // Negative-sampling yield for recommender training: 8 deterministic
    // pseudo-random item candidates per customer (md5-slot hashing, the
    // q258 position discipline), anti-joined against true interactions.
    // The yield census — how many candidates collide with positives and
    // must be resampled — is the planning number before a 100 TB
    // negatives job. Zero shuffles before the candidate anti-join; the
    // item-count scalar is a 1-row broadcast.
    "q269_negative_sampling_yield" -> ((s, dir) => {
      val nParts = broadcast(t(s, dir, "part")
        .agg(max(col("p_partkey")).as("max_pk")))
      val cand = t(s, dir, "customer").select(col("c_custkey"))
        .join(nParts)
        .select(col("c_custkey"), explode(expr(
          """transform(sequence(0, 7), i -> named_struct(
            | 'slot', i,
            | 'item', CAST(conv(substring(md5(concat('neg:',
            |    CAST(c_custkey AS STRING), ':', CAST(i AS STRING))),
            |   1, 15), 16, 10) AS BIGINT) % (max_pk + 1)))""".stripMargin))
          .as("c"))
        .select(col("c_custkey"), col("c.slot").as("slot"),
          col("c.item").as("item"))
      // The positive (customer, item) key set IS the purchase-history
      // artifact's grouping key (r17): read [[custPartOrders]]' checkpoint
      // instead of re-paying the lineitem⋈orders join + distinct per query.
      val pos = custPartOrders(s, dir)
        .select(col("cust").as("c_custkey"), col("part").as("item"))
      val kept = cand.join(pos, Seq("c_custkey", "item"), "left_anti")
      cand.agg(count(lit(1)).as("n_candidates"))
        .join(kept.agg(count(lit(1)).as("n_negatives")))
        .select(col("n_candidates"), col("n_negatives"),
          (col("n_candidates") - col("n_negatives"))
            .as("n_collisions"),
          (col("n_negatives").cast("double") /
            col("n_candidates").cast("double")).as("yield_frac"))
    }),

    // Seasonal-naive forecast backtest: predict each day's event count
    // with the same weekday last week (lag-7 over the bounded daily
    // grid), score MAE and WAPE per event type. Absolute errors are
    // EXACT integers, so both metrics reduce to integer sums with ONE
    // final division each — no per-day double accumulates anywhere.
    // The standard sanity bar every fancy forecaster must beat.
    "q270_forecast_backtest" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      daily
        .withColumn("pred", lag(col("n"), 7).over(w))
        .withColumn("pd", lag(col("d"), 7).over(w))
        // only score days whose lag-7 row IS exactly 7 days back — a
        // gap in the grid must not silently misalign the forecast
        .filter(col("pred").isNotNull &&
          expr("datediff(d, pd)") === 7)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("n") - col("pred"))).as("sae"),
          sum(col("n")).as("actual_total"))
        .select(col("event_type"), col("n_days"),
          (col("sae").cast("double") / col("n_days").cast("double"))
            .as("mae"),
          (col("sae").cast("double") /
            col("actual_total").cast("double")).as("wape"))
    }),

    // EXACT 1-D clustering into 64 price bands: for 1-D single-linkage,
    // the optimal k-clustering is exactly "cut the k−1 largest gaps" —
    // no iterative k-means needed. Runs on the WHOLE-DOLLAR value
    // histogram (bounded by the price range, the q251 quantization
    // discipline); the gap ranking and the running band id are windows
    // over that bounded histogram, never over rows. Deterministic ties:
    // (gap desc, value asc). Always 64 bands at any corpus scale — a
    // fixed gap threshold either never fires on a dense lattice or
    // fires everywhere on a sparse one.
    "q271_price_bands" -> ((s, dir) => {
      val pv = t(s, dir, "orders")
        .groupBy(expr(
          "CAST(round(o_totalprice * 100) AS BIGINT) div 100").as("d"))
        .agg(count(lit(1)).as("n_orders"))
      val w = Window.orderBy(col("d"))
      val wg = Window.orderBy(col("gap").desc, col("d"))
      pv
        .withColumn("gap",
          coalesce(col("d") - lag(col("d"), 1).over(w), lit(0L)))
        .withColumn("grk", row_number().over(wg))
        .withColumn("brk",
          when(col("grk") <= 63 && col("gap") > 0L, 1L).otherwise(0L))
        .withColumn("band", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("band"))
        .agg(min(col("d")).as("lo_dollars"),
          max(col("d")).as("hi_dollars"),
          sum(col("n_orders")).as("n_orders"),
          count(lit(1)).as("n_distinct_values"))
    }),

    // MODE() per group — the ordered-set aggregate SQL grew late and
    // engines leave ties undefined; here the mode of order priority per
    // customer nation is pinned deterministic: (count desc, value asc)
    // over the (nation × priority) census, which is dimension-bounded,
    // so the ranking window never sees corpus-scale partitions.
    "q272_mode_per_group" -> ((s, dir) => {
      val cnts = t(s, dir, "orders")
        .transform(joinCustomer(s, dir))
        .join(nationNames(s, dir), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("n_name"))
      cnts
        .withColumn("rk", row_number().over(
          w.orderBy(col("cnt").desc, col("o_orderpriority"))))
        .withColumn("n_total", sum(col("cnt")).over(w))
        .filter(col("rk") === 1)
        .select(col("n_name"),
          col("o_orderpriority").as("mode_priority"),
          col("cnt").as("n_mode"), col("n_total"),
          (col("cnt").cast("double") / col("n_total").cast("double"))
            .as("mode_share"))
    }),

    // Pareto concentration (the 80/20 readout): the smallest set of
    // top customers covering ≥ 80% of revenue. Customers are never
    // individually ranked — the descending cumulative runs over the
    // DOLLAR-QUANTIZED per-customer revenue histogram (bounded by the
    // revenue range, the q251 discipline), and the 80% crossing is the
    // exact integer test cum_rev·5 ≥ total·4 in decimal(38,0).
    "q273_pareto_concentration" -> ((s, dir) => {
      val cr = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("rev"))
      val h = cr.groupBy(expr("rev div 100").as("rd"))
        .agg(count(lit(1)).as("n_cust"), sum(col("rev")).as("rev_sum"))
      val w = Window.orderBy(col("rd").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      h
        .withColumn("cum_cust", sum(col("n_cust")).over(w))
        .withColumn("cum_rev", sum(col("rev_sum")).over(w))
        .join(broadcast(cr.agg(sum(col("rev")).as("total_rev"),
          count(lit(1)).as("total_cust"))))
        .filter(col("cum_rev").cast("decimal(38,0)") * lit(5) >=
          col("total_rev").cast("decimal(38,0)") * lit(4))
        .agg(min(struct(col("cum_cust"), col("rd"), col("cum_rev"),
          col("total_rev"), col("total_cust"))).as("x"))
        .select(col("x.cum_cust").as("n_top_customers"),
          col("x.rd").as("cutoff_dollars"),
          (col("x.cum_cust").cast("double") /
            col("x.total_cust").cast("double")).as("cust_frac"),
          (col("x.cum_rev").cast("double") /
            col("x.total_rev").cast("double")).as("rev_share"))
    }),

    // Padding-waste census for length-bucketed batching: docs bucket by
    // ilog2(token count); padding every doc in a bucket to the bucket
    // max costs n·max − Σlen tokens — the number that decides between
    // bucketed batching and exact-length packing (q57) at training
    // time. All exact integers, one waste-fraction division per bucket.
    "q274_padding_waste" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(size(T.tokens(col("text"))).cast("long").as("len"))
        .filter(col("len") > 0L)
        .groupBy(expr("length(bin(len)) - 1").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_tokens"),
          max(col("len")).as("bucket_max"))
        .select(col("bucket"), col("n_docs"), col("sum_tokens"),
          col("bucket_max"),
          (col("n_docs") * col("bucket_max") - col("sum_tokens"))
            .as("padding_tokens"),
          ((col("n_docs") * col("bucket_max") - col("sum_tokens"))
            .cast("double") /
            (col("n_docs") * col("bucket_max")).cast("double"))
            .as("waste_frac"))),

    // Epoch-shuffle quality audit: each epoch deterministically
    // re-shards documents (md5 of "ep<e>:" + doc_id, mod 32 — the q258
    // position discipline); a good shuffle spreads every epoch-0 shard
    // ~uniformly over epoch-1 shards. The census reports, per epoch-0
    // shard, how many epoch-1 shards it touches and its largest cell —
    // a collapsed cell means consecutive epochs batch the same docs
    // together. Map-side hashing, ONE (s0,s1) cell shuffle (≤ 1024
    // cells), exact integers.
    "q275_shuffle_quality" -> ((s, dir) => {
      def shard(e: Int): Column = expr(
        s"""CAST(conv(substring(md5(concat('ep$e:',
           | CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 32"""
          .stripMargin)
      t(s, dir, "documents")
        .select(shard(0).as("s0"), shard(1).as("s1"))
        .groupBy(col("s0"), col("s1"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("s0"))
        .agg(sum(col("n")).as("n_docs"),
          count(lit(1)).as("n_s1_shards"),
          max(col("n")).as("max_cell"), min(col("n")).as("min_cell"))
        .select(col("s0"), col("n_docs"), col("n_s1_shards"),
          col("max_cell"), col("min_cell"),
          (col("max_cell").cast("double") * lit(32.0) /
            col("n_docs").cast("double")).as("max_cell_skew"))
    }),

    // NDCG@10 of the int8-quantized retrieval against the exact-cosine
    // ideal: rel = membership in the exact top-10, discounts 1/log2(d+1)
    // as PASTED literals shared verbatim with the twin (the Benford
    // discipline — log2 is transcendental and banned), DCG folded in
    // rank order (the sorted-fold discipline), IDCG the pasted constant.
    // Completes the retrieval-eval shelf next to recall@3 (q49) and RRF
    // (q123) with the graded-position metric.
    "q276_ndcg" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ideal = Vec.cosineTopK(e.filter(col("vec_id") < 20), e,
          "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val sys = Vec.i8TopK(e.filter(col("vec_id") < 20), e,
          "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val dcg = sys
        .join(ideal, Seq("query_id", "neighbor_id"), "left_semi")
        .select(col("query_id"), col("rank").as("rnk"))
        .select(col("query_id"), col("rnk"), expr(NdcgDiscCase).as("w"))
        .groupBy(col("query_id"))
        .agg(expr("aggregate(array_sort(collect_list(struct(rnk, w)))" +
          ", 0.0D, (acc, x) -> acc + x.w)").as("dcg"))
      ideal.select(col("query_id")).distinct()
        .join(dcg, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          coalesce(col("dcg"), lit(0.0)).as("dcg"))
        .withColumn("ndcg", col("dcg") / lit(4.543559338088346))
    }),

    // Time-weighted average (TWAP): each event's value holds until the
    // user's next event; the average weights by holding duration. The
    // cents × µs products overflow bigint at corpus scale, so the
    // sufficient statistics run in decimal(38,0) (HUGEINT on the twin)
    // with ONE double division at the end. The lead window partitions
    // per user — never a global sort.
    "q277_twap" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v"))
        .withColumn("dt", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("dt").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("v").cast("decimal(38,0)") * col("dt")).as("vw"),
          sum(col("dt").cast("decimal(38,0)")).as("tw"))
        .select(col("event_type"), col("n_intervals"),
          (col("vw").cast("double") / col("tw").cast("double"))
            .as("twap_cents"))
    }),

    // Record-days (high-water-mark) census: per event type, the days
    // that set a new daily-revenue record, when the last record fell,
    // and the longest drought between records — "time since record" is
    // the ops trend signal CUSUM (q83) doesn't give directly. Running
    // prior-max and the record-to-record gaps are exact integer windows
    // over the bounded (type × day) grid.
    "q278_record_days" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val rec = daily
        .withColumn("prior_max", max(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("prior_max").isNull || col("c") > col("prior_max"))
      rec
        .withColumn("prev_rec", lag(col("d"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_records"),
          max(col("d")).cast("string").as("last_record_day"),
          max(col("c")).as("record_cents"),
          max(expr("datediff(d, prev_rec)")).as("max_drought_days"))
    }),

    // Cold-start coverage: what fraction of the catalog can the
    // co-purchase recommender serve at all? Items absent from the
    // graph (never co-purchased) are the cold-start list every serving
    // layer needs a fallback for. Reads the bucketed symmetric table's
    // node set exchange-free; the catalog anti-join is the only
    // shuffle.
    "q279_cold_start_coverage" -> ((s, dir) => {
      val inGraph = coPurchaseSymFrame(s, dir)
        .select(col("node")).distinct()
      val catalog = t(s, dir, "part").select(col("p_partkey"))
      val cold = catalog.join(inGraph,
        col("p_partkey") === col("node"), "left_anti")
      catalog.agg(count(lit(1)).as("n_parts"))
        .join(cold.agg(count(lit(1)).as("n_cold")))
        .select(col("n_parts"), (col("n_parts") - col("n_cold"))
            .as("n_in_graph"), col("n_cold"),
          ((col("n_parts") - col("n_cold")).cast("double") /
            col("n_parts").cast("double")).as("coverage_frac"))
    }),

    // TTL retention planning: for each candidate retention window
    // (1/3/7/14 days back from the corpus max — the feed spans ~30
    // days), how many events and
    // how much value would a purge delete — the census that sizes a
    // 100 TB retention policy before anyone runs it. One combinable
    // pass against a 1-row broadcast max; exact epoch-µs and cents.
    "q280_ttl_retention_plan" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(unix_micros(col("ts")).as("us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      val day = 86400000000L
      val g = broadcast(ev.agg(max(col("us")).as("gmax")))
      ev.join(g)
        .join(broadcast(s.createDataFrame(Seq(
            Tuple1(1L), Tuple1(3L), Tuple1(7L), Tuple1(14L)))
          .toDF("ttl_days")))
        .filter(col("us") < col("gmax") - col("ttl_days") * lit(day))
        .groupBy(col("ttl_days"))
        .agg(count(lit(1)).as("n_purged"),
          sum(col("c")).as("purged_cents"))
    }),

    // Precedence-lift matrix: for every ordered event-type pair (A,B),
    // how much more likely is B for users who did A FIRST —
    // lift = (n_AB/n_A)/(n_B/n_users) computed as ONE division of exact
    // decimal cross-products. Unlike q92's adjacent transitions this
    // sees "ever after" ordering via each user's FIRST occurrence per
    // type (≤ |types| rows/user, so the per-user pair join is
    // type-domain-bounded, never events²).
    "q281_precedence_matrix" -> ((s, dir) => {
      val ft = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(unix_micros(col("ts"))).as("fts"))
        .localCheckpoint()
      val byType = ft.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_t"))
      val nUsers = ft.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users"))
      val ordered = ft.as("a").join(ft.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") =!= col("b.event_type") &&
            col("a.fts") < col("b.fts"))
        .groupBy(col("a.event_type").as("ante"),
          col("b.event_type").as("cons"))
        .agg(count(lit(1)).as("n_ordered"))
      ordered
        .join(broadcast(byType.select(col("event_type").as("ante"),
          col("n_t").as("n_ante"))), "ante")
        .join(broadcast(byType.select(col("event_type").as("cons"),
          col("n_t").as("n_cons"))), "cons")
        .join(broadcast(nUsers))
        .select(col("ante"), col("cons"), col("n_ordered"),
          col("n_ante"), col("n_cons"),
          ((col("n_ordered").cast("decimal(38,0)") * col("n_users"))
            .cast("double") /
            (col("n_ante").cast("decimal(38,0)") * col("n_cons"))
              .cast("double")).as("precedence_lift"))
    }),

    // Snowflake-cube stress query: the full dimension chain
    // (region ← nation ← customer ← orders ← lineitem → part) rolled
    // into a 3-D CUBE over (region, order year, part type) — 8 grouping
    // sets from ONE fact pass, every dimension join a broadcast, the
    // revenue exact e4 integers. The bench-shaped query that exercises
    // join planning + grouping-set expansion together.
    "q282_snowflake_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), revE4.as("rev"))
        .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey"),
              year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .transform(joinCustomer(s, dir))
        .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
            .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .transform(joinPartType(s, dir))
        // Pre-aggregate to the FINEST grain before the CUBE (guide §2.3
        // "aggregate before you shuffle", r17): Expand's ×8 grouping-set
        // multiplier then runs over the |r_name × o_year × p_type| grain
        // table (~5k rows) instead of the whole joined fact — the fact
        // passes ONE combinable hash aggregate. Exact-equivalent because
        // both measures are decomposable: decimal(38,0) sums re-sum
        // exactly and the count re-sums as sum(n).
        .groupBy(col("r_name"), col("o_year"), col("p_type"))
        .agg(sum(col("rev").cast("decimal(38,0)")).as("__rev"),
          count(lit(1)).as("__n"))
        .cube(col("r_name"), col("o_year"), col("p_type"))
        // the cube's grand-total cell sums the WHOLE corpus's e4
        // products → decimal(38,0), ONE double cast (HUGEINT twin).
        .agg(sum(col("__rev")).cast("double").as("revenue_e4"),
          sum(col("__n")).as("n_lines"))),

    // Join-cardinality estimation audit (the System-R formula a CBO
    // runs): per 64-bucket key histogram, est = n_a·n_b / max(ndv_a,
    // ndv_b), folded in bucket order (sorted-fold discipline), against
    // the TRUE join size — on the q51 skew-remapped key, where the
    // uniform-within-bucket assumption underestimates hard. The audit
    // that explains why a skewed join stalls even when the optimizer
    // "sized" it.
    "q283_join_cardinality_estimate" -> ((s, dir) => {
      val skew = t(s, dir, "lineitem")
        .select(when(pmod(col("l_suppkey"), lit(2)) === 0, lit(1L))
          .otherwise(col("l_suppkey")).as("k"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey").as("k"))
      def hist(df: DataFrame): DataFrame =
        df.groupBy(pmod(col("k"), lit(64)).as("b"))
          .agg(count(lit(1)).as("n"), countDistinct(col("k")).as("ndv"))
      val est = hist(skew).as("a")
        .join(hist(sup).as("bb"), col("a.b") === col("bb.b"))
        .select(col("a.b").as("b"),
          ((col("a.n") * col("bb.n")).cast("double") /
            greatest(col("a.ndv"), col("bb.ndv")).cast("double"))
            .as("est"))
        .agg(expr("aggregate(array_sort(collect_list(struct(b, est)))" +
          ", 0.0D, (acc, x) -> acc + x.est)").as("est_rows"))
      val actual = skew.join(sup, "k")
        .agg(count(lit(1)).as("actual_rows"))
      est.join(actual)
        .select(col("est_rows"), col("actual_rows"),
          (col("actual_rows").cast("double") / col("est_rows"))
            .as("underestimate_factor"))
    }),

    // Mergeable-statistics audit: combine per-partition stats (the two
    // orderkey-parity halves) with the merge laws — counts add, nulls
    // add, min/max take least/greatest — and emit them beside a full
    // recompute. Equal rows prove the stats are safe to maintain
    // incrementally instead of rescanned; exact NDV is deliberately
    // absent (it does NOT merge — that's what sketches are for).
    "q284_stats_merge" -> ((s, dir) => {
      def half(p: Int): DataFrame = t(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(2)) === p)
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
            .as("nulls"),
          min(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("mn"),
          max(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("mx"))
      val merged = half(0).as("a").join(half(1).as("b"))
        .select(lit("merged").as("src"),
          (col("a.n") + col("b.n")).as("n_rows"),
          (col("a.nulls") + col("b.nulls")).as("n_nulls"),
          least(col("a.mn"), col("b.mn")).as("min_cents"),
          greatest(col("a.mx"), col("b.mx")).as("max_cents"))
      val full = t(s, dir, "orders")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
            .as("n_nulls"),
          min(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("min_cents"),
          max(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("max_cents"))
        .select(lit("recomputed").as("src"), col("n_rows"),
          col("n_nulls"), col("min_cents"), col("max_cents"))
      merged.union(full)
    }),

    // Partition-backfill planner: which (event_type, hour) partitions
    // are MISSING from each type's own [min, max] span, and how long is
    // the worst contiguous hole — the work-list a backfill job consumes
    // (q104's gap-fill fabricates values; this plans the job). The
    // expected grid is a span-bounded sequence explode per type; holes
    // become runs via the hour-minus-row_number islands trick, all
    // exact integers; complete types still report a 0-hole row.
    "q285_backfill_plan" -> ((s, dir) => {
      val obs = t(s, dir, "events")
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("h"))
        .distinct()
      val span = obs.groupBy(col("event_type"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"),
          count(lit(1)).as("n_present"))
      val missing = span
        .select(col("event_type"),
          explode(expr("sequence(h0, h1)")).as("h"))
        .join(obs, Seq("event_type", "h"), "left_anti")
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val holes = missing
        .withColumn("grp", col("h") - row_number().over(w))
        .groupBy(col("event_type"), col("grp"))
        .agg(count(lit(1)).as("run_len"), min(col("h")).as("run_start"))
        .groupBy(col("event_type"))
        .agg(sum(col("run_len")).as("miss"),
          count(lit(1)).as("holes"),
          max(col("run_len")).as("longest"),
          min(col("run_start")).as("first_miss"))
      span.join(holes, Seq("event_type"), "left_outer")
        .select(col("event_type"), col("n_present"),
          coalesce(col("miss"), lit(0L)).as("n_missing_hours"),
          coalesce(col("holes"), lit(0L)).as("n_holes"),
          coalesce(col("longest"), lit(0L)).as("longest_hole_hours"),
          col("first_miss").as("first_missing_hour"))
    }),

    // Simpson's-paradox detector: the q266 cohorts' conversion gap,
    // overall AND within each first-seen-week stratum. The direction of
    // every gap is the sign of the EXACT cross product conv_t·n_c −
    // conv_c·n_t (decimal(38,0) — no rate subtraction crosses engines);
    // a stratum row whose direction opposes the overall row IS the
    // paradox, the audit every cohort readout needs before shipping.
    "q286_simpson_detector" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(expr("unix_micros(ts) div 604800000000")).as("wk"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
        .withColumn("grp", pmod(col("user_id"), lit(2)))
      def cells(key: Column): DataFrame = u.groupBy(key.as("stratum"))
        .agg(sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("grp") === 1, col("conv")).otherwise(0L))
            .as("conv_t"),
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("grp") === 0, col("conv")).otherwise(0L))
            .as("conv_c"))
      val dirCol = {
        val x = col("conv_t").cast("decimal(38,0)") * col("n_c") -
          col("conv_c").cast("decimal(38,0)") * col("n_t")
        when(x > 0, 1).when(x < 0, -1).otherwise(0)
      }
      cells(col("wk")).union(cells(lit(-1L)))
        .select(col("stratum"), col("n_t"), col("conv_t"), col("n_c"),
          col("conv_c"),
          when(col("n_t") > 0L, col("conv_t").cast("double") /
            col("n_t").cast("double")).as("rate_t"),
          when(col("n_c") > 0L, col("conv_c").cast("double") /
            col("n_c").cast("double")).as("rate_c"),
          dirCol.as("direction"))
    }),

    // Tail-category lumping ("collapse to OTHER"): per supplier
    // nation, part names holding < 2% of the nation's line volume fold
    // into one OTHER row — the cardinality-control step before a
    // categorical feature or a legend-bounded chart. The head test is
    // RELATIVE — cnt·n_categories ≥ 2·total (2× the nation's average
    // category share, exact integers): an absolute share cutoff lumps
    // everything once the category count outgrows it (the q247/q265
    // lesson). Totals ride a dimension-bounded window; the relabeled
    // census re-aggregates in one more bounded shuffle.
    "q287_tail_lumping" -> ((s, dir) => {
      val cnts = t(s, dir, "lineitem")
        .transform(joinSupplierNation(s, dir))
        .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_name"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("n_name"), col("p_name"))
        .agg(count(lit(1)).as("cnt"))
      val wn = Window.partitionBy(col("n_name"))
      cnts
        .withColumn("tot", sum(col("cnt")).over(wn))
        .withColumn("ncat", count(lit(1)).over(wn))
        .select(col("n_name"),
          when(col("cnt") * col("ncat") >= lit(2L) * col("tot"),
            col("p_name")).otherwise(lit("OTHER")).as("category"),
          col("cnt"), col("tot"))
        .groupBy(col("n_name"), col("category"))
        .agg(sum(col("cnt")).as("n_lines"),
          count(lit(1)).as("n_lumped"),
          max(col("tot")).as("tot"))
        .select(col("n_name"), col("category"), col("n_lines"),
          col("n_lumped"),
          (col("n_lines").cast("double") / col("tot").cast("double"))
            .as("share"))
    }),

    // Error-budget burn (SRE accounting): per day, error events vs the
    // 25% budget, with the over-budget test and the cumulative burn
    // both EXACT integers (err·4 vs total — no rate ever computed
    // before the final display division). The running excess rides the
    // bounded daily grid; a positive cumulative burn is the page.
    "q288_error_budget" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_err"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
      daily
        .withColumn("excess", col("n_err") * lit(4L) - col("n_total"))
        .withColumn("cum_excess", sum(col("excess")).over(w))
        .select(col("d").cast("string").as("day"), col("n_total"),
          col("n_err"),
          when(col("excess") > 0L, 1L).otherwise(0L).as("over_budget"),
          col("cum_excess"),
          (col("n_err").cast("double") / col("n_total").cast("double"))
            .as("err_rate"))
    }),

    // Conformed-dimension audit: do the fact tables agree on who the
    // customers ARE? The distinct key sets of orders.o_custkey and
    // events.user_id full-outer-joined: only-in-orders, only-in-events,
    // both, and the Jaccard agreement — the integration check before
    // any cross-fact join is trusted. Key-domain-bounded distincts,
    // one join, exact integers to a single division.
    "q289_conformed_dim_audit" -> ((s, dir) => {
      val a = t(s, dir, "orders").select(col("o_custkey").as("k"))
        .distinct().withColumn("in_a", lit(1L))
      val b = t(s, dir, "events").select(col("user_id").as("k"))
        .distinct().withColumn("in_b", lit(1L))
      a.join(b, Seq("k"), "full_outer")
        .agg(
          sum(when(col("in_a").isNotNull && col("in_b").isNull, 1L)
            .otherwise(0L)).as("n_only_orders"),
          sum(when(col("in_a").isNull && col("in_b").isNotNull, 1L)
            .otherwise(0L)).as("n_only_events"),
          sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          count(lit(1)).as("n_union"))
        .select(col("n_only_orders"), col("n_only_events"),
          col("n_both"), col("n_union"),
          (col("n_both").cast("double") / col("n_union").cast("double"))
            .as("jaccard"))
    }),

    // Rollup-lattice consistency audit: the monthly aggregate computed
    // TWO ways — directly from the facts, and by re-aggregating the
    // daily rollup — emitted side by side with their exact integer
    // difference (must read 0 everywhere). The check that certifies an
    // aggregate lattice (q91's materialized rollups) before dashboards
    // trust the coarser grain.
    "q290_rollup_lattice_audit" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(expr("date_trunc('DAY', ts)").as("d"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("c"))
      val viaDaily = daily
        .groupBy(expr("date_trunc('MONTH', d)").as("m"))
        .agg(sum(col("n")).as("n_via_daily"),
          sum(col("c")).as("c_via_daily"))
      val direct = t(s, dir, "events")
        .groupBy(expr("date_trunc('MONTH', ts)").as("m"))
        .agg(count(lit(1)).as("n_direct"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("c_direct"))
      direct.join(viaDaily, Seq("m"), "full_outer")
        .select(to_date(col("m")).cast("string").as("month"),
          col("n_direct"),
          col("n_via_daily"), col("c_direct"), col("c_via_daily"),
          (coalesce(col("n_direct"), lit(0L)) -
            coalesce(col("n_via_daily"), lit(0L))).as("n_diff"),
          (coalesce(col("c_direct"), lit(0L)) -
            coalesce(col("c_via_daily"), lit(0L))).as("c_diff"))
    }),

    // FK fan-out profile: children per parent for the two core
    // relationships (orders/customer, lineitem/orders) — the join
    // cardinality numbers a planner multiplies through an estimate and
    // a skew triage reads first. Key-bounded rollups, exact integers,
    // one avg division per row.
    "q291_fanout_profile" -> ((s, dir) => {
      def prof(name: String, child: DataFrame, key: Column): DataFrame =
        child.groupBy(key.as("__k"))
          .agg(count(lit(1)).as("fan"))
          .agg(count(lit(1)).as("n_parents"),
            sum(col("fan")).as("n_children"),
            max(col("fan")).as("max_fanout"),
            min(col("fan")).as("min_fanout"))
          .select(lit(name).as("relationship"), col("n_parents"),
            col("n_children"), col("max_fanout"), col("min_fanout"),
            (col("n_children").cast("double") /
              col("n_parents").cast("double")).as("avg_fanout"))
      prof("orders_per_customer", t(s, dir, "orders"), col("o_custkey"))
        .union(prof("lines_per_order", t(s, dir, "lineitem"),
          col("l_orderkey")))
        .union(prof("lines_per_part", t(s, dir, "lineitem"),
          col("l_partkey")))
    }),

    // Attribution-window sensitivity sweep: how much does the reported
    // click→purchase conversion move as the attribution window widens
    // (1h / 6h / 24h / 72h)? Per user: first click, then the first
    // purchase AT OR AFTER it; the sweep is a 4-row broadcast grid over
    // exact epoch-µs gaps. The methodology audit that shows whether a
    // "conversion lift" is really a window-choice artifact.
    "q292_attribution_window_sweep" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val fc = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("us")).as("fc"))
      val fp = ev.filter(col("event_type") === "purchase")
        .join(fc, "user_id")
        .filter(col("us") >= col("fc"))
        .groupBy(col("user_id")).agg(min(col("us")).as("fp"))
      val gaps = fc.join(fp, Seq("user_id"), "left_outer")
        .select((col("fp") - col("fc")).as("gap_us"))
      val hour = 3600000000L
      gaps
        .join(broadcast(s.createDataFrame(Seq(
            Tuple1(1L), Tuple1(6L), Tuple1(24L), Tuple1(72L)))
          .toDF("window_hours")))
        .groupBy(col("window_hours"))
        .agg(count(lit(1)).as("n_clicked"),
          sum(when(col("gap_us").isNotNull &&
            col("gap_us") <= col("window_hours") * lit(hour), 1L)
            .otherwise(0L)).as("n_converted"))
        .select(col("window_hours"), col("n_clicked"),
          col("n_converted"),
          (col("n_converted").cast("double") /
            col("n_clicked").cast("double")).as("conv_rate"))
    }),

    // Weighted Jaccard between nations' part baskets: Σmin/Σmax over
    // the count vectors — the multiplicity-aware similarity the binary
    // shingle Jaccard (q25/q39) can't see. Only SHARED parts are ever
    // joined: Σmax folds out of the per-nation totals as
    // tot_a + tot_b − Σmin, so the pair pass is an equi-join on
    // partkey, never a union-domain expansion. Exact integers, one
    // division per pair.
    "q293_weighted_jaccard" -> ((s, dir) => {
      val v = t(s, dir, "lineitem")
        .transform(joinSupplierNation(s, dir))
        .groupBy(col("n_name"), col("l_partkey"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val tot = v.groupBy(col("n_name")).agg(sum(col("c")).as("tot"))
      v.as("a").join(v.as("b"),
          col("a.l_partkey") === col("b.l_partkey") &&
            col("a.n_name") < col("b.n_name"))
        .select(col("a.n_name").as("na"), col("b.n_name").as("nb"),
          least(col("a.c"), col("b.c")).as("mn"))
        .groupBy(col("na"), col("nb"))
        .agg(sum(col("mn")).as("sum_min"))
        .join(broadcast(tot.select(col("n_name").as("na"),
          col("tot").as("tot_a"))), "na")
        .join(broadcast(tot.select(col("n_name").as("nb"),
          col("tot").as("tot_b"))), "nb")
        .select(col("na"), col("nb"), col("sum_min"),
          (col("tot_a") + col("tot_b") - col("sum_min")).as("sum_max"),
          (col("sum_min").cast("double") /
            (col("tot_a") + col("tot_b") - col("sum_min"))
              .cast("double")).as("weighted_jaccard"))
    }),

    // Top-k movers report: the 1996 vs 1997 top-10 revenue parts,
    // full-outer-joined into entered / dropped / moved rows with rank
    // deltas — the BI "movers and shakers" readout. Each year's top-10
    // is a TakeOrdered over the part-bounded revenue rollup; the rank
    // window runs on 10 rows.
    "q294_topk_movers" -> ((s, dir) => {
      def topk(y: Int): DataFrame = {
        val r = t(s, dir, "lineitem")
          .filter(year(col("l_shipdate")) === y)
          .groupBy(col("l_partkey"))
          .agg(sum(revE4).as("rev"))
          .orderBy(col("rev").desc, col("l_partkey"))
          .limit(10)
        r.withColumn("rk", row_number().over(
          Window.orderBy(col("rev").desc, col("l_partkey"))).cast("long"))
      }
      topk(1996).select(col("l_partkey"), col("rk").as("rank_1996"),
          col("rev").as("rev_1996"))
        .join(topk(1997).select(col("l_partkey"),
          col("rk").as("rank_1997"), col("rev").as("rev_1997")),
          Seq("l_partkey"), "full_outer")
        .select(col("l_partkey").as("p_partkey"), col("rank_1996"),
          col("rank_1997"), col("rev_1996"), col("rev_1997"),
          when(col("rank_1996").isNull, lit("entered"))
            .when(col("rank_1997").isNull, lit("dropped"))
            .otherwise(lit("stayed")).as("status"),
          (coalesce(col("rank_1996"), lit(11L)) -
            coalesce(col("rank_1997"), lit(11L))).as("rank_gain"))
    }),

    // Longest error-free streak: hours (from the span grid) with zero
    // 'error' events, as islands — the availability figure next to
    // q288's budget burn. The grid is span-bounded; the anti-join and
    // both windows ride it, all exact integers.
    "q295_error_free_streaks" -> ((s, dir) => {
      val hours = t(s, dir, "events")
        .select(expr("unix_micros(ts) div 3600000000").as("h"),
          col("event_type"))
      val span = hours.agg(min(col("h")).as("h0"), max(col("h")).as("h1"),
        count(lit(1)).as("n_events"))
      val errHours = hours.filter(col("event_type") === "error")
        .select(col("h")).distinct()
      val free = span
        .select(explode(expr("sequence(h0, h1)")).as("h"))
        .join(errHours, Seq("h"), "left_anti")
      val w = Window.orderBy(col("h"))
      free
        .withColumn("grp", col("h") - row_number().over(w))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("len"), min(col("h")).as("start_h"))
        .agg(count(lit(1)).as("n_streaks"),
          sum(col("len")).as("n_error_free_hours"),
          max(struct(col("len"), col("start_h"))).as("b"))
        .select(col("n_streaks"), col("n_error_free_hours"),
          col("b.len").as("longest_streak_hours"),
          col("b.start_h").as("longest_streak_start_hour"))
    }),

    // Dedup impact report: corpus statistics BEFORE and AFTER exact
    // dedup (keep-smallest-id per md5), side by side — rows, bytes,
    // vocabulary, mean length. The before/after readout every dedup
    // run ships with; mean is the only division, everything else exact.
    "q296_dedup_impact" -> ((s, dir) => {
      def stats(df: DataFrame, stage: String): DataFrame = {
        val base = df.agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        val vocab = df
          .select(explode(T.tokens(col("text"))).as("tok"))
          .agg(countDistinct(col("tok")).as("vocab"))
        base.join(vocab)
          .select(lit(stage).as("stage"), col("n_docs"),
            col("total_chars"), col("vocab"),
            (col("total_chars").cast("double") /
              col("n_docs").cast("double")).as("mean_chars"))
      }
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val kept = d.select(col("doc_id"), col("text"), col("n_chars"),
          md5(col("text")).as("h"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keep_id"))
        .join(d.select(col("doc_id"), col("text"), col("n_chars")),
          col("keep_id") === col("doc_id"))
      stats(d, "before").union(stats(kept, "after_exact_dedup"))
    }),

    // Sample-ratio-mismatch (SRM) check: does the 50/50 cohort split
    // actually hold, overall and per first-seen-week stratum? The
    // 1-df chi-square (n_t − n_c)²/(n_t + n_c) has an exact integer
    // numerator and ONE division; flag at the pasted 3.84 critical
    // value. The experiment-health gate that runs BEFORE any readout
    // (q196/q221/q286) is trusted.
    "q297_srm_check" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(expr("unix_micros(ts) div 604800000000")).as("wk"))
        .withColumn("grp", pmod(col("user_id"), lit(2)))
      def cells(key: Column): DataFrame = u.groupBy(key.as("stratum"))
        .agg(sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_c"))
      cells(col("wk")).union(cells(lit(-1L)))
        .select(col("stratum"), col("n_t"), col("n_c"),
          (((col("n_t") - col("n_c")) * (col("n_t") - col("n_c")))
            .cast("double") /
            (col("n_t") + col("n_c")).cast("double")).as("srm_chi2"))
        .withColumn("srm_flag",
          when(col("srm_chi2") > 3.84, 1L).otherwise(0L))
    }),

    // Basket profile: the order-width distribution (lines per order)
    // with each width's share of all lines and the ascending cumulative
    // — the fact-table shape report behind basket-bounded self-join
    // cost estimates (the co-purchase build's fan-out IS this curve).
    // Windows ride the bounded width domain.
    "q298_basket_profile" -> ((s, dir) => {
      val widths = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_orders"))
        .withColumn("n_lines", col("w") * col("n_orders"))
      val tot = widths.agg(sum(col("n_lines")).as("total_lines"))
      widths.join(broadcast(tot))
        .withColumn("cum_lines", sum(col("n_lines")).over(
          Window.orderBy(col("w"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("w").as("basket_width"), col("n_orders"),
          col("n_lines"),
          (col("n_lines").cast("double") /
            col("total_lines").cast("double")).as("line_share"),
          (col("cum_lines").cast("double") /
            col("total_lines").cast("double")).as("cum_line_share"))
    }),

    // Growth accounting: per month, NEW customers (first order that
    // month) vs RETURNING (active but not new) — the standard growth
    // decomposition. First-month is one key-bounded rollup; activity
    // one more; both exact.
    "q299_growth_accounting" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          to_date(expr("date_trunc('MONTH', o_orderdate)")).as("m"))
      val first = o.groupBy(col("o_custkey")).agg(min(col("m")).as("fm"))
      val active = o.distinct()
      active.join(first, "o_custkey")
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("m") === col("fm"), 1L).otherwise(0L))
            .as("n_new"))
        .select(col("m").cast("string").as("month"), col("n_active"),
          col("n_new"), (col("n_active") - col("n_new"))
            .as("n_returning"))
    }),

    // KPI scorecard: the one-row executive header — orders, customers,
    // lines, revenue, AOV, lines/order, items/order — every ratio a
    // single division over exact integer scalars from TWO fact rollups
    // joined as 1-row broadcasts.
    "q300_kpi_scorecard" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("rev_cents"))
      val l = t(s, dir, "lineitem")
        .agg(count(lit(1)).as("n_lines"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("n_items"))
      o.join(l)
        .select(col("n_orders"), col("n_customers"), col("n_lines"),
          col("n_items"), col("rev_cents"),
          (col("rev_cents").cast("double") /
            col("n_orders").cast("double")).as("aov_cents"),
          (col("n_lines").cast("double") /
            col("n_orders").cast("double")).as("lines_per_order"),
          (col("n_items").cast("double") /
            col("n_orders").cast("double")).as("items_per_order"))
    }),

    // Vocabulary-size coverage curve: what fraction of all trigram
    // occurrences do the top-k vocabulary entries cover, on a
    // k ∈ {100, 1000, 5000, 20000} grid — the tokenizer-vocab-size
    // planning readout next to Heaps' law (q180) and the Zipf slope
    // (q143, whose vocab-bounded ranking caveat this shares). Exact
    // counts, one division per grid point.
    "q301_vocab_coverage" -> ((s, dir) => {
      // Global trigram occurrence counts fold bucket-locally from the
      // session artifact (c = Σtf per term — no corpus re-shingle).
      val tf = docTerms3(s, dir)
        .groupBy(col("term"))
        .agg(sum(col("tf")).as("c"))
      val w = Window.orderBy(col("c").desc, col("term"))
      val ranked = tf
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      ranked
        .join(broadcast(tf.agg(sum(col("c")).as("total"),
          count(lit(1)).as("vocab_size"))))
        .join(broadcast(s.createDataFrame(Seq(
            Tuple1(100L), Tuple1(1000L), Tuple1(5000L), Tuple1(20000L)))
          .toDF("k")))
        .filter(col("rk") <= col("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("vocab_used"),
          max(col("cum")).as("occurrences_covered"),
          max(col("total")).as("total_occurrences"))
        .select(col("k"), col("vocab_used"), col("occurrences_covered"),
          col("total_occurrences"),
          (col("occurrences_covered").cast("double") /
            col("total_occurrences").cast("double")).as("coverage"))
    }),

    // Row-weighted join-loss audit: how many FACT ROWS each join in
    // the schema drops (q261's IND discovery counts distinct keys;
    // planners and revenue reconciliation need the row-weighted rate).
    // One semi-join per relationship, including the cross-fact
    // events→customer bridge where losses actually live.
    "q302_join_loss_audit" -> ((s, dir) => {
      def loss(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame = {
        val c = child.select(col(ck).as("__k"))
        val m = c.join(parent.select(col(pk).as("__k")).distinct(),
          Seq("__k"), "left_semi")
        c.agg(count(lit(1)).as("n_child_rows"))
          .join(m.agg(count(lit(1)).as("n_matched")))
          .select(lit(name).as("relationship"), col("n_child_rows"),
            col("n_matched"),
            (col("n_child_rows") - col("n_matched")).as("n_dropped"),
            ((col("n_child_rows") - col("n_matched")).cast("double") /
              col("n_child_rows").cast("double")).as("drop_frac"))
      }
      loss("lineitem->part", t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey")
        .union(loss("lineitem->supplier", t(s, dir, "lineitem"),
          "l_suppkey", t(s, dir, "supplier"), "s_suppkey"))
        .union(loss("orders->customer", t(s, dir, "orders"),
          "o_custkey", t(s, dir, "customer"), "c_custkey"))
        .union(loss("events->customer", t(s, dir, "events"),
          "user_id", t(s, dir, "customer"), "c_custkey"))
    }),

    // Day-of-week × hour activity heatmap: the 168-cell volume matrix
    // every ops dashboard opens with. Weekday is epoch-day mod 7 and
    // hour is epoch-hours mod 24 (pure arithmetic — engine calendar
    // functions disagree); one combinable pass, one share division.
    "q303_dow_hour_heatmap" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(
          pmod(expr("unix_micros(ts) div 86400000000"), lit(7))
            .cast("int").as("dow"),
          pmod(expr("unix_micros(ts) div 3600000000"), lit(24))
            .cast("int").as("hour"))
      ev.groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n_events"))
        .join(broadcast(ev.agg(count(lit(1)).as("total"))))
        .select(col("dow"), col("hour"), col("n_events"),
          (col("n_events").cast("double") / col("total").cast("double"))
            .as("share"))
    }),

    // Peak concurrency: the maximum number of simultaneously-active
    // user-day sessions, via the classic +1/−1 sweep — but NEVER a
    // global sort of raw events: arrivals and departures aggregate to
    // the BOUNDED minute grid first (span-bounded, the q251 regime),
    // and the running concurrency + its argmax ride that grid. Exact
    // integers throughout; ties resolve to the earliest peak minute.
    "q304_peak_concurrency" -> ((s, dir) => {
      val sess = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          expr("unix_micros(ts) div 60000000").as("minute"))
        .groupBy(col("user_id"), col("day"))
        .agg(min(col("minute")).as("m0"), max(col("minute")).as("m1"))
      val deltas = sess.select(col("m0").as("m"), lit(1L).as("dc"))
        .union(sess.select((col("m1") + 1L).as("m"), lit(-1L).as("dc")))
        .groupBy(col("m"))
        .agg(sum(col("dc")).as("dc"))
      val w = Window.orderBy(col("m"))
        .rowsBetween(Window.unboundedPreceding, 0)
      deltas
        .withColumn("conc", sum(col("dc")).over(w))
        .agg(max(struct(col("conc"), (-col("m")).as("negm"))).as("b"),
          count(lit(1)).as("n_grid_points"))
        .join(broadcast(sess.agg(count(lit(1)).as("n_sessions"))))
        .select(col("n_sessions"), col("n_grid_points"),
          col("b.conc").as("peak_concurrency"),
          (-col("b.negm")).as("peak_minute"))
    }),

    // Sample-estimate calibration: the deterministic md5 hash-sample
    // (the q73/q54 sampling discipline) at 1/16 and 1/4 rates, its mean
    // against the full-scan truth, and the relative error — the report
    // that says whether the cheap estimate is good enough before a
    // 100 TB full pass is paid for. Single divisions; the error is
    // fixed-order arithmetic on two of them.
    "q305_sample_calibration" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            .as("c"),
          expr("CAST(conv(substring(md5(concat('samp:', " +
            "CAST(o_orderkey AS STRING))), 1, 15), 16, 10) AS BIGINT)")
            .as("h"))
      val truth = o.agg(sum(col("c")).as("ts"), count(lit(1)).as("tn"))
      o.join(broadcast(s.createDataFrame(Seq(Tuple1(16L), Tuple1(4L)))
          .toDF("rate_denom")))
        .filter(pmod(col("h"), col("rate_denom")) === 0L)
        .groupBy(col("rate_denom"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("c")).as("ss"))
        .join(broadcast(truth))
        .select(col("rate_denom"), col("n_sampled"),
          (col("ss").cast("double") / col("n_sampled").cast("double"))
            .as("est_mean_cents"),
          (col("ts").cast("double") / col("tn").cast("double"))
            .as("true_mean_cents"))
        .withColumn("rel_err",
          (col("est_mean_cents") - col("true_mean_cents")) /
            col("true_mean_cents"))
    }),

    // Bloom-filter size planner: bits and hash functions for the
    // distinct part-key set at 1% and 0.1% FPR. The -ln(p)/(ln 2)²
    // bits-per-key constants are transcendental → PASTED literals
    // (the Benford discipline) shared verbatim with the twin; the only
    // runtime math is exact count × literal, one ceil.
    "q306_bloom_planner" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .agg(countDistinct(col("l_partkey")).as("n_keys"))
        .join(broadcast(t(s, dir, "lineitem").sparkSession
          .createDataFrame(Seq(
            ("fpr_1pct", 9.585058377367439, 7L),
            ("fpr_01pct", 14.37758756605116, 10L)))
          .toDF("target", "bits_per_key", "k_hashes")))
        .select(col("target"), col("n_keys"), col("k_hashes"),
          expr("CAST(ceil(CAST(n_keys AS DOUBLE) * bits_per_key) " +
            "AS BIGINT)").as("filter_bits"))
        .withColumn("filter_mib",
          col("filter_bits").cast("double") / lit(8388608.0))),

    // Schema-tightening advisor: from exact min/max, the narrowest
    // integer type each key column fits and the bytes a 100 TB table
    // would shed — the q254 statistics put to work. Pure CASE chains
    // on exact integers.
    "q307_schema_tightening" -> ((s, dir) => {
      def advise(table: String, colName: String, df: DataFrame,
          c: Column): DataFrame =
        df.agg(min(c).cast("long").as("mn"),
            max(c).cast("long").as("mx"),
            count(lit(1)).as("n_rows"))
          .select(lit(s"$table.$colName").as("column"), col("mn"),
            col("mx"), col("n_rows"),
            when(col("mn") >= -128L && col("mx") <= 127L, "TINYINT")
              .when(col("mn") >= -32768L && col("mx") <= 32767L,
                "SMALLINT")
              .when(col("mn") >= -2147483648L &&
                col("mx") <= 2147483647L, "INT")
              .otherwise("BIGINT").as("narrowest"),
            when(col("mn") >= -128L && col("mx") <= 127L, 7L)
              .when(col("mn") >= -32768L && col("mx") <= 32767L, 6L)
              .when(col("mn") >= -2147483648L &&
                col("mx") <= 2147483647L, 4L)
              .otherwise(0L).as("bytes_saved_per_row"))
          .select(col("column"), col("mn"), col("mx"), col("narrowest"),
            (col("bytes_saved_per_row") * col("n_rows"))
              .as("bytes_saved"))
      advise("orders", "o_custkey", t(s, dir, "orders"),
          col("o_custkey"))
        .union(advise("lineitem", "l_suppkey", t(s, dir, "lineitem"),
          col("l_suppkey")))
        .union(advise("lineitem", "l_linenumber", t(s, dir, "lineitem"),
          col("l_linenumber")))
        .union(advise("customer", "c_nationkey", t(s, dir, "customer"),
          col("c_nationkey")))
    }),

    // Day-N retention: of users whose day N falls INSIDE the
    // observation window (the eligibility guard naive retention skips),
    // how many were active again exactly N days after their first day.
    // N ∈ {1, 7, 14}; activity is a distinct (user, day) set, the
    // return probe one semi-join per N. The product metric next to the
    // q193 weekly cohort triangle, at day grain with exact counts.
    "q308_day_n_retention" -> ((s, dir) => {
      val act = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .localCheckpoint()
      val fd = act.groupBy(col("user_id")).agg(min(col("day")).as("fd"))
      val maxDay = act.agg(max(col("day")).as("max_day"))
      val grid = broadcast(s.createDataFrame(Seq(
        Tuple1(1L), Tuple1(7L), Tuple1(14L))).toDF("n_days"))
      val eligible = fd.join(broadcast(maxDay)).join(grid)
        .filter(col("fd") + col("n_days") <= col("max_day"))
        .select(col("user_id"), col("n_days"),
          (col("fd") + col("n_days")).as("target_day"))
      val retained = eligible.join(act,
        eligible("user_id") === act("user_id") &&
          col("target_day") === col("day"), "left_semi")
      eligible.groupBy(col("n_days"))
        .agg(count(lit(1)).as("n_eligible"))
        .join(retained.groupBy(col("n_days"))
          .agg(count(lit(1)).as("n_retained")), Seq("n_days"))
        .select(col("n_days"), col("n_eligible"), col("n_retained"),
          (col("n_retained").cast("double") /
            col("n_eligible").cast("double")).as("retention_rate"))
    }),

    // Feature-crossing cardinality audit: crossing categorical features
    // multiplies NDVs in theory — how full is the cross in practice?
    // fill = actual distinct combos / Π ndv, the blowup check before a
    // crossed feature ships (a sparse cross is a memorization surface).
    // Exact NDVs, exact combo counts, one division per crossing.
    "q309_feature_crossing" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"),
              col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("o_orderpriority"))
        .localCheckpoint()
      val ndv = base.agg(
        countDistinct(col("c_nationkey")).as("d1"),
        countDistinct(col("c_mktsegment")).as("d2"),
        countDistinct(col("o_orderpriority")).as("d3"))
      val c2 = base.select(col("c_nationkey"), col("c_mktsegment"))
        .distinct().agg(count(lit(1)).as("actual"))
        .join(broadcast(ndv))
        .select(lit("nation x segment").as("crossing"),
          (col("d1") * col("d2")).as("est_cardinality"), col("actual"))
      val c3 = base.distinct().agg(count(lit(1)).as("actual"))
        .join(broadcast(ndv))
        .select(lit("nation x segment x priority").as("crossing"),
          (col("d1") * col("d2") * col("d3")).as("est_cardinality"),
          col("actual"))
      c2.union(c3)
        .select(col("crossing"), col("est_cardinality"), col("actual"),
          (col("actual").cast("double") /
            col("est_cardinality").cast("double")).as("fill_ratio"))
    }),

    // SCD2 validity-interval audit: the invariants a type-2 dimension
    // must hold — every chain closes (valid_to == next valid_from),
    // exactly one current version per key — certified over the q78
    // history with exact counts (like q284/q290, the audit that makes
    // the construction's guarantees VISIBLE to the consumer instead of
    // assumed). Per-key windows only.
    "q310_scd2_validity_audit" -> ((s, dir) => {
      val hist = scdHistory(
          t(s, dir, "events").filter(pmod(col("user_id"), lit(10)) === 0))
        .select(col("user_id"), col("valid_from_us"),
          col("valid_to_us"), col("is_current"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from_us"))
      val chained = hist
        .withColumn("next_from",
          lead(col("valid_from_us"), 1).over(w))
        .withColumn("break",
          when(col("next_from").isNotNull &&
            !(col("next_from") <=> col("valid_to_us")), 1L)
            .otherwise(0L))
      val perKey = chained.groupBy(col("user_id"))
        .agg(count(lit(1)).as("versions"),
          sum(col("break")).as("breaks"),
          sum(col("is_current").cast("long")).as("currents"))
      perKey.agg(count(lit(1)).as("n_keys"),
        sum(col("versions")).as("n_versions"),
        sum(col("breaks")).as("n_chain_breaks"),
        sum(when(col("currents") =!= 1L, 1L).otherwise(0L))
          .as("n_bad_current_keys"),
        max(col("versions")).as("max_chain_len"))
    }),

    // Volume alert bands: per event type, the P10/P90 of daily counts
    // as exact discrete order statistics (smallest value whose
    // cumulative count crosses the exact integer rank test cum·10 ≥ k·n
    // — never an interpolated percentile holding raw state), plus
    // whether the LAST day sits outside its band — the alert-rule
    // configuration an on-call dashboard consumes.
    "q311_alert_bands" -> ((s, dir) => {
      val daily = eventsPerDay(s, dir,
        expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val hist = cumCounts(daily.groupBy(col("event_type"), col("n")),
        "event_type", "n")
      def q(kNum: Long): DataFrame = hist
        .filter(col("cum") * 10L >= col("tot") * kNum)
        .groupBy(col("event_type"))
        .agg(min(col("n")).as(s"p$kNum"))
      val last = daily.groupBy(col("event_type"))
        .agg(max(struct(col("day"), col("n"))).as("b"))
        .select(col("event_type"), col("b.n").as("last_day_count"))
      daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
        .join(q(1L).withColumnRenamed("p1", "p10_daily"), "event_type")
        .join(q(9L).withColumnRenamed("p9", "p90_daily"), "event_type")
        .join(last, "event_type")
        .withColumn("alert",
          when(col("last_day_count") < col("p10_daily") ||
            col("last_day_count") > col("p90_daily"), 1L).otherwise(0L))
    }),

    // Negative-condition funnel ("A then B with NO C between"): clicks
    // that converted to a purchase WITHOUT an error in between — the
    // exclusion constraint ordinary funnels (q149) can't express. Per
    // user everything reduces to three firsts (first click, first
    // purchase after it, first error after it), so the whole check is
    // one combinable pass + comparisons — no per-path state.
    "q312_clean_path_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val fc = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("us")).as("fc"))
      val after = ev.join(fc, "user_id").filter(col("us") >= col("fc"))
      val firsts = after.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "purchase", col("us")))
          .as("fp"),
          min(when(col("event_type") === "error", col("us"))).as("fe"))
      firsts.agg(count(lit(1)).as("n_clicked"),
          sum(when(col("fp").isNotNull, 1L).otherwise(0L))
            .as("n_converted"),
          sum(when(col("fp").isNotNull &&
            (col("fe").isNull || col("fe") > col("fp")), 1L)
            .otherwise(0L)).as("n_clean_converted"))
        .select(col("n_clicked"), col("n_converted"),
          col("n_clean_converted"),
          (col("n_clean_converted").cast("double") /
            col("n_converted").cast("double")).as("clean_share"))
    }),

    // Event-study window: daily revenue indexed around a fixed
    // intervention date (±7 days), each relative day against the
    // PRE-period mean — the causal-inspection readout DiD (q266)
    // doesn't give when there's no control cohort. Exact cents; the
    // index is one division against a 1-row broadcast of exact sums
    // (rev·n_pre vs pre_sum cross-products never round).
    "q313_event_study" -> ((s, dir) => {
      val cut = "TIMESTAMP'2024-01-16 00:00:00'"
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("c"))
        .withColumn("rel_day",
          expr(s"datediff(d, CAST($cut AS DATE))"))
        .filter(col("rel_day").between(-7, 7))
      val pre = daily.filter(col("rel_day") < 0)
        .agg(sum(col("c")).as("pre_sum"), count(lit(1)).as("pre_n"))
      daily.join(broadcast(pre))
        .select(col("rel_day"), col("c").as("rev_cents"),
          ((col("c") * col("pre_n")).cast("double") /
            col("pre_sum").cast("double")).as("index_vs_pre"))
    }),

    // Item-lifecycle census: every part's sales count and active span
    // folded into a bounded 2-D (ilog2 sales × ilog2 span-days) grid —
    // the catalog-health heatmap (one-hit wonders vs steady sellers vs
    // short-lived spikes) without ever ranking parts. Exact integers.
    "q314_item_lifecycle_census" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_sales"),
          min(expr("unix_micros(l_shipdate) div 86400000000"))
            .as("d0"),
          max(expr("unix_micros(l_shipdate) div 86400000000"))
            .as("d1"))
        .select(expr("length(bin(n_sales)) - 1").as("sales_bucket"),
          expr("length(bin(d1 - d0 + 1)) - 1").as("span_bucket"),
          col("n_sales"))
        .groupBy(col("sales_bucket"), col("span_bucket"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("n_sales")).as("total_sales"))),

    // Purchase cadence by segment: each customer's MEDIAN gap between
    // consecutive order days (computed inside a bounded per-customer
    // array — fan-out bounded, q291's profile proves it), averaged per
    // segment. Medians of integer days are dyadic halves, so their sum
    // is EXACT in doubles and the segment mean is one division — the
    // only corpus-scale float sum this repo allows is the one that
    // cannot round.
    "q315_purchase_cadence" -> ((s, dir) => {
      val med = t(s, dir, "orders")
        .transform(joinCustomerSegment(s, dir))
        .groupBy(col("o_custkey"), col("c_mktsegment"))
        .agg(sort_array(collect_set(
          expr("unix_micros(o_orderdate) div 86400000000"))).as("days"))
        .filter(size(col("days")) >= 2)
        .withColumn("gs", expr("array_sort(transform(" +
          "sequence(1, size(days) - 1), i -> days[i] - days[i - 1]))"))
        .withColumn("m", size(col("gs")))
        .withColumn("median_gap", expr("""CASE WHEN m % 2 = 1
          | THEN CAST(gs[CAST(m div 2 AS INT)] AS DOUBLE)
          | ELSE (CAST(gs[CAST(m div 2 AS INT) - 1] AS DOUBLE) +
          |  CAST(gs[CAST(m div 2 AS INT)] AS DOUBLE)) / 2.0
          | END""".stripMargin))
      med.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("median_gap")).as("__s"),
          min(col("median_gap")).as("min_median_gap"),
          max(col("median_gap")).as("max_median_gap"))
        .select(col("c_mktsegment"), col("n_customers"),
          (col("__s") / col("n_customers").cast("double"))
            .as("avg_median_gap_days"),
          col("min_median_gap"), col("max_median_gap"))
    }),

    // Discount-depth elasticity readout: average quantity per discount
    // level, indexed against the zero-discount baseline via exact
    // integer cross-products (sumq·n₀ vs n·sumq₀) — does a deeper
    // discount actually move volume? Buckets are the bounded disc_e4
    // domain; one division per row.
    "q316_discount_elasticity" -> ((s, dir) => {
      val b = t(s, dir, "lineitem")
        .groupBy(expr("CAST(round(l_discount * 10000) AS BIGINT)")
          .as("disc_e4"))
        .agg(count(lit(1)).as("n_lines"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("sum_qty"))
      val base = b.filter(col("disc_e4") === 0L)
        .select(col("n_lines").as("n0"), col("sum_qty").as("q0"))
      b.join(broadcast(base))
        .select(col("disc_e4"), col("n_lines"), col("sum_qty"),
          (col("sum_qty").cast("double") / col("n_lines").cast("double"))
            .as("avg_qty"),
          ((col("sum_qty") * col("n0")).cast("double") /
            (col("n_lines") * col("q0")).cast("double"))
            .as("index_vs_zero_discount"))
    }),

    // Activity-streak leaderboard: each user's longest run of
    // consecutive active days (the islands trick inside per-user
    // partitions — never a global sort), top-10 by streak with
    // deterministic ties. The engagement metric product dashboards
    // rank by.
    "q317_activity_streaks" -> ((s, dir) => {
      val act = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      act
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("longest_streak"),
          sum(col("len")).as("n_active_days"))
        .orderBy(col("longest_streak").desc, col("user_id"))
        .limit(10)
    }),

    // Basket-diversity census: how many distinct part TYPES does an
    // order mix, as a bounded histogram with shares — the
    // cross-category signal a cross-sell model needs before it exists.
    // Per-order distinct count (order-bounded), then a ≤6-row census.
    "q318_basket_diversity" -> ((s, dir) => {
      val nt = t(s, dir, "lineitem")
        .transform(joinPartType(s, dir))
        .groupBy(col("l_orderkey"))
        .agg(countDistinct(col("p_type")).as("n_types"))
        .groupBy(col("n_types"))
        .agg(count(lit(1)).as("n_orders"))
      nt.join(broadcast(nt.agg(sum(col("n_orders")).as("total"))))
        .select(col("n_types"), col("n_orders"),
          (col("n_orders").cast("double") / col("total").cast("double"))
            .as("order_share"))
    }),

    // Ship-lag trend: are deliveries getting slower? Per ship year:
    // mean order→ship lag (exact day sums, one division) and the exact
    // median lag off the bounded day-lag histogram (cum·2 ≥ n — the
    // discrete order statistic, never percentile state). The ops-trend
    // readout behind every SLA renegotiation.
    "q319_ship_lag_trend" -> ((s, dir) => {
      val lag0 = t(s, dir, "lineitem")
        .transform(joinOrderDate(s, dir))
        .select(year(col("l_shipdate")).as("yr"), shipLagDays.as("lag_days"))
      val hist = cumCounts(lag0.groupBy(col("yr"), col("lag_days")),
        "yr", "lag_days")
      val med = hist.filter(col("cum") * 2L >= col("tot"))
        .groupBy(col("yr")).agg(min(col("lag_days")).as("median_lag"))
      lag0.groupBy(col("yr"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("lag_days")).as("__s"))
        .join(med, "yr")
        .select(col("yr"), col("n_lines"),
          (col("__s").cast("double") / col("n_lines").cast("double"))
            .as("mean_lag_days"),
          col("median_lag"))
    }),

    // Trade-balance matrix: supplier-nation → customer-nation revenue
    // flows folded into the antisymmetric balance flow(a,b) − flow(b,a)
    // per unordered pair; top-15 imbalances by |balance| (exact
    // integers; abs of exact ints orders identically everywhere). The
    // directional readout q208's symmetric volume query doesn't give.
    "q320_trade_balance" -> ((s, dir) => {
      val flow = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), revE4.as("rev"))
        .transform(joinTradeNations(s, dir))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(col("s_nationkey").as("from_n"),
          col("c_nationkey").as("to_n"))
        // nation-pair flows scale with the corpus → EXACT decimal(38,0)
        // sums; the |balance| ordering runs on the exact decimals and
        // the double cast happens only at output.
        .agg(sum(col("rev").cast("decimal(38,0)")).as("rev"))
      val lo = least(col("from_n"), col("to_n"))
      val hi = greatest(col("from_n"), col("to_n"))
      flow
        .select(lo.as("na"), hi.as("nb"),
          when(col("from_n") < col("to_n"), col("rev"))
            .otherwise(-col("rev")).as("signed"))
        .groupBy(col("na"), col("nb"))
        .agg(sum(col("signed")).as("__bal_d"))
        .orderBy(abs(col("__bal_d")).desc, col("na"), col("nb"))
        .limit(15)
        .select(col("na"), col("nb"),
          col("__bal_d").cast("double").as("balance_e4"))
    }),

    // Suspect-duplicate orders: same customer, same total (cents),
    // same day — the business-rule duplicate screen upstream of the
    // content-hash dedup family. One key-bounded groupBy; reports
    // groups and excess rows a reversal job would touch.
    "q321_suspect_duplicates" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          expr("unix_micros(o_orderdate) div 86400000000").as("day"))
        .agg(count(lit(1)).as("k"))
        .filter(col("k") > 1L)
        .agg(count(lit(1)).as("n_suspect_groups"),
          sum(col("k")).as("n_suspect_orders"),
          sum(col("k") - 1L).as("n_excess_orders"),
          max(col("k")).as("max_group_size"))),

    // Key-account risk: each nation's single largest customer and the
    // share of national revenue they carry — the concentration number
    // that decides whether losing one account sinks the region. Argmax
    // via max-of-struct (largest revenue, smallest key on ties), one
    // share division over exact cents.
    "q322_key_account_risk" -> ((s, dir) =>
      t(s, dir, "orders")
        .transform(joinCustomer(s, dir))
        .join(nationNames(s, dir), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("rev"))
        .groupBy(col("n_name"))
        .agg(max(struct(col("rev"), (-col("o_custkey")).as("negc")))
          .as("b"),
          sum(col("rev")).as("nation_rev"),
          count(lit(1)).as("n_customers"))
        .select(col("n_name"), col("n_customers"),
          (-col("b.negc")).as("top_customer"),
          col("b.rev").as("top_rev_cents"), col("nation_rev"),
          (col("b.rev").cast("double") /
            col("nation_rev").cast("double")).as("top_share"))),

    // Order size vs ship speed: mean order→ship lag per ilog2 order
    // value bucket — do big orders ship slower? Exact day sums over a
    // ≤64-bucket census, one division per bucket.
    "q323_size_vs_speed" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderdate"),
              expr("length(bin(CAST(round(o_totalprice * 100) " +
                "AS BIGINT))) - 1").as("value_bucket")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("value_bucket"), shipLagDays.as("lag_days"))
        .groupBy(col("value_bucket"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("lag_days")).as("__s"))
        .select(col("value_bucket"), col("n_lines"),
          (col("__s").cast("double") / col("n_lines").cast("double"))
            .as("mean_lag_days"))),

    // Full growth-accounting quad: per month, NEW / RETAINED (active
    // the month before) / RESURRECTED (back after a gap) customers,
    // plus CHURNED-NEXT (active now, gone next month) — the complete
    // decomposition q299's new/returning split approximates. Months
    // are exact integer indices (y·12+m); per-customer lag windows are
    // month-set bounded.
    "q324_growth_quad" -> ((s, dir) => {
      val cm = t(s, dir, "orders")
        .select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 +
            month(col("o_orderdate")) - 1).as("mi"))
        .distinct()
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("mi"))
      val classified = cm
        .withColumn("prev", lag(col("mi"), 1).over(w))
        .withColumn("nxt", lead(col("mi"), 1).over(w))
        .select(col("mi"),
          when(col("prev").isNull, 1L).otherwise(0L).as("is_new"),
          when(col("prev") === col("mi") - 1, 1L).otherwise(0L)
            .as("is_retained"),
          when(col("prev").isNotNull && col("prev") < col("mi") - 1, 1L)
            .otherwise(0L).as("is_resurrected"),
          when(col("nxt").isNull || col("nxt") > col("mi") + 1, 1L)
            .otherwise(0L).as("churns_after"))
      classified.groupBy(col("mi"))
        .agg(count(lit(1)).as("n_active"),
          sum(col("is_new")).as("n_new"),
          sum(col("is_retained")).as("n_retained"),
          sum(col("is_resurrected")).as("n_resurrected"),
          sum(col("churns_after")).as("n_churning_after"))
    }),

    // Region × quarter small multiples with QoQ growth: revenue per
    // (region, quarter index) and the quarter-over-quarter delta as an
    // exact integer difference plus one growth division — the BI grid
    // behind every regional review deck. Quarter index = exact integer
    // (year·4 + quarter), lag windows per region.
    "q325_region_qoq" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .transform(joinSupplier(s, dir))
        .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey"), col("n_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .transform(joinRegion(s, dir))
        .groupBy(col("r_name"),
          (year(col("l_shipdate")) * 4 +
            quarter(col("l_shipdate")) - 1).as("qi"))
        .agg(sum(priceCents).as("rev"))
      val w = Window.partitionBy(col("r_name")).orderBy(col("qi"))
      rev
        .withColumn("prev", lag(col("rev"), 1).over(w))
        .withColumn("pqi", lag(col("qi"), 1).over(w))
        .select(col("r_name"), col("qi"), col("rev").as("rev_cents"),
          when(col("pqi") === col("qi") - 1, col("rev") - col("prev"))
            .as("qoq_delta_cents"),
          when(col("pqi") === col("qi") - 1,
            (col("rev") - col("prev")).cast("double") /
              col("prev").cast("double")).as("qoq_growth"))
    }),

    // Order aging report: open (non-final) orders bucketed by age at
    // the snapshot date (the corpus max) — 0-30 / 31-60 / 61-90 / 90+
    // days, with counts and open value. The receivables-aging classic;
    // exact day arithmetic against a 1-row broadcast snapshot.
    "q326_order_aging" -> ((s, dir) => {
      val snap = t(s, dir, "orders")
        .agg(max(expr("unix_micros(o_orderdate) div 86400000000"))
          .as("snap_day"))
      t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "F")
        .join(broadcast(snap))
        .select(
          (col("snap_day") -
            expr("unix_micros(o_orderdate) div 86400000000"))
            .as("age_days"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
        .select(
          when(col("age_days") <= 30, "000-030")
            .when(col("age_days") <= 60, "031-060")
            .when(col("age_days") <= 90, "061-090")
            .otherwise("090+").as("age_bucket"),
          col("c"))
        .groupBy(col("age_bucket"))
        .agg(count(lit(1)).as("n_open_orders"),
          sum(col("c")).as("open_value_cents"))
    }),

    // Single-source supply risk: how many suppliers back each part
    // (bounded histogram), and what share of revenue rides on
    // single-sourced parts — the supply-chain fragility census. One
    // pair rollup + one revenue semi-join, exact to the final share.
    "q327_single_source_risk" -> ((s, dir) => {
      val perPart = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"))
        .localCheckpoint()
      val hist = perPart
        .select(when(col("n_suppliers") >= 4, 4L)
          .otherwise(col("n_suppliers")).as("suppliers_capped"))
        .groupBy(col("suppliers_capped"))
        .agg(count(lit(1)).as("n_parts"))
      // One revenue pass (r17): total and single-sourced cents fold in
      // the same aggregate off a broadcast single-source flag — the
      // former semi-join route scanned lineitem a second time for the
      // same integer sums.
      val revs = t(s, dir, "lineitem")
        .select(col("l_partkey"), priceCents.as("c"))
        .join(broadcast(perPart.filter(col("n_suppliers") === 1L)
          .select(col("l_partkey"), lit(1L).as("__single"))),
          Seq("l_partkey"), "left")
        .agg(sum(col("c")).as("total_rev"),
          // no otherwise(0): an empty single-source set must read NULL,
          // exactly like the former semi-join's sum over zero rows
          sum(when(col("__single") === 1L, col("c")))
            .as("single_source_rev"))
      hist
        .join(broadcast(revs))
        .select(col("suppliers_capped"), col("n_parts"),
          (col("single_source_rev").cast("double") /
            col("total_rev").cast("double"))
            .as("single_source_rev_share"))
    }),

    // Revenue-weighted growth accounting: per month, the share of
    // revenue from customers in their FIRST month — count-based growth
    // (q299/q324) can look healthy while new-customer REVENUE collapses.
    // Exact cents split by the first-month flag, one division per row.
    "q328_new_revenue_share" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 +
            month(col("o_orderdate")) - 1).as("mi"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      val first = o.groupBy(col("o_custkey")).agg(min(col("mi")).as("fm"))
      o.join(first, "o_custkey")
        .groupBy(col("mi"))
        .agg(sum(col("c")).as("rev_cents"),
          sum(when(col("mi") === col("fm"), col("c")).otherwise(0L))
            .as("new_rev_cents"))
        .select(col("mi"), col("rev_cents"), col("new_rev_cents"),
          (col("new_rev_cents").cast("double") /
            col("rev_cents").cast("double")).as("new_rev_share"))
    }),

    // Overdue-customer churn risk: customers whose CURRENT silence
    // (snapshot − last order day) exceeds twice their own median
    // inter-order gap — cadence-relative, not a global cutoff (a
    // weekly buyer 3 weeks dark is at risk; a yearly buyer isn't).
    // The q315 per-customer median machinery + one exact 2× compare;
    // outputs the campaign-size census per segment.
    "q329_overdue_customers" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .transform(joinCustomerSegment(s, dir))
        .groupBy(col("o_custkey"), col("c_mktsegment"))
        .agg(sort_array(collect_set(
          expr("unix_micros(o_orderdate) div 86400000000"))).as("days"))
        .filter(size(col("days")) >= 3)
        .withColumn("gs", expr("array_sort(transform(" +
          "sequence(1, size(days) - 1), i -> days[i] - days[i - 1]))"))
        .withColumn("m", size(col("gs")))
        // doubled median (exact integer: 2·mid or mid1+mid2) so the
        // 2×-median test is pure integer arithmetic
        .withColumn("med2", expr("""CASE WHEN m % 2 = 1
          | THEN 2 * gs[CAST(m div 2 AS INT)]
          | ELSE gs[CAST(m div 2 AS INT) - 1] +
          |  gs[CAST(m div 2 AS INT)] END""".stripMargin))
        .withColumn("last_day", expr("days[size(days) - 1]"))
      val snap = base.agg(max(col("last_day")).as("snap_day"))
      base.join(broadcast(snap))
        // gap > 2·median ⇔ gap > med2 (med2 is the DOUBLED median)
        .withColumn("overdue",
          when(col("snap_day") - col("last_day") > col("med2"), 1L)
            .otherwise(0L))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("overdue")).as("n_overdue"))
        .select(col("c_mktsegment"), col("n_customers"),
          col("n_overdue"),
          (col("n_overdue").cast("double") /
            col("n_customers").cast("double")).as("overdue_share"))
    }),

    // Brand margin rate: profit (q248's retail-cost basis) over revenue
    // per brand — exact e4 integers, ONE division per brand; the
    // merchandising readout that ranks brands by quality of revenue,
    // not just volume.
    "q330_brand_margin" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"),
              col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), revE4.as("rev"),
          (revE4 -
            expr("CAST(round(p_retailprice * 100) AS BIGINT)") *
              lit(10000L) *
              expr("CAST(round(l_quantity) AS BIGINT)")).as("profit"))
        .groupBy(col("p_brand"))
        // per-brand groups scale with the corpus → decimal(38,0) sums,
        // double casts at output only (HUGEINT twin).
        .agg(count(lit(1)).as("n_lines"),
          sum(col("rev").cast("decimal(38,0)")).as("__rev_d"),
          sum(col("profit").cast("decimal(38,0)")).as("__profit_d"))
        .select(col("p_brand"), col("n_lines"),
          col("__rev_d").cast("double").as("rev_e4"),
          col("__profit_d").cast("double").as("profit_e4"),
          (col("__profit_d").cast("double") /
            col("__rev_d").cast("double")).as("margin_rate"))),

    // Cross-border buyer census: how many distinct supplier nations
    // does each customer buy from — the international-exposure
    // histogram (share of single-nation buyers vs globally sourced).
    // Per-customer distinct count is key-bounded; census ≤ 25 rows.
    "q331_cross_border_buyers" -> ((s, dir) => {
      val nn = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .transform(joinSupplier(s, dir))
        .groupBy(col("o_custkey"))
        .agg(countDistinct(col("s_nationkey")).as("n_nations"))
        .groupBy(col("n_nations"))
        .agg(count(lit(1)).as("n_customers"))
      nn.join(broadcast(nn.agg(sum(col("n_customers")).as("total"))))
        .select(col("n_nations"), col("n_customers"),
          (col("n_customers").cast("double") /
            col("total").cast("double")).as("customer_share"))
    }),

    // Seasonal-item census: parts whose single best quarter carries
    // more than half their revenue (exact 2·max > total — no share
    // division per part), with the revenue that seasonality governs.
    // Per-part quarter rollup is key-bounded; the verdict is two rows.
    "q332_seasonal_items" -> ((s, dir) => {
      val pq = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), quarter(col("l_shipdate")).as("q"))
        .agg(sum(priceCents).as("rev"))
      val per = pq.groupBy(col("l_partkey"))
        .agg(max(col("rev")).as("max_q"), sum(col("rev")).as("tot"))
        .select(col("l_partkey"), col("tot"),
          when(col("max_q") * 2L > col("tot"), lit("seasonal"))
            .otherwise(lit("steady")).as("pattern"))
      val g = per.groupBy(col("pattern"))
        .agg(count(lit(1)).as("n_parts"), sum(col("tot")).as("rev"))
      g.join(broadcast(g.agg(sum(col("rev")).as("total_rev"))))
        .select(col("pattern"), col("n_parts"),
          col("rev").as("rev_cents"),
          (col("rev").cast("double") / col("total_rev").cast("double"))
            .as("rev_share"))
    }),

    // Priority vs ship speed: do URGENT orders actually ship faster?
    // Mean and exact median order→ship lag per priority class (the
    // q319 bounded-histogram median discipline) — the SLA-vs-reality
    // audit.
    "q333_priority_speed" -> ((s, dir) => {
      val lag0 = t(s, dir, "lineitem")
        .transform(joinOrderPriority(s, dir))
        .select(col("o_orderpriority"), shipLagDays.as("lag_days"))
      val hist = cumCounts(
          lag0.groupBy(col("o_orderpriority"), col("lag_days")),
          "o_orderpriority", "lag_days")
      val med = hist.filter(col("cum") * 2L >= col("tot"))
        .groupBy(col("o_orderpriority"))
        .agg(min(col("lag_days")).as("median_lag"))
      lag0.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"), sum(col("lag_days")).as("__s"))
        .join(med, "o_orderpriority")
        .select(col("o_orderpriority"), col("n_lines"),
          (col("__s").cast("double") / col("n_lines").cast("double"))
            .as("mean_lag_days"),
          col("median_lag"))
    }),

    // Dictionary-encoding plan: per string column, raw bytes vs the
    // dictionary estimate (distinct values' bytes + 2-byte codes per
    // row) — the columnar-storage advisor that says which columns pay
    // for dictionary pages at 100 TB. Exact integer byte accounting,
    // one ratio per column.
    "q334_dict_encoding_plan" -> ((s, dir) => {
      def plan(table: String, colName: String, df: DataFrame,
          c: Column): DataFrame = {
        val raw = df.agg(count(lit(1)).as("n_rows"),
          sum(length(c).cast("long")).as("raw_bytes"))
        val dict = df.select(c.as("__v")).distinct()
          .agg(count(lit(1)).as("ndv"),
            sum(length(col("__v")).cast("long")).as("dict_value_bytes"))
        raw.join(dict)
          .select(lit(s"$table.$colName").as("column"), col("n_rows"),
            col("ndv"), col("raw_bytes"),
            (col("dict_value_bytes") + lit(2L) * col("n_rows"))
              .as("dict_bytes"))
          .withColumn("compression_ratio",
            col("raw_bytes").cast("double") /
              col("dict_bytes").cast("double"))
      }
      plan("part", "p_name", t(s, dir, "part"), col("p_name"))
        .union(plan("orders", "o_orderpriority", t(s, dir, "orders"),
          col("o_orderpriority")))
        .union(plan("customer", "c_mktsegment", t(s, dir, "customer"),
          col("c_mktsegment")))
        .union(plan("documents", "text", t(s, dir, "documents")
          .filter(col("text").isNotNull), col("text")))
    }),

    // Order-value percentile ladder per segment: p25/p50/p75/p90 as
    // exact discrete order statistics off the dollar-quantized value
    // histogram (cum·100 ≥ k·n — the q251/q311 discipline; the full
    // ladder a pricing review reads).
    "q335_value_ladder" -> ((s, dir) => {
      val h = cumCounts(t(s, dir, "orders")
          .transform(joinCustomerSegment(s, dir))
          .groupBy(col("c_mktsegment"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100")
              .as("d")),
          "c_mktsegment", "d")
        .localCheckpoint()
      def p(k: Long, name: String): DataFrame = h
        .filter(col("cum") * 100L >= col("tot") * k)
        .groupBy(col("c_mktsegment")).agg(min(col("d")).as(name))
      p(25L, "p25_dollars")
        .join(p(50L, "p50_dollars"), "c_mktsegment")
        .join(p(75L, "p75_dollars"), "c_mktsegment")
        .join(p(90L, "p90_dollars"), "c_mktsegment")
    }),

    // Discount-policy compliance: the business rule "discount above 5%
    // requires quantity ≥ 25", audited per ship year with exact
    // integer tests — the data-contract check finance actually asks
    // for, next to the statistical audits (q101).
    "q336_policy_compliance" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(year(col("l_shipdate")).as("yr"),
          expr("CAST(round(l_discount * 10000) AS BIGINT)").as("d4"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("q"))
        .groupBy(col("yr"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("d4") > 500L && col("q") < 25L, 1L)
            .otherwise(0L)).as("n_violations"))
        .select(col("yr"), col("n_lines"), col("n_violations"),
          (col("n_violations").cast("double") /
            col("n_lines").cast("double")).as("violation_rate"))),

    // S9 ORC as a HASH-CHECKED query (VERDICT r10 #6, previously
    // spec-only): a 4-column orders projection round-trips through the
    // ORC source once per session ([[orcExport]]), then aggregates off
    // the ORC scan. The oracle reads the ORIGINAL parquet — agreement
    // proves the ORC write+read is lossless across longs, strings and
    // timestamps (pushdown/pruning parity is spec-pinned separately).
    "q337_orc_roundtrip" -> ((s, dir) =>
      Src.orc(s, orcExport(s, dir))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents").cast("decimal(38,0)")).cast("double")
            .as("total_cents"),
          min(unix_micros(col("o_orderdate"))).as("min_date_us"),
          max(unix_micros(col("o_orderdate"))).as("max_date_us"))),

    // S9 schema-evolution as a HASH-CHECKED query (VERDICT r10 #6): the
    // merged-schema read over the two-generation export ([[
    // evoParquetExport]]) — generation-1 rows must surface a null
    // `cents`, generation-2 rows their exact values. The oracle reads
    // the SAME files with union_by_name, pinning Spark's mergeSchema
    // against DuckDB's independent schema-union semantics.
    "q338_schema_evolution_read" -> ((s, dir) =>
      Src.parquetMerged(s, evoParquetExport(s, dir))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("cents")).as("n_cents_present"),
          sum(col("cents").cast("decimal(38,0)")).cast("double")
            .as("sum_cents"))),

    // Term burstiness (Church & Gale's Fano-factor signal): templated /
    // boilerplate terms repeat WITHIN the docs that contain them
    // (variance ≫ mean of per-doc tf); content words approach Poisson.
    // Exact integer sufficient statistics off the session tf artifact
    // (df, Σtf, Σtf² — bucket-local), decimal(38,0) cross products,
    // ONE double division; corpus-relative df floor (df·100 ≥ n_docs);
    // top-20 as TakeOrdered.
    "q339_term_burstiness" -> ((s, dir) => {
      val D = "decimal(38,0)"
      val st = docTerms(s, dir)
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("s1"),
          // tf² ≤ 1e8 on long docs and a stopword-grade term's group is
          // the corpus doc count — the product sum rides decimal(38,0)
          // (per-row product fits a long; only the SUM is corpus-scaled).
          sum((col("tf") * col("tf")).cast("decimal(38,0)")).as("s2"))
      val nd = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      st.crossJoin(broadcast(nd))
        .filter(col("df") * lit(100L) >= col("n_docs"))
        .select(col("term"), col("df"), col("s1"),
          ((col("df").cast(D) * col("s2").cast(D) -
            col("s1").cast(D) * col("s1").cast(D)).cast("double") /
            (col("df").cast(D) * col("s1").cast(D)).cast("double"))
            .as("fano"))
        .orderBy(col("fano").desc, col("term"))
        .limit(20)
    }),

    // Pairwise source vocabulary overlap — the unigram complement of
    // q141's 13-gram contamination matrix, served from the tf artifact:
    // distinct (source, term) pairs (bucket-local distinct), per-term
    // source self-join with fan-out bounded by sources² (never corpus),
    // totals broadcast, Jaccard one int/int division.
    "q340_source_vocab_overlap" -> ((s, dir) => {
      val sv = docTerms(s, dir).select(col("source"), col("term"))
        .distinct()
      val tot = sv.groupBy(col("source")).agg(count(lit(1)).as("n"))
      sv.select(col("source").as("src_a"), col("term"))
        .join(sv.select(col("source").as("src_b"),
          col("term").as("__t2")),
          col("term") === col("__t2") && col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(tot.select(col("source").as("src_a"),
          col("n").as("n_a"))), Seq("src_a"))
        .join(broadcast(tot.select(col("source").as("src_b"),
          col("n").as("n_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_common"), col("n_a"),
          col("n_b"),
          (col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")).cast("double"))
            .as("jaccard"))
    }),

    // Order-status aging — per status, how stale is the book? Exact
    // integer day diffs against the corpus max order day (replayable:
    // no wall clock), one mean division per status row.
    "q355_order_status_aging" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderstatus"),
          expr("unix_micros(o_orderdate) div 86400000000").as("d"))
      o.crossJoin(broadcast(o.agg(max(col("d")).as("dmax"))))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("dmax") - col("d")).as("__age_days"))
        .select(col("o_orderstatus"), col("n_orders"),
          (col("__age_days").cast("double") /
            col("n_orders").cast("double")).as("mean_age_days"))
    }),

    // Catalog naming census — parts per leading name token with part
    // count, revenue mass and share (the merchandising-taxonomy audit;
    // the token vocabulary is bounded, groups combinable map-side).
    "q356_part_name_census" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(priceCents).as("cents"))
      val g = t(s, dir, "part")
        .join(rev, col("p_partkey") === col("l_partkey"), "left_outer")
        .groupBy(split(col("p_name"), " ").getItem(0).as("first_token"))
        .agg(count(lit(1)).as("n_parts"),
          sum(coalesce(col("cents"), lit(0L))).as("total_cents"))
      g.crossJoin(broadcast(g.agg(sum(col("n_parts")).as("__np"))))
        .select(col("first_token"), col("n_parts"), col("total_cents"),
          (col("n_parts").cast("double") / col("__np").cast("double"))
            .as("part_share"))
    }),

    // Ship-lag p99 tail per supplier nation — the SLA tail (means hide
    // it, q333's median misses it): order→ship lag in whole days is a
    // BOUNDED integer domain, so p99 reads exactly off the cumulative
    // histogram (min lag with cum·100 ≥ 99·n — the q251/q335 discrete
    // rule); 25 rows, no per-row window.
    "q353_ship_lag_p99" -> ((s, dir) => {
      val lag = t(s, dir, "lineitem")
        .transform(joinOrderDate(s, dir))
        .transform(joinSupplier(s, dir))
        .groupBy(col("s_nationkey"),
          expr("(unix_micros(l_shipdate) - unix_micros(o_orderdate))" +
            " div 86400000000").as("lag_days"))
        .agg(count(lit(1)).as("f"))
      val w = Window.partitionBy(col("s_nationkey"))
      lag
        .withColumn("cum",
          sum(col("f")).over(w.orderBy(col("lag_days"))))
        .withColumn("n", sum(col("f")).over(w))
        .filter(col("cum") * 100L >= col("n") * 99L)
        .groupBy(col("s_nationkey"))
        .agg(min(col("lag_days")).as("p99_lag_days"),
          max(col("n")).as("n_lines"))
    }),

    // Discount-by-quantity policy audit — does the discount schedule
    // actually track order size? Mean basis points per integer quantity
    // (≤ 50 rows), exact integer sums, one division per row.
    "q354_discount_by_quantity" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
        .agg(count(lit(1)).as("n_lines"),
          sum(expr("CAST(round(l_discount * 10000) AS BIGINT)"))
            .as("__sbp"))
        .select(col("qty"), col("n_lines"),
          (col("__sbp").cast("double") / col("n_lines").cast("double"))
            .as("mean_discount_bp"))),

    // Embedding norm² census — the index-health panel's first row: are
    // vectors normalized, and how wide is the energy spread? norm² per
    // vector is a SEQUENTIAL fold in array order (both engines fold
    // left-to-right — order-pinned, so the float sum is bit-identical),
    // then quantized to 1e-7 granularity (round(n2·1e7)) — fine enough
    // that unit-normalized vectors spread across their float32
    // normalization noise (a 1-ulp fold divergence between engines
    // would move rows between buckets and fail the hash; safe because
    // the fold itself is bit-identical by construction).
    "q351_vector_norm_census" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), " +
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
          .as("n2"))
        .groupBy(expr("CAST(round(n2 * 10000000) AS BIGINT)")
          .cast("int").as("norm2_bucket"))
        .agg(count(lit(1)).as("n_vectors"))),

    // Per-dimension sign balance — a healthy embedding space is
    // roughly sign-balanced per coordinate; a stuck dimension (all one
    // sign) means a dead unit or a preprocessing bug. Exact positive /
    // zero counts per dimension, one share division; 64 output rows.
    "q352_dim_sign_balance" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("v") > 0f, 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("v") === 0f, 1L).otherwise(0L)).as("n_zero"))
        .select(col("dim"), col("n"), col("n_pos"), col("n_zero"),
          (col("n_pos").cast("double") / col("n").cast("double"))
            .as("pos_share"))),

    // Return rate per brand with its 95% Wilson band (q181's error-bar
    // discipline on the returns signal): exact line counts, the band
    // from integer sufficient statistics — the screen that separates a
    // genuinely troubled brand from small-sample noise.
    "q349_return_rate_by_brand" -> ((s, dir) => {
      val agg = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returned"))
      wilsonRates(agg, "p_brand", "n_lines", "n_returned", "return_rate")
    }),

    // Nation-affinity lift — which (customer nation → supplier nation)
    // lanes trade ABOVE independence? lift = n_cs·N / (n_c·n_s) on
    // exact line counts (the q342 lift algebra on the trade graph);
    // decimal(38,0) cross products, one division, top-10 lanes.
    "q350_nation_affinity" -> ((s, dir) => {
      val D = "decimal(38,0)"
      val flows = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .transform(joinTradeNations(s, dir))
        .select(col("c_nationkey").as("cn"), col("s_nationkey").as("sn"))
        .localCheckpoint()
      val cs = flows.groupBy(col("cn"), col("sn"))
        .agg(count(lit(1)).as("n_cs"))
      val cTot = flows.groupBy(col("cn")).agg(count(lit(1)).as("n_c"))
      val sTot = flows.groupBy(col("sn")).agg(count(lit(1)).as("n_s"))
      val n = flows.agg(count(lit(1)).as("n_all"))
      cs.join(broadcast(cTot), Seq("cn"))
        .join(broadcast(sTot), Seq("sn"))
        .crossJoin(broadcast(n))
        .select(col("cn"), col("sn"), col("n_cs"),
          ((col("n_cs").cast(D) * col("n_all").cast(D)).cast("double") /
            (col("n_c").cast(D) * col("n_s").cast(D)).cast("double"))
            .as("lift"))
        .orderBy(col("lift").desc, col("cn"), col("sn"))
        .limit(10)
    }),

    // Discount-dispersion census — how consistently is each part
    // discounted across its lines? (A wide spread means ad-hoc deals;
    // extendedprice itself scales with quantity, so the honest
    // consistency signal on this schema is the discount.) Per-part
    // min/max basis points (part-bounded groups), spread bucketed to
    // 100-bp bands — a ≤ 11-row census with exact revenue mass.
    "q347_discount_dispersion" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(min(expr("CAST(round(l_discount * 10000) AS BIGINT)"))
            .as("mn"),
          max(expr("CAST(round(l_discount * 10000) AS BIGINT)"))
            .as("mx"),
          count(lit(1)).as("n"),
          sum(priceCents).as("cents"))
        .groupBy(expr("(mx - mn) div 100").cast("int")
          .as("spread_bucket"))
        .agg(count(lit(1)).as("n_parts"), sum(col("n")).as("n_lines"),
          sum(col("cents")).as("total_cents"))),

    // Lines-per-order trend — the basket fill-rate series a demand
    // planner watches: per order month, order count, line count, and
    // the ratio as ONE division (the q319 trend discipline on a new
    // axis). Integer month ordinal (year·12+month), no interval math.
    "q348_fill_rate_trend" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .transform(joinOrderDate(s, dir))
        .groupBy((year(col("o_orderdate")) * 12 +
          month(col("o_orderdate")) - 1).as("mi"))
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_lines"))
        .select(col("mi"), col("n_orders"), col("n_lines"),
          (col("n_lines").cast("double") /
            col("n_orders").cast("double")).as("lines_per_order"))),

    // RFM segmentation grid — the classic customer cut: recency (last
    // order day), frequency (order count), monetary (lifetime cents),
    // each split high/low at its EXACT corpus median (the q251/q335
    // discrete-histogram rule: min value with cum·2 ≥ n — every metric
    // quantizes to a bounded integer domain: days, counts, whole
    // dollars), then the 8-cell census. Three 1-row medians broadcast;
    // no window over raw customers.
    "q345_rfm_segments" -> ((s, dir) => {
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(expr("unix_micros(o_orderdate) div 86400000000"))
            .as("r_day"),
          count(lit(1)).as("f_cnt"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("m_cents"))
        .withColumn("m_dollars", expr("m_cents div 100"))
        .localCheckpoint()
      def med(c: String): DataFrame = {
        val h = per.groupBy(col(c).as("v")).agg(count(lit(1)).as("f"))
        val cum = h.withColumn("cum",
          sum(col("f")).over(Window.orderBy(col("v"))))
        cum.crossJoin(broadcast(per.agg(count(lit(1)).as("n"))))
          .filter(col("cum") * 2 >= col("n"))
          .agg(min(col("v")).as(s"med_$c"))
      }
      per
        .crossJoin(broadcast(med("r_day")))
        .crossJoin(broadcast(med("f_cnt")))
        .crossJoin(broadcast(med("m_dollars")))
        .select(
          concat(when(col("r_day") > col("med_r_day"), lit("R"))
              .otherwise(lit("r")),
            when(col("f_cnt") > col("med_f_cnt"), lit("F"))
              .otherwise(lit("f")),
            when(col("m_dollars") > col("med_m_dollars"), lit("M"))
              .otherwise(lit("m"))).as("segment"),
          col("m_cents"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("m_cents")).as("total_cents"))
    }),

    // Supplier-concentration HHI per part type — the Herfindahl index
    // procurement risk reads (1.0 = single-source): Σ share² assembled
    // as EXACT integer cross-products Σs²/(Σs)² in decimal(38,0) (cents
    // scale keeps the squares under 38 digits at 100 TB; never a sum of
    // per-supplier share doubles, whose order diverges), ONE double
    // division per type.
    "q346_supplier_hhi" -> ((s, dir) => {
      val D = "decimal(38,0)"
      val rev = t(s, dir, "lineitem")
        .transform(joinPartType(s, dir))
        .groupBy(col("p_type"), col("l_suppkey"))
        .agg(sum(priceCents).as("c"))
      rev.groupBy(col("p_type"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("c").cast(D)).as("__tot"),
          sum(col("c").cast(D) * col("c").cast(D)).as("__sq"))
        .select(col("p_type"), col("n_suppliers"),
          col("__tot").cast("double").as("total_cents"),
          (col("__sq").cast("double") /
            (col("__tot") * col("__tot")).cast("double")).as("hhi"))
    }),

    // Bigram lift (the PMI collocation signal with the transcendental
    // removed): lift(a b) = c_ab·N / (c_a·c_b) — >1 means the pair
    // co-occurs above independence. Bigram counts come from the gram=2
    // tf artifact, unigram counts and the N total from the gram=1
    // artifact; a corpus-relative df floor (df·100 ≥ n_docs) keeps the
    // tail out. Exact decimal(38,0) cross products, ONE double
    // division, top-20 TakeOrdered.
    "q342_bigram_lift" -> ((s, dir) => {
      val D = "decimal(38,0)"
      val nd = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val big = docTermsBucketed(s, dir, 2)
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("c_ab"))
        .crossJoin(broadcast(nd))
        .filter(col("df") * lit(100L) >= col("n_docs"))
        .select(col("term"), col("c_ab"),
          split(col("term"), " ").getItem(0).as("__wa"),
          split(col("term"), " ").getItem(1).as("__wb"))
      val uni = docTerms(s, dir)
        .groupBy(col("term")).agg(sum(col("tf")).as("c"))
      val n = uni.agg(sum(col("c")).as("n_toks"))
      big
        .join(uni.select(col("term").as("__wa"), col("c").as("c_a")),
          Seq("__wa"))
        .join(uni.select(col("term").as("__wb"), col("c").as("c_b")),
          Seq("__wb"))
        .crossJoin(broadcast(n))
        .select(col("term").as("bigram"), col("c_ab"), col("c_a"),
          col("c_b"),
          ((col("c_ab").cast(D) * col("n_toks").cast(D)).cast("double") /
            (col("c_a").cast(D) * col("c_b").cast(D)).cast("double"))
            .as("lift"))
        .orderBy(col("lift").desc, col("bigram"))
        .limit(20)
    }),

    // Per-doc type-token-ratio deciles — the repetitiveness histogram a
    // curation dashboard reads next to q135's per-source panel: decile
    // = ⌊10·types/tokens⌋ (exact ints; 10 = every token distinct).
    // Both per-doc counts fold from the tf artifact; output ≤ 11 rows.
    "q343_doc_ttr_deciles" -> ((s, dir) =>
      docTerms(s, dir)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("__types"), sum(col("tf")).as("__toks"))
        .groupBy(expr("CAST((__types * 10) div __toks AS INT)")
          .as("ttr_decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__toks")).as("n_tokens"),
          sum(col("__types")).as("n_types"))),

    // Corpus-hapax TRIGRAM share per doc, censused — how much of each
    // doc's phrasing appears NOWHERE else (high = genuinely novel text;
    // zero = fully templated; the corpus's unigram vocabulary is too
    // small to carry hapax signal, trigrams do). The global df census
    // is bucket-local, the join back to postings rides the same
    // buckets, per-doc counts shuffle compact ints; ≤ 11 output rows.
    "q344_doc_hapax_share" -> ((s, dir) => {
      val dfreq = docTerms3(s, dir)
        .groupBy(col("term")).agg(count(lit(1)).as("__df"))
      docTerms3(s, dir)
        .select(col("doc_id"), col("term"))
        .join(dfreq, Seq("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("__types"),
          sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("__hapax"))
        .groupBy(expr("CAST((__hapax * 10) div __types AS INT)")
          .as("hapax_decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__types")).as("n_types"),
          sum(col("__hapax")).as("n_hapax"))
    }),

    // Out-of-vocabulary share per source — the tokenizer-coverage audit
    // a fixed-vocab training run needs: the share of trigram
    // OCCURRENCES outside the corpus top-1000 (deterministic
    // (count desc, term) cut, broadcast), per source. All counts fold
    // from the trigram artifact; the rate is one division.
    "q341_oov_rate" -> ((s, dir) => {
      val top = docTerms3(s, dir)
        .groupBy(col("term")).agg(sum(col("tf")).as("__c"))
        .orderBy(col("__c").desc, col("term")).limit(1000)
        .select(col("term"), lit(1).as("__in"))
      docTerms3(s, dir)
        .join(broadcast(top), Seq("term"), "left")
        .groupBy(col("source"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(when(col("__in").isNull, col("tf")).otherwise(0L))
            .as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens").cast("double"))
            .as("oov_share"))
    }),

    // l-diversity census — the attribute-disclosure audit k-anonymity
    // (q116) can't see: a block where every member shares one sensitive
    // value re-identifies the ATTRIBUTE even at k ≥ 8. Blocks =
    // (segment, nation); sensitive = the integer balance bucket; the
    // l=1 census row is the exposure. Exact distinct via the class ×
    // sensitive expansion — both shuffles block-bounded.
    "q194_l_diversity" -> ((s, dir) =>
      Q.lDiversityCensus(t(s, dir, "customer"),
        Seq(col("c_mktsegment"), col("c_nationkey")),
        floor(col("c_acctbal") / 1000).cast("long"))),

    // S9 as a HASH-CHECKED query (VERDICT r9 #4, previously spec-only):
    // the events table exported once per session as an NDJSON feed with
    // every 97th line deterministically truncated (the corrupt-line rate
    // real crawler/API dumps arrive with), audit-read back through the
    // single-pass text + from_json route (Sources.ndjsonAudited — no
    // cache workaround, splittable): per-type stats over good rows, the
    // corrupt census alongside. The DuckDB twin reads the SAME feed as
    // raw lines and json_valid-splits them.
    "q186_ndjson_audit" -> ((s, dir) => {
      val path = ndjsonFeed(s, dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cents",
          org.apache.spark.sql.types.LongType)))
      val rows = Src.ndjsonAudited(s, path, schema)
      val corrupt = rows
        .agg(sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_corrupt"))
      rows.filter(col("_corrupt_record").isNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .crossJoin(broadcast(corrupt))
    }),

    // L108: inter-labeler agreement — Cohen's kappa between the declared
    // document language and the q22 marker-n-gram prediction, exact
    // integer po/pe numerators, one double division.
    "q125_label_agreement" -> ((s, dir) => {
      import s.implicits._
      val markers = langIdMarkers.toDF("m_word", "m_lang", "m_weight")
      val docs = gatedSpreadDocs(s, dir)
      val best = T.langIdBest(docs, "doc_id", col("text"), markers)
      val lab = docs.select(col("doc_id"), col("lang"))
        .join(best, Seq("doc_id"), "left")
        .select(col("lang").as("a"),
          coalesce(col("m_lang"), lit("und")).as("b"))
      An.cohenKappa(lab, col("a"), col("b"))
    }),

    // L95: per-type standard-score census of event values (cents) —
    // exact integer sufficient stats, decimal variance assembly, then a
    // deterministic per-row z; reports the scale parameters and the
    // |z| > 2 / > 3 tail mass that decides if z-scoring is usable.
    "q112_standardize" -> ((s, dir) =>
      An.standardize(eventValues(s, dir), col("event_type"), valueCents)),

    // Semi-structured props: extract the long-tail JSON attribute k
    // (get_json_object + try_cast, codegen'd — no UDF, no schema
    // migration), then a per-type census of the extracted values.
    "q96_json_props" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), C.jsonLong(col("props"), "$.k").as("k"))
        .filter(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))),

    // Skew diagnostic on the q51/q52 scenario key (every even suppkey
    // remapped to 1 → one key carries ~half the fact table): the
    // measure-before-you-salt report. skew_ratio = max/mean key count;
    // ~1 = uniform, 10×+ = the straggler signature that justifies
    // saltedJoin. Exact counts, two final divisions.
    "q89_skew_report" -> ((s, dir) =>
      An.skewReport(
        t(s, dir, "lineitem").select(
          when(pmod(col("l_suppkey"), lit(2)) === 0, lit(1L))
            .otherwise(col("l_suppkey")).as("skew_key")),
        col("skew_key"), topK = 5)),

    // Contingency screen: order priority × status, observed vs expected
    // under independence with standardized residuals. Per-cell single
    // expressions over exact integer counts (a summed χ² total would be
    // partial-agg-order dependent — deliberately not emitted).
    "q86_contingency" -> ((s, dir) =>
      An.contingency(t(s, dir, "orders"), col("o_orderpriority"),
          col("o_orderstatus"))
        .select(col("r").as("priority"), col("c").as("status"),
          col("observed"), col("expected"), col("residual"))),

    // Incremental dedup: a simulated crawl delta (every 10th doc)
    // admitted against the existing corpus. Candidate probes come ONLY
    // from the delta's bands — existing×existing pairs are never
    // enumerated, the shape that lets a daily delta dedup against a
    // 100 TB history. Greedy-by-id verdict: rejected if near-dup of any
    // existing doc or a smaller-id batch mate.
    "q85_incremental_dedup" -> ((s, dir) => {
      val docs = spreadDocs(s, dir)
        .select(col("doc_id"), col("text"))
      val incoming = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
      val existing = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      D.incrementalVerdict(existing, incoming, "doc_id",
        D.wordKernels(col("text"), 3), 0.8)
    }),

    // Explicit Bloom pre-filtered semi-join: lineitems of suppliers in
    // arrears. The 2 KB bloom (16384 bits over the dim keys) travels by
    // broadcast and drops non-candidate fact rows MAP-SIDE before any
    // exchange; the exact semi-join behind it makes false positives
    // invisible — the oracle is the PLAIN semi-join (q51/q52's
    // result-invisibility contract, here for runtime filtering).
    "q81_bloom_semijoin" -> ((s, dir) =>
      R.bloomSemiJoin(
          t(s, dir, "lineitem"), col("l_suppkey"),
          t(s, dir, "supplier").filter(col("s_acctbal") < 0),
          col("s_suppkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          dsum(C.money(col("l_quantity"))).as("sum_qty"))),

    // ------------------------------------------------------------------
    // LLM-training-data pipeline operators (documents / embeddings).
    // ------------------------------------------------------------------

    // Text analysis: per-doc token statistics (tokenize, distinct, length).
    "q19_token_stats" -> ((s, dir) =>
      // spread (r18): the documents parquet is ONE row group, so the
      // per-doc token kernels otherwise run on a single task at any SF
      // (the sf1 cpus-8-vs-32 falsification measured ratio ~1.0 — a
      // serial stage, not parallel kernel CPU).
      gatedSpreadDocs(s, dir).select(col("doc_id"), col("lang"),
        size(T.tokens(col("text"))).as("n_tokens"),
        size(array_distinct(T.tokens(col("text")))).as("n_distinct"),
        T.subtokenCount(col("text")).as("n_subtokens"),
        length(col("text")).as("n_chars_obs"),
        col("n_chars"))),

    // Text analysis: corpus word frequencies (term + document frequency).
    // Served from the session tf artifact: n_occurrences = Σtf, n_docs =
    // the distinct-(doc, term) row count — a bucket-local aggregate, no
    // corpus explode, no countDistinct state.
    "q20_word_freq" -> ((s, dir) =>
      docTerms(s, dir)
        .groupBy(col("term").as("word"))
        .agg(sum(col("tf")).as("n_occurrences"),
          count(lit(1)).as("n_docs"))),

    // Text analysis: per-doc quality score — length bounds + stopword
    // ratio (the length/punct/stopword heuristics of C4-style filtering).
    // Ratios are exact int/int double divisions → oracle-stable.
    "q21_text_quality" -> ((s, dir) => {
      val w = T.tokens(col("text"))
      gatedSpreadDocs(s, dir)
        .select(col("doc_id"),
          size(w).as("n_tokens"),
          T.stopwordCount(w, Stopwords).as("n_stopwords"),
          // Σ len(token) without a lambda: splitting on single spaces
          // removes exactly (n_tokens - 1) one-char separators, so the
          // token-length sum is length(text) - (n_tokens - 1). Identical
          // ints (incl. '' -> [''] -> 0); the oracle keeps its list_sum.
          (length(col("text")) - (size(w) - lit(1))).as("sum_token_len"))
        .withColumn("stopword_ratio",
          col("n_stopwords").cast("double") / col("n_tokens").cast("double"))
        .withColumn("avg_token_len",
          col("sum_token_len").cast("double") / col("n_tokens").cast("double"))
        .withColumn("quality_ok",
          (col("n_tokens").between(20, 80) && col("stopword_ratio") <= 0.15)
            .cast("int"))
    }),

    // Text analysis: marker-word language ID — broadcast feature lookup +
    // per-doc argmax with deterministic tie-break, 'und' fallback.
    "q22_lang_id" -> ((s, dir) => {
      import s.implicits._
      val markers = langIdMarkers.toDF("m_word", "m_lang", "m_weight")
      val docs = gatedSpreadDocs(s, dir)
      val best = T.langIdBest(docs, "doc_id", col("text"), markers)
      docs.select(col("doc_id"), col("lang"))
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("m_lang"), lit("und")).as("lang_pred"),
          coalesce(col("score"), lit(0L)).as("score"))
    }),

    // Document fingerprinting: full-content hash, min-token-hash, and a
    // winnowing-style rolling 8-char window fingerprint.
    // Fingerprints via the fused window-min kernels (spec-pinned equal to
    // the composable minTokenHash / rollingFingerprint forms).
    "q23_fingerprint" -> ((s, dir) =>
      spreadDocs(s, dir).select(col("doc_id"),
        md5(col("text")).as("content_md5"),
        call_function("word_min_hash32", col("text"), lit(1))
          .as("min_token_hash"),
        call_function("char_min_hash32", col("text"), lit(8))
          .as("rolling_fp"))),

    // Exact dedup: content-hash groupBy — keeper id + copy count per hash
    // (A2 dedup-before-write semantics at corpus scale: one shuffle).
    "q24_exact_dedup" -> ((s, dir) =>
      D.exactDedupSummary(t(s, dir, "documents"), "doc_id", "text")),

    // Near-dup detection: MinHash(12) → banded LSH(4×3) candidates →
    // exact Jaccard verify ≥ 0.8 — never all-pairs (the candidate join is
    // on (band, band_hash)). Finds the corpus's 25 planted near-dup
    // pairs. Served from the session sweep: one build feeds
    // q25/q35/q61/q66 (VERDICT r5 #3).
    "q25_minhash_lsh" -> (wordNearDupPairs(_, _)),

    // L40: pairs are only half the dedup story — transitive families
    // (A~B, B~C) must collapse into ONE cluster. Connected components by
    // distributed min-label propagation over the q25 pair graph; the
    // fixpoint loop runs at query-construction time (each round is a
    // distributed join + groupBy — the driver only sees a changed-count).
    "q61_dup_clusters" -> ((s, dir) =>
      G.dupClustersFromLabels(nearDupComponents(s, dir))),

    // L40b: cluster-canonical curation — the END-TO-END dedup semantics.
    // q35 removes pair LOSERS (correct only for isolated pairs); the
    // right contract keeps exactly ONE doc per transitive near-dup
    // cluster (the min id) and drops every other member. Cluster labels
    // left-joined back onto the corpus; unclustered docs keep themselves.
    "q66_cluster_curation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val comp = nearDupDocLabels(s, dir)
      docs.join(comp, Seq("doc_id"), "left")
        .withColumn("keep",
          col("label").isNull || col("label") === col("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          min(when(not(col("keep")), col("doc_id"))).as("first_removed"))
    }),

    // L41: domain-mix rebalancing — every source downsampled to the
    // smallest source's size, acceptance rates DERIVED from observed
    // counts (two tiny aggregates + a broadcast rate join; the corpus
    // scan itself never shuffles).
    "q62_domain_rebalance" -> ((s, dir) =>
      Sam.rebalanceEqual(t(s, dir, "documents"), "source", col("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_doc_id"))),

    // L42: inverted index (term -> document frequency + posting list).
    // Postings are capped at the first 8 doc ids (sorted) — the realistic
    // shape: full posting lists are written bucketed by term, not carried
    // through a result set. One explode + one shuffle on term.
    "q63_inverted_index" -> ((s, dir) => {
      // Two-level SALTED top-8 (VERDICT r5 reshape): the r5 row_number
      // window sent every occurrence of a hot term (stopwords: O(n_docs)
      // rows under a Zipf vocabulary) to ONE task for a non-combinable
      // sort. Here each (term, salt) group keeps only its 8 smallest doc
      // ids and an exact count — a hot term's work spreads over `Salts`
      // reducers with ≤ n/Salts rows each — then the per-term merge sees
      // at most Salts arrays of ≤8 ids. The global 8 smallest are always
      // inside the union of per-salt 8 smallest, and doc_freq is a
      // combinable sum of exact per-salt counts: bit-identical output,
      // no hot-partition sort, two bounded exchanges.
      val Salts = 32
      // The artifact's rows ARE the distinct (doc, term) pairs (tf
      // dropped); both salted aggregates ride the term-bucket layout.
      docTerms(s, dir)
        .select(col("doc_id"), col("term"))
        .groupBy(col("term"), pmod(col("doc_id"), lit(Salts)).as("__salt"))
        .agg(count(lit(1)).as("__pc"),
          slice(sort_array(collect_list(col("doc_id"))), 1, 8).as("__pids"))
        .groupBy(col("term"))
        .agg(sum(col("__pc")).as("doc_freq"),
          concat_ws(",",
            transform(slice(sort_array(flatten(collect_list(col("__pids")))),
              1, 8), _.cast("string"))).as("postings"))
        .filter(col("doc_freq") >= 10)
    }),

    // L45: int8-quantized similarity search — the 4× memory/bandwidth cut
    // a 100 TB embedding store serves from. Codes built once per vector
    // (native kernel, map-side), scoring is exact integer dot (tie-stable
    // longs, no float comparison traps), query side broadcast.
    "q65_i8_topk" -> (annI8(_, _)),

    // L49: exact substring-level dedup — cross-document repeated spans
    // (boilerplate paragraphs, license headers) that document-level
    // hashing cannot see. Every 16-token window fingerprinted map-side
    // in the fused kernel; content-defined "0 mod 4" selection keeps the
    // explode at ~n_tokens/4 while detecting repeats at ARBITRARY
    // offsets; one combinable shuffle on span_hash.
    "q70_repeated_spans" -> ((s, dir) =>
      D.repeatedSpans(spreadDocs(s, dir), "doc_id",
        col("text"), width = 16, modulus = 4)),

    // L52: exact fixed-size per-stratum sample — EXACTLY 5 docs per lang
    // by bottom-k sampling hash (rate sampling gives binomial sizes).
    // Deterministic, partition-independent, and mergeable across shards;
    // hot strata spread over the salt fan-out (q63's two-level shape).
    "q73_bottomk_sample" -> ((s, dir) =>
      Sam.bottomKSample(t(s, dir, "documents"), col("lang"),
          col("doc_id"), 5, 16, "bk")
        .select(col("stratum").as("lang"), col("sample_id").as("doc_id"),
          col("sample_hash"))),

    // L51: exact distribution monitoring — per-source token-length
    // P50/P90/P99 (interpolated, the quantile_cont definition both
    // engines share). Exact percentiles need the group's values on one
    // reducer; groups here are SOURCES (bounded cardinality), each
    // reducer holds one source's value multiset — the right trade for a
    // monitoring query. Sketch-free on purpose: this is the calibration
    // baseline the mergeable sketches (q69) are judged against. (q43 is
    // the rank-window formulation for the exact MEDIAN; this is the
    // aggregate formulation for interpolated arbitrary-p percentiles.)
    "q72_length_quantiles" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          size(T.tokens(col("text"))).as("n_tokens"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          percentile(col("n_tokens"), lit(0.5)).as("p50"),
          percentile(col("n_tokens"), lit(0.9)).as("p90"),
          percentile(col("n_tokens"), lit(0.99)).as("p99"))),

    // L48: Count-Min Sketch — a mergeable frequency sketch whose
    // CONSTRUCTION is oracle-checked (pure integer math on md5-prefix
    // hashes; unlike HLL/KLL the oracle reproduces every counter).
    // Build: one scan, ×3 explode, shuffle bounded by depth×width.
    // Probes: the 5 most frequent tokens; estimates must overestimate.
    "q69_countmin" -> ((s, dir) => {
      val toks = gatedSpreadDocs(s, dir)
        .select(explode(T.tokens(col("text"))).as("w"))
      val sketch = Sk.cmsBuild(toks, col("w"), 3, 1024)
      val exact = toks.groupBy(col("w")).agg(count(lit(1)).as("exact_n"))
      val probes = exact.orderBy(col("exact_n").desc, col("w")).limit(5)
      Sk.cmsQuery(sketch, probes.select(col("w")), "w", 3, 1024)
        .join(probes, "w")
        .select(col("w"), col("exact_n"), col("cms_estimate"))
    }),

    // L47: epoch mixing (fractional upsampling) — per-source repeat
    // factors in milli-epochs derived from the source NAME's hash (0.3 /
    // 1.2 / 2.1 / 3.0 epochs); floor copies + deterministic-Bernoulli
    // extra. Map-side explode, amplification = the mix ratio by
    // construction. Hashing the name (not parsing digits out of it —
    // VERDICT r5) keeps the demo derivation total over ARBITRARY source
    // ids; the operator itself takes any weight column.
    "q68_epoch_mix" -> ((s, dir) => {
      val wm = pmod(T.hash32(col("source")), lit(4)) * lit(900) + lit(300) // milli-epochs
      Sam.epochMix(
          t(s, dir, "documents").select(col("doc_id"), col("source"),
            wm.as("weight_milli")),
          col("doc_id"), col("weight_milli"), "em")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows_out"),
          countDistinct(col("doc_id")).as("n_docs_kept"))
    }),

    // L46: token-weighted sampling — P(keep) ∝ token count (capped), so
    // the sample draws TOKENS uniformly instead of over-representing
    // short docs. Scan-local integer-exact filter, zero shuffle before
    // the rollup.
    "q67_token_weighted_sample" -> ((s, dir) =>
      Sam.weightedSample(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            size(T.tokens(col("text"))).as("n_tokens")),
          col("doc_id"), least(col("n_tokens"), lit(64)) * lit(8),
          4096, "tw")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("n_tokens").cast("long")).as("sum_tokens"))),

    // L43: Unicode NFC canonicalization (native kernel; DuckDB
    // nfc_normalize twin — both implement UAX #15). The corpus is ASCII,
    // so both engines append the same decomposed suffix to exercise real
    // composition; `collapsed_units` counts codepoints removed by NFC.
    // The suffix is built with EXPLICIT combining-acute (U+0301) string
    // escapes (the oracle's
    // chr(769)) so an NFC-normalizing editor/formatter can't silently
    // compose the source literal and break oracle parity (ADVICE r5).
    "q64_unicode_nfc" -> ((s, dir) =>
      gatedSpreadDocs(s, dir)
        .withColumn("dirty",
          concat(col("text"),
          lit(" cafe\u0301 e\u0301cole")))  // NFD: explicit combining-acute escapes
        .withColumn("norm", T.nfcNormalize(col("dirty")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum((length(col("dirty")) - length(col("norm"))).cast("long"))
            .as("collapsed_units"),
          sum(when(col("norm") =!= col("dirty"), 1L).otherwise(0L))
            .as("n_changed"))),

    // SimHash: 60-bit per-doc signature via ±1 bit votes over token hashes.
    "q26_simhash" -> ((s, dir) =>
      D.simhashText(spreadDocs(s, dir), "doc_id", col("text"))),

    // Similarity search baseline: brute-force cosine top-5 for 20 query
    // vectors — query side broadcast, corpus streamed once, no shuffle.
    "q27_cosine_topk" -> (annExact(_, _, 5)),

    // Similarity search scale path: random-hyperplane LSH (4 planes → 16
    // buckets), candidates share a bucket, hash join on bucket, top-3.
    "q28_ann_lsh" -> (annLsh(_, _)),

    // C3+C2: sentinel-marker replace then coercion, on a deterministically
    // derived column (the corpus has no natural ":" sentinel; both engines
    // construct the same one, so the operator pair is genuinely exercised).
    "q30_missing_marker" -> ((s, dir) =>
      t(s, dir, "part")
        .withColumn("s", when(pmod(col("p_size"), lit(7)) === 0, lit(":"))
          .otherwise(col("p_size").cast("string")))
        .withColumn("v", C.coerceDouble(
          C.replaceMissingMarker(col("s"), ":", "0")))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("v").cast("long")).as("sum_size"),
          sum(when(col("v") === 0, 1).otherwise(0)).as("n_missing"))),

    // F7: dropna(subset) — rows dropped when ANY subset column is null
    // (pandas how='any' default), nulls derived deterministically.
    "q31_dropna_subset" -> ((s, dir) =>
      t(s, dir, "part")
        .withColumn("a", when(pmod(col("p_size"), lit(5)) === 0, lit(null))
          .otherwise(col("p_retailprice")))
        .withColumn("b", when(pmod(col("p_partkey"), lit(3)) === 0, lit(null))
          .otherwise(col("p_size")))
        .transform(C.dropNullRows(_, Seq("a", "b")))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          dsum(C.money(col("a"))).as("sum_price"),
          sum(col("b").cast("long")).as("sum_size"))),

    // F8: positional row slice — page 2 (positions 11..20) of orders by
    // (o_totalprice desc, o_orderkey) — create-maps.py:22-24 semantics.
    "q32_positional_slice" -> ((s, dir) =>
      R.positionalSlice(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 10, 20)),

    // Multimodal: opaque binary payloads + typed stats — byte length,
    // content hash, fixed-size chunking (frame shape) and a chunk
    // fingerprint, all on real BinaryType columns. (The oracle mirrors on
    // the source string: payloads are its UTF-8 bytes and the corpus is
    // ASCII, so the byte streams are identical.)
    "q33_multimodal_stats" -> ((s, dir) => {
      val assets = M.fromText(t(s, dir, "documents"), "doc_id", "text")
      val ch = M.chunks(col("content"), 32)
      assets.select(col("asset_id"), col("modality"),
        length(col("content")).as("n_bytes"),
        md5(col("content")).as("content_md5"),
        size(ch).as("n_chunks"),
        array_min(transform(ch, c => md5(c))).as("chunk_fp"))
    }),

    // Similarity search, IVF-flat variant with TRAINED centroids: seeds
    // (vec_id < 8) refined by 2 Lloyd iterations over a deterministic
    // 1/4 hash-SAMPLE of the corpus (the FAISS shape: train on a sample,
    // assign everything; fixed count + md5-keyed sample, so the oracle
    // replays the training CTE-for-CTE), vectors assigned to the nearest
    // trained centroid (broadcast O(N·K) map pass), queries probe their
    // nprobe nearest cells, exact cosine within candidates only.
    "q34_ann_ivf" -> (annIvf(_, _)),

    // ANN recall@3, oracle-measured (SURVEY §2.12 L6b's "recall-checkable"
    // promise): both approximate paths scored against the exact top-3.
    // This is THE number that decides whether the bucketed paths are
    // usable at 100× scale — a measured output, not a code comment.
    "q49_ann_recall" -> ((s, dir) => {
      // All six methods from one pair scan + one window (annMethodFamily);
      // the shared exchange under the top-3 window is reused between the
      // truth split (exact) and the graded approximate split.
      val fam = annMethodFamily(s, dir)
      val ex = fam.filter(col("method") === "exact")
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      val ap = fam.filter(col("method") =!= "exact")
      val g = ap.join(ex, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("method"))
        .agg(count(lit(1)).as("n_returned"), count(col("__hit")).as("n_hits"))
      // Denominator broadcast: one aggregated row (total exact neighbors),
      // crossJoin is tiny-side by construction.
      g.crossJoin(broadcast(ex.agg(count(lit(1)).as("n_exact"))))
        .withColumn("recall_at_3",
          col("n_hits").cast("double") / col("n_exact").cast("double"))
    }),

    // A4 period→month expansion (reference design intent, doc/report.pdf
    // §3.1.1 p.10: the value for a given month is the AVERAGE of the
    // values of the periods covering it — quarterly and four-month
    // (cuatrimestre) aggregates both expanded to member months). Shape:
    // period rows explode via sequence(start_month, end_month), then
    // groupBy(month) + avg — two shuffles (period agg, month agg), both
    // partial-aggregable; the explode amplifies by at most 4 rows.
    "q50_period_expand" -> ((s, dir) => {
      val m = t(s, dir, "orders").select(
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("mo"),
        C.money(col("o_totalprice")).as("v"))
      def periods(width: Int): DataFrame =
        m.groupBy(col("order_year"),
            ((col("mo") - 1) / width).cast("int").as("p0"))
          .agg(dsum(col("v")).as("period_value"))
          .select(col("order_year"),
            explode(sequence(col("p0") * width + 1,
              col("p0") * width + width)).as("month_num"),
            col("period_value"))
      periods(3).union(periods(4))
        .groupBy(col("order_year"), col("month_num"))
        .agg(avg(col("period_value")).as("monthly_value"),
          count(lit(1)).as("n_periods"))
    }),

    // Skew-mitigation pair: the same aggregation over a deliberately
    // skewed join (every even l_suppkey remapped to supplier 1 → one key
    // carries ~50% of the fact table). q51 routes it through saltedJoin
    // (key extended with a salt so the hot key spreads over `salt`
    // reducers); q52 is the plain join for comparison — under AQE its
    // skew-split handles the hot partition at runtime. Both share one
    // plain-join oracle: salting must be result-invisible. The dim side
    // carries a shuffle_hash hint: the skew scenario by definition is
    // "dim too big to broadcast", and a broadcast join would sidestep the
    // machinery being exercised (and measured — see BENCH q51 vs q52).
    "q51_skew_join_salted" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        when(pmod(col("l_suppkey"), lit(2)) === 0, lit(1L))
          .otherwise(col("l_suppkey")).as("skew_key"),
        C.money(col("l_quantity")).as("qty"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("skew_key"), col("s_name"))
      R.saltedJoin(li, sup.hint("shuffle_hash"), Seq("skew_key"), 8)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_items"), dsum(col("qty")).as("sum_qty"))
    }),

    "q52_skew_join_plain" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        when(pmod(col("l_suppkey"), lit(2)) === 0, lit(1L))
          .otherwise(col("l_suppkey")).as("skew_key"),
        C.money(col("l_quantity")).as("qty"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("skew_key"), col("s_name"))
      li.join(sup.hint("shuffle_hash"), Seq("skew_key"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_items"), dsum(col("qty")).as("sum_qty"))
    }),

    // Multi-probe LSH ANN: the recall/work dial for the bucketed
    // similarity-search path (see annLshMultiprobe; recall measured
    // against exact in q49).
    "q53_ann_lsh_multiprobe" -> (annLshMultiprobe(_, _)),

    // Deterministic 20% hash-Bernoulli sample of the corpus (keyed on
    // doc_id, salt "s1") — reproducible across runs/partitionings/engines;
    // summarized per language for the oracle.
    "q54_hash_sample" -> ((s, dir) =>
      Sam.hashSample(t(s, dir, "documents"), col("doc_id"), 2000, 10000,
          "s1")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("min_doc_id"))),

    // Stratified sampling: downsample the dominant language, keep a rare
    // one whole, drop another entirely — per-stratum rates as a literal
    // when-chain (no join), decision still a pure hash of (salt, doc_id).
    "q55_stratified_sample" -> ((s, dir) =>
      Sam.stratifiedSample(t(s, dir, "documents"), col("lang"),
          col("doc_id"),
          Map("en" -> 1000, "de" -> 5000, "es" -> 2500, "fr" -> 10000,
            "zh" -> 0), 10000, "s2")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))),

    // LLM context-window prep: overlapping token chunks (size 32, stride
    // 24 → 8-token overlap), one output row per chunk. Map-side only.
    "q56_token_chunks" -> ((s, dir) =>
      gatedSpreadDocs(s, dir).select(col("doc_id"),
          posexplode(T.tokenChunks(T.tokens(col("text")), 32, 24))
            .as(Seq("chunk_idx", "chunk_text")))
        .withColumn("n_chunk_tokens",
          size(split(col("chunk_text"), " ")))),

    // Repetition scoring (corpus-quality filter): the most frequent
    // token's share of the doc — high ratios flag boilerplate/spam for
    // dropping. Two partial-aggregable shuffles (doc×word, then doc).
    "q59_repetition" -> ((s, dir) => {
      val tf = gatedSpreadDocs(s, dir)
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      tf.groupBy(col("doc_id"))
        .agg(max(col("tf")).as("max_tf"), sum(col("tf")).as("n_tokens"))
        .withColumn("repetition_ratio", col("max_tf").cast("double") /
          col("n_tokens").cast("double"))
        .withColumn("repetitive",
          (col("repetition_ratio") >= 0.12).cast("int"))
    }),

    // Benchmark decontamination: docs sharing too many char-8-gram
    // shingles with a (tiny, broadcast) eval set are contaminated and
    // must be dropped before training. The eval set's distinct hashes
    // broadcast with a match marker over the corpus's exploded hash-set
    // kernel; one grouped count then yields BOTH the shingle census and
    // the overlap count, so the expensive kernel runs in ONE corpus scan
    // (the pre-r13 shape ran it twice — once for the overlap explode,
    // once for size(hs) — and the r13 sf1 probe read 8.1× on 10× data
    // with the kernel as the whole bill). explode_outer + count(h)
    // preserves the kernel's null contract (null, never empty, below 8
    // chars): such docs surface with n_shingles null exactly as before.
    // Never a doc×doc comparison; the exploded rows fold map-side
    // (partial count per doc) before the single doc_id exchange.
    "q60_decontaminate" -> ((s, dir) => {
      // r17 (guide §2.3/§2.4): the former shape exploded EVERY doc's
      // 8-gram hash set (~|text| rows/doc), broadcast-joined the eval
      // hashes row-by-row, and re-assembled per-doc counts through a
      // corpus-wide doc_id hash aggregate. The eval set is tiny by
      // construction (doc_id < 5), so it folds to ONE sorted array row;
      // the corpus side then computes |hs ∩ eval| MAP-SIDE with the
      // sorted_intersect_count kernel — zero explode, zero per-doc
      // aggregate, the corpus never leaves its scan. Exact-equivalent:
      // char_shingle_hashset is sorted-distinct (the kernel's contract),
      // n_shingles = |hs| and n_overlap = merge-intersect count match
      // the exploded census row-for-row (null/short texts: null hs ⇒
      // 0-count ⇒ null n_shingles, 0 overlap — same as explode_outer).
      val docs = t(s, dir, "documents")
      val hs = call_function("char_shingle_hashset", col("text"), lit(8))
      val ev = docs.filter(col("doc_id") < 5)
        .select(explode(hs).as("h"))
        .agg(sort_array(collect_set(col("h"))).as("__ev"))
      val nSh = coalesce(size(col("__hs")), lit(0))
      // corpus side spread (see q19) — the whole bill here is the
      // char-8 kernel, which otherwise runs on the file's single row
      // group; the eval side stays on the raw scan (5 docs).
      gatedSpreadDocs(s, dir).select(col("doc_id"), hs.as("__hs"))
        .crossJoin(broadcast(ev))
        .select(col("doc_id"),
          when(nSh > 0, nSh).as("n_shingles"),
          coalesce(call_function("sorted_intersect_count",
            col("__hs"), col("__ev")), lit(0)).cast("long").as("n_overlap"))
        .withColumn("contaminated",
          (col("n_overlap").cast("double") / col("n_shingles").cast("double")
            >= 0.5).cast("int"))
    }),

    // Corpus snapshot diff (CDC shape): compare two corpus versions by
    // content hash through a FULL OUTER join on doc_id — added / removed /
    // changed / unchanged counts. v2 is derived deterministically from v1
    // (drop doc_id%13, edit %7, add %11 under new ids) so both engines
    // construct the identical "next snapshot". Added ids are NEGATED
    // (-(doc_id+1)) — disjoint from real non-negative ids at EVERY scale
    // factor, unlike a fixed +1000000 offset which collides once doc_id
    // reaches 1M and silently corrupts the join keys (ADVICE r4). One
    // shuffle per side on doc_id; the hash keeps full text off the wire.
    "q58_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.select(col("doc_id"), md5(col("text")).as("h1"))
      val v2 = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
        .select(col("doc_id"),
          md5(when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
            .as("h2"))
        .union(docs.filter(pmod(col("doc_id"), lit(11)) === 0)
          .select((-(col("doc_id") + 1)).as("doc_id"),
            md5(col("text")).as("h2")))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn("change_type",
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged"))
        .groupBy(col("change_type")).agg(count(lit(1)).as("n_docs"))
    }),

    // Sequence packing: fill fixed token budgets (2048) per language by
    // running token count over a deterministic doc order. Offset-based
    // packing (a doc may straddle a boundary — the streaming-pack shape);
    // the window is PARTITIONED by lang, so no global sort: each shard
    // packs independently, which is exactly how a 100 TB corpus packs
    // (per-shard workers), and the only shuffle is the window partition.
    "q57_sequence_pack" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        size(T.tokens(col("text"))).as("n_tokens"))
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("cum_before",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("pack_id",
          floor(col("cum_before") / lit(2048)).cast("int"))
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
    }),

    // The composed training-data-curation pipeline — what the LLM-ops are
    // FOR: drop near-dup losers (MinHash-LSH clusters keep their min id),
    // keep only quality docs (length window + stopword ratio), annotate
    // predicted language. One retained-corpus row per surviving doc.
    "q35_corpus_curation" -> ((s, dir) => {
      import s.implicits._
      val docs = spreadDocs(s, dir)
      // near-dup losers: every id_b of a verified pair (id_a < id_b
      // keeps each cluster's minimum id); pairs from the session sweep —
      // one build feeds q25/q35/q61/q66
      val losers = wordNearDupPairs(s, dir)
        .select(col("id_b").as("doc_id")).distinct()
      val w = T.tokens(col("text"))
      val quality = docs.select(col("doc_id"), col("lang"),
          size(w).as("n_tokens"),
          (T.stopwordCount(w, Stopwords).cast("double")
            / size(w).cast("double")).as("stopword_ratio"))
        .filter(col("n_tokens").between(20, 80) &&
          col("stopword_ratio") <= 0.15)
      val markers = langIdMarkers.toDF("m_word", "m_lang", "m_weight")
      val best = T.langIdBest(docs, "doc_id", col("text"), markers)
        .select(col("doc_id"), col("m_lang"))
      quality.join(losers, Seq("doc_id"), "left_anti")
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("m_lang"), lit("und")).as("lang_pred"),
          col("n_tokens"), col("stopword_ratio"))
    }),

    // J5/A3 over the remaining dim chain (supplier→nation→region): every
    // corpus table is exercised by at least one oracle query.
    "q36_supplier_balance" -> ((s, dir) =>
      supplierRegions(s, dir)
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          dsum(C.money(col("s_acctbal"))).as("sum_acctbal"))
        // raw exact-quotient average (q12 pattern) — bround/round_even on
        // an arbitrary double is the q17 divergence class, avoided
        .withColumn("avg_acctbal",
          col("sum_acctbal") / col("n_suppliers"))),

    // As-of join (backward): each error event picks up the same user's
    // most recent click at-or-before it — merge-scan via TimeOps, one
    // shuffle on user_id, zero joins. Left-outer: unmatched errors keep
    // null click columns.
    "q37_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val err = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          col("ts").as("err_ts"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      Ti.asofBackward(err, "err_ts", clk, "click_ts", Seq("user_id"),
          Seq("click_id", "click_ts"), Seq(col("click_id")))
        .select(col("user_id"), col("err_id"), col("click_id"),
          (unix_micros(col("err_ts")) - unix_micros(col("click_ts")))
            .as("gap_us"))
    }),

    // As-of join (forward): each signup picks up the same user's EARLIEST
    // purchase at-or-after it — time-to-conversion, the mirror direction
    // of q37. Same merge-scan shape, scan direction flipped.
    "q48_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val sgn = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"),
          col("ts").as("signup_ts"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
      Ti.asofForward(sgn, "signup_ts", pur, "purchase_ts", Seq("user_id"),
          Seq("purchase_id", "purchase_ts"), Seq(col("purchase_id")))
        .select(col("user_id"), col("signup_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("signup_ts")))
            .as("wait_us"))
    }),

    // L50: batch point-in-interval join — each error event opens a
    // 10-minute incident window per user; count the clicks landing
    // inside. Interval binning (bin = window width, so <=2 bins per
    // interval) turns Spark's nested-loop inequality join into ONE equi
    // shuffle join on (user_id, bin) + exact range filter; the oracle is
    // the plain BETWEEN join — an independent algorithm.
    "q71_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val win = 10L * 60 * 1000000 // 10 min in us
      val err = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          col("ts").as("w_start"),
          timestamp_micros(unix_micros(col("ts")) + win).as("w_end"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      Ti.intervalJoin(clk, "click_ts", err, "w_start", "w_end",
          Seq("user_id"), win)
        .groupBy(col("user_id"), col("err_id"))
        .agg(count(lit(1)).as("n_clicks"),
          min(col("click_id")).as("first_click"))
    }),

    // Sessionization: 30-min inactivity gap per user, then per-session
    // stats — the batch twin of the streaming session window.
    "q38_sessionize" -> ((s, dir) =>
      Ti.sessionize(t(s, dir, "events"), Seq("user_id"), "ts",
          30L * 60 * 1000000, Seq(col("ts"), col("event_id")))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"),
          countDistinct(col("event_type")).as("n_types"))
        .withColumn("duration_us", col("end_us") - col("start_us"))),

    // n-gram Jaccard near-dup: the same banded-LSH candidate machinery as
    // q25 but measuring on character 8-gram shingle sets — robust to
    // tokenization; threshold 0.7 on char-set Jaccard.
    "q39_ngram_jaccard" -> ((s, dir) =>
      D.nearDupPairs(
        spreadDocs(s, dir).select(col("doc_id"), col("text")),
        "doc_id", T.charShinglesMulti(col("text"), 8), 0.7,
        kernels = Some(D.charKernels(col("text"), 8)))),

    // OLAP rollup (grouping sets): region/nation subtotals + grand total
    // in one pass — partial-aggregable, one shuffle.
    "q40_rollup" -> ((s, dir) =>
      supplierRegions(s, dir)
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          dsum(C.money(col("s_acctbal"))).as("sum_acctbal"))),

    // CUBE: all four grouping sets — (r,n), (r), (n), () — in one
    // Expand + single-shuffle aggregation (completes the grouping-sets
    // family beside q40's rollup).
    "q47_cube" -> ((s, dir) =>
      supplierRegions(s, dir)
        .cube(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          dsum(C.money(col("s_acctbal"))).as("sum_acctbal"))),

    // TF-IDF-style term scoring: tf × (N/df) with exact integer-ratio
    // doubles (no transcendental — log() is not bit-stable across engines),
    // top-3 terms per doc under a deterministic tie-break.
    "q41_tfidf" -> ((s, dir) => {
      // tf comes straight off the session artifact; the df census is a
      // bucket-local count (the table is bucketed by term).
      val tf = docTerms(s, dir)
        .select(col("doc_id"), col("term").as("word"), col("tf"))
      val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "word").crossJoin(broadcast(n))
        .withColumn("score", col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double")))
      R.topKPerGroup(scored, Seq("doc_id"),
          Seq(col("score").desc, col("word")), 3, "rank")
        .select(col("doc_id"), col("word"), col("tf"), col("df"),
          col("score"), col("rank"))
    }),

    // PII scrub: regex redaction of emails then digit runs, with match
    // counts. The corpus has no natural PII, so both engines inject the
    // same deterministic contact line first (q30's sentinel pattern) —
    // the scrub operators are genuinely exercised. Each pattern's count
    // and redaction come from ONE fused traversal (T.redactCount; the
    // r13 sf1 probe read 8.9× on 10× data with four regex walks as the
    // whole bill — the map work is inherently row-linear, so the fix is
    // the constant factor: 4 walks + 2 match-array allocs → 2 walks).
    "q42_pii_scrub" -> ((s, dir) => {
      val raw = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example ref "),
        (col("doc_id") * 7).cast("string"))
      gatedSpreadDocs(s, dir)
        .select(col("doc_id"), raw.as("__raw"))
        .select(col("doc_id"),
          T.redactCount(col("__raw"), T.EmailPattern, "<EMAIL>").as("__r1"))
        .select(col("doc_id"), col("__r1.n").as("n_emails"),
          T.redactCount(col("__r1.s"), T.NumberPattern, "<NUM>").as("__r2"))
        .select(col("doc_id"), col("n_emails"), col("__r2.n").as("n_nums"),
          md5(col("__r2.s")).as("scrubbed_md5"),
          length(col("__r2.s")).as("scrubbed_len"))
    }),

    // Exact grouped median via two middle ranks — deterministic (contrast
    // percentile_approx, the scale path, which is sketch-based and not
    // oracle-stable). The windowed rank is per-group, one shuffle.
    "q43_median" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      val cw = Window.partitionBy(col("event_type"))
      t(s, dir, "events")
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("__rn", row_number().over(w))
        .withColumn("__cnt", count(lit(1)).over(cw))
        .filter(col("__rn") === floor((col("__cnt") + 1) / lit(2)) ||
          col("__rn") === floor((col("__cnt") + 2) / lit(2)))
        .groupBy(col("event_type"))
        .agg((sum(col("value")) / count(lit(1))).as("median_value"),
          max(col("__cnt")).as("n_events"))
    }),

    // Pivot (wide aggregation): per-day event counts, one column per
    // event type. Values passed EXPLICITLY — the implicit form runs a
    // driver-side distinct over the pivot column first, a hidden extra
    // pass at corpus scale. Empty cells surface as null (pivot semantics),
    // which the oracle mirrors with NULLIF.
    "q44_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("day", dayofmonth(col("ts")))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))),

    // Window-function family over one partition key: running sum, rank,
    // dense_rank, percent_rank, ntile — two sorts, ONE exchange (both
    // window specs hash on o_custkey).
    "q45_window_family" -> ((s, dir) => {
      val wt = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wv = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        sum(C.money(col("o_totalprice"))).over(wt).cast("double")
          .as("running_spend"),
        rank().over(wv).as("price_rank"),
        dense_rank().over(wv).as("price_dense_rank"),
        percent_rank().over(wv).as("price_pr"),
        ntile(4).over(wv).as("quartile"))
    }),

    // Time-RANGE window frame (q45's family covers ROWS frames + ranks):
    // trailing 7-DAY revenue per priority over daily aggregates —
    // RANGE BETWEEN 6 PRECEDING looks back by VALUE (epoch day), so
    // calendar gaps shrink the window where a ROWS frame would wrongly
    // reach 7 rows into the past. Decimal window sums exported as
    // doubles; the trailing average is one final division.
    "q88_time_range_window" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          datediff(to_date(col("o_orderdate")),
            to_date(lit("1970-01-01"))).as("day"))
        .agg(sum(C.money(col("o_totalprice"))).as("__rev"),
          count(lit(1)).as("n_orders"))
      val w = Window.partitionBy(col("priority")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      daily.select(col("priority"), col("day"),
          col("__rev").cast("double").as("daily_rev"), col("n_orders"),
          sum(col("__rev")).over(w).cast("double").as("rev_7d"),
          sum(col("n_orders")).over(w).as("orders_7d"))
        .withColumn("avg_order_7d",
          col("rev_7d") / col("orders_7d").cast("double"))
    }),

    // Set operations with SET semantics (distinct): INTERSECT + EXCEPT
    // of two year slices of the customer key space.
    "q46_setops" -> ((s, dir) => {
      def custs(y: Int) = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
      custs(1995).intersect(custs(1996)).withColumn("tag", lit("both"))
        .unionByName(
          custs(1995).except(custs(1996))
            .withColumn("tag", lit("only_1995")))
    }),

    // Embedding near-dup: cosine ≥ 0.4 pairs from (label, sign-LSH
    // bucket) radius-1 multi-probe candidates. r13: the old label-only
    // blocking had FIXED block cardinality, so block sizes — and the
    // pair join — grew quadratically with the corpus (26.3× wall on 10×
    // data in the r12 sf1 probe). Now the bucket side of the blocking
    // key is corpus-sized (Vec.sizedPlanes off a 1-row count), each
    // vector probes its own bucket plus every 1-bit flip (the q53/q134
    // multi-probe dial — recall at the verified SFs: 3/5, 2/5, 24/86 of
    // the unblocked pairs), and pair work is ~(p+1)·targetCell·n —
    // linear with a log factor, never all-pairs within a label. A pair
    // at hamming distance d ≤ 1 matches EXACTLY one probe mask, so no
    // post-join dedup is needed.
    "q29_embed_neardup" -> ((s, dir) => {
      val e0 = t(s, dir, "embeddings")
      // driver-side 1-row read — the q225 broadcast-guard discipline
      val p = Vec.sizedPlanes(e0.count())
      val masks = (0 to p).map(i => if (i == 0) 0L else 1L << (i - 1))
        .map(lit)
      val e = e0.select(col("label"), col("vec_id"), col("embedding"),
        Vec.lshBucket(col("embedding"), p).as("__b"),
        Vec.norm(col("embedding")).as("__n"))
      val a = e.select(col("label"), col("vec_id").as("vec_a"),
        col("embedding").as("__va"), col("__n").as("__na"),
        explode(transform(array(masks: _*),
          m => col("__b").bitwiseXOR(m))).as("__probe"))
      val b = e.select(col("label").as("__lb"), col("vec_id").as("vec_b"),
        col("embedding").as("__vb"), col("__n").as("__nb"),
        col("__b").as("__bb"))
      a.join(b, col("label") === col("__lb") &&
          col("__probe") === col("__bb") && col("vec_a") < col("vec_b"))
        .withColumn("cosine", Vec.cosineWithNorms(col("__va"), col("__vb"),
          col("__na"), col("__nb")))
        .filter(col("cosine") >= 0.4)
        .select(col("label"), col("vec_a"), col("vec_b"), col("cosine"))
    })
  )

  /** ANN hyperplane count (16 buckets over the 500-vector corpus) — the
    * default geometry; see [[graft.operators.VectorOps.sizedPlanes]]
    * for the corpus-size-driven plane count at real scale. */
  private[graft] val AnnPlanes = 4

  /** q139's phrase workload — ONE list shared by the Spark query and its
    * oracle so the two sides can never drift. */
  private[graft] val searchPhrases = Seq(
    (1L, "table part"), (2L, "fast key scan"), (3L, "value table"))

  /** q156's Benford expectations log10(1 + 1/d) — computed ONCE here;
    * the oracle receives the same doubles as shortest-round-trip string
    * literals, so both engines compare against identical constants. */
  private[graft] val benfordP: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** IVF geometry for q34 — cell count, Lloyd training iterations, and
    * probe depth for the test corpus. At real scale K = N / targetCell
    * cells keeps the per-cell scan bounded; 64-dim float centroids are
    * 256 B each, so even 1M cells stay broadcastable.
    *
    * Probe depth is 5 of 8 cells because the SYNTHETIC CORPUS CAPS IVF
    * RECALL (measured r6, SCALE.md ANN table): the embeddings are
    * isotropic random vectors (mean pairwise cosine 0.000, std 0.125),
    * so there is no cluster structure for k-means to exploit — recall@3
    * is ≈ the fraction of the sphere the probed cells cover, for seeded
    * AND trained centroids alike (trained, sf0.1: 0.57/0.67/0.70/0.83/
    * 0.90/0.97/0.98/1.00 at probes 1-8). probes=5 is the knee that
    * clears 0.90; on a real embedding corpus (clustered by topic) the
    * same trained geometry reaches high recall at far lower probe
    * fractions — that, not isotropic noise, is the workload IVF exists
    * for. */
  private[graft] val IvfCells = 8
  private[graft] val IvfTrainIters = 2
  private[graft] val IvfProbes = 5

  /** q100's fixed retrieval workload: three term queries over the corpus
    * vocabulary (mixed lengths exercise the per-term integer sum). */
  private[graft] val Bm25Queries: Seq[(String, String)] = Seq(
    ("s1", "spark"), ("s1", "join"), ("s1", "window"),
    ("s2", "hash"), ("s2", "merge"),
    ("s3", "customer"), ("s3", "query"), ("s3", "table"), ("s3", "scan"))
  /** NDCG@10 position discounts 1/log2(d+1), PASTED literals shared
    * verbatim by the q276 Spark expression and its twin (log2 is
    * transcendental — computing it would diverge across engines). */
  private[graft] val NdcgDiscCase: String =
    """CAST(CASE rnk WHEN 1 THEN 1.0 WHEN 2 THEN 0.6309297535714575
      | WHEN 3 THEN 0.5 WHEN 4 THEN 0.43067655807339306
      | WHEN 5 THEN 0.38685280723454163 WHEN 6 THEN 0.3562071871080222
      | WHEN 7 THEN 0.3333333333333333 WHEN 8 THEN 0.31546487678572877
      | WHEN 9 THEN 0.3010299956639812 WHEN 10 THEN 0.2890648263178879
      | END AS DOUBLE)""".stripMargin

  /** Lloyd passes train on a deterministic 1/4 hash-sample of the corpus
    * (sampleBucket('ivf', vec_id) < 2500/10000) — the production IVF
    * shape: FAISS-style index builds never run k-means over the full
    * store, they train on a sample and ASSIGN the full corpus. The
    * md5-keyed sample is partition-invariant and oracle-replayable; the
    * recall gate (ApproxSpec) re-measures the trained geometry. */
  private[graft] val IvfTrainNum = 2500
  private[graft] val IvfTrainDenom = 10000
  private[graft] val IvfTrainSalt = "ivf"

  /** The warehouse db of q91's rollup and of the per-corpus bucketed
    * serving tables, and the latter's name prefixes (each table is
    * `<prefix><dirHash>`). */
  private val RollupDb = "graft_rollups"
  private val CoPurchaseSymPrefix = "copurchase_sym_"
  private def docTermsPrefix(gram: Int): String = s"docterms${gram}_"
  /** The n-gram orders the warm tier builds a doc-term table for. */
  private val DocTermGrams = 1 to 3

  /** Session memo for the BUCKETED symmetric co-purchase edge table —
    * q184's write-once-shuffle layout promoted to the serving store for
    * the WHOLE graph family (q109/q153/q166/q170/q184/q185): the
    * `bucketBy(node)` write pays the one exchange, and every consumer
    * reads the table back pre-distributed on the node id — per-node
    * degree aggregates and the per-iteration PageRank/k-core joins ride
    * the bucket layout with zero re-shuffle, and the canonical (u < v)
    * pair list falls out of a MAP-SIDE filter instead of each query
    * re-paying least/greatest + distinct over the edge list.
    * Memoized per (dir, session) — ADVICE r9: the un-memoized
    * q184 write re-paid the DROP + shuffle write on every invocation —
    * and the table name carries a dir hash so two corpora sharing the
    * warehouse never clobber each other. The value is a table handle,
    * not a checkpoint: clearing just drops the handle (blocks live in
    * the warehouse, rewritten on next access after a Bench round
    * reset). */
  private def coPurchaseSymTable(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Corpus, s, dir, "copurchase_sym") {
      val db = RollupDb
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      val table = CoPurchaseSymPrefix + Cat.dirHash(dir)
      // Canonical (id_a < id_b) co-purchase pairs: parts sharing an
      // order, fan-out bounded by basket width (never cartesian) —
      // ONE lineitem scan + self-join per session. The groupBy keeps
      // the co-occurrence COUNT w (number of shared orders) instead
      // of distinct-dropping it: same rows, same shuffle, and the
      // table doubles as the WEIGHTED graph the similarity/serving
      // queries (q187) read; topology consumers just ignore w.
      // The distinct membership relation is its own session artifact
      // (r17, [[basketMembership]]) — the build reads the checkpoint
      // instead of a private persist, and q111's marginals read the
      // same frame instead of re-deriving it per query. (Null-keyed
      // rows are filtered there; they contributed nothing here — a
      // null ok never equi-joins and a null pk fails `x.pk < y.pk`.)
      val pp = basketMembership(s, dir)
        .select(col("__b").as("ok"), col("__i").as("pk"))
      val e = pp.as("x").join(pp.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("id_a"), col("y.pk").as("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("w"))
      val sym = e.select(col("id_a").as("node"), col("id_b").as("peer"),
          col("w"))
        .union(e.select(col("id_b").as("node"), col("id_a").as("peer"),
          col("w")))
      // 32 buckets = the local core count: bucket-riding stages (q166's
      // wedge expansion, the per-iteration PageRank joins) inherit the
      // bucket count as their parallelism, and 8 buckets left 3/4 of
      // the cores idle on the heaviest query (q166 9.7s → with 32
      // buckets the family's exchange-free reads keep full width). On
      // a cluster this constant is sized to executor-cores × executors.
      Cat.writeBucketed(sym, db, table, Seq("node"), 32)
      s.table(s"$db.$table")
    }

  /** Session memo for the DISTINCT basket-membership relation
    * (order `__b` → part `__i`, null keys dropped) — the co-purchase
    * artifact's own input kept as a serving artifact in its own right
    * (r17): q111's marginals (per-item basket counts, distinct basket
    * count) re-derived it per query with a full per-query distinct +
    * persist, and the co-purchase build paid a private persist of the
    * identical relation. One checkpoint per (dir, session) now serves
    * both. At 100 TB this is the maintained (order, item) membership
    * table a basket-analytics store keeps beside its co-purchase
    * index — |distinct(order, item)| rows, the same footprint the
    * former per-query persists already spent. */
  private def basketMembership(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Corpus, s, dir, "basket") {
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("__b"), col("l_partkey").as("__i"))
        .filter(col("__b").isNotNull && col("__i").isNotNull).distinct()
        .localCheckpoint(true)
    }

  /** The distinct canonical (id_a < id_b) co-purchase pair list, read
    * EXCHANGE-FREE off the materialized symmetric frame (the reversed
    * orientation is exactly the node > peer half, so a map-side filter
    * recovers the canonical set — no distinct, no least/greatest). */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    coPurchaseSymFrame(s, dir)
      .filter(col("node") < col("peer"))
      .select(col("node").as("id_a"), col("peer").as("id_b"))

  /** Session memo for the co-purchase DEGREE table — the docterms move
    * applied to the graph family's second level (VERDICT r11 #5):
    * q185/q187/q192/q195/q198/q256 each re-ran `groupBy(node)` over
    * copurchase_sym for plain and weighted degrees. One exchange-free
    * pass (the aggregate rides the node buckets) lands `(node, deg,
    * wdeg)` in an eager localCheckpoint; every later degree read is a
    * node-cardinality checkpoint scan, never an edge rescan. Cleared
    * with the table artifacts ([[clearSessionArtifacts]]), not the
    * per-round sweeps — degrees are corpus-pure. At cluster scale this
    * is |V| rows (~1e9 at 100 TB — a few GB across executors; the same
    * artifact a graph-serving store keeps beside its edge layout). */
  private def degreeTable(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Corpus, s, dir, "degrees") {
      coPurchaseSymTable(s, dir)
        .groupBy(col("node"))
        .agg(count(lit(1)).as("deg"), sum(col("w")).as("wdeg"))
        .localCheckpoint(true)
    }

  /** Session memo for the MATERIALIZED symmetric co-purchase edge frame
    * — the bucketed table lifted into executor blocks once per (dir,
    * session): each iterative graph consumer re-read the parquet scan
    * AND re-paid a per-query persist + materialize before its rounds;
    * the checkpoint pays that prep once per session (VERDICT r13 #3).
    * CONTRACT CAVEAT (measured, spec-pinned in GraphSpec): a
    * localCheckpoint does NOT carry the bucketed scan's hash
    * distribution (`UnknownPartitioning` — AQE-era Dataset.checkpoint
    * drops outputPartitioning), so the frame serves only consumers that
    * attach node-cardinality state by BROADCAST (PageRank/k-core/BFS/PPR
    * iterations, canonical-half filters, anti-join probes) — their
    * plans never ask for the edge side's distribution. Consumers whose
    * edge-scale aggregates NEED the node distribution (the LPA tally,
    * the item-kNN top-k build) keep reading [[coPurchaseSymTable]],
    * whose scan reports the bucket partitioning. Checkpoint (not a
    * shared columnar persist): blocks survive the harness's per-round
    * `clearCache()`, and the measured per-query cost was 1.3-1.7s vs
    * 2.0-2.7s under a shared cache the first consumer per round must
    * re-materialize. Cleared with the table artifacts
    * ([[clearSessionArtifacts]]); at cluster scale this is the 2|E|
    * block cache a graph-serving layer pins beside its edge layout —
    * the same memory the former per-query persists already spent. */
  private def coPurchaseSymFrame(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Corpus, s, dir, "symframe") {
      coPurchaseSymTable(s, dir).localCheckpoint(true)
    }

  /** Session memos for the graph-family scalars — |V| (degree-artifact
    * rows) and 2|E| (symmetric edge rows): every broadcast guard and
    * GraphOps entrypoint formerly re-counted them per query (a full job
    * each). Corpus-pure; keyed and cleared with the artifacts. */
  private def coPurchaseNodeCount(s: SparkSession, dir: String): Long =
    SessionMemo(Corpus, s, dir, "nnodes")(degreeTable(s, dir).count())

  private def coPurchaseSymCount(s: SparkSession, dir: String): Long =
    SessionMemo(Corpus, s, dir, "nsym")(coPurchaseSymFrame(s, dir).count())

  /** Session memo for the SYMMETRIC ADJACENCY layout (r18): one row per
    * node carrying its out-neighbor cells `nbrs: array<struct<p, w>>` —
    * the node-keyed rollup of [[coPurchaseSymTable]] (same cells, |V|
    * rows instead of 2|E|). The iterative graph family's per-round
    * passes probe node-cardinality broadcast state once per NODE off
    * this frame and fan the cells out map-side, instead of probing once
    * per EDGE over the 2|E| frame (GraphOps.pageRankAdjPrepared et
    * al.). Built exchange-free off the bucket layout (groupBy on the
    * bucket key); degree-table lifecycle (corpus-pure, cleared with
    * artifacts, warmed by Bench as its own timed artifact:warm row).
    * Max cells per row = max degree — the bound the census's broadcast
    * adjacency attach already carries; Σ cells = 2|E| longs. */
  private def symAdjFrame(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Corpus, s, dir, "symadj") {
      // Cells carry the DESTINATION's outdegree (`pdeg`): the rank
      // iterations then derive each round's per-node contribution from
      // the mass aggregate alone — no per-iteration deg re-join, one
      // broadcast build per round instead of two (build-time map-side
      // attach; corpus-pure like the rest of the artifact).
      val degSide = degreeTable(s, dir)
        .select(col("node").as("peer"), col("deg").as("pdeg"))
      val degB =
        if (coPurchaseNodeCount(s, dir) <= 10000000L) broadcast(degSide)
        else degSide
      coPurchaseSymTable(s, dir)
        .join(degB, "peer")
        .groupBy(col("node"))
        .agg(collect_list(struct(col("peer").as("p"), col("w").as("w"),
          col("pdeg"))).as("nbrs"))
        .localCheckpoint(true)
    }

  /** Session memos for the DEGREE-ORDERED ORIENTED co-purchase layout —
    * the triangle/clustering serving artifacts beside the symmetric
    * frame (VERDICT r14 #2: q166's residual cost was per-query
    * orientation + adjacency prep, which is corpus-pure topology like
    * the degree table): each canonical edge pointed from its (deg,
    * id)-smaller endpoint to the larger, plus the per-node out-neighbor
    * arrays of that orientation (array length O(√E) by the orientation
    * bound — Σ cells = |E| longs, the same memory the broadcast attach
    * already ships). Degree-table lifecycle: built off the artifacts,
    * cleared with [[clearSessionArtifacts]], warmed by Bench outside
    * timing. This one is the oriented edge list; [[orientedAdjFrame]]
    * the adjacency arrays. */
  private def orientedEdgesFrame(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Corpus, s, dir, "oriented") {
      G.orientByDegree(
        coPurchaseSymFrame(s, dir)
          .filter(col("node") < col("peer"))
          .select(col("node").as("u"), col("peer").as("v")),
        degreeTable(s, dir).select(col("node"), col("deg")),
        coPurchaseNodeCount(s, dir))
        .localCheckpoint(true)
    }

  private def orientedAdjFrame(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Corpus, s, dir, "orientedadj") {
      G.adjacencyFromOriented(orientedEdgesFrame(s, dir))
        .localCheckpoint(true)
    }

  /** Session memos for the HOLDOUT split fixture shared by the
    * delta-maintenance family (VERDICT r14 #3): q195 (incremental kNN)
    * and q198 (offline rec eval) both hold out every 37th order, and
    * each formerly re-derived the holdout's (order, part) pairs — and
    * q198 additionally re-paid the delta-pair self-join — per run. The
    * holdout definition is corpus-pure (a deterministic pmod), so the
    * split's artifacts get the degree-table lifecycle: the distinct
    * held-out (ok, pk) pairs, the parts they touch, and the
    * symmetrized delta co-occurrence edge table (node, peer, dw) built
    * by the 1/37-sized self-join. At 100 TB these are exactly the
    * delta tables an incremental-maintenance pipeline lands beside its
    * base artifacts — delta-bounded, never corpus-scale.
    *
    * This one: distinct (ok, pk) pairs of the held-out (every-37th)
    * orders. */
  private def holdoutPairs(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Corpus, s, dir, "holdoutpairs") {
      t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(37L)) === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint(true)
    }

  /** Distinct parts appearing in any held-out order (q195's delta
    * seed — includes parts whose held-out order carried no second
    * part, so NOT derivable from [[holdoutDeltaEdges]]'s endpoints). */
  private def holdoutParts(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Corpus, s, dir, "holdoutparts") {
      holdoutPairs(s, dir).select(col("pk").as("node")).distinct()
        .localCheckpoint(true)
    }

  /** Symmetrized held-out co-occurrence delta (node, peer, dw): the
    * q219 delta algebra's edge table — w_base = w_full − dw off the
    * bucketed artifact. Only the 1/37-sized holdout ever self-joins. */
  private def holdoutDeltaEdges(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Corpus, s, dir, "deltaedges") {
      val dPairs = holdoutPairs(s, dir)
      val de = dPairs.as("x").join(dPairs.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("id_a"), col("y.pk").as("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("dw"))
      de.select(col("id_a").as("node"), col("id_b").as("peer"), col("dw"))
        .union(de.select(col("id_b").as("node"), col("id_a").as("peer"),
          col("dw")))
        .localCheckpoint(true)
    }

  /** Session memo for the (cust, part) PURCHASE-HISTORY table shared by
    * the recommendation family (q192 serving, q198 eval — r15): the
    * distinct customer-part ownership both queries formerly re-derived
    * per run with a lineitem⋈orders join + distinct, carried with its
    * lineitem-row counts split by the holdout predicate (`n_all` rows
    * overall, `n_hold` of them in held-out every-37th orders) so each
    * consumer recovers its slice MAP-SIDE off the checkpoint: the full
    * history is the key set, the base-trained history is the EXISTS
    * filter n_all > n_hold, and the held-out purchases are n_hold > 0
    * — identical sets to the former inline distincts. Corpus-pure like
    * the degree table; at 100 TB this is the history table a
    * recommender keeps beside its kNN index, (cust, part)-cardinality,
    * never order-cardinality. */
  private def custPartOrders(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Corpus, s, dir, "custpart") {
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
          col("ok") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("cust"), col("pk").as("part"))
        .agg(count(lit(1)).as("n_all"),
          sum(when(pmod(col("ok"), lit(37L)) === 0, 1L).otherwise(0L))
            .as("n_hold"))
        .localCheckpoint(true)
    }

  /** Memoized row counts of the holdout artifacts — the broadcast
    * guards' scalars (formerly two count JOBS per q198 run). */
  private def holdoutPairCount(s: SparkSession, dir: String): Long =
    SessionMemo(Corpus, s, dir, "nholdout")(holdoutPairs(s, dir).count())

  private def holdoutDeltaEdgeCount(s: SparkSession, dir: String): Long =
    SessionMemo(Corpus, s, dir, "ndeltaedges")(
      holdoutDeltaEdges(s, dir).count())

  /** Memoized 0.8-near-dup pair count — the q128 participant-pruning
    * broadcast guard's scalar (a filter-count over the session
    * candidate checkpoint, one job per session). */
  private def nearDupPairCount(s: SparkSession, dir: String): Long =
    SessionMemo(Corpus, s, dir, "nneardup")(wordNearDupPairs(s, dir).count())

  /** Runtime broadcast-guard budgets for the delta/recommendation
    * family (q192/q195/q198/q219): bounded intermediates broadcast only
    * while they fit an executor; past the budget the joins fall back to
    * AQE-sized shuffles. Package-private MUTABLE only so the
    * fallback-parity spec can force the guards over threshold and
    * assert the shuffle path stays hash-identical (VERDICT r13 #4 — the
    * guarded fallback was exercised at no tested SF); production code
    * never writes them. */
  @volatile private[graft] var DeltaBroadcastMaxRows: Long = 10000000L
  @volatile private[graft] var KnnBroadcastMaxNodes: Long = 3333333L

  /** Guards the broadcast budgets above (ADVICE r14): sbt runs suites
    * in parallel inside one forked JVM, so any test that zeroes the
    * knobs must hold this while mutating AND running its queries, and
    * any OTHER suite asserting plan shape on the guarded queries
    * (q192/q195/q198/q219) must hold it too — results are
    * parity-identical either way, but a plan-shape assertion would
    * flake nondeterministically. Do NOT synchronize here directly from
    * tests: route through [[withBroadcastKnobs]] (mutators) or
    * [[withBroadcastKnobsHeld]] (plan-shape readers) so the
    * lock-and-restore protocol is structural, not a per-call-site
    * comment (ADVICE r15). */
  private[graft] val broadcastKnobLock = new Object

  /** Run `body` with the broadcast budgets set to (dr, kn), under the
    * knob lock, restoring the prior budgets on exit — the only
    * sanctioned way to mutate the knobs (the fallback-parity specs'
    * entrypoint). */
  private[graft] def withBroadcastKnobs[A](dr: Long, kn: Long)
                                          (body: => A): A =
    broadcastKnobLock.synchronized {
      val (dr0, kn0) = (DeltaBroadcastMaxRows, KnnBroadcastMaxNodes)
      try { DeltaBroadcastMaxRows = dr; KnnBroadcastMaxNodes = kn; body }
      finally { DeltaBroadcastMaxRows = dr0; KnnBroadcastMaxNodes = kn0 }
    }

  /** Run `body` under the knob lock WITHOUT mutating — for suites that
    * assert plan shape on the guarded queries (q192/q195/q198/q219) and
    * must not observe a concurrent fallback-parity test's zeroed
    * budgets. */
  private[graft] def withBroadcastKnobsHeld[A](body: => A): A =
    broadcastKnobLock.synchronized(body)

  /** Session memo for the BUCKETED per-document term-frequency tables —
    * the copurchase_sym discipline applied to the TEXT family (VERDICT
    * r10 #1): nearly every text query re-ran `explode(tokens/shingles(
    * text))` + a (doc, term) count shuffle off its own documents scan.
    * One scan per (dir, session, gram) now lands `(doc_id, source,
    * lang, term, tf)` in a bucketed-by-term managed table; term-keyed
    * consumers (df censuses q20/q41, posting lists q63, per-(source,
    * term) counts q135/q143/q180, trigram vocabulary q220/q301, the
    * q265 posting join) ride the bucket layout exchange-free, and
    * doc-keyed consumers shuffle compact (doc, tf) ints instead of raw
    * tokens. `source`/`lang` ride along — functionally dependent on
    * doc_id, so they widen the build's grouping key without adding
    * groups — and per-source consumers never re-join the corpus.
    * Tokenization contract: `gram`=1 is exactly `explode(T.tokens(
    * text))`, `gram`=n is `explode(T.wordShinglesMulti(T.tokens(text),
    * n))`; null-text docs contribute no rows (explode of null), same as
    * every consumer's former inline explode — outputs stay
    * hash-identical to the from-text plans. 32 buckets = local cores,
    * same sizing note as [[coPurchaseSymTable]]. */
  private def docTermsBucketed(s: SparkSession, dir: String,
                               gram: Int): DataFrame =
    SessionMemo(Corpus, s, dir, s"docterms$gram") {
      val db = RollupDb
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      val table = docTermsPrefix(gram) + Cat.dirHash(dir)
      val toks =
        if (gram == 1) T.tokens(col("text"))
        else T.wordShinglesMulti(T.tokens(col("text")), gram)
      // `dl` = the doc's total term count at this gram (= Σtf over the
      // doc's rows — size() of the pre-explode array, counted once at
      // build time). Functionally dependent on doc_id like source/lang,
      // so it widens the grouping key without adding groups; carrying
      // it saves per-doc consumers (BM25's length normalization) a
      // corpus-wide doc_id re-shuffle of the term-bucketed layout
      // (VERDICT r11 #2 — exactly that aggregate made q100 slower than
      // its from-text plan).
      val tf = spreadDocs(s, dir)
        .select(col("doc_id"), col("source"), col("lang"),
          toks.as("__toks"))
        .select(col("doc_id"), col("source"), col("lang"),
          size(col("__toks")).cast("long").as("dl"),
          explode(col("__toks")).as("term"))
        .groupBy(col("doc_id"), col("source"), col("lang"), col("dl"),
          col("term"))
        .agg(count(lit(1)).as("tf"))
      Cat.writeBucketed(tf, db, table, Seq("term"), 32)
      s.table(s"$db.$table")
    }

  /** Unigram (doc_id, source, lang, term, tf) — `T.tokens` contract. */
  private def docTerms(s: SparkSession, dir: String): DataFrame =
    docTermsBucketed(s, dir, 1)

  /** Word-trigram variant — `T.wordShinglesMulti(tokens, 3)` contract
    * (multiset; per-doc-distinct consumers just drop `tf`). */
  private def docTerms3(s: SparkSession, dir: String): DataFrame =
    docTermsBucketed(s, dir, 3)

  /** Bench/driver hook: build the session serving artifacts (bucketed
    * co-purchase graph + tf tables) OUTSIDE query timing — corpus prep,
    * amortized across the whole suite, so per-query numbers reflect
    * query work rather than whichever consumer happens to run first
    * (VERDICT r10 #3). */
  def warmSessionArtifacts(s: SparkSession, dir: String): Unit =
    warmArtifactBuilders(dir).foreach { case (_, build) => build(s) }

  /** The once-per-JVM warm tier broken into its named builders so Bench
    * can TIME each one as an `artifact:warm:*` row (VERDICT r17 #1: the
    * warm tier predates this round, but r17 moved the basket-membership
    * build into it, so derived-table build cost was the one class of
    * work left outside the timed rows — now zero build cost is
    * untimed). Order matters: later builders reuse earlier artifacts,
    * so each row reads the INCREMENTAL cost of its own build. Memoized
    * per (session, dir) like every artifact — a second call is a memo
    * hit, which is why Bench times the FIRST call, once per run. */
  def warmArtifactBuilders(dir: String)
  : Seq[(String, SparkSession => Unit)] = Seq(
    ("artifact:warm:basket_membership",
      (s: SparkSession) => { basketMembership(s, dir); () }),
    ("artifact:warm:copurchase_sym_table",
      (s: SparkSession) => { coPurchaseSymTable(s, dir); () }),
    ("artifact:warm:degree_table",
      (s: SparkSession) => { degreeTable(s, dir); () }),
    ("artifact:warm:copurchase_frame_counts",
      (s: SparkSession) => {
        coPurchaseSymFrame(s, dir)
        coPurchaseNodeCount(s, dir)
        coPurchaseSymCount(s, dir)
        ()
      }),
    ("artifact:warm:sym_adjacency",
      (s: SparkSession) => { symAdjFrame(s, dir); () }),
    ("artifact:warm:oriented_layout",
      (s: SparkSession) => {
        orientedEdgesFrame(s, dir)
        orientedAdjFrame(s, dir)
        ()
      }),
    ("artifact:warm:holdout",
      (s: SparkSession) => {
        holdoutPairs(s, dir)
        holdoutParts(s, dir)
        holdoutDeltaEdges(s, dir)
        holdoutPairCount(s, dir)
        holdoutDeltaEdgeCount(s, dir)
        ()
      }),
    ("artifact:warm:cust_part_orders",
      (s: SparkSession) => { custPartOrders(s, dir); () }),
    ("artifact:warm:base_knn",
      (s: SparkSession) => { baseKnnTable(s, dir); () })
  ) ++ DocTermGrams.map(gram => (s"artifact:warm:docterms$gram",
      (s: SparkSession) => { docTermsBucketed(s, dir, gram); () }))

  /** Warehouse hygiene hook (Bench round reset): evict per-corpus
    * serving tables whose corpus dir is not the one being served —
    * without it the dir-hash-suffixed artifacts accumulate forever in a
    * warehouse shared across corpora (VERDICT r10 #7). The session
    * store forgets every dead corpus's entries first, so the next call
    * for that dir rebuilds instead of returning a dropped table or a
    * deleted export path. */
  def dropStaleArtifacts(s: SparkSession, liveDirs: Seq[String],
                         includeExports: Boolean = true,
                         exportGraceMs: Long = 2L * 3600 * 1000): Int = {
    SessionMemo.forgetDirs(liveDirs)
    val tables = Cat.dropStaleArtifacts(s, RollupDb, liveDirs,
      CoPurchaseSymPrefix +: DocTermGrams.map(docTermsPrefix))
    if (!includeExports) return tables
    // The filesystem export dumps (q186 feed, q197 hive tree, q337 ORC,
    // q338 evolution dir) are per-corpus too (dir-hash-suffixed paths) —
    // sweep stale ones alongside the warehouse tables (VERDICT r11 #7).
    // `includeExports = false` is for BENCH: the dumps are ORACLE-SHARED
    // state (the DuckDB twins glob them), and a bench serving corpus B
    // between a Verify dump for corpus A and the driver's compare would
    // otherwise delete A's files out from under the oracle. Only Verify
    // — which rebuilds its own corpus's dumps right after — may sweep
    // them.
    val live = liveDirs.map(Cat.dirHash).toSet
    val tmp = new java.io.File("/tmp")
    val now = System.currentTimeMillis()
    val stale = Option(tmp.listFiles()).getOrElse(Array.empty).filter { f =>
      val n = f.getName
      // `n == b` catches pre-r12 fixed-path dumps (never live now).
      ExportBases.exists(b => n == b || n.startsWith(b + "_")) &&
        !live.contains(n.substring(n.lastIndexOf('_') + 1)
          .stripSuffix(".staging")) &&
        // Grace period (ADVICE r12): a CONCURRENT Bench JVM serving a
        // different corpus writes its own export dirs and reads them
        // through session memos — sweeping them mid-run would yank the
        // files out from under its cached paths. A recently-modified
        // export dir is presumed live in another JVM; true stale dirs
        // (prior rounds) age past the grace window and still get swept.
        now - f.lastModified() > exportGraceMs
    }
    // Count only dirs actually removed (ADVICE r12: fs.delete returns
    // false on failure/absence — the old count overstated the sweep and
    // hid retained stale dirs).
    val deleted = stale.count { d =>
      val p = new org.apache.hadoop.fs.Path(d.getAbsolutePath)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      try fs.delete(p, true) catch { case e: Throwable =>
        System.err.println(
          s"[artifacts] stale export sweep failed for ${d.getName}: " +
            e.getMessage)
        false
      }
    }
    tables + deleted
  }

  /** Filesystem export roots, suffixed per corpus dir like the warehouse
    * artifacts (ADVICE r11: the former fixed paths let two JVMs serving
    * DIFFERENT corpora — bench at sf0.1, verify at sf0.01 — clobber each
    * other mid-read). [[graft.oracle.OracleSql]] names the same paths
    * for the corpus dir it is built for, from the same base names, each
    * spelled once here. Same-corpus concurrency remains single-writer,
    * the driver's regime — identical trade to the warehouse tables. */
  private[graft] def exportDir(base: String, dir: String): String =
    s"/tmp/${base}_${Cat.dirHash(dir)}"
  private[graft] val NdjsonFeedBase = "graft_ndjson_feed"
  private[graft] val PartFilesBase = "graft_part_files"
  private val OrcExportBase = "graft_orc_export"
  private[graft] val EvoParquetBase = "graft_evo_parquet"
  private val ExportBases =
    Seq(NdjsonFeedBase, PartFilesBase, OrcExportBase, EvoParquetBase)

  /** Session memo for q197's hive-partitioned export: events laid out
    * under event_type=X/day_bucket=Y leaves (the over-partitioned tree
    * every data lake grows), one file per leaf via the pre-write
    * repartition on the partition keys. */
  private def partFilesExport(s: SparkSession, dir: String): String =
    SessionMemo(Corpus, s, dir, "partfiles") {
      val path = exportDir(PartFilesBase, dir)
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          pmod(expr("unix_micros(ts) div 86400000000"), lit(8L))
            .as("day_bucket"))
        .repartition(col("event_type"), col("day_bucket"))
        .write.mode("overwrite")
        .partitionBy("event_type", "day_bucket")
        .parquet(path)
      path
    }

  /** Session memo for q186's NDJSON feed export: the events table dumped
    * once per (dir, session) as line-JSON — event_id/type/user plus
    * exact integer cents — with every 97th line truncated to 10 bytes
    * (deterministic stand-in for the corrupt-line rate real crawler/API
    * dumps carry). */
  private def ndjsonFeed(s: SparkSession, dir: String): String =
    SessionMemo(Corpus, s, dir, "ndjson") {
      val path = exportDir(NdjsonFeedBase, dir)
      val json = to_json(struct(col("event_id"), col("event_type"),
        col("user_id"),
        valueCents
          .as("cents")))
      val line = when(pmod(col("event_id"), lit(97)) === 0,
        substring(json, 1, 10)).otherwise(json)
      t(s, dir, "events").select(line.as("value"))
        .write.mode("overwrite").text(path)
      s"$path/part-*"
    }

  /** Session memo for q337's ORC export: a 4-column orders projection
    * round-tripped through the ORC source ([[graft.sources.Sources]]
    * writeOrc/orc). The oracle cannot read ORC — it reads the ORIGINAL
    * parquet and must agree value-for-value with what comes back out of
    * the ORC files, which is exactly the losslessness the audit
    * asserts (longs, strings, timestamps). */
  private def orcExport(s: SparkSession, dir: String): String =
    SessionMemo(Corpus, s, dir, "orc") {
      val path = exportDir(OrcExportBase, dir)
      Src.writeOrc(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderdate")), path)
      path
    }

  /** Session memo for q338's schema-evolution export: the append-only
    * lake whose producer GREW a column mid-history — generation 1 files
    * carry (event_id, event_type, user_id), generation 2 adds `cents`;
    * both land in ONE directory (plain parquet appends, no metastore),
    * and the merged-schema read must surface generation-1 rows with a
    * null `cents`. The oracle reads the SAME files with
    * `union_by_name=true`, so the check pins Spark's mergeSchema
    * against an independent engine's schema-union semantics. */
  private def evoParquetExport(s: SparkSession, dir: String): String =
    SessionMemo(Corpus, s, dir, "evo") {
      val path = exportDir(EvoParquetBase, dir)
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      // Stage-and-swap (ADVICE r11): the former overwrite-then-append
      // pair left a mixed-generation dir if interrupted between the two
      // writes. Both generations land in a staging dir first; the live
      // path flips in one rename, so a reader never sees gen-1-only.
      val staging = new org.apache.hadoop.fs.Path(path + ".staging")
      val live = new org.apache.hadoop.fs.Path(path)
      val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
      ev.filter(pmod(col("event_id"), lit(2L)) === 0)
        .drop("cents")
        .write.mode("overwrite").parquet(staging.toString)
      ev.filter(pmod(col("event_id"), lit(2L)) === 1)
        .write.mode("append").parquet(staging.toString)
      if (fs.exists(live)) fs.delete(live, true)
      // A silently-failed rename would leave NO data at the live path
      // while the memo caches it (ADVICE r12) — surface it here so the
      // memo entry is never populated with a dead path.
      if (!fs.rename(staging, live))
        throw new java.io.IOException(
          s"evoParquetExport: rename $staging -> $live failed")
      path
    }

  /** Session sweep for the LEARNED BPE merge-rule list shared by q121
    * (and any other tokenizer-apply consumer): the rules are the
    * tokenizer artifact — trained once per (corpus, rounds) and applied
    * everywhere, the [[trainedCentroids]] regime. Driver-held: `rounds`
    * (l, r) string pairs. */
  private def bpeRules(s: SparkSession, dir: String,
                       rounds: Int): Seq[(String, String)] =
    SessionMemo(Round, s, dir, s"bpe:$rounds")(
      T.bpeMerges(t(s, dir, "documents"), col("text"), rounds)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** Session memo for the item-kNN serving table (q187's artifact): the
    * top-3 damped-co-occurrence peers per part, w carried for exact
    * integer re-scoring. Built once per (dir, session) off the bucketed
    * co-purchase table; q187 serves it directly and q192's
    * recommendation join reads it as its candidate generator — one
    * artifact, every consumer, the production index discipline. */
  private def itemKnnTable(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Round, s, dir, "itemknn") {
      // The TABLE, not the checkpoint frame: the top-k build's per-node
      // partial aggregation rides the bucket distribution, which the
      // frame does not carry (see the [[coPurchaseSymFrame]] contract
      // caveat).
      val sym = coPurchaseSymTable(s, dir)
      val wdeg = degreeTable(s, dir)
        .select(col("node"), col("wdeg").as("__s"))
      val scored = sym
        .join(wdeg, "node")
        .join(wdeg.select(col("node").as("peer"), col("__s").as("__sp")),
          "peer")
        .select(col("node"), col("peer"), col("w"),
          (col("w").cast("double") /
            sqrt((col("__s") * col("__sp")).cast("double"))).as("score"))
      R.topKPerGroup(scored, Seq("node"),
          Seq(col("score").desc, col("peer")), 3, "rank")
        .select(col("node"), col("rank"), col("peer"), col("w"),
          col("score"))
        .localCheckpoint(true)
    }

  /** The BASE-trained item-kNN plan — [[itemKnnTable]]'s build with the
    * every-37th holdout subtracted by delta algebra (VERDICT r15 #2).
    * Base-trained co-occurrence WITHOUT re-joining the full pair set:
    * orders partition every co-purchase pair, so w_base = w_full −
    * w_delta — the q219 delta algebra applied to the similarity graph.
    * w_full is the session's bucketed artifact; the delta edge table
    * (the only self-join, 1/37-sized) is the session HOLDOUT fixture
    * (q195 reads the same one). Pairs living exclusively in held-out
    * orders subtract to 0 and drop. Adjusted weighted degrees come off
    * the session degree artifact the same way: every incident edge is
    * either in the adjusted graph with weight w−dw or vanished with
    * w−dw = 0, so Σ_adj = wdeg − Σ_incident dw exactly — a
    * node-cardinality join with the delta-bounded dw sums, never a
    * rescan of the adjusted edge set (VERDICT r11 #5).
    *
    * Count-guarded broadcasts (the q195 10M-row discipline): without
    * the hints Catalyst plans the (node, peer) adjustment as a shuffle
    * join, which BOTH disables the artifact's bucketed scan AND
    * materializes a full edge-set exchange before AQE can replan. With
    * them the whole build rides the node buckets map-side: scan →
    * 3 broadcast joins → partial top-3 → one ≤ 3|V|-row exchange.
    * Guard scalars are the memoized artifact counts, not count jobs.
    *
    * Package-private (not folded into [[baseKnnTable]]) so the plan
    * spec can assert the BUILD's shape and the artifact spec can pin
    * checkpoint ≡ from-scratch row identity. */
  private[graft] def buildBaseKnn(s: SparkSession, dir: String): DataFrame = {
    val dsym0 = holdoutDeltaEdges(s, dir)
    val dsym =
      if (holdoutDeltaEdgeCount(s, dir) <= DeltaBroadcastMaxRows)
        broadcast(dsym0)
      else dsym0
    val sym = coPurchaseSymTable(s, dir)
      .join(dsym, Seq("node", "peer"), "left_outer")
      .select(col("node"), col("peer"),
        (col("w") - coalesce(col("dw"), lit(0L))).as("w"))
      .filter(col("w") > 0)
    val wdeg0 = degreeTable(s, dir)
      .join(dsym.groupBy(col("node")).agg(sum(col("dw")).as("__dw")),
        Seq("node"), "left_outer")
      .select(col("node"),
        (col("wdeg") - coalesce(col("__dw"), lit(0L))).as("__s"))
    val wdeg =
      if (coPurchaseNodeCount(s, dir) <= DeltaBroadcastMaxRows)
        broadcast(wdeg0)
      else wdeg0
    val scored = sym
      .join(wdeg, "node")
      .join(wdeg.select(col("node").as("peer"), col("__s").as("__sp")),
        "peer")
      .select(col("node"), col("peer"), col("w"),
        (col("w").cast("double") /
          sqrt((col("__s") * col("__sp")).cast("double"))).as("__sc"))
    R.topKPerGroup(scored, Seq("node"),
        Seq(col("__sc").desc, col("peer")), 3, "rank")
      .select(col("node"), col("peer"), col("w"))
  }

  /** Session ARTIFACT for the base-trained kNN (VERDICT r15 #2): the
    * offline-eval twin a recommender keeps beside its serving index
    * ([[itemKnnTable]]) for champion/challenger evaluation — corpus-
    * pure because the every-37th holdout is deterministic, ≤ 3|V| rows,
    * built once per (corpus, session) and cleared with the artifact
    * memos (the holdout-fixture lifecycle, not the per-round sweep
    * lifecycle: q198 is its only in-suite consumer, so a per-round memo
    * would still charge the build to every timed q198 run while a real
    * eval harness amortizes it across the whole eval campaign). */
  private def baseKnnTable(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Corpus, s, dir, "baseknn")(
      buildBaseKnn(s, dir).localCheckpoint(true))

  /** Harness lifecycle hook (Bench round boundaries, tests): drops the
    * per-round session sweeps (the [[SessionMemo]] Round tier) so a
    * repeat round starts cold. The Corpus tier — among it the warehouse
    * tables ([[coPurchaseSymTable]], [[docTermsBucketed]]) — is NOT
    * cleared here: it is corpus-pure and round-invariant (clearing the
    * tables made every Bench round re-WRITE identical bucketed tables,
    * ADVICE r11); tests that assert a fresh build call
    * [[clearSessionArtifacts]] explicitly. */
  def clearSessionSweeps(): Unit = SessionMemo.clear(Round)

  /** Bench hook (VERDICT r16 #2): the per-round session SWEEPS as named
    * builders, so the harness can pre-build each one TIMED as its own
    * `artifact:*` row instead of silently charging the build to its
    * alphabetically-first consumer in every repeat round (q102 carried
    * the near-dup pair sweep, q262 the vote table — correct totals,
    * misleading per-query heads). Each thunk triggers exactly the build
    * its consumers would (same memo keys), so a pre-build here is a
    * cache hit there; builds ending in an eager localCheckpoint (or a
    * bounded driver collect) materialize inside the timed thunk. Order
    * matters only where sweeps nest: components read the pair sweep,
    * IVFPQ's residual books read the IVF centroids — dependents listed
    * after their dependency so each row prices its OWN increment. */
  def roundSweepBuilders(dir: String)
  : Seq[(String, SparkSession => Unit)] = Seq(
    ("artifact:neardup_pairs",
      (s: SparkSession) => { wordCandidatePairs(s, dir); () }),
    ("artifact:neardup_components",
      (s: SparkSession) => { nearDupComponents(s, dir); () }),
    ("artifact:eval_knn_votes",
      (s: SparkSession) => { evalKnnVotes(s, dir); () }),
    ("artifact:item_knn",
      (s: SparkSession) => { itemKnnTable(s, dir); () }),
    ("artifact:ivf_centroids",
      (s: SparkSession) => { trainedCentroids(s, dir, IvfCells,
        IvfTrainIters); () }),
    ("artifact:pq_codebooks",
      (s: SparkSession) => { pqCodebooks(s, dir); () }),
    ("artifact:ivfpq_codebooks",
      (s: SparkSession) => { ivfpqBooks(s, dir); () }),
    ("artifact:bpe_rules",
      (s: SparkSession) => { bpeRules(s, dir, 6); () }))

  /** Drop the Corpus tier — the artifact memos, export-dump paths and
    * table plans — so next access rebuilds (one corpus scan + bucketed
    * write per table). The table plans ride along (ADVICE r17): a
    * caller clearing artifacts may have regenerated corpus files, and a
    * memoized FileIndex over deleted parquet must not survive the
    * clear. Test hook; Bench warms the artifacts ONCE per JVM
    * instead. */
  def clearSessionArtifacts(): Unit = SessionMemo.clear(Corpus)

  /** Session sweep for the word-3-gram near-dup pair build shared by
    * q25/q35/q61/q66 (VERDICT r5 #3): the four consumers run the SAME
    * corpus/shingle/threshold build, so one checkpointed pair set per
    * (session, corpus dir) feeds all of them — a production curation
    * session computes candidates once, not once per downstream step.
    * The build runs inside [[DedupOps.withNearDupPairs]]' loan and
    * materializes the verified pairs via `localCheckpoint(eager)`, so
    * the heavyweight intermediates are unpersisted before it returns and
    * what survives is not a CacheManager entry (`clearCache()` between
    * unrelated jobs cannot drop it). The memo name identifies the build
    * — shingle config and threshold; a hit ignores the rest. Bench
    * clears it at round boundaries so repeat rounds start cold.
    *
    * ALL verified word-3-shingle candidate pairs (threshold 0 — the
    * banding bounds candidates; every pair carries its exact Jaccard):
    * the q25/q61/q66 0.8-dedup consumers FILTER this set (identical
    * rows — same candidates, same verify) and q168's yield curve reads
    * it whole. */
  private def wordCandidatePairs(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Round, s, dir, "worddup3:0.0")(
      D.withNearDupPairs(
        spreadDocs(s, dir).select(col("doc_id"), col("text")),
        "doc_id", T.wordShinglesMulti(T.tokens(col("text")), 3), 0.0,
        Some(D.wordKernels(col("text"), 3)))(_.localCheckpoint(true)))

  /** The 0.8-threshold near-dup pairs — a filter over
    * [[wordCandidatePairs]], so the q25 family and the q168 yield curve
    * share one candidate build + verify per session. */
  private def wordNearDupPairs(s: SparkSession, dir: String): DataFrame =
    wordCandidatePairs(s, dir).filter(col("jaccard") >= 0.8)

  /** The shared component labels over [[wordNearDupPairs]] — q61, q66,
    * q102, and q106 all cluster the SAME pair graph, and the components
    * fixpoint runs driver-visible ACTIONS per round (a count each
    * iteration), so without the sweep each consumer re-pays the whole
    * loop rather than reusing a plan. First caller runs it; the rest
    * read the loop's checkpointed (node, label) rows. */
  private def nearDupComponents(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Round, s, dir, "wordcc")(
      G.connectedComponents(wordNearDupPairs(s, dir), "id_a", "id_b"))

  /** q27/q49 shared: brute-force exact cosine top-k for the 20 query
    * vectors — query side broadcast, corpus streamed once, no shuffle. */
  private def annExact(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
    Vec.cosineTopK(e.filter(col("vec_id") < 20), e, "vec_id", "embedding", k)
  }

  /** Session memo for the 5-NN eval VOTE TABLE `(query_id, nlab, cnt)`
    * shared by the classifier-eval family — q262 (confusion), q263
    * (per-class metrics), q267 (uncertainty batch) each derived their
    * statistic from the identical brute-force 5-NN label votes over the
    * 200 eval queries, so the 200×N dot-product scan (the single most
    * expensive kernel in the family — ~7 s each at sf1) ran three
    * times per round (VERDICT r15 #3). One build per (corpus, session)
    * now lands the ≤ 200×5-row vote census in a checkpoint; every
    * consumer's metric is a driver-light fold over it. This is the
    * production eval-harness shape: predictions are materialized once,
    * every metric reads the prediction table. */
  private def evalKnnVotes(s: SparkSession, dir: String): DataFrame =
    SessionMemo(Round, s, dir, "evalvotes") {
      val e = emb(s, dir)
      val lab = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
      Vec.cosineTopK(e.filter(col("vec_id") < 200), e,
          "vec_id", "embedding", 5)
        .join(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("nlab")), "neighbor_id")
        .groupBy(col("query_id"), col("nlab"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
    }

  /** q65/q49 shared: int8-quantized brute-force top-k (L45). */
  private def annI8(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = t(s, dir, "embeddings")
    Vec.i8TopK(e.filter(col("vec_id") < 20), e, "vec_id", "embedding", k)
  }

  /** q28/q49 shared: random-hyperplane LSH ANN — bucket both sides, hash
    * join on bucket, exact cosine within candidates, top-3. `planes` is
    * the geometry knob (buckets = 2^planes); the default matches the
    * graded q28 oracle. */
  private def annLsh(s: SparkSession, dir: String,
                     planes: Int = AnnPlanes): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
      Vec.lshBucket(col("embedding"), planes).as("bucket"),
      Vec.norm(col("embedding")).as("__n"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"),
        col("bucket"), col("__n").as("__qn"))
    val c = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("__cv"), col("bucket").as("__bc"),
      col("__n").as("__cn"))
    val scored = q.join(c, col("bucket") === col("__bc") &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Vec.cosineWithNorms(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    R.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cosine").desc, col("neighbor_id")), 3, "rank")
      .select(col("query_id"), col("neighbor_id"), col("bucket"),
        col("rank"), col("cosine"))
  }

  /** Probe masks at Hamming distance ≤ `radius` from a query's own
    * bucket: every XOR mask over the `planes` sign bits with popcount ≤
    * radius (mask 0 = the bucket itself). radius 1 is classic multi-probe
    * (1 + planes buckets); radius 2 adds the C(planes, 2) two-bit flips —
    * the PROBE-DEPTH DIAL (VERDICT r5 #4): probe count Σ C(planes, i)
    * trades candidate work for recall, measured per setting by q49. */
  private[graft] def probeMasks(planes: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= planes,
      s"radius must be in [0, planes], got $radius/$planes")
    (0L until (1L << planes))
      .filter(m => java.lang.Long.bitCount(m) <= radius)
  }

  /** q53/q49 shared: MULTI-PROBE variant of [[annLsh]] — each query also
    * probes every bucket within Hamming distance `radius` of its own
    * (flip up to `radius` of the `planes` sign bits), so near neighbors
    * split by a few hyperplanes are recovered. Candidate cost grows by
    * ×(number of masks) on the query side only (the corpus stays
    * bucketed once); at q49's measurement radius 1 lifts recall@3 from
    * 0.20 to 0.58 and radius 2 to 0.87 (sf0.1) — the standard
    * recall/work dial for hyperplane LSH, now parameterized. Corpus
    * vectors live in exactly one bucket and probe buckets are distinct,
    * so no candidate dedup is needed. */
  private def annLshMultiprobe(s: SparkSession, dir: String,
                               planes: Int = AnnPlanes,
                               radius: Int = 1,
                               k: Int = 3): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
      Vec.lshBucket(col("embedding"), planes).as("bucket"),
      Vec.norm(col("embedding")).as("__n"))
    val probeList = array(probeMasks(planes, radius).map(lit): _*)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"),
        explode(transform(probeList, m => col("bucket").bitwiseXOR(m)))
          .as("probe_bucket"),
        col("__n").as("__qn"))
    val c = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("__cv"), col("bucket").as("__bc"),
      col("__n").as("__cn"))
    val scored = q.join(c, col("probe_bucket") === col("__bc") &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Vec.cosineWithNorms(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    R.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cosine").desc, col("neighbor_id")), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cosine"))
  }

  /** q49 internal: ALL SEVEN retrieval methods' top-3 tables from ONE
    * pair scan and ONE window — the recall HARNESS, not the serving plans
    * (those are graded as their own queries: q27 exact, q65 i8, q126 rp,
    * q28 lsh, q53 multiprobe, q34 ivf, each keeping its scale plan). A
    * recall measurement evaluates every method on the same (query,
    * corpus-vector) pair universe, so the harness scores each pair once
    * and expresses method membership as an ADMISSIBILITY FLAG on the
    * pair:
    *  - exact: always admissible (the truth table);
    *  - i8: both sides quantize to a nonzero code (q65's exclusion),
    *    scored by quantized cosine;
    *  - rp: both sides project to a nonzero 16-dim norm (q126's
    *    exclusion), scored by projected cosine — measures pure
    *    JL compression loss;
    *  - lsh/lsh_mp/lsh_mp2: popcount(bucket_q XOR bucket_c) ≤ radius —
    *    a corpus vector lives in exactly one bucket, so hamming ≤ r is
    *    EXACTLY membership in the radius-r probe candidate set;
    *  - ivf: the corpus vector's trained cell (nearestCellExpr) is among
    *    the query's `probes` nearest cells (probeCellsExpr).
    * Per-method rows are bit-identical to the standalone paths (same
    * candidates, same score op sequences, same (score desc, neighbor)
    * tie order — spec-pinned), and the per-path ORACLE twins replicate
    * each method independently, so the fusion is checked, not assumed.
    * VERDICT r6 plan audit asked exactly for this: no path re-derives
    * bucket or cell assignments that another path already computed. */
  private def annMethodFamily(s: SparkSession, dir: String,
                              planes: Int = AnnPlanes): DataFrame = {
    val cent = trainedCentroids(s, dir, IvfCells, IvfTrainIters)
    val e = emb(s, dir)
    def side(pfx: String, df: DataFrame) = df.select(
        col("vec_id").as(s"${pfx}id"), col("embedding").as(s"${pfx}v"),
        Vec.norm(col("embedding")).as(s"${pfx}n"),
        Vec.lshBucket(col("embedding"), planes).as(s"${pfx}b"),
        Vec.i8Quantize(col("embedding")).as(s"${pfx}c"),
        Vec.randomProject(col("embedding"), 16).as(s"${pfx}rp"))
      .withColumn(s"${pfx}in",
        Vec.i8Dot(col(s"${pfx}c"), col(s"${pfx}c")))
      .withColumn(s"${pfx}rn",
        sqrt(Vec.dotD(col(s"${pfx}rp"), col(s"${pfx}rp"))))
    val q = side("__q", e.filter(col("vec_id") < 20))
      .withColumn("__qcells",
        Vec.probeCellsExpr(col("__qv"), cent, IvfProbes))
    val c = side("__c", e)
      .withColumn("__ccell", Vec.nearestCellExpr(col("__cv"), cent))
    val ham = bit_count(col("__qb").bitwiseXOR(col("__cb")))
    val cos = Vec.cosineWithNorms(col("__qv"), col("__cv"),
      col("__qn"), col("__cn"))
    val cos8 = Vec.i8Dot(col("__qc"), col("__cc")).cast("double") /
      sqrt(col("__qin").cast("double") * col("__cin").cast("double"))
    val cosRp = Vec.dotD(col("__qrp"), col("__crp")) /
      (col("__qrn") * col("__crn"))
    def m(name: String, score: Column, ok: Column) =
      struct(lit(name).as("method"), score.as("score"), ok.as("ok"))
    val scored = c.join(broadcast(q), col("__qid") =!= col("__cid"))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        explode(filter(array(
          m("exact", cos, lit(true)),
          m("i8", cos8, col("__qin") > 0 && col("__cin") > 0),
          m("rp", cosRp, col("__qrn") > 0 && col("__crn") > 0),
          m("lsh", cos, ham === 0),
          m("lsh_mp", cos, ham <= 1),
          m("lsh_mp2", cos, ham <= 2),
          m("ivf", cos, array_contains(col("__qcells"), col("__ccell")))),
          x => x.getField("ok"))).as("__m"))
      .select(col("query_id"), col("neighbor_id"),
        col("__m").getField("method").as("method"),
        col("__m").getField("score").as("score"))
    R.topKPerGroup(scored, Seq("method", "query_id"),
        Seq(col("score").desc, col("neighbor_id")), 3, "rank")
      .select(col("method"), col("query_id"), col("neighbor_id"))
  }

  /** ONE bounded training collect shared by the three index builds
    * (ivf / pq / ivfpq — VERDICT r10 #8): the seeds (`vec_id <
    * seedBound`) and the deterministic hash-sample under `salt` come
    * back in a single job (IvfTrainNum doc: index builds train on a
    * bounded sample, never the corpus). Rows are (vec_id, vector,
    * isSeed, isTrain); only the salt and seed bound ever differed
    * between the three formerly-triplicated scan/filter/collects. */
  private def trainingRows(s: SparkSession, dir: String, salt: String,
                           seedBound: Int)
  : Seq[(Long, Array[Float], Boolean, Boolean)] =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        (col("vec_id") < seedBound).as("__seed"),
        (Sam.sampleBucket(col("vec_id"), salt, IvfTrainDenom)
          < IvfTrainNum).as("__train"))
      .filter(col("__seed") || col("__train"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.getBoolean(2), r.getBoolean(3)))

  /** Session sweep for the TRAINED IVF centroids shared by q34 and q49's
    * ivf row (VERDICT r6 #1): both run the same (corpus, cells, iters)
    * training — seeds `vec_id < cells` refined by `iters` Lloyd passes —
    * so the first caller in a session pays it and later callers read the
    * driver-held centroid set: an index is trained once, then every
    * probe path reads it. Driver-held
    * ([[graft.operators.VectorOps.LocalCentroids]]): K×dims floats, the
    * FAISS/MLlib regime, making assignment a map-side expression.
    * Training runs [[graft.operators.VectorOps.kmeansTrainArrays]] over
    * one bounded collect (spec-pinned equal to the distributed
    * [[graft.operators.VectorOps.kmeansTrain]] loop). */
  private def trainedCentroids(s: SparkSession, dir: String,
                               cells: Int, iters: Int): Vec.LocalCentroids =
    SessionMemo(Round, s, dir, s"ivf:$cells:$iters") {
      // One bounded collect, then the Lloyd passes run in-process
      // (kmeansTrainArrays — the FAISS shape, spec-pinned equal to
      // the distributed loop).
      val rows = trainingRows(s, dir, IvfTrainSalt, cells)
      val seed = rows.filter(_._3).map(r => (r._1, r._2)).sortBy(_._1)
      val trainSet = rows.filter(_._4).map(_._2)
      Vec.kmeansTrainArrays(trainSet, seed, iters)
    }

  /** Product-quantization geometry (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): EmbDims=64
    * split into M=4 subspaces of 16 dims, K=16 codes each — a vector
    * compresses to 4 small codes (here longs; 4 BYTES in a production
    * layout, a 64× cut vs float32), and queries score candidates from
    * per-subspace distance tables without touching raw vectors. The
    * third leg of the ANN story: IVF prunes WHERE to look (q34), int8
    * shrinks the scan 4× (q65), PQ shrinks the STORE to codes (q171). */
  private[graft] val PqM = 4
  private[graft] val PqSubDims = 16
  private[graft] val PqCodes = 16
  private[graft] val PqIters = 2
  private[graft] val PqSalt = "pq"
  private[graft] val PqAdcK = 3
  private[graft] val PqShortlist = 50

  /** Session sweep for the per-subspace PQ codebooks — the
    * [[trainedCentroids]] regime, M codebooks per (corpus, geometry),
    * driver-held (M × K × subDims floats):
    * ONE bounded collect fetches seeds (vec_id < K) and the
    * deterministic hash-sample, then M in-process Lloyd trainings run
    * on the SLICED subvectors ([[graft.operators.VectorOps
    * .kmeansTrainArrays]] — the FAISS shape; the oracle replays each
    * subspace's chain CTE-for-CTE). */
  private def pqCodebooks(s: SparkSession,
                          dir: String): Seq[Vec.LocalCentroids] =
    SessionMemo(Round, s, dir, s"pq:$PqM:$PqCodes:$PqIters") {
      val rows = trainingRows(s, dir, PqSalt, PqCodes)
      (0 until PqM).map { sub =>
        val o = sub * PqSubDims
        val seed = rows.filter(_._3)
          .map(r => (r._1, r._2.slice(o, o + PqSubDims)))
          .sortBy(_._1)
        val trainSet = rows.filter(_._4)
          .map(_._2.slice(o, o + PqSubDims))
        Vec.kmeansTrainArrays(trainSet, seed, PqIters)
      }
    }

  private[graft] val IvfPqSalt = "ivfpq"

  /** IVFPQ residual codebooks (Jégou et al. 2011 §IV): the coarse
    * quantizer handles WHERE (q34's trained cells), PQ encodes the
    * RESIDUAL v − centroid(cell) — residuals cluster far tighter than
    * raw vectors, so the same 4×16-code budget spends its resolution
    * where the data actually is. Training: one bounded collect (seeds +
    * hash-sample), driver-side coarse assignment replaying the
    * distributed argmin exactly ([[graft.operators.VectorOps
    * .nearestCidLocal]]), float residuals, then M in-process Lloyd
    * chains on the sliced residual subvectors. */
  private def ivfpqBooks(s: SparkSession,
                         dir: String): Seq[Vec.LocalCentroids] =
    SessionMemo(Round, s, dir,
        s"ivfpq:$IvfCells:$PqM:$PqCodes:$PqIters") {
      val coarse = trainedCentroids(s, dir, IvfCells, IvfTrainIters)
      val byCid = coarse.toMap
      val rows = trainingRows(s, dir, IvfPqSalt, PqCodes)
      def residual(v: Array[Float]): Array[Float] = {
        val c = byCid(Vec.nearestCidLocal(v, coarse))
        Array.tabulate(v.length)(i => v(i) - c(i))
      }
      val res = rows.map(r => (r._1, residual(r._2), r._3, r._4))
      (0 until PqM).map { sub =>
        val o = sub * PqSubDims
        val seed = res.filter(_._3)
          .map(r => (r._1, r._2.slice(o, o + PqSubDims))).sortBy(_._1)
        val trainSet = res.filter(_._4).map(_._2.slice(o, o + PqSubDims))
        Vec.kmeansTrainArrays(trainSet, seed, PqIters)
      }
    }

  /** q171/q172 shared: every (query, candidate) pair ADC-scored and
    * ranked — codes via map-side per-subspace argmin, per-query distance
    * TABLES via [[graft.operators.VectorOps.distMapExpr]], scoring is M
    * map lookups + an add chain (no float vector math per pair), rank by
    * (adc_d2, neighbor_id). */
  private def pqAdcRanked(s: SparkSession, dir: String): DataFrame = {
    val books = pqCodebooks(s, dir)
    val e = emb(s, dir)
    def subVec(i: Int) =
      slice(col("embedding"), i * PqSubDims + 1, PqSubDims)
    val enc = e.select(col("vec_id") +: (0 until PqM).map(i =>
      Vec.nearestCellExpr(subVec(i), books(i)).as(s"code$i")): _*)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id") +: (0 until PqM).map(i =>
        Vec.distMapExpr(subVec(i), books(i)).as(s"__dt$i")): _*)
    val adc = (0 until PqM).map(i =>
      element_at(col(s"__dt$i"), col(s"code$i"))).reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2"), col("neighbor_id"))
    broadcast(q).join(enc, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adc.as("adc_d2"))
      .withColumn("rank", row_number().over(w))
  }

  /** q34/q49 shared: IVF-flat ANN with TRAINED centroids — seeds
    * (vec_id < cells) refined by `iters` Lloyd iterations
    * ([[graft.operators.VectorOps.kmeansTrain]], VERDICT r5 #1: the
    * k-means step is now IN the measured path, not beside it), vectors
    * assigned to the nearest trained centroid (broadcast O(N·K) map
    * pass), queries probe their `probes` nearest cells, exact cosine
    * within candidates only. The fixed iteration count keeps training
    * deterministic, so the oracle replays it CTE-for-CTE
    * (`OracleSql.sqlIvfTrainCtes`). */
  private def annIvf(s: SparkSession, dir: String, cells: Int = IvfCells,
                     probes: Int = IvfProbes): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cent = trainedCentroids(s, dir, cells, IvfTrainIters)
    // Assignment and probe selection are map-side EXPRESSIONS over the
    // driver-held centroids (nearestCellExpr/probeCellsExpr) — the only
    // shuffles left in the plan are the candidate join and the final
    // top-k window, vs. the previous crossJoin+argmin exchange per side.
    val asg = e.select(col("vec_id"), col("embedding"),
      Vec.nearestCellExpr(col("embedding"), cent).as("cell_id"))
    val probed = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"),
        explode(Vec.probeCellsExpr(col("embedding"), cent, probes))
          .as("cell_id"))
    val scored = asg.join(broadcast(probed), Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", Vec.cosine(col("__qv"), col("embedding")))
    R.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cosine").desc, col("vec_id")), 3, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cell_id"), col("rank"), col("cosine"))
  }

  /** Stopword list shared by q21 quality and q35 curation — the standard
    * English set ([[graft.operators.Lexicons.EnglishStopwords]]). */
  private val Stopwords = graft.operators.Lexicons.EnglishStopwords

  /** Marker features for q22 language ID (word, lang, weight): per-language
    * function-word cores + corpus-tuned discriminative markers
    * ([[graft.operators.Lexicons.LangMarkers]]). */
  private val langIdMarkers: Seq[(String, String, Long)] =
    graft.operators.Lexicons.LangMarkers


  /** The DuckDB twins of [[queries]] for the driver's correctness dir;
    * [[graft.oracle.OracleSql]] builds them for any corpus dir. */
  def oracleSql: Map[String, String] =
    graft.oracle.OracleSql("/root/testdata/sf0.01")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q01(spark, "/root/testdata/sf0.001")
}
