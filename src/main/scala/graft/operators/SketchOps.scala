package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable sketches with EXACT cross-engine parity. Spark's built-in
  * sketches (HLL++ `approx_count_distinct`, KLL `percentile_approx`) are
  * covered by accuracy specs (ApproxSpec) because their binary states
  * differ across engines; the Count-Min Sketch here is pure deterministic
  * integer arithmetic on md5-prefix hashes, so a DuckDB oracle reproduces
  * every counter bit-for-bit — a sketch whose CONSTRUCTION is itself
  * oracle-checkable, not just its error bound.
  *
  * Scale posture: the sketch build is one explode (×`depth`) feeding a
  * partial-aggregable groupBy — the shuffle carries at most depth×width
  * counter rows regardless of corpus size, and two corpus halves' sketches
  * merge by adding counters (the reason CMS exists). Point queries touch
  * `depth` rows of a depth×width table. Standard estimate guarantees:
  * overestimates only, error ≤ 2N/width with prob 1-(1/2)^depth. */
object SketchOps {

  /** The `depth` bucket ids of one item: salted md5-prefix hashes mod
    * `width` — row i uses salt "cms{i}:". Deterministic and engine-
    * independent (the oracle computes identical buckets). */
  def cmsBuckets(item: Column, depth: Int, width: Int): Column =
    array((0 until depth).map(i =>
      pmod(TextOps.hash32(concat(lit(s"cms$i:"), item)), lit(width))): _*)

  /** Build the depth×width counter table over an item column: one row per
    * (row_id, bucket) with its count. ONE corpus scan (the depth hashes
    * explode from an array, not from repeated scans), one combinable
    * shuffle bounded by depth×width rows. */
  def cmsBuild(df: DataFrame, item: Column, depth: Int, width: Int)
  : DataFrame =
    df.select(posexplode(cmsBuckets(item, depth, width))
        .as(Seq("row_id", "bucket")))
      .groupBy(col("row_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Point-query estimates for `probes` (a DataFrame with an item column
    * named `probeCol`): min over the depth counters — missing counters
    * read as 0 (an item never inserted can still collide, so the
    * coalesce keeps the estimate an overestimate, never null). */
  def cmsQuery(sketch: DataFrame, probes: DataFrame, probeCol: String,
               depth: Int, width: Int): DataFrame = {
    val keyed = probes
      .select(col(probeCol),
        posexplode(cmsBuckets(col(probeCol), depth, width))
          .as(Seq("row_id", "bucket")))
    keyed.join(sketch, Seq("row_id", "bucket"), "left")
      .groupBy(col(probeCol))
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_estimate"))
  }

  // ------------------------------------ histogram quantile calibration

  /** Fixed-grid histogram quantile estimates NEXT TO the exact quantiles
    * they approximate — the quantile-sketch twin of the q132 MinHash and
    * q49 ANN calibrations. The estimator is the mergeable production
    * path at 100 TB: per-group [min,max] extent (one combinable pass),
    * `buckets` equal-width bin counts (a second combinable pass whose
    * shuffle is bounded by groups×buckets rows — histograms from
    * disjoint shards ADD, like the CMS counters), then for each
    * nearest-rank target t = ceil(q·n) a linear interpolation inside the
    * covering bin. The exact side sorts each group's values ONCE
    * (row_number window) and evaluates the same interpolated-rank
    * definition as DuckDB's quantile_cont — but with OUR OWN fixed op
    * sequence in both engines (v0 + (v1−v0)·frac, frac = q·(n−1) −
    * (r0−1)), so the comparison never leans on two engines' internal
    * percentile kernels agreeing bitwise. Exact side is the calibration
    * baseline ONLY — at 100 TB you ship the histogram and this report is
    * how you size `buckets`.
    *
    * Output: one row per (group, q): n, the bin estimate, the exact
    * quantile, and |est − exact| — every value either an exact long or a
    * fixed-sequence double. */
  def histQuantileCalibration(df: DataFrame, group: Column, value: Column,
                              buckets: Int, qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = df.select(group.as("grp"), value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val ext = v.groupBy(col("grp")).agg(min(col("__v")).as("__lo"),
      max(col("__v")).as("__hi"), count(lit(1)).as("n"))
    val hist = v.join(broadcast(ext), Seq("grp"))
      .select(col("grp"),
        when(col("__hi") === col("__lo"), lit(0))
          .otherwise(least(
            floor(((col("__v") - col("__lo")) / (col("__hi") - col("__lo")))
              * buckets),
            lit((buckets - 1).toLong))).cast("int").as("__b"))
      .groupBy(col("grp"), col("__b")).agg(count(lit(1)).as("__c"))
    val wb = Window.partitionBy(col("grp")).orderBy(col("__b"))
    val cum = hist.withColumn("__cum", sum(col("__c")).over(wb))
      .withColumn("__cumb", col("__cum") - col("__c"))
    // Per (group, q) targets: nearest-rank t for the histogram walk and
    // the interpolated rank pair (r0, r0+1, frac) for the exact side.
    val qlit = explode(array(qs.map(lit): _*)).as("q")
    val targets = ext.select(col("grp"), col("__lo"), col("__hi"),
        col("n"), qlit)
      .withColumn("__t", greatest(ceil(col("q") * col("n")), lit(1L)))
      .withColumn("__pos", col("q") * (col("n") - 1) + 1)
      .withColumn("__r0", floor(col("__pos")).cast("long"))
      .withColumn("__frac", col("__pos") - col("__r0"))
      .withColumn("__r1", least(col("__r0") + 1, col("n")))
    val est = targets.join(cum, Seq("grp"))
      .filter(col("__cumb") < col("__t") && col("__t") <= col("__cum"))
      .select(col("grp"), col("q"), col("n"), col("__lo"), col("__hi"),
        col("__r0"), col("__r1"), col("__frac"),
        (col("__lo") + (((col("__b") +
          ((col("__t") - col("__cumb")).cast("double") /
            col("__c").cast("double"))) *
          (col("__hi") - col("__lo"))) / buckets)).as("hist_est"))
    val wr = Window.partitionBy(col("grp")).orderBy(col("__v"))
    val rk = v.withColumn("__r", row_number().over(wr).cast("long"))
    val v0 = rk.select(col("grp").as("__g0"), col("__r").as("__rr0"),
      col("__v").as("__v0"))
    val v1 = rk.select(col("grp").as("__g1"), col("__r").as("__rr1"),
      col("__v").as("__v1"))
    est
      .join(v0, col("grp") === col("__g0") && col("__r0") === col("__rr0"))
      .join(v1, col("grp") === col("__g1") && col("__r1") === col("__rr1"))
      .withColumn("exact_q",
        col("__v0") + ((col("__v1") - col("__v0")) * col("__frac")))
      .select(col("grp"), col("q"), col("n"), col("hist_est"),
        col("exact_q"),
        abs(col("hist_est") - col("exact_q")).as("abs_err"))
  }
}
