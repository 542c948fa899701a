package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality audit suite — the dbt-test / Great-Expectations shape
  * re-expressed as Spark plans: each check is a DataFrame of VIOLATING
  * rows (empty = healthy), and [[auditReport]] folds any number of checks
  * into one (check, n_violations) report.
  *
  * Reference behavior: the reference pipeline trusts its inputs after the
  * row-level cleanses (etl.py's dropna/validity filters); at 100 TB the
  * missing piece is the relational contract — orphaned FKs, duplicate
  * PKs, and null-rate regressions arrive silently from upstream loaders.
  * These checks make the contract executable.
  *
  * Scale posture: every check is a single anti-join or combinable
  * aggregate over the audited table — no collect, no cross join. The
  * report unions per-check 1-row COUNTS, so the driver materializes
  * O(checks) rows regardless of table size. Dimension-sized parents
  * (`region`, `nation`) broadcast; fact-sized parents (`orders` under
  * `lineitem`) shuffle on the key — exactly the plans the equivalent
  * manual queries would pick.
  */
object QualityOps {

  /** Rows of `child` whose `fk` has no match in `parent.pk` — referential
    * integrity violations. Null FKs are NOT orphans (SQL FK semantics:
    * null references are vacuously valid; flag them with [[nullRows]] if
    * the column is also NOT NULL). */
  def fkOrphans(child: DataFrame, fk: Column,
                parent: DataFrame, pk: Column): DataFrame =
    child.filter(fk.isNotNull)
      .join(parent.select(pk.as("__pk")), fk === col("__pk"), "left_anti")

  /** Key groups appearing more than once — primary-key/uniqueness
    * violations. One combinable count shuffle; output is one row per
    * DUPLICATED key (with its multiplicity), not per duplicate row. */
  def dupKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** Rows where `c` is null — NOT NULL violations. */
  def nullRows(df: DataFrame, c: Column): DataFrame = df.filter(c.isNull)

  /** Rows failing an arbitrary row-level expectation (range, regex,
    * cross-column). The predicate states what a HEALTHY row satisfies;
    * violations are rows where it is false OR null (SQL three-valued
    * logic would otherwise let null-valued rows slip through an audit —
    * a null price is not evidence the price is non-negative). */
  def expectViolations(df: DataFrame, healthy: Column): DataFrame =
    df.filter(!coalesce(healthy, lit(false)))

  /** Fold named violation frames into one (check, n_violations) report,
    * ordered by check name. Each frame collapses to a 1-row count before
    * the union, so the union is O(checks) rows; Spark runs the underlying
    * scans as independent stages of ONE job (shared scan subtrees are
    * reused by the exchange/subquery reuse rules). */
  def auditReport(checks: Seq[(String, DataFrame)]): DataFrame = {
    require(checks.nonEmpty, "auditReport needs at least one check")
    checks.map { case (name, bad) =>
      bad.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check"), col("n_violations"))
    }.reduce(_.unionByName(_)).orderBy(col("check"))
  }

  /** Equivalence classes violating k-anonymity: every combination of the
    * quasi-identifier columns shared by FEWER than k rows — the classes
    * whose members a release would re-identify (Sweeney's k-anonymity
    * frame; the privacy companion to the PII scrub, which removes direct
    * identifiers but cannot see quasi-identifier joins). Output is the
    * violating class (its quasi values) + its size; empty = the release
    * is k-anonymous at this k. One combinable count shuffle, output
    * bounded by class cardinality — never row-scale. */
  def kAnonymityViolations(df: DataFrame, quasi: Seq[Column],
                           k: Int): DataFrame =
    df.groupBy(quasi: _*)
      .agg(count(lit(1)).as("class_size"))
      .filter(col("class_size") < k)

  /** Deterministic salted pseudonymization: a keyed one-way token for an
    * identifier column — `substr(md5(salt || id), 1, width)`. The same
    * (salt, id) always maps to the same token, so FOREIGN-KEY JOINS
    * SURVIVE pseudonymization applied independently per table (the
    * property ad-hoc per-table scrambling destroys); rotating the salt
    * unlinks a release from every previous one. Map-side, codegen'd,
    * zero state — no lookup table to secure or replicate. Production
    * hardening swaps md5 for a keyed MAC; the dataflow is identical.
    * Width 16 hex chars = 64 bits: birthday-collision-safe to ~10^9
    * distinct ids (callers can verify with a distinct-count audit). */
  def pseudonymize(id: Column, salt: String, width: Int = 16): Column =
    substring(md5(concat(lit(salt), id.cast("string"))), 1, width)

  /** l-diversity census over the same equivalence-class frame as
    * [[kAnonymityViolations]]: per quasi-identifier block, l = the
    * number of DISTINCT sensitive values its members carry — k-anonymity
    * alone leaves a block re-identifiable by ATTRIBUTE when everyone in
    * it shares one sensitive value (the homogeneity attack l-diversity
    * exists to name). Censused by l (n_blocks, n_rows), so the l=1 row
    * IS the attribute-disclosure exposure. Two combinable shuffles
    * (classes expand by sensitive for the exact distinct, then the
    * block-cardinality census); output bounded by the sensitive-value
    * domain, never row-scale. */
  def lDiversityCensus(df: DataFrame, quasi: Seq[Column],
                       sensitive: Column): DataFrame =
    df.groupBy(quasi: _*)
      .agg(count(lit(1)).as("__n"),
        count_distinct(sensitive).as("l"))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("__n")).as("n_rows"))

  /** Curation-waterfall census — the ordered filter-funnel report every
    * corpus release ships: stage i's predicate is applied to stage
    * i−1's SURVIVORS, so each row answers "how many docs did THIS rule
    * remove, given everything before it already ran" (the q101 audit
    * reports rule hits independently; attribution of removals needs the
    * order). ONE corpus scan computes every stage flag; the ordered
    * cumulative AND is a map-side running conjunction over a ×stages
    * literal explode; one bounded aggregate (stages × nothing) follows.
    * Counts exact; survival_rate is one final division. */
  def curationWaterfall(df: DataFrame,
                        stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    val flagged = df.select(stages.map { case (n, c) =>
      when(c, 1L).otherwise(0L).as(s"__f_$n") }: _*)
    val rows = flagged.select(explode(array(stages.indices.map { i =>
      val before = stages.take(i).map(s => col(s"__f_${s._1}"))
        .foldLeft(lit(1L))((a, b) => a * b)
      val after = before * col(s"__f_${stages(i)._1}")
      struct(lit(i + 1).as("stage"), lit(stages(i)._1).as("rule"),
        before.as("n_in"), after.as("n_out"))
    }: _*)).as("__s"))
    rows.groupBy(col("__s.stage").as("stage"), col("__s.rule").as("rule"))
      .agg(sum(col("__s.n_in")).as("n_in"),
        sum(col("__s.n_out")).as("n_out"))
      .withColumn("n_removed", col("n_in") - col("n_out"))
      .withColumn("survival_rate",
        col("n_out").cast("double") / col("n_in").cast("double"))
  }

  /** Weak-supervision majority vote (the Snorkel label-model shape,
    * Ratner et al. 2017, arXiv:1711.10160, reduced to its deterministic
    * core): K labeling functions each emit a label or NULL (abstain);
    * a row's final label is the plurality of non-abstaining votes, ties
    * broken by the lexicographically smallest winning label, rows with
    * zero votes labeled NULL. Pure map-side expression — the vote
    * array folds per row, no shuffle until the caller aggregates. */
  def majorityVote(votes: Seq[Column]): Column = {
    require(votes.nonEmpty, "need at least one labeling function")
    val arr = array_compact(array(votes: _*))
    // per-row plurality: for each distinct candidate, its count; winner =
    // max (count, reverse-lex label) — all inside one expression tree.
    val cands = array_distinct(arr)
    val best = aggregate(cands,
      struct(lit(0L).as("c"), lit(null).cast("string").as("l")),
      (acc, cand) => {
        val c = size(filter(arr, v => v === cand)).cast("long")
        when(c > acc.getField("c") ||
          (c === acc.getField("c") && cand < acc.getField("l")),
          struct(c.as("c"), cand.as("l"))).otherwise(acc)
      })
    best.getField("l")
  }
}
