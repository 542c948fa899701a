package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CatalogOps

/** S7 spec: catalog DDL, year-dim seed, and the constraint-check queries
  * standing in for the reference DDL's UNIQUE/FK constraints. */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val db = "graft_test_star"

  test("S7: star schema DDL + year seed + constraint checks") {
    CatalogOps.createStarSchema(spark, db)
    CatalogOps.seedYearDim(spark, db)
    assert(spark.table(s"$db.year").as[Int].collect().sorted.toSeq ==
      Seq(2018, 2019, 2020, 2021, 2022))

    // load country + a fact with one FK violation and one dup key
    Seq(("DEU", "Germany"), ("FRA", "France"))
      .toDF("country_iso3_id", "country_name")
      .write.mode("append").insertInto(s"$db.country")
    Seq((BigDecimal("10.00"), "DEU", 2018),
      (BigDecimal("11.00"), "DEU", 2018),   // duplicate (DEU, 2018)
      (BigDecimal("12.00"), "XXX", 2019),   // FK violation: no country XXX
      (BigDecimal("13.00"), "FRA", 2030))   // FK violation: no year 2030
      .toDF("convicts_per_100000", "country_iso3_id", "year_id")
      .write.mode("append").insertInto(s"$db.crime")

    val dups = CatalogOps.uniqueKeyViolations(spark, db, "crime").collect()
    assert(dups.length == 1 &&
      dups.head.getString(0) == "DEU" && dups.head.getInt(1) == 2018)

    val fks = CatalogOps.fkViolations(spark, db, "crime")
      .select("country_iso3_id", "year_id")
      .as[(String, Int)].collect().sorted
    assert(fks.toSeq == Seq(("FRA", 2030), ("XXX", 2019)))

    // idempotent recreate (DROP IF EXISTS ... CREATE)
    CatalogOps.createStarSchema(spark, db)
    assert(spark.table(s"$db.crime").count() == 0)
  }

  test("co-bucketed fact-fact join runs with ZERO exchanges") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    CatalogOps.writeBucketed(Tables(spark, sf, "orders"),
      db, "orders_b", Seq("o_orderkey"), 4, Seq("o_orderkey"))
    CatalogOps.writeBucketed(Tables(spark, sf, "lineitem"),
      db, "lineitem_b", Seq("l_orderkey"), 4, Seq("l_orderkey"))
    // force the join path (tiny tables would broadcast otherwise)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table(s"$db.orders_b")
        .join(spark.table(s"$db.lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val f = j.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(!f.contains("Exchange"),
        s"bucketed join + same-key agg must be exchange-free:\n$f")
      assert(j.limit(5).collect().nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucket PRUNING: an equality predicate on the bucket key reads " +
    "one bucket, not the table (VERDICT r6 #7)") {
    import org.apache.spark.sql.functions._
    // Completes the write-once-shuffle story: bucketing doesn't just
    // co-locate joins, it lets a point lookup skip (buckets-1)/buckets
    // of the files AT THE SCAN. Reuses the co-bucketed table from the
    // join test (4 buckets, keyed on o_orderkey).
    val key = spark.table(s"$db.orders_b")
      .agg(min(col("o_orderkey"))).head.getLong(0)
    // autoBucketedScan hides the bucketed form (and its pruning counter)
    // on join-free queries; pin it on so the plan EXHIBITS the pruning
    // (the same file skipping FileSourceStrategy logs either way).
    val prev = spark.conf
      .get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    try {
      spark.conf
        .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val q = spark.table(s"$db.orders_b").filter(col("o_orderkey") === key)
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 4"),
        s"expected a 1-of-4 bucket-pruned scan:\n$p")
      // pruning is result-invisible vs the unbucketed source
      val expected = Tables(spark, "/root/testdata/sf0.001", "orders")
        .filter(col("o_orderkey") === key).count()
      assert(expected > 0 && q.count() == expected)
    } finally spark.conf
      .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
  }

  test("dropStaleArtifacts evicts dir-hash tables of dead corpora and " +
    "keeps the live corpus and non-artifact tables") {
    val hdb = "graft_test_hygiene"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $hdb")
    val live = "/tmp/corpus_live"
    val dead = "/tmp/corpus_dead"
    def mk(name: String): Unit =
      Seq((1L, "x")).toDF("k", "v").write.mode("overwrite")
        .saveAsTable(s"$hdb.$name")
    val liveT = s"docterms1_${CatalogOps.dirHash(live)}"
    val deadT1 = s"docterms1_${CatalogOps.dirHash(dead)}"
    val deadT2 = s"copurchase_sym_${CatalogOps.dirHash(dead)}"
    val unrelated = "rollup_sales" // no artifact prefix — never touched
    Seq(liveT, deadT1, deadT2, unrelated).foreach(mk)
    val dropped = CatalogOps.dropStaleArtifacts(spark, hdb, Seq(live),
      Seq("copurchase_sym_", "docterms1_", "docterms3_"))
    assert(dropped == 2, s"expected 2 stale drops, got $dropped")
    val left = spark.catalog.listTables(hdb).collect().map(_.name).toSet
    assert(left.contains(liveT), "live-corpus artifact must survive")
    assert(left.contains(unrelated), "non-artifact tables must survive")
    assert(!left.contains(deadT1) && !left.contains(deadT2),
      s"stale artifacts must be dropped, left: $left")
    // Idempotent: a second sweep finds nothing.
    assert(CatalogOps.dropStaleArtifacts(spark, hdb, Seq(live),
      Seq("copurchase_sym_", "docterms1_", "docterms3_")) == 0)
    // A database that does not exist is a no-op, not an error.
    assert(CatalogOps.dropStaleArtifacts(spark, "graft_test_nodb",
      Seq(live), Seq("docterms1_")) == 0)
    spark.sql(s"DROP DATABASE $hdb CASCADE")
  }

  test("SparkEntry.dropStaleArtifacts sweeps dead-corpus EXPORT dirs " +
    "(and pre-r12 fixed-path dumps) while keeping the live corpus's") {
    // Mutual exclusion with Verify/Bench (VERDICT r14 #6): the grace-0
    // sweeps below are exactly the q338 dev-time race — they would
    // delete a concurrent harness JVM's live export dumps mid-compare.
    // Fail FAST with a diagnosis instead of corrupting its run. (The
    // lock is JVM-lifetime by design: once any suite swept, the whole
    // test process stays exclusive with Verify/Bench.)
    assert(HarnessLock.tryAcquire("sbt-test CatalogSpec sweep"),
      "another graft harness process (Verify/Bench) holds the harness " +
        "lock — a grace-0 export sweep here would delete its live " +
        "dumps; re-run the test suite after it exits")
    // The filesystem twins of the warehouse-table sweep (VERDICT r11
    // #7): q186/q197/q337/q338 dumps are /tmp/<base>_<dirHash(dir)>.
    val live = "/root/testdata/sf0.001"
    // A swept corpus's session entries go with its dumps: after a sweep
    // that deletes sf0.001's ORC export, q337 on sf0.001 rebuilds the
    // export and returns the same rows instead of reading a deleted
    // path.
    def q337 = scala.util.Try(SparkEntry.queries("q337_orc_roundtrip")(
      spark, live).collect().map(_.toString).sorted.toSeq)
    val q337Before = q337
    assert(q337Before.isSuccess && q337Before.get.nonEmpty)
    SparkEntry.dropStaleArtifacts(spark, Seq("/root/testdata/sf0.01"),
      exportGraceMs = 0L)
    assert(q337 == q337Before,
      "a swept corpus must rebuild its export, not serve the deleted path")
    val liveHash = CatalogOps.dirHash(live)
    val deadHash = CatalogOps.dirHash("/tmp/corpus_gone")
    def mk(p: String): java.io.File = {
      val d = new java.io.File(p)
      d.mkdirs()
      java.nio.file.Files.writeString(d.toPath.resolve("part-0"), "x")
      d
    }
    val keep = mk(s"/tmp/graft_orc_export_$liveHash")
    val drop1 = mk(s"/tmp/graft_orc_export_$deadHash")
    val drop2 = mk(s"/tmp/graft_evo_parquet_$deadHash.staging")
    val drop3 = mk("/tmp/graft_ndjson_feed") // pre-r12 fixed path
    val unrelated = mk("/tmp/graft_unrelated_dir")
    try {
      // Grace period (ADVICE r12): a just-written stale-looking dir may
      // belong to a concurrently running JVM serving another corpus — a
      // default-grace sweep must leave it alone...
      SparkEntry.dropStaleArtifacts(spark, Seq(live))
      assert(drop1.exists(),
        "recently-modified export must survive the default grace window")
      // ...and only an aged-out dir is fair game (grace 0 = everything
      // has aged out, the pre-r12 behavior).
      SparkEntry.dropStaleArtifacts(spark, Seq(live), exportGraceMs = 0L)
      assert(keep.exists(), "live-corpus export must survive")
      assert(!drop1.exists(), "dead-corpus export must be swept")
      assert(!drop2.exists(), "orphaned staging dir must be swept")
      assert(!drop3.exists(), "pre-r12 fixed-path dump must be swept")
      assert(unrelated.exists(), "non-export dirs are never touched")
      // A dir-switch leaves exactly one live generation: sweeping for a
      // DIFFERENT corpus drops the previously-live export too.
      SparkEntry.dropStaleArtifacts(spark, Seq("/root/testdata/sf0.01"),
        exportGraceMs = 0L)
      assert(!keep.exists(), "dir switch must evict the old corpus's export")
    } finally {
      Seq(keep, drop1, drop2, drop3, unrelated).foreach { d =>
        if (d.exists()) {
          Option(d.listFiles()).foreach(_.foreach(_.delete()))
          d.delete()
        }
      }
    }
  }

  test("materialized rollup serves coarser aggregations exactly") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val orders = Tables(spark, sf, "orders")
      .withColumn("order_year", year(col("o_orderdate")))
    CatalogOps.createRollup(spark, orders, db, "orders_rollup",
      dims = Seq("order_year", "o_orderpriority"),
      measures = Map("price" -> col("o_totalprice")))
    // coarser GROUP BY (year only) served from the rollup...
    val served = CatalogOps.fromRollup(spark, db, "orders_rollup",
        Seq("order_year"), Seq("price"))
      .select(col("order_year"), col("sum_price").cast("double"),
        col("n_rows"))
      .as[(Int, Double, Long)].collect().toSet
    // ...must equal the direct fact-table aggregation, exactly
    val direct = orders.groupBy(col("order_year"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)"))
        .cast("double").as("s"), count(lit(1)).as("n"))
      .as[(Int, Double, Long)].collect().toSet
    assert(served == direct)
    // and the rollup is much smaller than the fact table
    assert(spark.table(s"$db.orders_rollup").count() < orders.count() / 10)
  }
}
