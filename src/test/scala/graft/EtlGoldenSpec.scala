package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{RelationalOps => R}
import graft.plans.EtlFlow
import graft.sources.{SinkOps, Sources}

/** End-to-end golden of the reference's flagship ETL (SURVEY.md §5), over
  * the FIXTURES.md A1/A2/A3 reference-shaped inputs: every final fact row
  * asserted against hand-computed values. This is the one test that
  * exercises the operators COMPOSED in the reference's order (C3→C2→F7,
  * population-before-join, etc. — crime_immigration_etl.py:277-311). */
class EtlGoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  // A4 lookups: in-memory pycountry / country_converter models.
  private lazy val nameLookup = Seq(
    ("germany", "Germany"), ("deu", "Germany"),
    ("france", "France"), ("spain", "Spain")).toDF("alias", "canonical_name")
  private lazy val iso2to3 = Seq(
    ("AT", "AUT"), ("DE", "DEU"), ("FR", "FRA"), ("ES", "ESP"))
    .toDF("iso2", "iso3")

  private lazy val (countryDim, populationFacts) = {
    val popByYear = Seq(2018, 2019).map { y =>
      y -> Sources.jsonEnvelopeRows(spark, fixture(s"population_$y.json"),
        EtlFlow.populationRowSchema)
    }
    val meta = Sources.jsonEnvelopeRows(spark, fixture("countries_meta.json"),
      EtlFlow.countryMetaSchema)
    EtlFlow.countryAndPopulation(popByYear, EtlFlow.aggregateCodes(meta),
      nameLookup)
  }

  test("S1: aggregate codes extracted from nested region struct") {
    val meta = Sources.jsonEnvelopeRows(spark, fixture("countries_meta.json"),
      EtlFlow.countryMetaSchema)
    assert(EtlFlow.aggregateCodes(meta).as[String].collect().sorted.toSeq ==
      Seq("EUU", "WLD"))
  }

  test("country dim: anti-filter, F4 struct predicate, J3 name fallback") {
    val rows = countryDim.as[(String, String)].collect().sortBy(_._1)
    // FRA: "La France" -> normalized miss -> ORIGINAL kept (ref :178)
    assert(rows.toSeq == Seq(("DEU", "Germany"), ("ESP", "Spain"),
      ("FRA", "La France")))
  }

  test("population facts: coercion, dropna, >0, half-even round, year window") {
    val rows = populationFacts.as[(Long, String, Int)].collect()
      .sortBy(r => (r._2, r._3))
    assert(rows.toSeq == Seq(
      (80000000L, "DEU", 2018), (81000000L, "DEU", 2019),
      (47000000L, "ESP", 2018), (47000000L, "ESP", 2019), // 46999999.6 -> half-even
      (67000000L, "FRA", 2018), (67500000L, "FRA", 2019)))
  }

  test("crime facts: header offset, 7-way slice, validity, bround ties") {
    val raw = Sources.csvWithHeaderOffset(spark, fixture("crime.csv"), 2)
    val rows = EtlFlow.crime(raw).as[(Double, String, Int)].collect()
      .sortBy(r => (r._2, r._3))
    assert(rows.toSeq == Seq(
      (123.46, "DEU", 2018), (110.12, "DEU", 2019), // 110.125 half-even tie
      (80.5, "ESP", 2019), (95.0, "FRA", 2018)))
  }

  test("S3: header offset drops every file's preamble in a directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_offset")
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.writeString(dir.resolve(name),
        lines.map(_ + "\n").mkString)
    write("a.csv", "Title line A", "Source: x", "country,year",
      "DEU,2018", "FRA,2019")
    // Columns in another order: the files' frames union by name.
    write("b.csv", "Title line B", "Source: y", "year,country", "2018,ESP")
    write("_SUCCESS")
    def read(p: String): Seq[(String, String)] =
      Sources.csvWithHeaderOffset(spark, p, 2)
        .select("country", "year").as[(String, String)].collect()
        .sorted.toSeq
    assert(read(dir.toString) ==
      Seq(("DEU", "2018"), ("ESP", "2018"), ("FRA", "2019")))
    assert(read(dir.resolve("b.csv").toString) == Seq(("ESP", "2018")))
  }

  test("immigration facts: ':' marker, ISO2->ISO3, join, per-100k rate") {
    val raw = Sources.csvAllString(spark, fixture("immigration.csv"))
    val rows = EtlFlow.immigration(raw, iso2to3, populationFacts)
      .as[(Double, String, Int)].collect().sortBy(r => (r._2, r._3))
    assert(rows.toSeq == Seq(
      (625.0, "DEU", 2018), (0.0, "DEU", 2019), // ":" -> 0
      (200.0, "ESP", 2018), (50.0, "ESP", 2019),
      (500.0, "FRA", 2018)))
  }

  test("J1 many-to-one validation holds on the population side") {
    assert(R.manyToOneViolations(populationFacts,
      Seq("country_iso3_id", "year_id")).isEmpty)
  }

  test("S6/A2: loadNoConflict is idempotent and conflict-skipping") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val path = s"$dir/facts"
    val keys = Seq("country_iso3_id", "year_id")
    val order = Seq(col("convicts_per_100000"))
    val batch1 = Seq((10.0, "DEU", 2018), (20.0, "FRA", 2018))
      .toDF("convicts_per_100000", "country_iso3_id", "year_id")

    SinkOps.loadNoConflict(spark, batch1, path, keys, order)
    val after1 = spark.read.parquet(path).as[(Double, String, Int)]
      .collect().sortBy(_._2)
    assert(after1.toSeq == Seq((10.0, "DEU", 2018), (20.0, "FRA", 2018)))

    // Re-running the SAME batch must not change the table (ON CONFLICT
    // DO NOTHING re-run semantics, ref :315-331).
    SinkOps.loadNoConflict(spark, batch1, path, keys, order)
    assert(spark.read.parquet(path).count() == 2)

    // Overlapping batch: existing key keeps its OLD row, new key appends;
    // in-batch duplicate resolves first-wins under `order`.
    val batch2 = Seq((99.0, "DEU", 2018), (30.0, "ESP", 2019),
      (31.0, "ESP", 2019)).toDF("convicts_per_100000", "country_iso3_id",
      "year_id")
    SinkOps.loadNoConflict(spark, batch2, path, keys, order)
    val after3 = spark.read.parquet(path).as[(Double, String, Int)]
      .collect().sortBy(_._2)
    assert(after3.toSeq == Seq((10.0, "DEU", 2018), (30.0, "ESP", 2019),
      (20.0, "FRA", 2018)))
  }

  test("S6/A2: loadNoConflict recovers an interrupted swap without data loss") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink2").toString
    val path = s"$dir/facts"
    val keys = Seq("country_iso3_id", "year_id")
    val order = Seq(col("convicts_per_100000"))
    val batch1 = Seq((10.0, "DEU", 2018), (20.0, "FRA", 2018))
      .toDF("convicts_per_100000", "country_iso3_id", "year_id")
    SinkOps.loadNoConflict(spark, batch1, path, keys, order)

    // Simulate a crash between the two swap renames: live table parked at
    // __old, nothing at the target path.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__old")))

    // The next load must restore the parked copy and then apply its own
    // conflict-skip against the RESTORED rows — batch1's keys survive.
    val batch2 = Seq((99.0, "DEU", 2018), (30.0, "ESP", 2019))
      .toDF("convicts_per_100000", "country_iso3_id", "year_id")
    SinkOps.loadNoConflict(spark, batch2, path, keys, order)
    val after = spark.read.parquet(path).as[(Double, String, Int)]
      .collect().sortBy(_._2)
    assert(after.toSeq == Seq((10.0, "DEU", 2018), (30.0, "ESP", 2019),
      (20.0, "FRA", 2018)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__old")))
  }

  test("applyCdc round-trips a snapshot diff: apply(v1, diff(v1,v2)) == v2," +
    " and re-applying is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val path = s"$dir/snap"
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "payload")
    // v2: id 2 changed, id 3 removed, id 5 added
    val v2 = Seq((1L, "a"), (2L, "B!"), (4L, "d"), (5L, "e"))
      .toDF("id", "payload")
    v1.write.parquet(path)
    // the diff a q58-style compare would emit: upserts carry the NEW
    // payload (changed + added), deletes carry only the key
    val diff = Seq((2L, "B!", "upsert"), (5L, "e", "upsert"),
      (3L, null.asInstanceOf[String], "delete"))
      .toDF("id", "payload", "op")
    SinkOps.applyCdc(spark, diff, path, Seq("id"), "op")
    def snap(): Seq[(Long, String)] =
      spark.read.parquet(path).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(snap() == v2.as[(Long, String)].collect().sortBy(_._1).toSeq)
    // idempotent: a crashed-and-retried apply converges
    SinkOps.applyCdc(spark, diff, path, Seq("id"), "op")
    assert(snap() == v2.as[(Long, String)].collect().sortBy(_._1).toSeq)
    // unchanged rows were never rewritten incorrectly
    assert(snap().contains((1L, "a")) && snap().contains((4L, "d")))
    // an op outside {upsert, delete} (or NULL) must fail fast, not
    // silently delete the touched key
    for (badOp <- Seq("UPSERT", "update", null)) {
      val bad = Seq((1L, "x", badOp)).toDF("id", "payload", "op")
      intercept[IllegalArgumentException] {
        SinkOps.applyCdc(spark, bad, path, Seq("id"), "op")
      }
      assert(snap().contains((1L, "a"))) // snapshot untouched
    }
  }

  test("applyCdc refuses a feed with two rows for one key, or a NULL key," +
    " and leaves the snapshot untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_keys").toString
    val path = s"$dir/snap"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
    v1.write.parquet(path)
    def snap(): Seq[(Long, String)] =
      spark.read.parquet(path).as[(Long, String)].collect().sortBy(_._1).toSeq
    // Applied, both upserts would land: id 2 twice in the table.
    val twice = Seq((2L, "x", "upsert"), (2L, "y", "upsert"),
      (3L, "c", "upsert")).toDF("id", "payload", "op")
    val dup = intercept[IllegalArgumentException] {
      SinkOps.applyCdc(spark, twice, path, Seq("id"), "op")
    }
    assert(dup.getMessage.contains("key (id=2) appears 2 times"),
      dup.getMessage)
    val nullKey = Seq((null.asInstanceOf[java.lang.Long], "z", "upsert"))
      .toDF("id", "payload", "op")
    val nul = intercept[IllegalArgumentException] {
      SinkOps.applyCdc(spark, nullKey, path, Seq("id"), "op")
    }
    assert(nul.getMessage.contains("key (id=null) has a NULL component"),
      nul.getMessage)
    assert(snap() == Seq((1L, "a"), (2L, "b")))
  }

  test("compact: many small files -> few, content read-invisible, rerun no-op") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val path = s"$dir/t"
    // 32 tiny files
    (1L to 256L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(32).write.parquet(path)
    val before = spark.read.parquet(path)
      .as[(Long, String)].collect().sorted.toSeq
    val (b, a) = SinkOps.compact(spark, path, targetBytes = 1L << 30)
    assert(b == 32 && a == 1, s"expected 32 -> 1 files, got $b -> $a")
    val after = spark.read.parquet(path)
      .as[(Long, String)].collect().sorted.toSeq
    assert(after == before) // read-invisible
    // already compact: no rewrite
    assert(SinkOps.compact(spark, path, targetBytes = 1L << 30) == ((1, 1)))
  }
}
