package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{avg, col, count, count_distinct, lit}
import org.apache.spark.sql.types._

import graft.plans.EtlFlow
import graft.sources.{SinkOps, Sources}

/** The reference ETL end to end over the inputs `perfbench/etlgen.py`
  * generates for the seed: extract the World-Bank pages, the UN crime CSV
  * and the Eurostat CSV; transform them with the three `EtlFlow` stages;
  * load the star schema with `SinkOps.loadNoConflict`; load an overlapping
  * second delivery, apply a correction feed, compact, and read the tables
  * back with the report's two analyses.
  *
  * Each extract and transform step is materialised (persisted and counted)
  * so its cost lands on its own operation instead of on the load that
  * would otherwise run it lazily. */
final class EtlWorkload extends Workload {
  import EtlWorkload._

  private var expected: Map[String, Long] = Map.empty
  private var truth: Map[String, String] = Map.empty
  private val stats = mutable.ArrayBuffer.empty[Map[String, Double]]

  def prepare(spark: SparkSession, a: Main.Args, rec: Recorder,
              golden: Map[String, String]): Unit =
    expected = JsonIO.read(s"${a.etlIn}/expected.json").map { case (k, v) =>
      k -> v.asInstanceOf[Number].longValue }

  /** Digests of the generator's ground truth: each final table and the two
    * analyses run over those tables. Computed once, outside any pass. */
  private def truthDigests(spark: SparkSession, in: String): Map[String, String] = {
    if (truth.isEmpty) {
      val t = Tables.map { case (name, (schema, _, _)) =>
        name -> spark.read.schema(schema).json(s"$in/truth/$name.jsonl") }
      truth = digests(t) ++ analyses(t).map { case (k, df) => k -> Digest.of(df) }
    }
    truth
  }

  private final case class Raw(popByYear: Seq[(Int, DataFrame)],
                               meta: DataFrame, crime: DataFrame,
                               immigration: DataFrame, names: DataFrame,
                               iso: DataFrame)

  /** Persists `frames` and materialises them all in one job; returns the
    * pinned frames and their row counts. */
  private def pin(frames: Seq[(String, DataFrame)],
                  persisted: mutable.Buffer[DataFrame]): Map[String, (DataFrame, Long)] = {
    val pinned = frames.map { case (k, df) => k -> df.persist() }
    persisted ++= pinned.map(_._2)
    val counts = pinned.map { case (k, df) => df.select(lit(k).as("k")) }
      .reduce(_ unionByName _).groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    pinned.map { case (k, df) => k -> (df, counts.getOrElse(k, 0L)) }.toMap
  }

  /** Reads and pins the first delivery's source files. */
  private def extract(spark: SparkSession, in: String,
                      persisted: mutable.Buffer[DataFrame]): (Raw, Map[String, Long]) = {
    val years = new File(s"$in/d1/pop").list().toSeq.sorted
      .map(_.stripPrefix("y").toInt)
    val p = pin(years.map(y => s"pop$y" -> Sources.jsonEnvelopeRows(spark,
      s"$in/d1/pop/y$y", EtlFlow.populationRowSchema)) ++ Seq(
      "meta" -> Sources.jsonEnvelopeRows(spark, s"$in/meta",
        EtlFlow.countryMetaSchema),
      "crime" -> Sources.csvWithHeaderOffset(spark, s"$in/d1/crime.csv", 2),
      "immigration" -> Sources.csvAllString(spark, s"$in/d1/immigration.csv"),
      "names" -> Sources.csv(spark, s"$in/lookups/names.csv", NameLookup),
      "iso" -> Sources.csv(spark, s"$in/lookups/iso2to3.csv", IsoLookup)),
      persisted)
    (Raw(years.map(y => y -> p(s"pop$y")._1), p("meta")._1, p("crime")._1,
      p("immigration")._1, p("names")._1, p("iso")._1),
      Map("rows.d1.pop" -> years.map(y => p(s"pop$y")._2).sum,
        "rows.d1.crime" -> p("crime")._2,
        "rows.d1.immigration" -> p("immigration")._2,
        "rows.meta" -> p("meta")._2, "rows.names" -> p("names")._2,
        "rows.iso" -> p("iso")._2))
  }

  private def checkCounts(got: Map[String, Long]): Boolean =
    got.forall { case (k, n) =>
      val ok = expected.get(k).contains(n)
      if (!ok) System.err.println(
        s"[perfbench] etl $k: got $n rows, generator predicts ${expected.get(k)}")
      ok
    }

  def pass(spark: SparkSession, a: Main.Args, rec: Recorder,
           golden: Map[String, String], index: Int, span: Int): Unit = {
    val in = a.etlIn
    val star = s"${a.work}/star/p$index"
    val fs = new Path(star).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(star), true)
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    var written = (0L, 0L)
    def loadAll(t: Map[String, DataFrame]): Unit = {
      Tables.foreach { case (name, (_, keys, order)) =>
        SinkOps.loadNoConflict(spark, t(name), s"$star/$name", keys, order) }
      written = plus(written, footprint(star))
    }
    def op(kind: String, name: String)(body: Int => Boolean): Boolean =
      rec.op(spark, index, span, kind, name)(body)

    var raw1: Raw = null
    op("extract", "delivery1") { id =>
      val (r, n) = rec.phase(id, "action")(extract(spark, in, persisted))
      raw1 = r
      checkCounts(n)
    }
    var popOut: (DataFrame, DataFrame) = null
    op("transform", "population") { id =>
      rec.phase(id, "action") {
        val (dim, pop) = EtlFlow.countryAndPopulation(raw1.popByYear,
          EtlFlow.aggregateCodes(raw1.meta), raw1.names)
        val t = pin(Seq("xf.d1.dim_country" -> dim,
          "xf.d1.fact_population" -> pop), persisted)
        popOut = (t("xf.d1.dim_country")._1, t("xf.d1.fact_population")._1)
        checkCounts(t.map { case (k, (_, n)) => k -> n })
      }
    }
    var crime1: DataFrame = null
    op("transform", "crime") { id =>
      rec.phase(id, "action") {
        val (c, n) = pin(Seq("c" -> EtlFlow.crime(raw1.crime)), persisted)("c")
        crime1 = c
        checkCounts(Map("xf.d1.fact_crime" -> n))
      }
    }
    var imm1: DataFrame = null
    op("transform", "immigration") { id =>
      rec.phase(id, "action") {
        val (i, n) = pin(Seq("i" -> EtlFlow.immigration(raw1.immigration,
          raw1.iso, popOut._2)), persisted)("i")
        imm1 = i
        checkCounts(Map("xf.d1.fact_immigration" -> n))
      }
    }
    op("load", "delivery1") { id =>
      rec.phase(id, "action")(loadAll(Map("dim_country" -> popOut._1,
        "fact_population" -> popOut._2, "fact_crime" -> crime1,
        "fact_immigration" -> imm1)))
      true
    }
    // The second delivery goes straight from its sources into the load; only
    // its population facts, which the immigration stage reads too, are pinned.
    var second: Map[String, DataFrame] = Map.empty
    op("reload", "delivery2") { id =>
      rec.phase(id, "action") {
        val years = new File(s"$in/d2/pop").list().toSeq.sorted
          .map(_.stripPrefix("y").toInt)
        val (dim, pop) = EtlFlow.countryAndPopulation(
          years.map(y => y -> Sources.jsonEnvelopeRows(spark, s"$in/d2/pop/y$y",
            EtlFlow.populationRowSchema)),
          EtlFlow.aggregateCodes(raw1.meta), raw1.names)
        val p = pop.persist()
        persisted += p
        second = Map("dim_country" -> dim, "fact_population" -> p,
          "fact_crime" -> EtlFlow.crime(
            Sources.csvWithHeaderOffset(spark, s"$in/d2/crime.csv", 2)),
          "fact_immigration" -> EtlFlow.immigration(
            Sources.csvAllString(spark, s"$in/d2/immigration.csv"), raw1.iso, p))
        loadAll(second)
      }
      true
    }
    // Re-applying a delivery must change nothing. Checked once per run, in
    // the first pass, as it is a property of the load, not of the data.
    if (index == 1) {
      val before = tableDigests(spark, star)
      op("check", "redelivery_leaves_tables_unchanged") { _ =>
        loadAll(second)
        val same = tableDigests(spark, star) == before
        if (!same) System.err.println(
          "[perfbench] etl: re-applying delivery 2 changed the tables")
        same
      }
    }
    op("cdc", "crime_corrections") { id =>
      rec.phase(id, "action") {
        SinkOps.applyCdc(spark, Sources.csv(spark, s"$in/cdc/crime.csv", CdcFeed),
          s"$star/fact_crime", Tables("fact_crime")._2, "op")
      }
      written = plus(written, footprint(s"$star/fact_crime"))
      true
    }
    op("compact", "star") { id =>
      rec.phase(id, "action") {
        Tables.keys.foreach { name =>
          val (before, after) = SinkOps.compact(spark, s"$star/$name")
          if (after < before) written = plus(written, footprint(s"$star/$name"))
        }
      }
      true
    }
    val want = truthDigests(spark, in)
    val loaded = Tables.map { case (name, _) =>
      name -> spark.read.parquet(s"$star/$name") }
    for (_ <- 1 to ReadbackReps; (name, df) <- analyses(loaded)) {
      op("readback", name) { id =>
        val d = Digest.frame(df)
        rec.phase(id, "plan")(d.queryExecution.executedPlan)
        val got = Digest.render(rec.phase(id, "action")(d.collect()(0)))
        val ok = want.get(name).contains(got)
        if (!ok) System.err.println(
          s"[perfbench] etl $name digest $got, ground truth ${want.get(name)}")
        ok
      }
    }
    op("check", "tables_match_ground_truth") { _ =>
      tableDigests(spark, star).forall { case (name, got) =>
        val ok = want.get(name).contains(got)
        if (!ok) System.err.println(
          s"[perfbench] etl table $name digest $got, ground truth ${want.get(name)}")
        ok
      }
    }
    op("check", "keys_unique_and_referenced") { _ =>
      val dim = loaded("dim_country")
      val dups = Tables.map { case (name, (_, keys, _)) =>
        loaded(name).agg(count(lit(1)) - count_distinct(col(keys.head),
          keys.tail.map(col): _*)).select(lit(name).as("t"), col("*"))
      }.reduce(_ union _)
      val orphans = Tables.keys.filter(_ != "dim_country").map { name =>
        loaded(name).join(dim, Seq("country_iso3_id"), "left_anti")
          .agg(count(lit(1))).select(lit(name).as("t"), col("*"))
      }.reduce(_ union _)
      val bad = (dups.collect() ++ orphans.collect()).filter(_.getLong(1) != 0)
      bad.foreach(r => System.err.println(
        s"[perfbench] etl ${r.getString(0)}: ${r.getLong(1)} duplicate or " +
          "unreferenced keys"))
      bad.isEmpty
    }
    val factRows = Seq("fact_population", "fact_crime", "fact_immigration")
      .map(loaded(_).count()).sum
    val starBytes = footprint(star)._2
    def opS(kind: String, name: String): Double = rec.ops
      .filter(o => o.pass == index && o.kind == kind && o.name == name)
      .map(_.ms).sum / 1e3
    val extractToLoad = opS("extract", "delivery1") + opS("load", "delivery1") +
      Seq("population", "crime", "immigration").map(opS("transform", _)).sum
    val raw = expected("raw.d1").toDouble
    stats += Map("pass" -> index.toDouble,
      "rows_per_s" -> raw / extractToLoad,
      "bytes_per_row" -> starBytes.toDouble / factRows,
      "rows_kept_ratio" -> factRows.toDouble /
        (expected("raw.d1") + expected("raw.d2")),
      "files_written" -> written._1.toDouble,
      "bytes_written" -> written._2.toDouble)
    persisted.foreach(_.unpersist(blocking = true))
    fs.delete(new Path(star), true)
  }

  /** Correctness checks are not part of the timed pass. */
  override def timedOps(rec: Recorder, index: Int): Seq[Recorder#Op] =
    rec.ops.filter(o => o.pass == index && o.kind != "check").toSeq

  override def extra: Map[String, Any] = Map("etl" -> stats.toSeq)

  /** Table digests over the columns in schema order, in one job: a table
    * is read by column name, and `SinkOps.applyCdc` writes its key columns
    * first. */
  private def digests(tables: Map[String, DataFrame]): Map[String, String] =
    tables.map { case (name, df) =>
      Digest.frame(df.select(Tables(name)._1.fieldNames.toIndexedSeq.map(col): _*))
        .withColumn("table", lit(name))
    }.reduce(_ unionByName _).collect()
      .map(r => r.getString(2) -> Digest.render(r)).toMap

  private def tableDigests(spark: SparkSession, star: String): Map[String, String] =
    digests(Tables.map { case (name, _) =>
      name -> spark.read.parquet(s"$star/$name") })

  private def plus(a: (Long, Long), b: (Long, Long)) = (a._1 + b._1, a._2 + b._2)
}

object EtlWorkload {
  /** Read-back repetitions of each analysis per pass. */
  val ReadbackReps = 5

  val NameLookup: StructType = StructType(Seq(
    StructField("alias", StringType), StructField("canonical_name", StringType)))
  val IsoLookup: StructType = StructType(Seq(
    StructField("iso2", StringType), StructField("iso3", StringType)))
  val CdcFeed: StructType = StructType(Seq(
    StructField("convicts_per_100000", DoubleType),
    StructField("country_iso3_id", StringType),
    StructField("year_id", IntegerType), StructField("op", StringType)))

  private val Iso = StructField("country_iso3_id", StringType)
  private val Year = StructField("year_id", IntegerType)
  private val Key = Seq("country_iso3_id", "year_id")

  /** The star schema: each table's schema, key and first-wins order. */
  val Tables: Map[String, (StructType, Seq[String], Seq[Column])] = Map(
    "dim_country" -> (StructType(Seq(Iso,
      StructField("country_name", StringType))),
      Seq("country_iso3_id"), Seq(col("country_name"))),
    "fact_population" -> (StructType(Seq(
      StructField("population", LongType), Iso, Year)),
      Key, Seq(col("population"))),
    "fact_crime" -> (StructType(Seq(
      StructField("convicts_per_100000", DoubleType), Iso, Year)),
      Key, Seq(col("convicts_per_100000"))),
    "fact_immigration" -> (StructType(Seq(
      StructField("immigration_per_100000", DoubleType), Iso, Year)),
      Key, Seq(col("immigration_per_100000"))))

  /** The report's section 4.1 read-back: crime against immigration per
    * country-year, and yearly per-100k averages. The averages run over
    * decimal(18,2) (both rates carry two decimals), so they are exact and do
    * not depend on summation order. */
  def analyses(t: Map[String, DataFrame]): Seq[(String, DataFrame)] = {
    val crime = t("fact_crime")
    val imm = t("fact_immigration")
    def yearly(df: DataFrame, c: String, out: String) = df.groupBy("year_id")
      .agg(count(lit(1)).as(s"${out}_n"),
        avg(col(c).cast("decimal(18,2)")).as(s"${out}_avg"))
    Seq(
      "crime_vs_immigration" -> crime.join(imm, Key).join(t("dim_country"),
        Seq("country_iso3_id")).select(col("country_name"), col("year_id"),
        col("convicts_per_100000"), col("immigration_per_100000")),
      "yearly_rates" -> yearly(crime, "convicts_per_100000", "crime")
        .join(yearly(imm, "immigration_per_100000", "immigration"),
          Seq("year_id"), "full_outer"))
  }

  /** (files, bytes) of the parquet part files under `dir`. */
  def footprint(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala.filter(p =>
          Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
          .toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
  }
}
