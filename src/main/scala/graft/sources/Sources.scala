package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Scan layer for the reference's non-parquet sources (SURVEY.md §2.1):
  * CSV with explicit schemas (S4/S5), CSV with a header offset — the Excel
  * `header=2` substitute (S3, decision recorded in FIXTURES.md A3) — and the
  * World-Bank `[meta, rows]` JSON envelope (S1/S2).
  *
  * Scale posture: the plain CSV/JSON readers are ordinary distributed file
  * scans (schema supplied, no inference pass). The header-offset reader and
  * the envelope reader are per-FILE operations by nature (a header offset
  * or a JSON envelope is a property of one file) — fine for ingest-side
  * documents; the big-data path stays parquet.
  */
object Sources {

  /** S4/S5: CSV scan with an explicit schema — no inference job, columns
    * pruned and predicates pushed by the usual v2 CSV source rules. */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** S4 variant used by fixture-shaped inputs where every column is a
    * string (Eurostat linear CSV): header-derived columns, all StringType
    * (matches pandas.read_csv + later coercion, ref :147-148). */
  def csvAllString(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "false").csv(path)

  /** S3: CSV whose header sits below `skip` junk preamble lines — the
    * `pandas.read_excel(header=2)` equivalent (ref :141). Reads lines,
    * drops the preamble by line position (zipWithIndex pins line order),
    * parses the remainder as CSV. Line positions number a whole dataset,
    * so a directory or glob of several files is read file by file —
    * each drops its own preamble and header — and the files' frames are
    * unioned by column name. Hidden files (`_`/`.` prefixed) are skipped
    * as Spark's file sources skip them; a subdirectory is refused. */
  def csvWithHeaderOffset(spark: SparkSession, path: String,
                          skip: Int): DataFrame = {
    import spark.implicits._
    def oneFile(file: String): DataFrame = {
      val lines: Dataset[String] = spark.read.textFile(file)
      val body = lines.rdd.zipWithIndex()
        .filter { case (_, i) => i >= skip }.map(_._1)
      spark.read.option("header", "true").csv(spark.createDataset(body))
    }
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(p)).toSeq.flatten
      .flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).toSeq
                     else Seq(st))
      .filterNot(st => st.getPath.getName.matches("[_.].*"))
    require(files.forall(_.isFile),
      s"csvWithHeaderOffset: $path holds a subdirectory; pass files or " +
        "one flat directory")
    if (files.size <= 1) oneFile(path)
    else files.map(_.getPath.toString).sorted.map(oneFile)
      .reduce(_ unionByName _)
  }

  /** S1/S2: World-Bank-style JSON envelope `[ {meta}, [ {row}, ... ] ]`
    * (ref :115-116): read the document whole, slice element [1], parse it
    * with the supplied row schema, explode to one row per record. Nested
    * structs (`country.{id,value}`) survive into real StructType columns —
    * the F4/C8 operators run on `col("country.value")` directly. */
  def jsonEnvelopeRows(spark: SparkSession, path: String,
                       rowSchema: StructType): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      .select(from_json(get_json_object(col("value"), "$[1]"),
        ArrayType(rowSchema)).as("rows"))
      .select(explode(col("rows")).as("r"))
      .select(col("r.*"))

  /** NDJSON (JSON-lines) scan with an explicit schema — the export
    * format crawler/API dumps actually arrive in: one JSON object per
    * line, splittable (unlike the whole-doc envelope above), so a
    * 100 TB dump parallelizes by line ranges. No inference pass; corrupt
    * lines land in `_corrupt_record` when the schema includes it
    * (PERMISSIVE — ingest audits count them rather than dying). */
  def ndjson(spark: SparkSession, path: String,
             schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** NDJSON audit scan — the single-pass form an ingest AUDIT needs:
    * read the dump as raw text lines (splittable), parse each with
    * `from_json` in PERMISSIVE mode, and surface malformed lines in
    * `_corrupt_record` alongside the parsed columns. Unlike [[ndjson]]'s
    * file-source corrupt capture, this form has NO
    * only-the-corrupt-column query restriction (the Spark 2.3 rule that
    * forces a cache() workaround), so corrupt censuses and good-row
    * aggregates both run straight off the text scan — no cache, no
    * second format pass, 100-TB-shaped. */
  def ndjsonAudited(spark: SparkSession, path: String,
                    schema: StructType): DataFrame = {
    val full =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read.text(path)
      // Skip whitespace-only lines BEFORE parsing: from_json returns a
      // null struct for them, which j.* would flatten to an all-null row
      // with a null _corrupt_record — i.e. a trailing newline would count
      // as a parsed record and skew the good/corrupt audit. The
      // file-source NDJSON path ([[ndjson]]) skips blank lines; this
      // keeps the two paths' counts identical.
      .filter(length(trim(col("value"))) > 0)
      .select(from_json(col("value"), full,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("j"))
      .select(col("j.*"))
  }

  /** Columnar interchange scan/write: ORC round-trip. Spark's built-in
    * ORC source keeps the same pushdown/pruning contract as parquet
    * (PushedFilters + ReadSchema — spec-asserted), so a lake that
    * standardized on ORC slots into every operator here unchanged. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Schema-evolution parquet scan: union the schemas of heterogeneous
    * parquet files written over a table's lifetime (`mergeSchema` —
    * columns absent in older files read as null). The ingest contract
    * for append-only lakes whose producers add columns over time. */
  def parquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
