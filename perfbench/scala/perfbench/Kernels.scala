package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col

import graft.Tables

/** The `functions` layer probe: each of the 21 SQL kernels registered by
  * `graft.GraftExtensions`, applied to the corpus column its queries use
  * (documents.text or embeddings.embedding). Each kernel is bound into a
  * generated `UnsafeProjection` and run over the collected input rows in
  * the calling thread, so the figure is the kernel's own cost per row,
  * free of scan, shuffle and scheduling: the median of [[Reps]] timed
  * batches of at least [[BatchMs]] ms each, after one warm-up batch. */
object Kernels {
  val Reps = 3
  val BatchMs = 40.0

  /** (kernel, expression, the input columns it reads). */
  val Probes: Seq[(String, String, String)] = Seq(
    ("dot_f32", "dot_f32(emb, emb2)", "emb, emb2"),
    ("dot_f64", "dot_f64(embd, embd2)", "embd, embd2"),
    ("lsh_bucket_f32", "lsh_bucket_f32(emb, 16)", "emb"),
    ("i8_quantize", "i8_quantize(emb)", "emb"),
    ("i8_dot", "i8_dot(q8a, q8b)", "q8a, q8b"),
    ("simhash60", "simhash60(h60)", "h60"),
    ("minhash_sig", "minhash_sig(toks)", "toks"),
    ("char_minhash_sig", "char_minhash_sig(text, 5)", "text"),
    ("word_minhash_sig", "word_minhash_sig(text, 3)", "text"),
    ("char_shingle_hashset", "char_shingle_hashset(text, 8)", "text"),
    ("word_shingle_hashset", "word_shingle_hashset(text, 3)", "text"),
    ("char_min_hash32", "char_min_hash32(text, 8)", "text"),
    ("word_min_hash32", "word_min_hash32(text, 1)", "text"),
    ("sorted_intersect_count", "sorted_intersect_count(sa, sb)", "sa, sb"),
    ("sorted_intersect", "sorted_intersect(sa, sb)", "sa, sb"),
    ("deflate_ratio", "deflate_ratio(text)", "text"),
    ("token_hash60_array", "token_hash60_array(text)", "text"),
    ("word_window_select", "word_window_select(text, 5, 4)", "text"),
    ("token_census", "token_census(text, 'the', 'a', 'of')", "text"),
    ("redact_count", "redact_count(text, '[0-9]+', '<NUM>')", "text"),
    ("nfc_normalize", "nfc_normalize(text)", "text"))

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** ns per row of `proj` over `rows`, in batches of whole passes. */
  private def nsPerRow(proj: UnsafeProjection, rows: Array[InternalRow]): Double = {
    def batch(): Double = {
      var n = 0L
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e6 < BatchMs) {
        var i = 0
        while (i < rows.length) { proj(rows(i)); i += 1 }
        n += rows.length
      }
      (System.nanoTime() - t0).toDouble / n
    }
    batch()
    median((1 to Reps).map(_ => batch()))
  }

  def probe(spark: SparkSession, corpus: String): Seq[(String, Double)] = {
    val docs = Tables(spark, corpus, "documents").filter(col("text").isNotNull)
      .selectExpr("text", "split(text, ' ') AS toks",
        "token_hash60_array(text) AS h60",
        "char_shingle_hashset(text, 8) AS sa",
        "char_shingle_hashset(substring(text, 12), 8) AS sb")
    val embs = Tables(spark, corpus, "embeddings")
      .selectExpr("embedding AS emb", "reverse(embedding) AS emb2")
      .selectExpr("emb", "emb2", "cast(emb AS array<double>) AS embd",
        "cast(emb2 AS array<double>) AS embd2", "i8_quantize(emb) AS q8a",
        "i8_quantize(emb2) AS q8b")
    def rows(df: DataFrame) =
      df.queryExecution.toRdd.map(_.copy()).collect()
    val inputs = Map("docs" -> (docs, rows(docs)), "embs" -> (embs, rows(embs)))
    Probes.map { case (name, kernel, args) =>
      val (df, data) =
        if (args.startsWith("emb") || args.startsWith("q8")) inputs("embs")
        else inputs("docs")
      val e = df.selectExpr(kernel).queryExecution.analyzed
        .asInstanceOf[Project].projectList.head
      val bound = BindReferences.bindReference[Expression](e, df.queryExecution
        .analyzed.output)
      name -> nsPerRow(UnsafeProjection.create(Seq(bound)), data)
    }
  }
}
