package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.functions.{DeflateRatio, DotProductF32, DotProductF64, I8Dot,
  I8Quantize, LshBucketF32, MinHashSig, NfcNormalize, NGramHashSet,
  NGramMinHashSig, RedactCount, SimHash60, SortedIntersect,
  SortedIntersectCount, TokenCensus, TokenHash60Array, WindowHashSelect,
  WindowMinHash32}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions in the SQL function registry so `spark.sql` queries can use
  * them (`SELECT dot_f32(a, b)`), not just the Column API. Installed via
  * `spark.sql.extensions=graft.GraftExtensions` (Session.builder does
  * this for every harness session). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[DotProductF32].getName, "dot_f32"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_f32 takes exactly 2 arguments")
        DotProductF32(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_f64"),
      new ExpressionInfo(classOf[DotProductF64].getName, "dot_f64"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_f64 takes exactly 2 arguments")
        DotProductF64(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash60 takes exactly 1 argument")
        SimHash60(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "minhash_sig takes exactly 1 argument")
        MinHashSig(args.head)
      }))
    // fused n-gram kernels: (text, n-literal)
    def nGram(name: String, mk: (Expression, Int) => Expression)
             (args: Seq[Expression]): Expression = {
      require(args.length == 2, s"$name takes exactly 2 arguments")
      val n = args(1) match {
        case Literal(v: Int, IntegerType) if v > 0 => v
        case other => throw new IllegalArgumentException(
          s"$name: n must be a positive int literal, got $other")
      }
      mk(args.head, n)
    }
    ext.injectFunction((
      new FunctionIdentifier("char_minhash_sig"),
      new ExpressionInfo(classOf[NGramMinHashSig].getName, "char_minhash_sig"),
      nGram("char_minhash_sig", NGramMinHashSig(_, _, word = false))))
    ext.injectFunction((
      new FunctionIdentifier("word_minhash_sig"),
      new ExpressionInfo(classOf[NGramMinHashSig].getName, "word_minhash_sig"),
      nGram("word_minhash_sig", NGramMinHashSig(_, _, word = true))))
    ext.injectFunction((
      new FunctionIdentifier("char_shingle_hashset"),
      new ExpressionInfo(classOf[NGramHashSet].getName,
        "char_shingle_hashset"),
      nGram("char_shingle_hashset", NGramHashSet(_, _, word = false))))
    ext.injectFunction((
      new FunctionIdentifier("word_shingle_hashset"),
      new ExpressionInfo(classOf[NGramHashSet].getName,
        "word_shingle_hashset"),
      nGram("word_shingle_hashset", NGramHashSet(_, _, word = true))))
    ext.injectFunction((
      new FunctionIdentifier("char_min_hash32"),
      new ExpressionInfo(classOf[WindowMinHash32].getName, "char_min_hash32"),
      nGram("char_min_hash32", WindowMinHash32(_, _, word = false))))
    ext.injectFunction((
      new FunctionIdentifier("word_min_hash32"),
      new ExpressionInfo(classOf[WindowMinHash32].getName, "word_min_hash32"),
      nGram("word_min_hash32", WindowMinHash32(_, _, word = true))))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "sorted_intersect_count takes exactly 2 arguments")
        SortedIntersectCount(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect"),
      new ExpressionInfo(classOf[SortedIntersect].getName,
        "sorted_intersect"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "sorted_intersect takes exactly 2 arguments")
        SortedIntersect(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("deflate_ratio"),
      new ExpressionInfo(classOf[DeflateRatio].getName, "deflate_ratio"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "deflate_ratio takes exactly 1 argument")
        DeflateRatio(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("token_hash60_array"),
      new ExpressionInfo(classOf[TokenHash60Array].getName,
        "token_hash60_array"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "token_hash60_array takes exactly 1 argument")
        TokenHash60Array(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("lsh_bucket_f32"),
      new ExpressionInfo(classOf[LshBucketF32].getName, "lsh_bucket_f32"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "lsh_bucket_f32 takes exactly 2 arguments")
        val p = args(1) match {
          case Literal(v: Int, IntegerType) if v > 0 && v <= 63 => v
          case other => throw new IllegalArgumentException(
            s"lsh_bucket_f32: planes must be an int literal in [1,63], " +
              s"got $other")
        }
        LshBucketF32(args.head, p)
      }))
    ext.injectFunction((
      new FunctionIdentifier("i8_quantize"),
      new ExpressionInfo(classOf[I8Quantize].getName, "i8_quantize"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "i8_quantize takes exactly 1 argument")
        I8Quantize(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("i8_dot"),
      new ExpressionInfo(classOf[I8Dot].getName, "i8_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "i8_dot takes exactly 2 arguments")
        I8Dot(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_window_select"),
      new ExpressionInfo(classOf[WindowHashSelect].getName,
        "word_window_select"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "word_window_select takes exactly 3 arguments")
        val Seq(n, m) = args.tail.map {
          case Literal(v: Int, IntegerType) if v > 0 => v
          case other => throw new IllegalArgumentException(
            "word_window_select: n and modulus must be positive int " +
              s"literals, got $other")
        }
        WindowHashSelect(args.head, n, m)
      }))
    ext.injectFunction((
      new FunctionIdentifier("token_census"),
      new ExpressionInfo(classOf[TokenCensus].getName, "token_census"),
      (args: Seq[Expression]) => {
        require(args.length >= 1,
          "token_census takes (text, stopword literals...)")
        val stops = args.tail.map {
          case Literal(v, StringType) if v != null => v.toString
          case other => throw new IllegalArgumentException(
            s"token_census: stopwords must be string literals, got $other")
        }
        TokenCensus(args.head, stops)
      }))
    ext.injectFunction((
      new FunctionIdentifier("redact_count"),
      new ExpressionInfo(classOf[RedactCount].getName, "redact_count"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "redact_count takes exactly 3 arguments")
        val Seq(p, t) = args.tail.map {
          case Literal(v, StringType) if v != null => v.toString
          case other => throw new IllegalArgumentException(
            "redact_count: pattern and token must be string literals, " +
              s"got $other")
        }
        RedactCount(args.head, p, t)
      }))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "nfc_normalize takes exactly 1 argument")
        NfcNormalize(args.head)
      }))
  }
}
