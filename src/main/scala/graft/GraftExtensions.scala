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
    // kernels whose only argument check is the count
    def exactly(name: String, cls: Class[_], n: Int)
               (mk: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (args: Seq[Expression]) => {
          require(args.length == n,
            s"$name takes exactly $n argument${if (n == 1) "" else "s"}")
          mk(args)
        }))
    exactly("dot_f32", classOf[DotProductF32], 2)(a =>
      DotProductF32(a.head, a(1)))
    exactly("dot_f64", classOf[DotProductF64], 2)(a =>
      DotProductF64(a.head, a(1)))
    exactly("simhash60", classOf[SimHash60], 1)(a => SimHash60(a.head))
    exactly("minhash_sig", classOf[MinHashSig], 1)(a => MinHashSig(a.head))
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
    exactly("sorted_intersect_count", classOf[SortedIntersectCount], 2)(a =>
      SortedIntersectCount(a.head, a(1)))
    exactly("sorted_intersect", classOf[SortedIntersect], 2)(a =>
      SortedIntersect(a.head, a(1)))
    exactly("deflate_ratio", classOf[DeflateRatio], 1)(a =>
      DeflateRatio(a.head))
    exactly("token_hash60_array", classOf[TokenHash60Array], 1)(a =>
      TokenHash60Array(a.head))
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
    exactly("i8_quantize", classOf[I8Quantize], 1)(a => I8Quantize(a.head))
    exactly("i8_dot", classOf[I8Dot], 2)(a => I8Dot(a.head, a(1)))
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
    exactly("nfc_normalize", classOf[NfcNormalize], 1)(a =>
      NfcNormalize(a.head))
  }
}
