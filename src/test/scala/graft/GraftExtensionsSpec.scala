package graft

import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

/** Pins the argument-count check of every SQL kernel that
  * [[GraftExtensions]] registers with only that check: a call with the
  * wrong number of arguments fails with the kernel's own
  * `takes exactly …` message. */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val arities = Seq(
    "dot_f32" -> 2, "dot_f64" -> 2, "simhash60" -> 1, "minhash_sig" -> 1,
    "sorted_intersect_count" -> 2, "sorted_intersect" -> 2,
    "deflate_ratio" -> 1, "token_hash60_array" -> 1, "i8_quantize" -> 1,
    "i8_dot" -> 2, "nfc_normalize" -> 1)

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq

  for ((name, n) <- arities) {
    test(s"$name rejects a call without exactly $n argument(s)") {
      val args = Seq.fill(n + 1)("1")
      val e = intercept[Exception] {
        spark.sql(s"SELECT $name(${args.mkString(", ")})").collect()
      }
      val want = s"$name takes exactly $n argument" + (if (n == 1) "" else "s")
      val exact = ("\\b" + Pattern.quote(want) + "\\b").r
      assert(messages(e).exists(exact.findFirstIn(_).nonEmpty),
        s"expected '$want' in: ${messages(e).mkString(" | ")}")
    }
  }
}
