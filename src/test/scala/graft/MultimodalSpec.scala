package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MultimodalOps

/** Unit tests for the multimodal binary-column plumbing: the asset
  * adapter, payload chunking and decode-free perceptual-hash dedup. */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("fromText: modality round-robin, payload is the UTF-8 bytes") {
    val df = Seq((0L, "abc"), (1L, "de"), (2L, "f"), (3L, "g"))
      .toDF("doc_id", "text")
    val rows = MultimodalOps.fromText(df, "doc_id", "text")
      .orderBy("asset_id").collect()
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("image", "audio", "video", "image"))
    assert(new String(rows(0).getAs[Array[Byte]](2), "UTF-8") == "abc")
  }

  test("chunks: fixed-size frames cover the payload exactly") {
    val df = Seq((1L, "a" * 70)).toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("content"))
    val ch = df.select(MultimodalOps.chunks(col("content"), 32).as("c"))
      .head.getSeq[Array[Byte]](0)
    assert(ch.map(_.length).toSeq == Seq(32, 32, 6)) // 70 = 32+32+6
  }

  test("binarySimhash: identical payloads share the hash, a small edit " +
    "stays Hamming-close, an unrelated payload lands far; short " +
    "payloads dropped") {
    import org.apache.spark.sql.functions.{col, encode, length => flen}
    val base = ("the quick brown fox jumps over the lazy dog " * 6).trim
    val edited = base.updated(10, 'X').toString
    val other = ("zq9 vml k2p wwj hrt eleven misc chunk join " * 6).trim
    val df = Seq((1L, base), (2L, base), (3L, edited), (4L, other),
        (5L, "abc"))
      .toDF("id", "t")
      .select(col("id"), encode(col("t"), "UTF-8").as("content"))
    val hs = MultimodalOps.binarySimhash(df, "id", col("content"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!hs.contains(5L)) // < 4 bytes → no windows
    assert(hs(1L) == hs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L), hs(3L)) <= 8,
      s"one-char edit moved ${ham(hs(1L), hs(3L))} bits")
    assert(ham(hs(1L), hs(4L)) > 12,
      s"unrelated payloads only ${ham(hs(1L), hs(4L))} bits apart")
    val pairs = MultimodalOps.binaryNearDupPairs(df, "id", col("content"),
        maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 0)
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((4L, 1L)))
    spark.catalog.clearCache()
  }
}
