package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for the training-data pipeline: image/audio/
  * video payloads as opaque `binary` columns, payload chunking as a native
  * binary expression, and decode-free perceptual-hash dedup over the raw
  * bytes. This container ships no image/audio codecs, so nothing here
  * decodes: every operator works on the payload bytes themselves.
  *
  * Scale posture: chunking and hashing are per-row map-side expressions;
  * payload columns stay opaque so parquet scans prune them unless a query
  * actually touches `content`.
  */
object MultimodalOps {

  /** Corpus adapter: fabricate asset rows from a text table (the corpus
    * ships no real media) — payload = UTF-8 bytes, modality round-robin.
    * Deterministic, so the DuckDB oracle reproduces it byte-for-byte on
    * the string side (the corpus text is pure ASCII). */
  def fromText(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id).as("asset_id"),
      expr(s"CASE pmod($id, 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' " +
        "ELSE 'video' END").as("modality"),
      encode(col(text), "UTF-8").as("content"))

  /** Payload chunking: fixed-size binary frames (video frame extraction /
    * audio windowing shape). n = (bytes + size - 1) / size, all integer.
    * Empty payloads yield an empty chunk array — the guard is required
    * because Spark's sequence(1, 0) counts DOWN instead of being empty
    * (same trap TextOps.wordShingles documents). */
  def chunks(content: Column, size: Int): Column =
    when(length(content) > 0,
      transform(
        sequence(lit(1),
          ((length(content) + lit(size - 1)) / lit(size)).cast("int")),
        i => content.substr((i - lit(1)) * lit(size) + lit(1), lit(size))))
      .otherwise(array().cast("array<binary>"))

  // -------------------------------------- binary perceptual-hash dedup

  /** 60-bit locality-sensitive content hash of an opaque binary payload —
    * the pHash shape for media dedup, computed WITHOUT decoding: every
    * sliding 4-byte window votes ±1 on each bit of its 60-bit md5-prefix
    * hash (the [[graft.functions.SimHash60]] kernel [[DedupOps.simhash]] uses
    * for tokens, fed byte windows instead). Two payloads differing in a
    * few bytes perturb only the windows crossing the edit, so their
    * hashes stay Hamming-close — the property exact content hashing
    * (q24) lacks. Real pHash decodes and DCTs the image first; over
    * opaque bytes the byte-window SimHash is the decode-free analogue.
    * Map-side per row; payloads shorter than 4 bytes are dropped (no
    * windows). */
  def binarySimhash(df: DataFrame, id: String, content: Column): DataFrame =
    df.filter(length(content) >= 4)
      .select(col(id),
        call_function("simhash60",
          transform(sequence(lit(1), length(content) - 3),
            i => TextOps.hash60(content.substr(i, lit(4)))))
          .as("phash"))

  /** Near-duplicate binary-payload pairs by banded pHash: the 60-bit
    * [[binarySimhash]] splits into 4 disjoint 15-bit bands; a pair is a
    * candidate iff ANY band matches exactly (the SimHash-banding
    * hamming screen — same recall family as MinHash banding), then the
    * exact popcount(xor) verify keeps Hamming ≤ `maxHamming`. Shape:
    * one map-side hash pass, a ×4 band explode, one (band, value)
    * equi-join — candidate volume is bounded by band-bucket occupancy,
    * never all-pairs — then two hash-table lookups back for the verify.
    * At 100 TB the band table is the pre-stored index. */
  def binaryNearDupPairs(df: DataFrame, id: String, content: Column,
                         maxHamming: Int): DataFrame = {
    // Checkpoint the (id, phash) table: the band explode and BOTH verify
    // sides read it — without this each branch would replay the sliding
    // byte-window hash over the corpus (the q137 lesson). Bounded at one
    // long per payload.
    val ph = binarySimhash(df, id, content).localCheckpoint()
    val banded = ph.select(col(id), posexplode(array((0 until 4).map(b =>
        shiftright(col("phash"), 15 * b).bitwiseAND(lit(0x7fffL))): _*))
        .as(Seq("__band", "__bv")))
    val cand = banded.select(col(id).as("id_a"), col("__band"), col("__bv"))
      .join(banded.select(col(id).as("id_b"), col("__band").as("__band2"),
          col("__bv").as("__bv2")),
        col("__band") === col("__band2") && col("__bv") === col("__bv2") &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(ph.select(col(id).as("id_a"), col("phash").as("__pa")), Seq("id_a"))
      .join(ph.select(col(id).as("id_b"), col("phash").as("__pb")), Seq("id_b"))
      .withColumn("hamming",
        bit_count(col("__pa").bitwiseXOR(col("__pb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
