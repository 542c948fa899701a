package graft.oracle

import graft.SparkEntry.{AnnPlanes, Bm25Queries, EvoParquetBase, IvfCells,
  IvfPqSalt, IvfProbes, IvfTrainDenom, IvfTrainIters, IvfTrainNum,
  IvfTrainSalt, NdcgDiscCase, NdjsonFeedBase, PartFilesBase, PqAdcK,
  PqCodes, PqIters, PqM, PqSalt, PqShortlist, PqSubDims, benfordP,
  exportDir, probeMasks, searchPhrases}
import graft.operators.{DedupOps => D, Lexicons, TextOps => T,
  VectorOps => Vec}

/** The DuckDB oracle: one ANSI-SQL twin per [[graft.SparkEntry.queries]]
  * entry, built for a corpus dir (only the export-reading twins name it).
  *
  * Oracle-hash safety conventions, DuckDB side (Spark side on SparkEntry):
  *  - exact decimal sums cast to DOUBLE after the aggregate, via VARCHAR;
  *  - DuckDB `round_even` twins Spark `bround` but rounds through a
  *    double, so a twin needing exact half-even emulates it on scaled
  *    integers (q17);
  *  - int-typed columns cast explicitly (DuckDB widens integer sums);
  *  - a CTE chain shared by several twins is one `sql*` value; none of
  *    its lines may begin with `|` (the twin's `stripMargin` eats it).
  */
object OracleSql {
  /** Embedding dimensionality of the test corpus (TESTDATA schema). */
  private val EmbDims = 64

  private val rev =
    "CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))"

  // --- shared DuckDB fragments for the LLM-pipeline oracles. Each mirrors
  // the Spark expression OPERATION FOR OPERATION (same md5 prefix widths,
  // same fold order, same double casts) so results are bit-identical.

  /** DuckDB twin of TextOps.hash32 / hash60. */
  private def hx(e: String, width: Int): String =
    s"CAST(('0x' || substr(md5($e),1,$width)) AS BIGINT)"

  /** DuckDB twin of VectorOps.dot: sequential left fold of double products
    * (list_reduce folds left from the first element; Spark's aggregate
    * starts at 0.0 — identical IEEE result since 0.0 + x == x). */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce([CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE) " +
      s"for i in generate_series(1,64)], (x,y) -> x+y)"

  private def sqlCosine(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"

  /** DuckDB twin of VectorOps.dist2 — same operation order. */
  private def sqlDist2(a: String, b: String): String =
    s"((${sqlDot(a, a)}) - (2.0 * ${sqlDot(a, b)})) + (${sqlDot(b, b)})"

  /** [[sqlDot]]/[[sqlDist2]] at an arbitrary dimensionality (the PQ
    * subspace twins — the 64-dim versions keep their name for the
    * existing oracle strings). */
  private def sqlDotN(a: String, b: String, n: Int): String =
    s"list_reduce([CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE) " +
      s"for i in generate_series(1,$n)], (x,y) -> x+y)"

  private def sqlDist2N(a: String, b: String, n: Int): String =
    s"((${sqlDotN(a, a, n)}) - (2.0 * ${sqlDotN(a, b, n)})) + " +
      s"(${sqlDotN(b, b, n)})"

  /** DuckDB twin of VectorOps.planeWeight + planeBit for plane p. */
  private def sqlPlaneProj(v: String, p: Int): String =
    s"list_reduce([CAST($v[j] AS DOUBLE) * " +
      s"CAST(((1103515245*($p*64+j)+12345)%1000)-500 AS DOUBLE) " +
      s"for j in generate_series(1,64)], (x,y) -> x+y)"

  private def sqlBucketN(v: String, planes: Int): String =
    (0 until planes)
      .map(p => s"(CASE WHEN ${sqlPlaneProj(v, p)} > 0 THEN ${1L << p} ELSE 0 END)")
      .mkString("(", " + ", ")")

  private def sqlBucket(v: String): String = sqlBucketN(v, AnnPlanes)

  /** DuckDB twin of [[graft.operators.VectorOps.sizedPlanes]]: the
    * smallest p in [4, 21] with 32·2^p ≥ count(embeddings). The same
    * integer inequality both engines evaluate — no float log2 whose
    * rounding could drift at exact powers. */
  private val sqlSizedPlanes: String =
    "(SELECT CAST(coalesce(min(g.p), 21) AS INT) " +
      "FROM generate_series(4,21) g(p) " +
      "WHERE 32 * (CAST(1 AS BIGINT) << g.p) >= " +
      "(SELECT count(*) FROM embeddings))"

  /** Corpus-sized bucket twin: the full 21-plane bucket masked to the
    * sized plane count. Identical to computing only p planes because
    * plane i contributes exactly bit i ([[sqlBucketN]]'s 1<<p terms). */
  private def sqlSizedBucket(v: String): String =
    s"(${sqlBucketN(v, 21)} & " +
      s"((CAST(1 AS BIGINT) << $sqlSizedPlanes) - 1))"

  /** Twin of `SparkEntry.annExact` (q27/q49): exact cosine top-k. */
  private def sqlAnnExact(k: Int): String =
    s"""WITH s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${sqlCosine("q.embedding", "c.embedding")} AS cosine
       | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       | WHERE q.vec_id < 20),
       |r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER
       |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
       |  AS rnk FROM s)
       |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS "rank", cosine
       |FROM r WHERE rnk <= $k""".stripMargin

  /** Twin of `SparkEntry.annLsh` (q28/q49). */
  private lazy val sqlAnnLsh: String =
    s"""WITH e AS (SELECT vec_id, embedding,
       |  CAST(${sqlBucket("embedding")} AS BIGINT) AS bucket
       | FROM embeddings),
       |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  q.bucket AS bucket,
       |  ${sqlCosine("q.embedding", "c.embedding")} AS cosine
       | FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       | WHERE q.vec_id < 20),
       |r AS (SELECT query_id, neighbor_id, bucket, cosine,
       |  row_number() OVER (PARTITION BY query_id
       |   ORDER BY cosine DESC, neighbor_id) AS rnk FROM s)
       |SELECT query_id, neighbor_id, bucket, CAST(rnk AS INT) AS "rank",
       | cosine
       |FROM r WHERE rnk <= 3""".stripMargin

  /** Twin of `SparkEntry.annLshMultiprobe` (q53/q49): the query side probes
    * every bucket within `radius` sign-bit flips of its own — the same
    * `SparkEntry.probeMasks` list injected as a literal. */
  private def sqlAnnLshMpAt(radius: Int, k: Int = 3): String = {
    val masks = probeMasks(AnnPlanes, radius).mkString(",")
    s"""WITH e AS (SELECT vec_id, embedding,
       |  CAST(${sqlBucket("embedding")} AS BIGINT) AS bucket
       | FROM embeddings),
       |p AS (SELECT vec_id AS query_id, embedding AS qe,
       |  CAST(unnest([xor(bucket, m) for m in [$masks]]) AS BIGINT)
       |   AS probe_bucket
       | FROM e WHERE vec_id < 20),
       |s AS (SELECT p.query_id, c.vec_id AS neighbor_id,
       |  ${sqlCosine("p.qe", "c.embedding")} AS cosine
       | FROM p JOIN e c
       |  ON p.probe_bucket = c.bucket AND p.query_id <> c.vec_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id
       |   ORDER BY cosine DESC, neighbor_id) AS rnk FROM s)
       |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS "rank", cosine
       |FROM r WHERE rnk <= $k""".stripMargin
  }

  /** DuckDB twin of [[graft.operators.VectorOps.kmeansTrain]]: `iters`
    * Lloyd-step CTE blocks — each assigns every vector to its nearest
    * previous-round centroid (same dist2 operation order, same (d2, cid)
    * tie-break) and recomputes per-(cell, dim) double means, reassembled
    * dim-ordered and cast to FLOAT exactly as kmeansStep does. The FLOAT
    * cast rounds both engines' aggregate means to 24-bit mantissas, so
    * summation-order noise in the double mean is absorbed before the
    * next round consumes the centroid. */
  private def sqlIvfTrainCtes(iters: Int): String = {
    val seed =
      s"""ivf_train AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE ${hx(s"'$IvfTrainSalt' || CAST(vec_id AS VARCHAR)", 8)}
         |   % $IvfTrainDenom < $IvfTrainNum),
         |cent0 AS (SELECT vec_id AS cid, embedding AS cv
         |  FROM embeddings WHERE vec_id < $IvfCells)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""asg_t$i AS (SELECT vec_id, embedding, cid AS cell_id FROM (
         |  SELECT e.vec_id, e.embedding, c.cid, row_number() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${sqlDist2("e.embedding", "c.cv")}, c.cid) AS cr
         |  FROM ivf_train e CROSS JOIN cent${i - 1} c) WHERE cr = 1),
         |cm_t$i AS (SELECT cell_id, dim, avg(CAST(x AS DOUBLE)) AS m
         | FROM (SELECT cell_id, unnest(embedding) AS x,
         |   unnest(generate_series(1, len(embedding))) AS dim
         |  FROM asg_t$i) GROUP BY cell_id, dim),
         |cent$i AS (SELECT cell_id AS cid,
         |  list(CAST(m AS FLOAT) ORDER BY dim) AS cv
         | FROM cm_t$i GROUP BY cell_id)""".stripMargin
    }
    (seed +: steps).mkString(",\n")
  }

  /** Twin of `SparkEntry.annIvf` (q34/q49): trained centroids via
    * [[sqlIvfTrainCtes]], then the assignment/probe/score pipeline. */
  private lazy val sqlAnnIvf: String =
    s"""WITH ${sqlIvfTrainCtes(IvfTrainIters)},
       |cent AS (SELECT cid, cv FROM cent$IvfTrainIters),
       |asg AS (SELECT vec_id, embedding, cid AS cell_id FROM (
       |  SELECT e.vec_id, e.embedding, c.cid, row_number() OVER (
       |    PARTITION BY e.vec_id
       |    ORDER BY ${sqlDist2("e.embedding", "c.cv")}, c.cid) AS cr
       |  FROM embeddings e CROSS JOIN cent c) WHERE cr = 1),
       |probes AS (SELECT query_id, qv, cid AS cell_id FROM (
       |  SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid,
       |   row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY ${sqlDist2("q.embedding", "c.cv")}, c.cid) AS pr
       |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 20)
       | WHERE pr <= $IvfProbes),
       |s AS (SELECT p.query_id, a.vec_id AS neighbor_id, p.cell_id,
       |  ${sqlCosine("p.qv", "a.embedding")} AS cosine
       | FROM probes p JOIN asg a
       |  ON p.cell_id = a.cell_id AND p.query_id <> a.vec_id),
       |r AS (SELECT query_id, neighbor_id, cell_id, cosine,
       |  row_number() OVER (PARTITION BY query_id
       |   ORDER BY cosine DESC, neighbor_id) AS rnk FROM s)
       |SELECT query_id, neighbor_id, cell_id, CAST(rnk AS INT) AS "rank",
       | cosine
       |FROM r WHERE rnk <= 3""".stripMargin

  /** Twin of `SparkEntry.pqCodebooks` + the ADC pipeline shared by
    * q171/q172: per subspace, the [[sqlIvfTrainCtes]] Lloyd chain on
    * SLICED subvectors (same seeds vec_id < K, same hash-sample with
    * the pq salt, same FLOAT-cast means), then per-subspace corpus
    * encodings (argmin by (d2, cid)), per-(query, cid) distance tables,
    * and the ADC sum in the same left-assoc order as the Spark
    * `.reduce(_ + _)`; ends at the ranked CTE `r`. */
  private lazy val sqlPqCtes: String = {
    val d = PqSubDims
    def sl(v: String, sub: Int): String =
      s"$v[${sub * d + 1}:${(sub + 1) * d}]"
    val sample =
      s"""pq_train AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE ${hx(s"'$PqSalt' || CAST(vec_id AS VARCHAR)", 8)}
         |   % $IvfTrainDenom < $IvfTrainNum)""".stripMargin
    val chains = (0 until PqM).map { sub =>
      val seed =
        s"""pc${sub}_0 AS (SELECT vec_id AS cid, ${sl("embedding", sub)}
           |  AS cv FROM embeddings WHERE vec_id < $PqCodes)""".stripMargin
      val steps = (1 to PqIters).map { i =>
        s"""pa${sub}_$i AS (SELECT sv, cid AS cell_id FROM (
           |  SELECT ${sl("e.embedding", sub)} AS sv, c.cid,
           |   row_number() OVER (PARTITION BY e.vec_id
           |    ORDER BY ${sqlDist2N(sl("e.embedding", sub), "c.cv", d)},
           |     c.cid) AS cr
           |  FROM pq_train e CROSS JOIN pc${sub}_${i - 1} c) WHERE cr = 1),
           |pm${sub}_$i AS (SELECT cell_id, dim,
           |  avg(CAST(x AS DOUBLE)) AS m
           | FROM (SELECT cell_id, unnest(sv) AS x,
           |   unnest(generate_series(1, len(sv))) AS dim
           |  FROM pa${sub}_$i) GROUP BY cell_id, dim),
           |pc${sub}_$i AS (SELECT cell_id AS cid,
           |  list(CAST(m AS FLOAT) ORDER BY dim) AS cv
           | FROM pm${sub}_$i GROUP BY cell_id)""".stripMargin
      }
      (seed +: steps).mkString(",\n")
    }
    val encs = (0 until PqM).map { sub =>
      s"""en$sub AS (SELECT vec_id, cid AS code$sub FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${sqlDist2N(sl("e.embedding", sub), "c.cv", d)},
         |     c.cid) AS cr
         |  FROM embeddings e CROSS JOIN pc${sub}_$PqIters c)
         | WHERE cr = 1)""".stripMargin
    }
    val enc =
      s"""enc AS (SELECT en0.vec_id, code0, code1, code2, code3
         | FROM en0 JOIN en1 USING (vec_id) JOIN en2 USING (vec_id)
         |  JOIN en3 USING (vec_id))""".stripMargin
    val qds = (0 until PqM).map { sub =>
      s"""qd$sub AS (SELECT q.vec_id AS query_id, c.cid,
         |  ${sqlDist2N(sl("q.embedding", sub), "c.cv", d)} AS d2
         | FROM embeddings q CROSS JOIN pc${sub}_$PqIters c
         | WHERE q.vec_id < 20)""".stripMargin
    }
    s"""$sample,
       |${chains.mkString(",\n")},
       |${encs.mkString(",\n")},
       |$enc,
       |${qds.mkString(",\n")},
       |sc AS (SELECT t0.query_id, a.vec_id AS neighbor_id,
       |  ((t0.d2 + t1.d2) + t2.d2) + t3.d2 AS adc_d2
       | FROM enc a
       |  JOIN qd0 t0 ON t0.cid = a.code0
       |  JOIN qd1 t1 ON t1.query_id = t0.query_id AND t1.cid = a.code1
       |  JOIN qd2 t2 ON t2.query_id = t0.query_id AND t2.cid = a.code2
       |  JOIN qd3 t3 ON t3.query_id = t0.query_id AND t3.cid = a.code3
       | WHERE t0.query_id <> a.vec_id),
       |r AS (SELECT query_id, neighbor_id, adc_d2, row_number() OVER (
       |  PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rnk
       | FROM sc)""".stripMargin
  }

  /** q171 twin: pure ADC top-3. */
  private lazy val sqlPqAdcTopK: String =
    s"""WITH $sqlPqCtes
       |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS "rank", adc_d2
       |FROM r WHERE rnk <= $PqAdcK""".stripMargin

  /** q172 twin: ADC shortlist (rnk ≤ PqShortlist) re-ranked by EXACT
    * dist² on the raw vectors — the production PQ serving shape. */
  private lazy val sqlPqRerankTopK: String =
    s"""WITH $sqlPqCtes,
       |short AS (SELECT query_id, neighbor_id FROM r
       |  WHERE rnk <= $PqShortlist),
       |ex AS (SELECT s.query_id, s.neighbor_id,
       |  ${sqlDist2("q.embedding", "c.embedding")} AS d2
       | FROM short s
       |  JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings c ON c.vec_id = s.neighbor_id),
       |rr AS (SELECT query_id, neighbor_id, d2, row_number() OVER (
       |  PARTITION BY query_id ORDER BY d2, neighbor_id) AS rnk
       | FROM ex)
       |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS "rank", d2
       |FROM rr WHERE rnk <= $PqAdcK""".stripMargin

  /** Twin of `SparkEntry.ivfpqBooks` + the q177 pipeline: the q34 coarse
    * chain, FLOAT[] residual comprehensions (single-precision subtract,
    * bit-identical to residualExpr's zip_with), per-subspace Lloyd
    * chains on sliced residuals, cell-equi candidate generation, and
    * the same left-assoc ADC sum. */
  private lazy val sqlIvfPqTopK: String = {
    val d = PqSubDims
    def rsl(v: String, sub: Int): String =
      s"$v[${sub * d + 1}:${(sub + 1) * d}]"
    val chains = (0 until PqM).map { sub =>
      val seed =
        s"""rc${sub}_0 AS (SELECT vec_id AS cid, ${rsl("r", sub)} AS cv
           |  FROM res WHERE vec_id < $PqCodes)""".stripMargin
      val steps = (1 to PqIters).map { i =>
        s"""ra${sub}_$i AS (SELECT sv, cid AS cell_id FROM (
           |  SELECT ${rsl("e.r", sub)} AS sv, c.cid,
           |   row_number() OVER (PARTITION BY e.vec_id
           |    ORDER BY ${sqlDist2N(rsl("e.r", sub), "c.cv", d)},
           |     c.cid) AS cr
           |  FROM rtrain e CROSS JOIN rc${sub}_${i - 1} c) WHERE cr = 1),
           |rm${sub}_$i AS (SELECT cell_id, dim,
           |  avg(CAST(x AS DOUBLE)) AS m
           | FROM (SELECT cell_id, unnest(sv) AS x,
           |   unnest(generate_series(1, len(sv))) AS dim
           |  FROM ra${sub}_$i) GROUP BY cell_id, dim),
           |rc${sub}_$i AS (SELECT cell_id AS cid,
           |  list(CAST(m AS FLOAT) ORDER BY dim) AS cv
           | FROM rm${sub}_$i GROUP BY cell_id)""".stripMargin
      }
      (seed +: steps).mkString(",\n")
    }
    val encs = (0 until PqM).map { sub =>
      s"""rn$sub AS (SELECT vec_id, cell_id, cid AS code$sub FROM (
         |  SELECT e.vec_id, e.cell_id, c.cid, row_number() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${sqlDist2N(rsl("e.r", sub), "c.cv", d)},
         |     c.cid) AS cr
         |  FROM res e CROSS JOIN rc${sub}_$PqIters c) WHERE cr = 1)""".stripMargin
    }
    val qds = (0 until PqM).map { sub =>
      s"""qd$sub AS (SELECT qr.query_id, qr.cell_id, b.cid,
         |  ${sqlDist2N(rsl("qr.r", sub), "b.cv", d)} AS d2
         | FROM qres qr CROSS JOIN rc${sub}_$PqIters b)""".stripMargin
    }
    s"""WITH ${sqlIvfTrainCtes(IvfTrainIters)},
       |cent AS (SELECT cid, cv FROM cent$IvfTrainIters),
       |asg AS (SELECT vec_id, embedding, cid AS cell_id FROM (
       |  SELECT e.vec_id, e.embedding, c.cid, row_number() OVER (
       |    PARTITION BY e.vec_id
       |    ORDER BY ${sqlDist2("e.embedding", "c.cv")}, c.cid) AS cr
       |  FROM embeddings e CROSS JOIN cent c) WHERE cr = 1),
       |res AS (SELECT a.vec_id, a.cell_id,
       |  [a.embedding[i] - c.cv[i] for i in
       |   generate_series(1, $EmbDims)] AS r
       | FROM asg a JOIN cent c ON c.cid = a.cell_id),
       |rtrain AS (SELECT vec_id, r FROM res
       |  WHERE ${hx(s"'$IvfPqSalt' || CAST(vec_id AS VARCHAR)", 8)}
       |   % $IvfTrainDenom < $IvfTrainNum),
       |${chains.mkString(",\n")},
       |${encs.mkString(",\n")},
       |encx AS (SELECT rn0.vec_id, rn0.cell_id, code0, code1, code2,
       |  code3 FROM rn0 JOIN rn1 USING (vec_id) JOIN rn2 USING (vec_id)
       |  JOIN rn3 USING (vec_id)),
       |probes AS (SELECT query_id, cid AS cell_id FROM (
       |  SELECT q.vec_id AS query_id, c.cid, row_number() OVER (
       |    PARTITION BY q.vec_id
       |    ORDER BY ${sqlDist2("q.embedding", "c.cv")}, c.cid) AS pr
       |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 20)
       | WHERE pr <= $IvfProbes),
       |qres AS (SELECT p.query_id, p.cell_id,
       |  [q.embedding[i] - c.cv[i] for i in
       |   generate_series(1, $EmbDims)] AS r
       | FROM probes p JOIN embeddings q ON q.vec_id = p.query_id
       |  JOIN cent c ON c.cid = p.cell_id),
       |${qds.mkString(",\n")},
       |sc AS (SELECT p.query_id, a.vec_id AS neighbor_id, a.cell_id,
       |  ((t0.d2 + t1.d2) + t2.d2) + t3.d2 AS adc_d2
       | FROM encx a
       |  JOIN probes p ON p.cell_id = a.cell_id
       |  JOIN qd0 t0 ON t0.query_id = p.query_id
       |   AND t0.cell_id = a.cell_id AND t0.cid = a.code0
       |  JOIN qd1 t1 ON t1.query_id = p.query_id
       |   AND t1.cell_id = a.cell_id AND t1.cid = a.code1
       |  JOIN qd2 t2 ON t2.query_id = p.query_id
       |   AND t2.cell_id = a.cell_id AND t2.cid = a.code2
       |  JOIN qd3 t3 ON t3.query_id = p.query_id
       |   AND t3.cell_id = a.cell_id AND t3.cid = a.code3
       | WHERE p.query_id <> a.vec_id),
       |rr AS (SELECT query_id, neighbor_id, cell_id, adc_d2,
       |  row_number() OVER (PARTITION BY query_id
       |   ORDER BY adc_d2, neighbor_id) AS rnk FROM sc)
       |SELECT query_id, neighbor_id, cell_id, CAST(rnk AS INT)
       |  AS "rank", adc_d2
       |FROM rr WHERE rnk <= $PqAdcK""".stripMargin
  }

  /** DuckDB twin of DedupOps.minhashExpr for all K permutations. */
  private val sqlMinhashCols: String = (0 until D.K)
    .map(k => s"min((${D.aCoef(k)}*h+${D.bCoef(k)})%${T.HashPrime}) AS mh$k")
    .mkString(", ")

  /** DuckDB twin of DedupOps.lshBands (band rows via UNION ALL). */
  private val sqlBandRows: String = (0 until D.Bands).map { b =>
    val parts = (b * D.RowsPerBand until (b + 1) * D.RowsPerBand)
      .map(k => s"mh$k::VARCHAR").mkString(" || ',' || ")
    s"SELECT doc_id, $b AS band, md5($parts) AS bh FROM mh"
  }.mkString(" UNION ALL ")

  /** [[sqlBandRows]] at an arbitrary geometry — the q113 containment
    * pass bands the SAME K=12 signature WIDER (6 bands × 2 rows) so
    * contained pairs living at lower Jaccard still collide. */
  private def sqlBandRowsAt(rowsPerBand: Int): String = {
    val nb = D.K / rowsPerBand
    (0 until nb).map { b =>
      val parts = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(k => s"mh$k::VARCHAR").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS bh FROM mh"
    }.mkString(" UNION ALL ")
  }

  /** DuckDB twin of TextOps.wordShingles(_, 3) as a list expression. */
  private val sqlShingles3: String =
    "list_distinct([array_to_string(w[i:i+2],' ') " +
      "for i in generate_series(1, len(w)-2)])"

  /** DuckDB twin of TextOps.charShingles(text, 8) (incl. short-text
    * whole-string fallback). */
  private val sqlCharShingles8: String =
    "CASE WHEN length(text) >= 8 THEN list_distinct([substr(text,i,8) " +
      "for i in generate_series(1, length(text)-7)]) ELSE [text] END"

  /** CTE `m(m_word, m_lang, m_weight)`: the LangMarkers VALUES table. */
  private val sqlMarkersCte: String = {
    val rows = Lexicons.LangMarkers
      .map { case (w, l, wt) => s"('$w','$l',$wt)" }.mkString(", ")
    s"""m AS (SELECT * FROM (VALUES $rows)
       |  AS v(m_word, m_lang, m_weight))""".stripMargin
  }

  /** DuckDB list literal of the stopword set (q21/q35 twins). */
  private val sqlStopwords: String =
    Lexicons.EnglishStopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** Shared oracle for the q51/q52 skew pair: the PLAIN join — salting
    * must not change the result. */
  private val sqlSkewJoin: String =
    """SELECT s_name, count(*) AS n_items,
      | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR)
      |  AS DOUBLE) AS sum_qty
      |FROM (SELECT CASE WHEN l_suppkey % 2 = 0 THEN 1 ELSE l_suppkey END
      |        AS skew_key, l_quantity FROM lineitem) l
      |JOIN supplier s ON s.s_suppkey = l.skew_key
      |GROUP BY 1""".stripMargin

  /** CTE `tok(doc_id, w)`: each document's space-split words. */
  private val sqlWordTokCte: String =
    """tok AS (SELECT doc_id, string_split(text,' ') AS w
      |  FROM documents)""".stripMargin

  /** CTE `tok(doc_id, ts)`: each document's space-split words. */
  private val sqlSpanTokCte: String =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS ts
      |  FROM documents)""".stripMargin

  /** CTEs `hs`, `mh`: hash32 of each `shl` shingle, minhash signature. */
  private val sqlMinhashCtes: String =
    s"""hs AS (SELECT doc_id, ${hx("s", 8)} AS h
       |  FROM (SELECT doc_id, unnest(sl) AS s FROM shl)),
       |mh AS (SELECT doc_id, $sqlMinhashCols FROM hs GROUP BY doc_id)"""
      .stripMargin

  /** CTE `cand(ida, idb)`: distinct doc pairs sharing a `bands` hash. */
  private val sqlBandCandCte: String =
    """cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      |  FROM bands a JOIN bands b
      |   ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"""
      .stripMargin

  /** The default-geometry LSH candidate CTEs over `shl(doc_id, sl)`. */
  private val sqlLshCandCtes: String =
    s"""$sqlMinhashCtes,
       |hsl AS (SELECT doc_id, list(DISTINCT h) AS hl FROM hs GROUP BY doc_id),
       |bands AS ($sqlBandRows),
       |$sqlBandCandCte""".stripMargin

  /** CTEs `tok` and `shl(doc_id, sl)`: each document's word trigrams. */
  private val sqlWordShingleCtes: String =
    s"""$sqlWordTokCte,
       |shl AS (SELECT doc_id, $sqlShingles3 AS sl FROM tok)""".stripMargin

  /** q25's near-dup pair pipeline, split as (CTE list, final SELECT) so
    * q61 can reuse it FLATTENED into its own recursive WITH — DuckDB 1.0
    * does not scope a nested WITH inside a WITH RECURSIVE member. */
  private lazy val sqlWordNearDupCtes: String =
    s"""$sqlWordShingleCtes,
       |$sqlLshCandCtes,
       |j AS (SELECT ida, idb,
       |  len(list_intersect(x.hl, y.hl)) AS inter,
       |  len(x.hl) + len(y.hl) AS tot
       |  FROM cand JOIN hsl x ON x.doc_id = ida
       |   JOIN hsl y ON y.doc_id = idb)""".stripMargin

  private lazy val sqlWordNearDupSelect: String =
    s"""SELECT ida AS id_a, idb AS id_b,
       | CAST(inter AS DOUBLE) / CAST(tot - inter AS DOUBLE) AS jaccard
       |FROM j
       |WHERE CAST(inter AS DOUBLE) / CAST(tot - inter AS DOUBLE) >= 0.8""".stripMargin

  private lazy val sqlWordNearDupPairs: String =
    s"WITH $sqlWordNearDupCtes\n$sqlWordNearDupSelect"

  /** The q25 pairs as undirected `edges(s, d)`, both directions. */
  private lazy val sqlNearDupEdgeCtes: String =
    s"""$sqlWordNearDupCtes,
       |pairs AS ($sqlWordNearDupSelect),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs)""".stripMargin

  /** `comp(node, cluster_id)`: min reachable id over `edges` (recursive). */
  private lazy val sqlNearDupCompCtes: String =
    s"""$sqlNearDupEdgeCtes,
       |enodes AS (SELECT DISTINCT s AS node FROM edges),
       |reach(node, label) AS (
       |  SELECT node, node FROM enodes
       |  UNION
       |  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node),
       |comp AS (SELECT node, min(label) AS cluster_id
       |  FROM reach GROUP BY node)""".stripMargin

  /** Twin of `SparkEntry.annI8` (q65/q49): int8 codes via trunc-toward-zero
    * (Java (byte)-cast twin), exact integer dots, ranking by quantized
    * COSINE (same metric as the float path — q49's recall then measures
    * pure quantization loss); zero-norm codes excluded on both sides. */
  /** DuckDB twin of [[graft.operators.VectorOps.dotD]] over projected
    * double lists (no float cast — the elements are already double). */
  private def sqlRpDot(a: String, b: String, dims: Int): String =
    s"list_reduce([$a[i]*$b[i] for i in generate_series(1,$dims)], " +
      "(x,y) -> x+y)"

  /** DuckDB twin of [[graft.operators.VectorOps.randomProject]]: the
    * `dims` projections as a double list, each a left fold over the SAME
    * md5-derived literal weights the Column expression embeds — parity
    * by construction, no cross-engine weight formula. */
  private def sqlRpList(v: String, dims: Int): String =
    (0 until dims).map { p =>
      val prods = (1 to 64).map(j =>
        s"CAST($v[$j] AS DOUBLE)*CAST(${Vec.rpWeight(p, j)} AS DOUBLE)")
        .mkString("[", ", ", "]")
      s"list_reduce($prods, (x,y) -> x+y)"
    }.mkString("[", ", ", "]")

  /** DuckDB twin of q126 (and q49's rp row): projected-space brute-force
    * cosine top-3. */
  private lazy val sqlRpTopK: String =
    s"""WITH pr AS (SELECT vec_id, ${sqlRpList("embedding", 16)} AS rp
       |  FROM embeddings),
       |nn AS (SELECT vec_id, rp,
       |  sqrt(${sqlRpDot("rp", "rp", 16)}) AS n FROM pr),
       |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${sqlRpDot("q.rp", "c.rp", 16)} / (q.n * c.n) AS cosine_rp
       | FROM nn q JOIN nn c ON q.vec_id <> c.vec_id
       | WHERE q.vec_id < 20 AND q.n > 0 AND c.n > 0),
       |r AS (SELECT query_id, neighbor_id, cosine_rp, row_number() OVER
       |  (PARTITION BY query_id ORDER BY cosine_rp DESC, neighbor_id)
       |  AS rnk FROM s)
       |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS "rank",
       | cosine_rp
       |FROM r WHERE rnk <= 3""".stripMargin

  /** DuckDB twin of [[graft.operators.TextOps.bpeMerges]]'s training
    * loop: `rounds` CTE blocks, each counting adjacent symbol pairs
    * weighted by word count (p$r), picking the (cnt desc, l, r)-argmax
    * merge (b$r), and applying it to the sep-string vocabulary (s$r).
    * Expects a preceding CTE `wc(w, n)` — the global word-count table —
    * and emits s0 itself. Shared by the q119 (training output) and q121
    * (application) oracles so both learn bit-identical rules. */
  private def sqlBpeTrainCtes(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val prev = s"s${r - 1}"
      s"""p$r AS (SELECT (pr).l AS l, (pr).r AS r,
         |  CAST(sum(n) AS BIGINT) AS cnt
         | FROM (SELECT n, unnest([struct_pack(l := sy[i], r := sy[i+1])
         |   for i in generate_series(1, len(sy) - 1)]) AS pr
         |  FROM (SELECT n, list_filter(string_split(s, chr(31)),
         |    x -> x <> '') AS sy FROM $prev)) GROUP BY 1, 2),
         |b$r AS (SELECT l, r, cnt FROM (SELECT l, r, cnt, row_number()
         |  OVER (ORDER BY cnt DESC, l, r) AS rk FROM p$r) WHERE rk = 1),
         |s$r AS (SELECT n, replace(s, chr(31) || b.l || chr(31) ||
         |  b.r || chr(31), chr(31) || b.l || b.r || chr(31)) AS s
         |  FROM $prev, b$r b)""".stripMargin
    }.mkString(",\n")
    // NOTE: emitted lines must never begin with (whitespace +) '|': this
    // block is interpolated into templates that call .stripMargin AGAIN,
    // which would eat one pipe of a line-leading '||'.
    s"""s0 AS (SELECT n, chr(31) || array_to_string(
       |   [w[i] for i in generate_series(1, len(w))], chr(31)) ||
       |   chr(31) AS s FROM wc),
       |$steps""".stripMargin
  }

  private def sqlI8TopKAt(k: Int): String =
    s"""WITH a AS (SELECT vec_id, embedding,
      |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
      |   AS amax FROM embeddings),
      |cd AS (SELECT vec_id,
      |  CASE WHEN amax = 0 THEN list_transform(embedding, x -> 0::BIGINT)
      |   ELSE list_transform(embedding, x ->
      |     CAST(trunc(CAST(x AS DOUBLE) * 127.0 / amax) AS BIGINT)) END
      |   AS codes FROM a),
      |cn AS (SELECT vec_id, codes,
      |  CAST(list_dot_product(codes, codes) AS BIGINT) AS sd
      | FROM cd),
      |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  CAST(list_dot_product(q.codes, c.codes) AS BIGINT) AS qdot,
      |  CAST(list_dot_product(q.codes, c.codes) AS DOUBLE) /
      |   sqrt(CAST(q.sd AS DOUBLE) * CAST(c.sd AS DOUBLE)) AS cosine_i8
      | FROM cn q JOIN cn c ON q.vec_id <> c.vec_id
      | WHERE q.vec_id < 20 AND q.sd > 0 AND c.sd > 0),
      |r AS (SELECT query_id, neighbor_id, qdot, cosine_i8, row_number()
      |  OVER (PARTITION BY query_id ORDER BY cosine_i8 DESC, neighbor_id)
      |  AS rnk FROM s)
      |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS "rank", qdot,
      | cosine_i8
      |FROM r WHERE rnk <= $k""".stripMargin

  private lazy val sqlI8TopK: String = sqlI8TopKAt(3)

  /** CTE `v(query_id, nlab, cnt)`: label votes of the exact 5-NN. */
  private val sqlKnnVoteCtes: String =
    s"""s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  ${sqlCosine("q.embedding", "c.embedding")} AS cosine
       | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       | WHERE q.vec_id < 200),
       |r AS (SELECT query_id, neighbor_id, row_number() OVER
       |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
       |  AS rnk FROM s),
       |v AS (SELECT r.query_id, e.label AS nlab, count(*) AS cnt
       | FROM r JOIN embeddings e ON r.neighbor_id = e.vec_id
       | WHERE r.rnk <= 5 GROUP BY 1, 2)""".stripMargin

  /** CTE `pp(ok, pk)`: distinct (order, part) basket membership. */
  private val sqlBasketPairsCte: String =
    """pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem)""".stripMargin

  /** CTE `sym(node, peer, w)`: weighted `e(a, b, w)`, both directions. */
  private val sqlWeightedSymCte: String =
    """sym AS (SELECT a AS node, b AS peer, w FROM e
      |  UNION ALL SELECT b, a, w FROM e)""".stripMargin

  /** CTEs `pp`, `e(a, b, w = shared orders)`, `sym`: co-purchase graph. */
  private val sqlCoPurchaseSymCtes: String =
    s"""$sqlBasketPairsCte,
       |e AS (SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS w
       |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.pk < y.pk
       | GROUP BY 1, 2),
       |$sqlWeightedSymCte""".stripMargin

  /** CTE `wd(node, s)`: weighted degree over `sym`. */
  private val sqlWeightedDegreeCte: String =
    """wd AS (SELECT node, CAST(sum(w) AS BIGINT) AS s
      |  FROM sym GROUP BY 1)""".stripMargin

  /** CTE `e(u, v)`: `pp`'s co-purchase pairs as canonical u < v edges. */
  private val sqlUndirectedEdgeCte: String =
    """e AS (SELECT DISTINCT least(x.pk, y.pk) AS u,
      |  greatest(x.pk, y.pk) AS v FROM pp x
      |  JOIN pp y ON x.ok = y.ok AND x.pk < y.pk)""".stripMargin

  /** CTE `deg(node, d)`: degree over the undirected `e(u, v)`. */
  private val sqlDegreeCte: String =
    """deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM
      |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      | GROUP BY 1)""".stripMargin

  /** CTEs `e`, `c`: every 10th user's states with the previous state. */
  private val sqlScdLagCtes: String =
    """e AS (SELECT user_id, event_type AS state,
      |  epoch_us(ts) AS us, event_id
      | FROM events WHERE user_id % 10 = 0),
      |c AS (SELECT *, lag(state) OVER
      |  (PARTITION BY user_id ORDER BY us, event_id) AS prev,
      |  lag(1) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |   AS seen FROM e)""".stripMargin

  /** CTE `m(mid)`: the pre/post split, midpoint of `ev`'s µs range. */
  private val sqlAbMidCte: String =
    "m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev)"

  /** CTEs `ev(user_id, us, cents)` (purchase cents, else 0) and `m`. */
  private val sqlAbCentsCtes: String =
    s"""ev AS (SELECT user_id, epoch_us(ts) AS us,
       |  CASE WHEN event_type = 'purchase' AND value IS NOT NULL
       |   THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
       |   ELSE 0 END AS cents
       | FROM events),
       |$sqlAbMidCte""".stripMargin

  /** CTEs `ev(user_id, us, event_type)` and [[sqlAbMidCte]]. */
  private val sqlAbEventCtes: String =
    s"""ev AS (SELECT user_id, epoch_us(ts) AS us, event_type
       |  FROM events),
       |$sqlAbMidCte""".stripMargin

  /** CTE `cw(grp, v, c, cum, n)`: running/total counts over `h`. */
  private val sqlCumCountCte: String =
    """cw AS (SELECT grp, v, c,
      |  sum(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
      |  sum(c) OVER (PARTITION BY grp) AS n FROM h)""".stripMargin

  /** CTEs `b`, `c`: the Wilson-interval (z = 1.96) terms of the success
    * counts `a(g, n, s)`, AnalyticsOps.wilsonBounds' expression order. */
  private def sqlWilsonCtes(g: String): String =
    s"""b AS (SELECT $g, n, s,
       |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS p,
       |  CAST(n AS DOUBLE) AS nd,
       |  CAST(1.96 AS DOUBLE) AS zc,
       |  CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS zz FROM a),
       |c AS (SELECT $g, n, s, p,
       |  CAST(1.0 AS DOUBLE) + zz / nd AS denom,
       |  p + zz / (CAST(2.0 AS DOUBLE) * nd) AS center,
       |  zc * sqrt((p * (CAST(1.0 AS DOUBLE) - p)) / nd +
       |    zz / ((CAST(4.0 AS DOUBLE) * nd) * nd)) AS margin FROM b)"""
      .stripMargin

  /** The select-list tail reading [[sqlWilsonCtes]]: bounds clamped to
    * [0, 1]. */
  private val sqlWilsonBounds: String =
    """ greatest((center - margin) / denom, CAST(0.0 AS DOUBLE))
      |  AS wilson_lo,
      | least((center + margin) / denom, CAST(1.0 AS DOUBLE))
      |  AS wilson_hi FROM c""".stripMargin

  /** CTEs `gt`, `tot`, `d(k, n_docs, ssb, ssw)`: one-way ANOVA sums of
    * squares from the per-source sums `g(source, n_j, s_j, ss_j)`. */
  private val sqlAnovaCtes: String =
    """gt AS (SELECT source, n_j, s_j, ss_j,
      |  CAST(s_j * s_j AS DOUBLE) / CAST(n_j AS DOUBLE) AS term
      | FROM g),
      |tot AS (SELECT CAST(sum(n_j) AS BIGINT) AS nn,
      |  sum(s_j) AS s, sum(ss_j) AS ss,
      |  CAST(count(DISTINCT source) AS BIGINT) AS k,
      |  list_reduce(list(term ORDER BY source), (x, y) -> x + y)
      |   AS sum_terms
      | FROM gt),
      |d AS (SELECT k, nn AS n_docs,
      |  sum_terms - CAST(s * s AS DOUBLE) / CAST(nn AS DOUBLE)
      |   AS ssb,
      |  (CAST(ss AS DOUBLE)
      |    - CAST(s * s AS DOUBLE) / CAST(nn AS DOUBLE))
      |   - (sum_terms - CAST(s * s AS DOUBLE) / CAST(nn AS DOUBLE))
      |   AS ssw
      | FROM tot)""".stripMargin

  /** CTEs `v`, `lf(l1, l2, l3)`: the three document labeling functions
    * (good/bad/abstain) of the weak-supervision twins. */
  private val sqlLabelFnCtes: String =
    """v AS (SELECT
      | len(string_split(text, ' ')) AS nt,
      | len(list_distinct(string_split(text, ' '))) AS nd,
      | len(list_filter(string_split(text, ' '),
      |   w -> w = 'the' OR w = 'a')) AS ns
      | FROM documents),
      |lf AS (SELECT
      | CASE WHEN nt >= 30 AND nt <= 90 THEN 'good'
      |  WHEN nt < 15 THEN 'bad' END AS l1,
      | CASE WHEN nd * 5 >= nt * 3 THEN 'good'
      |  WHEN nd * 5 <= nt * 2 THEN 'bad' END AS l2,
      | CASE WHEN ns >= 2 THEN 'good' WHEN ns = 0 THEN 'bad' END AS l3
      | FROM v)""".stripMargin

  def apply(dir: String): Map[String, String] = Map(
    "q01_rate_by_year" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS order_year,
         | count(*) AS n_items,
         | CAST(CAST(sum($rev) AS VARCHAR) AS DOUBLE) AS revenue,
         | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
         | round_even((CAST(CAST(sum($rev) AS VARCHAR) AS DOUBLE)
         |   / CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE))
         |   * 100000.0, 2) AS rate_per_100k
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_quantity > 0
         |GROUP BY 1""".stripMargin,

    "q02_project_rename" ->
      """SELECT n_nationkey AS nation_id, n_name AS nation_name,
        | lower(trim(n_name)) AS nation_name_norm FROM nation""".stripMargin,

    // NOT EXISTS, not NOT IN: null-safe, matching left_anti semantics
    // exactly even if exclusion keys ever become nullable (ADVICE r1).
    "q03_anti_join_exclusion" ->
      """SELECT n_nationkey, n_name FROM nation
        |WHERE NOT EXISTS
        | (SELECT 1 FROM region WHERE r_regionkey = n_regionkey
        |   AND r_name IN ('ASIA','AMERICA'))""".stripMargin,

    "q04_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS
        | (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |   AND year(o_orderdate) = 2001)""".stripMargin,

    "q05_validity_filter" ->
      """SELECT p_partkey, p_brand, p_type, p_size, p_retailprice FROM part
        |WHERE p_brand IS NOT NULL AND length(p_brand) = 8
        | AND p_retailprice IS NOT NULL AND p_retailprice > 0
        | AND p_size IS NOT NULL AND p_size BETWEEN 1 AND 25""".stripMargin,

    "q06_json_coerce" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(k) AS BIGINT) AS sum_k,
        | min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |WHERE k IS NOT NULL AND k >= 0
        |GROUP BY event_type""".stripMargin,

    "q07_dedup_first" ->
      """SELECT c_nationkey, c_mktsegment, c_custkey, c_name FROM (
        | SELECT c_nationkey, c_mktsegment, c_custkey, c_name,
        |  row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
        |                     ORDER BY c_custkey) AS rn
        | FROM customer) WHERE rn = 1""".stripMargin,

    "q08_lookup_fallback" ->
      """SELECT n.n_nationkey, n.n_name,
        | COALESCE(l.lk_val, n.n_name) AS canonical
        |FROM nation n LEFT JOIN (
        | SELECT n_name AS lk_key, r_name AS lk_val
        | FROM nation JOIN region ON n_regionkey = r_regionkey
        | WHERE r_name = 'EUROPE') l ON n.n_name = l.lk_key""".stripMargin,

    "q09_composite_join_rate" ->
      """SELECT l_suppkey, ship_year, shipped_qty, returned_qty,
        | round_even((returned_qty / shipped_qty) * 100000.0, 2)
        |  AS rate_per_100k
        |FROM (
        | SELECT l_suppkey, CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |   AS shipped_qty,
        |  CAST(CAST(sum(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS VARCHAR)
        |   AS DOUBLE)
        |   AS returned_qty
        | FROM lineitem GROUP BY 1, 2)
        |WHERE returned_qty IS NOT NULL""".stripMargin,

    "q10_union_by_year" ->
      """SELECT o_orderkey, 1995 AS order_year FROM orders
        | WHERE year(o_orderdate) = 1995
        |UNION ALL
        |SELECT o_orderkey, 1996 AS order_year FROM orders
        | WHERE year(o_orderdate) = 1996
        |UNION ALL
        |SELECT o_orderkey, 1997 AS order_year FROM orders
        | WHERE year(o_orderdate) = 1997""".stripMargin,

    "q11_star_join" ->
      s"""SELECT r_name, n_name, count(*) AS n_items,
         | CAST(CAST(sum($rev) AS VARCHAR) AS DOUBLE) AS revenue
         |FROM lineitem
         | JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation ON c_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1, 2""".stripMargin,

    "q12_avg_by_group" ->
      """SELECT n_name, count(*) AS n_customers,
        | CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_acctbal,
        | CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*)
        |  AS avg_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,

    "q13_window_lag" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(date_diff('day', CAST(prev_date AS DATE),
        |   CAST(o_orderdate AS DATE)) AS INT) AS gap_days
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |  lag(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_date
        | FROM orders)""".stripMargin,

    "q14_topk_revenue" ->
      s"""SELECT o_custkey, CAST(CAST(sum($rev) AS VARCHAR) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY revenue DESC, o_custkey LIMIT 10""".stripMargin,

    "q15_bucketize" ->
      """SELECT CASE
        |  WHEN o_totalprice >= 0 AND o_totalprice < 50000
        |    THEN '0 - 50000'
        |  WHEN o_totalprice >= 50000 AND o_totalprice < 100000
        |    THEN '50000 - 100000'
        |  WHEN o_totalprice >= 100000 AND o_totalprice < 200000
        |    THEN '100000 - 200000'
        |  WHEN o_totalprice >= 200000 AND o_totalprice < 400000
        |    THEN '200000 - 400000'
        |  WHEN o_totalprice >= 400000 AND o_totalprice < 3000000
        |    THEN '400000 - 3000000'
        |  ELSE 'out of range' END AS bucket,
        | count(*) AS n_orders,
        | CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |  AS total_price
        |FROM orders GROUP BY 1""".stripMargin,

    "q16_viz_prep" ->
      """SELECT n_name,
        | n_name || '<br>Customers ' || CAST(n_customers AS VARCHAR)
        |  || '<br>Balance ' || CAST(CAST(floor(total_bal) AS BIGINT) AS VARCHAR)
        |  AS tooltip,
        | CAST(floor(total_bal / 5000.0) AS BIGINT) AS marker_size
        |FROM (SELECT n_name, count(*) AS n_customers,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_bal
        | FROM customer JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY 1)""".stripMargin,

    // Half-even emulation on exact scaled integers. DuckDB round_even is NOT
    // a bround twin on either type: on DOUBLE it rounds the binary value
    // (18.65000…071→18.7) and on DECIMAL it converts to double internally
    // (observed: round_even(DECIMAL '18.65',1)=18.7), while Spark bround
    // rounds the decimal-string form ("18.65"→18.6). So: scale to integer
    // hundredths via a lossless DECIMAL(18,2) cast and do half-even by hand
    // on abs()+sign (correct for negatives, unlike the r1 emulation —
    // ADVICE r1). `+ 0.0` normalizes -0.0. PRECONDITION (holds for
    // events.value, proven by the value_dec roundtrip): inputs are exact
    // 2-decimal quantities, so the pre-cast is lossless.
    "q17_rounding" ->
      """WITH s AS (SELECT event_id, value,
        |  CAST(abs(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS a,
        |  CASE WHEN value < 0 THEN -1 ELSE 1 END AS sgn
        | FROM events)
        |SELECT event_id, value,
        | sgn * CAST(CASE WHEN a % 10 > 5 THEN a // 10 + 1
        |           WHEN a % 10 < 5 THEN a // 10
        |           ELSE a // 10 + (a // 10) % 2 END AS DOUBLE) / 10.0 + 0.0
        |  AS value_r1,
        | sgn * CAST(CASE WHEN a % 100 > 50 THEN a // 100 + 1
        |           WHEN a % 100 < 50 THEN a // 100
        |           ELSE a // 100 + (a // 100) % 2 END AS DOUBLE) + 0.0
        |  AS value_r0,
        | CAST(CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS DOUBLE) AS value_dec
        |FROM s""".stripMargin,

    "q18_time_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour_start,
        | count(*) AS n,
        | CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1""".stripMargin,

    "q74_cohort_retention" ->
      """WITH c AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY 1),
        |s AS (SELECT cohort_day, count(*) AS cohort_size FROM c GROUP BY 1),
        |a AS (SELECT cohort_day,
        |  CAST(datediff('day', cohort_day, CAST(e.ts AS DATE)) AS INT)
        |    AS days_since,
        |  count(DISTINCT e.user_id) AS n_active
        | FROM events e JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT strftime(a.cohort_day, '%Y-%m-%d') AS cohort_day,
        | a.days_since, CAST(a.n_active AS BIGINT) AS n_active,
        | CAST(s.cohort_size AS BIGINT) AS cohort_size,
        | CAST(a.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
        |  AS retention
        |FROM a JOIN s USING (cohort_day)""".stripMargin,

    "q75_funnel" ->
      """WITH f1 AS (SELECT user_id, min(epoch_us(ts)) AS t
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |f2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN f1 ON e.user_id = f1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > f1.t GROUP BY 1),
        |f3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN f2 ON e.user_id = f2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f2.t GROUP BY 1),
        |n AS (
        |  SELECT 1 AS step, 'signup' AS step_label,
        |    (SELECT count(*) FROM f1) AS n_actors
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM f2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM f3))
        |SELECT step, step_label, n_actors,
        | CAST(n_actors AS DOUBLE) /
        |  CAST((SELECT count(*) FROM f1) AS DOUBLE) AS frac_of_entry
        |FROM n""".stripMargin,

    // q76 twin: the same doubled-integer median/MAD discipline — both
    // medians computed from a (value → count) histogram with cumulative
    // counts (med2 = 2·median and mad4 = 4·MAD are exact integers), the
    // flag test and the reported med/mad the identical pinned-order
    // double expressions over those integers.
    "q76_robust_outliers" ->
      """WITH v AS (SELECT event_type AS grp,
        |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        | FROM events WHERE value IS NOT NULL),
        |h1 AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
        | FROM v GROUP BY 1, 2),
        |c1 AS (SELECT grp, v, c,
        |  sum(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
        |  sum(c) OVER (PARTITION BY grp) AS n FROM h1),
        |m1 AS (SELECT grp, CAST(max(n) AS BIGINT) AS n,
        |  min(CASE WHEN cum > (n - 1) // 2 THEN v END) AS lo,
        |  min(CASE WHEN cum > (n - 1) // 2 + 1 THEN v END) AS hi
        | FROM c1 GROUP BY 1),
        |md AS (SELECT grp, CASE WHEN (n - 1) % 2 = 0 THEN lo * 2
        |  ELSE lo + hi END AS med2 FROM m1),
        |d AS (SELECT v.grp, md.med2, abs(v.v * 2 - md.med2) AS dev2
        | FROM v JOIN md USING (grp)),
        |h2 AS (SELECT grp, dev2, CAST(count(*) AS BIGINT) AS c
        | FROM d GROUP BY 1, 2),
        |c2 AS (SELECT grp, dev2, c,
        |  sum(c) OVER (PARTITION BY grp ORDER BY dev2) AS cum,
        |  sum(c) OVER (PARTITION BY grp) AS n FROM h2),
        |m2 AS (SELECT grp, CAST(max(n) AS BIGINT) AS n,
        |  min(CASE WHEN cum > (n - 1) // 2 THEN dev2 END) AS lo,
        |  min(CASE WHEN cum > (n - 1) // 2 + 1 THEN dev2 END) AS hi
        | FROM c2 GROUP BY 1),
        |m4 AS (SELECT grp, CASE WHEN (n - 1) % 2 = 0 THEN lo * 2
        |  ELSE lo + hi END AS mad4 FROM m2)
        |SELECT d.grp AS event_type,
        | CAST(max(d.med2) AS DOUBLE) / 2.0 AS med,
        | CAST(max(m4.mad4) AS DOUBLE) / 4.0 AS mad,
        | CAST(count(*) AS BIGINT) AS n_total,
        | CAST(sum(CASE WHEN CAST(d.dev2 AS DOUBLE) >
        |   (3.0 * 1.4826) * (CAST(m4.mad4 AS DOUBLE) / 2.0)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        | CAST(sum(CASE WHEN CAST(d.dev2 AS DOUBLE) >
        |   (3.0 * 1.4826) * (CAST(m4.mad4 AS DOUBLE) / 2.0)
        |   THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  AS outlier_frac
        |FROM d JOIN m4 USING (grp)
        |GROUP BY 1""".stripMargin,

    "q77_group_trend" ->
      """WITH daily AS (SELECT o_orderpriority AS priority,
        |  CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |   AS BIGINT) AS x,
        |  CAST(count(*) AS BIGINT) AS y
        | FROM orders GROUP BY 1, 2),
        |s AS (SELECT priority, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx
        | FROM daily GROUP BY 1)
        |SELECT priority, n AS n_days,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
        | (CAST(sy AS DOUBLE)
        |   - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |   * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
        |FROM s
        |WHERE (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0""".stripMargin,

    "q78_scd2_history" ->
      s"""WITH $sqlScdLagCtes,
         |v AS (SELECT user_id, state, us AS valid_from_us,
         |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
         |   AS valid_to_us
         | FROM c WHERE seen IS NULL OR prev IS DISTINCT FROM state)
         |SELECT user_id, state, valid_from_us, valid_to_us,
         | CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS is_current
         |FROM v""".stripMargin,

    "q79_drift_tvd" ->
      """WITH x AS (SELECT event_type,
        |  epoch_us(ts) >= 1705363200000000 AS in_b,
        |  greatest(least(CAST(floor((value - 0.0) / 50.0) AS INT), 9), 0)
        |   AS bin
        | FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |b AS (SELECT event_type, bin,
        |  CAST(sum(CASE WHEN in_b THEN 0 ELSE 1 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS cb
        | FROM x GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb FROM b GROUP BY 1),
        |j AS (SELECT b.event_type, t.na, t.nb,
        |  abs(CAST(b.ca AS DECIMAL(18,0)) * CAST(t.nb AS DECIMAL(18,0))
        |    - CAST(b.cb AS DECIMAL(18,0)) * CAST(t.na AS DECIMAL(18,0)))
        |   AS term
        | FROM b JOIN t USING (event_type) WHERE t.na > 0 AND t.nb > 0)
        |SELECT event_type, max(na) AS na, max(nb) AS nb,
        | count(*) AS n_bins,
        | CAST(sum(term) AS DOUBLE)
        |  / (2.0 * CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE))
        |   AS tvd,
        | CAST(max(term) AS DOUBLE)
        |  / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)) AS linf
        |FROM j GROUP BY 1""".stripMargin,

    "q80_fuzzy_match" ->
      """WITH p AS (SELECT p_partkey AS probe_id,
        |  substr(p_name, 1, 2) || substr(p_name, 4) AS probe_name,
        |  substr(p_name, 1, 2) AS blk
        | FROM part WHERE p_partkey % 7 = 3),
        |c AS (SELECT p_name AS match_name, min(p_partkey) AS match_id,
        |  substr(p_name, 1, 2) AS blk FROM part GROUP BY 1, 3),
        |j AS (SELECT probe_id, probe_name, match_id, match_name,
        |  CAST(levenshtein(probe_name, match_name) AS INT) AS edit_dist
        | FROM p JOIN c USING (blk)
        | WHERE levenshtein(probe_name, match_name) <= 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
        |  ORDER BY edit_dist, match_id) AS rn FROM j)
        |SELECT probe_id, probe_name, match_id, match_name, edit_dist
        |FROM r WHERE rn = 1""".stripMargin,

    "q81_bloom_semijoin" ->
      s"""SELECT l_returnflag, count(*) AS n_items,
         | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR)
         |  AS DOUBLE) AS sum_qty
         |FROM lineitem
         |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
         |  WHERE s_acctbal < 0)
         |GROUP BY 1""".stripMargin,

    "q82_profile" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderpriority").map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |  AS n_nulls,
           | CAST(count(DISTINCT CAST($c AS VARCHAR)) AS BIGINT)
           |  AS n_distinct,
           | min(TRY_CAST(CAST($c AS VARCHAR) AS DOUBLE)) AS min_num,
           | max(TRY_CAST(CAST($c AS VARCHAR) AS DOUBLE)) AS max_num
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", ""),

    "q83_cusum" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS y FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(y) AS BIGINT) AS tt,
        |  count(*) AS n FROM d GROUP BY 1),
        |w AS (SELECT d.event_type, d.day, d.y,
        |  CAST(sum(d.y) OVER (PARTITION BY d.event_type ORDER BY d.day)
        |   AS BIGINT) AS rs,
        |  row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)
        |   AS rk,
        |  t.tt, t.n
        | FROM d JOIN t USING (event_type))
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        | CAST(y AS BIGINT) AS y,
        | CAST(n * rs - rk * tt AS DOUBLE) / CAST(n AS DOUBLE) AS cusum
        |FROM w""".stripMargin,

    "q84_triangles" ->
      s"""WITH $sqlWordNearDupCtes,
         |pairs AS ($sqlWordNearDupSelect),
         |e AS (SELECT DISTINCT least(id_a, id_b) AS u,
         |  greatest(id_a, id_b) AS v FROM pairs WHERE id_a <> id_b),
         |deg AS (SELECT node, count(*) AS d FROM
         |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
         | GROUP BY 1),
         |tri AS (SELECT count(*) AS t FROM e e1
         |  JOIN e e2 ON e2.u = e1.v
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |sz AS (SELECT count(*) AS n_nodes,
         |  CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg),
         |ne AS (SELECT count(*) AS n_edges FROM e)
         |SELECT sz.n_nodes, ne.n_edges, sz.n_wedges,
         | CAST(tri.t AS BIGINT) AS n_triangles,
         | CASE WHEN sz.n_wedges > 0
         |  THEN (3.0 * CAST(tri.t AS DOUBLE)) / CAST(sz.n_wedges AS DOUBLE)
         |  ELSE 0.0 END AS clustering
         |FROM sz, ne, tri""".stripMargin,

    "q90_rolling_actives" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |d AS (SELECT day, count(DISTINCT user_id) AS dau
        |  FROM a GROUP BY 1),
        |mx AS (SELECT max(day) AS md FROM a),
        |c AS (SELECT user_id, CAST(unnest(generate_series(
        |   CAST(day AS TIMESTAMP),
        |   CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
        |   INTERVAL 1 DAY)) AS DATE) AS wday FROM a),
        |w AS (SELECT c.wday, count(DISTINCT c.user_id) AS wau
        |  FROM c, mx WHERE c.wday <= mx.md GROUP BY 1)
        |SELECT strftime(w.wday, '%Y-%m-%d') AS day,
        | CAST(coalesce(d.dau, 0) AS BIGINT) AS dau,
        | CAST(w.wau AS BIGINT) AS wau,
        | CAST(coalesce(d.dau, 0) AS DOUBLE) / CAST(w.wau AS DOUBLE)
        |  AS stickiness
        |FROM w LEFT JOIN d ON d.day = w.wday""".stripMargin,

    // Fact-table twin of the rollup-served aggregation: equality of this
    // row hash with the rollup read path is the materialized-view
    // contract (sum/count are decomposable; the partial decimal sums
    // re-aggregate exactly).
    "q91_rollup_serve" ->
      """SELECT l_returnflag,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR)
        |  AS DOUBLE) AS sum_price,
        | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR)
        |  AS DOUBLE) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q92_transitions" ->
      """WITH o AS (SELECT event_type AS from_state,
        |  lead(event_type) OVER (PARTITION BY user_id
        |   ORDER BY epoch_us(ts), event_id) AS to_state
        | FROM events),
        |pr AS (SELECT from_state, to_state, count(*) AS n
        | FROM o WHERE to_state IS NOT NULL GROUP BY 1, 2),
        |d AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS n_from
        | FROM pr GROUP BY 1)
        |SELECT pr.from_state, pr.to_state, CAST(pr.n AS BIGINT) AS n,
        | d.n_from,
        | CAST(pr.n AS DOUBLE) / CAST(d.n_from AS DOUBLE) AS p
        |FROM pr JOIN d USING (from_state)""".stripMargin,

    "q93_audience_overlap" ->
      """WITH m AS (SELECT DISTINCT event_type AS seg, user_id
        |  FROM events),
        |s AS (SELECT seg, count(*) AS sz FROM m GROUP BY 1),
        |i AS (SELECT a.seg AS seg_a, b.seg AS seg_b, count(*) AS n_both
        | FROM m a JOIN m b
        |  ON a.user_id = b.user_id AND a.seg < b.seg
        | GROUP BY 1, 2)
        |SELECT i.seg_a, i.seg_b, CAST(sa.sz AS BIGINT) AS n_a,
        | CAST(sb.sz AS BIGINT) AS n_b, CAST(i.n_both AS BIGINT) AS n_both,
        | CAST(i.n_both AS DOUBLE)
        |  / CAST(sa.sz + sb.sz - i.n_both AS DOUBLE) AS jaccard
        |FROM i JOIN s sa ON sa.seg = i.seg_a
        | JOIN s sb ON sb.seg = i.seg_b""".stripMargin,

    "q94_quantile_bins" ->
      """WITH b AS (SELECT event_type, value, ntile(4) OVER
        |  (PARTITION BY event_type ORDER BY value, event_id) AS bin
        | FROM events WHERE value IS NOT NULL)
        |SELECT event_type, CAST(bin AS INT) AS bin, count(*) AS n,
        | min(value) AS lo, max(value) AS hi
        |FROM b GROUP BY 1, 2""".stripMargin,

    "q95_seasonality" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |  count(*) AS cnt FROM events GROUP BY 1, 2),
        |w AS (SELECT *, dayofweek(d) + 1 AS dow FROM daily),
        |base AS (SELECT event_type, dow, CAST(sum(cnt) AS BIGINT)
        |   AS dow_total, count(*) AS n_dowdays
        | FROM w GROUP BY 1, 2)
        |SELECT w.event_type, strftime(w.d, '%Y-%m-%d') AS day,
        | CAST(w.dow AS INT) AS dow, CAST(w.cnt AS BIGINT) AS cnt,
        | base.dow_total, base.n_dowdays,
        | CAST(w.cnt * base.n_dowdays AS DOUBLE)
        |  / CAST(base.dow_total AS DOUBLE) AS dow_ratio
        |FROM w JOIN base USING (event_type, dow)""".stripMargin,

    "q97_snapshot_reconcile" ->
      s"""WITH a AS (SELECT doc_id, md5(text) AS fp FROM documents),
         |b AS (SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0
         |    THEN text || ' v2' ELSE text END) AS fp
         |  FROM documents WHERE doc_id % 13 <> 0
         | UNION ALL
         | SELECT -(doc_id + 1) AS doc_id, md5(text) AS fp
         |  FROM documents WHERE doc_id % 11 = 0),
         |da AS (SELECT ${hx("CAST(doc_id AS VARCHAR)", 8)} % 64 AS bucket,
         |  count(*) AS n_a, bit_xor(${hx("fp", 15)}) AS dg
         | FROM a GROUP BY 1),
         |db AS (SELECT ${hx("CAST(doc_id AS VARCHAR)", 8)} % 64 AS bucket,
         |  count(*) AS n_b, bit_xor(${hx("fp", 15)}) AS dg
         | FROM b GROUP BY 1),
         |mm AS (SELECT coalesce(da.bucket, db.bucket) AS bucket,
         |  CAST(coalesce(da.n_a, 0) AS BIGINT) AS n_a,
         |  CAST(coalesce(db.n_b, 0) AS BIGINT) AS n_b
         | FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
         | WHERE da.dg IS DISTINCT FROM db.dg
         |  OR da.n_a IS DISTINCT FROM db.n_b),
         |ra AS (SELECT ${hx("CAST(doc_id AS VARCHAR)", 8)} % 64 AS bucket,
         |  CAST(doc_id AS VARCHAR) AS k, fp FROM a
         | WHERE ${hx("CAST(doc_id AS VARCHAR)", 8)} % 64 IN
         |  (SELECT bucket FROM mm)),
         |rb AS (SELECT ${hx("CAST(doc_id AS VARCHAR)", 8)} % 64 AS bucket,
         |  CAST(doc_id AS VARCHAR) AS k, fp FROM b
         | WHERE ${hx("CAST(doc_id AS VARCHAR)", 8)} % 64 IN
         |  (SELECT bucket FROM mm)),
         |rd AS (SELECT coalesce(ra.bucket, rb.bucket) AS bucket,
         |  CAST(sum(CASE WHEN ra.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_added,
         |  CAST(sum(CASE WHEN rb.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_removed,
         |  CAST(sum(CASE WHEN ra.fp IS NOT NULL AND rb.fp IS NOT NULL
         |    AND ra.fp <> rb.fp THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
         | FROM ra FULL OUTER JOIN rb
         |  ON ra.bucket = rb.bucket AND ra.k = rb.k
         | GROUP BY 1)
         |SELECT mm.bucket, mm.n_a, mm.n_b, rd.n_added, rd.n_removed,
         | rd.n_changed
         |FROM mm JOIN rd USING (bucket)""".stripMargin,

    "q98_weighted_median" ->
      """WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS w, doc_id
        | FROM documents),
        |c AS (SELECT lang, v, doc_id,
        |  CAST(sum(w) OVER (PARTITION BY lang ORDER BY v, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |  CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS tot
        | FROM d WHERE v IS NOT NULL AND w > 0),
        |q AS (SELECT lang, v, tot, row_number() OVER
        |  (PARTITION BY lang ORDER BY v, doc_id) AS rn
        | FROM c WHERE 2 * cum >= tot)
        |SELECT lang, v AS weighted_median, tot AS total_weight
        |FROM q WHERE rn = 1""".stripMargin,

    // BM25 twin: identical IEEE op sequence per (doc, term) contribution
    // (rational idf × saturation, one fixed parenthesization), floored to
    // a scaled BIGINT before the per-doc sum — integer summation makes
    // the result order-free, so the two engines agree to the bit. The
    // double literals are interpolated from the SAME Scala doubles the
    // Spark plan uses (toString round-trips, DuckDB parses to the
    // identical IEEE value).
    "q100_bm25" -> {
      val vals = Bm25Queries
        .map { case (q, t) => s"('$q','$t')" }.mkString(", ")
      s"""WITH q(query_id, term) AS (VALUES $vals),
         |d AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(dl) AS BIGINT) AS sumdl FROM dl),
         |e AS (SELECT doc_id, unnest(toks) AS term FROM d),
         |tf AS (SELECT q.query_id, e.term, e.doc_id,
         |  CAST(count(*) AS BIGINT) AS tf
         | FROM e JOIN q ON e.term = q.term GROUP BY 1, 2, 3),
         |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         | FROM tf GROUP BY 1),
         |sc AS (SELECT tf.query_id, tf.doc_id,
         |  CAST(floor((((CAST(g.n - df.df AS DOUBLE) + 0.5)
         |      / (CAST(df.df AS DOUBLE) + 0.5))
         |    * ((CAST(tf.tf AS DOUBLE) * ${1.2 + 1.0})
         |      / (CAST(tf.tf AS DOUBLE) + ${1.2} * (${1.0 - 0.75}
         |        + ${0.75} * (CAST(dl.dl AS DOUBLE)
         |          / (CAST(g.sumdl AS DOUBLE) / CAST(g.n AS DOUBLE)))))))
         |   * ${1e6}) AS BIGINT) AS fp
         | FROM tf JOIN df USING (term) JOIN dl USING (doc_id), g),
         |a AS (SELECT query_id, doc_id, CAST(sum(fp) AS BIGINT)
         |   AS score_fp, count(*) AS n_terms
         | FROM sc GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, score_fp, n_terms, row_number()
         |  OVER (PARTITION BY query_id ORDER BY score_fp DESC, doc_id)
         |   AS rnk FROM a)
         |SELECT query_id, doc_id, CAST(rnk AS INT) AS "rank", score_fp,
         | n_terms
         |FROM r WHERE rnk <= 10""".stripMargin
    },

    "q99_churn_census" ->
      """WITH l AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_day
        |  FROM events GROUP BY 1),
        |m AS (SELECT max(last_day) AS md FROM l),
        |g AS (SELECT CAST(datediff('day', last_day, md) AS INT) AS gap
        |  FROM l, m)
        |SELECT CASE WHEN gap >= 2 THEN 2 WHEN gap >= 1 THEN 1
        |  ELSE 0 END AS gap_bucket,
        | count(*) AS n_actors, min(gap) AS min_gap, max(gap) AS max_gap
        |FROM g GROUP BY 1""".stripMargin,

    "q96_json_props" ->
      """WITH k AS (SELECT event_type,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        | FROM events)
        |SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        | min(k) AS min_k, max(k) AS max_k
        |FROM k WHERE k IS NOT NULL GROUP BY 1""".stripMargin,

    "q101_quality_audit" ->
      """SELECT * FROM (
        |SELECT 'fk_lineitem_orders' AS "check", count(*) AS n_violations
        | FROM lineitem l WHERE l.l_orderkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'fk_orders_customer', count(*) FROM orders o
        | WHERE o.o_custkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer c
        |    WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'pk_documents_doc_id', count(*) FROM (
        | SELECT doc_id FROM documents GROUP BY 1 HAVING count(*) > 1)
        |UNION ALL
        |SELECT 'null_events_value', count(*) FROM events
        | WHERE value IS NULL
        |UNION ALL
        |SELECT 'expect_value_le_400', count(*) FROM events
        | WHERE NOT coalesce(value <= 400.0, FALSE)
        |UNION ALL
        |SELECT 'expect_doc_len_ge_100', count(*) FROM documents
        | WHERE NOT coalesce(n_chars >= 100, FALSE)
        |UNION ALL
        |SELECT 'expect_nchars_consistent', count(*) FROM documents
        | WHERE NOT coalesce(n_chars = length(text), FALSE)
        |UNION ALL
        |SELECT 'expect_quantity_range', count(*) FROM lineitem
        | WHERE NOT coalesce(l_quantity >= 1 AND l_quantity <= 50, FALSE)
        |) ORDER BY "check"""".stripMargin,

    "q102_leakage_split" ->
      s"""WITH RECURSIVE $sqlNearDupCompCtes,
         |assigned AS (SELECT d.doc_id,
         |  coalesce(c.cluster_id, d.doc_id) AS split_group
         | FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
         |bucketed AS (SELECT doc_id, split_group,
         |  ${hx("'q102split' || CAST(split_group AS VARCHAR)", 8)} % 10
         |   AS b
         | FROM assigned)
         |SELECT CASE WHEN b < 8 THEN 'train'
         |  WHEN b < 9 THEN 'validation' ELSE 'test' END AS split,
         | count(*) AS n_docs, count(DISTINCT split_group) AS n_groups,
         | min(doc_id) AS min_doc_id
         |FROM bucketed GROUP BY 1""".stripMargin,

    // Replays rankSumTest's exact op sequence: doubled average ranks stay
    // integral (2·minrank + ties − 1); U1/mu/sigma assemble through the
    // identical division/sqrt order so the doubles hash-match.
    "q103_ranksum" ->
      """WITH p AS (SELECT event_type AS s, value AS v FROM events
        |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
        |ranked AS (SELECT s,
        |  2 * CAST(rank() OVER (ORDER BY v) AS BIGINT)
        |   + CAST(count(*) OVER (PARTITION BY v) AS BIGINT) - 1 AS r2,
        |  CAST(count(*) OVER (PARTITION BY v) AS BIGINT) AS ties
        | FROM p),
        |agg AS (SELECT
        |  CAST(sum(CASE WHEN s = 'click' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n1,
        |  CAST(sum(CASE WHEN s = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n2,
        |  CAST(sum(CASE WHEN s = 'click' THEN r2 END) AS BIGINT) AS r1x2,
        |  CAST(sum(ties * ties - 1) AS BIGINT) AS tcorr
        | FROM ranked),
        |u AS (SELECT n1, n2,
        |  CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1, tcorr
        | FROM agg),
        |m AS (SELECT n1, n2, u1, tcorr,
        |  CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0 AS mu,
        |  sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
        |   * (CAST(n1 + n2 + 1 AS DOUBLE)
        |      - CAST(tcorr AS DOUBLE)
        |        / (CAST(n1 + n2 AS DOUBLE)
        |           * CAST(n1 + n2 - 1 AS DOUBLE)))) AS sigma
        | FROM u)
        |SELECT n1, n2, u1, (u1 - mu) / sigma AS z FROM m""".stripMargin,

    "q104_gapfill" ->
      """WITH obs AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |  CAST(sum(1) AS BIGINT) AS n
        | FROM events WHERE value > 300.0 GROUP BY 1, 2),
        |spine AS (SELECT g,
        |  CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        | FROM (SELECT g, min(day) AS lo, max(day) AS hi
        |   FROM obs GROUP BY 1)),
        |filled AS (SELECT s.g, s.day, o.n IS NOT NULL AS is_observed,
        |  last_value(o.n IGNORE NULLS) OVER (PARTITION BY s.g
        |    ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS carried,
        |  coalesce(o.n, 0) AS n
        | FROM spine s LEFT JOIN obs o ON o.g = s.g AND o.day = s.day)
        |SELECT g AS event_type, strftime(day, '%Y-%m-%d') AS day, n,
        | is_observed, carried
        |FROM filled""".stripMargin,

    // The halving fold replays ewmaSmooth exactly: list() over the same
    // 40-row frame preserves frame order, list_reduce folds left, and the
    // prepended 0.0 seeds the zero-init recursion ((0+x1)/2 = x1/2).
    "q105_ewma" ->
      """WITH obs AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |  CAST(sum(1) AS BIGINT) AS n
        | FROM events WHERE value > 300.0 GROUP BY 1, 2),
        |spine AS (SELECT g,
        |  CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        | FROM (SELECT g, min(day) AS lo, max(day) AS hi
        |   FROM obs GROUP BY 1)),
        |filled AS (SELECT s.g, s.day, coalesce(o.n, 0) AS n
        | FROM spine s LEFT JOIN obs o ON o.g = s.g AND o.day = s.day),
        |seq AS (SELECT g, day, n,
        |  list(CAST(n AS DOUBLE)) OVER (PARTITION BY g ORDER BY day
        |    ROWS BETWEEN 39 PRECEDING AND CURRENT ROW) AS terms
        | FROM filled)
        |SELECT g AS event_type, strftime(day, '%Y-%m-%d') AS day, n,
        | list_reduce(list_prepend(CAST(0.0 AS DOUBLE), terms),
        |   (acc, x) -> (acc + x) / 2.0) AS ewma
        |FROM seq""".stripMargin,

    "q107_quality_calibration" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
        |  percent_rank() OVER (PARTITION BY source ORDER BY n_chars)
        |   AS score_pct
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        | min(n_chars) AS threshold_chars, min(doc_id) AS min_doc_id
        |FROM r WHERE score_pct >= 0.8 GROUP BY 1""".stripMargin,

    // HUGEINT cross terms replay Spark's DECIMAL(38,0) arithmetic: both
    // are exact integers, and the one double cast of identical integers
    // is the identical double.
    "q108_correlation" ->
      """WITH p AS (SELECT event_type AS grp,
        |  CAST(hour(ts) AS BIGINT) AS x,
        |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        | FROM events WHERE value IS NOT NULL),
        |s AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x*x) AS BIGINT) AS sxx,
        |  CAST(sum(y*y) AS BIGINT) AS syy,
        |  CAST(sum(x*y) AS BIGINT) AS sxy
        | FROM p GROUP BY 1),
        |d AS (SELECT grp, n,
        |  CAST(CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
        |    - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) AS num,
        |  CAST(CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
        |    - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE) AS dx,
        |  CAST(CAST(n AS HUGEINT) * CAST(syy AS HUGEINT)
        |    - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) AS dy
        | FROM s)
        |SELECT grp, n, CASE WHEN dx > 0.0 AND dy > 0.0
        | THEN num / (sqrt(dx) * sqrt(dy)) END AS r
        |FROM d""".stripMargin,

    "q109_pagerank" ->
      s"""WITH $sqlBasketPairsCte,
         |e AS (SELECT DISTINCT x.pk AS a, y.pk AS b FROM pp x JOIN pp y
         |  ON x.ok = y.ok AND x.pk < y.pk),
         |sym AS (SELECT a AS u, b AS v FROM e
         |  UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS outdeg
         |  FROM sym GROUP BY 1),
         |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank, outdeg
         |  FROM deg),
         |m1 AS (SELECT s.v AS node,
         |  CAST(sum(r.rank // r.outdeg) AS BIGINT) AS mass
         | FROM sym s JOIN r0 r ON s.u = r.node GROUP BY 1),
         |r1 AS (SELECT d.node,
         |  CAST(150000000 + (85 * m.mass) // 100 AS BIGINT) AS rank,
         |  d.outdeg FROM deg d JOIN m1 m ON d.node = m.node),
         |m2 AS (SELECT s.v AS node,
         |  CAST(sum(r.rank // r.outdeg) AS BIGINT) AS mass
         | FROM sym s JOIN r1 r ON s.u = r.node GROUP BY 1),
         |r2 AS (SELECT d.node,
         |  CAST(150000000 + (85 * m.mass) // 100 AS BIGINT) AS rank,
         |  d.outdeg FROM deg d JOIN m2 m ON d.node = m.node),
         |m3 AS (SELECT s.v AS node,
         |  CAST(sum(r.rank // r.outdeg) AS BIGINT) AS mass
         | FROM sym s JOIN r2 r ON s.u = r.node GROUP BY 1),
         |r3 AS (SELECT d.node,
         |  CAST(150000000 + (85 * m.mass) // 100 AS BIGINT) AS rank,
         |  d.outdeg FROM deg d JOIN m3 m ON d.node = m.node)
         |SELECT node AS part, rank, outdeg AS degree FROM r3
         |ORDER BY rank DESC, node LIMIT 20""".stripMargin,

    "q110_sorted_neighborhood" ->
      """WITH s AS (SELECT lang, doc_id, n_chars,
        |  lead(doc_id, 1) OVER w AS b1, lead(doc_id, 2) OVER w AS b2,
        |  lead(n_chars, 1) OVER w AS l1, lead(n_chars, 2) OVER w AS l2
        | FROM documents
        | WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)),
        |p AS (SELECT lang, doc_id AS id_a, b1 AS id_b, 1 AS gap,
        |   n_chars AS len_a, l1 AS len_b FROM s WHERE b1 IS NOT NULL
        | UNION ALL
        | SELECT lang, doc_id, b2, 2, n_chars, l2 FROM s
        |  WHERE b2 IS NOT NULL)
        |SELECT lang, id_a, id_b, CAST(gap AS INT) AS gap, len_a, len_b
        |FROM p WHERE abs(len_a - len_b) <= 2""".stripMargin,

    "q111_assoc_rules" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb FROM m),
        |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ci
        |  FROM m GROUP BY 1),
        |pairs AS (SELECT x.i AS a, y.i AS c,
        |  CAST(count(*) AS BIGINT) AS cab
        | FROM m x JOIN m y ON x.b = y.b AND x.i < y.i
        | GROUP BY 1, 2 HAVING count(*) >= 3),
        |rules AS (SELECT a, c, cab FROM pairs
        |  UNION ALL SELECT c, a, cab FROM pairs)
        |SELECT r.a AS antecedent, r.c AS consequent, r.cab AS n_pair,
        | ia.ci AS n_ante,
        | CAST(r.cab AS DOUBLE) / CAST(n.nb AS DOUBLE) AS support,
        | CAST(r.cab AS DOUBLE) / CAST(ia.ci AS DOUBLE) AS confidence,
        | CAST(r.cab * n.nb AS DOUBLE)
        |  / CAST(ia.ci * ic2.ci AS DOUBLE) AS lift
        |FROM rules r JOIN ic ia ON r.a = ia.i
        | JOIN ic ic2 ON r.c = ic2.i, n""".stripMargin,

    "q112_standardize" ->
      """WITH p AS (SELECT event_type AS grp,
        |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        | FROM events WHERE value IS NOT NULL),
        |s AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(x*x) AS BIGINT) AS sxx
        | FROM p GROUP BY 1),
        |st AS (SELECT grp, n,
        |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |  CASE WHEN n > 1 THEN
        |   sqrt(CAST(CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
        |     - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT)
        |       AS DOUBLE)) END AS sd FROM s),
        |z AS (SELECT p.grp, st.n, st.mean, st.sd,
        |  CASE WHEN st.sd > 0 THEN
        |   (CAST(p.x AS DOUBLE) - st.mean) / st.sd END AS z
        | FROM p JOIN st ON p.grp = st.grp)
        |SELECT grp, min(n) AS n, min(mean) AS mean, min(sd) AS sd,
        | min(z) AS min_z, max(z) AS max_z,
        | CAST(sum(CASE WHEN abs(z) > 2 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_gt2,
        | CAST(sum(CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_gt3
        |FROM z GROUP BY 1""".stripMargin,

    // q113 twin: same signature/band machinery as q25 but banded 6×2
    // (sqlBandRowsAt(2)) and scored by containment |A∩B|/min instead of
    // Jaccard; orientation (smaller set = contained, ties keep ida) is a
    // total order, so the output is deterministic on both engines.
    "q113_containment" ->
      s"""WITH $sqlWordShingleCtes,
         |$sqlMinhashCtes,
         |hsl AS (SELECT doc_id, list(DISTINCT h) AS hl
         |  FROM hs GROUP BY doc_id),
         |bands AS (${sqlBandRowsAt(2)}),
         |$sqlBandCandCte,
         |j AS (SELECT ida, idb,
         |  len(list_intersect(x.hl, y.hl)) AS inter,
         |  len(x.hl) AS la, len(y.hl) AS lb
         |  FROM cand JOIN hsl x ON x.doc_id = ida
         |   JOIN hsl y ON y.doc_id = idb)
         |SELECT CASE WHEN la <= lb THEN ida ELSE idb END AS contained_id,
         | CASE WHEN la <= lb THEN idb ELSE ida END AS container_id,
         | CAST(inter AS DOUBLE) / CAST(least(la, lb) AS DOUBLE)
         |  AS containment,
         | CAST(least(la, lb) AS INT) AS size_contained,
         | CAST(greatest(la, lb) AS INT) AS size_container
         |FROM j
         |WHERE CAST(inter AS DOUBLE) / CAST(least(la, lb) AS DOUBLE)
         |  >= 0.6""".stripMargin,

    // q119 twin: the 6 BPE rounds unrolled as CTE blocks (the
    // sqlIvfTrainCtes pattern) — per round: pair counts over the
    // sep-delimited symbol strings, argmax by (cnt desc, l, r), then the
    // same left-to-right non-overlapping `replace` both engines share.
    "q119_bpe_merges" -> {
      val tails = (1 to 6).map(r =>
        s"SELECT $r AS merge_rank, l AS left_sym, r AS right_sym, " +
          s"l || r AS merged, cnt AS pair_count FROM b$r")
        .mkString(" UNION ALL ")
      s"""WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w
         |   FROM documents) WHERE w <> '' GROUP BY 1),
         |${sqlBpeTrainCtes(6)}
         |$tails""".stripMargin
    },

    // q121 twin: the SAME learned merges (shared sqlBpeTrainCtes — b1..b6
    // over the identical global word counts), applied to a w-carrying
    // copy of the vocabulary (v-chain), then joined back to per-(lang,
    // word) occurrence counts. subtokens_per_word is one exact
    // bigint/bigint double division.
    "q121_bpe_segment" -> {
      val vchain = (1 to 6).map { r =>
        s"""v$r AS (SELECT w, replace(s, chr(31) || b.l || chr(31) ||
           |  b.r || chr(31), chr(31) || b.l || b.r || chr(31)) AS s
           |  FROM v${r - 1}, b$r b)""".stripMargin
      }.mkString(",\n")
      s"""WITH occ AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
         |   FROM documents) WHERE w <> '' GROUP BY 1, 2),
         |wc AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM occ GROUP BY 1),
         |${sqlBpeTrainCtes(6)},
         |v0 AS (SELECT w, chr(31) || array_to_string(
         |   [w[i] for i in generate_series(1, len(w))], chr(31))
         |   || chr(31) AS s FROM wc),
         |$vchain,
         |vv AS (SELECT w, CAST(len(list_filter(string_split(s, chr(31)),
         |   x -> x <> '')) AS BIGINT) AS n_sub FROM v6)
         |SELECT o.lang, CAST(sum(o.cnt) AS BIGINT) AS n_words,
         | CAST(sum(o.cnt * length(o.w)) AS BIGINT) AS n_chars,
         | CAST(sum(o.cnt * v.n_sub) AS BIGINT) AS n_subtokens,
         | CAST(CAST(sum(o.cnt * v.n_sub) AS BIGINT) AS DOUBLE)
         |  / CAST(CAST(sum(o.cnt) AS BIGINT) AS DOUBLE)
         |  AS subtokens_per_word
         |FROM occ o JOIN vv v USING (w) GROUP BY 1""".stripMargin
    },

    // q122 twin: the q118 LM build (same counts, same >=5 / top-3
    // pruning) as flat CTEs, then every trigram event left-joined
    // against the unique (context, next_token) LM rows — one exact
    // int/int share per source.
    "q122_lm_novelty" ->
      """WITH tok AS (SELECT source, string_split(text, ' ') AS w
        |  FROM documents),
        |pr AS (SELECT source, unnest([struct_pack(
        |   c := array_to_string(w[i:i+1], ' '), nx := w[i+2])
        |  for i in generate_series(1, len(w) - 2)]) AS p FROM tok),
        |tri AS (SELECT source, p.c AS context, p.nx AS next_token
        |  FROM pr),
        |cnt AS (SELECT context, next_token,
        |  CAST(count(*) AS BIGINT) AS n_next FROM tri GROUP BY 1, 2),
        |t2 AS (SELECT context, next_token, n_next,
        |  CAST(sum(n_next) OVER (PARTITION BY context) AS BIGINT)
        |   AS n_ctx,
        |  row_number() OVER (PARTITION BY context
        |   ORDER BY n_next DESC, next_token) AS rk
        | FROM cnt),
        |lm AS (SELECT context, next_token FROM t2
        |  WHERE n_ctx >= 5 AND rk <= 3),
        |j AS (SELECT tri.source,
        |  CASE WHEN lm.context IS NOT NULL THEN 1 END AS hit
        | FROM tri LEFT JOIN lm ON tri.context = lm.context
        |  AND tri.next_token = lm.next_token)
        |SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_ngrams,
        | CAST(count(hit) AS BIGINT) AS n_predicted,
        | CAST(count(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  AS predicted_share
        |FROM j GROUP BY 1""".stripMargin,

    // q123 twin: both depth-10 lists re-derived by their own oracle
    // machinery (radius-1 multi-probe LSH, int8-quantized), fused with
    // the identical 1.0/(60+rank) terms in the same fixed order
    // (lsh term + i8 term), top-3 by (score desc, neighbor).
    "q123_rrf_fusion" ->
      s"""WITH la AS (SELECT query_id, neighbor_id, "rank" AS rnk
         |  FROM (${sqlAnnLshMpAt(1, 10)})),
         |ib AS (SELECT query_id, neighbor_id, "rank" AS rnk
         |  FROM (${sqlI8TopKAt(10)})),
         |f AS (SELECT query_id, neighbor_id,
         |  coalesce(1.0 / CAST(60 + a.rnk AS DOUBLE), 0.0)
         |   + coalesce(1.0 / CAST(60 + b.rnk AS DOUBLE), 0.0)
         |   AS rrf_score,
         |  (CASE WHEN a.rnk IS NOT NULL THEN 1 ELSE 0 END
         |   + CASE WHEN b.rnk IS NOT NULL THEN 1 ELSE 0 END)
         |   AS n_sources
         | FROM la a FULL JOIN ib b USING (query_id, neighbor_id)),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY rrf_score DESC, neighbor_id) AS rk FROM f)
         |SELECT query_id, neighbor_id, CAST(rk AS INT) AS "rank",
         | rrf_score, n_sources
         |FROM r2 WHERE rk <= 3""".stripMargin,

    // q124 twin: same data-derived horizon (max ts), same 10-day test /
    // 2-day embargo boundaries in integer microseconds; everything
    // (event totals, distinct actors, leak count) derives from the same
    // per-actor per-split count table, three fixed split rows. Null
    // actors count as events, never as actors or leaks.
    "q124_temporal_split" ->
      """WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
        |l AS (SELECT CASE
        |   WHEN epoch_us(ts) >= m - 864000000000 THEN 'test'
        |   WHEN epoch_us(ts) >= m - 1036800000000 THEN 'embargo'
        |   ELSE 'train' END AS split,
        |  user_id AS a FROM events, mx),
        |pa AS (SELECT a,
        |  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS tr,
        |  CAST(sum(CASE WHEN split = 'embargo' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS em,
        |  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS te
        | FROM l GROUP BY a),
        |g AS (SELECT
        |  CAST(coalesce(sum(tr), 0) AS BIGINT) AS evtr,
        |  CAST(coalesce(sum(em), 0) AS BIGINT) AS evem,
        |  CAST(coalesce(sum(te), 0) AS BIGINT) AS evte,
        |  CAST(coalesce(sum(CASE WHEN a IS NOT NULL AND tr > 0
        |   THEN 1 ELSE 0 END), 0) AS BIGINT) AS actr,
        |  CAST(coalesce(sum(CASE WHEN a IS NOT NULL AND em > 0
        |   THEN 1 ELSE 0 END), 0) AS BIGINT) AS acem,
        |  CAST(coalesce(sum(CASE WHEN a IS NOT NULL AND te > 0
        |   THEN 1 ELSE 0 END), 0) AS BIGINT) AS acte,
        |  CAST(coalesce(sum(CASE WHEN a IS NOT NULL AND tr > 0
        |   AND te > 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
        |   AS n_leaked_actors
        | FROM pa)
        |SELECT 'train' AS split, evtr AS n_events, actr AS n_actors,
        | n_leaked_actors FROM g
        |UNION ALL SELECT 'embargo', evem, acem, n_leaked_actors FROM g
        |UNION ALL SELECT 'test', evte, acte, n_leaked_actors FROM g"""
        .stripMargin,

    // q126 twin: identical LCG projections (sqlPlaneProj per coordinate,
    // same left fold), per-vector norms computed once, cosine in the
    // same dot/(n*n) order, zero-norm vectors excluded on both sides.
    "q126_rp_topk" -> sqlRpTopK,

    // q127 twin: the same quadrupled-integer quartile discipline — the
    // exact interpolated quartiles come off a (value → count) histogram
    // as 4·q_f = 4·x_k + rem·(x_{k+1}−x_k) (exact BIGINTs), the fence
    // tests are the identical pure-integer comparisons (8v ≶ 2·q4₁−3·iqr4
    // inner, 4v ≶ q4₁−3·iqr4 outer), and only the final ÷4 reporting
    // divisions are doubles (exact in binary).
    "q127_tukey_fences" ->
      s"""WITH p AS (SELECT event_type AS grp,
         |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
         | FROM events WHERE value IS NOT NULL),
         |h AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
         | FROM p GROUP BY 1, 2),
         |$sqlCumCountCte,
         |a AS (SELECT grp, CAST(max(n) AS BIGINT) AS n,
         |  min(CASE WHEN cum > ((n - 1) * 1) // 4 THEN v END) AS lo1,
         |  min(CASE WHEN cum > ((n - 1) * 1) // 4 + 1 THEN v END) AS hi1,
         |  min(CASE WHEN cum > ((n - 1) * 2) // 4 THEN v END) AS lo2,
         |  min(CASE WHEN cum > ((n - 1) * 2) // 4 + 1 THEN v END) AS hi2,
         |  min(CASE WHEN cum > ((n - 1) * 3) // 4 THEN v END) AS lo3,
         |  min(CASE WHEN cum > ((n - 1) * 3) // 4 + 1 THEN v END) AS hi3
         | FROM cw GROUP BY 1),
         |q AS (SELECT grp,
         |  CASE WHEN ((n - 1) * 1) % 4 = 0 THEN lo1 * 4
         |   ELSE lo1 * 4 + ((n - 1) * 1) % 4 * (hi1 - lo1) END AS q41,
         |  CASE WHEN ((n - 1) * 2) % 4 = 0 THEN lo2 * 4
         |   ELSE lo2 * 4 + ((n - 1) * 2) % 4 * (hi2 - lo2) END AS q42,
         |  CASE WHEN ((n - 1) * 3) % 4 = 0 THEN lo3 * 4
         |   ELSE lo3 * 4 + ((n - 1) * 3) % 4 * (hi3 - lo3) END AS q43
         | FROM a)
         |SELECT p.grp, CAST(count(*) AS BIGINT) AS n,
         | CAST(max(q41) AS DOUBLE) / 4.0 AS q1,
         | CAST(max(q42) AS DOUBLE) / 4.0 AS med,
         | CAST(max(q43) AS DOUBLE) / 4.0 AS q3,
         | CAST(max(q43) - max(q41) AS DOUBLE) / 4.0 AS iqr,
         | CASE WHEN max(q43) > max(q41) THEN
         |  CAST(sum(CASE WHEN v * 8 < q41 * 2 - (q43 - q41) * 3
         |   OR v * 8 > q43 * 2 + (q43 - q41) * 3 THEN 1 ELSE 0 END)
         |   AS BIGINT) END AS n_outside_inner,
         | CASE WHEN max(q43) > max(q41) THEN
         |  CAST(sum(CASE WHEN v * 4 < q41 - (q43 - q41) * 3
         |   OR v * 4 > q43 + (q43 - q41) * 3 THEN 1 ELSE 0 END)
         |   AS BIGINT) END AS n_outside_outer
         |FROM p JOIN q USING (grp) GROUP BY 1""".stripMargin,

    // q128 twin: q25's candidate pipeline gives the pairs + word-3
    // Jaccard; the word hash lists (hsl) are reused for containment,
    // char-8 sets and the q26 simhash votes are rebuilt CTE-for-CTE,
    // every ratio one exact int/int double division.
    "q128_pair_evidence" ->
      s"""WITH $sqlWordNearDupCtes,
         |pairs AS ($sqlWordNearDupSelect),
         |c8l AS (SELECT doc_id, list(DISTINCT h8) AS cl
         |  FROM (SELECT doc_id, ${hx("s8", 8)} AS h8
         |   FROM (SELECT doc_id, unnest($sqlCharShingles8) AS s8
         |    FROM documents))
         |  GROUP BY doc_id),
         |sh60 AS (SELECT doc_id, ${hx("w", 15)} AS h60
         |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
         |        FROM documents)),
         |sv AS (SELECT doc_id, bit,
         |  sum(CASE WHEN (h60 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM sh60, (SELECT unnest(generate_series(0, 59)) AS bit) b
         |  GROUP BY 1, 2),
         |sh AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit)
         |           ELSE 0 END) AS BIGINT) AS h
         | FROM sv GROUP BY 1),
         |ev AS (SELECT p.id_a, p.id_b, p.jaccard AS word3_jaccard,
         |  len(list_intersect(wx.hl, wy.hl)) AS i3,
         |  len(wx.hl) AS l3a, len(wy.hl) AS l3b,
         |  len(list_intersect(cx.cl, cy.cl)) AS i8,
         |  len(cx.cl) AS l8a, len(cy.cl) AS l8b,
         |  xor(sa.h, sb.h) AS xh
         | FROM pairs p
         |  JOIN hsl wx ON wx.doc_id = p.id_a
         |  JOIN hsl wy ON wy.doc_id = p.id_b
         |  JOIN c8l cx ON cx.doc_id = p.id_a
         |  JOIN c8l cy ON cy.doc_id = p.id_b
         |  JOIN sh sa ON sa.doc_id = p.id_a
         |  JOIN sh sb ON sb.doc_id = p.id_b)
         |SELECT id_a, id_b, word3_jaccard,
         | CAST(i3 AS DOUBLE) / CAST(least(l3a, l3b) AS DOUBLE)
         |  AS word3_containment,
         | CAST(i8 AS DOUBLE) / CAST((l8a + l8b) - i8 AS DOUBLE)
         |  AS char8_jaccard,
         | CAST(bit_count(xh) AS INT) AS simhash_hamming
         |FROM ev""".stripMargin,

    // q129 twin: q70's content-defined window fingerprints, folded per
    // document then per source; distinct-doc counts via a window over
    // the (hash, doc)-deduped table.
    "q129_dup_span_share" ->
      s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts
         |  FROM documents),
         |sp AS (SELECT doc_id, source, ts,
         |  CAST(unnest(generate_series(1, len(ts) - 15, 1)) AS INT) AS p
         | FROM tok),
         |h AS (SELECT doc_id, source,
         |  ${hx("array_to_string(ts[p : p + 15], ' ')", 8)} AS sh
         | FROM sp),
         |phd AS (SELECT sh, doc_id, source,
         |  CAST(count(*) AS BIGINT) AS n_occ
         | FROM h WHERE sh % 4 = 0 GROUP BY 1, 2, 3),
         |fl AS (SELECT doc_id, source, n_occ,
         |  count(*) OVER (PARTITION BY sh) AS nd FROM phd),
         |pd AS (SELECT doc_id, source,
         |  CAST(sum(n_occ) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN nd >= 2 THEN n_occ ELSE 0 END) AS BIGINT)
         |   AS n_dup
         | FROM fl GROUP BY 1, 2)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(n_spans) AS BIGINT) AS n_spans,
         | CAST(sum(n_dup) AS BIGINT) AS n_dup_spans,
         | CAST(sum(CASE WHEN 2 * n_dup >= n_spans THEN 1 ELSE 0 END)
         |  AS BIGINT) AS n_docs_majority_dup,
         | CAST(sum(n_dup) AS DOUBLE) / CAST(sum(n_spans) AS DOUBLE)
         |  AS dup_share
         |FROM pd GROUP BY 1""".stripMargin,

    // q130 twin: brute-force exact similarity join (no prefix filter —
    // an INDEPENDENT algorithm), integer threshold 2·inter ≥ union.
    "q130_prefix_join" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents),
         |shl AS (SELECT doc_id, $sqlShingles3 AS sl FROM tok),
         |hs AS (SELECT DISTINCT doc_id, ${hx("s", 8)} AS h
         |  FROM (SELECT doc_id, unnest(sl) AS s FROM shl)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |  FROM hs GROUP BY 1),
         |iv AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(count(*) AS BIGINT) AS inter
         | FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
         | GROUP BY 1, 2)
         |SELECT id_a, id_b,
         | CAST(inter AS DOUBLE) / CAST((x.n + y.n) - inter AS DOUBLE)
         |  AS jaccard
         |FROM iv JOIN sz x ON x.doc_id = id_a
         | JOIN sz y ON y.doc_id = id_b
         |WHERE 2 * inter >= (x.n + y.n) - inter""".stripMargin,

    // q131 twin: same union + merge-scan windows, same fixed double op
    // sequence for the interior interpolation.
    "q131_interp_resample" ->
      s"""WITH obs AS (SELECT user_id, epoch_us(ts) AS tus,
         |  max(value) AS v
         | FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |ext AS (SELECT user_id, min(tus) AS lo, max(tus) AS hi
         |  FROM obs GROUP BY 1),
         |tks AS (SELECT user_id,
         |  lo + (((-lo) % 21600000000 + 21600000000) % 21600000000)
         |   AS t0,
         |  hi - (hi % 21600000000) AS t1 FROM ext),
         |grid AS (SELECT user_id,
         |  unnest(generate_series(t0, t1, 21600000000)) AS tus
         | FROM tks WHERE t0 <= t1),
         |u AS (SELECT user_id, tus, 0 AS isg, v FROM obs
         | UNION ALL
         | SELECT user_id, tus, 1 AS isg, CAST(NULL AS DOUBLE) AS v
         |  FROM grid),
         |w AS (SELECT user_id, tus, isg,
         |  last_value(CASE WHEN isg = 0 THEN tus END IGNORE NULLS) OVER
         |   (PARTITION BY user_id ORDER BY tus, isg
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         |  last_value(CASE WHEN isg = 0 THEN v END IGNORE NULLS) OVER
         |   (PARTITION BY user_id ORDER BY tus, isg
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |  first_value(CASE WHEN isg = 0 THEN tus END IGNORE NULLS) OVER
         |   (PARTITION BY user_id ORDER BY tus, isg
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
         |  first_value(CASE WHEN isg = 0 THEN v END IGNORE NULLS) OVER
         |   (PARTITION BY user_id ORDER BY tus, isg
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
         | FROM u)
         |SELECT user_id, tus AS tick_us,
         | CASE WHEN pt = tus THEN pv
         |  ELSE (pv * CAST(nt - tus AS DOUBLE) +
         |        nv * CAST(tus - pt AS DOUBLE))
         |       / CAST(nt - pt AS DOUBLE) END AS value_interp,
         | CAST(pt = tus AS INT) AS is_exact
         |FROM w WHERE isg = 1""".stripMargin,

    // q132 twin: q25's signature/band/candidate CTEs; estimate =
    // matching components / K, exact from the hashed shingle sets.
    "q132_minhash_calibration" -> {
      val eqTerms = (0 until D.K)
        .map(k => s"CASE WHEN x.mh$k = y.mh$k THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $sqlWordNearDupCtes,
         |est AS (SELECT c.ida, c.idb, ($eqTerms) AS n_eq
         |  FROM cand c JOIN mh x ON x.doc_id = c.ida
         |   JOIN mh y ON y.doc_id = c.idb)
         |SELECT j.ida AS id_a, j.idb AS id_b,
         | CAST(e.n_eq AS INT) AS n_eq,
         | CAST(e.n_eq AS DOUBLE) / ${D.K}.0 AS est_jaccard,
         | CAST(j.inter AS DOUBLE) / CAST(j.tot - j.inter AS DOUBLE)
         |  AS exact_jaccard,
         | abs(CAST(e.n_eq AS DOUBLE) / ${D.K}.0 -
         |  CAST(j.inter AS DOUBLE) / CAST(j.tot - j.inter AS DOUBLE))
         |  AS abs_err
         |FROM j JOIN est e ON e.ida = j.ida AND e.idb = j.idb""".stripMargin
    },

    // q133 twin: same CORPUS-SIZED sign-LSH buckets (sqlSizedPlanes
    // replays Vec.sizedPlanes's integer rule off count(*)), same pair
    // predicate, same keep-earliest aggregate.
    "q133_semdedup" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |  CAST(${sqlSizedBucket("embedding")} AS BIGINT) AS bucket
         | FROM embeddings),
         |p AS (SELECT a.vec_id, a.bucket, b.vec_id AS w,
         |  ${sqlCosine("a.embedding", "b.embedding")} AS c
         | FROM e a JOIN e b ON a.bucket = b.bucket AND b.vec_id < a.vec_id)
         |SELECT vec_id, bucket, min(w) AS witness_id,
         | CAST(count(*) AS BIGINT) AS n_dups, max(c) AS max_cosine
         |FROM p WHERE c >= 0.3 GROUP BY 1, 2""".stripMargin,

    // q134 twin: q53's radius-1 probe mask list + the label inequality
    // riding the bucket join.
    "q134_hard_negatives" -> {
      val masks = (0 to AnnPlanes).map(i =>
        if (i == 0) 0L else 1L << (i - 1)).mkString(",")
      s"""WITH e AS (SELECT vec_id, embedding, label,
         |  CAST(${sqlBucket("embedding")} AS BIGINT) AS bucket
         | FROM embeddings),
         |p AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql,
         |  CAST(unnest([xor(bucket, m) for m in [$masks]]) AS BIGINT)
         |   AS probe_bucket
         | FROM e WHERE vec_id < 20),
         |s AS (SELECT p.query_id, c.vec_id AS neighbor_id,
         |  c.label AS neg_label,
         |  ${sqlCosine("p.qe", "c.embedding")} AS cosine
         | FROM p JOIN e c
         |  ON p.probe_bucket = c.bucket AND p.ql <> c.label),
         |r AS (SELECT query_id, neighbor_id, neg_label, cosine,
         |  row_number() OVER (PARTITION BY query_id
         |   ORDER BY cosine DESC, neighbor_id) AS rnk FROM s)
         |SELECT query_id, neighbor_id, neg_label,
         | CAST(rnk AS INT) AS "rank", cosine
         |FROM r WHERE rnk <= 3""".stripMargin
    },

    // q135 twin: one (source, token) count table feeds every statistic.
    "q135_lexical_diversity" ->
      """WITH tc AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n
        |  FROM tc GROUP BY 1, 2),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  CAST(max(n) AS BIGINT) AS top_count
        |  FROM cnt GROUP BY 1),
        |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1)
        |SELECT source, n_docs, n_tokens, n_types, n_hapax, top_count,
        | CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |  AS type_token_ratio,
        | CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_share,
        | CAST(top_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_share
        |FROM g JOIN nd USING (source)""".stripMargin,

    // q136 twin: same extent pass, same 64-bin bucketing op order, same
    // nearest-rank walk and in-bin interpolation, same OWN-op-sequence
    // exact side (never DuckDB's internal quantile kernel).
    "q136_hist_quantiles" ->
      """WITH v AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |ext AS (SELECT grp, min(v) AS lo, max(v) AS hi,
        |  CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |hist AS (SELECT grp, b, CAST(count(*) AS BIGINT) AS c FROM (
        |  SELECT v.grp, CASE WHEN hi = lo THEN 0 ELSE
        |    CAST(least(floor(((v - lo) / (hi - lo)) * 64), 63) AS INT)
        |   END AS b
        |  FROM v JOIN ext USING (grp)) GROUP BY 1, 2),
        |cum AS (SELECT grp, b, c,
        |  CAST(sum(c) OVER (PARTITION BY grp ORDER BY b) AS BIGINT)
        |   AS cm FROM hist),
        |tg AS (SELECT grp, lo, hi, n, q,
        |  greatest(CAST(ceil(q * n) AS BIGINT), 1) AS t,
        |  q * (n - 1) + 1 AS pos
        |  FROM ext CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)),
        |    (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))) AS qq(q)),
        |tg2 AS (SELECT *, CAST(floor(pos) AS BIGINT) AS r0,
        |  pos - CAST(floor(pos) AS BIGINT) AS frac,
        |  least(CAST(floor(pos) AS BIGINT) + 1, n) AS r1 FROM tg),
        |est AS (SELECT tg2.grp, q, n, r0, r1, frac,
        |  lo + (((CAST(b AS DOUBLE) +
        |    (CAST(t - (cm - c) AS DOUBLE) / CAST(c AS DOUBLE))) *
        |    (hi - lo)) / 64) AS hist_est
        |  FROM tg2 JOIN cum ON tg2.grp = cum.grp
        |   AND (cm - c) < t AND t <= cm),
        |rk AS (SELECT grp, v,
        |  CAST(row_number() OVER (PARTITION BY grp ORDER BY v) AS BIGINT)
        |   AS r FROM v)
        |SELECT e.grp AS event_type, q, n, hist_est,
        | a.v + ((b2.v - a.v) * frac) AS exact_q,
        | abs(hist_est - (a.v + ((b2.v - a.v) * frac))) AS abs_err
        |FROM est e
        | JOIN rk a ON a.grp = e.grp AND a.r = e.r0
        | JOIN rk b2 ON b2.grp = e.grp AND b2.r = e.r1""".stripMargin,

    // q137 twin: same md5-hashed features, same add-one-smoothed exact
    // floor-log2 ratios via length(bin(x)) - 1, same normalizer.
    "q137_dsir_score" ->
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS is_target,
         |  unnest(string_split(text, ' ')) AS w FROM documents),
         |f AS (SELECT doc_id, is_target,
         |  CAST(${hx("w", 15)} % 4096 AS BIGINT) AS f FROM tok),
         |df AS (SELECT doc_id, is_target, f,
         |  CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 1, 2, 3),
         |raw AS (SELECT f, CAST(sum(c) AS BIGINT) AS nr FROM df GROUP BY 1),
         |tgt AS (SELECT f, CAST(sum(c) AS BIGINT) AS nt
         |  FROM df WHERE is_target GROUP BY 1),
         |lr AS (SELECT f,
         |  CAST((length(bin(COALESCE(nt, 0) + 1)) - 1) -
         |       (length(bin(nr + 1)) - 1) AS BIGINT) AS lr
         |  FROM raw LEFT JOIN tgt USING (f)),
         |tots AS (SELECT
         |  CAST((length(bin(tr + 4096)) - 1) -
         |       (length(bin(COALESCE(tt, 0) + 4096)) - 1) AS BIGINT)
         |   AS nrm
         |  FROM (SELECT CAST(sum(nr) AS BIGINT) AS tr FROM raw)
         |  CROSS JOIN (SELECT CAST(sum(nt) AS BIGINT) AS tt FROM tgt))
         |SELECT doc_id, is_target, CAST(sum(c) AS BIGINT) AS n_tokens,
         | CAST(sum(c * lr) + sum(c) * (SELECT nrm FROM tots) AS BIGINT)
         |  AS dsir_score
         |FROM df JOIN lr USING (f) GROUP BY 1, 2""".stripMargin,

    // q138 twin: q70's span-hash CTE at modulus 1, keep-first removal,
    // ordered string_agg reassembly.
    "q138_dup_span_removal" ->
      s"""WITH $sqlSpanTokCte,
         |sp AS (SELECT doc_id, ts,
         |  CAST(unnest(generate_series(1, len(ts) - 15, 1)) AS INT) AS p
         | FROM tok),
         |h AS (SELECT doc_id, p,
         |  ${hx("array_to_string(ts[p : p + 15], ' ')", 8)} AS sh
         | FROM sp),
         |st AS (SELECT sh, count(DISTINCT doc_id) AS nd, min(doc_id) AS fd
         |  FROM h GROUP BY 1),
         |rm AS (SELECT DISTINCT h.doc_id,
         |  CAST(unnest(generate_series(p, p + 15)) AS INT) AS pos
         | FROM h JOIN st USING (sh) WHERE nd >= 2 AND h.doc_id <> fd),
         |tp AS (SELECT doc_id,
         |  CAST(unnest(generate_series(1, len(ts))) AS INT) AS pos, ts
         | FROM tok),
         |tk AS (SELECT doc_id, pos, ts[pos] AS tok FROM tp),
         |mk AS (SELECT tk.doc_id, tk.pos, tok, rm.pos AS rmp
         | FROM tk LEFT JOIN rm
         |  ON tk.doc_id = rm.doc_id AND tk.pos = rm.pos)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         | CAST(count(rmp) AS BIGINT) AS n_removed,
         | COALESCE(string_agg(tok, ' ' ORDER BY pos)
         |   FILTER (WHERE rmp IS NULL), '') AS cleaned_text
         |FROM mk GROUP BY 1""".stripMargin,

    // q139 twin: phrase terms as literal VALUES from the same shared
    // list; same start-voting aggregate.
    "q139_phrase_search" -> {
      val termVals = searchPhrases.flatMap { case (pid, ph) =>
        ph.split(" ").zipWithIndex.map { case (w, i) => s"($pid, $i, '$w')" }
      }.mkString(", ")
      val ntVals = searchPhrases
        .map { case (pid, ph) => s"($pid, ${ph.split(" ").length})" }
        .mkString(", ")
      s"""WITH $sqlSpanTokCte,
         |tp AS (SELECT doc_id,
         |  CAST(unnest(generate_series(1, len(ts))) AS INT) AS pos, ts
         | FROM tok),
         |tk AS (SELECT doc_id, pos, ts[pos] AS tok FROM tp),
         |tm AS (SELECT * FROM (VALUES $termVals) AS v(phrase_id, i, pt)),
         |nt AS (SELECT * FROM (VALUES $ntVals) AS v(phrase_id, n_terms)),
         |st AS (SELECT phrase_id, doc_id, pos - i AS s,
         |  count(DISTINCT i) AS hits
         | FROM tk JOIN tm ON tok = pt GROUP BY 1, 2, 3)
         |SELECT CAST(phrase_id AS BIGINT) AS phrase_id, doc_id,
         | CAST(count(*) AS BIGINT) AS n_occurrences
         |FROM st JOIN nt USING (phrase_id)
         |WHERE hits = n_terms GROUP BY 1, 2""".stripMargin
    },

    // q140 twin: same sqrt weights, same source-ordered left fold for
    // the weight total (list_reduce from the first element == Spark's
    // 0.0-seeded fold), same floor(budget·share).
    "q140_temperature_mix" ->
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs, n_tokens,
        |  sqrt(CAST(n_tokens AS DOUBLE)) AS weight FROM g),
        |tw AS (SELECT list_reduce(list(weight ORDER BY source),
        |  (x, y) -> x + y) AS t FROM w)
        |SELECT source, n_docs, n_tokens, weight, weight / t AS share,
        | CAST(floor(CAST(1000000 AS DOUBLE) * (weight / t)) AS BIGINT)
        |  AS alloc_tokens
        |FROM w CROSS JOIN tw""".stripMargin,

    // q141 twin: distinct (source, 13-gram-hash) sets, pair join with
    // src_a < src_b, totals rejoined.
    "q141_contamination_matrix" ->
      s"""WITH tok AS (SELECT source, string_split(text, ' ') AS ts
         |  FROM documents),
         |sp AS (SELECT source, ts,
         |  CAST(unnest(generate_series(1, len(ts) - 12, 1)) AS INT) AS p
         | FROM tok),
         |sh AS (SELECT DISTINCT source,
         |  ${hx("array_to_string(ts[p : p + 12], ' ')", 8)} AS h
         | FROM sp),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh
         |  GROUP BY 1),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_common
         | FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
         | GROUP BY 1, 2)
         |SELECT src_a, src_b, n_common, ta.n AS n_a, tb.n AS n_b,
         | CAST(n_common AS DOUBLE) / CAST(ta.n + tb.n - n_common AS DOUBLE)
         |  AS jaccard
         |FROM pr JOIN tot ta ON ta.source = src_a
         | JOIN tot tb ON tb.source = src_b""".stripMargin,

    // q142 twin: the corpus is pure ASCII so byte 4-windows of the BLOB
    // == char 4-windows of the text; q26's bit-vote CTE over window
    // hashes, same 4×15-bit banding, same popcount verify.
    "q142_binary_phash_neardup" ->
      s"""WITH h AS (SELECT doc_id, ${hx("substring(text, p, 4)", 15)}
         |   AS h60
         | FROM (SELECT doc_id, text,
         |   CAST(unnest(generate_series(1, len(text) - 3)) AS INT) AS p
         |  FROM documents WHERE len(text) >= 4)),
         |v AS (SELECT doc_id, bit,
         |  sum(CASE WHEN (h60 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM h, (SELECT unnest(generate_series(0, 59)) AS bit) b
         |  GROUP BY 1, 2),
         |ph AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit)
         |           ELSE 0 END) AS BIGINT) AS phash
         | FROM v GROUP BY 1),
         |bd AS (SELECT doc_id, phash, b,
         |  (phash >> (15 * b)) & 32767 AS bv
         | FROM ph, (SELECT unnest([0, 1, 2, 3]) AS b) bb),
         |cd AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
         | FROM bd x JOIN bd y
         |  ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT ida AS id_a, idb AS id_b,
         | CAST(bit_count(xor(pa.phash, pb.phash)) AS INT) AS hamming
         |FROM cd JOIN ph pa ON pa.doc_id = ida
         | JOIN ph pb ON pb.doc_id = idb
         |WHERE bit_count(xor(pa.phash, pb.phash)) <= 8""".stripMargin,

    // q143 twin: same count/rank CTEs, same length(bin())−1 quantized
    // coordinates, same exact-integer OLS statistics.
    "q143_zipf_slope" ->
      """WITH tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n
        | FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |       FROM documents) GROUP BY 1, 2),
        |rk AS (SELECT source, n, CAST(row_number() OVER
        |  (PARTITION BY source ORDER BY n DESC, tok) AS BIGINT) AS r
        | FROM tc),
        |pts AS (SELECT source,
        |  CAST(length(bin(r)) - 1 AS BIGINT) AS x,
        |  CAST(length(bin(n)) - 1 AS BIGINT) AS y FROM rk),
        |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx
        | FROM pts GROUP BY 1)
        |SELECT source, n_types,
        | CASE WHEN n_types * sxx - sx * sx = 0 THEN NULL
        |  ELSE CAST(n_types * sxy - sx * sy AS DOUBLE) /
        |       CAST(n_types * sxx - sx * sx AS DOUBLE) END AS zipf_slope,
        | CASE WHEN n_types * sxx - sx * sx = 0 THEN NULL
        |  ELSE (CAST(sy AS DOUBLE) -
        |   (CAST(n_types * sxy - sx * sy AS DOUBLE) /
        |    CAST(n_types * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |   / CAST(n_types AS DOUBLE) END AS zipf_intercept
        |FROM st""".stripMargin,

    // q144 twin: q61's recursive-CC comp CTE, token counts left-joined,
    // keep-min-id curation folded to a cluster-size histogram.
    "q144_dedup_yield" ->
      s"""WITH RECURSIVE $sqlNearDupCompCtes,
         |dt AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
         | FROM documents),
         |lab AS (SELECT dt.doc_id, nt,
         |  COALESCE(c.cluster_id, dt.doc_id) AS cid
         | FROM dt LEFT JOIN comp c ON c.node = dt.doc_id),
         |cl AS (SELECT cid, CAST(count(*) AS BIGINT) AS sz,
         |  CAST(sum(nt) AS BIGINT) AS tok,
         |  CAST(sum(CASE WHEN doc_id = cid THEN nt ELSE 0 END) AS BIGINT)
         |   AS keeptok
         | FROM lab GROUP BY 1)
         |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         | CAST(sum(sz) AS BIGINT) AS n_docs,
         | CAST(sum(sz - 1) AS BIGINT) AS n_removed_docs,
         | CAST(sum(tok - keeptok) AS BIGINT) AS n_removed_tokens
         |FROM cl GROUP BY 1""".stripMargin,

    // q145 twin: q78's version CTEs + the rank-1 backward lookup (the
    // naive formulation of the merge-scan as-of — same tie rule: among
    // equal valid_from, greatest version id wins).
    "q145_pit_join" ->
      s"""WITH $sqlScdLagCtes,
         |v AS (SELECT user_id, state, us AS valid_from_us,
         |  event_id AS vid
         | FROM c WHERE seen IS NULL OR prev IS DISTINCT FROM state),
         |p AS (SELECT user_id, event_id, us AS probe_us FROM e
         | WHERE state = 'purchase'),
         |j AS (SELECT p.user_id, p.event_id, p.probe_us, v.state,
         |  v.valid_from_us,
         |  row_number() OVER (PARTITION BY p.user_id, p.event_id
         |   ORDER BY v.valid_from_us DESC, v.vid DESC) AS rn
         | FROM p JOIN v ON v.user_id = p.user_id
         |  AND v.valid_from_us <= p.probe_us)
         |SELECT user_id, event_id, probe_us, state, valid_from_us
         |FROM j WHERE rn = 1""".stripMargin,

    // q146 twin: q61's recursive comp CTE; fold = md5-prefix hash of
    // 'fold:<cluster>' mod 5.
    "q146_group_kfold" ->
      s"""WITH RECURSIVE $sqlNearDupCompCtes,
         |lab AS (SELECT d.doc_id, d.lang,
         |  COALESCE(c.cluster_id, d.doc_id) AS cid
         | FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
         |SELECT CAST(${hx("'fold:' || CAST(cid AS VARCHAR)", 8)} % 5
         |   AS INT) AS fold,
         | lang, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(count(DISTINCT cid) AS BIGINT) AS n_clusters
         |FROM lab GROUP BY 1, 2""".stripMargin,

    // q147 twin: same flags, the funnel unrolled as four UNION ALL
    // stage rows over one flagged scan.
    "q147_curation_waterfall" ->
      """WITH f AS (SELECT
        | CASE WHEN n_chars > 0 THEN 1 ELSE 0 END AS f1,
        | CASE WHEN len(string_split(text, ' ')) >= 30 THEN 1 ELSE 0 END
        |  AS f2,
        | CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f3,
        | CASE WHEN len(string_split(text, ' ')) <= 90 THEN 1 ELSE 0 END
        |  AS f4
        | FROM documents),
        |s AS (
        | SELECT 1 AS stage, 'nonempty' AS rule,
        |  CAST(count(*) AS BIGINT) AS n_in,
        |  CAST(sum(f1) AS BIGINT) AS n_out FROM f
        | UNION ALL SELECT 2, 'min_tokens', CAST(sum(f1) AS BIGINT),
        |  CAST(sum(f1 * f2) AS BIGINT) FROM f
        | UNION ALL SELECT 3, 'english', CAST(sum(f1 * f2) AS BIGINT),
        |  CAST(sum(f1 * f2 * f3) AS BIGINT) FROM f
        | UNION ALL SELECT 4, 'max_tokens', CAST(sum(f1 * f2 * f3)
        |   AS BIGINT),
        |  CAST(sum(f1 * f2 * f3 * f4) AS BIGINT) FROM f)
        |SELECT stage, rule, n_in, n_out, n_in - n_out AS n_removed,
        | CAST(n_out AS DOUBLE) / CAST(n_in AS DOUBLE) AS survival_rate
        |FROM s""".stripMargin,

    // q148 twin: the three labeling functions in SQL; with K=3 the
    // plurality + smallest-label tie-break reduces to b >= g → 'bad'.
    "q148_weak_labels" ->
      s"""WITH $sqlLabelFnCtes,
         |c AS (SELECT
         | (CASE WHEN l1 = 'good' THEN 1 ELSE 0 END +
         |  CASE WHEN l2 = 'good' THEN 1 ELSE 0 END +
         |  CASE WHEN l3 = 'good' THEN 1 ELSE 0 END) AS g,
         | (CASE WHEN l1 = 'bad' THEN 1 ELSE 0 END +
         |  CASE WHEN l2 = 'bad' THEN 1 ELSE 0 END +
         |  CASE WHEN l3 = 'bad' THEN 1 ELSE 0 END) AS b
         | FROM lf)
         |SELECT CASE WHEN g + b = 0 THEN NULL
         |  WHEN b >= g THEN 'bad' ELSE 'good' END AS label,
         | CAST(g + b AS INT) AS n_votes,
         | CAST(count(*) AS BIGINT) AS n_docs
         |FROM c GROUP BY 1, 2""".stripMargin,

    // q149 twin: q75's frontier CTEs with the deadline condition on each
    // transition.
    "q149_funnel_deadline" ->
      """WITH f1 AS (SELECT user_id, min(epoch_us(ts)) AS t
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |f2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN f1 ON e.user_id = f1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > f1.t
        |   AND epoch_us(e.ts) <= f1.t + 86400000000 GROUP BY 1),
        |f3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN f2 ON e.user_id = f2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f2.t
        |   AND epoch_us(e.ts) <= f2.t + 86400000000 GROUP BY 1),
        |n AS (
        |  SELECT 1 AS step, 'signup' AS step_label,
        |    (SELECT count(*) FROM f1) AS n_actors
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM f2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM f3))
        |SELECT step, step_label, n_actors,
        | CAST(n_actors AS DOUBLE) /
        |  CAST((SELECT count(*) FROM f1) AS DOUBLE) AS frac_of_entry
        |FROM n""".stripMargin,

    // q150 twin: same hash multiplicities, exact integer resample sums,
    // same interpolated quantiles.
    "q150_bootstrap_ci" ->
      s"""WITH r AS (SELECT l_returnflag AS grp,
         |  CAST(l_quantity AS BIGINT) AS v,
         |  CAST(l_orderkey AS VARCHAR) || '_' ||
         |   CAST(l_linenumber AS VARCHAR) AS id
         | FROM lineitem),
         |h AS (SELECT grp, v, ${hx("id", 8)} AS h FROM r),
         |e AS (SELECT grp, v, b,
         |  CAST((((2*b + 1) * h + 1000003*b) % 2147483647) % 3
         |   AS BIGINT) AS w
         | FROM h, (SELECT unnest(generate_series(0, 31)) AS b) bb),
         |m AS (SELECT grp, b, CAST(sum(w * v) AS BIGINT) AS mt
         | FROM e GROUP BY 1, 2)
         |SELECT grp AS l_returnflag, CAST(count(*) AS BIGINT)
         |  AS n_resamples,
         | quantile_cont(mt, 0.05) AS p05, quantile_cont(mt, 0.5) AS p50,
         | quantile_cont(mt, 0.95) AS p95
         |FROM m GROUP BY 1""".stripMargin,

    // q151 twin: the naive interval predicate (the binned join is only a
    // plan device), same pmod-identity integer credit division.
    "q151_linear_attribution" ->
      """WITH e AS (SELECT user_id AS a, epoch_us(ts) AS us, event_id,
        |  event_type FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |t AS (SELECT a, us, event_type AS ch FROM e
        | WHERE event_type <> 'purchase'),
        |c AS (SELECT a, us, event_id AS cid FROM e
        | WHERE event_type = 'purchase'),
        |j AS (SELECT c.cid, t.ch FROM t JOIN c ON t.a = c.a
        | AND t.us >= c.us - 172800000000 AND t.us < c.us),
        |cc AS (SELECT cid, ch, CAST(count(*) AS BIGINT) AS n
        | FROM j GROUP BY 1, 2),
        |tot AS (SELECT cid, CAST(sum(n) AS BIGINT) AS nt
        | FROM cc GROUP BY 1),
        |cr AS (SELECT ch, cc.cid, n,
        |  n * CAST((1000000000000 - (1000000000000 % nt)) / nt AS BIGINT)
        |   AS fp
        | FROM cc JOIN tot ON cc.cid = tot.cid
        | UNION ALL SELECT 'unattributed', cid, 0, 1000000000000
        | FROM c WHERE cid NOT IN (SELECT cid FROM tot))
        |SELECT ch AS channel,
        | CAST(count(DISTINCT cid) AS BIGINT) AS n_conversions,
        | CAST(sum(n) AS BIGINT) AS n_touchpoints,
        | CAST(sum(fp) AS DOUBLE) / 1000000000000.0 AS credit
        |FROM cr GROUP BY 1""".stripMargin,

    // q152 twin: same normalize/interleave arithmetic (generated from
    // the same loops), same ntile file cuts, same min/max zone maps.
    "q152_zone_map_pruning" -> {
      def nrm(v: String, lo: String, hi: String): String =
        s"least(greatest(CAST(floor((CAST($v AS DOUBLE) - $lo) / " +
          s"($hi - $lo) * 256.0) AS BIGINT), 0), 255)"
      val zk = (0 until 8).flatMap(i => Seq(
        s"(((zv >> $i) & 1) << ${i * 2})",
        s"(((zu >> $i) & 1) << ${i * 2 + 1})")).mkString(" | ")
      s"""WITH v AS (SELECT event_id, user_id, value FROM events
         |  WHERE value IS NOT NULL),
         |ext AS (SELECT min(value) AS vlo, max(value) AS vhi,
         |  CAST(min(user_id) AS DOUBLE) AS ulo,
         |  CAST(max(user_id) AS DOUBLE) AS uhi FROM v),
         |d AS (SELECT v.*, vlo, vhi, ulo, uhi FROM v CROSS JOIN ext),
         |k AS (SELECT value, event_id,
         |  ${nrm("value", "vlo", "vhi")} AS zv,
         |  ${nrm("user_id", "ulo", "uhi")} AS zu FROM d),
         |k2 AS (SELECT value, event_id, ($zk) AS zk FROM k),
         |f AS (
         | SELECT 'arrival' AS layout, value,
         |  ntile(64) OVER (ORDER BY event_id) AS f FROM k2
         | UNION ALL SELECT 'value_sort', value,
         |  ntile(64) OVER (ORDER BY value, event_id) FROM k2
         | UNION ALL SELECT 'zorder', value,
         |  ntile(64) OVER (ORDER BY zk, event_id) FROM k2),
         |s AS (SELECT layout, f, min(value) AS lo, max(value) AS hi
         |  FROM f GROUP BY 1, 2),
         |g AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(CASE WHEN hi < 100.0 OR lo > 120.0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_prunable
         |  FROM s GROUP BY 1)
         |SELECT layout, n_files, n_prunable,
         | CAST(n_prunable AS DOUBLE) / CAST(n_files AS DOUBLE)
         |  AS prune_frac
         |FROM g""".stripMargin
    },

    // q153 twin: the same peel unrolled round by round (generated from
    // the same rounds constant); k from the same initial-degree
    // quantile.
    "q153_kcore" -> {
      val roundCtes = (1 to 3).map { r =>
        s"""k$r AS (SELECT u FROM (SELECT u, count(*) AS n
           |  FROM s${r - 1} GROUP BY 1), kt WHERE n >= k),
           |s$r AS (SELECT s${r - 1}.u, s${r - 1}.v FROM s${r - 1}
           |  JOIN k$r x ON s${r - 1}.u = x.u
           |  JOIN k$r y ON s${r - 1}.v = y.u)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlBasketPairsCte,
         |e AS (SELECT DISTINCT x.pk AS a, y.pk AS b FROM pp x
         |  JOIN pp y ON x.ok = y.ok AND x.pk < y.pk),
         |s0 AS (SELECT a AS u, b AS v FROM e
         |  UNION ALL SELECT b, a FROM e),
         |kt AS (SELECT CAST(ceil(quantile_cont(n, 0.1)) AS BIGINT) AS k
         |  FROM (SELECT u, count(*) AS n FROM s0 GROUP BY 1)),
         |$roundCtes
         |SELECT u AS node, CAST(count(*) AS BIGINT) AS degree,
         | (SELECT k FROM kt) AS k
         |FROM s3 GROUP BY 1""".stripMargin
    },

    // q154 twin: same two leads on one user window, same top-20 tie
    // order.
    "q154_event_trigrams" ->
      """WITH s AS (SELECT user_id, event_type AS e1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS e2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS e3
        | FROM events)
        |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin,

    // q155 twin: wilsonBounds mirrored token-for-token (every literal
    // CAST to DOUBLE — DuckDB parses bare decimals as DECIMAL).
    "q155_wilson_rates" ->
      s"""WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS s
         | FROM events WHERE value IS NOT NULL GROUP BY 1),
         |${sqlWilsonCtes("event_type")}
         |SELECT event_type, n, s AS n_success, p AS p_hat,
         |$sqlWilsonBounds""".stripMargin,

    // q156 twin: same string-op digit extraction (floor, not CAST —
    // DuckDB's double→int CAST rounds), Benford constants pasted from
    // the same Scala list.
    "q156_benford" -> {
      // Quoted string literals: DuckDB parses a bare 17-digit decimal
      // literal as DECIMAL before casting (losing the shortest-repr
      // round trip); VARCHAR→DOUBLE parses directly.
      val pCase = benfordP.map { case (d, p) =>
        s"WHEN $d THEN CAST('$p' AS DOUBLE)" }.mkString(" ")
      s"""WITH v AS (SELECT CAST(substr(CAST(CAST(floor(value * 100.0)
         |   AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
         | FROM events WHERE value IS NOT NULL AND value > 0.0),
         |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
         | FROM v GROUP BY 1),
         |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM o)
         |SELECT digit, n_obs,
         | CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE) AS obs_share,
         | (CASE digit $pCase END) AS benford_p,
         | (CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)) /
         |  (CASE digit $pCase END) AS ratio
         |FROM o CROSS JOIN t""".stripMargin
    },

    // q157 twin: one combinable aggregate, same anomaly classes.
    "q157_sequence_audit" ->
      """WITH a AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n,
        |  min(l_linenumber) AS lo, max(l_linenumber) AS hi
        | FROM lineitem GROUP BY 1)
        |SELECT CASE WHEN lo = 1 AND hi = n THEN 'contiguous'
        |  WHEN lo <> 1 THEN 'offset_start' ELSE 'gapped' END AS status,
        | CAST(count(*) AS BIGINT) AS n_orders
        |FROM a GROUP BY 1""".stripMargin,

    // q158 twin: integer Σnᵢ² in DECIMAL(18,0) products (DuckDB errors
    // past width 38 on a (38,0)×(38,0); 18+18 stays inside), the same
    // three final divisions.
    "q158_source_concentration" ->
      """WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        | FROM documents GROUP BY 1, 2),
        |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_units,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0)))
        |   AS DECIMAL(38,0)) AS s2,
        |  max(n) AS top FROM c GROUP BY 1)
        |SELECT lang, n_units, n_rows,
        | CAST(s2 AS DOUBLE) /
        |  (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)) AS hhi,
        | (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)) /
        |  CAST(s2 AS DOUBLE) AS eff_units,
        | CAST(top AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top_share
        |FROM a""".stripMargin,

    // q159 twin: bigram shingles (sqlShingles3's expression at n=2),
    // distinct (doc, gram) pairs, integer df·100 ≥ 6·N threshold,
    // integer-division decile.
    "q159_boilerplate" ->
      s"""WITH $sqlWordTokCte,
         |shl AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+1],
         |   ' ') for i in generate_series(1, len(w)-1)]) AS sl FROM tok),
         |p AS (SELECT DISTINCT doc_id, unnest(sl) AS g FROM shl),
         |nd AS (SELECT count(DISTINCT doc_id) AS n FROM p),
         |f AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM p
         |  GROUP BY 1),
         |d AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS s,
         |  CAST(sum(CASE WHEN f.df * 100 >= 6 * nd.n THEN 1 ELSE 0 END)
         |   AS BIGINT) AS b
         |  FROM p JOIN f USING (g) CROSS JOIN nd GROUP BY 1)
         |SELECT CAST((b * 10) // s AS INT) AS decile,
         | CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(s) AS BIGINT) AS n_grams,
         | CAST(sum(b) AS BIGINT) AS n_boiler_grams
         |FROM d GROUP BY 1""".stripMargin,

    // q160 twin: sha256 over the same (lang, 0x1F, normalized text)
    // preimage; only counts are compared, so digest formatting can
    // never hash-diverge.
    "q160_content_fingerprint" ->
      """WITH h AS (SELECT sha256(lang || chr(31) || lower(trim(text)))
        |  AS h FROM documents),
        |g AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM h GROUP BY 1)
        |SELECT CAST(sum(c) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_hashes,
        | CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |  AS n_dup_docs,
        | CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_dup_groups,
        | max(c) AS max_group,
        | CAST(count(DISTINCT substr(h, 1, 8)) AS BIGINT) AS n_short_ids,
        | CAST(count(*) - count(DISTINCT substr(h, 1, 8)) AS BIGINT)
        |  AS short_collisions
        |FROM g""".stripMargin,

    // q161 twin: identical integer rank arithmetic, the decimal
    // clamp-sum through the VARCHAR round-trip (the q51 convention for
    // DECIMAL(18,4) → DOUBLE).
    "q161_winsorized_mean" ->
      """WITH r AS (SELECT event_type AS g, value AS v, event_id,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n
        | FROM events WHERE value IS NOT NULL),
        |b AS (SELECT g, max(n) AS n,
        |  max(CASE WHEN rn = ((n - 1) * 5) // 100 + 1 THEN v END) AS lo,
        |  max(CASE WHEN rn = ((n - 1) * 95) // 100 + 1 THEN v END) AS hi
        | FROM r GROUP BY 1)
        |SELECT r.g AS event_type, CAST(max(b.n) AS BIGINT) AS n,
        | max(b.lo) AS lo, max(b.hi) AS hi,
        | CAST(CAST(sum(CAST(greatest(least(r.v, b.hi), b.lo)
        |     AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) /
        |  CAST(max(b.n) AS DOUBLE) AS winsorized_mean
        |FROM r JOIN b USING (g) GROUP BY 1""".stripMargin,

    // q162 twin: q148's labeler CTEs; N, S = Σ(c_g²+c_b²+c_n²) and the
    // category totals as HUGEINT integers (DuckDB's DECIMAL caps
    // products at width 38; int128 carries the same exact values),
    // assembled into P̄/Pₑ/κ with one double division each (formula in
    // AnalyticsOps.fleissKappa).
    "q162_fleiss_kappa" ->
      s"""WITH $sqlLabelFnCtes,
         |c AS (SELECT
         | (CASE WHEN l1 = 'good' THEN 1 ELSE 0 END +
         |  CASE WHEN l2 = 'good' THEN 1 ELSE 0 END +
         |  CASE WHEN l3 = 'good' THEN 1 ELSE 0 END) AS cg,
         | (CASE WHEN l1 = 'bad' THEN 1 ELSE 0 END +
         |  CASE WHEN l2 = 'bad' THEN 1 ELSE 0 END +
         |  CASE WHEN l3 = 'bad' THEN 1 ELSE 0 END) AS cb,
         | (CASE WHEN l1 IS NULL THEN 1 ELSE 0 END +
         |  CASE WHEN l2 IS NULL THEN 1 ELSE 0 END +
         |  CASE WHEN l3 IS NULL THEN 1 ELSE 0 END) AS cn
         | FROM lf),
         |a AS (SELECT CAST(count(*) AS HUGEINT) AS N,
         |  CAST(sum(cg*cg + cb*cb + cn*cn) AS HUGEINT) AS S,
         |  CAST(sum(cg) AS HUGEINT) AS tg,
         |  CAST(sum(cb) AS HUGEINT) AS tb,
         |  CAST(sum(cn) AS HUGEINT) AS tn
         | FROM c)
         |SELECT CAST(N AS BIGINT) AS n_items, 3 AS n_raters,
         | CAST(S - 3*N AS DOUBLE) / CAST(3*N * 2 AS DOUBLE) AS p_bar,
         | CAST(tg*tg + tb*tb + tn*tn AS DOUBLE) /
         |  CAST((3*N) * (3*N) AS DOUBLE) AS p_e,
         | CAST(3*N * (S - 3*N) - 2 * (tg*tg + tb*tb + tn*tn) AS DOUBLE) /
         |  CAST(2 * ((3*N) * (3*N) - (tg*tg + tb*tb + tn*tn)) AS DOUBLE)
         |  AS kappa
         |FROM a""".stripMargin,

    // q164 twin: same per-actor rollup, the same histogram/cumsum
    // discrete quartiles per metric (cum·den ≥ n·num integer
    // comparisons), same 1 + Σ(v > qᵢ) coding.
    "q164_rfm_segments" -> {
      def quartiles(metric: String): String =
        s"""(SELECT min(CASE WHEN cum * 4 >= n THEN v END) AS q1,
           |  min(CASE WHEN cum * 2 >= n THEN v END) AS q2,
           |  min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
           | FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
           |    sum(c) OVER () AS n
           |   FROM (SELECT $metric AS v, count(*) AS c FROM u
           |     GROUP BY 1)))""".stripMargin
      s"""WITH pa AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
         |  CAST(count(*) AS BIGINT) AS f,
         |  CAST(sum(CAST(floor(coalesce(value, 0.0) * 100.0) AS BIGINT))
         |   AS BIGINT) AS m_cents
         | FROM events GROUP BY 1),
         |h AS (SELECT max(last_us) AS hz FROM pa),
         |u AS (SELECT f, m_cents,
         |  (h.hz - pa.last_us) // 86400000000 AS r_days FROM pa, h),
         |rq AS ${quartiles("r_days")},
         |fq AS ${quartiles("f")},
         |mq AS ${quartiles("m_cents")},
         |coded AS (SELECT m_cents,
         |  1 + (CASE WHEN r_days > rq.q1 THEN 1 ELSE 0 END)
         |    + (CASE WHEN r_days > rq.q2 THEN 1 ELSE 0 END)
         |    + (CASE WHEN r_days > rq.q3 THEN 1 ELSE 0 END) AS r_code,
         |  1 + (CASE WHEN f > fq.q1 THEN 1 ELSE 0 END)
         |    + (CASE WHEN f > fq.q2 THEN 1 ELSE 0 END)
         |    + (CASE WHEN f > fq.q3 THEN 1 ELSE 0 END) AS f_code,
         |  1 + (CASE WHEN m_cents > mq.q1 THEN 1 ELSE 0 END)
         |    + (CASE WHEN m_cents > mq.q2 THEN 1 ELSE 0 END)
         |    + (CASE WHEN m_cents > mq.q3 THEN 1 ELSE 0 END) AS m_code
         | FROM u, rq, fq, mq)
         |SELECT CAST(r_code AS INT) AS r_code, CAST(f_code AS INT)
         |  AS f_code, CAST(m_code AS INT) AS m_code,
         | CAST(count(*) AS BIGINT) AS n_actors,
         | CAST(sum(m_cents) AS BIGINT) AS cell_cents
         |FROM coded GROUP BY 1, 2, 3""".stripMargin
    },

    // q165 twin: the same ⌊mean⌋ shift, HUGEINT power sums (exact
    // int128 — DuckDB's DECIMAL caps products at width 38), the same
    // pinned-order double assembly.
    "q165_source_moments" ->
      """WITH s0 AS (SELECT source, CAST(count(*) AS BIGINT) AS n0,
        |  CAST(sum(n_chars) AS BIGINT) AS sx FROM documents GROUP BY 1),
        |sh AS (SELECT source, sx // n0 AS c FROM s0),
        |y AS (SELECT d.source, sh.c,
        |  CAST(d.n_chars - sh.c AS HUGEINT) AS y
        | FROM documents d JOIN sh USING (source)),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n, max(c) AS c,
        |  CAST(sum(y) AS HUGEINT) AS s1, CAST(sum(y*y) AS HUGEINT) AS s2,
        |  CAST(sum(y*y*y) AS HUGEINT) AS s3,
        |  CAST(sum(y*y*y*y) AS HUGEINT) AS s4
        | FROM y GROUP BY 1),
        |d AS (SELECT source, n, CAST(n AS DOUBLE) AS nd,
        |  CAST(c AS DOUBLE) AS cd, CAST(s1 AS DOUBLE) AS s1,
        |  CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
        |  CAST(s4 AS DOUBLE) AS s4 FROM a),
        |m AS (SELECT source, n, cd + s1 / nd AS mean,
        |  (nd * s2 - s1 * s1) / (nd * nd) AS m2,
        |  (nd * nd * s3 - 3.0 * nd * s1 * s2 + 2.0 * s1 * s1 * s1) /
        |   (nd * nd * nd) AS m3,
        |  (nd * nd * nd * s4 - 4.0 * nd * nd * s1 * s3 +
        |   6.0 * nd * s1 * s1 * s2 - 3.0 * s1 * s1 * s1 * s1) /
        |   (nd * nd * nd * nd) AS m4
        | FROM d)
        |SELECT source, n, mean, m2,
        | CASE WHEN m2 <> 0 THEN m3 / (m2 * sqrt(m2)) END AS skewness,
        | CASE WHEN m2 <> 0 THEN m4 / (m2 * m2) - 3.0 END
        |  AS kurtosis_excess
        |FROM m""".stripMargin,

    // q166 twin: q153's co-purchase edge CTEs, q84's canonical a<b<c
    // triangle enumeration kept as corner ROWS, unnested to per-node
    // counts, the same integer-division bucket census.
    "q166_clustering_census" ->
      s"""WITH $sqlBasketPairsCte,
         |pairs AS (SELECT x.pk AS id_a, y.pk AS id_b FROM pp x
         |  JOIN pp y ON x.ok = y.ok AND x.pk < y.pk),
         |e AS (SELECT DISTINCT least(id_a, id_b) AS u,
         |  greatest(id_a, id_b) AS v FROM pairs WHERE id_a <> id_b),
         |$sqlDegreeCte,
         |t3 AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e e1
         |  JOIN e e2 ON e2.u = e1.v
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri
         |  FROM (SELECT unnest([a, b, c]) AS node FROM t3) GROUP BY 1),
         |jcl AS (SELECT deg.node, deg.d, coalesce(tn.tri, 0) AS tri
         |  FROM deg LEFT JOIN tn USING (node))
         |SELECT CASE WHEN d < 2 THEN -1
         |  ELSE CAST((tri * 2 * 10) // (d * (d - 1)) AS INT) END
         |  AS bucket,
         | CAST(count(*) AS BIGINT) AS n_nodes,
         | CAST(sum(d) AS BIGINT) AS sum_deg,
         | CAST(sum(tri) AS BIGINT) AS sum_tri
         |FROM jcl GROUP BY 1""".stripMargin,

    // q167 twin: same integer-cents rollup, same histogram/cumsum
    // discrete thresholds, same strictly-above tail sums.
    "q167_revenue_concentration" ->
      """WITH cu AS (SELECT o_custkey,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM orders GROUP BY 1),
        |hh AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
        |   sum(c) OVER () AS n
        |  FROM (SELECT cents AS v, count(*) AS c FROM cu GROUP BY 1)),
        |t AS (SELECT min(CASE WHEN cum * 2 >= n THEN v END) AS t50,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN v END) AS t90,
        |  min(CASE WHEN cum * 100 >= n * 99 THEN v END) AS t99 FROM hh)
        |SELECT CAST(count(*) AS BIGINT) AS n_customers,
        | CAST(sum(cents) AS BIGINT) AS total_cents,
        | max(t.t50) AS t50_cents, max(t.t90) AS t90_cents,
        | max(t.t99) AS t99_cents,
        | CAST(sum(CASE WHEN cents > t.t50 THEN cents ELSE 0 END)
        |   AS DOUBLE) / CAST(sum(cents) AS DOUBLE) AS share_above_p50,
        | CAST(sum(CASE WHEN cents > t.t90 THEN cents ELSE 0 END)
        |   AS DOUBLE) / CAST(sum(cents) AS DOUBLE) AS share_above_p90,
        | CAST(sum(CASE WHEN cents > t.t99 THEN cents ELSE 0 END)
        |   AS DOUBLE) / CAST(sum(cents) AS DOUBLE) AS share_above_p99
        |FROM cu, t""".stripMargin,

    // q168 twin: q25's candidate CTEs WITHOUT the 0.8 floor, the same
    // double-literal thresholds (CAST — DuckDB parses bare decimals as
    // DECIMAL), inner join drops empty thresholds on both engines.
    "q168_dedup_yield_curve" ->
      s"""WITH $sqlWordNearDupCtes,
         |p AS (SELECT ida AS id_a, idb AS id_b,
         |  CAST(inter AS DOUBLE) / CAST(tot - inter AS DOUBLE)
         |   AS jaccard FROM j),
         |th AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.6 AS DOUBLE),
         |  CAST(0.7 AS DOUBLE), CAST(0.8 AS DOUBLE),
         |  CAST(0.9 AS DOUBLE)]) AS threshold)
         |SELECT th.threshold, CAST(count(*) AS BIGINT) AS n_pairs,
         | CAST(count(DISTINCT id_b) AS BIGINT) AS n_docs_removed
         |FROM p JOIN th ON p.jaccard >= th.threshold
         |GROUP BY 1""".stripMargin,

    // q169 twin: same keyed lag window, the same ms floor-quantization,
    // and the same histogram-interpolated percentiles — k and rem from
    // exact integer arithmetic, bracketing values off cumulative counts,
    // one pinned-order lo + (rem/den)·(hi−lo) double per rank.
    "q169_interarrival_stats" ->
      s"""WITH g AS (SELECT event_type AS grp,
         |  (epoch_us(ts) - lag(epoch_us(ts)) OVER
         |   (PARTITION BY user_id, event_type ORDER BY ts, event_id))
         |   // 1000 AS v
         | FROM events),
         |h AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
         | FROM g WHERE v IS NOT NULL GROUP BY 1, 2),
         |$sqlCumCountCte,
         |a AS (SELECT grp, CAST(max(n) AS BIGINT) AS n,
         |  min(CASE WHEN cum > ((n - 1) * 1) // 2 THEN v END) AS lo1,
         |  min(CASE WHEN cum > ((n - 1) * 1) // 2 + 1 THEN v END) AS hi1,
         |  min(CASE WHEN cum > ((n - 1) * 9) // 10 THEN v END) AS lo2,
         |  min(CASE WHEN cum > ((n - 1) * 9) // 10 + 1 THEN v END) AS hi2,
         |  min(CASE WHEN cum > ((n - 1) * 99) // 100 THEN v END) AS lo3,
         |  min(CASE WHEN cum > ((n - 1) * 99) // 100 + 1 THEN v END) AS hi3
         | FROM cw GROUP BY 1)
         |SELECT grp AS event_type, n AS n_gaps,
         | CASE WHEN ((n - 1) * 1) % 2 = 0 THEN CAST(lo1 AS DOUBLE)
         |  ELSE CAST(lo1 AS DOUBLE) +
         |   (CAST(((n - 1) * 1) % 2 AS DOUBLE) / 2.0) *
         |   (CAST(hi1 AS DOUBLE) - CAST(lo1 AS DOUBLE)) END AS p50_ms,
         | CASE WHEN ((n - 1) * 9) % 10 = 0 THEN CAST(lo2 AS DOUBLE)
         |  ELSE CAST(lo2 AS DOUBLE) +
         |   (CAST(((n - 1) * 9) % 10 AS DOUBLE) / 10.0) *
         |   (CAST(hi2 AS DOUBLE) - CAST(lo2 AS DOUBLE)) END AS p90_ms,
         | CASE WHEN ((n - 1) * 99) % 100 = 0 THEN CAST(lo3 AS DOUBLE)
         |  ELSE CAST(lo3 AS DOUBLE) +
         |   (CAST(((n - 1) * 99) % 100 AS DOUBLE) / 100.0) *
         |   (CAST(hi3 AS DOUBLE) - CAST(lo3 AS DOUBLE)) END AS p99_ms
         |FROM a""".stripMargin,

    // q170 twin: q153's co-purchase edges, symmetric endpoint-degree
    // list, HUGEINT sufficient statistics, one double division.
    "q170_degree_assortativity" ->
      s"""WITH $sqlBasketPairsCte,
         |e0 AS (SELECT x.pk AS a, y.pk AS b FROM pp x
         |  JOIN pp y ON x.ok = y.ok AND x.pk < y.pk),
         |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
         |  FROM e0 WHERE a <> b),
         |$sqlDegreeCte,
         |ends AS (SELECT du.d AS x, dv.d AS y FROM e
         |  JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
         |s AS (SELECT x, y FROM ends UNION ALL SELECT y, x FROM ends),
         |a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |  CAST(sum(x) AS HUGEINT) AS sx,
         |  CAST(sum(x*y) AS HUGEINT) AS sxy,
         |  CAST(sum(x*x) AS HUGEINT) AS sxx FROM s),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
         |SELECT nn.n_nodes, CAST(n AS BIGINT) // 2 AS n_edges,
         | CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_degree,
         | CASE WHEN n * sxx - sx * sx <> 0 THEN
         |  CAST(n * sxy - sx * sx AS DOUBLE) /
         |   CAST(n * sxx - sx * sx AS DOUBLE) END AS assortativity
         |FROM a, nn""".stripMargin,

    // q171/q172 twins: the generated per-subspace Lloyd chains + ADC
    // pipeline ([[sqlPqCtes]]), finished as pure ADC top-3 or as the
    // shortlist + exact re-rank.
    "q171_pq_adc_topk" -> sqlPqAdcTopK,
    "q172_pq_rerank_topk" -> sqlPqRerankTopK,

    // q177 twin: the generated coarse + residual chains + cell-equi ADC
    // pipeline ([[sqlIvfPqTopK]]).
    "q177_ivfpq_topk" -> sqlIvfPqTopK,

    // q173 twin: q38's session CTEs, per-session depth + conversion
    // flag, ≤5-row census.
    "q173_session_conversion" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev
        | FROM events),
        |s AS (SELECT user_id, event_type, us,
        |  sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS session_idx
        | FROM x),
        |ses AS (SELECT user_id, session_idx,
        |  CAST(count(*) AS BIGINT) AS n,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |   AS conv
        | FROM s GROUP BY 1, 2)
        |SELECT least(n, 5) AS depth_bucket,
        | CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(sum(conv) AS BIGINT) AS n_converted,
        | CAST(sum(conv) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  AS conversion_rate
        |FROM ses GROUP BY 1""".stripMargin,

    // q174 twin: same day-ordinal integer division, same RANGE frame,
    // HUGEINT windowed sufficient statistics, same degenerate guard.
    "q174_rolling_slope" ->
      """WITH daily AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS d,
        |  CAST(count(*) AS BIGINT) AS y
        | FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, d, y,
        |  CAST(count(*) OVER w AS BIGINT) AS k,
        |  CAST(sum(y) OVER w AS HUGEINT) AS sy,
        |  CAST(sum(d) OVER w AS HUGEINT) AS sx,
        |  CAST(sum(d * y) OVER w AS HUGEINT) AS sxy,
        |  CAST(sum(d * d) OVER w AS HUGEINT) AS sxx
        | FROM daily
        | WINDOW w AS (PARTITION BY event_type ORDER BY d
        |   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d AS day_ord, y AS n_events, k AS n_days,
        | CASE WHEN k > 1 AND k * sxx - sx * sx <> 0
        |  THEN CAST(k * sxy - sx * sy AS DOUBLE) /
        |   CAST(k * sxx - sx * sx AS DOUBLE) END AS slope_7d
        |FROM st""".stripMargin,

    // q175 twin: same daily table, one exact rational per group.
    "q175_fano_burstiness" ->
      """WITH daily AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS d,
        |  CAST(count(*) AS BIGINT) AS y
        | FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS HUGEINT) AS sy,
        |  CAST(sum(y * y) AS HUGEINT) AS syy
        | FROM daily GROUP BY 1)
        |SELECT event_type, n AS n_days, CAST(sy AS BIGINT) AS n_events,
        | CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_daily,
        | CASE WHEN n > 1
        |  THEN CAST(n * (n * syy - sy * sy) AS DOUBLE) /
        |   CAST(n * (n - 1) * sy AS DOUBLE) END AS fano
        |FROM a""".stripMargin,

    // q176 twin: the same tied-rank histogram identity
    // Σ v·c·(2p + c − N) in HUGEINT, one double division.
    "q176_revenue_gini" ->
      """WITH cu AS (SELECT o_custkey,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM orders GROUP BY 1),
        |h AS (SELECT v, c, cum, n FROM (
        |  SELECT v, c, sum(c) OVER (ORDER BY v) AS cum,
        |   sum(c) OVER () AS n
        |  FROM (SELECT cents AS v, CAST(count(*) AS BIGINT) AS c
        |    FROM cu WHERE cents >= 0 GROUP BY 1))),
        |a AS (SELECT CAST(max(n) AS BIGINT) AS n_units,
        |  CAST(sum(CAST(v AS HUGEINT) * CAST(c AS HUGEINT)) AS HUGEINT)
        |   AS s,
        |  CAST(sum(CAST(v AS HUGEINT) * CAST(c AS HUGEINT) *
        |   (2 * CAST(cum - c AS HUGEINT) + CAST(c AS HUGEINT)
        |    - CAST(n AS HUGEINT))) AS HUGEINT) AS g
        | FROM h)
        |SELECT n_units, CAST(s AS BIGINT) AS total,
        | CAST(g AS DOUBLE) / (CAST(n_units AS DOUBLE) * CAST(s AS DOUBLE))
        |  AS gini
        |FROM a""".stripMargin,

    // q178 twin: the same transition counts, the 8 scaled-integer
    // rounds unrolled (HUGEINT Σn·p, floor //, absorbing state pinned).
    "q178_absorption" -> {
      val rounds = (1 to 8).map { i =>
        s"""m$i AS (SELECT tr.from_state AS state,
           |  CAST(sum(CAST(tr.n AS HUGEINT) * CAST(p.p AS HUGEINT))
           |   AS HUGEINT) AS mm
           | FROM tr JOIN p${i - 1} p ON p.state = tr.to_state
           | GROUP BY 1),
           |p$i AS (SELECT st.state,
           |  CASE WHEN st.state = 'purchase' THEN 1000000000
           |   ELSE coalesce(CAST(m.mm // od.n_from AS BIGINT), 0)
           |  END AS p
           | FROM st LEFT JOIN m$i m ON m.state = st.state
           |  LEFT JOIN od ON od.from_state = st.state)""".stripMargin
      }.mkString(",\n")
      s"""WITH o AS (SELECT event_type AS from_state,
         |  lead(event_type) OVER (PARTITION BY user_id
         |   ORDER BY epoch_us(ts), event_id) AS to_state
         | FROM events),
         |tr AS (SELECT from_state, to_state, CAST(count(*) AS BIGINT)
         |  AS n FROM o
         | WHERE to_state IS NOT NULL AND from_state <> 'purchase'
         | GROUP BY 1, 2),
         |st AS (SELECT DISTINCT state FROM (
         |  SELECT from_state AS state FROM tr
         |  UNION ALL SELECT to_state FROM tr)),
         |od AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS n_from
         |  FROM tr GROUP BY 1),
         |p0 AS (SELECT state, CASE WHEN state = 'purchase'
         |  THEN 1000000000 ELSE 0 END AS p FROM st),
         |$rounds
         |SELECT state, CAST(p AS BIGINT) AS p_absorb_scaled,
         | CAST(p AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS p_absorb
         |FROM p8""".stripMargin
    },

    // q179 twin: q75's two-step frontier, whole-second delays, the
    // histogram-cumsum discrete quantiles.
    "q179_time_to_convert" ->
      """WITH f1 AS (SELECT user_id, min(epoch_us(ts)) AS t1
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |d AS (SELECT (min(epoch_us(e.ts)) - max(f1.t1)) // 1000000
        |   AS delay_s
        | FROM events e JOIN f1 ON e.user_id = f1.user_id
        | WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f1.t1
        | GROUP BY e.user_id),
        |hh AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
        |   sum(c) OVER () AS n
        |  FROM (SELECT delay_s AS v, count(*) AS c FROM d GROUP BY 1)),
        |q AS (SELECT min(CASE WHEN cum * 4 >= n THEN v END) AS p25_s,
        |  min(CASE WHEN cum * 2 >= n THEN v END) AS p50_s,
        |  min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS p75_s,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN v END) AS p90_s FROM hh)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_converters,
        | p25_s, p50_s, p75_s, p90_s
        |FROM q""".stripMargin,

    // q180 twin: same per-source (N, V), same integer floor-log2
    // points, same global OLS with one division.
    "q180_heaps_law" ->
      """WITH tv AS (SELECT source,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types
        | FROM (SELECT source, t, count(*) AS c
        |   FROM (SELECT source, unnest(string_split(text, ' ')) AS t
        |     FROM documents)
        |   GROUP BY 1, 2) tt
        | GROUP BY source),
        |pts AS (SELECT CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS x,
        |  CAST(length(bin(n_types)) - 1 AS BIGINT) AS y FROM tv),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x*y) AS BIGINT) AS sxy,
        |  CAST(sum(x*x) AS BIGINT) AS sxx FROM pts),
        |b AS (SELECT CASE WHEN k * sxx - sx * sx <> 0
        |  THEN CAST(k * sxy - sx * sy AS DOUBLE) /
        |   CAST(k * sxx - sx * sx AS DOUBLE) END AS heaps_beta FROM st)
        |SELECT tv.source, tv.n_tokens, tv.n_types,
        | CAST(tv.n_types AS DOUBLE) / CAST(tv.n_tokens AS DOUBLE) AS ttr,
        | b.heaps_beta
        |FROM tv, b""".stripMargin,

    // q181 twin: q21's stopword filter rolled to source level, q155's
    // Wilson expression sequence token-for-token. The `text IS NOT NULL`
    // pins the artifact contract (ADVICE r11): a source whose docs are
    // ALL null-text has no (doc, term, tf) rows, so the Spark side emits
    // no row for it — the twin must drop it too, not emit NULL sums.
    // Sources with ANY non-null doc are unaffected (sum skips NULLs).
    "q181_stopword_density" ->
      s"""WITH a AS (SELECT source,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n,
         |  CAST(sum(len(list_filter(string_split(text, ' '),
         |    x -> list_contains($sqlStopwords, x)))) AS BIGINT) AS s
         | FROM documents WHERE text IS NOT NULL GROUP BY 1),
         |${sqlWilsonCtes("source")}
         |SELECT source, n AS n_tokens, s AS n_stop, p AS stop_share,
         |$sqlWilsonBounds""".stripMargin,

    // q182 twin: same integer month ordinals, same cumulative frame,
    // same day-0 cohort-size read-off.
    "q182_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS m,
        |  CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents
        | FROM orders),
        |c AS (SELECT o_custkey, min(m) AS cm FROM o GROUP BY 1),
        |cell AS (SELECT c.cm, o.m - c.cm AS months_since,
        |  CAST(sum(o.cents) AS BIGINT) AS rev,
        |  CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active
        | FROM o JOIN c ON c.o_custkey = o.o_custkey GROUP BY 1, 2),
        |k AS (SELECT cm, months_since, n_active, rev,
        |  CAST(sum(rev) OVER (PARTITION BY cm ORDER BY months_since
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
        |  CAST(max(CASE WHEN months_since = 0 THEN n_active END)
        |    OVER (PARTITION BY cm) AS BIGINT) AS cohort_size
        | FROM cell)
        |SELECT cm AS cohort_month, CAST(months_since AS INT)
        |  AS months_since, n_active, rev AS rev_cents, cum_cents,
        | cohort_size,
        | CAST(cum_cents AS DOUBLE) / CAST(cohort_size AS DOUBLE)
        |  AS ltv_cents_per_customer
        |FROM k""".stripMargin,

    // q183 twin: same midpoint split, the q164 quartile CTEs per
    // period, full-outer census with 0 = absent-in-period margins.
    "q183_segment_migration" -> {
      def periodCtes(p: String, cond: String): String =
        s"""$p AS (SELECT user_id,
           |  CAST(sum(CAST(floor(coalesce(value, 0.0) * 100.0)
           |    AS BIGINT)) AS BIGINT) AS m
           | FROM events, mid WHERE $cond GROUP BY 1),
           |${p}q AS (SELECT min(CASE WHEN cum * 4 >= n THEN v END) AS q1,
           |  min(CASE WHEN cum * 2 >= n THEN v END) AS q2,
           |  min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
           | FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
           |    sum(c) OVER () AS n
           |   FROM (SELECT m AS v, count(*) AS c FROM $p GROUP BY 1))),
           |${p}c AS (SELECT user_id,
           |  1 + (CASE WHEN m > q1 THEN 1 ELSE 0 END)
           |    + (CASE WHEN m > q2 THEN 1 ELSE 0 END)
           |    + (CASE WHEN m > q3 THEN 1 ELSE 0 END) AS code
           | FROM $p, ${p}q)""".stripMargin
      s"""WITH mid AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2
         |   AS m FROM events),
         |${periodCtes("pa", "epoch_us(ts) < mid.m")},
         |${periodCtes("pb", "epoch_us(ts) >= mid.m")}
         |SELECT CAST(coalesce(pac.code, 0) AS INT) AS code_a,
         | CAST(coalesce(pbc.code, 0) AS INT) AS code_b,
         | CAST(count(*) AS BIGINT) AS n_actors
         |FROM pac FULL OUTER JOIN pbc USING (user_id)
         |GROUP BY 1, 2""".stripMargin
    },

    // q184 twin: plain degree count over the same edges — the bucketed
    // layout must be read-invisible.
    "q184_bucketed_degrees" ->
      s"""WITH $sqlBasketPairsCte,
         |$sqlUndirectedEdgeCte,
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
         |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
         | GROUP BY 1)
         |SELECT node, degree FROM deg
         |ORDER BY degree DESC, node LIMIT 20""".stripMargin,

    // q185 twin: q153's edges, same integer floor-log2 binning, same
    // global OLS with one division.
    "q185_degree_powerlaw" ->
      s"""WITH $sqlBasketPairsCte,
         |$sqlUndirectedEdgeCte,
         |$sqlDegreeCte,
         |h AS (SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS log2_degree,
         |  CAST(count(*) AS BIGINT) AS n_nodes,
         |  min(d) AS min_degree, max(d) AS max_degree
         | FROM deg GROUP BY 1),
         |pts AS (SELECT log2_degree AS x,
         |  CAST(length(bin(n_nodes)) - 1 AS BIGINT) AS y FROM h),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x*y) AS BIGINT) AS sxy,
         |  CAST(sum(x*x) AS BIGINT) AS sxx FROM pts),
         |b AS (SELECT CASE WHEN k * sxx - sx * sx <> 0
         |  THEN CAST(k * sxy - sx * sy AS DOUBLE) /
         |   CAST(k * sxx - sx * sx AS DOUBLE) END AS powerlaw_slope
         | FROM st)
         |SELECT h.log2_degree, h.n_nodes, h.min_degree, h.max_degree,
         | b.powerlaw_slope
         |FROM h, b""".stripMargin,

    // q187 twin: the same weighted pair build (count, not distinct),
    // symmetric weighted degrees, the identical w/√(s_a·s_b) double,
    // row_number top-3 with the same (score desc, peer) tiebreak.
    "q187_item_similarity" ->
      s"""WITH $sqlCoPurchaseSymCtes,
         |$sqlWeightedDegreeCte,
         |sc AS (SELECT sym.node, sym.peer,
         |  CAST(sym.w AS DOUBLE) / sqrt(CAST(da.s * db.s AS DOUBLE))
         |   AS score
         | FROM sym JOIN wd da ON da.node = sym.node
         |  JOIN wd db ON db.node = sym.peer),
         |r AS (SELECT node, peer, score,
         |  row_number() OVER (PARTITION BY node
         |    ORDER BY score DESC, peer) AS rank
         | FROM sc)
         |SELECT node, CAST(rank AS INT) AS rank, peer, score
         |FROM r WHERE rank <= 3""".stripMargin,

    // q188 twin: same join, same raw-µs non-negativity guard before the
    // floor division, the q169 histogram-interpolation pattern.
    "q188_ship_latency_quantiles" ->
      s"""WITH g AS (SELECT o.o_orderpriority AS grp,
         |  (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
         |   // 86400000000 AS v
         | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         | WHERE epoch_us(l.l_shipdate) >= epoch_us(o.o_orderdate)),
         |h AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
         | FROM g GROUP BY 1, 2),
         |$sqlCumCountCte,
         |a AS (SELECT grp, CAST(max(n) AS BIGINT) AS n,
         |  min(CASE WHEN cum > ((n - 1) * 1) // 2 THEN v END) AS lo1,
         |  min(CASE WHEN cum > ((n - 1) * 1) // 2 + 1 THEN v END) AS hi1,
         |  min(CASE WHEN cum > ((n - 1) * 9) // 10 THEN v END) AS lo2,
         |  min(CASE WHEN cum > ((n - 1) * 9) // 10 + 1 THEN v END) AS hi2,
         |  min(CASE WHEN cum > ((n - 1) * 99) // 100 THEN v END) AS lo3,
         |  min(CASE WHEN cum > ((n - 1) * 99) // 100 + 1 THEN v END) AS hi3
         | FROM cw GROUP BY 1)
         |SELECT grp AS o_orderpriority, n AS n_items,
         | CASE WHEN ((n - 1) * 1) % 2 = 0 THEN CAST(lo1 AS DOUBLE)
         |  ELSE CAST(lo1 AS DOUBLE) +
         |   (CAST(((n - 1) * 1) % 2 AS DOUBLE) / 2.0) *
         |   (CAST(hi1 AS DOUBLE) - CAST(lo1 AS DOUBLE)) END AS p50_days,
         | CASE WHEN ((n - 1) * 9) % 10 = 0 THEN CAST(lo2 AS DOUBLE)
         |  ELSE CAST(lo2 AS DOUBLE) +
         |   (CAST(((n - 1) * 9) % 10 AS DOUBLE) / 10.0) *
         |   (CAST(hi2 AS DOUBLE) - CAST(lo2 AS DOUBLE)) END AS p90_days,
         | CASE WHEN ((n - 1) * 99) % 100 = 0 THEN CAST(lo3 AS DOUBLE)
         |  ELSE CAST(lo3 AS DOUBLE) +
         |   (CAST(((n - 1) * 99) % 100 AS DOUBLE) / 100.0) *
         |   (CAST(hi3 AS DOUBLE) - CAST(lo3 AS DOUBLE)) END AS p99_days
         |FROM a""".stripMargin,

    // q189 twin: bounded recursive CTE — UNION (not UNION ALL) dedups
    // (node, dist) pairs so the walk is ≤ nodes×(rounds+1) rows; the
    // true BFS distance is min(dist) per node, the same min-node seed.
    "q189_bfs_layers" ->
      s"""WITH RECURSIVE pp AS (SELECT DISTINCT l_orderkey AS ok,
         |  l_partkey AS pk FROM lineitem),
         |$sqlUndirectedEdgeCte,
         |sym AS (SELECT u AS node, v AS peer FROM e
         |  UNION ALL SELECT v, u FROM e),
         |nodes AS (SELECT DISTINCT node FROM sym),
         |walk(node, dist) AS (
         |  SELECT (SELECT min(node) FROM nodes), 0
         |  UNION
         |  SELECT sym.peer, walk.dist + 1
         |  FROM walk JOIN sym ON sym.node = walk.node
         |  WHERE walk.dist < 4),
         |d AS (SELECT node, min(dist) AS dist FROM walk GROUP BY 1),
         |c AS (SELECT CAST(dist AS INT) AS dist,
         |  CAST(count(*) AS BIGINT) AS n_nodes FROM d GROUP BY 1),
         |u AS (SELECT CAST(-1 AS INT) AS dist,
         |  CAST(count(*) AS BIGINT) AS n_nodes FROM nodes
         | WHERE node NOT IN (SELECT node FROM d)
         | HAVING count(*) > 0)
         |SELECT dist, n_nodes FROM c
         |UNION ALL SELECT dist, n_nodes FROM u
         |ORDER BY dist""".stripMargin,

    // q190 twin: same corpus horizon, same integer-µs window constants,
    // same cents coalesce; all exact integers.
    "q190_feature_snapshot" ->
      """WITH h AS (SELECT max(epoch_us(ts)) AS h FROM events),
        |e AS (SELECT user_id, epoch_us(ts) AS us,
        |  coalesce(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT),
        |   0) AS cents
        | FROM events)
        |SELECT e.user_id,
        | (max(h.h) - max(e.us)) // 86400000000 AS r_days,
        | CAST(count(*) AS BIGINT) AS n_total,
        | CAST(sum(CASE WHEN e.us > h.h - 604800000000
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_7d,
        | CAST(sum(CASE WHEN e.us > h.h - 2592000000000
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_30d,
        | CAST(sum(CASE WHEN e.us > h.h - 2592000000000
        |   THEN e.cents ELSE 0 END) AS BIGINT) AS cents_30d
        |FROM e, h GROUP BY 1""".stripMargin,

    // q191 twin: q109's unrolled scaled-integer chain with the teleport
    // term gated on the same seed predicate (node % 50 = 0; part ids are
    // positive so % matches pmod).
    "q191_personalized_pagerank" ->
      s"""WITH $sqlBasketPairsCte,
         |e AS (SELECT DISTINCT x.pk AS a, y.pk AS b FROM pp x JOIN pp y
         |  ON x.ok = y.ok AND x.pk < y.pk),
         |sym AS (SELECT a AS u, b AS v FROM e
         |  UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS outdeg,
         |  u % 50 = 0 AS is_seed
         |  FROM sym GROUP BY 1, 3),
         |r0 AS (SELECT node,
         |  CAST(CASE WHEN is_seed THEN 1000000000 ELSE 0 END AS BIGINT)
         |   AS rank, outdeg, is_seed FROM deg),
         |m1 AS (SELECT s.v AS node,
         |  CAST(sum(r.rank // r.outdeg) AS BIGINT) AS mass
         | FROM sym s JOIN r0 r ON s.u = r.node GROUP BY 1),
         |r1 AS (SELECT d.node,
         |  CAST(CASE WHEN d.is_seed THEN 150000000 ELSE 0 END
         |   + (85 * m.mass) // 100 AS BIGINT) AS rank,
         |  d.outdeg, d.is_seed FROM deg d JOIN m1 m ON d.node = m.node),
         |m2 AS (SELECT s.v AS node,
         |  CAST(sum(r.rank // r.outdeg) AS BIGINT) AS mass
         | FROM sym s JOIN r1 r ON s.u = r.node GROUP BY 1),
         |r2 AS (SELECT d.node,
         |  CAST(CASE WHEN d.is_seed THEN 150000000 ELSE 0 END
         |   + (85 * m.mass) // 100 AS BIGINT) AS rank,
         |  d.outdeg, d.is_seed FROM deg d JOIN m2 m ON d.node = m.node),
         |m3 AS (SELECT s.v AS node,
         |  CAST(sum(r.rank // r.outdeg) AS BIGINT) AS mass
         | FROM sym s JOIN r2 r ON s.u = r.node GROUP BY 1),
         |r3 AS (SELECT d.node,
         |  CAST(CASE WHEN d.is_seed THEN 150000000 ELSE 0 END
         |   + (85 * m.mass) // 100 AS BIGINT) AS rank,
         |  d.outdeg, d.is_seed FROM deg d JOIN m3 m ON d.node = m.node)
         |SELECT node AS part, rank, outdeg AS degree FROM r3
         |ORDER BY rank DESC, node LIMIT 20""".stripMargin,

    // q192 twin: q187's weighted kNN CTEs with w carried through, the
    // same distinct purchase history, anti-join as null-extended left
    // join, exact integer Σw scoring, the identical (score desc, peer)
    // top-5 tiebreak.
    "q192_user_recommendations" ->
      s"""WITH $sqlCoPurchaseSymCtes,
         |$sqlWeightedDegreeCte,
         |sc AS (SELECT sym.node, sym.peer, sym.w,
         |  CAST(sym.w AS DOUBLE) / sqrt(CAST(da.s * db.s AS DOUBLE))
         |   AS score
         | FROM sym JOIN wd da ON da.node = sym.node
         |  JOIN wd db ON db.node = sym.peer),
         |knn AS (SELECT node, peer, w FROM (
         |  SELECT node, peer, w, row_number() OVER (PARTITION BY node
         |    ORDER BY score DESC, peer) AS rn FROM sc)
         | WHERE rn <= 3),
         |bought AS (SELECT DISTINCT o.o_custkey AS cust,
         |  l.l_partkey AS part
         | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |cand AS (SELECT b.cust, k.peer,
         |  CAST(sum(k.w) AS BIGINT) AS score,
         |  CAST(count(*) AS BIGINT) AS n_paths
         | FROM bought b JOIN knn k ON k.node = b.part GROUP BY 1, 2),
         |fresh AS (SELECT c.cust, c.peer, c.score, c.n_paths
         | FROM cand c LEFT JOIN bought b2
         |  ON b2.cust = c.cust AND b2.part = c.peer
         | WHERE b2.cust IS NULL),
         |r AS (SELECT cust, peer, score, n_paths,
         |  row_number() OVER (PARTITION BY cust
         |    ORDER BY score DESC, peer) AS rank FROM fresh)
         |SELECT cust AS c_custkey, CAST(rank AS INT) AS rank,
         | peer AS part, score, n_paths
         |FROM r WHERE rank <= 5""".stripMargin,

    // q193 twin: the same absolute epoch-week integers, distinct
    // (user, week) frame, min-week cohorts, one final division.
    "q193_retention_triangle" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 604800000000 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS fw FROM uw GROUP BY 1),
        |coh AS (SELECT fw, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM f GROUP BY 1),
        |a AS (SELECT f.fw, uw.wk - f.fw AS age_weeks,
        |  CAST(count(*) AS BIGINT) AS n_active
        | FROM uw JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT a.fw AS cohort_week, a.age_weeks, a.n_active,
        | coh.cohort_size,
        | CAST(a.n_active AS DOUBLE) / CAST(coh.cohort_size AS DOUBLE)
        |  AS retention
        |FROM a JOIN coh ON coh.fw = a.fw""".stripMargin,

    // q195 twin: the full weighted kNN build literally RESTRICTED to the
    // affected set — which is the invariant the incremental path must
    // hold (identical rows, delta-proportional work on the engine side).
    "q195_incremental_knn" ->
      s"""WITH $sqlCoPurchaseSymCtes,
         |dp AS (SELECT DISTINCT l_partkey AS node FROM lineitem
         | WHERE l_orderkey % 37 = 0),
         |aff AS (SELECT DISTINCT node FROM sym
         |  WHERE peer IN (SELECT node FROM dp)
         | UNION SELECT node FROM dp),
         |$sqlWeightedDegreeCte,
         |sc AS (SELECT sym.node, sym.peer,
         |  CAST(sym.w AS DOUBLE) / sqrt(CAST(da.s * db.s AS DOUBLE))
         |   AS score
         | FROM sym JOIN wd da ON da.node = sym.node
         |  JOIN wd db ON db.node = sym.peer
         | WHERE sym.node IN (SELECT node FROM aff)),
         |r AS (SELECT node, peer, score,
         |  row_number() OVER (PARTITION BY node
         |    ORDER BY score DESC, peer) AS rank FROM sc)
         |SELECT node, CAST(rank AS INT) AS rank, peer, score
         |FROM r WHERE rank <= 3""".stripMargin,

    // q196 twin: identical four integers, identical division/sqrt
    // assembly order for the doubles.
    "q196_ab_readout" ->
      """WITH u AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |   AS conv
        | FROM events GROUP BY 1),
        |a AS (SELECT user_id % 2 AS arm, conv FROM u),
        |s AS (SELECT
        |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_ctl,
        |  CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
        |   AS conv_ctl,
        |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_trt,
        |  CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
        |   AS conv_trt
        | FROM a),
        |r AS (SELECT s.*,
        |  CASE WHEN n_ctl > 0 THEN
        |   CAST(conv_ctl AS DOUBLE) / CAST(n_ctl AS DOUBLE) END
        |   AS rate_ctl,
        |  CASE WHEN n_trt > 0 THEN
        |   CAST(conv_trt AS DOUBLE) / CAST(n_trt AS DOUBLE) END
        |   AS rate_trt
        | FROM s)
        |SELECT r.*, rate_trt - rate_ctl AS abs_lift,
        | CASE WHEN n_ctl > 0 AND n_trt > 0
        |   AND conv_ctl + conv_trt > 0
        |   AND conv_ctl + conv_trt < n_ctl + n_trt THEN
        |  (rate_trt - rate_ctl) / sqrt(
        |   (CAST(conv_ctl + conv_trt AS DOUBLE) /
        |    CAST(n_ctl + n_trt AS DOUBLE)) *
        |   (1.0 - CAST(conv_ctl + conv_trt AS DOUBLE) /
        |    CAST(n_ctl + n_trt AS DOUBLE)) *
        |   (1.0 / CAST(n_ctl AS DOUBLE) + 1.0 / CAST(n_trt AS DOUBLE)))
        |  END AS z_score
        |FROM r""".stripMargin,

    // q202-q206 twins: the TPC-H classics with the identical integer
    // scaling (round() before every double→int — DuckDB's bare CAST
    // rounds, Spark's truncates), HUGEINT accumulation for the charge
    // column, one division/double-cast per output.
    "q202_tpch_q1" ->
      """WITH l AS (SELECT l_returnflag, l_linestatus,
        |  CAST(round(l_quantity) AS BIGINT) AS qty,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |  CAST(round(l_discount * 10000) AS BIGINT) AS dbp,
        |  CAST(round(l_tax * 10000) AS BIGINT) AS tbp
        | FROM lineitem
        | WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'),
        |a AS (SELECT l_returnflag, l_linestatus,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(sum(cents) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(cents * (10000 - dbp)) AS DOUBLE)
        |   AS sum_disc_price_e4,
        |  CAST(sum(CAST(cents AS HUGEINT) * (10000 - dbp) *
        |   (10000 + tbp)) AS DOUBLE) AS sum_charge_e8,
        |  CAST(sum(dbp) AS BIGINT) AS sd,
        |  CAST(count(*) AS BIGINT) AS count_order
        | FROM l GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, sum_qty, sum_base_cents,
        | sum_disc_price_e4, sum_charge_e8,
        | CAST(sum_qty AS DOUBLE) / CAST(count_order AS DOUBLE)
        |  AS avg_qty,
        | CAST(sum_base_cents AS DOUBLE) / CAST(count_order AS DOUBLE)
        |  AS avg_cents,
        | CAST(sd AS DOUBLE) / CAST(count_order AS DOUBLE)
        |  AS avg_disc_bp,
        | count_order
        |FROM a""".stripMargin,

    "q203_tpch_q3" ->
      """SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
        | CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |  (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
        |  AS BIGINT) AS revenue_e4
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        | AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        | AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_e4 DESC, o.o_orderdate, l.l_orderkey
        |LIMIT 10""".stripMargin,

    "q204_tpch_q5" ->
      """SELECT n.n_name,
        | CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |  (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
        |  AS DOUBLE) AS revenue_e4
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        | AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    "q205_tpch_q6" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |  CAST(round(l_discount * 10000) AS BIGINT)) AS DOUBLE)
        |  AS revenue_e4,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        | AND l_discount BETWEEN 0.05 AND 0.07
        | AND l_quantity < 24""".stripMargin,

    "q206_tpch_q10" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        | CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |  (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
        |  AS BIGINT) AS revenue_e4
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        | AND o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
        | AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue_e4 DESC, c.c_custkey
        |LIMIT 20""".stripMargin,

    "q207_tpch_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        | AND EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |   AND epoch_us(l.l_shipdate) >
        |    epoch_us(o.o_orderdate) + 5184000000000)
        |GROUP BY 1""".stripMargin,

    "q208_tpch_q7" ->
      """SELECT s.s_nationkey AS supp_nation,
        | c.c_nationkey AS cust_nation,
        | year(l.l_shipdate) AS l_year,
        | CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |  (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
        |  AS DOUBLE) AS revenue_e4
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE (s.s_nationkey = 1 AND c.c_nationkey = 2)
        | OR (s.s_nationkey = 2 AND c.c_nationkey = 1)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q209_tpch_q14" ->
      """WITH l AS (SELECT l_partkey,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) *
        |   (10000 - CAST(round(l_discount * 10000) AS BIGINT)) AS rev
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN l.rev ELSE 0 END)
        |   AS DOUBLE) AS promo_rev_e4,
        |  CAST(sum(l.rev) AS DOUBLE) AS total_rev_e4
        | FROM l JOIN part p ON l.l_partkey = p.p_partkey)
        |SELECT promo_rev_e4, total_rev_e4,
        | 100.0 * promo_rev_e4 / total_rev_e4 AS promo_pct
        |FROM a""".stripMargin,

    "q210_tpch_q18" ->
      """WITH big AS (SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |   AS sum_qty
        | FROM lineitem GROUP BY 1
        | HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 250)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        | o.o_totalprice, big.sum_qty
        |FROM orders o
        |JOIN big ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
        |LIMIT 20""".stripMargin,

    "q211_tpch_q19" ->
      """SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |  (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
        |  AS DOUBLE) AS revenue_e4,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
        |   AND l.l_quantity BETWEEN 1 AND 21)
        | OR (p.p_brand = 'Brand#17' AND p.p_size BETWEEN 1 AND 30
        |   AND l.l_quantity BETWEEN 10 AND 30)
        | OR (p.p_brand = 'Brand#8' AND p.p_size BETWEEN 1 AND 50
        |   AND l.l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q212_tpch_q8" ->
      """SELECT year(o.o_orderdate) AS o_year,
        | CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |  (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
        |  AS DOUBLE) AS total_e4,
        | CAST(sum(CASE WHEN s.s_nationkey = 1 THEN
        |  CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |  (10000 - CAST(round(l.l_discount * 10000) AS BIGINT))
        |  ELSE 0 END) AS DOUBLE) AS nation1_e4,
        | CAST(sum(CASE WHEN s.s_nationkey = 1 THEN
        |  CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |  (10000 - CAST(round(l.l_discount * 10000) AS BIGINT))
        |  ELSE 0 END) AS DOUBLE) /
        | CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |  (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
        |  AS DOUBLE) AS mkt_share
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        | AND p.p_type = 'PROMO'
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        | AND r.r_name = 'ASIA'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1""".stripMargin,

    "q213_tpch_q15" ->
      """WITH rev AS (SELECT l_suppkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |   (10000 - CAST(round(l_discount * 10000) AS BIGINT)))
        |   AS BIGINT) AS total_rev_e4
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        | GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, rev.total_rev_e4
        |FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
        |WHERE rev.total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)
        |""".stripMargin,

    "q214_tpch_q17" ->
      """WITH l AS (SELECT l.l_partkey AS pk,
        |  CAST(round(l.l_quantity) AS BIGINT) AS qty,
        |  CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        | WHERE p.p_brand = 'Brand#4'),
        |st AS (SELECT pk, CAST(sum(qty) AS BIGINT) AS sq,
        |  CAST(count(*) AS BIGINT) AS n FROM l GROUP BY 1)
        |SELECT CAST(sum(l.cents) AS BIGINT) AS small_qty_cents,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM l JOIN st ON l.pk = st.pk
        |WHERE 5 * l.qty * st.n < st.sq""".stripMargin,

    "q215_tpch_q22" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        | FROM customer),
        |pos AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS s,
        |  CAST(count(*) AS BIGINT) AS n FROM c WHERE bal_cents > 0)
        |SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_custs,
        | CAST(sum(c.bal_cents) AS BIGINT) AS total_bal_cents
        |FROM c, pos
        |WHERE c.bal_cents * pos.n > pos.s
        | AND c.c_custkey NOT IN (SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY 1""".stripMargin,

    "q216_tpch_q13" ->
      """WITH cc AS (SELECT c.c_custkey,
        |  CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        | FROM customer c LEFT JOIN orders o
        |  ON c.c_custkey = o.o_custkey
        |   AND o.o_orderpriority <> '5-LOW'
        | GROUP BY 1)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM cc GROUP BY 1""".stripMargin,

    // q217 twin: three synchronous LPA rounds unrolled as CTEs — the
    // same co-purchase sym derivation as the q195 twin, each round one
    // neighbor-label tally + the (sum DESC, lbl ASC) argmax the Spark
    // max-of-struct computes.
    "q217_label_propagation" ->
      s"""WITH $sqlCoPurchaseSymCtes,
         |l0 AS (SELECT DISTINCT node, node AS lbl FROM sym),
         |t1 AS (SELECT s.node, l.lbl, CAST(sum(s.w) AS BIGINT) AS sw
         |  FROM sym s JOIN l0 l ON l.node = s.peer GROUP BY 1, 2),
         |l1 AS (SELECT node, lbl FROM (SELECT node, lbl, row_number()
         |   OVER (PARTITION BY node ORDER BY sw DESC, lbl) AS rn FROM t1)
         |  WHERE rn = 1),
         |t2 AS (SELECT s.node, l.lbl, CAST(sum(s.w) AS BIGINT) AS sw
         |  FROM sym s JOIN l1 l ON l.node = s.peer GROUP BY 1, 2),
         |l2 AS (SELECT node, lbl FROM (SELECT node, lbl, row_number()
         |   OVER (PARTITION BY node ORDER BY sw DESC, lbl) AS rn FROM t2)
         |  WHERE rn = 1),
         |t3 AS (SELECT s.node, l.lbl, CAST(sum(s.w) AS BIGINT) AS sw
         |  FROM sym s JOIN l2 l ON l.node = s.peer GROUP BY 1, 2),
         |l3 AS (SELECT node, lbl FROM (SELECT node, lbl, row_number()
         |   OVER (PARTITION BY node ORDER BY sw DESC, lbl) AS rn FROM t3)
         |  WHERE rn = 1)
         |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM l3 GROUP BY 1
         |ORDER BY n_nodes DESC, community LIMIT 20""".stripMargin,

    // q218 twin: the same two-phase skyline — per-price frontier,
    // strict-predecessor running max over the price domain, membership
    // join; ties on both axes kept on both engines.
    "q218_skyline" ->
      """WITH p AS (SELECT p_partkey,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |  p_size FROM part),
        |f AS (SELECT price_cents, max(p_size) AS msize
        |  FROM p GROUP BY 1),
        |s AS (SELECT price_cents, msize, max(msize)
        |   OVER (ORDER BY price_cents
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run
        |  FROM f),
        |sky AS (SELECT price_cents, msize FROM s
        |  WHERE run IS NULL OR msize > run)
        |SELECT p.p_partkey, p.price_cents, p.p_size
        |FROM p JOIN sky ON p.price_cents = sky.price_cents
        | AND p.p_size = sky.msize""".stripMargin,

    // q219 twin: the FULL recompute — merge-maintained must equal
    // rebuilt-from-base exactly (integer cents, so no summation-order
    // hazard across the three partial unions).
    "q219_ivm_join_view" ->
      """SELECT c.c_nationkey, o.o_orderstatus,
        | CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |  AS BIGINT) AS sum_cents,
        | CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2""".stripMargin,

    // q220 twin: four greedy maximum-coverage rounds unrolled — the
    // q39 word-3-gram shingle semantics, each round a 0-gain-keeping
    // left join over unselected sources, the (gain DESC, source ASC)
    // argmax, and the cumulative distinct-coverage count.
    "q220_coverage_select" ->
      s"""WITH tok AS (SELECT source, string_split(text,' ') AS w
         |  FROM documents),
         |shl AS (SELECT source, $sqlShingles3 AS sl FROM tok),
         |us AS (SELECT DISTINCT source, sh FROM
         |  (SELECT source, unnest(sl) AS sh FROM shl)),
         |un AS (SELECT DISTINCT source FROM us),
         |g1 AS (SELECT u.source, CAST(coalesce(r.g, 0) AS BIGINT) AS g
         |  FROM un u LEFT JOIN (SELECT source, count(*) AS g
         |    FROM us GROUP BY 1) r ON u.source = r.source),
         |p1 AS (SELECT source, g FROM g1 ORDER BY g DESC, source LIMIT 1),
         |c1 AS (SELECT DISTINCT sh FROM us
         |  WHERE source IN (SELECT source FROM p1)),
         |g2 AS (SELECT u.source, CAST(coalesce(r.g, 0) AS BIGINT) AS g
         |  FROM (SELECT source FROM un
         |    WHERE source NOT IN (SELECT source FROM p1)) u
         |  LEFT JOIN (SELECT source, count(*) AS g FROM us
         |    WHERE sh NOT IN (SELECT sh FROM c1) GROUP BY 1) r
         |  ON u.source = r.source),
         |p2 AS (SELECT source, g FROM g2 ORDER BY g DESC, source LIMIT 1),
         |s2 AS (SELECT source FROM p1 UNION ALL SELECT source FROM p2),
         |c2 AS (SELECT DISTINCT sh FROM us
         |  WHERE source IN (SELECT source FROM s2)),
         |g3 AS (SELECT u.source, CAST(coalesce(r.g, 0) AS BIGINT) AS g
         |  FROM (SELECT source FROM un
         |    WHERE source NOT IN (SELECT source FROM s2)) u
         |  LEFT JOIN (SELECT source, count(*) AS g FROM us
         |    WHERE sh NOT IN (SELECT sh FROM c2) GROUP BY 1) r
         |  ON u.source = r.source),
         |p3 AS (SELECT source, g FROM g3 ORDER BY g DESC, source LIMIT 1),
         |s3 AS (SELECT source FROM s2 UNION ALL SELECT source FROM p3),
         |c3 AS (SELECT DISTINCT sh FROM us
         |  WHERE source IN (SELECT source FROM s3)),
         |g4 AS (SELECT u.source, CAST(coalesce(r.g, 0) AS BIGINT) AS g
         |  FROM (SELECT source FROM un
         |    WHERE source NOT IN (SELECT source FROM s3)) u
         |  LEFT JOIN (SELECT source, count(*) AS g FROM us
         |    WHERE sh NOT IN (SELECT sh FROM c3) GROUP BY 1) r
         |  ON u.source = r.source),
         |p4 AS (SELECT source, g FROM g4 ORDER BY g DESC, source LIMIT 1),
         |s4 AS (SELECT source FROM s3 UNION ALL SELECT source FROM p4),
         |c4 AS (SELECT DISTINCT sh FROM us
         |  WHERE source IN (SELECT source FROM s4))
         |SELECT CAST(1 AS INT) AS round, source AS unit, g AS gain,
         | (SELECT CAST(count(*) AS BIGINT) FROM c1) AS covered_total
         | FROM p1
         |UNION ALL SELECT CAST(2 AS INT), source, g,
         | (SELECT CAST(count(*) AS BIGINT) FROM c2) FROM p2
         |UNION ALL SELECT CAST(3 AS INT), source, g,
         | (SELECT CAST(count(*) AS BIGINT) FROM c3) FROM p3
         |UNION ALL SELECT CAST(4 AS INT), source, g,
         | (SELECT CAST(count(*) AS BIGINT) FROM c4) FROM p4""".stripMargin,

    // q221 twin: identical integer sufficient statistics (HUGEINT =
    // the decimal(38,0) twin), identical double assembly order for θ
    // and the adjusted means, identical midpoint rule.
    "q221_cuped_readout" ->
      s"""WITH $sqlAbCentsCtes,
         |per AS (SELECT user_id % 2 AS arm,
         |  CAST(sum(CASE WHEN us < mid THEN cents ELSE 0 END)
         |   AS BIGINT) AS x,
         |  CAST(sum(CASE WHEN us >= mid THEN cents ELSE 0 END)
         |   AS BIGINT) AS y
         | FROM ev, m GROUP BY user_id),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |  sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         |  sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
         | FROM per),
         |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(sum(x) AS BIGINT) AS sum_x_cents,
         |  CAST(sum(y) AS BIGINT) AS sum_y_cents
         | FROM per GROUP BY 1),
         |d AS (SELECT a.arm, a.n_users, a.sum_x_cents, a.sum_y_cents,
         |  CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS num,
         |  CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS den,
         |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mxall
         | FROM a, g)
         |SELECT arm, n_users, sum_x_cents, sum_y_cents,
         | CAST(sum_y_cents AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_y,
         | CASE WHEN den > 0.0 THEN num / den END AS theta,
         | CASE WHEN den > 0.0 THEN
         |  CAST(sum_y_cents AS DOUBLE) / CAST(n_users AS DOUBLE)
         |   - (num / den) *
         |    (CAST(sum_x_cents AS DOUBLE) / CAST(n_users AS DOUBLE)
         |     - mxall) END AS mean_y_cuped
         |FROM d""".stripMargin,

    // q222 twin: identical midpoint split, identical value-cut decile
    // rule ((10*cum_before) // total over the score histogram), exact
    // BIGINT counts, and the same pinned division order for uplift and
    // Qini. `//` floors and Spark's `div` truncates — identical on the
    // nonnegative counts here.
    "q222_qini_deciles" ->
      s"""WITH $sqlAbEventCtes,
         |per AS (SELECT user_id % 2 AS arm,
         |  CAST(sum(CASE WHEN us < mid THEN 1 ELSE 0 END)
         |   AS BIGINT) AS score,
         |  CAST(max(CASE WHEN us >= mid AND event_type = 'purchase'
         |   THEN 1 ELSE 0 END) AS BIGINT) AS conv
         | FROM ev, m GROUP BY user_id),
         |cell AS (SELECT score, arm, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(conv) AS BIGINT) AS c FROM per GROUP BY 1, 2),
         |hist AS (SELECT score, CAST(sum(n) AS BIGINT) AS nv
         | FROM cell GROUP BY 1),
         |dec AS (SELECT score,
         |  (10 * COALESCE(CAST(sum(nv) OVER (ORDER BY score DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |     AS BIGINT), 0))
         |   // CAST(sum(nv) OVER () AS BIGINT) AS decile
         | FROM hist),
         |byd AS (SELECT decile,
         |  CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT)
         |   AS n_t,
         |  CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT)
         |   AS n_c,
         |  CAST(sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT)
         |   AS conv_t,
         |  CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT)
         |   AS conv_c
         | FROM cell JOIN dec USING (score) GROUP BY 1),
         |cum AS (SELECT decile, n_t, n_c, conv_t, conv_c,
         |  CAST(sum(n_t) OVER w AS BIGINT) AS cn_t,
         |  CAST(sum(n_c) OVER w AS BIGINT) AS cn_c,
         |  CAST(sum(conv_t) OVER w AS BIGINT) AS cc_t,
         |  CAST(sum(conv_c) OVER w AS BIGINT) AS cc_c
         | FROM byd WINDOW w AS (ORDER BY decile
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT decile, n_t, n_c, conv_t, conv_c, cn_t, cn_c, cc_t, cc_c,
         | CASE WHEN n_t > 0 AND n_c > 0 THEN
         |  CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
         |   - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE) END AS uplift,
         | CASE WHEN cn_c > 0 THEN
         |  CAST(cc_t AS DOUBLE)
         |   - CAST(cc_c AS DOUBLE) * CAST(cn_t AS DOUBLE)
         |    / CAST(cn_c AS DOUBLE) END AS qini
         |FROM cum""".stripMargin,

    // q223 twin: exact BIGINT cells/margins, HUGEINT margin product
    // (= decimal(38,0)), identical (o−e)²/e assembly, and the χ² total
    // folded via list_reduce over cells listed in (source, lang) order —
    // the same sorted fold as Spark's aggregate(array_sort(...), 0.0D)
    // (0.0 + x == x for the nonnegative first contribution).
    "q223_chi2_independence" ->
      """WITH o AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
        |  FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT source, CAST(sum(o) AS BIGINT) AS r
        | FROM o GROUP BY 1),
        |c AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
        |k AS (SELECT o.source, o.lang, o.o, r.r, c.c,
        |  CAST(CAST(r.r AS HUGEINT) * CAST(c.c AS HUGEINT) AS DOUBLE)
        |   / CAST(n.n AS DOUBLE) AS e
        | FROM o JOIN r USING (source) JOIN c USING (lang), n),
        |kk AS (SELECT *,
        |  (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
        |   AS contrib FROM k),
        |t AS (SELECT
        |  list_reduce(list(contrib ORDER BY source, lang),
        |   (x, y) -> x + y) AS chi2,
        |  CAST((count(DISTINCT source) - 1) * (count(DISTINCT lang) - 1)
        |   AS BIGINT) AS dof
        | FROM kk)
        |SELECT kk.source, kk.lang, kk.o, kk.r, kk.c, kk.e, kk.contrib,
        | t.chi2, t.dof FROM kk, t""".stripMargin,

    // q224 twin: the same 48-bit md5 hash (hx idiom), the same single
    // division w/(h+1), the same (q DESC, doc_id) top-(k+1) and τ rule.
    "q224_priority_sample" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |  CAST(n_chars AS DOUBLE) /
        |   CAST(CAST(('0x' || substr(md5('prio:' ||
        |     CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1
        |    AS DOUBLE) AS q
        | FROM documents WHERE n_chars > 0),
        |top AS (SELECT * FROM d ORDER BY q DESC, doc_id LIMIT 101),
        |tau AS (SELECT min(q) AS tau FROM top),
        |s AS (SELECT * FROM top ORDER BY q DESC, doc_id LIMIT 100)
        |SELECT s.doc_id, s.n_chars, s.q AS priority, tau.tau,
        | greatest(CAST(s.n_chars AS DOUBLE), tau.tau) AS ht_weight
        |FROM s, tau""".stripMargin,

    // q225 twin: identical blocks, identical exact-HUGEINT u-prob
    // estimation, identical fixed-order odds product (CASE factors
    // multiplied left to right), same (odds DESC, a, b) top-200.
    "q225_fs_linkage" ->
      """WITH base AS (SELECT doc_id, source, lang,
        |  n_chars // 100 AS f1, split_part(text, ' ', 1) AS f2
        | FROM documents
        | WHERE source IS NOT NULL AND lang IS NOT NULL
        |  AND text IS NOT NULL AND n_chars IS NOT NULL),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM base),
        |u1 AS (SELECT
        |  CAST(sum(CAST(nv AS HUGEINT) * CAST(nv - 1 AS HUGEINT))
        |    AS DOUBLE) /
        |  CAST((SELECT CAST(nn AS HUGEINT) * CAST(nn - 1 AS HUGEINT)
        |    FROM n) AS DOUBLE) AS u1
        | FROM (SELECT CAST(count(*) AS BIGINT) AS nv
        |   FROM base GROUP BY f1)),
        |u2 AS (SELECT
        |  CAST(sum(CAST(nv AS HUGEINT) * CAST(nv - 1 AS HUGEINT))
        |    AS DOUBLE) /
        |  CAST((SELECT CAST(nn AS HUGEINT) * CAST(nn - 1 AS HUGEINT)
        |    FROM n) AS DOUBLE) AS u2
        | FROM (SELECT CAST(count(*) AS BIGINT) AS nv
        |   FROM base GROUP BY f2)),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  a.source, a.lang,
        |  CAST(CASE WHEN a.f1 = b.f1 THEN 1 ELSE 0 END AS BIGINT)
        |   AS agree_len,
        |  CAST(CASE WHEN a.f2 = b.f2 THEN 1 ELSE 0 END AS BIGINT)
        |   AS agree_tok, u1.u1, u2.u2
        | FROM base a JOIN base b
        |  ON a.source = b.source AND a.lang = b.lang
        |   AND a.doc_id < b.doc_id, u1, u2)
        |SELECT a_id, b_id, source, lang, agree_len, agree_tok, u1, u2,
        | (CASE WHEN agree_len = 1 THEN CAST(0.9 AS DOUBLE) / u1
        |   ELSE CAST(0.1 AS DOUBLE) / (CAST(1.0 AS DOUBLE) - u1) END)
        |  * (CASE WHEN agree_tok = 1 THEN CAST(0.9 AS DOUBLE) / u2
        |   ELSE CAST(0.1 AS DOUBLE) / (CAST(1.0 AS DOUBLE) - u2) END)
        |  AS odds
        |FROM p ORDER BY odds DESC, a_id, b_id LIMIT 200""".stripMargin,

    // q226 twin: identical daily grouping (naive-UTC date), identical
    // exact S and HUGEINT tie-corrected variance numerator, identical
    // /18.0 division, ±1 continuity z, and τ_a assembly order.
    "q226_mann_kendall" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |sp AS (SELECT a.event_type,
        |  CAST(sum(CASE WHEN b.n > a.n THEN 1
        |   WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s
        | FROM daily a JOIN daily b
        |  ON a.event_type = b.event_type AND a.day < b.day
        | GROUP BY 1),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        | FROM daily GROUP BY 1),
        |ties AS (SELECT event_type,
        |  sum(CAST(tcnt AS HUGEINT) * CAST(tcnt - 1 AS HUGEINT) *
        |   CAST(2 * tcnt + 5 AS HUGEINT)) AS tie_term
        | FROM (SELECT event_type, n, CAST(count(*) AS BIGINT) AS tcnt
        |   FROM daily GROUP BY 1, 2) GROUP BY 1),
        |v AS (SELECT nd.event_type, nd.n_days, sp.s,
        |  CAST(CAST(n_days AS HUGEINT) * CAST(n_days - 1 AS HUGEINT) *
        |    CAST(2 * n_days + 5 AS HUGEINT) - tie_term AS DOUBLE)
        |   / 18.0 AS var_s
        | FROM nd JOIN ties USING (event_type)
        |  JOIN sp USING (event_type))
        |SELECT event_type, n_days, s, var_s,
        | CASE WHEN var_s > 0.0 THEN
        |  CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
        |   WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
        |   ELSE 0.0 END END AS z,
        | CASE WHEN n_days > 1 THEN CAST(s AS DOUBLE) /
        |  (CAST(CAST(n_days AS HUGEINT) * CAST(n_days - 1 AS HUGEINT)
        |    AS DOUBLE) / 2.0) END AS tau_a
        |FROM v""".stripMargin,

    // q227 twin: identical prefix identity (all-integer), identical
    // histogram below/above windows and earliest-day argmax.
    "q227_pettitt_changepoint" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |h AS (SELECT event_type, n,
        |  CAST(COALESCE(sum(cnt) OVER (PARTITION BY event_type
        |    ORDER BY n ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING), 0) AS BIGINT) AS below,
        |  CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
        |   AS tot, cnt
        | FROM (SELECT event_type, n, CAST(count(*) AS BIGINT) AS cnt
        |   FROM daily GROUP BY 1, 2)),
        |sv AS (SELECT event_type, n,
        |  below - (tot - below - cnt) AS s_val FROM h),
        |u AS (SELECT d.event_type, d.day,
        |  -1 * CAST(sum(s_val) OVER (PARTITION BY d.event_type
        |    ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS u
        | FROM daily d JOIN sv
        |  ON d.event_type = sv.event_type AND d.n = sv.n),
        |k AS (SELECT event_type, CAST(max(abs(u)) AS BIGINT) AS k_stat,
        |  CAST(count(*) AS BIGINT) AS n_days FROM u GROUP BY 1)
        |SELECT u.event_type, k.n_days, k.k_stat,
        | CAST(min(u.day) AS BIGINT) AS change_day
        |FROM u JOIN k ON u.event_type = k.event_type
        | AND abs(u.u) = k.k_stat
        |GROUP BY 1, 2, 3""".stripMargin,

    // q228 twin: identical doubled average ranks off the per-source
    // value histograms, HUGEINT sufficient statistics, identical
    // num / sqrt(f1 * f2) assembly with positive-variance guards.
    "q228_spearman_rank" ->
      """WITH base AS (SELECT source, CAST(n_chars AS BIGINT) AS v1,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS v2
        | FROM documents WHERE source IS NOT NULL
        |  AND text IS NOT NULL AND n_chars IS NOT NULL),
        |r1 AS (SELECT source, v1,
        |  2 * CAST(COALESCE(sum(t) OVER (PARTITION BY source
        |    ORDER BY v1 ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING), 0) AS BIGINT) + t + 1 AS r_v1
        | FROM (SELECT source, v1, CAST(count(*) AS BIGINT) AS t
        |   FROM base GROUP BY 1, 2)),
        |r2 AS (SELECT source, v2,
        |  2 * CAST(COALESCE(sum(t) OVER (PARTITION BY source
        |    ORDER BY v2 ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING), 0) AS BIGINT) + t + 1 AS r_v2
        | FROM (SELECT source, v2, CAST(count(*) AS BIGINT) AS t
        |   FROM base GROUP BY 1, 2)),
        |j AS (SELECT b.source, r1.r_v1, r2.r_v2 FROM base b
        | JOIN r1 ON b.source = r1.source AND b.v1 = r1.v1
        | JOIN r2 ON b.source = r2.source AND b.v2 = r2.v2),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  sum(CAST(r_v1 AS HUGEINT)) AS s1,
        |  sum(CAST(r_v2 AS HUGEINT)) AS s2,
        |  sum(CAST(r_v1 AS HUGEINT) * CAST(r_v1 AS HUGEINT)) AS s11,
        |  sum(CAST(r_v2 AS HUGEINT) * CAST(r_v2 AS HUGEINT)) AS s22,
        |  sum(CAST(r_v1 AS HUGEINT) * CAST(r_v2 AS HUGEINT)) AS s12
        | FROM j GROUP BY 1)
        |SELECT source, n_docs,
        | CASE WHEN
        |   CAST(CAST(n_docs AS HUGEINT) * s11 - s1 * s1 AS DOUBLE)
        |    > 0.0
        |  AND
        |   CAST(CAST(n_docs AS HUGEINT) * s22 - s2 * s2 AS DOUBLE)
        |    > 0.0
        |  THEN CAST(CAST(n_docs AS HUGEINT) * s12 - s1 * s2 AS DOUBLE)
        |   / sqrt(
        |    CAST(CAST(n_docs AS HUGEINT) * s11 - s1 * s1 AS DOUBLE)
        |    * CAST(CAST(n_docs AS HUGEINT) * s22 - s2 * s2 AS DOUBLE))
        |  END AS rho_spearman
        |FROM g""".stripMargin,

    // q229 twin: identical exact pair-collision count and the single
    // double division; same N>1 degenerate guard.
    "q229_simpson_diversity" ->
      """WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        | FROM documents
        | WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT source,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(c) AS BIGINT) AS n_docs,
        |  sum(CAST(c AS HUGEINT) * CAST(c - 1 AS HUGEINT)) AS num
        | FROM c GROUP BY 1)
        |SELECT source, n_langs, n_docs,
        | CASE WHEN n_docs > 1 THEN CAST(num AS DOUBLE) /
        |  CAST(CAST(n_docs AS HUGEINT) * CAST(n_docs - 1 AS HUGEINT)
        |   AS DOUBLE) END AS simpson_lambda,
        | CASE WHEN n_docs > 1 THEN CAST(1.0 AS DOUBLE)
        |  - CAST(num AS DOUBLE) /
        |   CAST(CAST(n_docs AS HUGEINT) * CAST(n_docs - 1 AS HUGEINT)
        |    AS DOUBLE) END AS diversity
        |FROM g""".stripMargin,

    // q230 twin: identical midpoint split, HUGEINT sufficient stats,
    // identical pinned sem² division chain and Welch-Satterthwaite
    // assembly against IEEE sqrt.
    "q230_welch_ttest" ->
      s"""WITH $sqlAbCentsCtes,
         |per AS (SELECT user_id % 2 AS arm,
         |  CAST(sum(CASE WHEN us >= mid THEN cents ELSE 0 END)
         |   AS BIGINT) AS y
         | FROM ev, m GROUP BY user_id),
         |g AS (SELECT
         |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_t,
         |  sum(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT)
         |   ELSE CAST(0 AS HUGEINT) END) AS sy_t,
         |  sum(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT) *
         |   CAST(y AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS syy_t,
         |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_c,
         |  sum(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT)
         |   ELSE CAST(0 AS HUGEINT) END) AS sy_c,
         |  sum(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT) *
         |   CAST(y AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS syy_c
         | FROM per),
         |d AS (SELECT n_t, n_c,
         |  CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS mean_t,
         |  CAST(sy_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS mean_c,
         |  CAST(CAST(n_t AS HUGEINT) * syy_t - sy_t * sy_t AS DOUBLE)
         |   / CAST(CAST(n_t AS HUGEINT) * CAST(n_t - 1 AS HUGEINT)
         |      AS DOUBLE)
         |   / CAST(n_t AS DOUBLE) AS sem2_t,
         |  CAST(CAST(n_c AS HUGEINT) * syy_c - sy_c * sy_c AS DOUBLE)
         |   / CAST(CAST(n_c AS HUGEINT) * CAST(n_c - 1 AS HUGEINT)
         |      AS DOUBLE)
         |   / CAST(n_c AS DOUBLE) AS sem2_c
         | FROM g)
         |SELECT n_t, n_c, mean_t, mean_c,
         | CASE WHEN n_t > 1 AND n_c > 1 AND sem2_t + sem2_c > 0.0 THEN
         |  (mean_t - mean_c) / sqrt(sem2_t + sem2_c) END AS t_stat,
         | CASE WHEN n_t > 1 AND n_c > 1 AND sem2_t + sem2_c > 0.0 THEN
         |  (sem2_t + sem2_c) * (sem2_t + sem2_c) /
         |   (sem2_t * sem2_t / CAST(n_t - 1 AS DOUBLE)
         |    + sem2_c * sem2_c / CAST(n_c - 1 AS DOUBLE))
         |  END AS dof_welch
         |FROM d""".stripMargin,

    // q231 twin: identical HUGEINT group stats, group terms folded in
    // source order (list_reduce = the sorted-fold twin), identical
    // SST/SSB/SSW and F assembly.
    "q231_anova_oneway" ->
      s"""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_j,
         |  sum(CAST(n_chars AS HUGEINT)) AS s_j,
         |  sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
         |   AS ss_j
         | FROM documents
         | WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
         |$sqlAnovaCtes
         |SELECT k, n_docs, ssb, ssw,
         | CASE WHEN k > 1 AND n_docs > k AND ssw > 0.0 THEN
         |  (ssb / CAST(k - 1 AS DOUBLE))
         |   / (ssw / CAST(n_docs - k AS DOUBLE)) END AS f_stat
         |FROM d""".stripMargin,

    // q232 twin: identical doubled global ranks off the length
    // histogram, HUGEINT rank sums and tie numerator, group terms
    // folded in source order, identical H₀ and tie-correction
    // assembly.
    "q232_kruskal_wallis" ->
      """WITH base AS (SELECT source, CAST(n_chars AS BIGINT) AS v
        | FROM documents
        | WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |h0 AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
        | FROM base GROUP BY 1),
        |hist AS (SELECT v, cnt,
        |  2 * CAST(COALESCE(sum(cnt) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS BIGINT) + cnt + 1 AS r2
        | FROM h0),
        |grp AS (SELECT source, CAST(count(*) AS BIGINT) AS n_j,
        |  sum(CAST(r2 AS HUGEINT)) AS sr2
        | FROM base JOIN hist USING (v) GROUP BY 1),
        |gt AS (SELECT source, n_j,
        |  CAST(sr2 * sr2 AS DOUBLE) / CAST(n_j * 4 AS DOUBLE) AS term
        | FROM grp),
        |ties AS (SELECT sum(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)
        |   * CAST(cnt AS HUGEINT) - CAST(cnt AS HUGEINT)) AS tie_num
        | FROM hist),
        |tot AS (SELECT CAST(sum(n_j) AS BIGINT) AS nn,
        |  CAST(count(DISTINCT source) AS BIGINT) AS k,
        |  list_reduce(list(term ORDER BY source), (x, y) -> x + y)
        |   AS sum_terms
        | FROM gt),
        |d AS (SELECT k, nn AS n_docs,
        |  12.0 * sum_terms /
        |    CAST(CAST(nn AS HUGEINT) * CAST(nn + 1 AS HUGEINT)
        |     AS DOUBLE)
        |   - CAST(3 * (nn + 1) AS DOUBLE) AS h0s,
        |  1.0 - CAST(tie_num AS DOUBLE) /
        |   CAST(CAST(nn AS HUGEINT) * CAST(nn AS HUGEINT) *
        |     CAST(nn AS HUGEINT) - CAST(nn AS HUGEINT) AS DOUBLE)
        |   AS tie_correction
        | FROM tot, ties)
        |SELECT k, n_docs, h0s AS h0, tie_correction,
        | CASE WHEN tie_correction > 0.0 THEN h0s / tie_correction
        |  END AS h_stat
        |FROM d""".stripMargin,

    // q233 twin: identical capped-activity strata, exact 2×2 cells,
    // per-stratum terms as one division each, both MH sums folded in
    // stratum order (list_reduce), identical crude-OR assembly.
    "q233_cmh_odds_ratio" ->
      s"""WITH $sqlAbEventCtes,
         |per AS (SELECT user_id % 2 AS arm,
         |  least(CAST(sum(CASE WHEN us < mid THEN 1 ELSE 0 END)
         |   AS BIGINT), 3) AS stratum,
         |  CAST(max(CASE WHEN us >= mid AND event_type = 'purchase'
         |   THEN 1 ELSE 0 END) AS BIGINT) AS conv
         | FROM ev, m GROUP BY user_id),
         |cells AS (SELECT stratum,
         |  CAST(sum(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS a,
         |  CAST(sum(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS b,
         |  CAST(sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS c,
         |  CAST(sum(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS d,
         |  CAST(count(*) AS BIGINT) AS n
         | FROM per GROUP BY 1),
         |terms AS (SELECT stratum, a, b, c, d, n,
         |  CAST(a * d AS DOUBLE) / CAST(n AS DOUBLE) AS num_t,
         |  CAST(b * c AS DOUBLE) / CAST(n AS DOUBLE) AS den_t
         | FROM cells)
         |SELECT CAST(count(*) AS BIGINT) AS n_strata,
         | CAST(sum(a) AS BIGINT) AS aa, CAST(sum(b) AS BIGINT) AS bb,
         | CAST(sum(c) AS BIGINT) AS cc, CAST(sum(d) AS BIGINT) AS dd,
         | CASE WHEN list_reduce(list(den_t ORDER BY stratum),
         |   (x, y) -> x + y) > 0.0 THEN
         |  list_reduce(list(num_t ORDER BY stratum), (x, y) -> x + y) /
         |  list_reduce(list(den_t ORDER BY stratum), (x, y) -> x + y)
         |  END AS or_mh,
         | CASE WHEN CAST(sum(b) AS BIGINT) > 0
         |   AND CAST(sum(c) AS BIGINT) > 0 THEN
         |  CAST(CAST(sum(a) AS BIGINT) * CAST(sum(d) AS BIGINT)
         |    AS DOUBLE)
         |   / CAST(CAST(sum(b) AS BIGINT) * CAST(sum(c) AS BIGINT)
         |    AS DOUBLE) END AS or_crude
         |FROM terms""".stripMargin,

    // q234 twin: identical HUGEINT stratum stats, IEEE-sqrt weights,
    // source-ordered Σw fold, exact floor seats and the same
    // largest-fraction-first remainder rule with source tiebreak.
    "q234_neyman_allocation" ->
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_h,
        |  sum(CAST(n_chars AS HUGEINT)) AS s_h,
        |  sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
        |   AS ss_h
        | FROM documents
        | WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |w AS (SELECT source, n_h,
        |  CASE WHEN n_h > 1 THEN CAST(n_h AS DOUBLE) * sqrt(
        |    CAST(CAST(n_h AS HUGEINT) * ss_h - s_h * s_h AS DOUBLE) /
        |    CAST(CAST(n_h AS HUGEINT) * CAST(n_h - 1 AS HUGEINT)
        |     AS DOUBLE)) ELSE 0.0 END AS w
        | FROM g),
        |sw AS (SELECT list_reduce(list(w ORDER BY source),
        |  (x, y) -> x + y) AS sum_w FROM w),
        |f AS (SELECT source, n_h,
        |  CASE WHEN sum_w > 0.0 THEN 1000.0 * w / sum_w
        |   ELSE 0.0 END AS frac
        | FROM w, sw),
        |fb AS (SELECT source, n_h, frac,
        |  CAST(floor(frac) AS BIGINT) AS base FROM f),
        |r AS (SELECT source, n_h, frac, base,
        |  1000 - CAST(sum(base) OVER () AS BIGINT) AS leftover,
        |  CAST(row_number() OVER (ORDER BY frac - base DESC, source)
        |   AS BIGINT) AS rk
        | FROM fb)
        |SELECT source, n_h, frac,
        | base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS n_alloc
        |FROM r""".stripMargin,

    // q235 twin: identical detectors (md5 text hash; lang+len+prefix
    // block), a.doc_id < b.doc_id pair orientation, exact counts,
    // identical Chapman assembly.
    "q235_capture_recapture" ->
      """WITH base AS (SELECT doc_id, md5(text) AS h_exact,
        |  lang || CAST(n_chars AS VARCHAR) || substr(text, 1, 24)
        |   AS h_block
        | FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
        |  AND n_chars IS NOT NULL),
        |p1 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        | FROM base a JOIN base b
        |  ON a.h_exact = b.h_exact AND a.doc_id < b.doc_id),
        |p2 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        | FROM base a JOIN base b
        |  ON a.h_block = b.h_block AND a.doc_id < b.doc_id),
        |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM p1),
        |n2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM p2),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m
        | FROM p1 JOIN p2 USING (a_id, b_id))
        |SELECT n1, n2, m,
        | CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / CAST(m + 1 AS DOUBLE)
        |  - CAST(1.0 AS DOUBLE) AS chapman_total
        |FROM n1, n2, mm""".stripMargin,

    // q236 twin: the same 20 md5 user buckets (hx % 20), exact bucket
    // stats, leave-one-out thetas as single divisions, both folds in
    // bucket order, identical (B−1)/B variance and sqrt assembly.
    "q236_jackknife_se" ->
      """WITH per AS (SELECT user_id,
        |  CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |   END) AS BIGINT) AS conv
        | FROM events GROUP BY 1),
        |pb AS (SELECT CAST(('0x' || substr(md5('jk' ||
        |   CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 20 AS bkt,
        |  conv FROM per),
        |b AS (SELECT bkt, CAST(count(*) AS BIGINT) AS n_i,
        |  CAST(sum(conv) AS BIGINT) AS s_i FROM pb GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS nn,
        |  CAST(sum(s_i) AS BIGINT) AS ss,
        |  CAST(count(*) AS BIGINT) AS nb FROM b),
        |loo AS (SELECT bkt, nb, nn, ss,
        |  CAST(ss - s_i AS DOUBLE) / CAST(nn - n_i AS DOUBLE)
        |   AS theta_i
        | FROM b, tot),
        |mb AS (SELECT list_reduce(list(theta_i ORDER BY bkt),
        |   (x, y) -> x + y) / CAST(max(nb) AS DOUBLE) AS theta_bar
        | FROM loo),
        |d AS (SELECT bkt, nb, nn, ss, theta_bar,
        |  (theta_i - theta_bar) * (theta_i - theta_bar) AS dev2
        | FROM loo, mb)
        |SELECT max(nb) AS n_buckets, max(nn) AS n_users,
        | max(ss) AS n_converters,
        | CAST(max(ss) AS DOUBLE) / CAST(max(nn) AS DOUBLE)
        |  AS theta_hat,
        | sqrt(CAST(max(nb) - 1 AS DOUBLE) / CAST(max(nb) AS DOUBLE) *
        |  list_reduce(list(dev2 ORDER BY bkt), (x, y) -> x + y))
        |  AS se_jackknife
        |FROM d""".stripMargin,

    // q237 twin: identical midpoint/arm machinery, HUGEINT moment
    // partials, identical pinned assemblies for every effect size, and
    // the same ilog2(y+1)-bucket doubled ranks feeding the AUC.
    "q237_effect_sizes" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_type,
         |  CASE WHEN event_type = 'purchase' AND value IS NOT NULL
         |   THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
         |   ELSE 0 END AS cents
         | FROM events),
         |$sqlAbMidCte,
         |per AS (SELECT user_id % 2 AS arm,
         |  CAST(sum(CASE WHEN us >= mid THEN cents ELSE 0 END)
         |   AS BIGINT) AS y,
         |  CAST(max(CASE WHEN us >= mid AND event_type = 'purchase'
         |   THEN 1 ELSE 0 END) AS BIGINT) AS conv
         | FROM ev, m GROUP BY user_id),
         |pb AS (SELECT arm, y, conv,
         |  CAST(length(bin(y + 1)) - 1 AS BIGINT) AS yb FROM per),
         |g AS (SELECT
         |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_t,
         |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_c,
         |  CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
         |   AS x_t,
         |  CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
         |   AS x_c,
         |  sum(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT)
         |   ELSE CAST(0 AS HUGEINT) END) AS sy_t,
         |  sum(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT)
         |   ELSE CAST(0 AS HUGEINT) END) AS sy_c,
         |  sum(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT) *
         |   CAST(y AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS syy_t,
         |  sum(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT) *
         |   CAST(y AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS syy_c
         | FROM pb),
         |h AS (SELECT yb, CAST(count(*) AS BIGINT) AS t
         | FROM pb GROUP BY 1),
         |hr AS (SELECT yb,
         |  2 * CAST(COALESCE(sum(t) OVER (ORDER BY yb
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS BIGINT) + t + 1 AS r2
         | FROM h),
         |r1 AS (SELECT sum(CAST(r2 AS HUGEINT)) AS r2_t
         | FROM pb JOIN hr USING (yb) WHERE arm = 1)
         |SELECT n_t, n_c, x_t, x_c,
         | CASE WHEN n_t > 0 AND n_c > 0 THEN
         |  CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
         |   - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE)
         |  END AS risk_diff,
         | CASE WHEN x_c > 0 AND n_t > 0 THEN
         |  (CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE))
         |   / (CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE))
         |  END AS relative_risk,
         | CASE WHEN x_t < n_t AND x_c > 0 THEN
         |  CAST(x_t * (n_c - x_c) AS DOUBLE)
         |   / CAST((n_t - x_t) * x_c AS DOUBLE) END AS odds_ratio,
         | CASE WHEN n_t > 1 AND n_c > 1 AND
         |   (CAST(CAST(n_t AS HUGEINT) * syy_t - sy_t * sy_t AS DOUBLE)
         |     / CAST(n_t AS DOUBLE)
         |    + CAST(CAST(n_c AS HUGEINT) * syy_c - sy_c * sy_c
         |       AS DOUBLE) / CAST(n_c AS DOUBLE)) > 0.0 THEN
         |  (CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE)
         |    - CAST(sy_c AS DOUBLE) / CAST(n_c AS DOUBLE))
         |   / sqrt(
         |    (CAST(CAST(n_t AS HUGEINT) * syy_t - sy_t * sy_t
         |       AS DOUBLE) / CAST(n_t AS DOUBLE)
         |     + CAST(CAST(n_c AS HUGEINT) * syy_c - sy_c * sy_c
         |        AS DOUBLE) / CAST(n_c AS DOUBLE))
         |     / CAST(n_t + n_c - 2 AS DOUBLE)) END AS cohens_d,
         | CASE WHEN n_t > 0 AND n_c > 0 THEN
         |  CAST(r2_t - CAST(n_t AS HUGEINT) * CAST(n_t + 1 AS HUGEINT)
         |    AS DOUBLE)
         |   / CAST(CAST(2 AS HUGEINT) * CAST(n_t AS HUGEINT) *
         |     CAST(n_c AS HUGEINT) AS DOUBLE) END AS auc_bucketed
         |FROM g, r1""".stripMargin,

    // q238 twin: identical complete grid (absent cells = 0), per-day
    // doubled average ranks, HUGEINT rank sums, type-ordered fold and
    // the same χ²_F assembly.
    "q238_friedman" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM events GROUP BY 1, 2),
        |grid AS (SELECT t.event_type, d.day, COALESCE(x.cnt, 0) AS cnt
        | FROM (SELECT DISTINCT day FROM daily) d
        | CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
        | LEFT JOIN daily x
        |  ON x.event_type = t.event_type AND x.day = d.day),
        |hr AS (SELECT day, cnt, CAST(count(*) AS BIGINT) AS t
        | FROM grid GROUP BY 1, 2),
        |hr2 AS (SELECT day, cnt,
        |  2 * CAST(COALESCE(sum(t) OVER (PARTITION BY day ORDER BY cnt
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS BIGINT) + t + 1 AS r2
        | FROM hr),
        |ranked AS (SELECT g.event_type, g.day, h.r2
        | FROM grid g JOIN hr2 h ON g.day = h.day AND g.cnt = h.cnt),
        |pt AS (SELECT event_type, sum(CAST(r2 AS HUGEINT)) AS sr2,
        |  CAST(count(*) AS BIGINT) AS n_days FROM ranked GROUP BY 1),
        |pj AS (SELECT event_type, n_days,
        |  CAST(sr2 * sr2 AS DOUBLE) / 4.0 AS rj2 FROM pt),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(max(n_days) AS BIGINT) AS n_days,
        |  list_reduce(list(rj2 ORDER BY event_type), (x, y) -> x + y)
        |   AS sum_rj2
        | FROM pj)
        |SELECT k, n_days,
        | CASE WHEN k > 1 AND n_days > 0 THEN
        |  12.0 * sum_rj2 /
        |    CAST(CAST(n_days AS HUGEINT) * CAST(k AS HUGEINT) *
        |     CAST(k + 1 AS HUGEINT) AS DOUBLE)
        |   - CAST(3 * n_days * (k + 1) AS DOUBLE)
        |  END AS chi2_friedman
        |FROM tot""".stripMargin,

    // q239 twin: the identical 15.697759468698177 literal (both sides
    // parse the same decimal text to the same double), HUGEINT
    // moments, pinned δ and ceil() — exact on both engines.
    "q239_samplesize_planner" ->
      """WITH per AS (SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |    AND value IS NOT NULL
        |   THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
        |   ELSE 0 END) AS BIGINT) AS y
        | FROM events GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  sum(CAST(y AS HUGEINT)) AS sy,
        |  sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        | FROM per),
        |d AS (SELECT n_users,
        |  CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE)
        |   AS baseline_mean,
        |  CAST(CAST(n_users AS HUGEINT) * syy - sy * sy AS DOUBLE) /
        |   CAST(CAST(n_users AS HUGEINT) *
        |    CAST(n_users - 1 AS HUGEINT) AS DOUBLE) AS variance
        | FROM g),
        |m AS (SELECT CAST(unnest([1, 2, 5, 10]) AS BIGINT) AS mde_pct)
        |SELECT mde_pct, n_users, baseline_mean, variance,
        | CASE WHEN n_users > 1 AND baseline_mean > 0.0
        |   AND variance > 0.0 THEN
        |  CAST(ceil(15.697759468698177 * variance /
        |   ((baseline_mean * CAST(mde_pct AS DOUBLE) / 100.0)
        |    * (baseline_mean * CAST(mde_pct AS DOUBLE) / 100.0)))
        |   AS BIGINT) END AS n_required_per_arm
        |FROM d, m""".stripMargin,

    // q240 twin: identical token census and exact singleton/doubleton
    // counts; identical single-division assemblies.
    "q240_good_turing" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' '))
        |   AS w
        | FROM documents
        | WHERE source IS NOT NULL AND text IS NOT NULL),
        |tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        | FROM tok GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        | CAST(count(*) AS BIGINT) AS vocab,
        | CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        | CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        | CASE WHEN CAST(sum(c) AS BIGINT) > 0 THEN
        |  CAST(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS DOUBLE)
        |   / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) END AS p_unseen,
        | CASE WHEN CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) > 0 AND CAST(sum(c) AS BIGINT) > 0 THEN
        |  CAST(2 * CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS DOUBLE)
        |   / CAST(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS DOUBLE)
        |   / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) END AS p1_turing
        |FROM tf GROUP BY source""".stripMargin,

    // q241 twin: identical midpoint pairing, exact discordant cells,
    // identical plain and continuity-corrected assemblies.
    "q241_mcnemar" ->
      s"""WITH $sqlAbEventCtes,
         |per AS (SELECT user_id,
         |  CAST(max(CASE WHEN us < mid AND event_type = 'purchase'
         |   THEN 1 ELSE 0 END) AS BIGINT) AS pre,
         |  CAST(max(CASE WHEN us >= mid AND event_type = 'purchase'
         |   THEN 1 ELSE 0 END) AS BIGINT) AS post
         | FROM ev, m GROUP BY user_id),
         |g AS (SELECT
         |  CAST(sum(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS both_conv,
         |  CAST(sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS b,
         |  CAST(sum(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS c,
         |  CAST(sum(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS neither
         | FROM per)
         |SELECT both_conv, b, c, neither,
         | CASE WHEN b + c > 0 THEN
         |  CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE)
         |  END AS chi2_mcnemar,
         | CASE WHEN b + c > 0 THEN
         |  CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
         |   / CAST(b + c AS DOUBLE) END AS chi2_mcnemar_cc
         |FROM g""".stripMargin,

    // q242 twin: identical zero-drop rule, identical ilog2 magnitude
    // buckets and doubled ranks, HUGEINT W⁺ halved to the same double,
    // identical exact-integer z numerator against IEEE sqrt.
    "q242_wilcoxon_signed_rank" ->
      s"""WITH $sqlAbCentsCtes,
         |per AS (SELECT user_id,
         |  CAST(sum(CASE WHEN us >= mid THEN cents ELSE 0 END)
         |    - sum(CASE WHEN us < mid THEN cents ELSE 0 END)
         |   AS BIGINT) AS d
         | FROM ev, m GROUP BY user_id),
         |pf AS (SELECT d, CAST(length(bin(abs(d))) - 1 AS BIGINT) AS mb
         | FROM per WHERE d <> 0),
         |h AS (SELECT mb, CAST(count(*) AS BIGINT) AS t
         | FROM pf GROUP BY 1),
         |hr AS (SELECT mb,
         |  2 * CAST(COALESCE(sum(t) OVER (ORDER BY mb
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS BIGINT) + t + 1 AS r2
         | FROM h),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n_eff,
         |  sum(CASE WHEN d > 0 THEN CAST(r2 AS HUGEINT)
         |   ELSE CAST(0 AS HUGEINT) END) AS w2_plus
         | FROM pf JOIN hr USING (mb))
         |SELECT n_eff, CAST(w2_plus AS DOUBLE) / 2.0 AS w_plus,
         | CASE WHEN n_eff > 1 THEN
         |  CAST(CAST(2 AS HUGEINT) * w2_plus
         |    - CAST(n_eff AS HUGEINT) * CAST(n_eff + 1 AS HUGEINT)
         |   AS DOUBLE) / 4.0 /
         |  sqrt(CAST(CAST(n_eff AS HUGEINT) *
         |    CAST(n_eff + 1 AS HUGEINT) *
         |    CAST(2 * n_eff + 1 AS HUGEINT) AS DOUBLE) / 24.0)
         |  END AS z_approx
         |FROM g""".stripMargin,

    // q243 twin: identical lower-median order statistic off the
    // per-source histogram, exact integer deviations, and the q231
    // F assembly over them (source-ordered folds).
    "q243_brown_forsythe" ->
      s"""WITH base AS (SELECT source, CAST(n_chars AS BIGINT) AS v
         | FROM documents
         | WHERE source IS NOT NULL AND n_chars IS NOT NULL),
         |hc AS (SELECT source, v, CAST(count(*) AS BIGINT) AS cnt
         | FROM base GROUP BY 1, 2),
         |mc AS (SELECT source, v,
         |  CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS BIGINT) AS cum,
         |  CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS tot
         | FROM hc),
         |med AS (SELECT source, CAST(min(v) AS BIGINT) AS med
         | FROM mc WHERE 2 * cum >= tot GROUP BY 1),
         |dev AS (SELECT b.source, abs(b.v - med.med) AS z
         | FROM base b JOIN med ON b.source = med.source),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_j,
         |  sum(CAST(z AS HUGEINT)) AS s_j,
         |  sum(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS ss_j
         | FROM dev GROUP BY 1),
         |$sqlAnovaCtes
         |SELECT k, n_docs, ssb, ssw,
         | CASE WHEN k > 1 AND n_docs > k AND ssw > 0.0 THEN
         |  (ssb / CAST(k - 1 AS DOUBLE))
         |   / (ssw / CAST(n_docs - k AS DOUBLE)) END AS f_bf
         |FROM d""".stripMargin,

    "q244_tpch_q12" ->
      """SELECT CASE WHEN epoch_us(l.l_shipdate) >
        |   epoch_us(o.o_orderdate) + 5184000000000
        |  THEN 'LATE' ELSE 'ONTIME' END AS ship_bucket,
        | CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |  THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        | AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    "q245_tpch_q21" ->
      """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        | AND n.n_name = 'NATION_3'
        |JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        | AND o.o_orderstatus = 'F'
        |WHERE epoch_us(l1.l_shipdate) >
        |  epoch_us(o.o_orderdate) + 5184000000000
        | AND EXISTS (SELECT 1 FROM lineitem l2
        |  WHERE l2.l_orderkey = l1.l_orderkey
        |   AND l2.l_suppkey <> l1.l_suppkey)
        | AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |  WHERE l3.l_orderkey = l1.l_orderkey
        |   AND l3.l_suppkey <> l1.l_suppkey
        |   AND epoch_us(l3.l_shipdate) >
        |    epoch_us(o.o_orderdate) + 5184000000000)
        |GROUP BY 1
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "q246_tpch_q16" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p.p_brand, p.p_type, p.p_size,
        | CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps
        |JOIN part p ON ps.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#13' AND p.p_type <> 'PROMO'
        | AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        | AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |   WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q247_tpch_q11" ->
      """WITH v AS (SELECT l.l_partkey,
        |  sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |   AS value_e2
        | FROM lineitem l
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  AND n.n_name = 'NATION_7'
        | GROUP BY 1)
        |SELECT l_partkey AS p_partkey,
        | CAST(value_e2 AS BIGINT) AS value_e2
        |FROM v
        |WHERE value_e2 * (SELECT count(*) FROM v) >
        | 2 * (SELECT sum(value_e2) FROM v)""".stripMargin,

    "q248_tpch_q9" ->
      """SELECT n.n_name AS nation,
        | CAST(year(l.l_shipdate) AS INT) AS o_year,
        | CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |   (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)) -
        |   CAST(round(p.p_retailprice * 100) AS BIGINT) * 10000 *
        |   CAST(round(l.l_quantity) AS BIGINT)) AS DOUBLE) AS profit_e4
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        | AND p.p_name LIKE '%red%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1, 2""".stripMargin,

    "q249_tpch_q2" ->
      """WITH eu AS (SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        | FROM supplier s
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        | JOIN region r ON n.n_regionkey = r.r_regionkey
        |  AND r.r_name = 'EUROPE'),
        |cost AS (SELECT l.l_partkey, l.l_suppkey,
        |  min(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |   AS cost_e2
        | FROM lineitem l
        | JOIN part p ON l.l_partkey = p.p_partkey
        |  AND p.p_size = 15 AND p.p_type = 'STANDARD'
        | JOIN eu ON l.l_suppkey = eu.s_suppkey
        | GROUP BY 1, 2),
        |mc AS (SELECT l_partkey AS pk, min(cost_e2) AS m
        | FROM cost GROUP BY 1)
        |SELECT eu.s_acctbal, eu.s_name, eu.n_name,
        | c.l_partkey AS p_partkey, c.cost_e2
        |FROM cost c
        |JOIN mc ON c.l_partkey = mc.pk AND c.cost_e2 = mc.m
        |JOIN eu ON c.l_suppkey = eu.s_suppkey
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q250_tpch_q20" ->
      """WITH q AS (SELECT l.l_suppkey
        | FROM lineitem l
        | JOIN part p ON l.l_partkey = p.p_partkey
        |  AND p.p_name LIKE '%blue%'
        | GROUP BY l.l_partkey, l.l_suppkey
        | HAVING sum(CASE WHEN year(l.l_shipdate) = 1997
        |   THEN CAST(round(l.l_quantity) AS BIGINT)
        |   ELSE 0 END) * 2 >
        |  sum(CAST(round(l.l_quantity) AS BIGINT)))
        |SELECT s.s_name, s.s_acctbal
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        | AND n.n_name = 'NATION_1'
        |WHERE s.s_suppkey IN (SELECT l_suppkey FROM q)""".stripMargin,

    // q251 twin: same bounded dollar histogram, same monotone
    // cumulative (min d ⇒ min cum, so min/min replaces the struct-min).
    "q251_range_partition_plan" ->
      """WITH h AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |   // 100 AS d, count(*) AS cnt
        | FROM orders GROUP BY 1),
        |c AS (SELECT d, sum(cnt) OVER (ORDER BY d) AS cum FROM h),
        |n AS (SELECT max(cum) AS n FROM c),
        |tg AS (SELECT i AS split_id, (n.n * i + 7) // 8 AS target
        | FROM range(1, 8) t(i), n)
        |SELECT tg.split_id,
        | CAST(min(c.d) AS BIGINT) AS boundary_dollar,
        | CAST(min(c.cum) AS BIGINT) AS rows_le
        |FROM tg JOIN c ON c.cum >= tg.target
        |GROUP BY 1""".stripMargin,

    "q252_hits" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |a1 AS (SELECT pk, CAST(count(*) AS BIGINT) AS auth1
        | FROM e GROUP BY 1),
        |h1 AS (SELECT e.ok, CAST(sum(a1.auth1) AS BIGINT) AS hub1
        | FROM e JOIN a1 ON e.pk = a1.pk GROUP BY 1),
        |a2 AS (SELECT e.pk, CAST(sum(h1.hub1) AS BIGINT) AS auth2
        | FROM e JOIN h1 ON e.ok = h1.ok GROUP BY 1)
        |SELECT a2.pk AS p_partkey, a1.auth1, a2.auth2
        |FROM a2 JOIN a1 ON a2.pk = a1.pk
        |ORDER BY auth2 DESC, p_partkey
        |LIMIT 20""".stripMargin,

    // q253 twin: identical doubled-average-rank algebra over the same
    // bounded disc_e4 histogram; HUGEINT carries what decimal(38,0)
    // carries on the Spark side, one double division at the end.
    "q253_auc" ->
      """WITH h AS (SELECT CAST(round(l_discount * 10000) AS BIGINT)
        |   AS v,
        |  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS np,
        |  sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS nn
        | FROM lineitem GROUP BY 1),
        |c AS (SELECT v, np, nn,
        |  coalesce(sum(np + nn) OVER (ORDER BY v
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS below
        | FROM h),
        |a AS (SELECT sum(np * (2 * below + np + nn + 1)) AS r2,
        |  sum(np) AS npos, sum(nn) AS nneg FROM c)
        |SELECT CAST(npos AS BIGINT) AS n_pos,
        | CAST(nneg AS BIGINT) AS n_neg,
        | CAST(r2 - npos * (npos + 1) AS DOUBLE) /
        |  CAST(2 * npos * nneg AS DOUBLE) AS auc
        |FROM a""".stripMargin,

    "q254_stats_collect" ->
      """WITH o AS (SELECT * FROM orders)
        |SELECT 'o_orderkey' AS col_name,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_nulls,
        | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv,
        | CAST(min(o_orderkey) AS VARCHAR) AS min_val,
        | CAST(max(o_orderkey) AS VARCHAR) AS max_val FROM o
        |UNION ALL
        |SELECT 'o_custkey', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |  AS BIGINT),
        | CAST(count(DISTINCT o_custkey) AS BIGINT),
        | CAST(min(o_custkey) AS VARCHAR),
        | CAST(max(o_custkey) AS VARCHAR) FROM o
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |  AS BIGINT),
        | CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        | min(o_orderstatus), max(o_orderstatus) FROM o
        |UNION ALL
        |SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
        |  AS BIGINT),
        | CAST(count(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT))
        |  AS BIGINT),
        | CAST(min(CAST(round(o_totalprice * 100) AS BIGINT))
        |  AS VARCHAR),
        | CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
        |  AS VARCHAR) FROM o
        |UNION ALL
        |SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
        |  AS BIGINT),
        | CAST(count(DISTINCT o_orderdate) AS BIGINT),
        | CAST(min(epoch_us(o_orderdate)) AS VARCHAR),
        | CAST(max(epoch_us(o_orderdate)) AS VARCHAR) FROM o
        |UNION ALL
        |SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |  AS BIGINT),
        | CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        | min(o_orderpriority), max(o_orderpriority) FROM o""".stripMargin,

    // q255 twin: the window row_number is the oracle's luxury — the
    // Spark side ranks via the salted two-level top-k; same
    // (rev DESC, partkey) order, same ':'-joined labels.
    "q255_nation_top_parts" ->
      """WITH rev AS (SELECT n.n_name, l.l_partkey, p.p_name,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |   (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
        |   AS BIGINT) AS rev_e4
        | FROM lineitem l
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        | JOIN part p ON l.l_partkey = p.p_partkey
        | GROUP BY 1, 2, 3),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY n_name
        |  ORDER BY rev_e4 DESC, l_partkey) AS rn FROM rev)
        |SELECT n_name,
        | string_agg(p_name || ':' || CAST(rev_e4 AS VARCHAR), ','
        |  ORDER BY rn) AS top_parts
        |FROM rk WHERE rn <= 5
        |GROUP BY 1""".stripMargin,

    // q256 twin: the q217 co-purchase derivation, then the same
    // degree-capped wedge count, existing-edge anti, and one Jaccard
    // division.
    "q256_link_prediction" ->
      s"""WITH $sqlBasketPairsCte,
         |e AS (SELECT x.pk AS a, y.pk AS b
         |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.pk < y.pk
         | GROUP BY 1, 2),
         |sym AS (SELECT a AS node, b AS peer FROM e
         |  UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY 1),
         |low AS (SELECT s.node, s.peer FROM sym s
         |  JOIN deg d ON s.node = d.node AND d.deg <= 64),
         |wed AS (SELECT x.peer AS a, y.peer AS b, count(*) AS cn
         |  FROM low x JOIN low y ON x.node = y.node AND x.peer < y.peer
         | GROUP BY 1, 2),
         |cand AS (SELECT w.a, w.b, w.cn FROM wed w
         |  WHERE NOT EXISTS (SELECT 1 FROM e
         |   WHERE e.a = w.a AND e.b = w.b))
         |SELECT c.a AS id_a, c.b AS id_b,
         | CAST(c.cn AS BIGINT) AS common_neighbors,
         | CAST(da.deg AS BIGINT) AS deg_a,
         | CAST(db.deg AS BIGINT) AS deg_b,
         | CAST(c.cn AS DOUBLE) /
         |  CAST(da.deg + db.deg - c.cn AS DOUBLE) AS jaccard
         |FROM cand c
         |JOIN deg da ON c.a = da.node
         |JOIN deg db ON c.b = db.node
         |ORDER BY common_neighbors DESC, id_a, id_b
         |LIMIT 20""".stripMargin,

    "q257_ratio_to_report" ->
      """WITH rev AS (SELECT r.r_name, n.n_name,
        |  sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |   (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
        |   AS rev_d
        | FROM lineitem l
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        | JOIN region r ON n.n_regionkey = r.r_regionkey
        | GROUP BY 1, 2)
        |SELECT r_name, n_name, CAST(rev_d AS DOUBLE) AS rev_e4,
        | CAST(rank() OVER (PARTITION BY r_name
        |  ORDER BY rev_d DESC, n_name) AS BIGINT) AS rank_in_region,
        | CAST(rev_d AS DOUBLE) /
        |  CAST(sum(rev_d) OVER (PARTITION BY r_name) AS DOUBLE)
        |  AS share_of_region
        |FROM rev""".stripMargin,

    // q258 twin: the ring is a 96-row CTE; the per-doc successor runs
    // as min-over-join (the oracle's luxury — the Spark side probes a
    // constant-folded array map-side). Same 60-bit md5 positions.
    "q258_shard_rebalance" ->
      """WITH ring AS (SELECT i AS shard,
        |  CAST(('0x' || substr(md5('shard:' || CAST(i AS VARCHAR)),
        |   1, 15)) AS BIGINT) AS rpos
        | FROM range(0, 96) t(i)),
        |k AS (SELECT doc_id, CAST(('0x' || substr(md5('doc:' ||
        |   CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS kpos
        | FROM documents),
        |a AS (SELECT k.doc_id,
        |  coalesce(min(CASE WHEN r.rpos >= k.kpos AND r.shard < 64
        |    THEN CAST(r.rpos AS HUGEINT) * 96 + r.shard END),
        |   min(CASE WHEN r.shard < 64
        |    THEN CAST(r.rpos AS HUGEINT) * 96 + r.shard END)) % 96
        |   AS s64,
        |  coalesce(min(CASE WHEN r.rpos >= k.kpos
        |    THEN CAST(r.rpos AS HUGEINT) * 96 + r.shard END),
        |   min(CAST(r.rpos AS HUGEINT) * 96 + r.shard)) % 96 AS s96,
        |  min(k.kpos) % 64 AS m64, min(k.kpos) % 96 AS m96
        | FROM k CROSS JOIN ring r
        | GROUP BY k.doc_id),
        |g AS (SELECT count(*) AS n_docs,
        |  sum(CASE WHEN m64 <> m96 THEN 1 ELSE 0 END) AS moved_naive,
        |  sum(CASE WHEN s64 <> s96 THEN 1 ELSE 0 END) AS moved_ring
        | FROM a)
        |SELECT CAST(n_docs AS BIGINT) AS n_docs,
        | CAST(moved_naive AS BIGINT) AS moved_naive,
        | CAST(moved_ring AS BIGINT) AS moved_ring,
        | CAST(moved_naive AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |  AS naive_frac,
        | CAST(moved_ring AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |  AS ring_frac
        |FROM g""".stripMargin,

    // q259 twin: same integer detrend (7·day − Σ₇) over the same
    // full-window days; weekday via epoch-day mod 7 on both engines.
    "q259_seasonal_decompose" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS day_cents
        | FROM events GROUP BY 1),
        |win AS (SELECT d, day_cents,
        |  sum(day_cents) OVER (ORDER BY d
        |   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
        |  count(*) OVER (ORDER BY d
        |   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
        | FROM daily),
        |f AS (SELECT
        |  CAST(date_diff('day', DATE '1970-01-01', d) % 7 AS INT)
        |   AS dow,
        |  7 * day_cents - s7 AS det
        | FROM win WHERE n7 = 7)
        |SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
        | CAST(sum(det) AS DOUBLE) / CAST(7 * count(*) AS DOUBLE)
        |  AS seasonal_cents
        |FROM f GROUP BY 1""".stripMargin,

    "q260_fd_discovery" ->
      """WITH f1 AS (SELECT count(*) AS n_lhs, sum(k) AS n_pairs,
        |  sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS v FROM
        |  (SELECT o_orderkey, count(DISTINCT o_custkey) AS k
        |   FROM orders GROUP BY 1)),
        |f2 AS (SELECT count(*) AS n_lhs, sum(k) AS n_pairs,
        |  sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS v FROM
        |  (SELECT o_custkey, count(DISTINCT o_orderpriority) AS k
        |   FROM orders GROUP BY 1)),
        |f3 AS (SELECT count(*) AS n_lhs, sum(k) AS n_pairs,
        |  sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS v FROM
        |  (SELECT c_custkey, count(DISTINCT c_name) AS k
        |   FROM customer GROUP BY 1)),
        |f4 AS (SELECT count(*) AS n_lhs, sum(k) AS n_pairs,
        |  sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS v FROM
        |  (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS k
        |   FROM customer GROUP BY 1)),
        |f5 AS (SELECT count(*) AS n_lhs, sum(k) AS n_pairs,
        |  sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS v FROM
        |  (SELECT l_orderkey, l_linenumber,
        |    count(DISTINCT l_partkey) AS k
        |   FROM lineitem GROUP BY 1, 2))
        |SELECT 'orders: o_orderkey -> o_custkey' AS fd,
        | CAST(n_lhs AS BIGINT) AS n_lhs, CAST(n_pairs AS BIGINT)
        |  AS n_pairs, CAST(v AS BIGINT) AS n_violating_lhs,
        | CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS BIGINT) AS holds
        | FROM f1
        |UNION ALL SELECT 'orders: o_custkey -> o_orderpriority',
        | CAST(n_lhs AS BIGINT), CAST(n_pairs AS BIGINT),
        | CAST(v AS BIGINT),
        | CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS BIGINT) FROM f2
        |UNION ALL SELECT 'customer: c_custkey -> c_name',
        | CAST(n_lhs AS BIGINT), CAST(n_pairs AS BIGINT),
        | CAST(v AS BIGINT),
        | CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS BIGINT) FROM f3
        |UNION ALL SELECT 'customer: c_nationkey -> c_mktsegment',
        | CAST(n_lhs AS BIGINT), CAST(n_pairs AS BIGINT),
        | CAST(v AS BIGINT),
        | CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS BIGINT) FROM f4
        |UNION ALL SELECT
        | 'lineitem: (l_orderkey, l_linenumber) -> l_partkey',
        | CAST(n_lhs AS BIGINT), CAST(n_pairs AS BIGINT),
        | CAST(v AS BIGINT),
        | CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS BIGINT) FROM f5""".stripMargin,

    "q261_ind_discovery" ->
      """WITH
        |i1 AS (SELECT count(*) AS nc, sum(CASE WHEN p.c IS NULL
        |   THEN 1 ELSE 0 END) AS miss FROM
        |  (SELECT DISTINCT o_custkey AS v FROM orders) c LEFT JOIN
        |  (SELECT DISTINCT c_custkey AS c FROM customer) p
        |   ON c.v = p.c),
        |i2 AS (SELECT count(*) AS nc, sum(CASE WHEN p.c IS NULL
        |   THEN 1 ELSE 0 END) AS miss FROM
        |  (SELECT DISTINCT l_partkey AS v FROM lineitem) c LEFT JOIN
        |  (SELECT DISTINCT p_partkey AS c FROM part) p ON c.v = p.c),
        |i3 AS (SELECT count(*) AS nc, sum(CASE WHEN p.c IS NULL
        |   THEN 1 ELSE 0 END) AS miss FROM
        |  (SELECT DISTINCT c_nationkey AS v FROM customer) c LEFT JOIN
        |  (SELECT DISTINCT n_nationkey AS c FROM nation) p
        |   ON c.v = p.c),
        |i4 AS (SELECT count(*) AS nc, sum(CASE WHEN p.c IS NULL
        |   THEN 1 ELSE 0 END) AS miss FROM
        |  (SELECT DISTINCT o_orderkey AS v FROM orders) c LEFT JOIN
        |  (SELECT DISTINCT l_orderkey AS c FROM lineitem) p
        |   ON c.v = p.c),
        |i5 AS (SELECT count(*) AS nc, sum(CASE WHEN p.c IS NULL
        |   THEN 1 ELSE 0 END) AS miss FROM
        |  (SELECT DISTINCT s_nationkey AS v FROM supplier) c LEFT JOIN
        |  (SELECT DISTINCT n_nationkey AS c FROM nation) p
        |   ON c.v = p.c)
        |SELECT 'orders.o_custkey <= customer.c_custkey' AS ind,
        | CAST(nc AS BIGINT) AS n_child_distinct,
        | CAST(miss AS BIGINT) AS n_missing,
        | CAST(CASE WHEN miss = 0 THEN 1 ELSE 0 END AS BIGINT) AS holds
        | FROM i1
        |UNION ALL SELECT 'lineitem.l_partkey <= part.p_partkey',
        | CAST(nc AS BIGINT), CAST(miss AS BIGINT),
        | CAST(CASE WHEN miss = 0 THEN 1 ELSE 0 END AS BIGINT) FROM i2
        |UNION ALL SELECT 'customer.c_nationkey <= nation.n_nationkey',
        | CAST(nc AS BIGINT), CAST(miss AS BIGINT),
        | CAST(CASE WHEN miss = 0 THEN 1 ELSE 0 END AS BIGINT) FROM i3
        |UNION ALL SELECT 'orders.o_orderkey <= lineitem.l_orderkey',
        | CAST(nc AS BIGINT), CAST(miss AS BIGINT),
        | CAST(CASE WHEN miss = 0 THEN 1 ELSE 0 END AS BIGINT) FROM i4
        |UNION ALL SELECT 'supplier.s_nationkey <= nation.n_nationkey',
        | CAST(nc AS BIGINT), CAST(miss AS BIGINT),
        | CAST(CASE WHEN miss = 0 THEN 1 ELSE 0 END AS BIGINT) FROM i5""".stripMargin,

    // q262/q263 twins: the q27 exact-cosine CTE, then the same
    // (count DESC, label ASC) argmax and exact tp/fp/fn identities.
    "q262_knn_confusion" ->
      s"""WITH $sqlKnnVoteCtes,
         |p AS (SELECT query_id, nlab AS pred_label FROM
         |  (SELECT query_id, nlab, row_number() OVER
         |   (PARTITION BY query_id ORDER BY cnt DESC, nlab) AS rn
         |   FROM v) WHERE rn = 1)
         |SELECT e.label AS true_label,
         | CAST(p.pred_label AS INT) AS pred_label,
         | CAST(count(*) AS BIGINT) AS n
         |FROM p JOIN embeddings e ON p.query_id = e.vec_id
         |GROUP BY 1, 2""".stripMargin,

    "q263_knn_class_metrics" ->
      s"""WITH $sqlKnnVoteCtes,
         |p AS (SELECT query_id, nlab AS pred_label FROM
         |  (SELECT query_id, nlab, row_number() OVER
         |   (PARTITION BY query_id ORDER BY cnt DESC, nlab) AS rn
         |   FROM v) WHERE rn = 1),
         |j AS (SELECT p.query_id, p.pred_label, e.label AS true_label
         | FROM p JOIN embeddings e ON p.query_id = e.vec_id),
         |bt AS (SELECT true_label AS class, count(*) AS n_true,
         |  sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
         |   AS tp FROM j GROUP BY 1),
         |bp AS (SELECT pred_label AS class, count(*) AS n_pred
         | FROM j GROUP BY 1),
         |m AS (SELECT coalesce(bt.class, bp.class) AS class,
         |  coalesce(bt.tp, 0) AS tp,
         |  coalesce(bp.n_pred, 0) - coalesce(bt.tp, 0) AS fp,
         |  coalesce(bt.n_true, 0) - coalesce(bt.tp, 0) AS fn
         | FROM bt FULL OUTER JOIN bp ON bt.class = bp.class)
         |SELECT CAST(class AS INT) AS class, CAST(tp AS BIGINT) AS tp,
         | CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
         | CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) /
         |  CAST(tp + fp AS DOUBLE) END AS precision,
         | CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) /
         |  CAST(tp + fn AS DOUBLE) END AS recall,
         | CASE WHEN 2 * tp + fp + fn > 0 THEN CAST(2 * tp AS DOUBLE) /
         |  CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
         |FROM m""".stripMargin,

    "q264_freshness_audit" ->
      """WITH g AS (SELECT max(epoch_us(ts)) AS gmax FROM events),
        |a AS (SELECT e.event_type, epoch_us(e.ts) AS us, g.gmax
        | FROM events e CROSS JOIN g)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
        | CAST(sum(CASE WHEN us > gmax - 604800000000 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_last7,
        | CAST(sum(CASE WHEN us <= gmax - 604800000000
        |   AND us > gmax - 1209600000000 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_prior7,
        | CAST(max(gmax) - max(us) AS DOUBLE) / 3600000000.0
        |  AS staleness_hours,
        | CASE WHEN sum(CASE WHEN us <= gmax - 604800000000
        |   AND us > gmax - 1209600000000 THEN 1 ELSE 0 END) > 0
        |  THEN CAST(sum(CASE WHEN us > gmax - 604800000000
        |    THEN 1 ELSE 0 END) AS DOUBLE) /
        |   CAST(sum(CASE WHEN us <= gmax - 604800000000
        |    AND us > gmax - 1209600000000 THEN 1 ELSE 0 END) AS DOUBLE)
        |  END AS wow_ratio
        |FROM a GROUP BY 1""".stripMargin,

    // q265 twin: same trigram TF vectors, fractional rarity, 4-rarest
    // prefix signature, exact integer dots, same √·√ denominator order.
    "q265_sparse_sim_join" ->
      """WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM
        |  (SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ')
        |     for i in generate_series(1, len(w) - 2)]) AS term
        |   FROM (SELECT doc_id, string_split(text, ' ') AS w
        |    FROM documents WHERE text IS NOT NULL))
        | GROUP BY 1, 2),
        |n2 AS (SELECT doc_id, sum(tf * tf) AS n2 FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
        |rare AS (SELECT term, c AS df FROM
        |  (SELECT term, count(*) AS c FROM tf GROUP BY 1), nd
        | WHERE c * 100 <= nd.n_docs),
        |sig AS (SELECT doc_id, term FROM
        |  (SELECT t.doc_id, t.term, row_number() OVER
        |    (PARTITION BY t.doc_id ORDER BY r.df, t.term) AS rk
        |   FROM tf t JOIN rare r ON t.term = r.term)
        | WHERE rk <= 4),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        | FROM sig x JOIN sig y
        |  ON x.term = y.term AND x.doc_id < y.doc_id),
        |dot AS (SELECT c.a, c.b, sum(ta.tf * tb.tf) AS dot
        | FROM cand c JOIN tf ta ON ta.doc_id = c.a
        | JOIN tf tb ON tb.doc_id = c.b AND tb.term = ta.term
        | GROUP BY 1, 2)
        |SELECT d.a AS doc_a, d.b AS doc_b, CAST(d.dot AS BIGINT) AS dot,
        | CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) *
        |  sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
        |FROM dot d JOIN n2 na ON d.a = na.doc_id
        |JOIN n2 nb ON d.b = nb.doc_id
        |ORDER BY cosine DESC, doc_a, doc_b
        |LIMIT 20""".stripMargin,

    "q266_diff_in_diff" ->
      """WITH cells AS (SELECT
        |  CASE WHEN user_id % 2 = 1 THEN 'T' ELSE 'C' END AS grp,
        |  CASE WHEN ts >= TIMESTAMP '1996-07-01 00:00:00'
        |   THEN 'after' ELSE 'before' END AS period,
        |  count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS s
        | FROM events GROUP BY 1, 2),
        |m AS (SELECT
        |  max(CASE WHEN grp = 'T' AND period = 'after'
        |   THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END)
        |   AS "T_after",
        |  max(CASE WHEN grp = 'T' AND period = 'before'
        |   THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END)
        |   AS "T_before",
        |  max(CASE WHEN grp = 'C' AND period = 'after'
        |   THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END)
        |   AS "C_after",
        |  max(CASE WHEN grp = 'C' AND period = 'before'
        |   THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END)
        |   AS "C_before"
        | FROM cells)
        |SELECT "T_after", "T_before", "C_after", "C_before",
        | ("T_after" - "T_before") - ("C_after" - "C_before")
        |  AS did_cents
        |FROM m""".stripMargin,

    "q267_uncertainty_sampling" ->
      s"""WITH $sqlKnnVoteCtes,
         |o AS (SELECT query_id, nlab, cnt, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cnt DESC, nlab) AS rn
         | FROM v),
         |p AS (SELECT o1.query_id, o1.nlab AS top_label,
         |  o1.cnt AS top_votes, coalesce(o2.cnt, 0) AS runner_votes
         | FROM o o1 LEFT JOIN o o2 ON o1.query_id = o2.query_id
         |  AND o2.rn = 2
         | WHERE o1.rn = 1)
         |SELECT query_id, CAST(top_label AS INT) AS top_label,
         | CAST(top_votes AS BIGINT) AS top_votes,
         | CAST(runner_votes AS BIGINT) AS runner_votes,
         | CAST(top_votes - runner_votes AS BIGINT) AS margin
         |FROM p ORDER BY margin, query_id
         |LIMIT 20""".stripMargin,

    // q268 twin: the same bounded histograms and the same exact
    // cross-product quantile compare (HUGEINT carries decimal(38,0)).
    "q268_quantile_normalize" ->
      """WITH d AS (SELECT source, n_chars FROM documents
        |  WHERE n_chars IS NOT NULL),
        |src AS (SELECT source, v, cnt,
        |  sum(cnt) OVER (PARTITION BY source ORDER BY v) AS cum,
        |  sum(cnt) OVER (PARTITION BY source) AS n_src
        | FROM (SELECT source, n_chars AS v, count(*) AS cnt
        |   FROM d GROUP BY 1, 2)),
        |pool AS (SELECT pv, sum(pcnt) OVER (ORDER BY pv) AS pcum
        | FROM (SELECT n_chars AS pv, count(*) AS pcnt
        |   FROM d GROUP BY 1)),
        |np AS (SELECT count(*) AS n_pool FROM d)
        |SELECT s.source, s.v, min(p.pv) AS mapped_v,
        | min(p.pv) - s.v AS shift
        |FROM src s, pool p, np
        |WHERE p.pcum * s.n_src >= s.cum * np.n_pool
        |GROUP BY s.source, s.v""".stripMargin,

    // q269 twin: identical md5-slot candidates (60-bit positions, the
    // q258 discipline), identical anti-join yield census.
    "q269_negative_sampling_yield" ->
      """WITH mp AS (SELECT max(p_partkey) AS max_pk FROM part),
        |cand AS (SELECT c.c_custkey, t.i AS slot,
        |  CAST(('0x' || substr(md5('neg:' ||
        |    CAST(c.c_custkey AS VARCHAR) || ':' ||
        |    CAST(t.i AS VARCHAR)), 1, 15)) AS BIGINT)
        |   % (mp.max_pk + 1) AS item
        | FROM customer c CROSS JOIN range(0, 8) t(i) CROSS JOIN mp),
        |pos AS (SELECT DISTINCT o.o_custkey AS c_custkey,
        |  l.l_partkey AS item
        | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |kept AS (SELECT c.* FROM cand c
        | WHERE NOT EXISTS (SELECT 1 FROM pos p
        |  WHERE p.c_custkey = c.c_custkey AND p.item = c.item))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand)
        |  AS n_candidates,
        | (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_negatives,
        | (SELECT CAST(count(*) AS BIGINT) FROM cand) -
        |  (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_collisions,
        | CAST((SELECT count(*) FROM kept) AS DOUBLE) /
        |  CAST((SELECT count(*) FROM cand) AS DOUBLE) AS yield_frac""".stripMargin,

    "q270_forecast_backtest" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2),
        |lagged AS (SELECT event_type, d, n,
        |  lag(n, 7) OVER (PARTITION BY event_type ORDER BY d) AS pred,
        |  lag(d, 7) OVER (PARTITION BY event_type ORDER BY d) AS pd
        | FROM daily),
        |scored AS (SELECT * FROM lagged
        | WHERE pred IS NOT NULL AND date_diff('day', pd, d) = 7)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        | CAST(sum(abs(n - pred)) AS DOUBLE) /
        |  CAST(count(*) AS DOUBLE) AS mae,
        | CAST(sum(abs(n - pred)) AS DOUBLE) /
        |  CAST(sum(n) AS DOUBLE) AS wape
        |FROM scored GROUP BY 1""".stripMargin,

    "q271_price_bands" ->
      """WITH pv AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |   // 100 AS d, count(*) AS n_orders
        | FROM orders GROUP BY 1),
        |gp AS (SELECT d, n_orders,
        |  coalesce(d - lag(d, 1) OVER (ORDER BY d), 0) AS gap
        | FROM pv),
        |rk AS (SELECT d, n_orders, gap,
        |  row_number() OVER (ORDER BY gap DESC, d) AS grk
        | FROM gp),
        |g AS (SELECT d, n_orders,
        |  sum(CASE WHEN grk <= 63 AND gap > 0 THEN 1 ELSE 0 END)
        |   OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS band
        | FROM rk)
        |SELECT CAST(band AS BIGINT) AS band,
        | CAST(min(d) AS BIGINT) AS lo_dollars,
        | CAST(max(d) AS BIGINT) AS hi_dollars,
        | CAST(sum(n_orders) AS BIGINT) AS n_orders,
        | CAST(count(*) AS BIGINT) AS n_distinct_values
        |FROM g GROUP BY 1""".stripMargin,

    "q272_mode_per_group" ->
      """WITH cnts AS (SELECT n.n_name, o.o_orderpriority,
        |  count(*) AS cnt
        | FROM orders o
        | JOIN customer c ON o.o_custkey = c.c_custkey
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | GROUP BY 1, 2),
        |r AS (SELECT n_name, o_orderpriority, cnt,
        |  row_number() OVER (PARTITION BY n_name
        |   ORDER BY cnt DESC, o_orderpriority) AS rk,
        |  sum(cnt) OVER (PARTITION BY n_name) AS n_total
        | FROM cnts)
        |SELECT n_name, o_orderpriority AS mode_priority,
        | CAST(cnt AS BIGINT) AS n_mode,
        | CAST(n_total AS BIGINT) AS n_total,
        | CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE) AS mode_share
        |FROM r WHERE rk = 1""".stripMargin,

    "q273_pareto_concentration" ->
      """WITH cr AS (SELECT o_custkey,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
        | FROM orders GROUP BY 1),
        |h AS (SELECT rev // 100 AS rd, count(*) AS n_cust,
        |  sum(rev) AS rev_sum
        | FROM cr GROUP BY 1),
        |c AS (SELECT rd,
        |  sum(n_cust) OVER (ORDER BY rd DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS cum_cust,
        |  sum(rev_sum) OVER (ORDER BY rd DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        | FROM h),
        |tt AS (SELECT sum(rev) AS total_rev, count(*) AS total_cust
        | FROM cr)
        |SELECT CAST(c.cum_cust AS BIGINT) AS n_top_customers,
        | CAST(c.rd AS BIGINT) AS cutoff_dollars,
        | CAST(c.cum_cust AS DOUBLE) / CAST(tt.total_cust AS DOUBLE)
        |  AS cust_frac,
        | CAST(c.cum_rev AS DOUBLE) / CAST(tt.total_rev AS DOUBLE)
        |  AS rev_share
        |FROM c, tt
        |WHERE c.cum_rev * 5 >= tt.total_rev * 4
        |ORDER BY c.cum_cust
        |LIMIT 1""".stripMargin,

    "q274_padding_waste" ->
      """WITH l AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
        |   AS len
        | FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT length(bin(len)) - 1 AS bucket, count(*) AS n_docs,
        |  sum(len) AS sum_tokens, max(len) AS bucket_max
        | FROM l WHERE len > 0 GROUP BY 1)
        |SELECT CAST(bucket AS INT) AS bucket,
        | CAST(n_docs AS BIGINT) AS n_docs,
        | CAST(sum_tokens AS BIGINT) AS sum_tokens,
        | CAST(bucket_max AS BIGINT) AS bucket_max,
        | CAST(n_docs * bucket_max - sum_tokens AS BIGINT)
        |  AS padding_tokens,
        | CAST(n_docs * bucket_max - sum_tokens AS DOUBLE) /
        |  CAST(n_docs * bucket_max AS DOUBLE) AS waste_frac
        |FROM b""".stripMargin,

    "q275_shuffle_quality" ->
      """WITH sh AS (SELECT
        |  CAST(('0x' || substr(md5('ep0:' || CAST(doc_id AS VARCHAR)),
        |   1, 15)) AS BIGINT) % 32 AS s0,
        |  CAST(('0x' || substr(md5('ep1:' || CAST(doc_id AS VARCHAR)),
        |   1, 15)) AS BIGINT) % 32 AS s1
        | FROM documents),
        |cells AS (SELECT s0, s1, count(*) AS n FROM sh GROUP BY 1, 2)
        |SELECT CAST(s0 AS BIGINT) AS s0,
        | CAST(sum(n) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_s1_shards,
        | CAST(max(n) AS BIGINT) AS max_cell,
        | CAST(min(n) AS BIGINT) AS min_cell,
        | (CAST(max(n) AS DOUBLE) * 32.0) / CAST(sum(n) AS DOUBLE)
        |  AS max_cell_skew
        |FROM cells GROUP BY 1""".stripMargin,

    // q276 twin: same exact-ideal membership, same PASTED discounts
    // (NdcgDiscCase verbatim), same rank-ordered list_reduce fold.
    "q276_ndcg" ->
      s"""WITH sysr AS (SELECT query_id, neighbor_id, "rank" AS rnk
         | FROM (${sqlI8TopKAt(10)})),
         |idl AS (SELECT query_id, neighbor_id
         | FROM (${sqlAnnExact(10)})),
         |m AS (SELECT s.query_id, s.rnk,
         |  $NdcgDiscCase AS w
         | FROM sysr s JOIN idl i ON s.query_id = i.query_id
         |  AND s.neighbor_id = i.neighbor_id),
         |d AS (SELECT query_id,
         |  list_reduce(list(w ORDER BY rnk), (x, y) -> x + y) AS dcg
         | FROM m GROUP BY 1),
         |q AS (SELECT DISTINCT query_id FROM idl)
         |SELECT q.query_id, coalesce(d.dcg, 0.0) AS dcg,
         | coalesce(d.dcg, 0.0) / CAST(4.543559338088346 AS DOUBLE)
         |  AS ndcg
         |FROM q LEFT JOIN d ON q.query_id = d.query_id""".stripMargin,

    "q277_twap" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS v
        | FROM events),
        |d AS (SELECT event_type, v,
        |  lead(us, 1) OVER (PARTITION BY user_id ORDER BY us) - us
        |   AS dt
        | FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
        | CAST(sum(CAST(v AS HUGEINT) * dt) AS DOUBLE) /
        |  CAST(sum(CAST(dt AS HUGEINT)) AS DOUBLE) AS twap_cents
        |FROM d WHERE dt IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "q278_record_days" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS c
        | FROM events GROUP BY 1, 2),
        |pm AS (SELECT event_type, d, c,
        |  max(c) OVER (PARTITION BY event_type ORDER BY d
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |   AS prior_max
        | FROM daily),
        |rec AS (SELECT event_type, d, c,
        |  lag(d, 1) OVER (PARTITION BY event_type ORDER BY d)
        |   AS prev_rec
        | FROM pm WHERE prior_max IS NULL OR c > prior_max)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_records,
        | CAST(max(d) AS VARCHAR) AS last_record_day,
        | CAST(max(c) AS BIGINT) AS record_cents,
        | CAST(max(date_diff('day', prev_rec, d)) AS INT)
        |  AS max_drought_days
        |FROM rec GROUP BY 1""".stripMargin,

    "q279_cold_start_coverage" ->
      s"""WITH $sqlBasketPairsCte,
         |e AS (SELECT x.pk AS a, y.pk AS b
         | FROM pp x JOIN pp y ON x.ok = y.ok AND x.pk < y.pk
         | GROUP BY 1, 2),
         |nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
         |tot AS (SELECT count(*) AS n_parts FROM part),
         |cold AS (SELECT count(*) AS n_cold FROM part
         | WHERE p_partkey NOT IN (SELECT node FROM nodes))
         |SELECT CAST(tot.n_parts AS BIGINT) AS n_parts,
         | CAST(tot.n_parts - cold.n_cold AS BIGINT) AS n_in_graph,
         | CAST(cold.n_cold AS BIGINT) AS n_cold,
         | CAST(tot.n_parts - cold.n_cold AS DOUBLE) /
         |  CAST(tot.n_parts AS DOUBLE) AS coverage_frac
         |FROM tot, cold""".stripMargin,

    "q280_ttl_retention_plan" ->
      """WITH g AS (SELECT max(epoch_us(ts)) AS gmax FROM events),
        |grid AS (SELECT * FROM (VALUES (1), (3), (7), (14))
        |  t(ttl_days))
        |SELECT CAST(grid.ttl_days AS BIGINT) AS ttl_days,
        | CAST(count(*) AS BIGINT) AS n_purged,
        | CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
        |  AS purged_cents
        |FROM events e CROSS JOIN g CROSS JOIN grid
        |WHERE epoch_us(e.ts) < g.gmax - grid.ttl_days * 86400000000
        |GROUP BY 1""".stripMargin,

    "q281_precedence_matrix" ->
      """WITH ft AS (SELECT user_id, event_type,
        |  min(epoch_us(ts)) AS fts
        | FROM events GROUP BY 1, 2),
        |bt AS (SELECT event_type, count(*) AS n_t FROM ft GROUP BY 1),
        |nu AS (SELECT count(DISTINCT user_id) AS n_users FROM ft),
        |o AS (SELECT a.event_type AS ante, b.event_type AS cons,
        |  count(*) AS n_ordered
        | FROM ft a JOIN ft b ON a.user_id = b.user_id
        |  AND a.event_type <> b.event_type AND a.fts < b.fts
        | GROUP BY 1, 2)
        |SELECT o.ante, o.cons, CAST(o.n_ordered AS BIGINT) AS n_ordered,
        | CAST(ba.n_t AS BIGINT) AS n_ante,
        | CAST(bc.n_t AS BIGINT) AS n_cons,
        | CAST(o.n_ordered * CAST(nu.n_users AS HUGEINT) AS DOUBLE) /
        |  CAST(ba.n_t * CAST(bc.n_t AS HUGEINT) AS DOUBLE)
        |  AS precedence_lift
        |FROM o
        |JOIN bt ba ON o.ante = ba.event_type
        |JOIN bt bc ON o.cons = bc.event_type
        |CROSS JOIN nu""".stripMargin,

    "q282_snowflake_cube" ->
      """SELECT r.r_name, CAST(year(o.o_orderdate) AS INT) AS o_year,
        | p.p_type,
        | CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |  (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
        |  AS DOUBLE) AS revenue_e4,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY CUBE (1, 2, 3)""".stripMargin,

    "q283_join_cardinality_estimate" ->
      """WITH sk AS (SELECT CASE WHEN l_suppkey % 2 = 0 THEN 1
        |   ELSE l_suppkey END AS k FROM lineitem),
        |ha AS (SELECT k % 64 AS b, count(*) AS n,
        |  count(DISTINCT k) AS ndv FROM sk GROUP BY 1),
        |hb AS (SELECT s_suppkey % 64 AS b, count(*) AS n,
        |  count(DISTINCT s_suppkey) AS ndv FROM supplier GROUP BY 1),
        |eb AS (SELECT ha.b,
        |  CAST(ha.n * hb.n AS DOUBLE) /
        |   CAST(greatest(ha.ndv, hb.ndv) AS DOUBLE) AS est
        | FROM ha JOIN hb ON ha.b = hb.b),
        |e AS (SELECT list_reduce(list(est ORDER BY b),
        |  (x, y) -> x + y) AS est_rows FROM eb),
        |a AS (SELECT count(*) AS actual_rows
        | FROM sk JOIN supplier s ON sk.k = s.s_suppkey)
        |SELECT e.est_rows, CAST(a.actual_rows AS BIGINT) AS actual_rows,
        | CAST(a.actual_rows AS DOUBLE) / e.est_rows
        |  AS underestimate_factor
        |FROM e, a""".stripMargin,

    "q284_stats_merge" ->
      """WITH h0 AS (SELECT count(*) AS n,
        |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nulls,
        |  min(CAST(round(o_totalprice * 100) AS BIGINT)) AS mn,
        |  max(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx
        | FROM orders WHERE o_orderkey % 2 = 0),
        |h1 AS (SELECT count(*) AS n,
        |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nulls,
        |  min(CAST(round(o_totalprice * 100) AS BIGINT)) AS mn,
        |  max(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx
        | FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT 'merged' AS src,
        | CAST(h0.n + h1.n AS BIGINT) AS n_rows,
        | CAST(h0.nulls + h1.nulls AS BIGINT) AS n_nulls,
        | CAST(least(h0.mn, h1.mn) AS BIGINT) AS min_cents,
        | CAST(greatest(h0.mx, h1.mx) AS BIGINT) AS max_cents
        |FROM h0, h1
        |UNION ALL
        |SELECT 'recomputed', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |  AS BIGINT),
        | CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
        | CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM orders""".stripMargin,

    "q285_backfill_plan" ->
      """WITH obs AS (SELECT DISTINCT event_type,
        |  epoch_us(ts) // 3600000000 AS h FROM events),
        |span AS (SELECT event_type, min(h) AS h0, max(h) AS h1,
        |  count(*) AS n_present FROM obs GROUP BY 1),
        |miss AS (SELECT s.event_type, g.h FROM span s,
        |  LATERAL (SELECT unnest(generate_series(s.h0, s.h1)) AS h) g
        | WHERE NOT EXISTS (SELECT 1 FROM obs o
        |  WHERE o.event_type = s.event_type AND o.h = g.h)),
        |runs AS (SELECT event_type, grp, count(*) AS run_len,
        |  min(h) AS run_start FROM
        |  (SELECT event_type, h, h - row_number() OVER
        |    (PARTITION BY event_type ORDER BY h) AS grp FROM miss)
        | GROUP BY 1, 2),
        |holes AS (SELECT event_type, sum(run_len) AS miss_n,
        |  count(*) AS holes_n, max(run_len) AS longest,
        |  min(run_start) AS first_miss FROM runs GROUP BY 1)
        |SELECT s.event_type, CAST(s.n_present AS BIGINT) AS n_present,
        | CAST(coalesce(h.miss_n, 0) AS BIGINT) AS n_missing_hours,
        | CAST(coalesce(h.holes_n, 0) AS BIGINT) AS n_holes,
        | CAST(coalesce(h.longest, 0) AS BIGINT) AS longest_hole_hours,
        | CAST(h.first_miss AS BIGINT) AS first_missing_hour
        |FROM span s LEFT JOIN holes h ON s.event_type = h.event_type""".stripMargin,

    "q286_simpson_detector" ->
      """WITH u AS (SELECT user_id,
        |  min(epoch_us(ts) // 604800000000) AS wk,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |   AS conv,
        |  user_id % 2 AS grp
        | FROM events GROUP BY user_id),
        |st AS (SELECT wk AS stratum,
        |  sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n_t,
        |  sum(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS conv_t,
        |  sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n_c,
        |  sum(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS conv_c
        | FROM u GROUP BY 1
        | UNION ALL
        | SELECT -1,
        |  sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END),
        |  sum(CASE WHEN grp = 1 THEN conv ELSE 0 END),
        |  sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END),
        |  sum(CASE WHEN grp = 0 THEN conv ELSE 0 END)
        | FROM u)
        |SELECT CAST(stratum AS BIGINT) AS stratum,
        | CAST(n_t AS BIGINT) AS n_t, CAST(conv_t AS BIGINT) AS conv_t,
        | CAST(n_c AS BIGINT) AS n_c, CAST(conv_c AS BIGINT) AS conv_c,
        | CASE WHEN n_t > 0 THEN CAST(conv_t AS DOUBLE) /
        |  CAST(n_t AS DOUBLE) END AS rate_t,
        | CASE WHEN n_c > 0 THEN CAST(conv_c AS DOUBLE) /
        |  CAST(n_c AS DOUBLE) END AS rate_c,
        | CAST(CASE WHEN conv_t * CAST(n_c AS HUGEINT) >
        |   conv_c * CAST(n_t AS HUGEINT) THEN 1
        |  WHEN conv_t * CAST(n_c AS HUGEINT) <
        |   conv_c * CAST(n_t AS HUGEINT) THEN -1
        |  ELSE 0 END AS INT) AS direction
        |FROM st""".stripMargin,

    "q287_tail_lumping" ->
      """WITH cnts AS (SELECT n.n_name, p.p_name, count(*) AS cnt
        | FROM lineitem l
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        | JOIN part p ON l.l_partkey = p.p_partkey
        | GROUP BY 1, 2),
        |lab AS (SELECT n_name,
        |  CASE WHEN cnt * count(*) OVER (PARTITION BY n_name) >=
        |    2 * sum(cnt) OVER (PARTITION BY n_name)
        |   THEN p_name ELSE 'OTHER' END AS category,
        |  cnt, sum(cnt) OVER (PARTITION BY n_name) AS tot
        | FROM cnts)
        |SELECT n_name, category, CAST(sum(cnt) AS BIGINT) AS n_lines,
        | CAST(count(*) AS BIGINT) AS n_lumped,
        | CAST(sum(cnt) AS DOUBLE) / CAST(max(tot) AS DOUBLE) AS share
        |FROM lab GROUP BY 1, 2""".stripMargin,

    "q288_error_budget" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |  count(*) AS n_total,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |   AS n_err
        | FROM events GROUP BY 1),
        |x AS (SELECT d, n_total, n_err,
        |  n_err * 4 - n_total AS excess FROM daily)
        |SELECT CAST(d AS VARCHAR) AS day,
        | CAST(n_total AS BIGINT) AS n_total,
        | CAST(n_err AS BIGINT) AS n_err,
        | CAST(CASE WHEN excess > 0 THEN 1 ELSE 0 END AS BIGINT)
        |  AS over_budget,
        | CAST(sum(excess) OVER (ORDER BY d
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS cum_excess,
        | CAST(n_err AS DOUBLE) / CAST(n_total AS DOUBLE) AS err_rate
        |FROM x""".stripMargin,

    "q289_conformed_dim_audit" ->
      """WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders),
        |b AS (SELECT DISTINCT user_id AS k FROM events),
        |j AS (SELECT a.k AS ka, b.k AS kb
        | FROM a FULL OUTER JOIN b ON a.k = b.k)
        |SELECT
        | CAST(sum(CASE WHEN ka IS NOT NULL AND kb IS NULL
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_only_orders,
        | CAST(sum(CASE WHEN ka IS NULL AND kb IS NOT NULL
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_only_events,
        | CAST(sum(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        | CAST(count(*) AS BIGINT) AS n_union,
        | CAST(sum(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
        |  THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  AS jaccard
        |FROM j""".stripMargin,

    "q290_rollup_lattice_audit" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS d,
        |  count(*) AS n,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS c
        | FROM events GROUP BY 1),
        |vd AS (SELECT date_trunc('month', d) AS m,
        |  sum(n) AS n_via_daily, sum(c) AS c_via_daily
        | FROM daily GROUP BY 1),
        |dr AS (SELECT date_trunc('month', ts) AS m,
        |  count(*) AS n_direct,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS c_direct
        | FROM events GROUP BY 1)
        |SELECT CAST(CAST(dr.m AS DATE) AS VARCHAR) AS month,
        | CAST(dr.n_direct AS BIGINT) AS n_direct,
        | CAST(vd.n_via_daily AS BIGINT) AS n_via_daily,
        | CAST(dr.c_direct AS BIGINT) AS c_direct,
        | CAST(vd.c_via_daily AS BIGINT) AS c_via_daily,
        | CAST(coalesce(dr.n_direct, 0) - coalesce(vd.n_via_daily, 0)
        |  AS BIGINT) AS n_diff,
        | CAST(coalesce(dr.c_direct, 0) - coalesce(vd.c_via_daily, 0)
        |  AS BIGINT) AS c_diff
        |FROM dr FULL OUTER JOIN vd ON dr.m = vd.m""".stripMargin,

    "q291_fanout_profile" ->
      """WITH p1 AS (SELECT count(*) AS np, sum(fan) AS nc,
        |  max(fan) AS mx, min(fan) AS mn FROM
        |  (SELECT o_custkey, count(*) AS fan FROM orders GROUP BY 1)),
        |p2 AS (SELECT count(*) AS np, sum(fan) AS nc,
        |  max(fan) AS mx, min(fan) AS mn FROM
        |  (SELECT l_orderkey, count(*) AS fan FROM lineitem
        |   GROUP BY 1)),
        |p3 AS (SELECT count(*) AS np, sum(fan) AS nc,
        |  max(fan) AS mx, min(fan) AS mn FROM
        |  (SELECT l_partkey, count(*) AS fan FROM lineitem GROUP BY 1))
        |SELECT 'orders_per_customer' AS relationship,
        | CAST(np AS BIGINT) AS n_parents,
        | CAST(nc AS BIGINT) AS n_children,
        | CAST(mx AS BIGINT) AS max_fanout,
        | CAST(mn AS BIGINT) AS min_fanout,
        | CAST(nc AS DOUBLE) / CAST(np AS DOUBLE) AS avg_fanout FROM p1
        |UNION ALL
        |SELECT 'lines_per_order', CAST(np AS BIGINT),
        | CAST(nc AS BIGINT), CAST(mx AS BIGINT), CAST(mn AS BIGINT),
        | CAST(nc AS DOUBLE) / CAST(np AS DOUBLE) FROM p2
        |UNION ALL
        |SELECT 'lines_per_part', CAST(np AS BIGINT),
        | CAST(nc AS BIGINT), CAST(mx AS BIGINT), CAST(mn AS BIGINT),
        | CAST(nc AS DOUBLE) / CAST(np AS DOUBLE) FROM p3""".stripMargin,

    "q292_attribution_window_sweep" ->
      """WITH fc AS (SELECT user_id, min(epoch_us(ts)) AS fc
        | FROM events WHERE event_type = 'click' GROUP BY 1),
        |fp AS (SELECT e.user_id, min(epoch_us(e.ts)) AS fp
        | FROM events e JOIN fc ON e.user_id = fc.user_id
        | WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fc.fc
        | GROUP BY 1),
        |g AS (SELECT fp.fp - fc.fc AS gap_us
        | FROM fc LEFT JOIN fp ON fc.user_id = fp.user_id),
        |grid AS (SELECT * FROM (VALUES (1), (6), (24), (72))
        |  t(window_hours))
        |SELECT CAST(grid.window_hours AS BIGINT) AS window_hours,
        | CAST(count(*) AS BIGINT) AS n_clicked,
        | CAST(sum(CASE WHEN g.gap_us IS NOT NULL AND
        |   g.gap_us <= grid.window_hours * 3600000000
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        | CAST(sum(CASE WHEN g.gap_us IS NOT NULL AND
        |   g.gap_us <= grid.window_hours * 3600000000
        |  THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  AS conv_rate
        |FROM g CROSS JOIN grid
        |GROUP BY 1""".stripMargin,

    "q293_weighted_jaccard" ->
      """WITH v AS (SELECT n.n_name, l.l_partkey, count(*) AS c
        | FROM lineitem l
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        | GROUP BY 1, 2),
        |tot AS (SELECT n_name, sum(c) AS tot FROM v GROUP BY 1),
        |sm AS (SELECT a.n_name AS na, b.n_name AS nb,
        |  sum(least(a.c, b.c)) AS sum_min
        | FROM v a JOIN v b ON a.l_partkey = b.l_partkey
        |  AND a.n_name < b.n_name
        | GROUP BY 1, 2)
        |SELECT sm.na, sm.nb, CAST(sm.sum_min AS BIGINT) AS sum_min,
        | CAST(ta.tot + tb.tot - sm.sum_min AS BIGINT) AS sum_max,
        | CAST(sm.sum_min AS DOUBLE) /
        |  CAST(ta.tot + tb.tot - sm.sum_min AS DOUBLE)
        |  AS weighted_jaccard
        |FROM sm
        |JOIN tot ta ON sm.na = ta.n_name
        |JOIN tot tb ON sm.nb = tb.n_name""".stripMargin,

    "q294_topk_movers" ->
      """WITH r96 AS (SELECT l_partkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |   (10000 - CAST(round(l_discount * 10000) AS BIGINT)))
        |   AS BIGINT) AS rev
        | FROM lineitem WHERE year(l_shipdate) = 1996
        | GROUP BY 1 ORDER BY rev DESC, l_partkey LIMIT 10),
        |t96 AS (SELECT l_partkey, rev, row_number() OVER
        |  (ORDER BY rev DESC, l_partkey) AS rk FROM r96),
        |r97 AS (SELECT l_partkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |   (10000 - CAST(round(l_discount * 10000) AS BIGINT)))
        |   AS BIGINT) AS rev
        | FROM lineitem WHERE year(l_shipdate) = 1997
        | GROUP BY 1 ORDER BY rev DESC, l_partkey LIMIT 10),
        |t97 AS (SELECT l_partkey, rev, row_number() OVER
        |  (ORDER BY rev DESC, l_partkey) AS rk FROM r97)
        |SELECT coalesce(t96.l_partkey, t97.l_partkey) AS p_partkey,
        | CAST(t96.rk AS BIGINT) AS rank_1996,
        | CAST(t97.rk AS BIGINT) AS rank_1997,
        | t96.rev AS rev_1996, t97.rev AS rev_1997,
        | CASE WHEN t96.rk IS NULL THEN 'entered'
        |  WHEN t97.rk IS NULL THEN 'dropped'
        |  ELSE 'stayed' END AS status,
        | CAST(coalesce(t96.rk, 11) - coalesce(t97.rk, 11) AS BIGINT)
        |  AS rank_gain
        |FROM t96 FULL OUTER JOIN t97
        | ON t96.l_partkey = t97.l_partkey""".stripMargin,

    "q295_error_free_streaks" ->
      """WITH hours AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |  event_type FROM events),
        |span AS (SELECT min(h) AS h0, max(h) AS h1 FROM hours),
        |eh AS (SELECT DISTINCT h FROM hours
        | WHERE event_type = 'error'),
        |free AS (SELECT g.h FROM span s,
        |  LATERAL (SELECT unnest(generate_series(s.h0, s.h1)) AS h) g
        | WHERE NOT EXISTS (SELECT 1 FROM eh WHERE eh.h = g.h)),
        |runs AS (SELECT grp, count(*) AS len, min(h) AS start_h FROM
        |  (SELECT h, h - row_number() OVER (ORDER BY h) AS grp
        |   FROM free)
        | GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_streaks,
        | CAST(sum(len) AS BIGINT) AS n_error_free_hours,
        | CAST(max(len * 10000000 + start_h) // 10000000 AS BIGINT)
        |  AS longest_streak_hours,
        | CAST(max(len * 10000000 + start_h) % 10000000 AS BIGINT)
        |  AS longest_streak_start_hour
        |FROM runs""".stripMargin,

    "q296_dedup_impact" ->
      """WITH d AS (SELECT doc_id, text, n_chars FROM documents
        |  WHERE text IS NOT NULL),
        |kept AS (SELECT d.doc_id, d.text, d.n_chars FROM d
        | JOIN (SELECT md5(text) AS h, min(doc_id) AS keep_id
        |   FROM d GROUP BY 1) k ON d.doc_id = k.keep_id),
        |b1 AS (SELECT count(*) AS n_docs, sum(n_chars) AS total_chars
        | FROM d),
        |v1 AS (SELECT count(DISTINCT tok) AS vocab FROM
        |  (SELECT unnest(string_split(text, ' ')) AS tok FROM d)),
        |b2 AS (SELECT count(*) AS n_docs, sum(n_chars) AS total_chars
        | FROM kept),
        |v2 AS (SELECT count(DISTINCT tok) AS vocab FROM
        |  (SELECT unnest(string_split(text, ' ')) AS tok FROM kept))
        |SELECT 'before' AS stage, CAST(b1.n_docs AS BIGINT) AS n_docs,
        | CAST(b1.total_chars AS BIGINT) AS total_chars,
        | CAST(v1.vocab AS BIGINT) AS vocab,
        | CAST(b1.total_chars AS DOUBLE) / CAST(b1.n_docs AS DOUBLE)
        |  AS mean_chars
        |FROM b1, v1
        |UNION ALL
        |SELECT 'after_exact_dedup', CAST(b2.n_docs AS BIGINT),
        | CAST(b2.total_chars AS BIGINT), CAST(v2.vocab AS BIGINT),
        | CAST(b2.total_chars AS DOUBLE) / CAST(b2.n_docs AS DOUBLE)
        |FROM b2, v2""".stripMargin,

    "q297_srm_check" ->
      """WITH u AS (SELECT user_id,
        |  min(epoch_us(ts) // 604800000000) AS wk,
        |  user_id % 2 AS grp
        | FROM events GROUP BY user_id),
        |st AS (SELECT wk AS stratum,
        |  sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n_t,
        |  sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n_c
        | FROM u GROUP BY 1
        | UNION ALL
        | SELECT -1,
        |  sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END),
        |  sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
        | FROM u)
        |SELECT CAST(stratum AS BIGINT) AS stratum,
        | CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
        | CAST((n_t - n_c) * (n_t - n_c) AS DOUBLE) /
        |  CAST(n_t + n_c AS DOUBLE) AS srm_chi2,
        | CAST(CASE WHEN CAST((n_t - n_c) * (n_t - n_c) AS DOUBLE) /
        |   CAST(n_t + n_c AS DOUBLE) > 3.84 THEN 1 ELSE 0 END
        |  AS BIGINT) AS srm_flag
        |FROM st""".stripMargin,

    "q298_basket_profile" ->
      """WITH w AS (SELECT l_orderkey, count(*) AS w FROM lineitem
        |  GROUP BY 1),
        |h AS (SELECT w, count(*) AS n_orders, w * count(*) AS n_lines
        | FROM w GROUP BY 1),
        |tot AS (SELECT sum(n_lines) AS total_lines FROM h)
        |SELECT CAST(h.w AS BIGINT) AS basket_width,
        | CAST(h.n_orders AS BIGINT) AS n_orders,
        | CAST(h.n_lines AS BIGINT) AS n_lines,
        | CAST(h.n_lines AS DOUBLE) / CAST(tot.total_lines AS DOUBLE)
        |  AS line_share,
        | CAST(sum(h.n_lines) OVER (ORDER BY h.w
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |  CAST(tot.total_lines AS DOUBLE) AS cum_line_share
        |FROM h, tot""".stripMargin,

    "q299_growth_accounting" ->
      """WITH o AS (SELECT DISTINCT o_custkey,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS m
        | FROM orders),
        |f AS (SELECT o_custkey, min(m) AS fm FROM o GROUP BY 1)
        |SELECT CAST(o.m AS VARCHAR) AS month,
        | CAST(count(*) AS BIGINT) AS n_active,
        | CAST(sum(CASE WHEN o.m = f.fm THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_new,
        | CAST(count(*) -
        |  sum(CASE WHEN o.m = f.fm THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_returning
        |FROM o JOIN f ON o.o_custkey = f.o_custkey
        |GROUP BY 1""".stripMargin,

    "q300_kpi_scorecard" ->
      """WITH o AS (SELECT count(*) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
        | FROM orders),
        |l AS (SELECT count(*) AS n_lines,
        |  sum(CAST(round(l_quantity) AS BIGINT)) AS n_items
        | FROM lineitem)
        |SELECT CAST(o.n_orders AS BIGINT) AS n_orders,
        | CAST(o.n_customers AS BIGINT) AS n_customers,
        | CAST(l.n_lines AS BIGINT) AS n_lines,
        | CAST(l.n_items AS BIGINT) AS n_items,
        | CAST(o.rev_cents AS BIGINT) AS rev_cents,
        | CAST(o.rev_cents AS DOUBLE) / CAST(o.n_orders AS DOUBLE)
        |  AS aov_cents,
        | CAST(l.n_lines AS DOUBLE) / CAST(o.n_orders AS DOUBLE)
        |  AS lines_per_order,
        | CAST(l.n_items AS DOUBLE) / CAST(o.n_orders AS DOUBLE)
        |  AS items_per_order
        |FROM o, l""".stripMargin,

    "q301_vocab_coverage" ->
      """WITH tf AS (SELECT term, count(*) AS c FROM
        |  (SELECT unnest([array_to_string(w[i:i+2], ' ')
        |     for i in generate_series(1, len(w) - 2)]) AS term
        |   FROM (SELECT string_split(text, ' ') AS w
        |    FROM documents WHERE text IS NOT NULL))
        | GROUP BY 1),
        |r AS (SELECT c, term,
        |  row_number() OVER (ORDER BY c DESC, term) AS rk,
        |  sum(c) OVER (ORDER BY c DESC, term
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM tf),
        |tot AS (SELECT sum(c) AS total FROM tf),
        |grid AS (SELECT * FROM (VALUES (100), (1000), (5000), (20000))
        |  t(k))
        |SELECT CAST(grid.k AS BIGINT) AS k,
        | CAST(count(*) AS BIGINT) AS vocab_used,
        | CAST(max(r.cum) AS BIGINT) AS occurrences_covered,
        | CAST(max(tot.total) AS BIGINT) AS total_occurrences,
        | CAST(max(r.cum) AS DOUBLE) / CAST(max(tot.total) AS DOUBLE)
        |  AS coverage
        |FROM r CROSS JOIN tot CROSS JOIN grid
        |WHERE r.rk <= grid.k
        |GROUP BY 1""".stripMargin,

    "q302_join_loss_audit" ->
      """WITH
        |l1 AS (SELECT count(*) AS n, sum(CASE WHEN p.p_partkey IS NULL
        |   THEN 1 ELSE 0 END) AS d
        | FROM lineitem l LEFT JOIN part p
        |  ON l.l_partkey = p.p_partkey),
        |l2 AS (SELECT count(*) AS n, sum(CASE WHEN s.s_suppkey IS NULL
        |   THEN 1 ELSE 0 END) AS d
        | FROM lineitem l LEFT JOIN supplier s
        |  ON l.l_suppkey = s.s_suppkey),
        |l3 AS (SELECT count(*) AS n, sum(CASE WHEN c.c_custkey IS NULL
        |   THEN 1 ELSE 0 END) AS d
        | FROM orders o LEFT JOIN customer c
        |  ON o.o_custkey = c.c_custkey),
        |l4 AS (SELECT count(*) AS n, sum(CASE WHEN c.c_custkey IS NULL
        |   THEN 1 ELSE 0 END) AS d
        | FROM events e LEFT JOIN customer c
        |  ON e.user_id = c.c_custkey)
        |SELECT 'lineitem->part' AS relationship,
        | CAST(n AS BIGINT) AS n_child_rows,
        | CAST(n - d AS BIGINT) AS n_matched,
        | CAST(d AS BIGINT) AS n_dropped,
        | CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS drop_frac FROM l1
        |UNION ALL SELECT 'lineitem->supplier', CAST(n AS BIGINT),
        | CAST(n - d AS BIGINT), CAST(d AS BIGINT),
        | CAST(d AS DOUBLE) / CAST(n AS DOUBLE) FROM l2
        |UNION ALL SELECT 'orders->customer', CAST(n AS BIGINT),
        | CAST(n - d AS BIGINT), CAST(d AS BIGINT),
        | CAST(d AS DOUBLE) / CAST(n AS DOUBLE) FROM l3
        |UNION ALL SELECT 'events->customer', CAST(n AS BIGINT),
        | CAST(n - d AS BIGINT), CAST(d AS BIGINT),
        | CAST(d AS DOUBLE) / CAST(n AS DOUBLE) FROM l4""".stripMargin,

    "q303_dow_hour_heatmap" ->
      """WITH e AS (SELECT
        |  CAST((epoch_us(ts) // 86400000000) % 7 AS INT) AS dow,
        |  CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS hour
        | FROM events),
        |tot AS (SELECT count(*) AS total FROM e)
        |SELECT e.dow, e.hour, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(*) AS DOUBLE) / CAST(max(tot.total) AS DOUBLE)
        |  AS share
        |FROM e CROSS JOIN tot
        |GROUP BY 1, 2""".stripMargin,

    "q304_peak_concurrency" ->
      """WITH sess AS (SELECT user_id,
        |  epoch_us(ts) // 86400000000 AS day,
        |  min(epoch_us(ts) // 60000000) AS m0,
        |  max(epoch_us(ts) // 60000000) AS m1
        | FROM events GROUP BY 1, 2),
        |deltas AS (SELECT m, sum(dc) AS dc FROM (
        |  SELECT m0 AS m, 1 AS dc FROM sess
        |  UNION ALL SELECT m1 + 1, -1 FROM sess)
        | GROUP BY 1),
        |r AS (SELECT m, sum(dc) OVER (ORDER BY m
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        | FROM deltas),
        |b AS (SELECT conc, m FROM r ORDER BY conc DESC, m LIMIT 1),
        |g AS (SELECT count(*) AS n_grid_points FROM r),
        |ns AS (SELECT count(*) AS n_sessions FROM sess)
        |SELECT CAST(ns.n_sessions AS BIGINT) AS n_sessions,
        | CAST(g.n_grid_points AS BIGINT) AS n_grid_points,
        | CAST(b.conc AS BIGINT) AS peak_concurrency,
        | CAST(b.m AS BIGINT) AS peak_minute
        |FROM b, g, ns""".stripMargin,

    "q305_sample_calibration" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |   AS c,
        |  CAST(('0x' || substr(md5('samp:' ||
        |   CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        | FROM orders),
        |truth AS (SELECT sum(c) AS ts, count(*) AS tn FROM o),
        |grid AS (SELECT * FROM (VALUES (16), (4)) t(rate_denom))
        |SELECT CAST(grid.rate_denom AS BIGINT) AS rate_denom,
        | CAST(count(*) AS BIGINT) AS n_sampled,
        | CAST(sum(o.c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  AS est_mean_cents,
        | CAST(max(truth.ts) AS DOUBLE) / CAST(max(truth.tn) AS DOUBLE)
        |  AS true_mean_cents,
        | (CAST(sum(o.c) AS DOUBLE) / CAST(count(*) AS DOUBLE) -
        |  CAST(max(truth.ts) AS DOUBLE) / CAST(max(truth.tn) AS DOUBLE))
        |  / (CAST(max(truth.ts) AS DOUBLE) /
        |     CAST(max(truth.tn) AS DOUBLE)) AS rel_err
        |FROM o CROSS JOIN truth CROSS JOIN grid
        |WHERE o.h % grid.rate_denom = 0
        |GROUP BY 1""".stripMargin,

    "q306_bloom_planner" ->
      """WITH n AS (SELECT count(DISTINCT l_partkey) AS n_keys
        |  FROM lineitem),
        |grid AS (SELECT * FROM (VALUES
        |  ('fpr_1pct', CAST(9.585058377367439 AS DOUBLE), 7),
        |  ('fpr_01pct', CAST(14.37758756605116 AS DOUBLE), 10))
        |  t(target, bits_per_key, k_hashes))
        |SELECT grid.target, CAST(n.n_keys AS BIGINT) AS n_keys,
        | CAST(grid.k_hashes AS BIGINT) AS k_hashes,
        | CAST(ceil(CAST(n.n_keys AS DOUBLE) * grid.bits_per_key)
        |  AS BIGINT) AS filter_bits,
        | CAST(ceil(CAST(n.n_keys AS DOUBLE) * grid.bits_per_key)
        |  AS BIGINT) / CAST(8388608.0 AS DOUBLE) AS filter_mib
        |FROM n CROSS JOIN grid""".stripMargin,

    "q307_schema_tightening" ->
      """WITH
        |a1 AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx,
        |  count(*) AS n FROM orders),
        |a2 AS (SELECT min(l_suppkey) AS mn, max(l_suppkey) AS mx,
        |  count(*) AS n FROM lineitem),
        |a3 AS (SELECT min(l_linenumber) AS mn, max(l_linenumber) AS mx,
        |  count(*) AS n FROM lineitem),
        |a4 AS (SELECT min(c_nationkey) AS mn, max(c_nationkey) AS mx,
        |  count(*) AS n FROM customer),
        |u AS (
        | SELECT 'orders.o_custkey' AS "column", mn, mx, n FROM a1
        | UNION ALL SELECT 'lineitem.l_suppkey', mn, mx, n FROM a2
        | UNION ALL SELECT 'lineitem.l_linenumber', mn, mx, n FROM a3
        | UNION ALL SELECT 'customer.c_nationkey', mn, mx, n FROM a4)
        |SELECT "column", CAST(mn AS BIGINT) AS mn,
        | CAST(mx AS BIGINT) AS mx,
        | CASE WHEN mn >= -128 AND mx <= 127 THEN 'TINYINT'
        |  WHEN mn >= -32768 AND mx <= 32767 THEN 'SMALLINT'
        |  WHEN mn >= -2147483648 AND mx <= 2147483647 THEN 'INT'
        |  ELSE 'BIGINT' END AS narrowest,
        | CAST((CASE WHEN mn >= -128 AND mx <= 127 THEN 7
        |  WHEN mn >= -32768 AND mx <= 32767 THEN 6
        |  WHEN mn >= -2147483648 AND mx <= 2147483647 THEN 4
        |  ELSE 0 END) * n AS BIGINT) AS bytes_saved
        |FROM u""".stripMargin,

    "q308_day_n_retention" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |fd AS (SELECT user_id, min(day) AS fd FROM act GROUP BY 1),
        |md AS (SELECT max(day) AS max_day FROM act),
        |grid AS (SELECT * FROM (VALUES (1), (7), (14)) t(n_days)),
        |el AS (SELECT fd.user_id, grid.n_days,
        |  fd.fd + grid.n_days AS target_day
        | FROM fd CROSS JOIN md CROSS JOIN grid
        | WHERE fd.fd + grid.n_days <= md.max_day),
        |ret AS (SELECT el.n_days, count(*) AS n_retained
        | FROM el JOIN act ON el.user_id = act.user_id
        |  AND el.target_day = act.day
        | GROUP BY 1)
        |SELECT CAST(el.n_days AS BIGINT) AS n_days,
        | CAST(count(*) AS BIGINT) AS n_eligible,
        | CAST(max(ret.n_retained) AS BIGINT) AS n_retained,
        | CAST(max(ret.n_retained) AS DOUBLE) /
        |  CAST(count(*) AS DOUBLE) AS retention_rate
        |FROM el JOIN ret ON el.n_days = ret.n_days
        |GROUP BY 1""".stripMargin,

    "q309_feature_crossing" ->
      """WITH base AS (SELECT c.c_nationkey, c.c_mktsegment,
        |  o.o_orderpriority
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |ndv AS (SELECT count(DISTINCT c_nationkey) AS d1,
        |  count(DISTINCT c_mktsegment) AS d2,
        |  count(DISTINCT o_orderpriority) AS d3 FROM base),
        |a2 AS (SELECT count(*) AS actual FROM
        |  (SELECT DISTINCT c_nationkey, c_mktsegment FROM base)),
        |a3 AS (SELECT count(*) AS actual FROM
        |  (SELECT DISTINCT c_nationkey, c_mktsegment, o_orderpriority
        |   FROM base))
        |SELECT 'nation x segment' AS crossing,
        | CAST(ndv.d1 * ndv.d2 AS BIGINT) AS est_cardinality,
        | CAST(a2.actual AS BIGINT) AS actual,
        | CAST(a2.actual AS DOUBLE) / CAST(ndv.d1 * ndv.d2 AS DOUBLE)
        |  AS fill_ratio
        |FROM ndv, a2
        |UNION ALL
        |SELECT 'nation x segment x priority',
        | CAST(ndv.d1 * ndv.d2 * ndv.d3 AS BIGINT),
        | CAST(a3.actual AS BIGINT),
        | CAST(a3.actual AS DOUBLE) /
        |  CAST(ndv.d1 * ndv.d2 * ndv.d3 AS DOUBLE)
        |FROM ndv, a3""".stripMargin,

    // q310 twin: the q78 SCD2 derivation, then the same chain-closure
    // and single-current invariants as exact counts.
    "q310_scd2_validity_audit" ->
      s"""WITH $sqlScdLagCtes,
         |v AS (SELECT user_id, us AS valid_from_us,
         |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
         |   AS valid_to_us
         | FROM c WHERE seen IS NULL OR prev IS DISTINCT FROM state),
         |ch AS (SELECT user_id, valid_from_us, valid_to_us,
         |  CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS is_cur,
         |  lead(valid_from_us) OVER (PARTITION BY user_id
         |   ORDER BY valid_from_us) AS next_from
         | FROM v),
         |pk AS (SELECT user_id, count(*) AS versions,
         |  sum(CASE WHEN next_from IS NOT NULL AND
         |    next_from IS DISTINCT FROM valid_to_us
         |   THEN 1 ELSE 0 END) AS breaks,
         |  sum(is_cur) AS currents
         | FROM ch GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_keys,
         | CAST(sum(versions) AS BIGINT) AS n_versions,
         | CAST(sum(breaks) AS BIGINT) AS n_chain_breaks,
         | CAST(sum(CASE WHEN currents <> 1 THEN 1 ELSE 0 END)
         |  AS BIGINT) AS n_bad_current_keys,
         | CAST(max(versions) AS BIGINT) AS max_chain_len
         |FROM pk""".stripMargin,

    "q311_alert_bands" ->
      """WITH daily AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |h AS (SELECT event_type, n, count(*) AS f
        | FROM daily GROUP BY 1, 2),
        |c AS (SELECT event_type, n,
        |  sum(f) OVER (PARTITION BY event_type ORDER BY n) AS cum,
        |  sum(f) OVER (PARTITION BY event_type) AS tot FROM h),
        |p10 AS (SELECT event_type, min(n) AS p10_daily FROM c
        | WHERE cum * 10 >= tot * 1 GROUP BY 1),
        |p90 AS (SELECT event_type, min(n) AS p90_daily FROM c
        | WHERE cum * 10 >= tot * 9 GROUP BY 1),
        |lastd AS (SELECT event_type, n AS last_day_count FROM
        |  (SELECT event_type, n, row_number() OVER
        |    (PARTITION BY event_type ORDER BY day DESC) AS rn
        |   FROM daily) WHERE rn = 1),
        |nd AS (SELECT event_type, count(*) AS n_days FROM daily
        | GROUP BY 1)
        |SELECT nd.event_type, CAST(nd.n_days AS BIGINT) AS n_days,
        | CAST(p10.p10_daily AS BIGINT) AS p10_daily,
        | CAST(p90.p90_daily AS BIGINT) AS p90_daily,
        | CAST(l.last_day_count AS BIGINT) AS last_day_count,
        | CAST(CASE WHEN l.last_day_count < p10.p10_daily OR
        |   l.last_day_count > p90.p90_daily THEN 1 ELSE 0 END
        |  AS BIGINT) AS alert
        |FROM nd
        |JOIN p10 ON nd.event_type = p10.event_type
        |JOIN p90 ON nd.event_type = p90.event_type
        |JOIN lastd l ON nd.event_type = l.event_type""".stripMargin,

    "q312_clean_path_funnel" ->
      """WITH fc AS (SELECT user_id, min(epoch_us(ts)) AS fc
        | FROM events WHERE event_type = 'click' GROUP BY 1),
        |f AS (SELECT e.user_id,
        |  min(CASE WHEN e.event_type = 'purchase'
        |   THEN epoch_us(e.ts) END) AS fp,
        |  min(CASE WHEN e.event_type = 'error'
        |   THEN epoch_us(e.ts) END) AS fe
        | FROM events e JOIN fc ON e.user_id = fc.user_id
        | WHERE epoch_us(e.ts) >= fc.fc
        | GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_clicked,
        | CAST(sum(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_converted,
        | CAST(sum(CASE WHEN fp IS NOT NULL AND
        |   (fe IS NULL OR fe > fp) THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_clean_converted,
        | CAST(sum(CASE WHEN fp IS NOT NULL AND
        |   (fe IS NULL OR fe > fp) THEN 1 ELSE 0 END) AS DOUBLE) /
        |  CAST(sum(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END)
        |   AS DOUBLE) AS clean_share
        |FROM f""".stripMargin,

    "q313_event_study" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS c
        | FROM events GROUP BY 1),
        |w AS (SELECT
        |  date_diff('day', DATE '2024-01-16', d) AS rel_day, c
        | FROM daily
        | WHERE date_diff('day', DATE '2024-01-16', d)
        |  BETWEEN -7 AND 7),
        |pre AS (SELECT sum(c) AS pre_sum, count(*) AS pre_n FROM w
        | WHERE rel_day < 0)
        |SELECT CAST(w.rel_day AS INT) AS rel_day,
        | CAST(w.c AS BIGINT) AS rev_cents,
        | CAST(w.c * pre.pre_n AS DOUBLE) /
        |  CAST(pre.pre_sum AS DOUBLE) AS index_vs_pre
        |FROM w, pre""".stripMargin,

    "q314_item_lifecycle_census" ->
      """WITH p AS (SELECT l_partkey, count(*) AS n_sales,
        |  min(epoch_us(l_shipdate) // 86400000000) AS d0,
        |  max(epoch_us(l_shipdate) // 86400000000) AS d1
        | FROM lineitem GROUP BY 1)
        |SELECT CAST(length(bin(n_sales)) - 1 AS INT) AS sales_bucket,
        | CAST(length(bin(d1 - d0 + 1)) - 1 AS INT) AS span_bucket,
        | CAST(count(*) AS BIGINT) AS n_parts,
        | CAST(sum(n_sales) AS BIGINT) AS total_sales
        |FROM p GROUP BY 1, 2""".stripMargin,

    // q315 twin: DuckDB lists are 1-indexed — the median picks l[m//2+1]
    // (odd) and l[m//2], l[m//2+1] (even), mirroring Spark's 0-based
    // m div 2 and m div 2 − 1.
    "q315_purchase_cadence" ->
      """WITH cd AS (SELECT o.o_custkey, c.c_mktsegment,
        |  list_sort(list(DISTINCT
        |   epoch_us(o.o_orderdate) // 86400000000)) AS days
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        | GROUP BY 1, 2),
        |g AS (SELECT c_mktsegment,
        |  list_sort([days[i + 1] - days[i]
        |   for i in generate_series(1, len(days) - 1)]) AS gs
        | FROM cd WHERE len(days) >= 2),
        |m AS (SELECT c_mktsegment, len(gs) AS m,
        |  CASE WHEN len(gs) % 2 = 1
        |   THEN CAST(gs[len(gs) // 2 + 1] AS DOUBLE)
        |   ELSE (CAST(gs[len(gs) // 2] AS DOUBLE) +
        |    CAST(gs[len(gs) // 2 + 1] AS DOUBLE)) / 2.0
        |  END AS median_gap
        | FROM g)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
        | sum(median_gap) / CAST(count(*) AS DOUBLE)
        |  AS avg_median_gap_days,
        | min(median_gap) AS min_median_gap,
        | max(median_gap) AS max_median_gap
        |FROM m GROUP BY 1""".stripMargin,

    "q316_discount_elasticity" ->
      """WITH b AS (SELECT CAST(round(l_discount * 10000) AS BIGINT)
        |   AS disc_e4, count(*) AS n_lines,
        |  sum(CAST(round(l_quantity) AS BIGINT)) AS sum_qty
        | FROM lineitem GROUP BY 1),
        |base AS (SELECT n_lines AS n0, sum_qty AS q0 FROM b
        | WHERE disc_e4 = 0)
        |SELECT b.disc_e4, CAST(b.n_lines AS BIGINT) AS n_lines,
        | CAST(b.sum_qty AS BIGINT) AS sum_qty,
        | CAST(b.sum_qty AS DOUBLE) / CAST(b.n_lines AS DOUBLE)
        |  AS avg_qty,
        | CAST(b.sum_qty * base.n0 AS DOUBLE) /
        |  CAST(b.n_lines * base.q0 AS DOUBLE)
        |  AS index_vs_zero_discount
        |FROM b, base""".stripMargin,

    "q317_activity_streaks" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |g AS (SELECT user_id, day,
        |  day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |   AS grp
        | FROM act),
        |runs AS (SELECT user_id, grp, count(*) AS len
        | FROM g GROUP BY 1, 2)
        |SELECT user_id,
        | CAST(max(len) AS BIGINT) AS longest_streak,
        | CAST(sum(len) AS BIGINT) AS n_active_days
        |FROM runs GROUP BY 1
        |ORDER BY longest_streak DESC, user_id
        |LIMIT 10""".stripMargin,

    "q318_basket_diversity" ->
      """WITH nt AS (SELECT l.l_orderkey,
        |  count(DISTINCT p.p_type) AS n_types
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        | GROUP BY 1),
        |h AS (SELECT n_types, count(*) AS n_orders FROM nt GROUP BY 1),
        |tot AS (SELECT sum(n_orders) AS total FROM h)
        |SELECT CAST(h.n_types AS BIGINT) AS n_types,
        | CAST(h.n_orders AS BIGINT) AS n_orders,
        | CAST(h.n_orders AS DOUBLE) / CAST(tot.total AS DOUBLE)
        |  AS order_share
        |FROM h, tot""".stripMargin,

    "q319_ship_lag_trend" ->
      """WITH lag0 AS (SELECT year(l.l_shipdate) AS yr,
        |  epoch_us(l.l_shipdate) // 86400000000 -
        |   epoch_us(o.o_orderdate) // 86400000000 AS lag_days
        | FROM lineitem l JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey),
        |h AS (SELECT yr, lag_days, count(*) AS f
        | FROM lag0 GROUP BY 1, 2),
        |c AS (SELECT yr, lag_days,
        |  sum(f) OVER (PARTITION BY yr ORDER BY lag_days) AS cum,
        |  sum(f) OVER (PARTITION BY yr) AS tot FROM h),
        |med AS (SELECT yr, min(lag_days) AS median_lag FROM c
        | WHERE cum * 2 >= tot GROUP BY 1),
        |m AS (SELECT yr, count(*) AS n_lines, sum(lag_days) AS s
        | FROM lag0 GROUP BY 1)
        |SELECT CAST(m.yr AS INT) AS yr,
        | CAST(m.n_lines AS BIGINT) AS n_lines,
        | CAST(m.s AS DOUBLE) / CAST(m.n_lines AS DOUBLE)
        |  AS mean_lag_days,
        | CAST(med.median_lag AS BIGINT) AS median_lag
        |FROM m JOIN med ON m.yr = med.yr""".stripMargin,

    "q320_trade_balance" ->
      """WITH flow AS (SELECT s.s_nationkey AS from_n,
        |  c.c_nationkey AS to_n,
        |  sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |   (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
        |   AS rev
        | FROM lineitem l
        | JOIN orders o ON l.l_orderkey = o.o_orderkey
        | JOIN customer c ON o.o_custkey = c.c_custkey
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | WHERE s.s_nationkey <> c.c_nationkey
        | GROUP BY 1, 2)
        |SELECT CAST(least(from_n, to_n) AS BIGINT) AS na,
        | CAST(greatest(from_n, to_n) AS BIGINT) AS nb,
        | CAST(sum(CASE WHEN from_n < to_n THEN rev ELSE -rev END)
        |  AS DOUBLE) AS balance_e4
        |FROM flow
        |GROUP BY 1, 2
        |ORDER BY abs(sum(CASE WHEN from_n < to_n THEN rev
        |  ELSE -rev END)) DESC, na, nb
        |LIMIT 15""".stripMargin,

    "q321_suspect_duplicates" ->
      """WITH g AS (SELECT o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  epoch_us(o_orderdate) // 86400000000 AS day,
        |  count(*) AS k
        | FROM orders GROUP BY 1, 2, 3
        | HAVING count(*) > 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_suspect_groups,
        | CAST(sum(k) AS BIGINT) AS n_suspect_orders,
        | CAST(sum(k - 1) AS BIGINT) AS n_excess_orders,
        | CAST(max(k) AS BIGINT) AS max_group_size
        |FROM g""".stripMargin,

    "q322_key_account_risk" ->
      """WITH cr AS (SELECT n.n_name, o.o_custkey,
        |  sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev
        | FROM orders o
        | JOIN customer c ON o.o_custkey = c.c_custkey
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | GROUP BY 1, 2),
        |top AS (SELECT n_name, o_custkey AS top_customer,
        |  rev AS top_rev FROM
        |  (SELECT *, row_number() OVER (PARTITION BY n_name
        |    ORDER BY rev DESC, o_custkey) AS rn FROM cr)
        | WHERE rn = 1),
        |tot AS (SELECT n_name, sum(rev) AS nation_rev,
        |  count(*) AS n_customers FROM cr GROUP BY 1)
        |SELECT tot.n_name, CAST(tot.n_customers AS BIGINT)
        |  AS n_customers,
        | CAST(top.top_customer AS BIGINT) AS top_customer,
        | CAST(top.top_rev AS BIGINT) AS top_rev_cents,
        | CAST(tot.nation_rev AS BIGINT) AS nation_rev,
        | CAST(top.top_rev AS DOUBLE) / CAST(tot.nation_rev AS DOUBLE)
        |  AS top_share
        |FROM tot JOIN top ON tot.n_name = top.n_name""".stripMargin,

    "q323_size_vs_speed" ->
      """WITH x AS (SELECT
        |  length(bin(CAST(round(o.o_totalprice * 100) AS BIGINT))) - 1
        |   AS value_bucket,
        |  epoch_us(l.l_shipdate) // 86400000000 -
        |   epoch_us(o.o_orderdate) // 86400000000 AS lag_days
        | FROM lineitem l JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey)
        |SELECT CAST(value_bucket AS INT) AS value_bucket,
        | CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(sum(lag_days) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  AS mean_lag_days
        |FROM x GROUP BY 1""".stripMargin,

    "q324_growth_quad" ->
      """WITH cm AS (SELECT DISTINCT o_custkey,
        |  year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi
        | FROM orders),
        |cl AS (SELECT mi,
        |  lag(mi) OVER (PARTITION BY o_custkey ORDER BY mi) AS prev,
        |  lead(mi) OVER (PARTITION BY o_custkey ORDER BY mi) AS nxt
        | FROM cm)
        |SELECT CAST(mi AS INT) AS mi,
        | CAST(count(*) AS BIGINT) AS n_active,
        | CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_new,
        | CAST(sum(CASE WHEN prev = mi - 1 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_retained,
        | CAST(sum(CASE WHEN prev IS NOT NULL AND prev < mi - 1
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
        | CAST(sum(CASE WHEN nxt IS NULL OR nxt > mi + 1
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_churning_after
        |FROM cl GROUP BY 1""".stripMargin,

    "q325_region_qoq" ->
      """WITH rev AS (SELECT r.r_name,
        |  year(l.l_shipdate) * 4 + quarter(l.l_shipdate) - 1 AS qi,
        |  sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS rev
        | FROM lineitem l
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        | JOIN region r ON n.n_regionkey = r.r_regionkey
        | GROUP BY 1, 2),
        |lg AS (SELECT r_name, qi, rev,
        |  lag(rev) OVER (PARTITION BY r_name ORDER BY qi) AS prev,
        |  lag(qi) OVER (PARTITION BY r_name ORDER BY qi) AS pqi
        | FROM rev)
        |SELECT r_name, CAST(qi AS INT) AS qi,
        | CAST(rev AS BIGINT) AS rev_cents,
        | CAST(CASE WHEN pqi = qi - 1 THEN rev - prev END AS BIGINT)
        |  AS qoq_delta_cents,
        | CASE WHEN pqi = qi - 1 THEN CAST(rev - prev AS DOUBLE) /
        |  CAST(prev AS DOUBLE) END AS qoq_growth
        |FROM lg""".stripMargin,

    "q326_order_aging" ->
      """WITH snap AS (SELECT
        |  max(epoch_us(o_orderdate) // 86400000000) AS snap_day
        | FROM orders),
        |a AS (SELECT
        |  snap.snap_day - epoch_us(o.o_orderdate) // 86400000000
        |   AS age_days,
        |  CAST(round(o.o_totalprice * 100) AS BIGINT) AS c
        | FROM orders o CROSS JOIN snap
        | WHERE o.o_orderstatus <> 'F')
        |SELECT CASE WHEN age_days <= 30 THEN '000-030'
        |  WHEN age_days <= 60 THEN '031-060'
        |  WHEN age_days <= 90 THEN '061-090'
        |  ELSE '090+' END AS age_bucket,
        | CAST(count(*) AS BIGINT) AS n_open_orders,
        | CAST(sum(c) AS BIGINT) AS open_value_cents
        |FROM a GROUP BY 1""".stripMargin,

    "q327_single_source_risk" ->
      """WITH pp AS (SELECT l_partkey,
        |  count(DISTINCT l_suppkey) AS n_suppliers
        | FROM lineitem GROUP BY 1),
        |h AS (SELECT CASE WHEN n_suppliers >= 4 THEN 4
        |   ELSE n_suppliers END AS suppliers_capped,
        |  count(*) AS n_parts
        | FROM pp GROUP BY 1),
        |tot AS (SELECT sum(CAST(round(l_extendedprice * 100)
        |   AS BIGINT)) AS total_rev FROM lineitem),
        |sr AS (SELECT sum(CAST(round(l.l_extendedprice * 100)
        |   AS BIGINT)) AS single_source_rev
        | FROM lineitem l JOIN pp ON l.l_partkey = pp.l_partkey
        | WHERE pp.n_suppliers = 1)
        |SELECT CAST(h.suppliers_capped AS BIGINT) AS suppliers_capped,
        | CAST(h.n_parts AS BIGINT) AS n_parts,
        | CAST(sr.single_source_rev AS DOUBLE) /
        |  CAST(tot.total_rev AS DOUBLE) AS single_source_rev_share
        |FROM h, tot, sr""".stripMargin,

    "q328_new_revenue_share" ->
      """WITH o AS (SELECT o_custkey,
        |  year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS c
        | FROM orders),
        |f AS (SELECT o_custkey, min(mi) AS fm FROM o GROUP BY 1)
        |SELECT CAST(o.mi AS INT) AS mi,
        | CAST(sum(o.c) AS BIGINT) AS rev_cents,
        | CAST(sum(CASE WHEN o.mi = f.fm THEN o.c ELSE 0 END)
        |  AS BIGINT) AS new_rev_cents,
        | CAST(sum(CASE WHEN o.mi = f.fm THEN o.c ELSE 0 END)
        |  AS DOUBLE) / CAST(sum(o.c) AS DOUBLE) AS new_rev_share
        |FROM o JOIN f ON o.o_custkey = f.o_custkey
        |GROUP BY 1""".stripMargin,

    // q329 twin: DuckDB lists are 1-indexed — med2 picks 2·l[m//2+1]
    // (odd) / l[m//2]+l[m//2+1] (even), mirroring Spark's 0-based form.
    "q329_overdue_customers" ->
      """WITH cd AS (SELECT o.o_custkey, c.c_mktsegment,
        |  list_sort(list(DISTINCT
        |   epoch_us(o.o_orderdate) // 86400000000)) AS days
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        | GROUP BY 1, 2),
        |g AS (SELECT c_mktsegment,
        |  list_sort([days[i + 1] - days[i]
        |   for i in generate_series(1, len(days) - 1)]) AS gs,
        |  days[len(days)] AS last_day
        | FROM cd WHERE len(days) >= 3),
        |m AS (SELECT c_mktsegment, last_day,
        |  CASE WHEN len(gs) % 2 = 1 THEN 2 * gs[len(gs) // 2 + 1]
        |   ELSE gs[len(gs) // 2] + gs[len(gs) // 2 + 1] END AS med2
        | FROM g),
        |snap AS (SELECT max(last_day) AS snap_day FROM m)
        |SELECT m.c_mktsegment,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | CAST(sum(CASE WHEN snap.snap_day - m.last_day > m.med2
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_overdue,
        | CAST(sum(CASE WHEN snap.snap_day - m.last_day > m.med2
        |  THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  AS overdue_share
        |FROM m CROSS JOIN snap
        |GROUP BY 1""".stripMargin,

    "q330_brand_margin" ->
      """WITH x AS (SELECT p.p_brand,
        |  CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |   (10000 - CAST(round(l.l_discount * 10000) AS BIGINT))
        |   AS rev,
        |  CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |   (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)) -
        |   CAST(round(p.p_retailprice * 100) AS BIGINT) * 10000 *
        |   CAST(round(l.l_quantity) AS BIGINT) AS profit
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(sum(rev) AS DOUBLE) AS rev_e4,
        | CAST(sum(profit) AS DOUBLE) AS profit_e4,
        | CAST(sum(profit) AS DOUBLE) / CAST(sum(rev) AS DOUBLE)
        |  AS margin_rate
        |FROM x GROUP BY 1""".stripMargin,

    "q331_cross_border_buyers" ->
      """WITH nn AS (SELECT o.o_custkey,
        |  count(DISTINCT s.s_nationkey) AS n_nations
        | FROM orders o
        | JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | GROUP BY 1),
        |h AS (SELECT n_nations, count(*) AS n_customers
        | FROM nn GROUP BY 1),
        |tot AS (SELECT sum(n_customers) AS total FROM h)
        |SELECT CAST(h.n_nations AS BIGINT) AS n_nations,
        | CAST(h.n_customers AS BIGINT) AS n_customers,
        | CAST(h.n_customers AS DOUBLE) / CAST(tot.total AS DOUBLE)
        |  AS customer_share
        |FROM h, tot""".stripMargin,

    "q332_seasonal_items" ->
      """WITH pq AS (SELECT l_partkey, quarter(l_shipdate) AS q,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev
        | FROM lineitem GROUP BY 1, 2),
        |per AS (SELECT l_partkey, sum(rev) AS tot,
        |  CASE WHEN max(rev) * 2 > sum(rev) THEN 'seasonal'
        |   ELSE 'steady' END AS pattern
        | FROM pq GROUP BY 1),
        |g AS (SELECT pattern, count(*) AS n_parts, sum(tot) AS rev
        | FROM per GROUP BY 1),
        |tr AS (SELECT sum(rev) AS total_rev FROM g)
        |SELECT g.pattern, CAST(g.n_parts AS BIGINT) AS n_parts,
        | CAST(g.rev AS BIGINT) AS rev_cents,
        | CAST(g.rev AS DOUBLE) / CAST(tr.total_rev AS DOUBLE)
        |  AS rev_share
        |FROM g, tr""".stripMargin,

    "q333_priority_speed" ->
      """WITH lag0 AS (SELECT o.o_orderpriority,
        |  epoch_us(l.l_shipdate) // 86400000000 -
        |   epoch_us(o.o_orderdate) // 86400000000 AS lag_days
        | FROM lineitem l JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey),
        |h AS (SELECT o_orderpriority, lag_days, count(*) AS f
        | FROM lag0 GROUP BY 1, 2),
        |c AS (SELECT o_orderpriority, lag_days,
        |  sum(f) OVER (PARTITION BY o_orderpriority
        |   ORDER BY lag_days) AS cum,
        |  sum(f) OVER (PARTITION BY o_orderpriority) AS tot FROM h),
        |med AS (SELECT o_orderpriority, min(lag_days) AS median_lag
        | FROM c WHERE cum * 2 >= tot GROUP BY 1),
        |m AS (SELECT o_orderpriority, count(*) AS n_lines,
        |  sum(lag_days) AS s FROM lag0 GROUP BY 1)
        |SELECT m.o_orderpriority, CAST(m.n_lines AS BIGINT) AS n_lines,
        | CAST(m.s AS DOUBLE) / CAST(m.n_lines AS DOUBLE)
        |  AS mean_lag_days,
        | CAST(med.median_lag AS BIGINT) AS median_lag
        |FROM m JOIN med ON m.o_orderpriority = med.o_orderpriority""".stripMargin,

    "q334_dict_encoding_plan" ->
      """WITH
        |r1 AS (SELECT count(*) AS n, sum(length(p_name)) AS raw
        | FROM part),
        |d1 AS (SELECT count(*) AS ndv, sum(length(v)) AS db FROM
        |  (SELECT DISTINCT p_name AS v FROM part)),
        |r2 AS (SELECT count(*) AS n, sum(length(o_orderpriority))
        |  AS raw FROM orders),
        |d2 AS (SELECT count(*) AS ndv, sum(length(v)) AS db FROM
        |  (SELECT DISTINCT o_orderpriority AS v FROM orders)),
        |r3 AS (SELECT count(*) AS n, sum(length(c_mktsegment)) AS raw
        | FROM customer),
        |d3 AS (SELECT count(*) AS ndv, sum(length(v)) AS db FROM
        |  (SELECT DISTINCT c_mktsegment AS v FROM customer)),
        |r4 AS (SELECT count(*) AS n, sum(length(text)) AS raw
        | FROM documents WHERE text IS NOT NULL),
        |d4 AS (SELECT count(*) AS ndv, sum(length(v)) AS db FROM
        |  (SELECT DISTINCT text AS v FROM documents
        |   WHERE text IS NOT NULL))
        |SELECT 'part.p_name' AS "column",
        | CAST(r1.n AS BIGINT) AS n_rows, CAST(d1.ndv AS BIGINT) AS ndv,
        | CAST(r1.raw AS BIGINT) AS raw_bytes,
        | CAST(d1.db + 2 * r1.n AS BIGINT) AS dict_bytes,
        | CAST(r1.raw AS DOUBLE) / CAST(d1.db + 2 * r1.n AS DOUBLE)
        |  AS compression_ratio FROM r1, d1
        |UNION ALL SELECT 'orders.o_orderpriority',
        | CAST(r2.n AS BIGINT), CAST(d2.ndv AS BIGINT),
        | CAST(r2.raw AS BIGINT), CAST(d2.db + 2 * r2.n AS BIGINT),
        | CAST(r2.raw AS DOUBLE) / CAST(d2.db + 2 * r2.n AS DOUBLE)
        | FROM r2, d2
        |UNION ALL SELECT 'customer.c_mktsegment',
        | CAST(r3.n AS BIGINT), CAST(d3.ndv AS BIGINT),
        | CAST(r3.raw AS BIGINT), CAST(d3.db + 2 * r3.n AS BIGINT),
        | CAST(r3.raw AS DOUBLE) / CAST(d3.db + 2 * r3.n AS DOUBLE)
        | FROM r3, d3
        |UNION ALL SELECT 'documents.text',
        | CAST(r4.n AS BIGINT), CAST(d4.ndv AS BIGINT),
        | CAST(r4.raw AS BIGINT), CAST(d4.db + 2 * r4.n AS BIGINT),
        | CAST(r4.raw AS DOUBLE) / CAST(d4.db + 2 * r4.n AS DOUBLE)
        | FROM r4, d4""".stripMargin,

    "q335_value_ladder" ->
      """WITH h AS (SELECT c.c_mktsegment,
        |  CAST(round(o.o_totalprice * 100) AS BIGINT) // 100 AS d,
        |  count(*) AS f
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        | GROUP BY 1, 2),
        |c AS (SELECT c_mktsegment, d,
        |  sum(f) OVER (PARTITION BY c_mktsegment ORDER BY d) AS cum,
        |  sum(f) OVER (PARTITION BY c_mktsegment) AS tot FROM h),
        |p25 AS (SELECT c_mktsegment, min(d) AS p25_dollars FROM c
        | WHERE cum * 100 >= tot * 25 GROUP BY 1),
        |p50 AS (SELECT c_mktsegment, min(d) AS p50_dollars FROM c
        | WHERE cum * 100 >= tot * 50 GROUP BY 1),
        |p75 AS (SELECT c_mktsegment, min(d) AS p75_dollars FROM c
        | WHERE cum * 100 >= tot * 75 GROUP BY 1),
        |p90 AS (SELECT c_mktsegment, min(d) AS p90_dollars FROM c
        | WHERE cum * 100 >= tot * 90 GROUP BY 1)
        |SELECT p25.c_mktsegment,
        | CAST(p25.p25_dollars AS BIGINT) AS p25_dollars,
        | CAST(p50.p50_dollars AS BIGINT) AS p50_dollars,
        | CAST(p75.p75_dollars AS BIGINT) AS p75_dollars,
        | CAST(p90.p90_dollars AS BIGINT) AS p90_dollars
        |FROM p25
        |JOIN p50 ON p25.c_mktsegment = p50.c_mktsegment
        |JOIN p75 ON p25.c_mktsegment = p75.c_mktsegment
        |JOIN p90 ON p25.c_mktsegment = p90.c_mktsegment""".stripMargin,

    "q336_policy_compliance" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS yr,
        | CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(sum(CASE WHEN CAST(round(l_discount * 10000) AS BIGINT)
        |   > 500 AND CAST(round(l_quantity) AS BIGINT) < 25
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        | CAST(sum(CASE WHEN CAST(round(l_discount * 10000) AS BIGINT)
        |   > 500 AND CAST(round(l_quantity) AS BIGINT) < 25
        |  THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  AS violation_rate
        |FROM lineitem GROUP BY 1""".stripMargin,

    // q337 twin: DuckDB has no ORC reader, so the oracle aggregates the
    // ORIGINAL orders parquet — equality with the Spark side's ORC-read
    // aggregate is precisely the round-trip-losslessness claim.
    "q337_orc_roundtrip" ->
      """SELECT o_orderpriority,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |  AS total_cents,
        | CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS min_date_us,
        | CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS max_date_us
        |FROM orders GROUP BY 1""".stripMargin,

    // q338 twin: the SAME two-generation files, union_by_name supplying
    // the missing generation-1 `cents` as NULL — DuckDB's independent
    // schema-union must census identically to Spark's mergeSchema.
    "q338_schema_evolution_read" ->
      ("""SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(cents) AS BIGINT) AS n_cents_present,
        | CAST(sum(cents) AS DOUBLE) AS sum_cents
        |FROM read_parquet('""" +
        exportDir(EvoParquetBase, dir) + """/*.parquet',
        |  union_by_name=true)
        |GROUP BY 1""").stripMargin,

    // q339 twin: same tf/df/Σtf² integers, HUGEINT cross products, one
    // double division, same (fano desc, term) TakeOrdered cut.
    "q339_term_burstiness" ->
      """WITH tf AS (SELECT doc_id, tok AS term,
        |  CAST(count(*) AS BIGINT) AS tf
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |       FROM documents) GROUP BY 1, 2),
        |st AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS s1,
        |  CAST(sum(tf * tf) AS BIGINT) AS s2
        | FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT term, df, s1,
        | CAST(CAST(df AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1
        |  AS DOUBLE) /
        | CAST(CAST(df AS HUGEINT) * s1 AS DOUBLE) AS fano
        |FROM st, n
        |WHERE df * 100 >= n_docs
        |ORDER BY fano DESC, term
        |LIMIT 20""".stripMargin,

    // q340 twin: distinct (source, term) sets, per-term pair join,
    // Jaccard as one int/int division.
    "q340_source_vocab_overlap" ->
      """WITH sv AS (SELECT DISTINCT source, tok AS term
        | FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |       FROM documents)),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        | FROM sv GROUP BY 1),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_common
        | FROM sv a JOIN sv b ON a.term = b.term AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, p.n_common, ta.n AS n_a, tb.n AS n_b,
        | CAST(p.n_common AS DOUBLE) /
        |  CAST(ta.n + tb.n - p.n_common AS DOUBLE) AS jaccard
        |FROM p
        |JOIN tot ta ON p.src_a = ta.source
        |JOIN tot tb ON p.src_b = tb.source""".stripMargin,

    // q355 twin: same day quantization, same max-anchored ages.
    "q355_order_status_aging" ->
      """WITH o AS (SELECT o_orderstatus,
        |  epoch_us(o_orderdate) // 86400000000 AS d FROM orders),
        |m AS (SELECT max(d) AS dmax FROM o)
        |SELECT o.o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(m.dmax - o.d) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  AS mean_age_days
        |FROM o, m GROUP BY 1""".stripMargin,

    // q356 twin: same leading-token key, same left-join revenue mass.
    "q356_part_name_census" ->
      """WITH rev AS (SELECT l_partkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM lineitem GROUP BY 1),
        |g AS (SELECT string_split(p.p_name, ' ')[1] AS first_token,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(coalesce(rev.cents, 0)) AS BIGINT) AS total_cents
        | FROM part p LEFT JOIN rev ON p.p_partkey = rev.l_partkey
        | GROUP BY 1),
        |np AS (SELECT sum(n_parts) AS np FROM g)
        |SELECT g.first_token, g.n_parts, g.total_cents,
        | CAST(g.n_parts AS DOUBLE) / CAST(np.np AS DOUBLE)
        |  AS part_share
        |FROM g, np""".stripMargin,

    // q353 twin: same day-lag histogram, same cum·100 ≥ 99·n discrete
    // quantile rule.
    "q353_ship_lag_p99" ->
      """WITH h AS (SELECT s.s_nationkey,
        |  (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
        |   // 86400000000 AS lag_days,
        |  CAST(count(*) AS BIGINT) AS f
        | FROM lineitem l
        | JOIN orders o ON l.l_orderkey = o.o_orderkey
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | GROUP BY 1, 2),
        |c AS (SELECT s_nationkey, lag_days,
        |  sum(f) OVER (PARTITION BY s_nationkey ORDER BY lag_days)
        |   AS cum,
        |  sum(f) OVER (PARTITION BY s_nationkey) AS n
        | FROM h)
        |SELECT s_nationkey,
        | CAST(min(lag_days) AS BIGINT) AS p99_lag_days,
        | CAST(max(n) AS BIGINT) AS n_lines
        |FROM c WHERE cum * 100 >= n * 99
        |GROUP BY 1""".stripMargin,

    // q354 twin: same integer sums, one division per quantity row.
    "q354_discount_by_quantity" ->
      """SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
        | CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(sum(CAST(round(l_discount * 10000) AS BIGINT)) AS DOUBLE)
        |  / CAST(count(*) AS DOUBLE) AS mean_discount_bp
        |FROM lineitem GROUP BY 1""".stripMargin,

    // q351 twin: the same left-to-right fold over the same per-element
    // double squares (0.0 + x² = x² exactly, so the init-less
    // list_reduce equals Spark's 0-seeded aggregate), same bucket.
    "q351_vector_norm_census" ->
      """WITH n AS (SELECT list_reduce(
        |  [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding],
        |  (a, b) -> a + b) AS n2
        | FROM embeddings)
        |SELECT CAST(CAST(round(n2 * 10000000) AS BIGINT) AS INT)
        |  AS norm2_bucket,
        | CAST(count(*) AS BIGINT) AS n_vectors
        |FROM n GROUP BY 1""".stripMargin,

    // q352 twin: zipped unnest (value + 1-based ordinal), same exact
    // counts and share division.
    "q352_dim_sign_balance" ->
      """WITH e AS (SELECT unnest(embedding) AS v,
        |  unnest(generate_series(1, len(embedding))) AS i
        | FROM embeddings)
        |SELECT CAST(i - 1 AS INT) AS dim,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_pos,
        | CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_zero,
        | CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS DOUBLE) /
        |  CAST(count(*) AS DOUBLE) AS pos_share
        |FROM e GROUP BY 1""".stripMargin,

    // q349 twin: q181's Wilson expression sequence token-for-token on
    // the returns signal.
    "q349_return_rate_by_brand" ->
      s"""WITH a AS (SELECT p.p_brand,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
         |   AS BIGINT) AS s
         | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         | GROUP BY 1),
         |${sqlWilsonCtes("p_brand")}
         |SELECT p_brand, n AS n_lines, s AS n_returned,
         | p AS return_rate,
         |$sqlWilsonBounds""".stripMargin,

    // q350 twin: same flow counts, HUGEINT cross products, one double
    // division, same (lift desc, cn, sn) cut.
    "q350_nation_affinity" ->
      """WITH f AS (SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
        | FROM lineitem l
        | JOIN orders o ON l.l_orderkey = o.o_orderkey
        | JOIN customer c ON o.o_custkey = c.c_custkey
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |cs AS (SELECT cn, sn, CAST(count(*) AS BIGINT) AS n_cs
        | FROM f GROUP BY 1, 2),
        |ct AS (SELECT cn, CAST(count(*) AS BIGINT) AS n_c
        | FROM f GROUP BY 1),
        |st AS (SELECT sn, CAST(count(*) AS BIGINT) AS n_s
        | FROM f GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM f)
        |SELECT cs.cn, cs.sn, cs.n_cs,
        | CAST(CAST(cs.n_cs AS HUGEINT) * n.n_all AS DOUBLE) /
        |  CAST(CAST(ct.n_c AS HUGEINT) * st.n_s AS DOUBLE) AS lift
        |FROM cs, n, ct, st
        |WHERE cs.cn = ct.cn AND cs.sn = st.sn
        |ORDER BY lift DESC, cs.cn, cs.sn
        |LIMIT 10""".stripMargin,

    // q347 twin: same per-part min/max basis points, same 100-bp band.
    "q347_discount_dispersion" ->
      """WITH p AS (SELECT l_partkey,
        |  min(CAST(round(l_discount * 10000) AS BIGINT)) AS mn,
        |  max(CAST(round(l_discount * 10000) AS BIGINT)) AS mx,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM lineitem GROUP BY 1)
        |SELECT CAST((mx - mn) // 100 AS INT) AS spread_bucket,
        | CAST(count(*) AS BIGINT) AS n_parts,
        | CAST(sum(n) AS BIGINT) AS n_lines,
        | CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM p GROUP BY 1""".stripMargin,

    // q348 twin: same month ordinal, same counts, one division.
    "q348_fill_rate_trend" ->
      """SELECT CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1
        |  AS INT) AS mi,
        | CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
        | CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(count(*) AS DOUBLE) /
        |  CAST(count(DISTINCT o.o_orderkey) AS DOUBLE)
        |  AS lines_per_order
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,

    // q345 twin: same per-customer folds, same discrete-histogram
    // medians (min v with cum·2 ≥ n), same strict-> split.
    "q345_rfm_segments" ->
      """WITH per AS (SELECT o_custkey,
        |  max(epoch_us(o_orderdate) // 86400000000) AS r_day,
        |  CAST(count(*) AS BIGINT) AS f_cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |   AS BIGINT) AS m_cents
        | FROM orders GROUP BY 1),
        |p2 AS (SELECT *, m_cents // 100 AS m_dollars FROM per),
        |n AS (SELECT count(*) AS n FROM p2),
        |mr AS (SELECT min(v) AS med FROM
        |  (SELECT v, sum(f) OVER (ORDER BY v) AS cum FROM
        |   (SELECT r_day AS v, count(*) AS f FROM p2 GROUP BY 1)), n
        |  WHERE cum * 2 >= n.n),
        |mf AS (SELECT min(v) AS med FROM
        |  (SELECT v, sum(f) OVER (ORDER BY v) AS cum FROM
        |   (SELECT f_cnt AS v, count(*) AS f FROM p2 GROUP BY 1)), n
        |  WHERE cum * 2 >= n.n),
        |mm AS (SELECT min(v) AS med FROM
        |  (SELECT v, sum(f) OVER (ORDER BY v) AS cum FROM
        |   (SELECT m_dollars AS v, count(*) AS f FROM p2 GROUP BY 1)), n
        |  WHERE cum * 2 >= n.n)
        |SELECT (CASE WHEN p2.r_day > mr.med THEN 'R' ELSE 'r' END ||
        |  CASE WHEN p2.f_cnt > mf.med THEN 'F' ELSE 'f' END ||
        |  CASE WHEN p2.m_dollars > mm.med THEN 'M' ELSE 'm' END)
        |  AS segment,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | CAST(sum(p2.m_cents) AS BIGINT) AS total_cents
        |FROM p2, mr, mf, mm
        |GROUP BY 1""".stripMargin,

    // q346 twin: same per-(type, supplier) cents, HUGEINT cross
    // products, one double division.
    "q346_supplier_hhi" ->
      """WITH rev AS (SELECT p.p_type, l.l_suppkey,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |   AS BIGINT) AS c
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        | GROUP BY 1, 2)
        |SELECT p_type, CAST(count(*) AS BIGINT) AS n_suppliers,
        | CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) AS total_cents,
        | CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) /
        |  CAST(sum(CAST(c AS HUGEINT)) * sum(CAST(c AS HUGEINT))
        |   AS DOUBLE) AS hhi
        |FROM rev GROUP BY 1""".stripMargin,

    // q342 twin: same bigram/unigram counts, HUGEINT cross products,
    // one double division, same (lift desc, bigram) cut.
    "q342_bigram_lift" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        | FROM documents WHERE text IS NOT NULL),
        |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS term,
        |  CAST(count(*) AS BIGINT) AS tf
        | FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1))
        |        AS i FROM toks WHERE len(w) >= 2)
        | GROUP BY 1, 2),
        |big AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS c_ab FROM bg GROUP BY 1),
        |uni AS (SELECT tok AS term, CAST(count(*) AS BIGINT) AS c
        | FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |       FROM documents) GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_toks FROM uni),
        |nd AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT big.term AS bigram, big.c_ab, ua.c AS c_a, ub.c AS c_b,
        | CAST(CAST(big.c_ab AS HUGEINT) * n.n_toks AS DOUBLE) /
        |  CAST(CAST(ua.c AS HUGEINT) * ub.c AS DOUBLE) AS lift
        |FROM big, n, nd, uni ua, uni ub
        |WHERE string_split(big.term, ' ')[1] = ua.term
        | AND string_split(big.term, ' ')[2] = ub.term
        | AND big.df * 100 >= nd.n_docs
        |ORDER BY lift DESC, bigram
        |LIMIT 20""".stripMargin,

    // q343 twin: same per-doc type/token folds, same integer decile.
    "q343_doc_ttr_deciles" ->
      """WITH tf AS (SELECT doc_id, tok AS term,
        |  CAST(count(*) AS BIGINT) AS tf
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |       FROM documents) GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS types,
        |  CAST(sum(tf) AS BIGINT) AS toks FROM tf GROUP BY 1)
        |SELECT CAST((types * 10) // toks AS INT) AS ttr_decile,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(toks) AS BIGINT) AS n_tokens,
        | CAST(sum(types) AS BIGINT) AS n_types
        |FROM d GROUP BY 1""".stripMargin,

    // q344 twin: same trigram df census, same per-doc hapax counts,
    // same integer decile.
    "q344_doc_hapax_share" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        | FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |  AS term
        | FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2))
        |        AS i FROM toks WHERE len(w) >= 3)
        | GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        | FROM tf GROUP BY 1),
        |d AS (SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS types,
        |  CAST(sum(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS hapax
        | FROM tf JOIN dfq ON tf.term = dfq.term GROUP BY 1)
        |SELECT CAST((hapax * 10) // types AS INT) AS hapax_decile,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(types) AS BIGINT) AS n_types,
        | CAST(sum(hapax) AS BIGINT) AS n_hapax
        |FROM d GROUP BY 1""".stripMargin,

    // q341 twin: same trigram tf relation, same deterministic top-1000
    // cut, same occurrence-weighted OOV share.
    "q341_oov_rate" ->
      """WITH toks AS (SELECT doc_id, source,
        |  string_split(text, ' ') AS w FROM documents
        | WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, source,
        |  w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS term,
        |  CAST(count(*) AS BIGINT) AS tf
        | FROM (SELECT doc_id, source, w,
        |        unnest(generate_series(1, len(w) - 2)) AS i
        |       FROM toks WHERE len(w) >= 3)
        | GROUP BY 1, 2, 3),
        |top AS (SELECT term FROM
        |  (SELECT term, sum(tf) AS c FROM tf GROUP BY 1)
        | ORDER BY c DESC, term LIMIT 1000)
        |SELECT tf.source,
        | CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN top.term IS NULL THEN tf.tf ELSE 0 END)
        |  AS BIGINT) AS n_oov,
        | CAST(sum(CASE WHEN top.term IS NULL THEN tf.tf ELSE 0 END)
        |  AS DOUBLE) / CAST(sum(tf.tf) AS DOUBLE) AS oov_share
        |FROM tf LEFT JOIN top ON tf.term = top.term
        |GROUP BY 1""".stripMargin,

    // q201 twin: the same arrival-ordered running max (ROWS ... 1
    // PRECEDING), the same ilog2(ms+1) quantization via length(bin(x))-1.
    "q201_watermark_audit" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |l AS (SELECT event_type,
        |  max(us) OVER (PARTITION BY event_type ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us
        |   AS late_us
        | FROM e),
        |b AS (SELECT event_type,
        |  CASE WHEN late_us IS NULL OR late_us <= 0 THEN -1
        |   ELSE CAST(length(bin(late_us // 1000 + 1)) - 1 AS INT)
        |   END AS bucket,
        |  late_us FROM l)
        |SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(max(CASE WHEN late_us > 0 THEN late_us // 1000 ELSE 0 END)
        |  AS BIGINT) AS max_late_ms
        |FROM b GROUP BY 1, 2""".stripMargin,

    // q200 twin: same gate, same min-id keeper, same residue split, the
    // fingerprint as bit_xor over the same 60-bit sha256 prefixes
    // (DuckDB parses the 0x literal; Spark conv's base-16 read — both
    // land on the identical long).
    "q200_release_manifest" ->
      """WITH f AS (SELECT doc_id, n_chars,
        |  sha256(lang || chr(31) || lower(trim(text))) AS h,
        |  (text IS NOT NULL AND length(trim(text)) > 0
        |   AND lang IS NOT NULL
        |   AND n_chars BETWEEN 20 AND 100000) AS ok
        | FROM documents),
        |k AS (SELECT h, min(doc_id) AS keep FROM f WHERE ok GROUP BY 1),
        |t_ AS (SELECT f.n_chars, f.h,
        |  CASE WHEN NOT f.ok THEN '_rejected'
        |       WHEN f.doc_id <> k.keep THEN '_rejected'
        |       WHEN f.doc_id % 10 < 8 THEN 'train'
        |       WHEN f.doc_id % 10 = 8 THEN 'val'
        |       ELSE 'test' END AS split
        | FROM f LEFT JOIN k ON k.h = f.h)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS n_chars,
        | bit_xor(CAST('0x' || substr(h, 1, 15) AS BIGINT))
        |  AS fingerprint
        |FROM t_ GROUP BY 1""".stripMargin,

    // q198 twin: the q192 pipeline CTE-for-CTE with the base-orders
    // filter threaded through, the held-out purchases as the scoring
    // join, the same per-rank integers + one division.
    "q198_rec_eval" ->
      s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |ppb AS (SELECT DISTINCT ok, pk FROM li WHERE ok % 37 <> 0),
         |e AS (SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS w
         |  FROM ppb x JOIN ppb y ON x.ok = y.ok AND x.pk < y.pk
         | GROUP BY 1, 2),
         |$sqlWeightedSymCte,
         |$sqlWeightedDegreeCte,
         |sc AS (SELECT sym.node, sym.peer, sym.w,
         |  CAST(sym.w AS DOUBLE) / sqrt(CAST(da.s * db.s AS DOUBLE))
         |   AS score
         | FROM sym JOIN wd da ON da.node = sym.node
         |  JOIN wd db ON db.node = sym.peer),
         |knn AS (SELECT node, peer, w FROM (
         |  SELECT node, peer, w, row_number() OVER (PARTITION BY node
         |    ORDER BY score DESC, peer) AS rn FROM sc)
         | WHERE rn <= 3),
         |bb AS (SELECT DISTINCT o.o_custkey AS cust, li.pk AS part
         |  FROM li JOIN orders o ON li.ok = o.o_orderkey
         | WHERE li.ok % 37 <> 0),
         |cand AS (SELECT b.cust, k.peer,
         |  CAST(sum(k.w) AS BIGINT) AS score
         | FROM bb b JOIN knn k ON k.node = b.part GROUP BY 1, 2),
         |fresh AS (SELECT c.cust, c.peer, c.score
         | FROM cand c LEFT JOIN bb b2
         |  ON b2.cust = c.cust AND b2.part = c.peer
         | WHERE b2.cust IS NULL),
         |r5 AS (SELECT cust, peer, rank FROM (
         |  SELECT cust, peer, score, row_number() OVER (PARTITION BY cust
         |    ORDER BY score DESC, peer) AS rank FROM fresh)
         | WHERE rank <= 5),
         |dl AS (SELECT DISTINCT o.o_custkey AS cust, li.pk AS part
         |  FROM li JOIN orders o ON li.ok = o.o_orderkey
         | WHERE li.ok % 37 = 0),
         |h AS (SELECT r5.rank,
         |  CASE WHEN d.cust IS NOT NULL THEN 1 ELSE 0 END AS hit
         | FROM r5 LEFT JOIN dl d
         |  ON d.cust = r5.cust AND d.part = r5.peer)
         |SELECT CAST(rank AS INT) AS rank,
         | CAST(count(*) AS BIGINT) AS n_recs,
         | CAST(sum(hit) AS BIGINT) AS n_hits,
         | CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS hit_rate
         |FROM h GROUP BY 1""".stripMargin,

    // q199 twin: the same 8-bit sign-cube cells (dim 1 is the MSB), the
    // same exact integer cross-products, one final division.
    "q199_embedding_drift" ->
      """WITH c AS (SELECT vec_id % 2 AS half,
        |  (CASE WHEN embedding[1] > 0 THEN 128 ELSE 0 END) +
        |  (CASE WHEN embedding[2] > 0 THEN 64 ELSE 0 END) +
        |  (CASE WHEN embedding[3] > 0 THEN 32 ELSE 0 END) +
        |  (CASE WHEN embedding[4] > 0 THEN 16 ELSE 0 END) +
        |  (CASE WHEN embedding[5] > 0 THEN 8 ELSE 0 END) +
        |  (CASE WHEN embedding[6] > 0 THEN 4 ELSE 0 END) +
        |  (CASE WHEN embedding[7] > 0 THEN 2 ELSE 0 END) +
        |  (CASE WHEN embedding[8] > 0 THEN 1 ELSE 0 END) AS cell
        | FROM embeddings),
        |g AS (SELECT cell,
        |  CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS ca,
        |  CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS cb
        | FROM c GROUP BY 1),
        |t_ AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb FROM g)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        | max(t_.na) AS n_a, max(t_.nb) AS n_b,
        | CAST(sum(abs(g.ca * t_.nb - g.cb * t_.na)) AS DOUBLE) /
        |  (2.0 * CAST(max(t_.na) AS DOUBLE) *
        |   CAST(max(t_.nb) AS DOUBLE)) AS tvd
        |FROM g, t_""".stripMargin,

    // q197 twin: the SAME files Spark exported, globbed with
    // filename=true, the same relative-path normalization, the same
    // next-fit cumulative bin arithmetic.
    "q197_compaction_plan" ->
      ("""WITH f AS (SELECT
        |  regexp_replace(filename, '^.*""" + PartFilesBase +
        """[^/]*/', '') AS f,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM read_parquet('""" +
        exportDir(PartFilesBase, dir) + """/*/*/*.parquet',
        |   filename=true)
        | GROUP BY 1),
        |c AS (SELECT f, n, sum(n) OVER (ORDER BY f) AS cum FROM f)
        |SELECT CAST((cum - n) // 4000 AS BIGINT) AS bin,
        | CAST(count(*) AS BIGINT) AS n_files,
        | CAST(sum(n) AS BIGINT) AS n_rows
        |FROM c GROUP BY 1""").stripMargin,

    // q194 twin: same blocks, same integer bucket, same two-level
    // census; sums cast back to BIGINT (DuckDB widens to HUGEINT).
    "q194_l_diversity" ->
      """WITH b AS (SELECT c_mktsegment, c_nationkey,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
        |   AS BIGINT) AS l
        | FROM customer GROUP BY 1, 2)
        |SELECT l, CAST(count(*) AS BIGINT) AS n_blocks,
        | CAST(sum(n) AS BIGINT) AS n_rows
        |FROM b GROUP BY 1""".stripMargin,

    // q186 twin: the SAME feed files Spark wrote, read as raw lines
    // (delimiter '|' never occurs in the exported fields, quoting
    // disabled so the JSON quotes pass through), split by json_valid —
    // exactly the from_json PERMISSIVE corrupt boundary — then the same
    // per-type integer-cents stats + corrupt census.
    "q186_ndjson_audit" ->
      ("""WITH l AS (SELECT line FROM read_csv(
        |  '""" + exportDir(NdjsonFeedBase, dir) + """/part-*',
        |  columns={'line': 'VARCHAR'}, delim='|', quote='',
        |  header=false)),
        |g AS (SELECT json_extract_string(line, '$.event_type')
        |   AS event_type,
        |  CAST(json_extract_string(line, '$.cents') AS BIGINT) AS cents
        | FROM l WHERE json_valid(line)),
        |c AS (SELECT CAST(sum(CASE WHEN NOT json_valid(line)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt FROM l)
        |SELECT g.event_type, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(g.cents) AS BIGINT) AS sum_cents, c.n_corrupt
        |FROM g, c
        |GROUP BY 1, c.n_corrupt""").stripMargin,

    // q163 twin: q38's session CTEs with event_id carried for the
    // rank-1 entry row, rolled up to the same census.
    "q163_session_stats" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev
        | FROM events),
        |s AS (SELECT user_id, event_id, event_type, us,
        |  sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS session_idx
        | FROM x),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id,
        |   session_idx ORDER BY us, event_id) AS rn FROM s),
        |ses AS (SELECT user_id, session_idx,
        |  CAST(count(*) AS BIGINT) AS n,
        |  max(us) - min(us) AS dur,
        |  max(CASE WHEN rn = 1 THEN event_type END) AS entry_type
        | FROM r GROUP BY 1, 2)
        |SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_bounce,
        | CAST(sum(n) AS BIGINT) AS n_events,
        | max(dur) AS max_dur_us,
        | CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
        |  CAST(count(*) AS DOUBLE) AS bounce_rate,
        | CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_depth
        |FROM ses GROUP BY 1""".stripMargin,

    // q125 twin: q22's marker scoring CTEs produce labeler B; kappa's
    // po/pe carried as exact integer numerators (n·agree − Σ r_l·c_l
    // over n² − Σ r_l·c_l), one double division each at the end.
    "q125_label_agreement" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' '))
         |   AS word FROM documents),
         |$sqlMarkersCte,
         |sc AS (SELECT doc_id, m_lang,
         |  CAST(sum(m_weight) AS BIGINT) AS score
         |  FROM tok JOIN m ON word = m_word GROUP BY 1, 2),
         |best AS (SELECT doc_id, m_lang, score, row_number() OVER
         |  (PARTITION BY doc_id ORDER BY score DESC, m_lang) AS rn
         |  FROM sc),
         |lab AS (SELECT d.lang AS a, COALESCE(b.m_lang, 'und') AS b
         |  FROM documents d
         |  LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)),
         |pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
         |  FROM lab GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
         |   AS n_agree FROM pc),
         |ra AS (SELECT a AS l, CAST(sum(c) AS BIGINT) AS r
         |  FROM pc GROUP BY 1),
         |cb AS (SELECT b AS l, CAST(sum(c) AS BIGINT) AS cc
         |  FROM pc GROUP BY 1),
         |pe AS (SELECT CAST(coalesce(sum(r * cc), 0) AS BIGINT)
         |  AS pe_num FROM ra JOIN cb USING (l))
         |SELECT n AS n_items, n_agree,
         | CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         | pe_num,
         | CAST(pe_num AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
         | CASE WHEN n * n <> pe_num THEN
         |   CAST(n * n_agree - pe_num AS DOUBLE)
         |    / CAST(n * n - pe_num AS DOUBLE) END AS kappa
         |FROM tot, pe""".stripMargin,

    // q120 twin: identical md5 tokenization (md5 is engine-identical),
    // independent per table, joined on the token.
    "q120_pseudonymize" ->
      """WITH c AS (SELECT substr(md5('graft-release-2026-08'
        |   || CAST(c_custkey AS VARCHAR)), 1, 16) AS token, c_mktsegment
        | FROM customer),
        |o AS (SELECT substr(md5('graft-release-2026-08'
        |   || CAST(o_custkey AS VARCHAR)), 1, 16) AS token FROM orders)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT o.token) AS BIGINT) AS n_customers
        |FROM o JOIN c USING (token) GROUP BY 1""".stripMargin,

    // q115 twin: KS over integer cents; cumulative and total counts are
    // exact-int window sums, D's numerator stays integral — one double
    // division at the end, identical on both engines.
    "q115_ks_test" ->
      """WITH p AS (SELECT event_type AS g,
        |  CASE WHEN datepart('day', ts) < 16 THEN 'h1' ELSE 'h2' END AS s,
        |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        | FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |vc AS (SELECT g, v,
        |  CAST(sum(CASE WHEN s = 'h1' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN s = 'h2' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        | FROM p GROUP BY 1, 2),
        |cum AS (SELECT g,
        |  CAST(sum(ca) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cuma,
        |  CAST(sum(cb) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cumb,
        |  CAST(sum(ca) OVER (PARTITION BY g) AS BIGINT) AS na,
        |  CAST(sum(cb) OVER (PARTITION BY g) AS BIGINT) AS nb
        | FROM vc)
        |SELECT g AS grp, min(na) AS n_a, min(nb) AS n_b,
        | max(abs(cuma * nb - cumb * na)) AS d_num,
        | CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE)
        |  / CAST(min(na) * min(nb) AS DOUBLE) AS d
        |FROM cum GROUP BY g
        |HAVING min(na) > 0 AND min(nb) > 0""".stripMargin,

    // q116 twin: classes below k over the same grouping (exact decimal
    // division by 1000 before floor on both engines).
    "q116_k_anonymity" ->
      """SELECT c_mktsegment, c_nationkey,
        | CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
        | CAST(count(*) AS BIGINT) AS class_size
        |FROM customer GROUP BY 1, 2, 3 HAVING count(*) < 8""".stripMargin,

    // q117 twin: the same single actor-ordered merge-scan — last_value
    // IGNORE NULLS over (us, event_id) carries the latest touch; value
    // sums in DECIMAL and exports via the q01 string round-trip.
    "q117_attribution" ->
      """WITH ev AS (SELECT user_id AS a, epoch_us(ts) AS us,
        |  event_id AS eid,
        |  CASE WHEN event_type IN ('click','view') THEN event_type END
        |   AS ch,
        |  event_type = 'purchase' AS conv, value AS val
        | FROM events WHERE user_id IS NOT NULL),
        |tg AS (SELECT *, last_value(
        |   CASE WHEN ch IS NOT NULL
        |    THEN struct_pack(tus := us, c := ch) END IGNORE NULLS)
        |  OVER (PARTITION BY a ORDER BY us, eid
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
        | FROM ev)
        |SELECT CASE WHEN lt IS NOT NULL AND us - lt.tus <= 86400000000
        |  THEN lt.c ELSE 'unattributed' END AS channel,
        | CAST(count(*) AS BIGINT) AS n_conversions,
        | CAST(CAST(sum(CAST(val AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |  AS attributed_value
        |FROM tg WHERE conv GROUP BY 1""".stripMargin,

    // q118 twin: identical pair expansion via list comprehension;
    // context totals and rank ride the same window partition.
    "q118_ngram_lm" ->
      """WITH tok AS (SELECT string_split(text, ' ') AS w FROM documents),
        |pr AS (SELECT unnest([struct_pack(
        |   c := array_to_string(w[i:i+1], ' '), nx := w[i+2])
        |  for i in generate_series(1, len(w) - 2)]) AS p FROM tok),
        |c AS (SELECT p.c AS context, p.nx AS next_token,
        |  CAST(count(*) AS BIGINT) AS n_next FROM pr GROUP BY 1, 2),
        |t2 AS (SELECT context, next_token, n_next,
        |  CAST(sum(n_next) OVER (PARTITION BY context) AS BIGINT)
        |   AS n_ctx,
        |  row_number() OVER (PARTITION BY context
        |   ORDER BY n_next DESC, next_token) AS rk
        | FROM c)
        |SELECT context, next_token, n_next, n_ctx,
        | CAST(n_next AS DOUBLE) / CAST(n_ctx AS DOUBLE) AS prob
        |FROM t2 WHERE n_ctx >= 5 AND rk <= 3""".stripMargin,

    // q114 twin: KM survival — the product folds left-to-right over the
    // duration-ordered factor list (list_reduce without an init starts at
    // the first element; Spark's aggregate starts at 1.0 and 1.0*x == x),
    // so the doubles are bit-identical. At-risk counts are exact-int
    // window sums (order-free).
    "q114_kaplan_meier" ->
      """WITH d AS (SELECT user_id AS a,
        |  CAST(datediff('hour', TIMESTAMP '1970-01-01', ts)
        |   AS INT) AS tk
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |sp AS (SELECT a, min(tk) AS f, max(tk) AS l FROM d GROUP BY a),
        |h AS (SELECT max(l) AS hmax FROM sp),
        |du AS (SELECT
        |  CASE WHEN l < hmax - 24 THEN l - f + 1
        |   ELSE hmax - f + 1 END AS t,
        |  CASE WHEN l < hmax - 24 THEN 1 ELSE 0 END AS died
        | FROM sp, h),
        |tb AS (SELECT t, CAST(sum(died) AS BIGINT) AS d,
        |  CAST(sum(1 - died) AS BIGINT) AS c FROM du GROUP BY t),
        |nr AS (SELECT t, d, c,
        |  CAST(sum(d + c) OVER (ORDER BY t DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS n FROM tb)
        |SELECT CAST(a.t AS INT) AS duration, min(a.n) AS n_at_risk,
        | min(a.d) AS n_churned, min(a.c) AS n_censored,
        | list_reduce(list(CAST(1.0 AS DOUBLE)
        |   - CAST(b.d AS DOUBLE) / CAST(b.n AS DOUBLE) ORDER BY b.t),
        |  (x, y) -> x * y) AS survival
        |FROM nr a JOIN nr b ON b.t <= a.t
        |GROUP BY a.t""".stripMargin,

    "q106_survivorship" ->
      s"""WITH RECURSIVE $sqlNearDupCompCtes,
         |member AS (SELECT coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |  d.doc_id, d.n_chars
         | FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
         |picked AS (SELECT cluster_id, doc_id, n_chars,
         |  row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY n_chars DESC, doc_id ASC) AS rn,
         |  count(*) OVER (PARTITION BY cluster_id) AS n_members,
         |  min(doc_id) OVER (PARTITION BY cluster_id) AS min_id
         | FROM member)
         |SELECT cluster_id, doc_id AS survivor_id,
         | n_chars AS survivor_quality, CAST(n_members AS BIGINT)
         |  AS n_members, doc_id <> min_id AS kept_longer
         |FROM picked WHERE rn = 1""".stripMargin,

    "q89_skew_report" ->
      """WITH k AS (SELECT CASE WHEN l_suppkey % 2 = 0 THEN 1
        |   ELSE l_suppkey END AS key_val FROM lineitem),
        |c AS (SELECT key_val, count(*) AS cnt FROM k GROUP BY 1),
        |s AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT)
        |   AS n_rows, max(cnt) AS max_cnt FROM c),
        |t AS (SELECT key_val, cnt, row_number() OVER
        |  (ORDER BY cnt DESC, key_val) AS rn FROM c)
        |SELECT t.key_val, CAST(t.cnt AS BIGINT) AS cnt,
        | CAST(t.cnt AS DOUBLE) / CAST(s.n_rows AS DOUBLE) AS share,
        | CAST(s.n_keys AS BIGINT) AS n_keys, s.n_rows,
        | (CAST(s.max_cnt AS DOUBLE) * CAST(s.n_keys AS DOUBLE))
        |  / CAST(s.n_rows AS DOUBLE) AS skew_ratio
        |FROM t, s WHERE t.rn <= 5""".stripMargin,

    "q88_time_range_window" ->
      """WITH d AS (SELECT o_orderpriority AS priority,
        |  CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |   AS INT) AS day,
        |  sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev,
        |  count(*) AS n_orders
        | FROM orders GROUP BY 1, 2)
        |SELECT priority, day,
        | CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS daily_rev,
        | CAST(n_orders AS BIGINT) AS n_orders,
        | CAST(CAST(sum(rev) OVER w AS VARCHAR) AS DOUBLE) AS rev_7d,
        | CAST(sum(n_orders) OVER w AS BIGINT) AS orders_7d,
        | CAST(CAST(sum(rev) OVER w AS VARCHAR) AS DOUBLE)
        |  / CAST(CAST(sum(n_orders) OVER w AS BIGINT) AS DOUBLE)
        |   AS avg_order_7d
        |FROM d
        |WINDOW w AS (PARTITION BY priority ORDER BY day
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q87_collocations" ->
      """WITH tok AS (SELECT string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT unnest([struct_pack(w1 := w[i], w2 := w[i + 1])
        |   for i in generate_series(1, len(w) - 1)]) AS s FROM tok),
        |p AS (SELECT s.w1 AS w1, s.w2 AS w2 FROM bg),
        |c AS (SELECT w1, w2, count(*) AS n_pair FROM p GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS cx
        |  FROM c GROUP BY 1),
        |c2 AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS cy
        |  FROM c GROUP BY 1),
        |nb AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n FROM c)
        |SELECT c.w1, c.w2, CAST(c.n_pair AS BIGINT) AS n_pair,
        | (CAST(c.n_pair AS DOUBLE) * CAST(nb.n AS DOUBLE))
        |  / (CAST(c1.cx AS DOUBLE) * CAST(c2.cy AS DOUBLE)) AS lift
        |FROM c JOIN c1 USING (w1) JOIN c2 USING (w2), nb
        |WHERE c.n_pair >= 5
        |ORDER BY lift DESC, c.w1, c.w2
        |LIMIT 20""".stripMargin,

    "q86_contingency" ->
      """WITH o AS (SELECT o_orderpriority AS r, o_orderstatus AS c,
        |  count(*) AS n FROM orders GROUP BY 1, 2),
        |rt AS (SELECT r, CAST(sum(n) AS BIGINT) AS nr FROM o GROUP BY 1),
        |ct AS (SELECT c, CAST(sum(n) AS BIGINT) AS nc FROM o GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM o)
        |SELECT o.r AS priority, o.c AS status,
        | CAST(o.n AS BIGINT) AS observed,
        | (CAST(rt.nr AS DOUBLE) * CAST(ct.nc AS DOUBLE))
        |  / CAST(tt.nn AS DOUBLE) AS expected,
        | (CAST(o.n AS DOUBLE) -
        |   (CAST(rt.nr AS DOUBLE) * CAST(ct.nc AS DOUBLE))
        |    / CAST(tt.nn AS DOUBLE))
        |  / sqrt((CAST(rt.nr AS DOUBLE) * CAST(ct.nc AS DOUBLE))
        |    / CAST(tt.nn AS DOUBLE)) AS residual
        |FROM o JOIN rt USING (r) JOIN ct USING (c), tt""".stripMargin,

    "q85_incremental_dedup" ->
      s"""WITH $sqlWordNearDupCtes,
         |p AS ($sqlWordNearDupSelect),
         |inc AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7),
         |rej AS (
         |  SELECT id_b AS in_id, id_a AS other FROM p WHERE id_b % 10 = 7
         |  UNION ALL
         |  SELECT id_a, id_b FROM p
         |   WHERE id_a % 10 = 7 AND id_b % 10 <> 7)
         |SELECT i.doc_id,
         | CASE WHEN min(r.in_id) IS NULL THEN 1 ELSE 0 END AS keep,
         | CAST(count(r.other) AS BIGINT) AS n_dups,
         | min(r.other) AS blame_id
         |FROM inc i LEFT JOIN rej r ON r.in_id = i.doc_id
         |GROUP BY i.doc_id""".stripMargin,

    "q19_token_stats" ->
      """SELECT doc_id, lang,
        | CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
        | CAST(len(list_distinct(string_split(text,' '))) AS INT)
        |  AS n_distinct,
        | CAST(len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]{1,3}'))
        |  AS INT) AS n_subtokens,
        | CAST(length(text) AS INT) AS n_chars_obs, n_chars
        |FROM documents""".stripMargin,

    "q20_word_freq" ->
      """SELECT word, count(*) AS n_occurrences,
        | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text,' ')) AS word
        |      FROM documents)
        |GROUP BY 1""".stripMargin,

    "q21_text_quality" ->
      s"""WITH s AS (SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
        |  CAST(len(list_filter(string_split(text,' '),
        |    x -> list_contains($sqlStopwords, x))) AS INT) AS n_stopwords,
        |  CAST(list_sum([length(x) for x in string_split(text,' ')]) AS INT)
        |   AS sum_token_len
        | FROM documents)
        |SELECT doc_id, n_tokens, n_stopwords, sum_token_len,
        | CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |  AS stopword_ratio,
        | CAST(sum_token_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |  AS avg_token_len,
        | CAST(n_tokens BETWEEN 20 AND 80
        |  AND (CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |   <= 0.15 AS INT) AS quality_ok
        |FROM s""".stripMargin,

    "q22_lang_id" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS word
         |  FROM documents),
         |$sqlMarkersCte,
         |sc AS (SELECT doc_id, m_lang, CAST(sum(m_weight) AS BIGINT) AS score
         |  FROM tok JOIN m ON word = m_word GROUP BY 1, 2),
         |best AS (SELECT doc_id, m_lang, score, row_number() OVER
         |  (PARTITION BY doc_id ORDER BY score DESC, m_lang) AS rn FROM sc)
         |SELECT d.doc_id, d.lang,
         | COALESCE(b.m_lang, 'und') AS lang_pred,
         | CAST(COALESCE(b.score, 0) AS BIGINT) AS score
         |FROM documents d
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)"""
        .stripMargin,

    // rolling_fp mirrors rollingFingerprint's short-text fallback: text
    // under the window width hashes whole (latent on this corpus — min
    // length 44 — but the oracle must implement the documented behavior).
    "q23_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS content_md5,
         | list_min([${hx("w", 8)}
         |   for w in list_distinct(string_split(text,' '))])
         |  AS min_token_hash,
         | CASE WHEN length(text) >= 8 THEN
         |   list_min([${hx("substr(text,i,8)", 8)}
         |     for i in generate_series(1, length(text)-7)])
         |  ELSE ${hx("text", 8)} END AS rolling_fp
         |FROM documents""".stripMargin,

    "q24_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
        | count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q25_minhash_lsh" -> sqlWordNearDupPairs,

    // Connected components over the q25 near-dup pair graph: the oracle
    // computes the identical min-reachable-id labels via a recursive CTE
    // (UNION-deduped label propagation), then the same cluster rollup.
    "q61_dup_clusters" ->
      s"""WITH RECURSIVE $sqlNearDupEdgeCtes,
         |nodes AS (SELECT DISTINCT s AS node FROM edges),
         |reach(node, label) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node),
         |comp AS (SELECT node, min(label) AS cluster_id
         |  FROM reach GROUP BY node)
         |SELECT cluster_id, count(*) AS n_members,
         | string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
         |FROM comp GROUP BY cluster_id""".stripMargin,

    "q66_cluster_curation" ->
      s"""WITH RECURSIVE $sqlNearDupCompCtes
         |SELECT d.lang, count(*) AS n_docs,
         | CAST(sum(CASE WHEN c.cluster_id IS NULL
         |   OR c.cluster_id = d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_kept,
         | min(CASE WHEN c.cluster_id IS NOT NULL
         |   AND c.cluster_id <> d.doc_id THEN d.doc_id END) AS first_removed
         |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
         |GROUP BY 1""".stripMargin,

    "q62_domain_rebalance" ->
      s"""WITH c AS (SELECT source, count(*) AS n FROM documents
         |  GROUP BY source),
         |t AS (SELECT min(n) AS t FROM c),
         |r AS (SELECT source, CAST(floor(
         |   CAST(t.t AS DOUBLE) * 1048576 / CAST(c.n AS DOUBLE))
         |  AS BIGINT) AS num FROM c, t)
         |SELECT d.source, count(*) AS n_kept, min(d.doc_id) AS min_doc_id
         |FROM documents d JOIN r ON d.source = r.source
         |WHERE ${hx("'rebalance' || CAST(doc_id AS VARCHAR)", 8)} % 1048576
         |  < r.num
         |GROUP BY 1""".stripMargin,

    "q63_inverted_index" ->
      """WITH td AS (SELECT DISTINCT doc_id, term FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |   FROM documents)),
        |g AS (SELECT term, count(*) AS doc_freq,
        |  list_sort(list(doc_id)) AS ids
        | FROM td GROUP BY term)
        |SELECT term, doc_freq, array_to_string(ids[1:8], ',') AS postings
        |FROM g WHERE doc_freq >= 10""".stripMargin,

    "q73_bottomk_sample" ->
      s"""WITH h AS (SELECT lang, doc_id,
         |  ${hx("'bk' || CAST(doc_id AS VARCHAR)", 8)} AS sample_hash
         | FROM documents WHERE doc_id IS NOT NULL),
         |r AS (SELECT lang, doc_id, sample_hash,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY sample_hash, doc_id) AS rn FROM h)
         |SELECT lang, doc_id, sample_hash FROM r WHERE rn <= 5""".stripMargin,

    "q72_length_quantiles" ->
      """SELECT source, count(*) AS n_docs,
        | quantile_cont(n_tokens, 0.5) AS p50,
        | quantile_cont(n_tokens, 0.9) AS p90,
        | quantile_cont(n_tokens, 0.99) AS p99
        |FROM (SELECT source,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        | FROM documents)
        |GROUP BY 1""".stripMargin,

    "q70_repeated_spans" ->
      s"""WITH $sqlSpanTokCte,
         |sp AS (SELECT doc_id, ts,
         |  CAST(unnest(generate_series(1, len(ts) - 15, 1)) AS INT) AS p
         | FROM tok),
         |h AS (SELECT doc_id,
         |  ${hx("array_to_string(ts[p : p + 15], ' ')", 8)} AS span_hash
         | FROM sp)
         |SELECT span_hash, count(DISTINCT doc_id) AS n_docs,
         | count(*) AS n_occurrences, min(doc_id) AS first_doc
         |FROM h WHERE span_hash % 4 = 0
         |GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin,

    "q69_countmin" ->
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |rows3 AS (SELECT unnest(generate_series(0, 2)) AS i),
         |b AS (SELECT i,
         |  ${hx("'cms' || CAST(i AS VARCHAR) || ':' || w", 8)} % 1024
         |   AS bucket
         | FROM toks, rows3),
         |sk AS (SELECT i, bucket, count(*) AS c FROM b GROUP BY 1, 2),
         |exact AS (SELECT w, count(*) AS exact_n FROM toks GROUP BY 1),
         |probes AS (SELECT w, exact_n FROM exact
         |  ORDER BY exact_n DESC, w LIMIT 5),
         |pq AS (SELECT p.w, p.exact_n, r.i,
         |  ${hx("'cms' || CAST(r.i AS VARCHAR) || ':' || p.w", 8)} % 1024
         |   AS bucket
         | FROM probes p, rows3 r)
         |SELECT pq.w, pq.exact_n,
         | min(coalesce(sk.c, 0)) AS cms_estimate
         |FROM pq LEFT JOIN sk ON sk.i = pq.i AND sk.bucket = pq.bucket
         |GROUP BY 1, 2""".stripMargin,

    "q68_epoch_mix" ->
      s"""WITH d AS (SELECT doc_id, source,
         |  (${hx("source", 8)} % 4) * 900 + 300 AS wm
         | FROM documents),
         |c AS (SELECT doc_id, source,
         |  CAST(wm // 1000 AS INT) +
         |  (CASE WHEN ${hx("'em' || CAST(doc_id AS VARCHAR)", 8)} % 1000
         |     < wm % 1000 THEN 1 ELSE 0 END) AS n_copies FROM d),
         |e AS (SELECT doc_id, source,
         |  unnest(generate_series(1, n_copies)) AS r FROM c)
         |SELECT source, count(*) AS n_rows_out,
         | count(DISTINCT doc_id) AS n_docs_kept
         |FROM e GROUP BY 1""".stripMargin,

    "q67_token_weighted_sample" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
         | FROM documents)
         |SELECT lang, count(*) AS n_sampled,
         | CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM d
         |WHERE ${hx("'tw' || CAST(doc_id AS VARCHAR)", 8)} % 4096
         |  < least(n_tokens, 64) * 8
         |GROUP BY 1""".stripMargin,

    "q65_i8_topk" -> sqlI8TopK,

    "q64_unicode_nfc" ->
      """WITH d AS (SELECT lang,
        |  text || ' cafe' || chr(769) || ' e' || chr(769) || 'cole'
        |   AS dirty FROM documents),
        |n AS (SELECT lang, dirty, nfc_normalize(dirty) AS norm FROM d)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(length(dirty) - length(norm)) AS BIGINT)
        |  AS collapsed_units,
        | CAST(sum(CASE WHEN norm <> dirty THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_changed
        |FROM n GROUP BY 1""".stripMargin,

    "q26_simhash" ->
      s"""WITH h AS (SELECT doc_id, ${hx("w", 15)} AS h60
         |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
         |        FROM documents)),
         |v AS (SELECT doc_id, bit,
         |  sum(CASE WHEN (h60 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM h, (SELECT unnest(generate_series(0, ${D.SimhashBits - 1}))
         |           AS bit) b
         |  GROUP BY 1, 2)
         |SELECT doc_id,
         | CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit)
         |          ELSE 0 END) AS BIGINT) AS simhash
         |FROM v GROUP BY 1""".stripMargin,

    "q27_cosine_topk" -> sqlAnnExact(5),

    "q28_ann_lsh" -> sqlAnnLsh,

    "q30_missing_marker" ->
      """SELECT p_brand, count(*) AS n,
        | CAST(sum(CAST(v AS BIGINT)) AS BIGINT) AS sum_size,
        | CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
        |FROM (SELECT p_brand,
        |  TRY_CAST(CASE WHEN trim(s) = ':' THEN '0' ELSE s END AS DOUBLE)
        |   AS v
        | FROM (SELECT p_brand,
        |   CASE WHEN p_size % 7 = 0 THEN ':'
        |        ELSE CAST(p_size AS VARCHAR) END AS s
        |  FROM part))
        |GROUP BY 1""".stripMargin,

    "q31_dropna_subset" ->
      """SELECT p_brand, count(*) AS n,
        | CAST(CAST(sum(CAST(a AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price,
        | CAST(sum(b) AS BIGINT) AS sum_size
        |FROM (SELECT p_brand,
        |  CASE WHEN p_size % 5 = 0 THEN NULL ELSE p_retailprice END AS a,
        |  CASE WHEN p_partkey % 3 = 0 THEN NULL ELSE p_size END AS b
        | FROM part)
        |WHERE a IS NOT NULL AND b IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "q32_positional_slice" ->
      """SELECT o_orderkey, o_totalprice FROM (
        | SELECT o_orderkey, o_totalprice, row_number() OVER
        |  (ORDER BY o_totalprice DESC, o_orderkey) AS pos
        | FROM orders)
        |WHERE pos > 10 AND pos <= 20""".stripMargin,

    "q33_multimodal_stats" ->
      """SELECT doc_id AS asset_id,
        | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |  ELSE 'video' END AS modality,
        | CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        | md5(text) AS content_md5,
        | CAST((length(text)+31)//32 AS INT) AS n_chunks,
        | list_min([md5(substring(text,(i-1)*32+1,32))
        |   for i in generate_series(1,(length(text)+31)//32)]) AS chunk_fp
        |FROM documents""".stripMargin,

    "q34_ann_ivf" -> sqlAnnIvf,

    "q49_ann_recall" ->
      s"""WITH ex AS (SELECT query_id, neighbor_id FROM (${sqlAnnExact(3)})),
         |ap AS (SELECT 'lsh' AS method, query_id, neighbor_id
         |   FROM ($sqlAnnLsh)
         | UNION ALL
         | SELECT 'lsh_mp' AS method, query_id, neighbor_id
         |   FROM (${sqlAnnLshMpAt(1)})
         | UNION ALL
         | SELECT 'lsh_mp2' AS method, query_id, neighbor_id
         |   FROM (${sqlAnnLshMpAt(2)})
         | UNION ALL
         | SELECT 'ivf' AS method, query_id, neighbor_id
         |   FROM ($sqlAnnIvf)
         | UNION ALL
         | SELECT 'i8' AS method, query_id, neighbor_id
         |   FROM ($sqlI8TopK)
         | UNION ALL
         | SELECT 'rp' AS method, query_id, neighbor_id
         |   FROM ($sqlRpTopK)),
         |g AS (SELECT method, count(*) AS n_returned,
         |  count(ex.query_id) AS n_hits
         | FROM ap LEFT JOIN ex ON ap.query_id = ex.query_id
         |  AND ap.neighbor_id = ex.neighbor_id
         | GROUP BY method),
         |n AS (SELECT count(*) AS n_exact FROM ex)
         |SELECT method, n_returned, n_hits, n_exact,
         | CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_at_3
         |FROM g CROSS JOIN n""".stripMargin,

    "q50_period_expand" ->
      """WITH m AS (SELECT CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(o_totalprice AS DECIMAL(18,4)) AS v FROM orders),
        |q3 AS (SELECT order_year, (mo-1)//3 AS p0,
        |  CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) AS period_value
        | FROM m GROUP BY 1, 2),
        |e3 AS (SELECT order_year,
        |  CAST(unnest(generate_series(p0*3+1, p0*3+3)) AS INT) AS month_num,
        |  period_value FROM q3),
        |q4 AS (SELECT order_year, (mo-1)//4 AS p0,
        |  CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) AS period_value
        | FROM m GROUP BY 1, 2),
        |e4 AS (SELECT order_year,
        |  CAST(unnest(generate_series(p0*4+1, p0*4+4)) AS INT) AS month_num,
        |  period_value FROM q4),
        |u AS (SELECT * FROM e3 UNION ALL SELECT * FROM e4)
        |SELECT order_year, month_num, avg(period_value) AS monthly_value,
        | count(*) AS n_periods
        |FROM u GROUP BY 1, 2""".stripMargin,

    "q51_skew_join_salted" -> sqlSkewJoin,
    "q52_skew_join_plain" -> sqlSkewJoin,
    "q53_ann_lsh_multiprobe" -> sqlAnnLshMpAt(1),

    "q54_hash_sample" ->
      s"""SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc_id
         |FROM documents
         |WHERE ${hx("'s1' || CAST(doc_id AS VARCHAR)", 8)} % 10000 < 2000
         |GROUP BY 1""".stripMargin,

    "q55_stratified_sample" ->
      s"""SELECT lang, count(*) AS n_sampled
         |FROM documents
         |WHERE ${hx("'s2' || CAST(doc_id AS VARCHAR)", 8)} % 10000 <
         | (CASE lang WHEN 'en' THEN 1000 WHEN 'de' THEN 5000
         |   WHEN 'es' THEN 2500 WHEN 'fr' THEN 10000 ELSE 0 END)
         |GROUP BY 1""".stripMargin,

    "q56_token_chunks" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w,
        |  CAST(unnest(generate_series(1, greatest(len(w), 1), 24)) AS INT)
        |   AS st
        | FROM tok)
        |SELECT doc_id, CAST((st - 1) // 24 AS INT) AS chunk_idx,
        | array_to_string(w[st : st + 31], ' ') AS chunk_text,
        | CAST(len(string_split(array_to_string(w[st : st + 31], ' '), ' '))
        |  AS INT) AS n_chunk_tokens
        |FROM c""".stripMargin,

    "q59_repetition" ->
      """WITH tf AS (SELECT doc_id, w, count(*) AS tf
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |       FROM documents)
        | GROUP BY 1, 2),
        |a AS (SELECT doc_id, max(tf) AS max_tf,
        |  CAST(sum(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY 1)
        |SELECT doc_id, max_tf, n_tokens,
        | CAST(max_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |  AS repetition_ratio,
        | CASE WHEN CAST(max_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |  >= 0.12 THEN 1 ELSE 0 END AS repetitive
        |FROM a""".stripMargin,

    "q60_decontaminate" ->
      s"""WITH shl AS (SELECT doc_id, $sqlCharShingles8 AS sl
         |  FROM documents),
         |hs AS (SELECT DISTINCT doc_id, ${hx("s", 8)} AS h
         |  FROM (SELECT doc_id, unnest(sl) AS s FROM shl)),
         |ev AS (SELECT DISTINCT h FROM hs WHERE doc_id < 5),
         |cnt AS (SELECT doc_id, CAST(count(*) AS INT) AS n_shingles
         |  FROM hs GROUP BY 1),
         |ov AS (SELECT hs.doc_id, count(*) AS n_overlap
         |  FROM hs JOIN ev ON hs.h = ev.h GROUP BY 1)
         |SELECT c.doc_id, c.n_shingles,
         | COALESCE(o.n_overlap, 0) AS n_overlap,
         | CASE WHEN CAST(COALESCE(o.n_overlap, 0) AS DOUBLE)
         |   / CAST(c.n_shingles AS DOUBLE) >= 0.5 THEN 1 ELSE 0 END
         |  AS contaminated
         |FROM cnt c LEFT JOIN ov o ON c.doc_id = o.doc_id""".stripMargin,

    "q58_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents),
        |v2 AS (SELECT doc_id,
        |  md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END)
        |   AS h2
        | FROM documents WHERE doc_id % 13 <> 0
        | UNION ALL
        | SELECT -(doc_id + 1), md5(text) FROM documents
        | WHERE doc_id % 11 = 0),
        |j AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id, h1, h2
        | FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT CASE WHEN h1 IS NULL THEN 'added'
        |  WHEN h2 IS NULL THEN 'removed'
        |  WHEN h1 <> h2 THEN 'changed' ELSE 'unchanged' END AS change_type,
        | count(*) AS n_docs
        |FROM j GROUP BY 1""".stripMargin,

    "q57_sequence_pack" ->
      """WITH d AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        | FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |  COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS cum_before
        | FROM d)
        |SELECT lang, CAST(cum_before // 2048 AS INT) AS pack_id,
        | count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        |FROM c GROUP BY 1, 2""".stripMargin,

    "q35_corpus_curation" ->
      s"""WITH $sqlWordShingleCtes,
         |$sqlLshCandCtes,
         |losers AS (SELECT DISTINCT idb AS doc_id
         |  FROM cand JOIN hsl x ON x.doc_id = ida
         |   JOIN hsl y ON y.doc_id = idb
         |  WHERE CAST(len(list_intersect(x.hl, y.hl)) AS DOUBLE)
         |   / CAST(len(x.hl) + len(y.hl) - len(list_intersect(x.hl, y.hl))
         |      AS DOUBLE) >= 0.8),
         |q AS (SELECT doc_id, lang,
         |  CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
         |  CAST(len(list_filter(string_split(text,' '),
         |    x -> list_contains($sqlStopwords, x))) AS DOUBLE)
         |   / CAST(len(string_split(text,' ')) AS DOUBLE)
         |   AS stopword_ratio
         | FROM documents),
         |qf AS (SELECT * FROM q
         |  WHERE n_tokens BETWEEN 20 AND 80 AND stopword_ratio <= 0.15),
         |tok2 AS (SELECT doc_id, unnest(string_split(text,' ')) AS word
         |  FROM documents),
         |$sqlMarkersCte,
         |sc AS (SELECT doc_id, m_lang, sum(m_weight) AS score
         |  FROM tok2 JOIN m ON word = m_word GROUP BY 1, 2),
         |best AS (SELECT doc_id, m_lang FROM (
         |  SELECT doc_id, m_lang, row_number() OVER (PARTITION BY doc_id
         |   ORDER BY score DESC, m_lang) AS rn FROM sc) WHERE rn = 1)
         |SELECT qf.doc_id, qf.lang, COALESCE(b.m_lang, 'und') AS lang_pred,
         | qf.n_tokens, qf.stopword_ratio
         |FROM qf LEFT JOIN losers l ON qf.doc_id = l.doc_id
         | LEFT JOIN best b ON qf.doc_id = b.doc_id
         |WHERE l.doc_id IS NULL""".stripMargin,

    "q36_supplier_balance" ->
      """SELECT r_name, count(*) AS n_suppliers,
        | CAST(CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS VARCHAR)
        |  AS DOUBLE) AS sum_acctbal,
        | CAST(CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS VARCHAR)
        |  AS DOUBLE) / count(*) AS avg_acctbal
        |FROM supplier
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,

    // DuckDB's native ASOF JOIN is an independent implementation of the
    // same semantics — a genuinely cross-checked oracle (not a SQL mirror
    // of the Spark formulation). Deterministic: click timestamps are
    // unique per user (no ties for ASOF to break arbitrarily).
    "q37_asof_join" ->
      """WITH e AS (SELECT user_id, event_id AS err_id, ts FROM events
        |  WHERE event_type = 'error'),
        |c AS (SELECT user_id, event_id AS click_id, ts FROM events
        |  WHERE event_type = 'click')
        |SELECT e.user_id, e.err_id, c.click_id,
        | epoch_us(e.ts) - epoch_us(c.ts) AS gap_us
        |FROM e ASOF LEFT JOIN c
        | ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin,

    "q48_asof_forward" ->
      """WITH s AS (SELECT user_id, event_id AS signup_id, ts FROM events
        |  WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT s.user_id, s.signup_id, p.purchase_id,
        | epoch_us(p.ts) - epoch_us(s.ts) AS wait_us
        |FROM s ASOF LEFT JOIN p
        | ON s.user_id = p.user_id AND s.ts <= p.ts""".stripMargin,

    "q71_interval_join" ->
      """WITH e AS (SELECT user_id, event_id AS err_id, ts AS w_start,
        |  ts + INTERVAL 10 MINUTE AS w_end
        | FROM events WHERE event_type = 'error'),
        |c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
        | FROM events WHERE event_type = 'click')
        |SELECT e.user_id, e.err_id, count(*) AS n_clicks,
        | min(c.click_id) AS first_click
        |FROM e JOIN c ON e.user_id = c.user_id
        | AND c.click_ts >= e.w_start AND c.click_ts < e.w_end
        |GROUP BY 1, 2""".stripMargin,

    "q38_sessionize" ->
      """WITH x AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev
        | FROM events),
        |s AS (SELECT user_id, event_type, us,
        |  sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS session_idx
        | FROM x)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        | count(*) AS n_events, min(us) AS start_us, max(us) AS end_us,
        | max(us) - min(us) AS duration_us,
        | CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q39_ngram_jaccard" ->
      s"""WITH shl AS (SELECT doc_id, $sqlCharShingles8 AS sl FROM documents),
         |$sqlLshCandCtes,
         |j AS (SELECT ida, idb,
         |  len(list_intersect(x.hl, y.hl)) AS inter,
         |  len(x.hl) + len(y.hl) AS tot
         |  FROM cand JOIN hsl x ON x.doc_id = ida
         |   JOIN hsl y ON y.doc_id = idb)
         |SELECT ida AS id_a, idb AS id_b,
         | CAST(inter AS DOUBLE) / CAST(tot - inter AS DOUBLE) AS jaccard
         |FROM j
         |WHERE CAST(inter AS DOUBLE) / CAST(tot - inter AS DOUBLE) >= 0.7""".stripMargin,

    "q40_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_suppliers,
        | CAST(CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS VARCHAR)
        |  AS DOUBLE) AS sum_acctbal
        |FROM supplier
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "q47_cube" ->
      """SELECT r_name, n_name, count(*) AS n_suppliers,
        | CAST(CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS VARCHAR)
        |  AS DOUBLE) AS sum_acctbal
        |FROM supplier
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, n_name)""".stripMargin,

    "q41_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, word, tf, df,
        |  CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
        |   AS score
        | FROM tf JOIN dfreq USING (word) CROSS JOIN n),
        |r AS (SELECT doc_id, word, tf, df, score, row_number() OVER
        |  (PARTITION BY doc_id ORDER BY score DESC, word) AS rnk FROM sc)
        |SELECT doc_id, word, CAST(tf AS BIGINT) AS tf,
        | CAST(df AS BIGINT) AS df, score, CAST(rnk AS INT) AS "rank"
        |FROM r WHERE rnk <= 3""".stripMargin,

    "q42_pii_scrub" ->
      """WITH raw AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |   || '@mail.example ref ' || CAST(doc_id * 7 AS VARCHAR) AS r
        | FROM documents),
        |s1 AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(r, '[a-z0-9]+@[a-z]+\.[a-z]+'))
        |   AS INT) AS n_emails,
        |  regexp_replace(r, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g')
        |   AS t1
        | FROM raw)
        |SELECT doc_id, n_emails,
        | CAST(len(regexp_extract_all(t1, '[0-9]+')) AS INT) AS n_nums,
        | md5(regexp_replace(t1, '[0-9]+', '<NUM>', 'g')) AS scrubbed_md5,
        | CAST(length(regexp_replace(t1, '[0-9]+', '<NUM>', 'g')) AS INT)
        |  AS scrubbed_len
        |FROM s1""".stripMargin,

    "q43_median" ->
      """WITH x AS (SELECT event_type, value, event_id,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS cnt
        | FROM events)
        |SELECT event_type, sum(value) / count(*) AS median_value,
        | CAST(max(cnt) AS BIGINT) AS n_events
        |FROM x WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        |GROUP BY 1""".stripMargin,

    "q44_pivot" ->
      """SELECT CAST(date_part('day', ts) AS INT) AS day,
        | NULLIF(CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
        |   AS BIGINT), 0) AS click,
        | NULLIF(CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
        |   AS BIGINT), 0) AS error,
        | NULLIF(CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
        |   AS BIGINT), 0) AS purchase,
        | NULLIF(CAST(count(CASE WHEN event_type = 'signup' THEN 1 END)
        |   AS BIGINT), 0) AS signup,
        | NULLIF(CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
        |   AS BIGINT), 0) AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q45_window_family" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
        |  AS running_spend,
        | CAST(rank() OVER wv AS INT) AS price_rank,
        | CAST(dense_rank() OVER wv AS INT) AS price_dense_rank,
        | percent_rank() OVER wv AS price_pr,
        | CAST(ntile(4) OVER wv AS INT) AS quartile
        |FROM orders
        |WINDOW wv AS (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,

    "q46_setops" ->
      """SELECT o_custkey, 'both' AS tag FROM (
        | SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        | INTERSECT
        | SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |UNION ALL
        |SELECT o_custkey, 'only_1995' AS tag FROM (
        | SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        | EXCEPT
        | SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)"""
        .stripMargin,

    // q29 twin: the radius-1 multi-probe candidate set "hamming(bucket)
    // ≤ 1" is expressed directly as bit_count(xor(...)) ≤ 1 on the
    // label self-join — the oracle need not replay the probe explode,
    // only its EXACT candidate predicate (a pair matches a probe mask
    // iff the sized buckets differ in ≤ 1 bit).
    "q29_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, label, embedding,
         |  CAST(${sqlSizedBucket("embedding")} AS BIGINT) AS bucket
         | FROM embeddings)
         |SELECT label, vec_a, vec_b, cosine FROM (
         | SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${sqlCosine("a.embedding", "b.embedding")} AS cosine
         | FROM e a JOIN e b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |  AND bit_count(CAST(xor(a.bucket, b.bucket) AS BIGINT)) <= 1)
         |WHERE cosine >= 0.4""".stripMargin
  )
}
