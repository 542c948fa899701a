package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis kernel for the training-data-pipeline surface: tokenize,
  * n-gram shingles, deterministic 32/60-bit hashes, quality metrics,
  * fingerprints. All pure `Column` expressions (codegen'd, zero UDFs).
  *
  * Cross-engine determinism: every hash is a prefix of `md5` (identical in
  * Spark and DuckDB) parsed as an integer, so the DuckDB oracle can compute
  * bit-identical values. Integer mixing uses `(a*h + b) mod P` with all
  * operands well under 2^63 — no overflow on either engine.
  *
  * Scale posture: everything here is a per-row map-side expression; the
  * only shuffles are the aggregations the callers add. Token/shingle
  * explosion amplifies rows by O(tokens) — downstream aggregates are
  * map-side-combinable (min/sum), so the shuffle carries one row per
  * (doc, key), not per token.
  */
object TextOps {

  /** 2^31 - 1, the classic Mersenne modulus for minhash permutations. */
  val HashPrime: Long = 2147483647L

  /** Whitespace tokenizer (the corpus is single-space separated; a
    * general-purpose variant would split on `\s+`). */
  def tokens(c: Column): Column = split(c, " ")

  /** Unicode NFC canonicalization (native [[graft.functions.NfcNormalize]]
    * kernel; DuckDB twin `nfc_normalize`). Run it BEFORE any dedup hash /
    * shingle / equality join: composed and decomposed forms of the same
    * text are byte-different until canonicalized. Map-side, ASCII fast
    * path, codegen'd. */
  def nfcNormalize(c: Column): Column = call_function("nfc_normalize", c)

  /** 32-bit deterministic string hash: first 8 hex digits of md5.
    * DuckDB twin: `CAST(('0x' || substr(md5(x),1,8)) AS BIGINT)`. */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** 60-bit variant (15 hex digits) for simhash bit sampling. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** BPE-ish subtoken count: matches of a tokenizer-shaped regex (the
    * default chunks alphabetic runs into ≤4-char pieces, approximating
    * subword segmentation). Pattern must behave identically in Java regex
    * and the oracle's RE2 — keep to plain character classes. */
  def subtokenCount(text: Column,
                    pattern: String = "[a-z]{1,4}|[0-9]{1,3}"): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Word n-gram shingles of a token array WITH multiplicity — the cheap
    * form for consumers that are duplicate-invariant (a MinHash minimum
    * over duplicates equals the minimum over the distinct set, so the
    * signature stage skips the array_distinct hash-set build per row).
    * Docs shorter than `n` tokens yield an empty array (guard needed:
    * sequence(0, negative) counts DOWN in Spark rather than producing an
    * empty array). */
  def wordShinglesMulti(words: Column, n: Int): Column =
    when(size(words) >= n,
      transform(sequence(lit(0), size(words) - n),
        i => concat_ws(" ", slice(words, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Distinct word n-gram shingles (set semantics — what Jaccard needs). */
  def wordShingles(words: Column, n: Int): Column =
    when(size(words) >= n,
      array_distinct(wordShinglesMulti(words, n)))
      .otherwise(array().cast("array<string>"))

  /** Character n-gram shingles WITH multiplicity (see
    * [[wordShinglesMulti]] for when this is safe). Texts shorter than `n`
    * chars shingle whole, mirroring [[rollingFingerprint]]'s fallback. */
  def charShinglesMulti(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array(text))

  /** Distinct character n-gram shingles (the n-gram-Jaccard dedup family
    * measures on these rather than word shingles — robust to tokenization
    * differences). */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      array_distinct(charShinglesMulti(text, n)))
      .otherwise(array(text))

  /** Overlapping fixed-size token chunks (LLM context-window prep): chunk
    * i covers tokens [1 + i*stride, 1 + i*stride + size), so consecutive
    * chunks share `size - stride` tokens; the tail chunk may be short.
    * stride = size gives disjoint chunks. Map-side only — callers
    * posexplode to (chunk_idx, chunk) rows; row amplification is
    * ~n_tokens/stride. */
  def tokenChunks(words: Column, size: Int, stride: Int): Column = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    transform(
      sequence(lit(1), greatest(org.apache.spark.sql.functions.size(words),
        lit(1)), lit(stride)),
      st => concat_ws(" ", slice(words, st, lit(size))))
  }

  /** Set Jaccard similarity of two (distinct-element) arrays, as the exact
    * double quotient of two small ints — bit-identical across engines. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Count of tokens belonging to a (small, literal) stopword list. */
  def stopwordCount(words: Column, stopwords: Seq[String]): Column =
    size(filter(words, w => w.isin(stopwords: _*)))

  /** L11 language ID: marker-word scores per (doc, lang) via a broadcast
    * feature lookup, then the best language per doc under a deterministic
    * (score desc, lang asc) tie-break. `markers` must carry columns
    * (m_word, m_lang, m_weight). Returns (id, m_lang, score) — docs with
    * no marker hits are absent (callers left-join + coalesce a fallback).
    * Shared by the standalone lang-id query and the curation pipeline so
    * the scoring rule cannot drift between them. */
  def langIdBest(docs: DataFrame, id: String, text: Column,
                 markers: DataFrame): DataFrame =
    RelationalOps.topKPerGroup(
        docs.select(col(id), explode(tokens(text)).as("__word"))
          .join(broadcast(markers), col("__word") === col("m_word"))
          .groupBy(col(id), col("m_lang"))
          .agg(sum(col("m_weight")).as("score")),
        Seq(id), Seq(col("score").desc, col("m_lang")), 1, "__rn")
      .select(col(id), col("m_lang"), col("score"))

  /** PII-scrub patterns — kept to plain character classes so Java regex
    * (Spark) and RE2 (oracle engines) match identically. Order matters
    * when composing: redact EMAILS FIRST — the email pattern contains
    * digits that the number pattern would otherwise mangle. */
  val EmailPattern = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  val NumberPattern = "[0-9]+"

  /** Replace every match of `pattern` with `token` (L18 redaction).
    * Replacement-string semantics: `regexp_replace` EXPANDS `$n` group
    * references and backslash escapes in `token`, while the fused
    * [[redactCount]] inserts the token VERBATIM — identical for the
    * plain `<EMAIL>`/`<NUM>`-style tokens this library uses, divergent
    * the moment a token carries '$' or '\' (ADVICE r13; the fused
    * kernel rejects such tokens at construction so a swap between the
    * two forms cannot silently change output). */
  def redact(c: Column, pattern: String, token: String): Column =
    regexp_replace(c, pattern, token)

  /** Count of `pattern` matches (redaction audit metric). */
  def matchCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** Fused count + redact in ONE regex traversal — struct<n:int,
    * s:string>, equal to (matchCount(c), redact(c)) computed together.
    * The scrub hot path's scale form: the regex walk dominates, so the
    * fused kernel halves the per-row bill vs the two-call composition.
    * Inserts `token` VERBATIM — no `$n`/backslash expansion (see
    * [[redact]]'s note); tokens containing '$' or '\' are rejected so
    * the two forms stay interchangeable on every accepted input. */
  def redactCount(c: Column, pattern: String, token: String): Column = {
    require(!token.contains('$') && !token.contains('\\'),
      s"redactCount: token '$token' contains '$$' or '\\' — " +
        "regexp_replace would expand it, the fused kernel inserts " +
        "verbatim; use redact()+matchCount() or a plain token")
    call_function("redact_count", c, lit(pattern), lit(token))
  }

  /** Fused token census — struct<nt, nd, ns> = (token count, EXACT
    * distinct count, stopword hits) in one byte walk with zero per-row
    * array allocation; equals size(tokens), size(array_distinct(tokens)),
    * stopwordCount(tokens) composed ([[graft.functions.TokenCensus]]). */
  def tokenCensus(c: Column, stopwords: Seq[String]): Column =
    call_function("token_census", (c +: stopwords.map(lit(_))): _*)

  /** Minhash-style single-value fingerprint: min 32-bit hash over the
    * distinct token set. */
  def minTokenHash(words: Column): Column =
    array_min(transform(array_distinct(words), w => hash32(w)))

  /** Winnowing-style content fingerprint: min hash over every `width`-char
    * sliding window of the raw text. O(chars) md5s per doc, map-side only. */
  def rollingFingerprint(text: Column, width: Int): Column =
    when(length(text) >= width,
      array_min(transform(sequence(lit(1), length(text) - (width - 1)),
        i => hash32(text.substr(i, lit(width))))))
      .otherwise(hash32(text))

  /** Byte-pair-encoding merge training (Sennrich et al. 2016) — the
    * first `rounds` merge rules learned from the corpus, i.e. the
    * tokenizer-training artifact itself: per round, the most frequent
    * adjacent symbol pair (weighted by word count, ties totalized by
    * (count desc, left, right)) merges into one symbol everywhere,
    * greedily left-to-right within each word — exactly the classic
    * algorithm, so the merge table is deterministic and hash-verifiable.
    *
    * Representation: each word's symbol sequence is ONE sep-delimited
    * string ("␟c␟a␟t␟"); applying a merge is a plain `replace` of
    * "␟l␟r␟" with "␟lr␟" — both engines' replace scans left-to-right
    * non-overlapping, which IS BPE's within-word greedy application
    * (overlapping runs like "aaa" merge to "aa"+"a"). No lambda fold,
    * no per-round schema churn.
    *
    * Scale: ONE corpus-scale shuffle (the word-count groupBy), enforced
    * by a lazy localCheckpoint of the symbol table each round — round
    * 1's argmax materializes the word table (the only corpus scan); every
    * later round reads the previous round's checkpointed VOCABULARY
    * table (corpus-independent) plus one replace. The per-round work is
    * a combinable pair-count aggregate whose argmax (1 row) comes to the
    * driver, exactly the [[graft.operators.VectorOps]] kmeansTrain loop
    * shape; the checkpoint also truncates the replace lineage, so 30k+
    * merge rounds keep a flat plan. TablesSpec-style pin:
    * LlmOpsSpec asserts exactly one corpus scan across rounds. */
  def bpeMerges(docs: DataFrame, text: Column, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds $rounds must be >= 1")
    val sep = "\u001f" // unit separator: cannot occur in tokenized text
    val spark = docs.sparkSession
    val wc = docs.select(explode(tokens(text)).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    // split("", -1) keeps a trailing empty element — filter it so the
    // symbol string matches the oracle's char-list form exactly.
    // Lazy localCheckpoint: round 1's argmax materializes the word table
    // once (the ONLY corpus scan); every later round reads the previous
    // round's checkpointed table plus one replace, instead of replaying
    // tokenize+count+replace-chain from the corpus each round.
    var cur = wc.select(col("n"),
      concat(lit(sep),
        array_join(filter(split(col("w"), ""), x => length(x) > 0), sep),
        lit(sep)).as("s")).localCheckpoint(false)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var prev: DataFrame = null
    for (round <- 1 to rounds) {
      val syms = filter(split(col("s"), sep), x => length(x) > 0)
      val m = size(syms) - 1
      val pairs = when(m >= 1, transform(sequence(lit(1), m), i =>
        struct(element_at(syms, i).as("l"),
          element_at(syms, i + 1).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
      val best = cur.select(col("n"), explode(pairs).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      // The argmax job materialized `cur`, so the table it was derived
      // from is dead: free its blocks now rather than at driver GC.
      if (prev != null) GraphOps.releaseCheckpoint(prev)
      prev = cur
      require(best.nonEmpty,
        s"vocabulary exhausted after ${round - 1} merges; lower `rounds`")
      val (l, r, cnt) =
        (best.head.getString(0), best.head.getString(1),
          best.head.getLong(2))
      merges += ((round, l, r, l + r, cnt))
      if (round < rounds)
        cur = cur.withColumn("s", call_function("replace", col("s"),
          lit(sep + l + sep + r + sep), lit(sep + l + r + sep)))
          .localCheckpoint(false)
    }
    GraphOps.releaseCheckpoint(cur)
    import spark.implicits._
    merges.result()
      .toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
  }

  /** Apply an ORDERED BPE merge-rule list (the [[bpeMerges]] training
    * artifact) to a table of word TYPES: adds `n_subtokens`, the symbol
    * count after every rule has applied greedily left-to-right within the
    * word — tokenizer APPLICATION, the other half of L102's training.
    * Same sep-string representation as [[bpeMerges]], so a rule list
    * learned there segments identically here (and identically to the
    * oracle's replace chain).
    *
    * Scale: a pure map-side expression chain (one `replace` per rule —
    * rule lists are small by construction: they ARE the tokenizer), meant
    * to run over the VOCABULARY (distinct word types), never token
    * occurrences — callers join the segmented types back to occurrences
    * by word (q121), so the replace chain runs |V| times, not |corpus
    * tokens| times. */
  def bpeSubtokens(words: DataFrame, word: Column,
                   merges: Seq[(String, String)]): DataFrame = {
    val sep = "\u001f" // unit separator, as in bpeMerges
    val s0 = concat(lit(sep),
      array_join(filter(split(word, ""), x => length(x) > 0), sep),
      lit(sep))
    val sN = merges.foldLeft(s0) { case (s, (l, r)) =>
      call_function("replace", s,
        lit(sep + l + sep + r + sep), lit(sep + l + r + sep))
    }
    words.withColumn("n_subtokens",
      size(filter(split(sN, sep), x => length(x) > 0)).cast("long"))
  }

  /** LM-predictability census: the share of a slice's (n−1-gram context,
    * next-token) events that a count-LM table ([[ngramNextTokens]] shape:
    * unique (context, next_token) rows) predicts. High predicted share =
    * template/boilerplate-like text (the LM already knows it); low =
    * novel text — the memorization/diversity probe run per source before
    * mixing corpora, and the LM-side twin of L36's eval-set
    * decontamination. Output per group: n_ngrams, n_predicted, and the
    * exact int/int `predicted_share`.
    *
    * Shape: pairs expand map-side ([[ngramPairs]]), then the probe side
    * AGGREGATES to (group, context, next) counts BEFORE the join — a
    * combinable shuffle that collapses repeated n-grams, so the join
    * probes distinct events, not raw occurrences (at 100 TB the repeat
    * factor is exactly what makes raw-occurrence joins explode). ONE
    * equi-join on (context, next_token) against the LM table (LM rows
    * are unique, so the left join never fans out), one bounded group
    * rollup weighted by the collapsed counts. No broadcast assumption —
    * trained LM tables outgrow driver memory. */
  def lmNoveltyStats(docs: DataFrame, group: Column, text: Column,
                     lm: DataFrame, n: Int): DataFrame = {
    val tri = docs.select(group.as("grp"),
        explode(ngramPairs(text, n)).as("__p"))
      .select(col("grp"), col("__p.ctx").as("context"),
        col("__p.nxt").as("next_token"))
      .groupBy(col("grp"), col("context"), col("next_token"))
      .agg(count(lit(1)).as("__cnt"))
    val hits = lm.select(col("context"), col("next_token"),
      lit(1).as("__hit"))
    tri.join(hits, Seq("context", "next_token"), "left")
      .groupBy(col("grp"))
      .agg(sum(col("__cnt")).as("n_ngrams"),
        sum(when(col("__hit").isNotNull, col("__cnt")).otherwise(0L))
          .as("n_predicted"))
      .withColumn("predicted_share",
        col("n_predicted").cast("double") / col("n_ngrams").cast("double"))
  }

  /** [[lmNoveltyStats]] with the LM TRAINED ON THE SAME CORPUS (the
    * self-boilerplate census): the probe side's (group, context, next)
    * count table is eagerly checkpointed and the LM derives from its
    * rollup — counts per (context, next) are the group-sums of the probe
    * counts — so the corpus's n-gram expansion runs ONCE where the
    * generic compose-it-yourself form ([[ngramNextTokens]] +
    * [[lmNoveltyStats]]) would expand it twice. Identical output to that
    * composition (spec-pinned); same `minContext`/top-`k` pruning. */
  def lmSelfNoveltyStats(docs: DataFrame, group: Column, text: Column,
                         n: Int, minContext: Long, k: Int): DataFrame = {
    val tri = docs.select(group.as("grp"),
        explode(ngramPairs(text, n)).as("__p"))
      .select(col("grp"), col("__p.ctx").as("context"),
        col("__p.nxt").as("next_token"))
      .groupBy(col("grp"), col("context"), col("next_token"))
      .agg(count(lit(1)).as("__cnt"))
      .localCheckpoint()
    // Self-trained means the LM's pruning flag is a pure function of the
    // probe table itself, so it evaluates as WINDOWS over tri instead of
    // a (context, next_token) rollup joined back (r18): n_ctx / n_next
    // are window sums, and dense_rank over (n_next desc, next_token)
    // equals the rollup's row_number — next_token is unique per distinct
    // pair within a context, so every tri row of one pair shares one
    // ordering key and distinct pairs order identically. One
    // context-hash exchange serves all three windows (the (context,
    // next_token) and rank windows ride the context clustering); the
    // former shape paid the rollup exchange plus both join sides'.
    val wCtx = Window.partitionBy(col("context"))
    val wPair = Window.partitionBy(col("context"), col("next_token"))
    val wRank = Window.partitionBy(col("context"))
      .orderBy(col("__nn").desc, col("next_token"))
    tri
      .withColumn("__nctx", sum(col("__cnt")).over(wCtx))
      .withColumn("__nn", sum(col("__cnt")).over(wPair))
      .withColumn("__rk", dense_rank().over(wRank))
      .groupBy(col("grp"))
      .agg(sum(col("__cnt")).as("n_ngrams"),
        sum(when(col("__nctx") >= minContext && col("__rk") <= k,
          col("__cnt")).otherwise(0L)).as("n_predicted"))
      .withColumn("predicted_share",
        col("n_predicted").cast("double") / col("n_ngrams").cast("double"))
  }

  /** Count-based n-gram language-model table: context (the n−1
    * preceding tokens) → next token, with counts and the conditional
    * probability P(next | context) = n_next / n_ctx — the training-data
    * artifact count LMs and contamination/memorization probes are built
    * from (and the exact-count core of Kneser-Ney style smoothing,
    * which layers arithmetic on these same tables). Keeps the top `k`
    * continuations per context (ties broken by token — deterministic)
    * for contexts seen at least `minContext` times.
    *
    * Shape: n-gram pairs expand MAP-SIDE (one transform over the token
    * array — no join, no shuffle to build pairs), one combinable
    * (context, next) count shuffle, then both the context total and the
    * top-k rank ride ONE context-partitioned exchange. Group sizes are
    * bounded by vocabulary (a context has at most |V| continuations);
    * a pathologically hot context at 100 TB takes the q63 salted
    * two-level top-k shape instead. Probability is one exact-int double
    * division — hash-stable. */
  /** Map-side (context, next-token) n-gram pair expansion: every length-n
    * window of the token array as a (space-joined n−1-gram context, next
    * token) struct — the shared kernel of [[ngramNextTokens]] (LM
    * training) and [[lmNoveltyStats]] (LM scoring). Pure expression over
    * the row's own tokens: no join, no shuffle. */
  def ngramPairs(text: Column, n: Int): Column = {
    val w = tokens(text)
    val m = size(w) - (n - 1)
    when(m >= 1, transform(sequence(lit(1), m), i =>
      struct(array_join(slice(w, i, lit(n - 1)), " ").as("ctx"),
        element_at(w, i + (n - 1)).as("nxt"))))
      .otherwise(array().cast("array<struct<ctx:string,nxt:string>>"))
  }

  def ngramNextTokens(docs: DataFrame, text: Column, n: Int,
                      minContext: Long, k: Int): DataFrame = {
    require(n >= 2, s"n-gram order $n must be >= 2")
    val c = docs.select(explode(ngramPairs(text, n)).as("__p"))
      .select(col("__p.ctx").as("context"), col("__p.nxt").as("next_token"))
      .groupBy(col("context"), col("next_token"))
      .agg(count(lit(1)).as("n_next"))
    val wc = Window.partitionBy(col("context"))
    val wr = Window.partitionBy(col("context"))
      .orderBy(col("n_next").desc, col("next_token"))
    c.withColumn("n_ctx", sum(col("n_next")).over(wc))
      .withColumn("__rk", row_number().over(wr))
      .filter(col("n_ctx") >= minContext && col("__rk") <= k)
      .select(col("context"), col("next_token"), col("n_next"),
        col("n_ctx"),
        (col("n_next").cast("double") / col("n_ctx").cast("double"))
          .as("prob"))
  }

  /** Adjacent-bigram collocation mining by LIFT:
    * lift(x,y) = P(xy) / (P(x)·P(y)) = c_xy·N / (c_x·c_y) over bigram
    * occurrences — PMI's argument WITHOUT the log, deliberately: the
    * ratio is one exact-integer-input double division (hash-stable
    * cross-engine), while ln() is libm-dependent, and the RANKING is
    * identical (log is monotone). High-lift pairs are collocations
    * (phrases, boilerplate); the vocabulary-quality signal tokenizer
    * and n-gram dedup thresholds get tuned against.
    *
    * Shape: map-side zip_with bigrams (explode ≈ n_tokens rows), one
    * combinable (w1, w2) count shuffle; marginals are two
    * vocabulary-sized rollups of the bigram-count table joined back
    * (vocabulary ≪ corpus); top-k is TakeOrderedAndProject — a
    * per-partition top-k + bounded merge, never a global sort.
    *
    * The bigram-count table is MATERIALIZED (eager localCheckpoint,
    * r17): four consumers reference it (both marginals, the grand
    * total, the filtered pair list), and without materialization each
    * re-derives the corpus explode+count subtree — AQE's runtime stage
    * reuse is best-effort, and the pre-exec plan showed four separate
    * corpus scans. The checkpoint pins the corpus cost to ONE pass at
    * any scale; everything downstream reads the vocabulary²-bounded
    * count table. */
  def collocationLift(docs: DataFrame, text: Column, minCount: Int,
                      k: Int): DataFrame = {
    val w = tokens(text)
    val n1 = greatest(size(w) - 1, lit(0))
    val bg = zip_with(slice(w, lit(1), n1), slice(w, lit(2), n1),
      (x, y) => struct(x.as("w1"), y.as("w2")))
    val c = docs.select(explode(bg).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .localCheckpoint()
    val cx = c.groupBy(col("w1")).agg(sum(col("n_pair")).as("__cx"))
    val cy = c.groupBy(col("w2")).agg(sum(col("n_pair")).as("__cy"))
    val nb = c.agg(sum(col("n_pair")).as("__nb"))
    c.filter(col("n_pair") >= minCount)
      .join(cx, "w1").join(cy, "w2").crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("n_pair"),
        ((col("n_pair").cast("double") * col("__nb").cast("double")) /
          (col("__cx").cast("double") * col("__cy").cast("double")))
          .as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** BM25 ranked retrieval: top-k documents per query over an on-the-fly
    * index — the classic lexical search scorer (Robertson/Spärck Jones
    * term saturation × length normalization). `queries` is a (query_id,
    * term) table; scoring uses the rational idf (N−df+0.5)/(df+0.5) — no
    * libm `ln` (the q41/q87 monotone-surrogate discipline: log is the
    * one op Spark's and the oracle's math libraries may round apart).
    *
    * Cross-engine exactness: each (doc, term) contribution is ONE fixed
    * IEEE op sequence over integer inputs (tf, dl, df, N — every +,−,×,÷
    * exactly rounded, so both engines produce the same bits), scaled and
    * FLOORED to a BIGINT, and the per-doc score is the INTEGER sum of
    * those — float summation order never arises.
    *
    * Scale: the exploded token stream is pruned by a broadcast join
    * against the query terms BEFORE any aggregation — the tf shuffle
    * carries only matching postings, never the corpus's token stream.
    * dl rides each exploded row (max-carried through the tf groupBy), so
    * no doc-side join; df and the (N, Σdl) globals are query-term- and
    * 1-row-sized broadcasts off the pruned table. Final top-k is a
    * per-query window over candidate docs only. */
  def bm25TopK(docs: DataFrame, id: String, text: Column,
               queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               scale: Double = 1e6): DataFrame = {
    val toks = docs.select(col(id), tokens(text).as("__toks"))
      .select(col(id), col("__toks"),
        size(col("__toks")).cast("long").as("__dl"))
    val g = toks.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sumdl"))
    val tf = toks
      .select(col(id), col("__dl"), explode(col("__toks")).as("term"))
      .join(broadcast(queries.select(col("query_id"), col("term"))),
        Seq("term"))
      .groupBy(col("query_id"), col("term"), col(id))
      .agg(count(lit(1)).as("__tf"), max(col("__dl")).as("__dl"))
    val dfreq = tf.select(col("term"), col(id)).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val avgdl = col("__sumdl").cast("double") / col("__n").cast("double")
    val idf = ((col("__n") - col("__df")).cast("double") + lit(0.5)) /
      (col("__df").cast("double") + lit(0.5))
    val satu = (col("__tf").cast("double") * lit(k1 + 1.0)) /
      (col("__tf").cast("double") + lit(k1) *
        (lit(1.0 - b) + lit(b) * (col("__dl").cast("double") / avgdl)))
    val perDoc = tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(g))
      .select(col("query_id"), col(id),
        floor((idf * satu) * lit(scale)).as("__fp"))
      .groupBy(col("query_id"), col(id))
      .agg(sum(col("__fp")).as("score_fp"), count(lit(1)).as("n_terms"))
    RelationalOps.topKPerGroup(perDoc, Seq("query_id"),
        Seq(col("score_fp").desc, col(id)), k, "rank")
      .select(col("query_id"), col(id), col("rank"), col("score_fp"),
        col("n_terms"))
  }

  /** [[bm25TopK]] served from a PRECOMPUTED (id, term, tf, dl) relation —
    * the form the session's bucketed term-frequency artifact feeds: `dl`
    * (the doc's total token count, identical to `size(tokens)`) rides
    * every posting row, document frequencies come from the
    * distinct-(id, term) row contract, so scores are bit-identical to
    * the from-text path while the corpus tokenize+count shuffle is paid
    * once per session instead of per query. `nDocs` is a 1-row frame
    * with `__n` = TOTAL corpus document count (including docs absent
    * from `tfRel` because their text is null — the tf relation cannot
    * see those).
    *
    * Shape (VERDICT r11 #2): the carried `dl` removes BOTH per-doc
    * passes the first conversion paid — the corpus-wide
    * `groupBy(id).sum(tf)` (a doc-keyed shuffle the term-bucketed
    * layout cannot serve) and the doc-keyed join planting `dl` back on
    * the pruned postings. What remains is one map-side artifact scan
    * for Σdl = Σtf (combinable partial aggregate, no exchange — every
    * token counted once either way) and the broadcast-pruned posting
    * path. */
  def bm25TopKFromTf(tfRel: DataFrame, id: String, nDocs: DataFrame,
                     queries: DataFrame, k: Int,
                     k1: Double = 1.2, b: Double = 0.75,
                     scale: Double = 1e6): DataFrame = {
    val g = nDocs.crossJoin(tfRel.agg(sum(col("tf")).as("__sumdl")))
    val tf = tfRel
      .join(broadcast(queries.select(col("query_id"), col("term"))),
        Seq("term"))
      .select(col("query_id"), col("term"), col(id), col("tf").as("__tf"),
        col("dl").as("__dl"))
    val dfreq = tf.select(col("term"), col(id)).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val avgdl = col("__sumdl").cast("double") / col("__n").cast("double")
    val idf = ((col("__n") - col("__df")).cast("double") + lit(0.5)) /
      (col("__df").cast("double") + lit(0.5))
    val satu = (col("__tf").cast("double") * lit(k1 + 1.0)) /
      (col("__tf").cast("double") + lit(k1) *
        (lit(1.0 - b) + lit(b) * (col("__dl").cast("double") / avgdl)))
    val perDoc = tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(g))
      .select(col("query_id"), col(id),
        floor((idf * satu) * lit(scale)).as("__fp"))
      .groupBy(col("query_id"), col(id))
      .agg(sum(col("__fp")).as("score_fp"), count(lit(1)).as("n_terms"))
    RelationalOps.topKPerGroup(perDoc, Seq("query_id"),
        Seq(col("score_fp").desc, col(id)), k, "rank")
      .select(col("query_id"), col(id), col("rank"), col("score_fp"),
        col("n_terms"))
  }

  /** Positional phrase search over an inverted index with positions —
    * the retrieval primitive BM25 ([[bm25TopK]]) can't express: "these
    * terms, ADJACENT, in order". A phrase of terms t_0..t_{m-1} matches
    * at start s iff token(s+i) = t_i for every i, i.e. every matching
    * posting votes for the same (doc, pos − i) start and a start wins
    * when it collects all m distinct offsets.
    *
    * Shape: the phrase-term table BROADCASTS onto the corpus posting
    * scan (only tokens appearing in some phrase survive the join — the
    * corpus-side fan-out is bounded by phrase vocabulary, never corpus
    * vocabulary); one (phrase, doc, start) count shuffle on the
    * surviving postings; per-(phrase, doc) occurrence counts are exact
    * longs. The posting explode itself is map-side. */
  def phraseSearch(docs: DataFrame, id: String, text: Column,
                   phrases: DataFrame): DataFrame = {
    val terms = phrases.select(col("phrase_id"),
      posexplode(tokens(col("phrase"))).as(Seq("__i", "__pt")))
    val nTerms = phrases.select(col("phrase_id"),
      size(tokens(col("phrase"))).as("__nt"))
    val post = docs.select(col(id).as("doc_id"),
      posexplode(tokens(text)).as(Seq("__pos", "__tok")))
    post.join(broadcast(terms), col("__tok") === col("__pt"))
      .select(col("phrase_id"), col("doc_id"),
        (col("__pos") - col("__i")).as("__start"), col("__i"))
      .groupBy(col("phrase_id"), col("doc_id"), col("__start"))
      .agg(countDistinct(col("__i")).as("__hits"))
      .join(broadcast(nTerms), Seq("phrase_id"))
      .filter(col("__hits") === col("__nt"))
      .groupBy(col("phrase_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Cross-source n-gram contamination matrix — the pairwise overlap
    * census run between corpus shards (and between train and eval sets)
    * before mixing: for every source pair, how many distinct word
    * `n`-gram shingle hashes they share, with per-source set sizes and
    * the Jaccard. The q60 decontamination pass removes against ONE eval
    * set; this is the all-pairs audit of which sources bleed into which.
    *
    * Shape: one corpus shingle expansion → DISTINCT (source, hash) set
    * (combinable); the self-join joins per-hash source lists — fan-out
    * per hash is bounded by sources² (20 sources → ≤ 190 pairs), never
    * corpus-sized; totals broadcast back onto the group-cardinality
    * pair table. Counts exact; Jaccard one int/int division.
    *
    * The shingle pass is the fused `word_shingle_hashset` kernel (r17):
    * hashes stream out of one byte walk with per-doc dedup — no n-token
    * string materialization per window (the composed
    * wordShingles→hash32 form built a 13-word string per shingle just
    * to hash it). Spec-pinned hash-identical to the composed form
    * (LlmOpsSpec "hash-SET kernels"), so the distinct (source, hash)
    * relation — and every count downstream — is unchanged. */
  def crossSourceOverlap(docs: DataFrame, group: Column, text: Column,
                         n: Int): DataFrame = {
    val sh = docs.select(group.as("grp"),
        explode(call_function("word_shingle_hashset", text, lit(n)))
          .as("__h"))
      .distinct()
    val tot = sh.groupBy(col("grp")).agg(count(lit(1)).as("__n"))
    val pairs = sh.select(col("grp").as("src_a"), col("__h"))
      .join(sh.select(col("grp").as("src_b"), col("__h").as("__h2")),
        col("__h") === col("__h2") && col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(tot.select(col("grp").as("src_a"),
        col("__n").as("n_a"))), Seq("src_a"))
      .join(broadcast(tot.select(col("grp").as("src_b"),
        col("__n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_common"), col("n_a"),
        col("n_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** Exact floor(log2(x)) for a positive long — `length(bin(x)) - 1`,
    * pure integer/string ops, so both engines agree bit-for-bit where a
    * transcendental `log` could round differently at powers of two.
    * DuckDB twin: `length(bin(x)) - 1`. */
  def ilog2(x: Column): Column = (length(bin(x)) - 1).cast("int")

  /** Zipf rank-frequency slope census per group — does the vocabulary
    * follow the power law natural text does? (Synthetic/template corpora
    * flatten; boilerplate steepens.) The regression runs on QUANTIZED
    * log coordinates: x = floor(log2 rank), y = floor(log2 freq)
    * ([[ilog2]] — exact integers), so the OLS sufficient statistics
    * (n, Σx, Σy, Σxy, Σx²) are exact longs that combine map-side, and
    * slope/intercept are each ONE final double expression — the q77
    * trend discipline with the transcendental quantized away.
    *
    * Shape: one (group, token) count shuffle, one group-partitioned
    * rank window (vocabulary-bounded groups), one combinable stats
    * aggregate. Degenerate groups (all ranks in one log2 bucket) return
    * null slope rather than dividing by zero. */
  def zipfSlope(docs: DataFrame, group: Column, text: Column): DataFrame =
    zipfSlopeFromCounts(docs
      .select(group.as("grp"), explode(tokens(text)).as("__tok"))
      .groupBy(col("grp"), col("__tok"))
      .agg(count(lit(1)).as("__n")))

  /** [[zipfSlope]] served from a precomputed (grp, __tok, __n) term-count
    * relation (the bucketed tf artifact, re-grouped per source) — same
    * exact-integer OLS, corpus tokenization paid once per session. */
  def zipfSlopeFromCounts(tc: DataFrame): DataFrame = {
    val wr = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
      .orderBy(col("__n").desc, col("__tok"))
    val pts = tc.withColumn("__r", row_number().over(wr).cast("long"))
      .select(col("grp"), ilog2(col("__r")).cast("long").as("__x"),
        ilog2(col("__n")).cast("long").as("__y"))
    val st = pts.groupBy(col("grp")).agg(count(lit(1)).as("n_types"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"))
    val den = st("n_types") * col("__sxx") - col("__sx") * col("__sx")
    val num = st("n_types") * col("__sxy") - col("__sx") * col("__sy")
    st.select(col("grp"), col("n_types"),
      when(den === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double")).as("zipf_slope"),
      when(den === 0, lit(null).cast("double"))
        .otherwise((col("__sy").cast("double") -
          (num.cast("double") / den.cast("double")) *
            col("__sx").cast("double")) / col("n_types").cast("double"))
        .as("zipf_intercept"))
  }

  /** Lexical-diversity census per group — the corpus-health panel
    * curation dashboards run per source/shard: token count, vocabulary
    * size (types), type-token ratio, hapax-legomenon share (types seen
    * once — high = noisy/OCR text, low = boilerplate), and the top
    * token's frequency share (high = template spam). ONE (group, token)
    * count shuffle feeds every statistic — types, tokens, hapax and max
    * all fold from the same table; doc counts ride a second cheap
    * group-sized aggregate. Counts are exact longs; each ratio is one
    * final int/int double division (hash-stable). Group cardinality is
    * bounded by vocabulary per group, combinable map-side — the 100 TB
    * shape. */
  def lexicalDiversity(docs: DataFrame, group: Column,
                       text: Column): DataFrame =
    lexicalDiversityFromCounts(
      docs.select(group.as("grp"), explode(tokens(text)).as("__tok"))
        .groupBy(col("grp"), col("__tok"))
        .agg(count(lit(1)).as("__n")),
      docs.groupBy(group.as("grp")).agg(count(lit(1)).as("n_docs")))

  /** [[lexicalDiversity]] from a precomputed (grp, __tok, __n) term-count
    * relation plus a (grp, n_docs) census — the tf-artifact route: every
    * statistic folds from the same counts, bit-identical to from-text. */
  def lexicalDiversityFromCounts(tc: DataFrame, nd: DataFrame): DataFrame = {
    val perGrp = tc.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("__n")).as("n_tokens"),
        sum(when(col("__n") === 1, 1L).otherwise(0L)).as("n_hapax"),
        max(col("__n")).as("top_count"))
    perGrp.join(nd, Seq("grp"))
      .select(col("grp"), col("n_docs"), col("n_tokens"), col("n_types"),
        col("n_hapax"), col("top_count"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("type_token_ratio"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_share"),
        (col("top_count").cast("double") / col("n_tokens").cast("double"))
          .as("top_share"))
  }

  /** Quantized DSIR importance score (Xie et al. 2023, arXiv:2302.03169,
    * "Data Selection for Language Models via Importance Resampling"):
    * score(d) = Σ_f c_{d,f}·[log p_target(f) − log p_raw(f)] over hashed
    * unigram features f — documents scoring high look like the target
    * distribution and get upsampled. The log is QUANTIZED to exact
    * integer floor(log2) ([[ilog2]]) so every contribution is an exact
    * long and the per-doc sum is order-free — no transcendental ever
    * evaluates (the BM25 fixed-point discipline, one step further).
    * With add-one smoothing over `buckets` features:
    *   score(d) = Σ_f c_{d,f}·[L(n_t(f)+1) − L(n_r(f)+1)]
    *            + n_d·[L(T_r + B) − L(T_t + B)],  L = floor(log2)
    * (the second term is the doc-length-proportional normalizer from the
    * totals ratio). `isTarget` marks the in-domain exemplar docs; the
    * raw distribution is the whole input.
    *
    * Shape: ONE token expansion → (doc, feature) counts (combinable);
    * the feature table folds to at most `buckets` rows → both count
    * tables and the totals BROADCAST; the per-doc score is one
    * combinable sum. At 100 TB: two bounded broadcasts + two shuffles,
    * both on pre-aggregated rows. */
  def dsirScore(docs: DataFrame, id: Column, text: Column,
                isTarget: Column, buckets: Int): DataFrame =
    // Eagerly checkpoint the (doc, feature) count table: raw counts,
    // target counts, totals and the final per-doc fold all branch from
    // it — without the checkpoint each branch would replay the corpus
    // tokenize+count shuffle (the q119 lesson). The table is bounded by
    // docs × min(doc_tokens, buckets) rows — far below token scale.
    dsirFromFeat(docs.select(id.as("doc_id"), isTarget.as("is_target"),
        explode(tokens(text)).as("__tok"))
      .select(col("doc_id"), col("is_target"),
        pmod(hash60(col("__tok")), lit(buckets.toLong)).as("__f"))
      .groupBy(col("doc_id"), col("is_target"), col("__f"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(), buckets)

  /** Shared DSIR tail: feature log-ratios + per-doc fold over the
    * checkpointed (doc_id, is_target, __f, __c) feature-count table. */
  private def dsirFromFeat(feat: DataFrame, buckets: Int): DataFrame = {
    val raw = feat.groupBy(col("__f")).agg(sum(col("__c")).as("__nr"))
    val tgt = feat.filter(col("is_target"))
      .groupBy(col("__f")).agg(sum(col("__c")).as("__nt"))
    val lr = raw.join(tgt, Seq("__f"), "left")
      .select(col("__f"),
        (ilog2(coalesce(col("__nt"), lit(0L)) + 1) -
          ilog2(col("__nr") + 1)).cast("long").as("__lr"))
    val totals = raw.agg(sum(col("__nr")).as("__tr"))
      .crossJoin(tgt.agg(sum(col("__nt")).as("__tt")))
      .select((ilog2(col("__tr") + buckets) -
        ilog2(coalesce(col("__tt"), lit(0L)) + buckets))
        .cast("long").as("__norm"))
    feat.join(broadcast(lr), Seq("__f"))
      .groupBy(col("doc_id"), col("is_target"))
      .agg(sum(col("__c")).as("n_tokens"),
        sum(col("__c") * col("__lr")).as("__s"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("is_target"), col("n_tokens"),
        (col("__s") + col("n_tokens") * col("__norm")).as("dsir_score"))
  }

  /** [[dsirScore]] served from a precomputed (doc_id, term, tf) relation
    * carrying the target marker column — the tf-artifact route: the
    * (doc, feature) counts fold as `sum(tf)` over hashed terms instead
    * of re-exploding the corpus (identical integers — a feature's count
    * is the same whether tokens are counted one at a time or per-term),
    * so scores are bit-identical while the tokenize shuffle is paid once
    * per session. The rest of the pipeline (checkpointed feature table,
    * broadcast log-ratios, one combinable per-doc fold) is [[dsirScore]]
    * verbatim. */
  def dsirScoreFromTf(tfRel: DataFrame, id: Column, isTarget: Column,
                      buckets: Int): DataFrame =
    dsirFromFeat(tfRel.select(id.as("doc_id"), isTarget.as("is_target"),
        pmod(hash60(col("term")), lit(buckets.toLong)).as("__f"),
        col("tf"))
      .groupBy(col("doc_id"), col("is_target"), col("__f"))
      .agg(sum(col("tf")).as("__c"))
      .localCheckpoint(), buckets)

  /** Cross-document boilerplate census — the C4-style screen for
    * templated spans (headers, navigation, legal footers) that repeat
    * ACROSS documents rather than within one (q59/q70/q138 measure
    * within-doc repetition; this is the corpus-frequency complement).
    * A word n-gram is boilerplate when it appears in at least
    * `minDocPct`% of documents (integer comparison df·100 ≥ pct·N — the
    * threshold scales with the corpus, no magic absolute count). Each
    * doc then reports the fraction of its DISTINCT n-grams that are
    * boilerplate, bucketed into 11 integer deciles (⌊10·b/s⌋, exact —
    * bucket 10 = fully templated) and censused.
    *
    * Shape: one shingle explode → distinct (doc, gram) pairs (the
    * combinable distinct-aggregate shuffle a df count needs anyway) →
    * gram document-frequencies (combinable) joined back on gram — an
    * equi-join on the exploded table, NOT a second corpus scan
    * (localCheckpoint pins the pair table so both the df aggregate and
    * the join read one materialization) → per-doc boolean counts →
    * bounded census. Output is ≤ 11 rows regardless of corpus size. */
  def boilerplateCensus(docs: DataFrame, id: Column, words: Column,
                        n: Int, minDocPct: Int): DataFrame = {
    require(n >= 1 && minDocPct >= 1 && minDocPct <= 100,
      s"bad n=$n minDocPct=$minDocPct")
    val pairs = docs
      .select(id.as("doc_id"), explode(wordShingles(words, n)).as("__g"))
      .distinct()
      .localCheckpoint()
    val nDocs = pairs.agg(countDistinct(col("doc_id")).as("__nd"))
    val dfreq = pairs.groupBy(col("__g"))
      .agg(count(lit(1)).as("__df"))
    pairs.join(dfreq, "__g")
      .crossJoin(broadcast(nDocs))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__s"),
        sum(when(col("__df") * 100 >= lit(minDocPct) * col("__nd"), 1L)
          .otherwise(0L)).as("__b"))
      .groupBy(expr("CAST((__b * 10) div __s AS INT)").as("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__s")).as("n_grams"),
        sum(col("__b")).as("n_boiler_grams"))
  }

  /** [[boilerplateCensus]] served from a PRECOMPUTED distinct
    * `(doc_id, term)` gram relation — the session's bucketed n-gram
    * artifact: its rows ARE the distinct (doc, shingle) pairs
    * (`wordShingles` = `array_distinct(wordShinglesMulti)`, and the
    * artifact groups the multiset), so the census is value-identical
    * while the corpus shingle explode + distinct shuffle + checkpoint
    * disappear — the document-frequency aggregate AND the df join both
    * ride the term-bucketed layout exchange-free, leaving one compact
    * (doc, ints) shuffle for the per-doc rollup. */
  def boilerplateCensusFromTf(pairsRel: DataFrame,
                              minDocPct: Int): DataFrame = {
    require(minDocPct >= 1 && minDocPct <= 100, s"bad minDocPct=$minDocPct")
    val pairs = pairsRel.select(col("doc_id"), col("term").as("__g"))
    val nDocs = pairs.agg(countDistinct(col("doc_id")).as("__nd"))
    val dfreq = pairs.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    pairs.join(dfreq, "__g")
      .crossJoin(broadcast(nDocs))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__s"),
        sum(when(col("__df") * 100 >= lit(minDocPct) * col("__nd"), 1L)
          .otherwise(0L)).as("__b"))
      .groupBy(expr("CAST((__b * 10) div __s AS INT)").as("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__s")).as("n_grams"),
        sum(col("__b")).as("n_boiler_grams"))
  }
}
