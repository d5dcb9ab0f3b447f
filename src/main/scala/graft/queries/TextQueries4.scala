package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.text.TextOps2

/** Fourth text pack: retrieval scoring (TF-IDF, BM25) and corpus
  * preparation (PII redaction, sliding-window chunking) — operators a
  * training-data pipeline runs between dedup and packing. */
object TextQueries4 extends QueryPack {

  private def docs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")

  /** email/phone scrub rules shared by query and test; the regexes stay
    * inside the Java∩RE2 intersection (no backrefs, no lookaround). */
  val PiiRules: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+1-555-[0-9]{4}", "<PHONE>"))

  val Bm25Terms = Seq("spark", "table", "hash")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TF-IDF: exact tf/df counts + ln score (rounded 6); the operator a
    // quality filter / keyword extractor builds on
    "t25_tfidf" -> ((s, dir) =>
      TextOps2.tfIdf(docs(s, dir), minTf = 4)),

    // BM25 against a literal query-term set: per-term contributions in
    // fixed summation order, global df/avglen broadcast back
    "t26_bm25" -> ((s, dir) =>
      TextOps2.bm25(docs(s, dir), Bm25Terms)),

    // PII redaction over INJECTED synthetic identifiers (the corpus is
    // synthetic words — real patterns are planted deterministically per
    // doc so the scrubber has real work and a predictable oracle)
    "t27_pii_redact" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
      TextOps2.redactPii(planted, PiiRules)
        .select(col("doc_id"), col("n_email"), col("n_phone"),
          length(col("redacted")).as("red_len"),
          substring(col("redacted"), -30, 30).as("red_tail"))
    }),

    // sliding-window word chunking (50-word windows, stride 40):
    // training/RAG window preparation with kept tails
    "t28_chunk_overlap" -> ((s, dir) =>
      TextOps2.chunkWords(docs(s, dir), 50, 40)),

    // deterministic output sharding + per-(shard, source) balance
    "t29_shard_assign" -> ((s, dir) =>
      TextOps2.shardAssign(docs(s, dir), 16)),

    // unigram-LM quality score (CCNet-style perplexity stage on the
    // corpus' own unigram model; dyadic-quantized ln keeps the per-doc
    // sum aggregation-order-independent)
    "t30_unigram_nll" -> ((s, dir) =>
      TextOps2.unigramLogLoss(docs(s, dir))),

    // portable count-min sketch: heavy-hitter estimates whose sketch
    // the oracle REPLAYS (md5 row hashes, counter sums, min-of-rows) —
    // an approximate structure under the full hash gate, not rows-only
    "t31_cms_heavy_hitters" -> ((s, dir) =>
      TextOps2.cmsHeavyHitters(docs(s, dir), 1024, 4, 100L)),

    // duplicate-span marking (shingle-window form of exact-substring
    // dedup, Lee et al. 2021): 20-word windows occurring >1× anywhere
    // in the corpus, with per-doc covered-word-position counts — the
    // amount a span-removal pass would delete
    "t33_dup_spans" -> ((s, dir) =>
      graft.text.TextOps3.duplicateSpans(docs(s, dir), 20)),

    // int8 embedding quantization + recall@5 of the quantized ranking
    // vs full precision (cosine is scale-invariant, so the quantized
    // ranking runs on raw integer dot products)
    "t34_int8_recall" -> ((s, dir) =>
      graft.text.TextOps3.int8Recall(
        s.read.parquet(s"$dir/embeddings.parquet"), 50, 5)),

    // Bloom-filter decontamination: benchmark 13-grams → 16384-bit/3-row
    // Bloom filter (broadcast), candidates tested; the oracle replays
    // the exact bit addressing so the sketch is hash-gated (flagged ⊇
    // exact is the one-sided FP contract)
    "t35_bloom_decontam" -> ((s, dir) =>
      graft.text.TextOps3.bloomDecontam(docs(s, dir))),

    // linear quality-classifier inference (hashed bag-of-words ×
    // broadcast dyadic weights — exact scores, zero-shuffle scoring)
    "t36_quality_classifier" -> ((s, dir) =>
      graft.text.TextOps3.linearQualityScore(docs(s, dir))
        .select(col("doc_id"), col("source"), col("n_toks"),
          col("score"), col("keep"))),

    // per-label embedding centroid + mean pairwise dot via the
    // (‖Σv‖² − Σ‖v‖²)/(n(n−1)) identity — no pairwise join
    "t37_embedding_diversity" -> ((s, dir) =>
      graft.text.TextOps3.embeddingDiversity(
        s.read.parquet(s"$dir/embeddings.parquet"))),

    // BPE-style pre-tokenization (the GPT-2 pre-tokenizer's regex
    // family, simplified to the Java∩RE2 intersection — no lookahead):
    // contraction suffixes, space-prefixed letter runs, digit runs,
    // punctuation runs, whitespace. Token budgeting over a corpus =
    // this count; zero-shuffle per-row expression work.
    "t38_pretoken_count" -> ((s, dir) => {
      val toks = regexp_extract_all(col("text"), lit(PretokenRegex), lit(0))
      docs(s, dir).select(col("doc_id"),
        size(toks).cast(LongType).as("n_pre"),
        size(array_distinct(toks)).cast(LongType).as("n_uniq"),
        round(col("n_chars").cast(DoubleType) / size(toks), 6)
          .as("chars_per_tok"))
    }),

    // DSIR data selection (Xie et al. 2023): top-100 raw docs by
    // hashed-unigram importance weight toward the lang='en' target
    // slice; dyadic-quantized ln keeps the score engine-exact
    "t40_dsir_select" -> ((s, dir) =>
      graft.text.TextOps3.dsirSelect(docs(s, dir), col("lang") === "en",
        1024, 100)),

    // BPE tokenizer training (Sennrich et al. 2016): first 8 merge
    // rules learned from the corpus word-frequency table — one corpus
    // scan, then iterations on the vocab aggregate only; the oracle
    // replays greedy merge application in position space
    "t41_bpe_train" -> ((s, dir) =>
      graft.text.BpeTrain.train(docs(s, dir), 8)),

    // corpus segmentation under the learned merges (t41's serving
    // pair): per-doc token counts via a broadcast (word → |tokens|)
    // vocab join — the corpus is scanned once, merges never touch it
    "t42_bpe_tokenize" -> ((s, dir) =>
      graft.text.BpeTrain.tokenizeCounts(docs(s, dir), 8))
  )

  /** GPT-2-ish pre-token pattern; kept inside Java∩RE2 like PiiRules.
    * Whitespace is the EXPLICIT class [ \t\n\f\r] — Java's \s also
    * matches vertical tab \x0B, RE2's does not, and t38 needs Spark
    * and DuckDB to tokenize identically. */
  val PretokenRegex: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+" +
      "| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"

  /** t41 oracle: the 8 BPE merge rounds unrolled as generated CTEs —
    * same scheme as the IVF trainer's unrolled Lloyd rounds. State is
    * (word, freq, pos, sym) rows; each round computes the argmax pair,
    * match positions, then the canonical greedy application via
    * gaps-and-islands (keep even offsets per island — equivalent to
    * the engine's left-to-right fold), and renumbers positions. */
  private def bpeOracleSql(n: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w AS (SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) > 0 AND length(word) <= 512 GROUP BY 1),
        |s0 AS MATERIALIZED (SELECT word, freq, gs.i AS pos,
        |    substr(word, CAST(gs.i AS INT), 1) AS sym
        |  FROM w CROSS JOIN generate_series(1, 512) gs(i)
        |  WHERE gs.i <= length(word))""".stripMargin)
    for (k <- 1 to n) {
      val p = s"s${k - 1}"
      sb.append(s""",
        |p$k AS MATERIALIZED (SELECT a.sym AS l, b.sym AS r, sum(a.freq) AS cnt
        |  FROM $p a JOIN $p b ON a.word = b.word AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |b$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
        |m$k AS MATERIALIZED (SELECT a.word, a.pos FROM $p a
        |  JOIN $p b ON a.word = b.word AND b.pos = a.pos + 1
        |  CROSS JOIN b$k WHERE a.sym = b$k.l AND b.sym = b$k.r),
        |k$k AS MATERIALIZED (SELECT word, pos FROM (
        |    SELECT word, pos, min(pos) OVER (PARTITION BY word, isl) AS m0
        |    FROM (SELECT word, pos,
        |        pos - row_number() OVER (PARTITION BY word ORDER BY pos)
        |          AS isl
        |      FROM m$k) x)
        |  WHERE (pos - m0) % 2 = 0),
        |s$k AS MATERIALIZED (SELECT word, freq,
        |    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, sym
        |  FROM (SELECT s.word, s.freq, s.pos,
        |      CASE WHEN ka.pos IS NOT NULL
        |        THEN (SELECT l || r FROM b$k) ELSE s.sym END AS sym
        |    FROM $p s
        |    LEFT JOIN k$k ka ON s.word = ka.word AND s.pos = ka.pos
        |    LEFT JOIN k$k kb ON s.word = kb.word AND s.pos = kb.pos + 1
        |    WHERE kb.pos IS NULL) t),
        |t$k AS MATERIALIZED (SELECT sum(freq) AS toks FROM s$k)""".stripMargin)
    }
    sb.toString
  }

  private def bpeTrainOracle(n: Int): String =
    bpeOracleSql(n) + "\n" + (1 to n).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS step, l AS "left", r AS "right",
         |  CAST(cnt AS BIGINT) AS pair_cnt,
         |  CAST((SELECT toks FROM t$k) AS BIGINT) AS corpus_tokens
         |FROM b$k""".stripMargin).mkString("\nUNION ALL\n")

  /** t42: same trained state, then per-doc token counts through the
    * (word → |tokens|) table from the final symbolization s{n}. */
  private def bpeTokenizeOracle(n: Int): String =
    bpeOracleSql(n) + s""",
      |wt AS MATERIALIZED (SELECT word, count(*) AS ntok
      |  FROM s$n GROUP BY word),
      |d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents)
      |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(wt.ntok) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(length(d.word)) AS DOUBLE) / sum(wt.ntok), 6)
      |    AS chars_per_tok
      |FROM d JOIN wt USING (word)
      |WHERE length(d.word) > 0 GROUP BY 1""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "t41_bpe_train" -> bpeTrainOracle(8),
    "t42_bpe_tokenize" -> bpeTokenizeOracle(8),
    "t25_tfidf" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  round(tf.tf * ln(n.n / df.df), 6) AS tfidf
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |WHERE tf.tf >= 4""".stripMargin,

    "t26_bm25" -> {
      val terms = Bm25Terms
      val tfs = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(string_split(text, ' '), x -> x = '$t')) AS tf$i"
      }.mkString(", ")
      val dfs = terms.indices.map(i =>
        s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
        .mkString(", ")
      val contribs = terms.indices.map { i =>
        s"""CASE WHEN tf$i > 0 THEN
           | ln((n - df$i + 0.5) / (df$i + 0.5)) *
           | (tf$i * ${1.2 + 1.0} /
           |  (tf$i + 1.2 * (${1.0 - 0.75} + 0.75 * len / avglen)))
           | ELSE 0.0 END""".stripMargin.replace("\n", "")
      }
      s"""WITH b AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS len, $tfs
         |  FROM documents),
         |g AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len) AS avglen, $dfs
         |      FROM b),
         |s AS (SELECT doc_id,
         |        round(${contribs.map(c => s"($c)").mkString(" + ")}, 6)
         |          AS bm25
         |      FROM b CROSS JOIN g)
         |SELECT doc_id, bm25 FROM s WHERE bm25 <> 0.0""".stripMargin
    },

    "t27_pii_redact" -> {
      val (emailPat, phonePat) = (PiiRules(0)._2, PiiRules(1)._2)
      s"""WITH p AS (SELECT doc_id,
         |    text || ' contact user' || doc_id || '@mail.example.com or +1-555-'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
         |  FROM documents),
         |r AS (SELECT doc_id,
         |    len(regexp_extract_all(text, '$emailPat')) AS n_email,
         |    len(regexp_extract_all(text, '$phonePat')) AS n_phone,
         |    regexp_replace(regexp_replace(text, '$emailPat', '<EMAIL>', 'g'),
         |      '$phonePat', '<PHONE>', 'g') AS redacted
         |  FROM p)
         |SELECT doc_id, CAST(n_email AS INT) AS n_email,
         |  CAST(n_phone AS INT) AS n_phone,
         |  CAST(length(redacted) AS INT) AS red_len,
         |  CASE WHEN length(redacted) >= 30
         |    THEN substring(redacted, length(redacted) - 29, 30)
         |    ELSE redacted END AS red_tail
         |FROM r""".stripMargin
    },

    "t28_chunk_overlap" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |             len(string_split(text, ' ')) AS n FROM documents),
        |s AS (SELECT doc_id, ws, n,
        |        unnest(generate_series(0, greatest(n - 1, 0), 40)) AS start
        |      FROM w)
        |SELECT doc_id, CAST(start // 40 AS INT) AS chunk_id,
        |  CAST(least(50, n - start) AS INT) AS n_words,
        |  ws[start + 1] AS w_first,
        |  ws[least(start + 50, n)] AS w_last
        |FROM s""".stripMargin,

    "t29_shard_assign" ->
      """WITH a AS (SELECT doc_id, source, n_chars,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 16 AS shard
        |  FROM documents)
        |SELECT shard, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM a GROUP BY 1, 2""".stripMargin,

    "t30_unigram_nll" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
        |v AS (SELECT word, sum(tf) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM v),
        |s AS (SELECT tf.doc_id, sum(tf.tf) AS len,
        |        sum(tf.tf * (floor(ln(v.cnt / tot.total) * 1048576.0 + 0.5)
        |          / 1048576.0)) AS s
        |      FROM tf JOIN v USING (word) CROSS JOIN tot GROUP BY 1)
        |SELECT doc_id, CAST(len AS BIGINT) AS len,
        |  round(-s / len, 6) AS nll
        |FROM s""".stripMargin,

    "t31_cms_heavy_hitters" -> {
      def b(i: Int) =
        s"('0x' || substring(md5('$i' || word), 1, 15))::BIGINT % 1024"
      val counterRows = (0 until 4).map(i =>
        s"SELECT $i AS i, ${b(i)} AS b, cnt FROM w").mkString("\n|    UNION ALL ")
      val addrRows = (0 until 4).map(i =>
        s"SELECT word, cnt, $i AS i, ${b(i)} AS b FROM w WHERE cnt >= 100")
        .mkString("\n|    UNION ALL ")
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |w AS (SELECT word, count(*) AS cnt FROM t GROUP BY 1),
         |c AS (SELECT i, b, sum(cnt) AS c FROM (
         |    $counterRows
         |  ) GROUP BY 1, 2),
         |a AS (
         |    $addrRows
         |  )
         |SELECT a.word, CAST(min(a.cnt) AS BIGINT) AS exact,
         |  CAST(min(c.c) AS BIGINT) AS est
         |FROM a JOIN c USING (i, b) GROUP BY 1""".stripMargin
    },

    "t33_dup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |             len(string_split(text, ' ')) AS n FROM documents),
        |pos AS (SELECT doc_id, ws,
        |          unnest(generate_series(0, n - 20)) AS p
        |        FROM w WHERE n >= 20),
        |sh AS (SELECT doc_id, p,
        |         ('0x' || substring(md5(
        |           array_to_string(list_slice(ws, p + 1, p + 20), ' ')
        |         ),1,15))::BIGINT AS s
        |       FROM pos),
        |d AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1),
        |m AS (SELECT sh.doc_id, sh.p FROM sh JOIN d USING (s)),
        |cov AS (SELECT doc_id, count(DISTINCT i) AS c FROM
        |          (SELECT doc_id, unnest(generate_series(p, p + 19)) AS i
        |           FROM m) GROUP BY 1),
        |nw AS (SELECT doc_id, count(*) AS nwin FROM sh GROUP BY 1),
        |nd AS (SELECT doc_id, count(*) AS ndup FROM m GROUP BY 1)
        |SELECT nw.doc_id, CAST(nwin AS BIGINT) AS n_windows,
        |  CAST(coalesce(ndup, 0) AS BIGINT) AS n_dup,
        |  CAST(coalesce(c, 0) AS BIGINT) AS n_covered
        |FROM nw LEFT JOIN nd USING (doc_id)
        |LEFT JOIN cov USING (doc_id)""".stripMargin,

    "t34_int8_recall" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |q8 AS (SELECT vec_id, v,
        |    greatest(list_max(list_transform(v, x -> abs(x))), 1.0) AS maxabs
        |  FROM e),
        |qq AS (SELECT vec_id, v,
        |    list_transform(v, x -> round(x * 127.0 / maxabs)) AS q FROM q8),
        |p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    round(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) *
        |       sqrt(list_dot_product(b.v, b.v))), 9) AS cos_full,
        |    round(list_dot_product(a.q, b.q) /
        |      (sqrt(list_dot_product(a.q, a.q)) *
        |       sqrt(list_dot_product(b.q, b.q))), 9) AS cos_q
        |  FROM qq a CROSS JOIN qq b
        |  WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id),
        |rf AS (SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos_full DESC, nid) AS rk
        |  FROM p),
        |rq AS (SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos_q DESC, nid) AS rk
        |  FROM p),
        |ff AS (SELECT qid, list(nid ORDER BY rk) AS fids FROM rf
        |       WHERE rk <= 5 GROUP BY qid),
        |fq AS (SELECT qid, list(nid ORDER BY rk) AS qids FROM rq
        |       WHERE rk <= 5 GROUP BY qid)
        |SELECT ff.qid,
        |  CAST(len(list_intersect(ff.fids, fq.qids)) AS DOUBLE) / 5 AS recall,
        |  ff.fids[1] AS top1_full, fq.qids[1] AS top1_q
        |FROM ff JOIN fq USING (qid)""".stripMargin,

    "t35_bloom_decontam" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |             len(string_split(text, ' ')) AS n FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        array_to_string(list_slice(ws, p + 1, p + 13), ' ') AS gram
        |      FROM (SELECT doc_id, ws,
        |              unnest(generate_series(0, n - 13)) AS p
        |            FROM w WHERE n >= 13)),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
        |ix AS (SELECT unnest([0, 1, 2]) AS i),
        |bits AS (SELECT DISTINCT
        |    ('0x' || substring(md5(i::VARCHAR || gram), 1, 15))::BIGINT % 16384
        |      AS b
        |  FROM bench CROSS JOIN ix),
        |cand AS (SELECT doc_id, gram FROM g WHERE doc_id >= 20),
        |pos AS (SELECT doc_id, gram,
        |    ('0x' || substring(md5(i::VARCHAR || gram), 1, 15))::BIGINT % 16384
        |      AS b
        |  FROM cand CROSS JOIN ix),
        |fl AS (SELECT doc_id, count(*) AS n_flagged FROM (
        |    SELECT doc_id, gram FROM pos JOIN bits USING (b)
        |    GROUP BY 1, 2 HAVING count(*) = 3) GROUP BY 1),
        |tr AS (SELECT doc_id, count(*) AS n_true
        |       FROM cand JOIN bench USING (gram) GROUP BY 1),
        |ng AS (SELECT doc_id, count(*) AS n_grams FROM cand GROUP BY 1)
        |SELECT ng.doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(coalesce(n_flagged, 0) AS BIGINT) AS n_flagged,
        |  CAST(coalesce(n_true, 0) AS BIGINT) AS n_true
        |FROM ng LEFT JOIN fl USING (doc_id)
        |LEFT JOIN tr USING (doc_id)""".stripMargin,

    "t36_quality_classifier" ->
      """WITH t AS (
        |  SELECT doc_id, source, t FROM (
        |    SELECT doc_id, source,
        |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
        |    FROM documents) WHERE t <> ''),
        |sc AS (
        |  SELECT doc_id, count(*) AS n_toks,
        |    sum((((('0x' || substring(md5(t), 1, 15))::BIGINT % 256)
        |          * 31 + 7) % 97 - 48) / 512.0) AS score
        |  FROM t GROUP BY 1)
        |SELECT d.doc_id, d.source,
        |  CAST(coalesce(sc.n_toks, 0) AS INTEGER) AS n_toks,
        |  coalesce(sc.score, 0.0) AS score,
        |  coalesce(sc.score, 0.0) > 0.0 AS keep
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,

    "t37_embedding_diversity" ->
      """WITH v AS (
        |  -- CAST first: x is FLOAT and DuckDB would multiply in float,
        |  -- while the engine quantizes in double (a half-ulp landed on
        |  -- the wrong side of .5 at sf0.1)
        |  SELECT vec_id, label, pos - 1 AS pos,
        |    round(CAST(x AS DOUBLE) * 1000) AS x
        |  FROM (SELECT vec_id, label,
        |          unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings)),
        |sq AS (SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n,
        |         sum(x * x) AS sum_sq
        |       FROM v GROUP BY 1),
        |ce AS (SELECT label, sum(sx * sx) AS centroid_sq FROM (
        |         SELECT label, pos, sum(x) AS sx FROM v GROUP BY 1, 2)
        |       GROUP BY 1)
        |SELECT sq.label, sq.n, ce.centroid_sq, sq.sum_sq,
        |  CASE WHEN sq.n > 1 THEN
        |    (ce.centroid_sq - sq.sum_sq) / CAST(sq.n * (sq.n - 1) AS DOUBLE)
        |  END AS mean_pair_dot
        |FROM sq JOIN ce USING (label)""".stripMargin,

    "t38_pretoken_count" ->
      s"""WITH p AS (SELECT doc_id, n_chars,
         |  regexp_extract_all(text,
         |    '${PretokenRegex.replace("'", "''")}') AS toks
         |  FROM documents)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_pre,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
         |  round(CAST(n_chars AS DOUBLE) / len(toks), 6) AS chars_per_tok
         |FROM p""".stripMargin,

    // replay: identical bucket addressing (portable md5 hash % 1024),
    // identical add-1 models, each ln dyadic-quantized before the sum
    "t40_dsir_select" ->
      """WITH w AS (SELECT doc_id, tgt,
        |    ('0x' || substring(md5(word), 1, 15))::BIGINT % 1024 AS b
        |  FROM (SELECT doc_id, lang = 'en' AS tgt,
        |          unnest(string_split(text, ' ')) AS word FROM documents)),
        |pd AS (SELECT doc_id, b, count(*) AS c FROM w GROUP BY 1, 2),
        |m AS (SELECT b, count(*) AS nr,
        |        sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt
        |      FROM w GROUP BY 1),
        |tot AS (SELECT sum(nr) AS totr, sum(nt) AS tott FROM m),
        |lr AS (SELECT b,
        |    floor(ln(CAST(nt + 1 AS DOUBLE)) * 1048576.0 + 0.5) / 1048576.0
        |  - floor(ln(CAST(tott + 1024 AS DOUBLE)) * 1048576.0 + 0.5) / 1048576.0
        |  - floor(ln(CAST(nr + 1 AS DOUBLE)) * 1048576.0 + 0.5) / 1048576.0
        |  + floor(ln(CAST(totr + 1024 AS DOUBLE)) * 1048576.0 + 0.5) / 1048576.0
        |    AS lr
        |  FROM m CROSS JOIN tot)
        |SELECT doc_id, CAST(len AS BIGINT) AS len, score FROM (
        |  SELECT pd.doc_id, sum(pd.c) AS len,
        |    round(sum(pd.c * lr.lr), 6) AS score
        |  FROM pd JOIN lr USING (b) GROUP BY 1)
        |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin
  )
}
