package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.text.{LangId, Winnowing}

/** Third text pack: language identification and winnowing
  * fingerprints — both exact-integer pipelines, so the DuckDB oracle
  * replays them verbatim (no rounding anywhere).
  */
object TextQueries3 extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Train slice (80%) for the language-ID profile. */
  private val TrainPred = col("doc_id") % 10 < 8
  val ProfileK = 100

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Language-ID (Cavnar-Trenkle char-trigram profiles): top-100
    // trigrams per lang from the 80% train slice, broadcast-scored
    // against the 20% held-out slice; prediction = matched-gram argmax
    "t20_langid" -> ((s, dir) => {
      val d = docs(s, dir)
      val prof = LangId.profile(d.filter(TrainPred), "text", "lang", ProfileK)
      LangId.classify(d.filter(!TrainPred), "text", prof)
    }),

    // Winnowing fingerprints (MOSS, SIGMOD'03): positional word-3-gram
    // hashes, window-4 minima, distinct per doc — local-overlap
    // fingerprinting that MinHash's bag-of-shingles can't do
    "t21_winnowing" -> ((s, dir) =>
      Winnowing.fingerprints(docs(s, dir), "text", 3, 4)),

    // Deterministic corpus-mix sampling: per-language acceptance rates
    // (the up/down-weighting every training mix applies), decided by a
    // content-free md5 coin on doc_id — reproducible under any
    // partitioning, no RNG state, trivially auditable. Reports the
    // per-(lang, source) kept counts the mixing report needs.
    "t22_sample_mix" -> ((s, dir) => {
      val d = docs(s, dir)
      val coin = graft.text.TextOps.hexHash60(col("doc_id").cast("string")) % 100
      val rate = when(col("lang") === "en", lit(100))
        .when(col("lang") === "zh", lit(50)).otherwise(lit(25))
      d.withColumn("__keep", coin < rate)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("__keep"), col("n_chars")).otherwise(0L)).as("chars_kept"))
    }),

    // Sequence packing (context-window fill): per source, docs in
    // doc_id order pack greedily-with-splitting into 512-token
    // windows — pack id = prior-token cumsum div window. One window
    // cumsum per source; at corpus scale partition further by shard
    // (source, doc_id div S) — packing is per-shard independent.
    "t23_pack_sequences" -> ((s, dir) => {
      val d = docs(s, dir)
      val toks = (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
        .cast(LongType)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      d.select(col("doc_id"), col("source"), toks.as("n_tokens"))
        .withColumn("__before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("pack_id", (col("__before") / 512).cast(LongType))
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
    }),

    // C4/Gopher-style heuristic rule filters, per doc: word-count
    // bounds, mean word length bounds, stopword presence, terminal
    // punctuation, symbol ratio — the standard pre-training gates —
    // plus BPE-ish regex token classes (letter runs / digit runs /
    // other) as the cheap token-count proxy. All exact integers and
    // boolean flags; one scan, no shuffle beyond the final report.
    "t24_quality_rules" -> ((s, dir) => {
      val d = docs(s, dir)
      val words = split(col("text"), " ")
      val nw = size(words).cast(LongType)
      val meanLen = (length(col("text")) - (nw - 1)).cast("double") / nw
      val letterRuns = size(regexp_extract_all(col("text"), lit("[a-zA-Z]+"), lit(0)))
      val digitRuns = size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
      d.select(col("doc_id"), nw.as("n_words"),
          round(meanLen, 6).as("mean_word_len"),
          (nw >= 50 && nw <= 100000).as("pass_wordcount"),
          (meanLen >= 3.0 && meanLen <= 10.0).as("pass_meanlen"),
          col("text").rlike("(^| )(the|and|of|to|a)( |$)").as("has_stopword"),
          col("text").rlike("[.!?]$").as("ends_terminal"),
          letterRuns.cast(LongType).as("n_letter_runs"),
          digitRuns.cast(LongType).as("n_digit_runs"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "t20_langid" ->
      s"""WITH g AS (
         |  SELECT doc_id, lang,
         |    list_distinct(list_transform(generate_series(1, length(text) - 2),
         |      i -> substring(text, i, 3))) AS grams
         |  FROM documents WHERE length(text) >= 3),
         |tg AS (SELECT lang, unnest(grams) AS gram FROM g WHERE doc_id % 10 < 8),
         |df AS (SELECT lang, gram, count(*) AS df FROM tg GROUP BY 1, 2),
         |prof AS (SELECT lang, gram FROM (
         |    SELECT lang, gram,
         |      row_number() OVER (PARTITION BY lang ORDER BY df DESC, gram) AS rk
         |    FROM df) WHERE rk <= $ProfileK),
         |cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 10 >= 8),
         |sc AS (SELECT doc_id, p.lang, count(*) AS score
         |       FROM cg JOIN prof p USING (gram) GROUP BY 1, 2),
         |rk AS (SELECT doc_id, lang, score,
         |         count(*) OVER (PARTITION BY doc_id) AS n_langs_hit,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY score DESC, lang) AS rn
         |       FROM sc)
         |SELECT doc_id, lang AS pred_lang, score, n_langs_hit
         |FROM rk WHERE rn = 1""".stripMargin,

    "t21_winnowing" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |h AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(words) - 2),
        |      i -> ('0x' || substring(md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]), 1, 15))::BIGINT) AS hs
        |  FROM w WHERE len(words) >= 6),
        |mins AS (SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(hs) - 3),
        |      i -> list_min(hs[i:i+3]))) AS fps
        |  FROM h)
        |SELECT doc_id, unnest(fps) AS fp FROM mins""".stripMargin,

    "t22_sample_mix" ->
      """WITH d AS (SELECT *,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
        |      < (CASE WHEN lang = 'en' THEN 100
        |              WHEN lang = 'zh' THEN 50 ELSE 25 END) AS keep
        |  FROM documents)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
        |FROM d GROUP BY 1, 2""".stripMargin,

    "t23_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM t)
        |SELECT source, CAST(before // 512 AS BIGINT) AS pack_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        |FROM c GROUP BY 1, 2""".stripMargin,

    "t24_quality_rules" ->
      """WITH t AS (SELECT doc_id, text,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nw
        |  FROM documents),
        |m AS (SELECT doc_id, text, nw,
        |    CAST(length(text) - (nw - 1) AS DOUBLE) / nw AS mean_len FROM t)
        |SELECT doc_id, nw AS n_words,
        |  round(mean_len, 6) AS mean_word_len,
        |  (nw >= 50 AND nw <= 100000) AS pass_wordcount,
        |  (mean_len >= 3.0 AND mean_len <= 10.0) AS pass_meanlen,
        |  regexp_matches(text, '(^| )(the|and|of|to|a)( |$)') AS has_stopword,
        |  regexp_matches(text, '[.!?]$') AS ends_terminal,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_letter_runs,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs
        |FROM m""".stripMargin
  )
}
