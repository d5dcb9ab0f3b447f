package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** LLM-training-data pipeline operators over the `documents` and
  * `embeddings` tables: dedup, text analysis, similarity search.
  * These are first-class engine components (BASELINE.json north star),
  * not ports of reference operators.
  */
object TextQueries extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** token count via space counting — engine-agnostic exact form. */
  private val tokCount =
    (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
      .cast(LongType)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: hash-groupBy on content digest, keep min doc_id as
    // representative. At 100 TB this is the standard first dedup pass —
    // shuffle on digest, not on text.
    "t01_dedup_exact" -> ((s, dir) =>
      docs(s, dir).groupBy(md5(col("text")).as("digest"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("rep_doc"))),

    // Survivors of exact dedup (the actual filtered corpus).
    "t02_dedup_exact_survivors" -> ((s, dir) => {
      val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      docs(s, dir).withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("doc_id"), col("lang"), col("source"))
    }),

    // Text quality scoring: length, token count, mean token length,
    // stopword ratio ('the'/'a' as the synthetic corpus stopwords).
    "t03_text_quality" -> ((s, dir) => {
      val toks = size(split(col("text"), " ")).cast(LongType)
      val stops = (size(split(concat(lit(" "), col("text"), lit(" ")), " the | a ")) - 1)
        .cast(LongType)
      docs(s, dir).select(
        col("doc_id"), col("n_chars"), tokCount.as("n_tokens"),
        round((col("n_chars") - (tokCount - 1)).cast(DoubleType) / tokCount, 9)
          .as("mean_tok_len"))
    }),

    // Language/source distribution (corpus composition report).
    "t04_lang_distribution" -> ((s, dir) =>
      docs(s, dir).groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))),

    // n-gram shingle fingerprint cardinality per doc (basis of MinHash):
    // distinct word-3-gram count, exact.
    "t05_shingle_cardinality" -> ((s, dir) => {
      val words = split(col("text"), " ")
      val n = size(words)
      val grams = transform(sequence(lit(0), n - 3),
        i => concat_ws(" ", element_at(words, i + 1),
          element_at(words, i + 2), element_at(words, i + 3)))
      docs(s, dir).filter(n >= 3)
        .select(col("doc_id"),
          size(array_distinct(grams)).cast(LongType).as("n_shingles"))
    }),

    // Brute-force cosine top-5 neighbors per embedding — the exact
    // baseline for ANN. Dot/norms computed on scaled integers (exact in
    // double at any summation order) so ranking is engine-deterministic.
    "t06_knn_cosine" -> ((s, dir) => {
      // dense pair stage runs as a primitive-array kernel
      // (graft.text.BruteForceKnn — mapPartitions, SURVEY §4.2 case d);
      // exact scaled-int sums keep it bit-identical to the oracle
      val pairs = graft.text.BruteForceKnn.cosinePairs(
        embs(s, dir), col("vec_id") < 100, -1.1)
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
      pairs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("nid"), round(col("cos"), 9).as("cos_sim"),
          col("rk").cast(IntegerType).as("rk"))
    }),

    // Embedding-cosine near-duplicate pairs above a threshold (near-dup
    // dedup building block; symmetric pairs reported once).
    "t07_embedding_neardup" -> ((s, dir) =>
      graft.text.BruteForceKnn.cosinePairs(
          embs(s, dir), col("vec_id") < 500, 0.95)
        .filter(col("qid") < col("nid"))
        .select(col("qid").as("ida"), col("nid").as("idb"),
          round(col("cos"), 9).as("cos_sim"))),

    // Per-label centroid norms — embedding aggregation shape (mean vector
    // per group), reported as rounded scalar so it hash-compares.
    "t08_label_centroids" -> ((s, dir) => {
      val e = embs(s, dir).select(col("label"), col("vec_id"),
        transform(col("embedding"), x => round(x.cast(DoubleType) * 1000)).as("v"))
      val summed = e.groupBy(col("label")).agg(
        count(lit(1)).as("n_vecs"),
        aggregate(collect_list(col("v")),
          array_repeat(lit(0.0), 64),
          (acc, v) => zip_with(acc, v, (x, y) => x + y)).as("sumv"))
      summed.select(col("label"), col("n_vecs"),
        round(sqrt(aggregate(transform(col("sumv"), x => x * x),
          lit(0.0), (acc, x) => acc + x)) / col("n_vecs"), 6).as("centroid_norm"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "t01_dedup_exact" ->
      """SELECT md5(text) AS digest, count(*) AS n_dups, min(doc_id) AS rep_doc
        |FROM documents GROUP BY 1""".stripMargin,

    "t02_dedup_exact_survivors" ->
      """WITH r AS (SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, source FROM r WHERE rn = 1""".stripMargin,

    "t03_text_quality" ->
      """SELECT doc_id, n_chars,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |  round(CAST(n_chars - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE)
        |    / (length(text) - length(replace(text, ' ', '')) + 1), 9) AS mean_tok_len
        |FROM documents""".stripMargin,

    "t04_lang_distribution" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1, 2""".stripMargin,

    "t05_shingle_cardinality" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(words) - 2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
        |  FROM w WHERE len(words) >= 3)
        |SELECT doc_id, CAST(len(list_distinct(grams)) AS BIGINT) AS n_shingles
        |FROM g""".stripMargin,

    "t06_knn_cosine" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM e a CROSS JOIN e b WHERE a.vec_id < 100 AND a.vec_id <> b.vec_id),
        |r AS (SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
        |  FROM p)
        |SELECT qid, nid, round(cos, 9) AS cos_sim, CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= 5""".stripMargin,

    "t07_embedding_neardup" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS ida, b.vec_id AS idb,
        |  round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) AS cos_sim
        |FROM e a CROSS JOIN e b
        |WHERE a.vec_id < 500 AND a.vec_id < b.vec_id
        |  AND list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > 0.95""".stripMargin,

    "t08_label_centroids" ->
      """WITH e AS (SELECT label, vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        |  FROM embeddings),
        |u AS (SELECT label, i, sum(v[i]) AS s
        |  FROM e, generate_series(1, 64) AS t(i) GROUP BY 1, 2),
        |n AS (SELECT label, count(*) AS n_vecs FROM e GROUP BY 1)
        |SELECT n.label, n.n_vecs,
        |  round(sqrt(sum(u.s * u.s)) / n.n_vecs, 6) AS centroid_norm
        |FROM u JOIN n ON u.label = n.label
        |GROUP BY n.label, n.n_vecs""".stripMargin
  )
}
