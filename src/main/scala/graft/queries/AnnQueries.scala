package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.EmbeddingLSH
import graft.text.EmbeddingLSH.{Bits, Dims, weight}

/** LSH-bucketed ANN queries — scale path of similarity search, fully
  * oracle-verified via portable deterministic hyperplanes. */
object AnnQueries extends QueryPack {

  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a01_lsh_buckets" -> ((s, dir) =>
      EmbeddingLSH.buckets(embs(s, dir)).select(col("vec_id"), col("bucket"))),

    "a02_lsh_ann_pairs" -> ((s, dir) =>
      EmbeddingLSH.annPairs(embs(s, dir), 0.0)
        .select(col("ida"), col("idb"), round(col("cos"), 9).as("cos_sim"))),

    // multi-band OR-amplification (4 independent 8-bit signatures):
    // candidate → dedup → gather → exact-cosine verify; bits scale with
    // corpus (≈2·log₂N), bands buy recall
    "a03_lsh_multiband" -> ((s, dir) =>
      EmbeddingLSH.annPairsMulti(embs(s, dir), 0.0, MbBands, MbBits)
        .select(col("ida"), col("idb"), round(col("cos"), 9).as("cos_sim"))),

    // IVF (k-means cells, 2 deterministic Lloyd iterations with dyadic
    // centroid quantization) — probe 2 cells, exact top-3 per query;
    // oracle replays the identical training in SQL
    "i01_ivf_topk" -> ((s, dir) =>
      graft.text.IvfIndex.topK(embs(s, dir), col("vec_id") < 20, 2, 3)),

    // ANN QUALITY REPORT: recall@3 of the IVF probe against the exact
    // L2 top-3 — the engine measures its own index quality (both sides
    // deterministic on scaled-int vectors, so the report itself is
    // oracle-verifiable; the exact side is query-bounded brute force)
    "i02_ivf_recall" -> ((s, dir) =>
      graft.text.IvfIndex.recallVsExact(embs(s, dir), col("vec_id") < 20, 2, 3)),

    // SemDeDup (Abbas et al. 2023): cluster-scoped embedding near-dup
    // pruning — IVF cells + greedy keep-farthest-from-centroid rule,
    // exact-integer cosine threshold τ² = 49/400 (τ = 0.35; the
    // synthetic embeddings are diffuse, max pairwise cos ≈ 0.6, so the
    // "semantic" band is where a real drop set lives). Oracle replays
    // the identical training + drop rule in SQL.
    "t39_semdedup" -> ((s, dir) =>
      graft.text.IvfIndex.semDeDup(embs(s, dir), 49L, 400L))
  )

  val MbBands = 4
  val MbBits = 8
  private val IvfDims = graft.text.IvfIndex.Dims

  /** 12 hyperplanes as DuckDB double-list literals. */
  private def planeList(j: Int): String =
    (0 until Dims).map(d => s"${weight(j, d)}.0").mkString("[", ", ", "]")

  private val bucketExpr: String = (0 until Bits).map { j =>
    s"(CASE WHEN list_dot_product(v, ${planeList(j)}) > 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")

  /** Band `b`'s bucket over planes [b·MbBits, (b+1)·MbBits). */
  private def bandBucketExpr(b: Int): String = (0 until MbBits).map { j =>
    s"(CASE WHEN list_dot_product(v, ${planeList(b * MbBits + j)}) > 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")

  private def assignSql(cin: String, aout: String) =
    s"""$aout AS (SELECT vec_id, v, cid FROM (
       |  SELECT e.vec_id, e.v, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      -2*list_dot_product(e.v, c.c) + list_dot_product(c.c, c.c), c.cid) AS rn
       |  FROM e CROSS JOIN $cin c) WHERE rn = 1)""".stripMargin
  private def meanSql(ain: String, cout: String) =
    s"""$cout AS (SELECT cid, list(m ORDER BY i) AS c FROM (
       |  SELECT cid, i, floor(avg(v[i]) * 1024.0 + 0.5) / 1024.0 AS m
       |  FROM $ain CROSS JOIN generate_series(1, ${IvfDims}) t(i)
       |  GROUP BY cid, i) GROUP BY cid)""".stripMargin

  /** The shared IVF-training CTE prefix: scaled vectors `e`, two Lloyd
    * iterations ending at centroids `c2` and final assignment `af`. */
  private def trainCtes: String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
       |  FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM e WHERE vec_id < 8),
       |${assignSql("c0", "a1")},
       |${meanSql("a1", "c1")},
       |${assignSql("c1", "a2")},
       |${meanSql("a2", "c2")},
       |${assignSql("c2", "af")}""".stripMargin

  /** The full i01 oracle (also the inner query of the i02 recall
    * report — DuckDB allows a WITH inside a subquery). */
  private val i01Sql: String = {
    s"""$trainCtes,
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
       |probe AS (SELECT qid, qv, cid FROM (
       |  SELECT q.qid, q.qv, c.cid,
       |    row_number() OVER (PARTITION BY q.qid ORDER BY
       |      -2*list_dot_product(q.qv, c.c) + list_dot_product(c.c, c.c), c.cid) AS rn
       |  FROM q CROSS JOIN c2 c) WHERE rn <= 2),
       |d AS (SELECT p.qid, a.vec_id,
       |    list_dot_product(p.qv, p.qv) - 2*list_dot_product(p.qv, e2.v)
       |      + list_dot_product(e2.v, e2.v) AS dist
       |  FROM probe p JOIN af a ON p.cid = a.cid AND a.vec_id <> p.qid
       |  JOIN e e2 ON e2.vec_id = a.vec_id)
       |SELECT qid, vec_id AS cand_id, CAST(rn AS INT) AS rk, dist FROM (
       |  SELECT qid, vec_id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
       |  FROM d) WHERE rn <= 3""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "a01_lsh_buckets" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
         |  FROM embeddings)
         |SELECT vec_id, CAST($bucketExpr AS BIGINT) AS bucket FROM e""".stripMargin,

    "a02_lsh_ann_pairs" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
         |  FROM embeddings),
         |b AS (SELECT vec_id, v,
         |    CAST($bucketExpr AS BIGINT) AS bucket,
         |    sqrt(list_dot_product(v, v)) AS nrm FROM e)
         |SELECT a.vec_id AS ida, b2.vec_id AS idb,
         |  round(list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm), 9) AS cos_sim
         |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |WHERE list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm) > 0.0""".stripMargin,

    "a03_lsh_multiband" -> {
      val bandCols = (0 until MbBands)
        .map(b => s"CAST(${bandBucketExpr(b)} AS BIGINT) AS bucket$b").mkString(", ")
      val unions = (0 until MbBands)
        .map(b => s"SELECT vec_id, $b AS band, bucket$b AS bucket FROM b")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
         |  FROM embeddings),
         |b AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, $bandCols FROM e),
         |k AS ($unions),
         |c AS (SELECT DISTINCT a.vec_id AS ida, b2.vec_id AS idb
         |      FROM k a JOIN k b2 ON a.band = b2.band AND a.bucket = b2.bucket
         |        AND a.vec_id < b2.vec_id)
         |SELECT c.ida, c.idb,
         |  round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 9) AS cos_sim
         |FROM c JOIN b x ON c.ida = x.vec_id JOIN b y ON c.idb = y.vec_id
         |WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) > 0.0""".stripMargin
    },

    "i01_ivf_topk" -> i01Sql,

    "i02_ivf_recall" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
         |ex AS (SELECT qid, vec_id AS cand_id FROM (
         |  SELECT q.qid, e2.vec_id,
         |    row_number() OVER (PARTITION BY q.qid ORDER BY
         |      list_dot_product(q.qv, q.qv) - 2*list_dot_product(q.qv, e2.v)
         |        + list_dot_product(e2.v, e2.v), e2.vec_id) AS rn
         |  FROM q CROSS JOIN e e2 WHERE e2.vec_id <> q.qid) WHERE rn <= 3),
         |ivf AS (SELECT qid, cand_id FROM ($i01Sql)),
         |m AS (SELECT ex.qid, count(*) AS n_match
         |      FROM ex JOIN ivf ON ex.qid = ivf.qid AND ex.cand_id = ivf.cand_id
         |      GROUP BY 1)
         |SELECT q.qid, CAST(coalesce(m.n_match, 0) AS BIGINT) AS n_match,
         |  round(CAST(coalesce(m.n_match, 0) AS BIGINT) / 3.0, 6) AS recall
         |FROM q LEFT JOIN m ON q.qid = m.qid""".stripMargin,

    // replay: same training CTEs, then the greedy drop rule — priority
    // is (distance-to-centroid DESC, vec_id), threshold is the exact
    // cross-multiplied τ²=49/400 test on int64s
    "t39_semdedup" ->
      s"""$trainCtes,
         |m AS (SELECT a.vec_id, a.cid, a.v,
         |    CAST(list_dot_product(a.v, a.v) AS BIGINT) AS vv,
         |    list_dot_product(a.v, a.v) - 2*list_dot_product(a.v, c.c)
         |      + list_dot_product(c.c, c.c) AS cdist
         |  FROM af a JOIN c2 c ON a.cid = c.cid)
         |SELECT x.vec_id, x.cid FROM m x
         |WHERE EXISTS (SELECT 1 FROM m y WHERE y.cid = x.cid
         |  AND (y.cdist > x.cdist OR (y.cdist = x.cdist AND y.vec_id < x.vec_id))
         |  AND list_dot_product(x.v, y.v) > 0
         |  AND 400 * CAST(list_dot_product(x.v, y.v) AS BIGINT)
         |          * CAST(list_dot_product(x.v, y.v) AS BIGINT)
         |      > 49 * x.vv * y.vv)""".stripMargin
  )
}
