package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization ANN rows (text/PqIndex.scala): the codebook
  * training, encoding and ADC ranking are all exact dyadic arithmetic
  * on scaled-int subvectors, so the DuckDB oracle replays the ENTIRE
  * pipeline — per-subspace Lloyd's iterations as generated CTE chains
  * (the i01 IVF pattern), then the ADC distance-table scoring — and
  * the rankings hash-match bit-for-bit.
  */
object PqQueries extends QueryPack {

  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ADC top-3 for the first 20 vectors as queries
    "p01_pq_topk" -> ((s, dir) =>
      graft.text.PqIndex.adcTopK(embs(s, dir), col("vec_id") < 20, 3)),

    // PQ quality report: recall@3 of the serving pipeline (ADC
    // shortlist-30 → exact re-rank) vs the exact L2 top-3
    "p02_pq_recall" -> ((s, dir) =>
      graft.text.PqIndex.recallVsExact(embs(s, dir), col("vec_id") < 20, 30, 3))
  )

  private val M = graft.text.PqIndex.M
  private val SubDim = graft.text.PqIndex.SubDim
  private val K = graft.text.PqIndex.K

  /** The full p01 oracle (also the inner query of the p02 report). */
  private val p01Sql: String = {
    def assignSql(bin: String, aout: String) =
      s"""$aout AS (SELECT vec_id, sid, sv, cid FROM (
         |  SELECT e.vec_id, e.sid, e.sv, b.cid,
         |    row_number() OVER (PARTITION BY e.vec_id, e.sid ORDER BY
         |      -2*list_dot_product(e.sv, b.c) + list_dot_product(b.c, b.c), b.cid) AS rn
         |  FROM sub e JOIN $bin b USING (sid)) WHERE rn = 1)""".stripMargin
    def meanSql(ain: String, bout: String) =
      s"""$bout AS (SELECT sid, cid, list(m ORDER BY i) AS c FROM (
         |  SELECT sid, cid, i, floor(avg(sv[i]) * 1024.0 + 0.5) / 1024.0 AS m
         |  FROM $ain CROSS JOIN generate_series(1, $SubDim) t(i)
         |  GROUP BY sid, cid, i) GROUP BY sid, cid)""".stripMargin
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
       |  FROM embeddings),
       |sub AS (SELECT vec_id, s.sid, v[s.sid*$SubDim+1 : s.sid*$SubDim+$SubDim] AS sv
       |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, ${M - 1})) AS sid) s),
       |b0 AS (SELECT sid, CAST(vec_id AS INT) AS cid, sv AS c
       |  FROM sub WHERE vec_id < $K),
       |${assignSql("b0", "a1")},
       |${meanSql("a1", "b1")},
       |${assignSql("b1", "a2")},
       |${meanSql("a2", "b2")},
       |${assignSql("b2", "codes")},
       |q AS (SELECT vec_id AS qid, sid, sv AS qsv FROM sub WHERE vec_id < 20),
       |dtable AS (SELECT q.qid, q.sid, b.cid,
       |    list_dot_product(q.qsv, q.qsv) - 2*list_dot_product(q.qsv, b.c)
       |      + list_dot_product(b.c, b.c) AS d
       |  FROM q JOIN b2 b USING (sid)),
       |scores AS (SELECT t.qid, c.vec_id, sum(t.d) AS score
       |  FROM codes c JOIN dtable t ON t.sid = c.sid AND t.cid = c.cid
       |  WHERE c.vec_id <> t.qid
       |  GROUP BY t.qid, c.vec_id),
       |adc AS (SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score, vec_id) AS rn
       |  FROM scores)""".stripMargin
  }

  private val p01Tail =
    """SELECT qid, vec_id AS cand_id, CAST(rn AS INT) AS rk, score
      |FROM adc WHERE rn <= 3""".stripMargin

  /** Refined serving pipeline: ADC shortlist-30 → exact re-rank. */
  private val refinedSql =
    s"""$p01Sql,
       |short AS (SELECT qid, vec_id AS cand_id FROM adc WHERE rn <= 30),
       |rr AS (SELECT s.qid, s.cand_id,
       |    list_dot_product(qq.v, qq.v) - 2*list_dot_product(qq.v, ee.v)
       |      + list_dot_product(ee.v, ee.v) AS dist
       |  FROM short s JOIN e qq ON qq.vec_id = s.qid
       |  JOIN e ee ON ee.vec_id = s.cand_id),
       |refined AS (SELECT qid, cand_id FROM (
       |  SELECT qid, cand_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, cand_id) AS rn
       |  FROM rr) WHERE rn <= 3)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "p01_pq_topk" -> s"$p01Sql\n$p01Tail",

    "p02_pq_recall" ->
      s"""$refinedSql,
         |q2 AS (SELECT DISTINCT qid FROM adc),
         |exact AS (SELECT qid, cand_id FROM (
         |  SELECT qq.vec_id AS qid, ee.vec_id AS cand_id,
         |    row_number() OVER (PARTITION BY qq.vec_id ORDER BY
         |      list_dot_product(qq.v, qq.v) - 2*list_dot_product(qq.v, ee.v)
         |        + list_dot_product(ee.v, ee.v), ee.vec_id) AS rn
         |  FROM e qq CROSS JOIN e ee
         |  WHERE qq.vec_id < 20 AND ee.vec_id <> qq.vec_id) WHERE rn <= 3),
         |m AS (SELECT exact.qid, count(*) AS n_match
         |  FROM exact JOIN refined USING (qid, cand_id) GROUP BY exact.qid)
         |SELECT q2.qid, CAST(coalesce(m.n_match, 0) AS BIGINT) AS n_match,
         |  round(coalesce(m.n_match, 0) / 3.0, 6) AS recall
         |FROM q2 LEFT JOIN m USING (qid)""".stripMargin
  )
}
