package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.text.TextOps
import graft.text.TextOps._

/** MinHash / LSH / SimHash dedup pack — oracle-verified end-to-end
  * because every hash is engine-portable (md5-derived 60-bit ints,
  * affine perms mod 2^31−1). Sampled doc_id bounds keep the pairwise
  * oracle baselines linear-ish at larger SF; the LSH path is the scale
  * path (no pairwise blowup).
  */
object TextQueries2 extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Per-JVM at-rest near-dup index for the steady-state twin (t44b):
    * built once per corpus dir and WRITTEN TO PARQUET, then read back —
    * the real pipeline's shape (the index lives in storage, the batch
    * join's plan has no lineage into corpus shingling) and sweep-proof
    * (a host's cache sweep cannot strand a reader the way a memoized
    * localCheckpoint would). The bench prewarms this untimed via
    * [[prewarm]], so the t44b row times the JOIN against the at-rest
    * index — the steady-state number SCALE.md previously measured only
    * out-of-band; Verify builds it lazily inside the query (same
    * result either way). */
  private val t44IndexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def t44AtRestIndex(s: SparkSession, dir: String)
      : graft.text.TextOps3.NearDupIndex = {
    val (bp, sp) = t44IndexMemo.computeIfAbsent(dir, _ => {
      val built = graft.text.TextOps3.buildNearDupIndex(
        docs(s, dir).filter(col("doc_id") % 2 === 0), "text", 3)
      val base = java.nio.file.Files
        .createTempDirectory("graft_t44b_index_").toString
      built.bands.write.mode("overwrite").parquet(s"$base/bands")
      built.shingles.write.mode("overwrite").parquet(s"$base/shingles")
      (s"$base/bands", s"$base/shingles")
    })
    graft.text.TextOps3.NearDupIndex(
      bands = s.read.parquet(bp), shingles = s.read.parquet(sp))
  }

  /** Untimed one-time setup the bench runs before timing a row (the
    * steady-state rows' at-rest artifacts). */
  override val prewarm: Map[String, (SparkSession, String) => Unit] = Map(
    "t44b_incremental_neardup_steady" ->
      ((s, dir) => { t44AtRestIndex(s, dir); () }))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MinHash signatures (8 perms over word-3-gram shingles)
    "t09_minhash_signature" -> ((s, dir) =>
      minhashSignatures(docs(s, dir), "text", 3)),

    // Top-20 estimated-Jaccard pairs (exact all-pairs baseline, sampled)
    "t10_minhash_toppairs" -> ((s, dir) =>
      minhashTopPairs(docs(s, dir).filter(col("doc_id") < 1000), "text", 3, 20)),

    // DEFAULT near-dup mining path (TextOps.minhashTopPairsBanded):
    // same contract as t10 but estimates Jaccard only on LSH candidate
    // pairs — equality joins at any N (plan-locked in ExplainSpec);
    // the oracle restricts its pair join to band collisions too
    "t32_minhash_toppairs_banded" -> ((s, dir) =>
      TextOps.minhashTopPairsBanded(
        docs(s, dir).filter(col("doc_id") < 1000), "text", 3, 20)),

    // 32-bit SimHash per doc
    "t11_simhash" -> ((s, dir) => simhash(docs(s, dir), "text")),

    // Exact n-gram Jaccard verification pairs (≥2 shared shingles)
    "t12_ngram_jaccard" -> ((s, dir) =>
      ngramJaccardPairs(docs(s, dir).filter(col("doc_id") < 1000), "text", 3, 2L)
        .select(col("ida"), col("idb"), col("inter"),
          round(col("jaccard"), 9).as("jaccard"))),

    // Incremental near-dup (batch-vs-index): odd doc_ids are the NEW
    // ingest batch, even ids the EXISTING corpus whose LSH band index
    // sits at rest (built once via buildNearDupIndex, the steady-state
    // shape) — band-key equality join, exact Jaccard >= 1/2 verify on
    // candidates only. The interleaved split guarantees the planted
    // dup clusters straddle the boundary at every SF.
    "t44_incremental_neardup" -> ((s, dir) => {
      val all = docs(s, dir)
      val idx = graft.text.TextOps3.buildNearDupIndex(
        all.filter(col("doc_id") % 2 === 0), "text", 3)
      // build the index ONCE inside the run (what a real pipeline
      // does — t44b is the at-rest-parquet proof of the same shape):
      // without the persist the band and shingle sides each re-expand
      // the even-half shingling per reference (r13 plan audit)
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val once = graft.text.TextOps3.NearDupIndex(
        bands = idx.bands.persist(lvl), shingles = idx.shingles.persist(lvl))
      graft.text.TextOps3.incrementalNearDup(
        all.filter(col("doc_id") % 2 =!= 0), once, "text", 3, 1L, 2L)
    }),

    // Steady-state twin of t44 (r11, reworked r12): the index a real
    // pipeline reads from at-rest storage is an actual PARQUET
    // ARTIFACT (built once per JVM+dir, written, read back), so the
    // batch join runs against a plan with NO lineage into the corpus
    // shingling. The bench prewarms the index build UNTIMED (declared
    // in SparkEntry.prewarm and listed in the artifact), making the
    // t44b row the measured steady-state JOIN cost; t44 keeps timing
    // build+join. Output — and oracle — identical to t44.
    "t44b_incremental_neardup_steady" -> ((s, dir) =>
      graft.text.TextOps3.incrementalNearDup(
        docs(s, dir).filter(col("doc_id") % 2 =!= 0),
        t44AtRestIndex(s, dir), "text", 3, 1L, 2L)),

    // LSH banding candidates (4 bands × 2 rows)
    "t13_lsh_candidates" -> ((s, dir) =>
      lshCandidates(docs(s, dir).filter(col("doc_id") < 1000), "text", 3)),

    // SimHash near-dup pairs by hamming distance (sampled left side)
    "t14_simhash_neardup" -> ((s, dir) => {
      val sig = simhash(docs(s, dir), "text")
      val a = sig.select(col("doc_id").as("ida"), col("simhash").as("ha"))
        .filter(col("ida") < 500)
      val b = sig.select(col("doc_id").as("idb"), col("simhash").as("hb"))
      a.join(b, col("ida") < col("idb"))
        .withColumn("hdist", TextOps.hamming(col("ha"), col("hb")).cast(IntegerType))
        .filter(col("hdist") <= 8)
        .select(col("ida"), col("idb"), col("hdist"))
    }),

    // Same answer as t14 via the EXACT banded index (pigeonhole on k+1
    // bit-blocks + hamming verify) — the 100 TB plan: equality joins on
    // block keys, no nested-loop all-pairs
    "t15_simhash_neardup_banded" -> ((s, dir) => {
      val sig = simhash(docs(s, dir), "text")
      TextOps.simhashNearDupBanded(sig, SimhashBits, 8, col("doc_id") < 500)
    }),

    // Benchmark decontamination: per corpus doc, the fraction of its
    // distinct 3-grams appearing in the (broadcast) benchmark set —
    // benchmark = every 97th doc, the held-out-eval stand-in
    "t16_decontamination" -> ((s, dir) =>
      TextOps.decontaminate(docs(s, dir), "text", 3,
        col("doc_id") % 97 === 0)),

    // Fuzzy decontamination (document-level): corpus docs whose 3-gram
    // Jaccard vs ANY benchmark doc reaches τ = 1/2 (exact cross-
    // multiplied test); benchmark = every 31st doc BELOW id 527 — a
    // FIXED-cardinality set (17 docs at every SF), matching the
    // operator contract that eval suites are corpus-independent so the
    // broadcast stays constant as the corpus grows (the r9 verdict
    // flagged the unbounded mod-31 slice: its forced broadcast grew
    // linearly with the corpus). Every 97th yields zero flagged pairs
    // at sf0.01 — a degenerate demonstration. Benchmark shingle set
    // broadcast, no self-join.
    "t43_fuzzy_decontam" -> ((s, dir) =>
      graft.text.TextOps3.fuzzyDecontam(docs(s, dir), "text", 3,
        col("doc_id") % 31 === 0 && col("doc_id") < 527, 1L, 2L)),

    // Gopher-style repetition filters: duplicate-bigram fraction and
    // top-word share per doc (exact counts, two rounded divisions)
    "t17_repetition" -> ((s, dir) =>
      TextOps.repetitionScore(docs(s, dir), "text")),

    // Dedup clustering: connected components over the VERIFIED near-dup
    // graph — exact n-gram Jaccard ≥ 0.5 pairs (the post-LSH verify
    // stage; this corpus's planted dups sit at ≥0.8 with nothing in
    // (0.3, 0.8), so the threshold is robust cross-engine) → iterative
    // min-label propagation; cluster = min reachable doc_id, the
    // keep-first dedup survivor policy. SimHash radii were the wrong
    // edge source here: the shared small vocabulary saturates majority
    // votes and hdist ≤ 2 connected 9% of ALL pairs at sf0.1.
    "t18_dedup_clusters" -> ((s, dir) => {
      val edges = ngramJaccardPairs(docs(s, dir), "text", 3, 2L)
        .filter(col("jaccard") >= 0.5)
        .select(col("ida").as("src"), col("idb").as("dst"))
      graft.text.DedupClusters.connectedComponents(edges)
    }),

    // End-to-end dedup MATERIALIZATION: drop every non-canonical cluster
    // member (keep-first policy), report per-source kept/total docs and
    // chars — the corpus-composition delta a training pipeline logs
    // after its dedup pass. The drop set is tiny relative to the corpus
    // → broadcast anti-join, one scan of documents.
    "t19_dedup_survivors" -> ((s, dir) => {
      val d = docs(s, dir)
      val edges = ngramJaccardPairs(d, "text", 3, 2L)
        .filter(col("jaccard") >= 0.5)
        .select(col("ida").as("src"), col("idb").as("dst"))
      val cc = graft.text.DedupClusters.connectedComponents(edges)
      val drops = cc.filter(col("doc_id") =!= col("cluster")).select("doc_id")
      val kept = d.join(broadcast(drops), Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_survivors"), sum(col("n_chars")).as("chars_kept"))
      val total = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_total"))
      total.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"),
          col("chars_total"),
          coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
    })
  )

  // ---- oracle SQL (shared CTE prefix for shingle hashing) ----

  private val SH =
    """w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |gr AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words) - 2),
      |         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS grams
      |       FROM w WHERE len(words) >= 3),
      |sh AS (SELECT doc_id, unnest(grams) AS shingle FROM gr),
      |hh AS (SELECT doc_id, ('0x' || substring(md5(shingle),1,15))::BIGINT AS h60 FROM sh)""".stripMargin

  private def mhSelect: String = (0 until NumPerms).map { i =>
    s"min((((h60 % $P) * ${permA(i)}) + ${permB(i)}) % $P) AS mh$i"
  }.mkString(", ")

  private val SIG = s"sig AS (SELECT doc_id, $mhSelect FROM hh GROUP BY 1)"

  private def simhashVotes: String = (0 until SimhashBits).map { j =>
    s"sum(CASE WHEN ((h60 >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS s$j"
  }.mkString(", ")

  private def simhashAssemble: String = (0 until SimhashBits).map { j =>
    s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")

  /** Shared by t44 and its steady-state twin t44b (identical output —
    * the twin changes only when the index is materialized). */
  private lazy val T44_SQL: String = {
    val bandSelects = (0 until NumPerms / 2).map { b =>
      s"SELECT doc_id, $b AS bi, mh${2 * b} || '_' || mh${2 * b + 1} AS bk FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH $SH,
       |$SIG,
       |e AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM e a JOIN e b ON a.bi = b.bi AND a.bk = b.bk
       |  WHERE a.doc_id % 2 <> 0 AND b.doc_id % 2 = 0),
       |io AS (SELECT ha.doc_id AS ida, hb.doc_id AS idb, count(*) AS inter
       |  FROM hh ha JOIN hh hb ON ha.h60 = hb.h60
       |  WHERE ha.doc_id % 2 <> 0 AND hb.doc_id % 2 = 0
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, count(*) AS nsh FROM hh GROUP BY 1)
       |SELECT c.ida, c.idb, i.inter,
       |  round(CAST(i.inter AS DOUBLE) / (sa.nsh + sb.nsh - i.inter), 6) AS jaccard
       |FROM cand c
       |JOIN io i ON i.ida = c.ida AND i.idb = c.idb
       |JOIN sz sa ON sa.doc_id = c.ida
       |JOIN sz sb ON sb.doc_id = c.idb
       |WHERE 2 * i.inter >= 1 * (sa.nsh + sb.nsh - i.inter)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "t09_minhash_signature" ->
      s"""WITH $SH
         |SELECT doc_id, $mhSelect FROM hh GROUP BY 1""".stripMargin,

    "t32_minhash_toppairs_banded" -> {
      val est = (0 until NumPerms)
        .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
      val bandHit = (0 until NumPerms / 2)
        .map(b => s"(a.mh${2 * b} = b.mh${2 * b} AND a.mh${2 * b + 1} = b.mh${2 * b + 1})")
        .mkString(" OR ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
         |           FROM documents WHERE doc_id < 1000),
         |gr AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words) - 2),
         |         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS grams
         |       FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, unnest(grams) AS shingle FROM gr),
         |hh AS (SELECT doc_id, ('0x' || substring(md5(shingle),1,15))::BIGINT AS h60 FROM sh),
         |$SIG,
         |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |        CAST($est AS DOUBLE) / $NumPerms AS est_jaccard
         |      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandHit)),
         |r AS (SELECT ida, idb, est_jaccard,
         |        row_number() OVER (ORDER BY est_jaccard DESC, ida, idb) AS rk FROM p)
         |SELECT ida, idb, est_jaccard, CAST(rk AS INT) AS rk FROM r WHERE rk <= 20""".stripMargin
    },

    "t10_minhash_toppairs" -> {
      val est = (0 until NumPerms)
        .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
         |           FROM documents WHERE doc_id < 1000),
         |gr AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words) - 2),
         |         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS grams
         |       FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, unnest(grams) AS shingle FROM gr),
         |hh AS (SELECT doc_id, ('0x' || substring(md5(shingle),1,15))::BIGINT AS h60 FROM sh),
         |$SIG,
         |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |        CAST($est AS DOUBLE) / $NumPerms AS est_jaccard
         |      FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
         |r AS (SELECT ida, idb, est_jaccard,
         |        row_number() OVER (ORDER BY est_jaccard DESC, ida, idb) AS rk FROM p)
         |SELECT ida, idb, est_jaccard, CAST(rk AS INT) AS rk FROM r WHERE rk <= 20""".stripMargin
    },

    "t11_simhash" ->
      s"""WITH wd AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
         |            FROM documents),
         |hh AS (SELECT doc_id, ('0x' || substring(md5(w),1,15))::BIGINT AS h60 FROM wd),
         |v AS (SELECT doc_id, $simhashVotes FROM hh GROUP BY 1)
         |SELECT doc_id, CAST($simhashAssemble AS BIGINT) AS simhash FROM v""".stripMargin,

    "t12_ngram_jaccard" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
         |           FROM documents WHERE doc_id < 1000),
         |gr AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words) - 2),
         |         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS grams
         |       FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, unnest(grams) AS shingle FROM gr),
         |hh AS (SELECT doc_id, ('0x' || substring(md5(shingle),1,15))::BIGINT AS h60 FROM sh),
         |sz AS (SELECT doc_id, count(*) AS nsh FROM hh GROUP BY 1),
         |rare AS (SELECT h60 FROM hh GROUP BY 1 HAVING count(*) <= 128),
         |hc AS (SELECT doc_id, h60 FROM hh JOIN rare USING (h60)),
         |io AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter
         |       FROM hc a JOIN hc b ON a.h60 = b.h60 AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT io.ida, io.idb, io.inter,
         |       round(CAST(io.inter AS DOUBLE) / (sa.nsh + sb.nsh - io.inter), 9) AS jaccard
         |FROM io JOIN sz sa ON io.ida = sa.doc_id
         |        JOIN sz sb ON io.idb = sb.doc_id""".stripMargin,

    // band-collision candidates across the odd(new)/even(existing)
    // split, exact-Jaccard verified at the cross-multiplied tau = 1/2
    "t44_incremental_neardup" -> T44_SQL,

    // identical semantics (and SQL) — the twin differs only in WHEN
    // the engine materializes the index (pre-built at steady state)
    "t44b_incremental_neardup_steady" -> T44_SQL,

    "t13_lsh_candidates" -> {
      val bandSelects = (0 until NumPerms / 2).map { b =>
        s"SELECT doc_id, $b AS bi, mh${2 * b} || '_' || mh${2 * b + 1} AS bk FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
         |           FROM documents WHERE doc_id < 1000),
         |gr AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words) - 2),
         |         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS grams
         |       FROM w WHERE len(words) >= 3),
         |sh AS (SELECT doc_id, unnest(grams) AS shingle FROM gr),
         |hh AS (SELECT doc_id, ('0x' || substring(md5(shingle),1,15))::BIGINT AS h60 FROM sh),
         |$SIG,
         |e AS ($bandSelects)
         |SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |FROM e a JOIN e b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id""".stripMargin
    },

    "t14_simhash_neardup" ->
      s"""WITH wd AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
         |            FROM documents),
         |hh AS (SELECT doc_id, ('0x' || substring(md5(w),1,15))::BIGINT AS h60 FROM wd),
         |v AS (SELECT doc_id, $simhashVotes FROM hh GROUP BY 1),
         |sg AS (SELECT doc_id, CAST($simhashAssemble AS BIGINT) AS simhash FROM v)
         |SELECT a.doc_id AS ida, b.doc_id AS idb,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hdist
         |FROM sg a JOIN sg b ON a.doc_id < b.doc_id AND a.doc_id < 500
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8""".stripMargin,

    // identical ground truth: the banded index is exact, so the oracle is
    // the same brute-force SQL as t14
    "t15_simhash_neardup_banded" ->
      s"""WITH wd AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
         |            FROM documents),
         |hh AS (SELECT doc_id, ('0x' || substring(md5(w),1,15))::BIGINT AS h60 FROM wd),
         |v AS (SELECT doc_id, $simhashVotes FROM hh GROUP BY 1),
         |sg AS (SELECT doc_id, CAST($simhashAssemble AS BIGINT) AS simhash FROM v)
         |SELECT a.doc_id AS ida, b.doc_id AS idb,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hdist
         |FROM sg a JOIN sg b ON a.doc_id < b.doc_id AND a.doc_id < 500
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8""".stripMargin,

    // document-level fuzzy twin of t16: Jaccard vs any benchmark doc,
    // τ as the exact cross-multiplied 2·inter ≥ union test
    "t43_fuzzy_decontam" ->
      s"""WITH $SH,
         |sz AS (SELECT doc_id, count(*) AS nsh FROM hh GROUP BY 1),
         |b AS (SELECT doc_id AS idb, h60 FROM hh
         |      WHERE doc_id % 31 = 0 AND doc_id < 527),
         |c AS (SELECT doc_id AS ida, h60 FROM hh
         |      WHERE NOT (doc_id % 31 = 0 AND doc_id < 527)),
         |i AS (SELECT c.ida, b.idb, count(*) AS inter
         |      FROM c JOIN b USING (h60) GROUP BY 1, 2)
         |SELECT i.ida, i.idb, CAST(i.inter AS BIGINT) AS inter,
         |  round(CAST(i.inter AS DOUBLE) /
         |    (sa.nsh + sb.nsh - i.inter), 6) AS jaccard
         |FROM i JOIN sz sa ON sa.doc_id = i.ida
         |JOIN sz sb ON sb.doc_id = i.idb
         |WHERE 2 * i.inter >= (sa.nsh + sb.nsh - i.inter)""".stripMargin,

    "t16_decontamination" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |gr AS (SELECT doc_id,
         |    list_distinct(list_transform(generate_series(1, len(words) - 2),
         |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS grams
         |  FROM w WHERE len(words) >= 3),
         |e AS (SELECT doc_id, unnest(grams) AS shingle FROM gr),
         |bench AS (SELECT DISTINCT shingle FROM e WHERE doc_id % 97 = 0),
         |corpus AS (SELECT * FROM e WHERE doc_id % 97 <> 0),
         |counts AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1),
         |hits AS (SELECT c.doc_id, count(*) AS n_hits
         |         FROM corpus c JOIN bench b USING (shingle) GROUP BY 1)
         |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  round(coalesce(n_hits, 0) / n_grams, 6) AS ratio
         |FROM counts LEFT JOIN hits USING (doc_id)""".stripMargin,

    "t17_repetition" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
         |           FROM documents),
         |b AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
         |        CAST(len(words) - 1 AS BIGINT) AS n_bigrams,
         |        CAST(len(list_distinct(list_transform(
         |          generate_series(1, len(words) - 1),
         |          i -> words[i] || ' ' || words[i+1]))) AS BIGINT) AS n_distinct
         |      FROM w WHERE len(words) >= 2),
         |wc AS (SELECT doc_id, word, count(*) AS c FROM (
         |         SELECT doc_id, unnest(words) AS word FROM w
         |         WHERE len(words) >= 2) GROUP BY 1, 2),
         |t AS (SELECT doc_id, max(c) AS top_c FROM wc GROUP BY 1)
         |SELECT b.doc_id, n_words,
         |  round(1.0E0 - n_distinct / n_bigrams, 6) AS rep2,
         |  round(top_c / n_words, 6) AS top_frac
         |FROM b JOIN t ON b.doc_id = t.doc_id""".stripMargin,

    // transitive closure replay of the min-label fixpoint: cluster =
    // min doc_id reachable over the symmetric verified-Jaccard edge set
    "t18_dedup_clusters" ->
      s"""WITH RECURSIVE $SH,
         |$jaccardEdgesDef
         |SELECT id AS doc_id, min(node) AS cluster FROM reach GROUP BY 1""".stripMargin,

    "t19_dedup_survivors" ->
      s"""WITH RECURSIVE $SH,
         |$jaccardEdgesDef,
         |cc AS (SELECT id, min(node) AS cluster FROM reach GROUP BY 1),
         |drops AS (SELECT id AS doc_id FROM cc WHERE id <> cluster),
         |kept AS (SELECT source, count(*) AS n_survivors,
         |           CAST(sum(n_chars) AS BIGINT) AS chars_kept
         |         FROM documents
         |         WHERE doc_id NOT IN (SELECT doc_id FROM drops) GROUP BY 1),
         |tot AS (SELECT source, count(*) AS n_docs,
         |          CAST(sum(n_chars) AS BIGINT) AS chars_total
         |        FROM documents GROUP BY 1)
         |SELECT tot.source, n_docs, coalesce(n_survivors, 0) AS n_survivors,
         |       chars_total, coalesce(chars_kept, 0) AS chars_kept
         |FROM tot LEFT JOIN kept ON tot.source = kept.source""".stripMargin
  )

  /** Verified near-dup edge set + its transitive closure, shared by the
    * t18/t19 oracles: exact 3-gram Jaccard ≥ 0.5 pairs (≥2 shared
    * shingle hashes, shingle df capped at 128 as in
    * [[graft.text.TextOps.ngramJaccardPairs]]), symmetrized, then
    * reachability via recursive CTE.
    * Assumes the `$SH` CTE prefix (w/gr/sh/hh) is already in scope. */
  private def jaccardEdgesDef: String =
    """sz AS (SELECT doc_id, count(*) AS nsh FROM hh GROUP BY 1),
      |rare AS (SELECT h60 FROM hh GROUP BY 1 HAVING count(*) <= 128),
      |hc AS (SELECT doc_id, h60 FROM hh JOIN rare USING (h60)),
      |io AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter
      |       FROM hc a JOIN hc b ON a.h60 = b.h60 AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |je AS (SELECT ida, idb FROM io
      |       JOIN sz sa ON io.ida = sa.doc_id
      |       JOIN sz sb ON io.idb = sb.doc_id
      |       WHERE CAST(io.inter AS DOUBLE) / (sa.nsh + sb.nsh - io.inter) >= 0.5),
      |edges AS (SELECT ida AS src, idb AS dst FROM je
      |          UNION ALL SELECT idb, ida FROM je),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach(id, node) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.id, e.dst FROM reach r JOIN edges e ON r.node = e.src
      |)""".stripMargin
}
