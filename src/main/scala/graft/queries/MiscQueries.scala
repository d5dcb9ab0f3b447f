package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Gts
import graft.multimodal.MultimodalOps
import graft.operators.MetaOps

/** FIND / DELETE metadata surface + multimodal feature extraction. */
object MiscQueries extends QueryPack {
  import GtsQueries.{EV, T0, T7}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // FIND — selector search over the series-metadata table
    // (EgressFindHandler; fn/FIND.java)
    "m01_find" -> ((s, dir) => {
      val meta = Gts.metaTable(Gts.fromEvents(s, dir))
      MetaOps.find(meta, "~events\\.(click|error){user~1.*}")
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("lastactivity"), col("npoints"))
    }),

    // DELETE — remove a selector+range slice, report what remains
    // (StandaloneDeleteHandler; fn/DELETE.java)
    "m02_delete_retained" -> ((s, dir) => {
      val pts = Gts.fromEvents(s, dir)
      val meta = Gts.metaTable(pts)
      MetaOps.deleteBySelector(pts, meta, "events.click{}", T0, T7 - 1)
        .groupBy(col("class"), col("labels").getItem("user").as("userid"))
        .agg(count(lit(1)).as("npoints"))
    }),

    // multimodal: binary media column → partition-batched (stub) decode
    "m03_multimodal_features" -> ((s, dir) => {
      val media = MultimodalOps.mediaFromDocuments(
        s.read.parquet(s"$dir/documents.parquet"))
      MultimodalOps.extractFeatures(media)
    }),

    // vector/matrix suite (fn/TOMAT.java, TRANSPOSE.java, TR.java,
    // binary MUL matrix overload): per-user 2x2 integer matrix of
    // (click, view) x (cents-sum, count), multiplied by a constant,
    // transposed, traced — dimension-generic higher-order-function
    // algebra, flattened to scalars for the oracle
    "v01_matrix_ops" -> ((s, dir) => {
      import graft.functions.MatrixOps._
      val c = Gts.fromEventsCents(s, dir)
      val agg = c.groupBy(col("labels").getItem("user").as("userid"))
        .agg(
          coalesce(sum(when(col("class") === "events.click", col("vdouble"))), lit(0.0)).as("cs"),
          count(when(col("class") === "events.click", 1)).cast(DoubleType).as("cn"),
          coalesce(sum(when(col("class") === "events.view", col("vdouble"))), lit(0.0)).as("vs"),
          count(when(col("class") === "events.view", 1)).cast(DoubleType).as("vn"))
      val a = array(array(col("cs"), col("cn")), array(col("vs"), col("vn")))
      val b = array(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0)))
      val m = matmul(a, b)
      agg.select(col("userid"),
        at(m, 1, 1).as("c11"), at(m, 1, 2).as("c12"),
        at(m, 2, 1).as("c21"), at(m, 2, 2).as("c22"),
        trace(a).as("tr"), at(transposeM(a), 1, 2).as("ta12"))
    }),

    // quaternion suite (fn/TOQUATERNION.java family): per-row unit
    // quaternion packed to the reference's 4x16-bit long, conjugate, and
    // Hamilton product with a constant rotation — all packing arithmetic
    // is IEEE-exact/correctly-rounded so packed longs hash-match DuckDB
    "q01_quaternion_ops" -> ((s, dir) => {
      import graft.functions.Quaternions._
      val f = Gts.fromEvents(s, dir)
      val uid = col("labels").getItem("user").cast(LongType)
      val (w, x, y, z) = (lit(1.0), col("vdouble") / 100.0,
        uid / 20.0, (col("ts") % 360) / 360.0)
      val q = packQCol(w, x, y, z)
      f.select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), q.as("q"))
        .withColumn("qc", conjugateCol(col("q")))
        .withColumn("qm", multiplyCol(col("q"), lit(RotQ)))
    }),

    // BigDecimal suite (§2.9): exact DECIMAL pipeline — prices at
    // DECIMAL(18,2), discount complement, group sums, all exact decimal
    // arithmetic (no doubles anywhere). The hashed output scales the
    // DECIMAL(38,4) total to integral 1e-4 units in BIGINT: the round-2
    // driver hashed DECIMAL columns inconsistently across engines even
    // with identical DESCRIBE types and values, and BIGINT is the type
    // with a proven cross-engine hash record.
    "r10_decimal_revenue" -> ((s, dir) => {
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      l.select(col("l_returnflag"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) -
              col("l_discount").cast(DecimalType(18, 2)))).as("rev"))
        .groupBy(col("l_returnflag"))
        .agg(sum((col("rev") * lit(10000).cast(DecimalType(5, 0)))
            .cast(LongType)).as("revenue_e4"),
          count(lit(1)).as("n"))
    }),

    // multimodal REAL codec roundtrip: synthesize genuine PNG payloads
    // (geometry a function of doc_id), decode via javax.imageio; the
    // oracle predicts the geometry from doc_id arithmetic, so a match
    // proves real bytes went through a real decoder
    "m04_image_decode" -> ((s, dir) => {
      val media = MultimodalOps.pngMediaFromDocuments(
        s.read.parquet(s"$dir/documents.parquet"))
      MultimodalOps.extractImageFeatures(media)
    }),

    // META (fn/META.java: attribute upsert with empty-value delta
    // removes, attributes NOT part of series identity): seed every
    // series with {env, drop, n}; update even-user series with
    // {tier: gold, drop: ""} → tier added, drop removed, odd users
    // untouched. Output renders the final map as sorted k=v pairs
    // (MAP columns don't hash portably; the render is the contract)
    "m06_meta_attrs" -> ((s, dir) => {
      val meta = Gts.metaTable(Gts.fromEvents(s, dir))
        .withColumn("attributes", map(
          lit("env"), lit("prod"), lit("drop"), lit("x"),
          lit("n"), col("npoints").cast(StringType)))
      val updates = meta
        .filter(col("labels").getItem("user").cast(LongType) % 2 === 0)
        .select(col("gtsid"),
          map(lit("tier"), lit("gold"), lit("drop"), lit("")).as("attributes"))
      MetaOps.setAttributes(meta, updates)
        .select(col("class"), col("labels").getItem("user").as("userid"),
          array_join(array_sort(transform(map_entries(col("attributes")),
            e => concat(e.getField("key"), lit("="), e.getField("value")))),
            ",").as("attrs"))
    }),

    // multimodal REAL resize roundtrip: synthetic PNGs → Graphics2D
    // bilinear resize to 8×6 → re-encode → re-decode. The oracle is the
    // constant predicted geometry per doc, so a hash match proves every
    // payload survived decode→resample→encode→decode with real codecs.
    "m05_image_resize" -> ((s, dir) => {
      val media = MultimodalOps.pngMediaFromDocuments(
        s.read.parquet(s"$dir/documents.parquet"))
      MultimodalOps.extractImageFeatures(
        MultimodalOps.resizeImages(media, 8, 6)
          .select(col("media_id"), col("media"), lit("image/png").as("mime")))
    }),

    // multimodal AUDIO: real WAV payloads (synthesized exact-integer
    // sawtooth PCM) decoded through javax.sound.sampled, per-160-sample
    // frame energy + zero crossings; the oracle recomputes the sample
    // math symbolically — the codec layer must be byte-faithful to match
    "m07_audio_features" -> ((s, dir) => {
      val media = MultimodalOps.wavMediaFromDocuments(
        s.read.parquet(s"$dir/documents.parquet"))
      MultimodalOps.audioFeatures(media, 160)
    }),

    // multimodal VIDEO-shaped plumbing: every 2nd 32-byte "frame" of an
    // opaque binary payload explodes into its own row (the real frame-
    // sample shape — schema, partitioning, explode — with the payload
    // the documents' own bytes so the oracle can slice them in SQL;
    // the codec layer for real containers stays a documented stub)
    "m08_video_frames" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val media = docs.select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("media"))
      MultimodalOps.sampleFrames(media, frameBytes = 32, stride = 2)
        .select(col("media_id"), col("frame_idx"),
          md5(col("frame")).as("frame_digest"))
    }),

    // multimodal image NEAR-DUP dedup over the REAL codec path: base
    // PNGs + planted low-bit-perturbed clones → exact-integer 64-bit
    // pHash (32×32 NN sample, quantized-DCT, lower-median threshold)
    // → the same pigeonhole banded join SimHash uses (hamming ≤ 3,
    // complete by construction). The oracle replays the hash from the
    // pixel FORMULA while the engine computes it from decoded bytes —
    // a content-level codec fidelity check, and the image twin of the
    // text near-dup family.
    "m09_phash_neardup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val media = MultimodalOps.pngMediaFromDocuments(docs)
        .unionByName(MultimodalOps.pngMediaClones(docs, 10, 10000000L))
      val sig = MultimodalOps.pHash64(media)
        .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
      graft.text.TextOps.simhashNearDupBanded(sig, 64, 3)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "m01_find" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, max(ts) AS lastactivity, count(*) AS npoints
         |FROM g
         |WHERE regexp_full_match(class, 'events\\.(click|error)')
         |  AND regexp_full_match(userid, '1.*')
         |GROUP BY 1, 2""".stripMargin,

    "m02_delete_retained" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, count(*) AS npoints FROM g
         |WHERE NOT (class = 'events.click' AND ts >= $T0 AND ts <= ${T7 - 1})
         |GROUP BY 1, 2""".stripMargin,

    "m03_multimodal_features" ->
      """WITH h AS (SELECT doc_id AS media_id,
        |    ('0x' || substring(md5(text),1,15))::BIGINT AS h60,
        |    length(text) AS n FROM documents)
        |SELECT media_id, CAST(h60 % 640 AS INT) AS width,
        |  CAST((h60 // 640) % 480 AS INT) AS height,
        |  CAST(1 + (h60 % 3) AS INT) AS channels,
        |  CAST(n AS BIGINT) AS n_bytes
        |FROM h""".stripMargin,

    "v01_matrix_ops" ->
      s"""WITH g AS ($EV),
         |a AS (SELECT userid,
         |  coalesce(sum(CASE WHEN class='events.click' THEN cents END), 0.0) AS cs,
         |  CAST(count(CASE WHEN class='events.click' THEN 1 END) AS DOUBLE) AS cn,
         |  coalesce(sum(CASE WHEN class='events.view' THEN cents END), 0.0) AS vs,
         |  CAST(count(CASE WHEN class='events.view' THEN 1 END) AS DOUBLE) AS vn
         |  FROM g GROUP BY 1)
         |SELECT userid,
         |  cs*1.0 + cn*3.0 AS c11, cs*2.0 + cn*4.0 AS c12,
         |  vs*1.0 + vn*3.0 AS c21, vs*2.0 + vn*4.0 AS c22,
         |  cs + vn AS tr, vs AS ta12
         |FROM a""".stripMargin,

    "q01_quaternion_ops" -> {
      import graft.functions.Quaternions._
      val q = (0 to 3).map(i => componentSql("q", i))
      val r = (0 to 3).map(i => componentSql(RotQ.toString, i))
      s"""WITH g AS ($EV),
         |c AS (SELECT class, userid, ts, 1.0 AS w, vdouble/100.0 AS x,
         |        CAST(userid AS BIGINT)/20.0 AS y, (ts % 360)/360.0 AS z FROM g),
         |p AS (SELECT class, userid, ts,
         |        ${packQSql("w", "x", "y", "z")} AS q FROM c)
         |SELECT class, userid, ts, q,
         |       ${packQSql(q(0), s"-${q(1)}", s"-${q(2)}", s"-${q(3)}")} AS qc,
         |       ${multiplySql(q, r)} AS qm
         |FROM p""".stripMargin
    },

    "r10_decimal_revenue" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST((CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    * CAST(10000 AS DECIMAL(5,0)) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,

    "m04_image_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 32 AS INT) AS width,
        |  CAST(16 + (7 * doc_id) % 32 AS INT) AS height,
        |  CAST(3 AS INT) AS channels,
        |  true AS decoded
        |FROM documents""".stripMargin,

    "m05_image_resize" ->
      """SELECT doc_id AS media_id, 8 AS width, 6 AS height,
        |  3 AS channels, TRUE AS decoded
        |FROM documents""".stripMargin,

    "m06_meta_attrs" ->
      s"""WITH g AS ($EV),
         |m AS (SELECT class, userid, count(*) AS npoints FROM g GROUP BY 1, 2)
         |SELECT class, userid,
         |  CASE WHEN CAST(userid AS BIGINT) % 2 = 0
         |    THEN 'env=prod,n=' || npoints || ',tier=gold'
         |    ELSE 'drop=x,env=prod,n=' || npoints END AS attrs
         |FROM m""".stripMargin,

    // symbolic replay of the sawtooth PCM: s(i) = ((i+1)·k mod 2048) −
    // 1024, k = doc_id%7+1, n = 800 + (doc_id%5)·160, 160-sample frames
    "m07_audio_features" ->
      """WITH d AS (SELECT doc_id, (doc_id % 7) + 1 AS k,
        |             800 + (doc_id % 5) * 160 AS n FROM documents),
        |s AS (SELECT doc_id, k, unnest(generate_series(0, n - 1)) AS i
        |      FROM d),
        |v AS (SELECT doc_id, i, CAST(i // 160 AS INT) AS frame_idx,
        |        ((i + 1) * k) % 2048 - 1024 AS x FROM s),
        |l AS (SELECT *, lag(x) OVER (PARTITION BY doc_id, frame_idx
        |        ORDER BY i) AS prev FROM v)
        |SELECT doc_id AS media_id, frame_idx,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(x * x) AS BIGINT) AS sumsq,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND x * prev < 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zerocross
        |FROM l GROUP BY 1, 2""".stripMargin,

    // frames are full 32-byte slices of the ASCII text (byte slicing ==
    // char slicing there), every 2nd one, digested
    "m08_video_frames" ->
      """SELECT d.doc_id AS media_id, CAST(f.f AS INT) AS frame_idx,
        |  md5(substr(d.text, CAST(f.f * 32 + 1 AS INT), 32)) AS frame_digest
        |FROM documents d
        |CROSS JOIN (SELECT unnest(generate_series(0,
        |  (SELECT max(length(text)) // 32 FROM documents))) AS f) f
        |WHERE f.f < length(d.text) // 32 AND f.f % 2 = 0""".stripMargin,

    // pHash replayed from the pixel formula: NN 32×32 sample of the
    // id-seeded raster (clones flip the blue low bit), gray = R+G+B,
    // separable integer DCT with the 16384-quantized cos basis, lower
    // median threshold, 16-bit pigeonhole bands, exact hamming ≤ 3
    "m09_phash_neardup" ->
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS seed, FALSE AS fl FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, doc_id, TRUE FROM documents
        |  WHERE doc_id % 10 = 0),
        |g AS (SELECT id, seed, fl, 16 + seed % 32 AS w,
        |        16 + (7 * seed) % 32 AS h FROM ids),
        |grid AS (SELECT unnest(generate_series(0, 31)) AS x),
        |px AS (SELECT id, fl, x, y,
        |    CAST((CAST(s AS HUGEINT) * s * 2654435761 + s) % 16777216
        |      AS BIGINT) AS v
        |  FROM (SELECT g.id, g.fl, gx.x, gy.x AS y,
        |      g.seed * 131071 + ((gx.x * w) // 32) * 31
        |        + ((gy.x * h) // 32) * 977 + 7 AS s
        |    FROM g, grid gx, grid gy)),
        |gr AS (SELECT id, x, y,
        |    ((v // 65536) % 256) + ((v // 256) % 256)
        |      + (CASE WHEN fl THEN xor(v % 256, 4) ELSE v % 256 END) AS gray
        |  FROM px),
        |ct AS (SELECT uu.u, gx.x,
        |    CAST(floor(cos(pi() * (2 * gx.x + 1) * uu.u / 64.0) * 16384.0
        |      + 0.5) AS BIGINT) AS c
        |  FROM (SELECT unnest(generate_series(0, 7)) AS u) uu, grid gx),
        |rs AS (SELECT gr.id, gr.y, ct.u, sum(gr.gray * ct.c) AS s
        |  FROM gr JOIN ct ON ct.x = gr.x GROUP BY 1, 2, 3),
        |cf AS (SELECT rs.id, rs.u, ct.u AS v2, sum(rs.s * ct.c) AS coef
        |  FROM rs JOIN ct ON ct.x = rs.y GROUP BY 1, 2, 3),
        |md AS (SELECT id, coef AS med FROM (
        |    SELECT id, coef, row_number() OVER (PARTITION BY id
        |      ORDER BY coef) AS rn FROM cf) WHERE rn = 32),
        |bits AS (SELECT cf.id, cf.u * 8 + cf.v2 AS i,
        |    CASE WHEN cf.coef > md.med THEN 1 ELSE 0 END AS bit
        |  FROM cf JOIN md USING (id)),
        |bands AS (SELECT id, i // 16 AS bi,
        |    sum(bit * (1::BIGINT << (i % 16))) AS bv
        |  FROM bits GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.id AS ida, b.id AS idb
        |  FROM bands a JOIN bands b
        |    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
        |ham AS (SELECT c.ida, c.idb,
        |    sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hd
        |  FROM cand c
        |  JOIN bits x ON x.id = c.ida
        |  JOIN bits y ON y.id = c.idb AND y.i = x.i
        |  GROUP BY 1, 2)
        |SELECT ida, idb, CAST(hd AS INT) AS hdist
        |FROM ham WHERE hd <= 3""".stripMargin
  )
}
