package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WarpScript front-end queries, part 2 (round-5 word tail):
  * FUNCTIONS/TDESCRIBE introspection, PERMUTE, LOCATIONOFFSET,
  * PIVOTSTRICT, FINDSETS/METASET, KVSTORE/KVLOAD, macro signing,
  * ECRECOVER, ->MVSTRING. Same contract as [[WsQueries]]: each row
  * runs a real WarpScript program through the engine and is hashed
  * against an independent DuckDB derivation (or the literal expected
  * values for scalar words).
  */
object WsQueries2 extends QueryPack {
  import GtsQueries.{LB, DAY, EV}
  import WsQueries.engine

  private val userid = col("labels").getItem("user").as("userid")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // FUNCTIONS (fn/FUNCTIONS.java): capability-gated inventory; the
    // oracle asserts membership + a floor on the count so the row does
    // not churn every time a word lands
    "w73_ws_functions" -> ((s, dir) => {
      val names = engine(s, dir, cents = false)
        .run("'inventory=1' CAPADD FUNCTIONS")
        .head.asInstanceOf[Vector[Any]].map(_.toString)
      s.range(1).select(
        lit(names.contains("FETCH")).as("has_fetch"),
        lit(names.contains("BUCKETIZE")).as("has_bucketize"),
        lit(names.contains("mapper.sum")).as("has_mapper_sum"),
        lit(names.contains("ECRECOVER")).as("has_ecrecover"),
        lit(names.length > 850).as("big_enough"),
        lit(names == names.sorted && names.distinct == names).as("sorted_unique"))
    }),

    // TDESCRIBE (fn/TDESCRIBE.java): recursive type description
    "w74_ws_tdescribe" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      s.range(1).select(
        lit(e.run("[ 1 2 3 ] TDESCRIBE").head.toString).as("t_list"),
        lit(e.run("{ 'a' 1.5 } TDESCRIBE").head.toString).as("t_map"),
        lit(e.run("[ [ 'x' ] ] TDESCRIBE").head.toString).as("t_nested"))
    }),

    // PERMUTE (fn/shape/PERMUTE.java): 2x3 transpose, flattened
    "w75_ws_permute" -> ((s, dir) => {
      val v = engine(s, dir, cents = false)
        .run("[ [ 1 2 3 ] [ 4 5 6 ] ] [ 1 0 ] PERMUTE FLATTEN")
        .head.asInstanceOf[Vector[Any]]
      s.range(1).select(lit(v.mkString(",")).as("flat"))
    }),

    // LOCATIONOFFSET (continuum/gts/LOCATIONOFFSET.java): equator
    // fixture — 0.1 deg lon ~ 11.1 km, 1 deg ~ 111.3 km, dist 100 km;
    // kept = first, >=dist-from-last-kept, last
    "w76_ws_locationoffset" -> ((s, dir) => {
      val prog =
        """NEWGTS 'g' RENAME
          |0 0.0 0.0  NULL 1.0 ADDVALUE
          |1 0.0 0.1  NULL 1.0 ADDVALUE
          |2 0.0 0.5  NULL 1.0 ADDVALUE
          |3 0.0 1.0  NULL 1.0 ADDVALUE
          |4 0.0 1.05 NULL 1.0 ADDVALUE
          |5 0.0 2.0  NULL 1.0 ADDVALUE
          |6 0.0 2.05 NULL 1.0 ADDVALUE
          |7 0.0 2.1  NULL 1.0 ADDVALUE
          |100000.0 LOCATIONOFFSET TICKS""".stripMargin
      val ticks = engine(s, dir, cents = false).run(prog)
        .head.asInstanceOf[Vector[Any]]
      s.range(1).select(lit(ticks.mkString(",")).as("kept_ticks"))
    }),

    // PIVOTSTRICT (fn/PIVOT.java synchronous): daily count buckets of
    // every series labeled with user 1's click count at the same tick
    "w77_ws_pivotstrict" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  bucketizer.count $LB $DAY 0 ] BUCKETIZE 'data' STORE
           |[ [ '' 'events.click' { 'user' '1' } $LB ${LB + 1} ] FETCH
           |  bucketizer.count $LB $DAY 0 ] BUCKETIZE 'phase' RENAME 'lab' STORE
           |[ $$data ] [ $$lab ] PIVOTSTRICT""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid,
          col("labels").getItem("phase").as("phase"),
          col("ts"), col("vdouble").cast(LongType).as("n"))
    }),

    // FINDSETS (fn/FIND.java elements=true): class and label-value sets
    "w78_ws_findsets" -> ((s, dir) => {
      val out = engine(s, dir, cents = false)
        .run("[ '' '~events\\..*' { } ] FINDSETS")
      val labels = out(1).asInstanceOf[Map[Any, Any]]
      val classes = out(2).asInstanceOf[Vector[Any]].map(_.toString)
      val users = labels("user").asInstanceOf[Vector[Any]].map(_.toString)
      s.range(1).select(
        lit(classes.mkString(",")).as("classes_csv"),
        lit(users.length.toLong).as("n_user"),
        lit(users.min).as("min_user"),
        lit(users.max).as("max_user"))
    }),

    // METASET (fn/FIND.java metaset=true): ttl + matched metadata
    "w79_ws_metaset" -> ((s, dir) => {
      val ms = engine(s, dir, cents = false)
        .run(s"[ '' '~events\\..*' { } ] 3600000000 METASET")
        .head.asInstanceOf[Map[Any, Any]]
      s.range(1).select(
        lit(ms("ttl").asInstanceOf[Long]).as("ttl"),
        lit(ms("selector").toString).as("selector"),
        lit(ms("metadatas").asInstanceOf[Vector[Any]].length.toLong).as("n_metas"))
    }),

    // KVSTORE / KVLOAD round trip incl. null deletion and range form
    "w80_ws_kvstore" -> ((s, dir) => {
      val prog =
        """{ 'a' 1 'b' 2 'c' 3 } 'tok' KVSTORE
          |{ 'b' NULL } 'tok' KVSTORE
          |{ 'token' 'tok' 'start' 'a' 'end' 'd' } KVLOAD""".stripMargin
      val m = engine(s, dir, cents = false).run(prog)
        .head.asInstanceOf[Map[Any, Any]]
      s.range(1).select(
        lit(m.keys.map(_.toString).toSeq.sorted.mkString(",")).as("keys_csv"),
        lit(m("a").asInstanceOf[Long]).as("v_a"),
        lit(m("c").asInstanceOf[Long]).as("v_c"))
    }),

    // macro signing: MSIGN → MCHECKSIG true, tampered body false,
    // MSIGCOUNT counts the trailing signature (the ECDSA signature is
    // randomized; every OUTPUT here is deterministic)
    "w81_ws_msign" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val out = e.run("<% 1 2 + %> 'secp256r1' ECGEN DROP MSIGN")
      val sig = out.head.asInstanceOf[graft.script.WarpScriptEngine.WsMacro]
      val strs = sig.tokens.collect { case graft.script.WsToken.WsStr(v) => v }
      val signed = s"<% 1 2 + '${strs(0)}' '${strs(1)}' '${strs(2)}' MSIG %>"
      val bad = s"<% 1 3 + '${strs(0)}' '${strs(1)}' '${strs(2)}' MSIG %>"
      s.range(1).select(
        lit(e.run(s"$signed MCHECKSIG").head.asInstanceOf[Boolean]).as("ok"),
        lit(e.run(s"$bad MCHECKSIG").head.asInstanceOf[Boolean]).as("tampered_ok"),
        lit(e.run(s"$signed MSIGCOUNT").head.asInstanceOf[Long]).as("n_sigs"),
        lit(e.run("<% 1 2 + %> MSIGCOUNT").head.asInstanceOf[Long]).as("n_unsigned"))
    }),

    // ECRECOVER (fn/ECRECOVER.java): recover candidates from a fixed-
    // key ECDSA signature. Both SEC1 candidates (from R and -R) verify
    // the signature that produced them — that is a theorem, not a bug —
    // so the sharp check is the intersection of the candidate sets of
    // two DIFFERENT messages: only the true public key survives.
    "w82_ws_ecrecover" -> ((s, dir) => {
      val prog =
        """'graft recover' 'UTF-8' ->BYTES 'data' STORE
          |'graft recover two' 'UTF-8' ->BYTES 'data2' STORE
          |{ 'curve' 'secp256r1' 'd' '12345678901234567890' } ECPRIVATE 'sk' STORE
          |$data 'SHA256WITHECDSA' $sk ECSIGN 'sig' STORE
          |$data2 'SHA256WITHECDSA' $sk ECSIGN 'sig2' STORE
          |{ 'curve' 'secp256r1' 'hash' $data SHA256 'sig' $sig } ECRECOVER 'cands' STORE
          |$cands <% DROP ECPUBLIC 'k' STORE $data $sig 'SHA256WITHECDSA' $k ECVERIFY %> LMAP
          |$cands <% DROP 'q' GET %> LMAP ->SET
          |{ 'curve' 'secp256r1' 'hash' $data2 SHA256 'sig' $sig2 } ECRECOVER
          |<% DROP 'q' GET %> LMAP ->SET
          |INTERSECTION SIZE""".stripMargin
      val out = engine(s, dir, cents = false).run(prog)
      val nCommon = out(0).asInstanceOf[Long]
      val verdicts = out(1).asInstanceOf[Vector[Any]].map(_.asInstanceOf[Boolean])
      s.range(1).select(
        lit(verdicts.length.toLong).as("n_candidates"),
        lit(verdicts.count(identity).toLong).as("n_verifying"),
        lit(nCommon).as("n_common"))
    }),

    // SMARTPARSE (fn/SMARTPARSE.java:150-230): every matcher.find()
    // hit emits a point — 3 matches in one string → 3 points; the
    // DuckDB oracle re-derives the find() loop independently with
    // regexp_extract_all + zipped unnest
    "w84_ws_smartparse" -> ((s, dir) => {
      val prog =
        """NEWGTS 'log' RENAME
          |100 NaN NaN NULL 'cpu=1 at=10; cpu=2 at=20; cpu=3 at=30' ADDVALUE
          |200 NaN NaN NULL 'cpu=7 at=70' ADDVALUE
          |300 NaN NaN NULL 'mem=9' ADDVALUE
          |'cpu=(?<VLcpu>\d+) at=(?<Tus>\d+)' SMARTPARSE""".stripMargin
      engine(s, dir, cents = false).runToFrame(prog)
        .select(col("class"), col("ts"), col("vlong").as("cpu"))
    }),

    // ->MVSTRING (fn/TOMVSTRING.java): multivalue string rendering
    "w83_ws_mvstring" -> ((s, dir) => {
      val prog =
        """NEWGTS 'm' RENAME
          |0 NaN NaN NULL 42.0 ADDVALUE
          |1 NaN NaN NULL 3.5 ADDVALUE
          |->MVSTRING""".stripMargin
      val v = engine(s, dir, cents = false).run(prog).head.toString
      s.range(1).select(lit(v).as("mv"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "w73_ws_functions" ->
      """SELECT true AS has_fetch, true AS has_bucketize,
        |  true AS has_mapper_sum, true AS has_ecrecover,
        |  true AS big_enough, true AS sorted_unique""".stripMargin,

    "w74_ws_tdescribe" ->
      """SELECT 'LIST [ LONG ]' AS t_list, 'MAP { STRING : DOUBLE } ' AS t_map,
        |  'LIST [ LIST [ STRING ] ]' AS t_nested""".stripMargin,

    "w75_ws_permute" -> "SELECT '1,4,2,5,3,6' AS flat",

    "w76_ws_locationoffset" -> "SELECT '0,3,5,7' AS kept_ticks",

    "w77_ws_pivotstrict" ->
      s"""WITH g AS ($EV),
         |d AS (SELECT class, userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts,
         |        CAST(count(*) AS BIGINT) AS n
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2, 3),
         |l AS (SELECT ts, CAST(n AS VARCHAR) AS phase
         |      FROM d WHERE class = 'events.click' AND userid = '1')
         |SELECT d.class, d.userid, l.phase, d.ts, d.n
         |FROM d JOIN l USING (ts)""".stripMargin,

    "w78_ws_findsets" ->
      """WITH c AS (SELECT DISTINCT 'events.' || event_type AS class FROM events),
        |u AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS uid FROM events)
        |SELECT (SELECT string_agg(class, ',' ORDER BY class) FROM c) AS classes_csv,
        |  (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_user,
        |  (SELECT min(uid) FROM u) AS min_user,
        |  (SELECT max(uid) FROM u) AS max_user""".stripMargin,

    "w79_ws_metaset" ->
      """SELECT CAST(3600000000 AS BIGINT) AS ttl,
        |  '~events\..*' AS selector,
        |  (SELECT CAST(count(*) AS BIGINT)
        |   FROM (SELECT DISTINCT event_type, user_id FROM events)) AS n_metas""".stripMargin,

    "w80_ws_kvstore" ->
      "SELECT 'a,c' AS keys_csv, CAST(1 AS BIGINT) AS v_a, CAST(3 AS BIGINT) AS v_c",

    "w81_ws_msign" ->
      """SELECT true AS ok, false AS tampered_ok,
        |  CAST(1 AS BIGINT) AS n_sigs, CAST(0 AS BIGINT) AS n_unsigned""".stripMargin,

    "w82_ws_ecrecover" ->
      """SELECT CAST(2 AS BIGINT) AS n_candidates,
        |  CAST(2 AS BIGINT) AS n_verifying,
        |  CAST(1 AS BIGINT) AS n_common""".stripMargin,

    "w83_ws_mvstring" -> "SELECT '[! 42.0 1/3.5 ]' AS mv",

    "w84_ws_smartparse" ->
      """WITH raw(s) AS (VALUES ('cpu=1 at=10; cpu=2 at=20; cpu=3 at=30'),
        |                       ('cpu=7 at=70'), ('mem=9')),
        |m AS (SELECT unnest(regexp_extract_all(s, 'cpu=(\d+) at=(\d+)', 1)) AS cpu,
        |             unnest(regexp_extract_all(s, 'cpu=(\d+) at=(\d+)', 2)) AS at
        |      FROM raw)
        |SELECT 'cpu' AS class, CAST(at AS BIGINT) AS ts, CAST(cpu AS BIGINT) AS cpu
        |FROM m""".stripMargin,
  )
}
