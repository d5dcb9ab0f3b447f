package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Gts
import graft.operators.GtsFrame
import graft.script.WarpScriptEngine

/** WarpScript FRONT-END queries: each runs an actual WarpScript program
  * text through [[WarpScriptEngine]] and must reproduce — bit for bit —
  * the answer of the equivalent hand-built GtsFrame query, so the
  * oracle SQL is REUSED from the corresponding g-row. A hash match
  * proves tokenizer + stack semantics + word compilation end-to-end:
  * the program compiles to the same Catalyst plan family a native
  * caller gets (the front end adds zero execution-time cost).
  */
object WsQueries extends QueryPack {
  import GtsQueries.{T0, T7, LB, HOUR, DAY, EV}

  private val userid = col("labels").getItem("user").as("userid")


  /** Per-JVM memo of the maintained-directory stand-in, keyed by
    * (session, dir, cents): repeated engine() calls in one process
    * share ONE persisted table instead of leaking a checkpoint per
    * call. persist (lineage intact) rather than localCheckpoint: a
    * host's blanket unpersist sweep (the bench does one between
    * queries) then merely costs a recompute, never an unrecoverable
    * truncated-lineage error. */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** FETCH over the events table: selector + label selectors + range,
    * exactly GtsFrame.select∘timeclip (the engine's storage hook).
    * `withMeta` additionally hands the engine an ingest-maintained
    * directory table (one row per series with lastactivity, as the
    * reference's ingress keeps it — StandaloneDirectoryClient.java:
    * 604-609), built once per JVM and persisted like the at-rest table
    * a real deployment reads from disk: FETCH directory consumers then
    * consult it instead of scanning point history. */
  private[queries] def engine(s: SparkSession, dir: String, cents: Boolean,
      withMeta: Boolean = false) = {
    val base = if (cents) Gts.fromEventsCents(s, dir) else Gts.fromEvents(s, dir)
    val metaOpt =
      if (!withMeta) None
      else {
        val key = s"${System.identityHashCode(s)}|$dir|$cents"
        Some(() => {
          val df = metaCache.computeIfAbsent(key, _ => Gts.metaTable(base))
          // Re-persist when a host cache sweep dropped it: the FETCH
          // plan references the directory MANY times (per-selector
          // dirMeta, page ranks, ownership), and an uncached directory
          // re-executes its full-events groupBy per reference — one
          // swept w122 page face re-ran 42 parquet scans (r12).
          if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
            df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          df
        })
      }
    new WarpScriptEngine(
      fetch = (cls, labels, start, stop) =>
        GtsFrame(base).select(cls, labels).timeclip(start, stop),
      nowTs = LB, session = Some(s), meta = metaOpt)
  }

  /** Materialize the shared persisted directory NOW (one tiny job):
    * callers that fan FETCH faces out as concurrent jobs warm it first
    * so the racing jobs reuse cached blocks instead of duplicating the
    * full-events directory build. */
  private[queries] def warmMeta(s: SparkSession, dir: String,
      cents: Boolean): Unit = {
    val base = if (cents) Gts.fromEventsCents(s, dir) else Gts.fromEvents(s, dir)
    val key = s"${System.identityHashCode(s)}|$dir|$cents"
    val df = metaCache.computeIfAbsent(key, _ => Gts.metaTable(base))
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
  }
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // FETCH word (fn/FETCH.java list form, token ignored) ≡ g01
    "w01_ws_fetch" -> ((s, dir) => {
      val program =
        s"""// fetch one week of clicks and views
           |[ 'TOKEN' '~events\\.(click|view)' { } ${T7 - 1} ${T7 - T0} ] FETCH""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),


    // BUCKETIZE word with a duration literal (1 h) ≡ g02
    "w02_ws_bucketize" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  bucketizer.sum $LB 1 h 0 ] BUCKETIZE""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("sum_cents"))
    }),


    // MAP word, negative pre = 1h time window ≡ g06; the window width
    // is computed ON STACK (0 1 h -) to exercise scalar arithmetic
    "w03_ws_map" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |  mapper.sum 0 1 h - 0 0 ] MAP""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("wsum"))
    }),


    // REDUCE word with label equivalence ≡ g08; macros + STORE exercise
    // the symbol table on the series list
    "w04_ws_reduce" -> ((s, dir) => {
      val program =
        s"""<% [ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH %> 'fetchall' STORE
           |[ @fetchall [ 'user' ] reducer.sum ] REDUCE""".stripMargin
      // @name sugar is not in the subset: expand via $ + EVAL
      val expanded = program.replace("@fetchall", "$fetchall EVAL")
      engine(s, dir, cents = true).runToFrame(expanded)
        .select(col("user").as("userid"), col("ts"), col("vdouble").as("rsum"))
    }),


    // FILTER word with a parametric threshold filter ≡ g11
    "w05_ws_filter" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |  [ ] 90.0 filter.last.gt ] FILTER""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),


    // APPLY word with op.sub on bucketized operands ≡ g09
    "w06_ws_apply" -> ((s, dir) => {
      val program =
        s"""[ [ '' 'events.click' { } $LB ${LB + 1} ] FETCH
           |    bucketizer.sum $LB 1 d 0 ] BUCKETIZE 'clicks' STORE
           |[ [ '' 'events.view' { } $LB ${LB + 1} ] FETCH
           |    bucketizer.sum $LB 1 d 0 ] BUCKETIZE 'views' STORE
           |[ [ $$clicks ] [ $$views ] [ 'user' ] op.sub ] APPLY""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("user").as("userid"), col("ts"), col("vdouble").as("diff"))
    }),


    // RENAME (+suffix form) and RELABEL (set one label, remove none):
    // identity-rewrite words with gtsid rehash ≡ plain SQL renames
    "w08_ws_rename" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |'+.renamed' RENAME
           |{ 'env' 'prod' } RELABEL""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), userid,
          col("labels").getItem("env").as("env"), col("ts"), col("vdouble"))
    }),


    // NEWGTS/ADDVALUE: a series built from stack literals (FOREACH over
    // a tick list), bucketized — the oracle is the closed-form VALUES
    "w09_ws_newgts" -> ((s, dir) => {
      val e = new WarpScriptEngine(
        fetch = (_, _, _, _) => throw new UnsupportedOperationException,
        nowTs = 0L, session = Some(s))
      val program =
        """NEWGTS 'stack.series' RENAME 'g' STORE
          |[ 1 2 3 4 5 6 ] <%
          |  'i' STORE
          |  $g $i 1000000 * NaN NaN NULL $i $i * TODOUBLE ADDVALUE 'g' STORE
          |%> FOREACH
          |[ [ $g ] bucketizer.sum 6000000 2000000 0 ] BUCKETIZE""".stripMargin
      e.runToFrame(program)
        .select(col("class"), col("ts"), col("vdouble").as("bsum"))
    }),


    // driver-side scalar words: arithmetic, comparisons, macros, IFTE,
    // FOREACH accumulation — the answer is assembled on the stack and
    // becomes a one-row frame; oracle computes the same expression
    "w07_ws_scalars" -> ((s, dir) => {
      val program =
        """<% DUP * %> 'sq' STORE
          |0 'acc' STORE
          |[ 1 2 3 4 5 ] <% $sq EVAL $acc + 'acc' STORE %> FOREACH
          |$acc                       // 55
          |7 2 /                      // long division: 3
          |+                          // 58
          |DUP 50 > <% 100 + %> <% 0 %> IFTE  // 158
          |2.5 1 h TODOUBLE * 0.5 ROUND MAX   // 9e9
          |""".stripMargin
      val st = engine(s, dir, cents = false).run(program)
      val top = st.head.asInstanceOf[Double]
      val next = st(1).asInstanceOf[Long]
      s.range(1).select(lit(top).as("v_double"), lit(next).as("v_long"))
    }),


    // LOWESS word (fn/LOWESS.java → GTSHelper.rlowess(gts, 7, 0, 0, 1),
    // faithful r11): the reference's pointwise locally weighted
    // regression over a FILLVALUE'd 240-bucket hourly grid — on a
    // regular grid the 7-nearest window is the clamped centered window
    // and every weight/centroid/fit term is a fixed scalar tree the
    // oracle replays verbatim (no rounding needed)
    "w10_ws_lowess" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  bucketizer.sum $LB 1 h 240 ] BUCKETIZE
           |[ 0 0 0 0.0 ] FILLVALUE
           |7 LOWESS""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("fit"))
    }),


    // FFT word (continuum/gts/FFT.java surface) ≡ g81 — bins/span/
    // lastbucket on stack, span via the duration word `1 d`
    "w11_ws_fft" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |16 1 d $LB FFT""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("k"), col("re"), col("im"),
          col("mag"))
    }),


    // FILLPREVIOUS word ≡ g17 — BUCKETIZE pushes a metadata-carrying
    // bucketized frame; the fill word reads lastbucket/span from it and
    // derives the 30-bucket count from the data extent (count 0)
    "w12_ws_fillprevious" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  bucketizer.sum $LB 1 d 0 ] BUCKETIZE
           |FILLPREVIOUS""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("filled"))
    }),


    // SINGLEEXPONENTIALSMOOTHING word ≡ g67 (general-alpha kernel)
    "w13_ws_ses" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |0.25 SINGLEEXPONENTIALSMOOTHING""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), round(col("vdouble"), 6).as("ses"))
    }),


    // LR word ≡ g89 (hourly-bucket least squares)
    "w15_ws_lr" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |1 h $LB LR""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("n"), col("slope"), col("intercept"))
    }),


    // FDWT word ≡ g91 (3-level Haar over 8 daily buckets)
    "w16_ws_fdwt" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |3 1 d $LB FDWT""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class") +:
          col("labels").getItem("user").as("userid") +: (
          Seq("a3", "d3_1", "d2_1", "d2_2", "d1_1", "d1_2", "d1_3", "d1_4")
            .map(col)): _*)
    }),


    // DISCORDS (faithful r11 — continuum/gts/DISCORDS.java HOTSAX
    // search per series): 8 FILLVALUE'd daily buckets, windowLen 4,
    // wordLen 4, count 1, overlap tolerated. Interior windows keep
    // nndist=+inf (no far neighbour), so the winner is the first +inf
    // candidate in the reference's (occurrence, lex, location)
    // processing order — the closed form the oracle replays
    "w17_ws_discords" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  bucketizer.sum $LB 1 d 8 ] BUCKETIZE
           |[ 0 0 0 0.0 ] FILLVALUE
           |4 4 4 1 true 0.0 DISCORDS""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), col("vdouble"))
    }),


    // RANGECOMPACT (faithful r11 — fn/RANGECOMPACT.java has NO
    // parameter: GTSHelper.compact preserveRanges=true, first + last
    // point of each constant run) over the 25-step coarsened values —
    // the same fixture as g13, whose oracle it reuses
    "w18_ws_rangecompact" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |<% 7 GET 0 GET 25.0 / FLOOR 25.0 * %> MACROMAPPER 0 0 0 ] MAP
           |RANGECOMPACT""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), col("vdouble").as("qv"))
    }),


    // structural words through the script path, each ≡ its native
    // g-row. The 25-step coarsening runs as a MACROMAPPER (the
    // QUANTIZE word is the reference's bounds/targets form since r11
    // and has no step face) — floor(v/25)·25 in the executor-side
    // macro interpreter, the identical IEEE arithmetic of the g12/g13
    // fixtures' GtsFrame.quantize helper.
    // DEDUP word (fn/DEDUP.java, corrected r12 — duplicate-TICK
    // removal): duplicates constructed through the word path (MERGE of
    // the fetch with its mapper.mul-doubled copy), then DEDUP keeps
    // one point per tick — the per-tick max under the engine's
    // canonical pick (g12's oracle, same construction)
    "w19_ws_dedup" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH 'a' STORE
           |[ $$a [ $$a 2.0 mapper.mul 0 0 0 ] MAP ] MERGE
           |DEDUP""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("v"))
    }),


    "w20_ws_compact" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |<% 7 GET 0 GET 25.0 / FLOOR 25.0 * %> MACROMAPPER 0 0 0 ] MAP
           |COMPACT""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("qv"))
    }),


    // INTEGRATE's reference form (r11): a numeric initial value on the
    // stack, rates/second left-rectangle integral
    "w21_ws_integrate" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |2.5 INTEGRATE""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("integ"))
    }),


    // TIMESPLIT's 3-parameter reference form (corrected r11): the
    // session id arrives as a label; minvalues 1 keeps every sub-series
    "w22_ws_timesplit" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |1 h 1 'session' TIMESPLIT""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), userid, col("ts"),
          col("labels").getItem("session").cast("long").as("sessionid"))
    }),


    // CHUNK's 5-parameter reference form (fn/CHUNK.java; corrected
    // r11): the chunk id arrives as a NEW LABEL. keepempty=false with
    // an explicit lastchunk beyond a series' last tick shifts that
    // series' grid down to the chunk CONTAINING its last tick
    // (GTSHelper.chunk:9689-9699) — so the chunk ends are per-series,
    // unlike g16's fixed grid.
    "w23_ws_chunk" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |$LB 1 d 0 'chunk' false CHUNK""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), userid, col("ts"),
          col("labels").getItem("chunk").cast("long").as("chunkid"))
    }),


    "w24_ws_normalize" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |NORMALIZE""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"),
          round(col("vdouble"), 9).as("norm_v"))
    }),


    "w25_ws_standardize" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |STANDARDIZE""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"),
          round(col("vdouble"), 6).as("z_v"))
    }),


    // TIMECLIP in the reference's now+duration form (r11): the window
    // [T0+1d, T7+1d−1] expressed as now = T7+1d−1, duration = T7−T0
    "w26_ws_timeshift" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |1 d TIMESHIFT ${T7 + DAY - 1} ${T7 - T0} TIMECLIP""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),


    // PIVOT word ≡ g37 (wide per-user daily table, one column per class)
    "w27_ws_pivot" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |[ 'events.click' 'events.view' 'events.error'
           |  'events.purchase' 'events.signup' ]
           |'user' $LB 1 d PIVOT""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .withColumnsRenamed(Map(
          "user" -> "userid",
          "events.click" -> "click_v", "events.view" -> "view_v",
          "events.error" -> "error_v", "events.purchase" -> "purchase_v",
          "events.signup" -> "signup_v"))
    }),


    // list/map/control word tour: SUBLIST, LMAP, MMAP, UNIQUE, LSORT,
    // APPEND, KEYLIST, VALUELIST, SWITCH, TRY — closed-form oracle
    "w28_ws_listwords" -> ((s, dir) => {
      val program =
        """0 'sum' STORE
          |[ 5 3 1 4 1 5 9 2 6 ] UNIQUE LSORT [ 1 3 ] SUBLIST
          |<% DROP 10 * %> LMAP
          |<% $sum + 'sum' STORE %> FOREACH
          |{ 'b' 2 'a' 1 'c' 3 } <% DROP 2 * %> MMAP 'mp' STORE
          |$mp VALUELIST <% $sum + 'sum' STORE %> FOREACH
          |$mp KEYLIST '' JOIN 'ks' STORE
          |7 'v' STORE
          |<% $v 5 < %> <% 'small' %>
          |<% $v 10 < %> <% 'medium' %>
          |<% 'large' %> 2 SWITCH 'sw' STORE
          |<% [ ] 0 GET %> <% 'caught' %> <% %> TRY 'tr' STORE
          |[ 1 2 ] [ 3 ] APPEND SIZE $sum +
          |$ks '|' + $sw + '|' + $tr +
          |""".stripMargin
      val st = engine(s, dir, cents = false).run(program)
      val vStr = st.head.asInstanceOf[String]
      val vLong = st(1).asInstanceOf[Long]
      s.range(1).select(lit(vLong).as("v_long"), lit(vStr).as("v_str"))
    }),


    // BigDecimal word suite (fn/BDADD.java family): exact decimal
    // carry, multiplication scale, exact division, HALF_UP rounding,
    // exact re-scale, subtraction — each rendered to text so the oracle
    // is DuckDB's own DECIMAL arithmetic rendered the same way
    "w29_ws_bigdecimal" -> ((s, dir) => {
      val program =
        """'9.999' TOBD '0.001' TOBD BDADD TOSTRING
          |'1.5' TOBD '2.5' TOBD BDMUL TOSTRING
          |'1' TOBD '8' TOBD BDDIV TOSTRING
          |'2.5' TOBD BDROUND TOSTRING
          |'1.5' TOBD 3 BDSCALE TOSTRING
          |'7.25' TOBD '1.25' TOBD BDSUB TOSTRING
          |""".stripMargin
      val stv = engine(s, dir, cents = false).run(program)
      // stack is top-first: sub, scale, round, div, mul, add
      s.range(1).select(
        lit(stv(5).asInstanceOf[String]).as("v_add"),
        lit(stv(4).asInstanceOf[String]).as("v_mul"),
        lit(stv(3).asInstanceOf[String]).as("v_div"),
        lit(stv(2).asInstanceOf[String]).as("v_round"),
        lit(stv(1).asInstanceOf[String]).as("v_scale"),
        lit(stv(0).asInstanceOf[String]).as("v_sub"))
    }),


    // collection/codec/time word tour: RANGE, PUT, REMOVE, nested GET,
    // URLENCODE/URLDECODE, TSELEMENTS (tz-aware) — closed-form oracle
    "w30_ws_collwords" -> ((s, dir) => {
      val program =
        """[ 3 9 2 ] RANGE 99 1 PUT 1 REMOVE 'rem' STORE 'lst' STORE
          |0 'acc' STORE $lst <% $acc + 'acc' STORE %> FOREACH
          |$acc $rem +
          |[ [ 1 2 ] [ 3 [ 4 5 ] ] ] [ 1 1 0 ] GET
          |+
          |'a b&c=d' URLENCODE DUP URLDECODE
          |1704067200123456 'Europe/Paris' TSELEMENTS ',' JOIN
          |""".stripMargin
      val stv = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(stv(3).asInstanceOf[Long]).as("v_long"),
        lit(stv(2).asInstanceOf[String]).as("v_enc"),
        lit(stv(1).asInstanceOf[String]).as("v_dec"),
        lit(stv(0).asInstanceOf[String]).as("v_ts"))
    }),


    // parameterized aggregator word: `90.0 bucketizer.percentile`
    // (script/aggregator/Percentile.Builder) ≡ g107's type-1 daily p90
    "w31_ws_percentile" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  90.0 bucketizer.percentile $LB 1 d 0 ] BUCKETIZE""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("p90_v"))
    }),


    // java.lang.Math word tail: HYPOT/TORADIANS/FLOORDIV/FLOORMOD/
    // RINT/COPYSIGN (+ CBRT/SINH/ATAN2 spec'd in WarpScriptSpec)
    "w32_ws_mathwords" -> ((s, dir) => {
      val program =
        """3.0 4.0 HYPOT
          |180.0 TORADIANS
          |-7 2 FLOORDIV
          |-7 2 FLOORMOD
          |2.5 RINT
          |3.0 -1.0 COPYSIGN
          |""".stripMargin
      val stv = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(stv(5).asInstanceOf[Double]).as("v_hypot"),
        lit(stv(4).asInstanceOf[Double]).as("v_rad"),
        lit(stv(3).asInstanceOf[Long]).as("v_floordiv"),
        lit(stv(2).asInstanceOf[Long]).as("v_floormod"),
        lit(stv(1).asInstanceOf[Double]).as("v_rint"),
        lit(stv(0).asInstanceOf[Double]).as("v_copysign"))
    }),


    // stack/introspection words: DUPN, ROLL, ROLLD, TYPEOF, DEFINED,
    // INDEXOF, TOBIN — closed-form oracle
    "w33_ws_stackwords" -> ((s, dir) => {
      val program =
        """7 'x' STORE
          |'x' DEFINED 'y' DEFINED NOT AND
          |42 TYPEOF 3.14 TYPEOF +
          |[ 7 8 7 9 7 ] 7 0 INDEXOF ',' JOIN
          |255 TOBIN
          |1 2 3 2 DUPN + + + +
          |10 20 30 3 ROLL - -
          |10 20 30 3 ROLLD - -
          |+ +
          |""".stripMargin
      val stv = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(stv(4).asInstanceOf[Boolean]).as("v_bool"),
        lit(stv(3).asInstanceOf[String]).as("v_types"),
        lit(stv(2).asInstanceOf[String]).as("v_idx"),
        lit(stv(1).asInstanceOf[String]).as("v_bin"),
        lit(stv(0).asInstanceOf[Long]).as("v_long"))
    }),


    // TOGEOHASH/GEOHASHTO words — the oracle recomputes the geohash
    // and its center INDEPENDENTLY via the SQL twin generators
    "w34_ws_geohash" -> ((s, dir) => {
      val stv = engine(s, dir, cents = false)
        .run("48.8566 2.3522 TOGEOHASH DUP GEOHASHTO")
      s.range(1).select(
        lit(stv(2).asInstanceOf[String]).as("gh"),
        lit(stv(1).asInstanceOf[Double]).as("ghlat"),
        lit(stv(0).asInstanceOf[Double]).as("ghlon"))
    }),


    // parameterized pointwise mappers chained through three MAP calls:
    // scale, shift, then a comparison mapper that DROPS non-matching
    // ticks (MapperGT semantics) — oracle is plain SQL arithmetic
    "w35_ws_param_mappers" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |  0.5 mapper.mul 0 0 0 ] MAP 'g' STORE
           |[ $$g 10.0 mapper.add 0 0 0 ] MAP 'g' STORE
           |[ $$g 50.0 mapper.gt 0 0 0 ] MAP""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),


    // metadata filters: class selector regex + label selector map
    // (script/filter/FilterByClass.java, FilterByLabels.java)
    "w36_ws_meta_filters" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |  [ ] '~events\\.(click|view)' filter.byclass ] FILTER 'g' STORE
           |[ $$g [ ] { 'user' '~1.*' } filter.bylabels ] FILTER""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),


    // calendar mapper through MAP: ISO weekday of each tick
    // (script/mapper/MapperDayOfWeek.java)
    "w37_ws_weekday_mapper" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |  mapper.weekday 0 0 0 ] MAP""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("wd"))
    }),


    // RSA words: fixed 512-bit key, deterministic PKCS#1 v1.5
    // SHA256withRSA signature + verify — the oracle's signature hex was
    // derived INDEPENDENTLY (pure modpow of the EMSA-PKCS1-v1_5
    // encoding, no JDK), so a hash match proves the whole RSA path
    "w38_ws_rsa" -> ((s, dir) => {
      val n = "7926955442507415057210607385506121997689529697485136240574604503768788820120193532578286006291189972668427413500371142792463105078406585121658835942452443"
      val d = "6738462466355350416593071822847117851187594625579358608093928490920594381154250373415010101917650545635783047904394795660730048516179584987959212992503617"
      val program =
        s"""{ 'algorithm' 'RSA' 'modulus' '$n' 'exponent' '$d' } RSAPRIVATE 'priv' STORE
           |{ 'algorithm' 'RSA' 'modulus' '$n' 'exponent' '65537' } RSAPUBLIC 'pub' STORE
           |'graft rsa test' 'UTF-8' ->BYTES 'data' STORE
           |$$data 'SHA256withRSA' $$priv RSASIGN 'sig' STORE
           |$$sig TOHEX
           |$$data $$sig 'SHA256withRSA' $$pub RSAVERIFY
           |""".stripMargin
      val stv = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(stv(1).asInstanceOf[String]).as("v_sig"),
        lit(stv(0).asInstanceOf[Boolean]).as("v_verified"))
    }),


    // digest words vs DuckDB's own md5()/sha256() plus published NIST
    // 'abc' vectors for SHA1/SHA512
    "w39_ws_digests" -> ((s, dir) => {
      val program =
        """'graft' 'UTF-8' ->BYTES MD5 TOHEX
          |'graft' 'UTF-8' ->BYTES SHA256 TOHEX
          |'abc' 'UTF-8' ->BYTES SHA1 TOHEX
          |'abc' 'UTF-8' ->BYTES SHA512 TOHEX
          |'abc' 'UTF-8' ->BYTES TIGER TOHEX
          |""".stripMargin
      val stv = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(stv(4).asInstanceOf[String]).as("v_md5"),
        lit(stv(3).asInstanceOf[String]).as("v_sha256"),
        lit(stv(2).asInstanceOf[String]).as("v_sha1"),
        lit(stv(1).asInstanceOf[String]).as("v_sha512"),
        lit(stv(0).asInstanceOf[String]).as("v_tiger"))
    }),


    // bucketizer.mad word (aggregator/MAD.java) — one whole-range
    // bucket makes it a per-series MAD; same numbers as g22's
    // two-phase join, via the single array aggregate
    "w40_ws_mad" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  bucketizer.mad $LB ${LB + 1} 1 ] BUCKETIZE""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("vdouble").as("mad_v"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // byte-for-byte the oracles of the equivalent native queries
    "w01_ws_fetch" -> GtsQueries.oracleSql("g01_fetch_selector"),

    "w02_ws_bucketize" -> GtsQueries.oracleSql("g02_bucketize_sum"),

    "w03_ws_map" -> GtsQueries.oracleSql("g06_map_timewindow_sum"),

    "w04_ws_reduce" -> GtsQueries.oracleSql("g08_reduce_sum"),

    "w05_ws_filter" -> GtsQueries.oracleSql("g11_filter_last_gt"),

    "w06_ws_apply" -> GtsQueries.oracleSql("g09_apply_sub"),

    "w07_ws_scalars" ->
      "SELECT CAST(2.5 * 3600000000 AS DOUBLE) AS v_double, CAST(158 AS BIGINT) AS v_long",

    "w08_ws_rename" ->
      s"""WITH g AS ($EV)
         |SELECT class || '.renamed' AS class, userid, 'prod' AS env,
         |       ts, vdouble FROM g""".stripMargin,

    // closed form of the script-built series: points (i·1e6, i²),
    // end-anchored 2s buckets at lastbucket 6e6
    "w09_ws_newgts" ->
      """SELECT 'stack.series' AS class, CAST(ts AS BIGINT) AS ts,
        |       CAST(bsum AS DOUBLE) AS bsum
        |FROM (VALUES (2000000, 5.0), (4000000, 25.0), (6000000, 61.0))
        |  v(ts, bsum)""".stripMargin,

    // faithful pointwise_lowess replay on the regular 240-bucket grid:
    // window = the clamped centered 7-window (== the reference's
    // two-pointer nearest selection on a regular grid), maxdist = the
    // farther window edge, tricube-cubed weights, weighted degree-1
    // fit over raw microsecond ticks — every term a fixed scalar tree
    // in the kernel's own fold order, so the match is bit-exact
    "w10_ws_lowess" -> {
      val HOUR = GtsQueries.HOUR
      // k-th window member weight: tricube then CUBED — the reference's
      // w = 1−u³ followed by w = 1·w·w·w (left-assoc)
      def w(k: Int) =
        s"(CASE WHEN u$k >= 1.0 THEN 0.0 ELSE " +
          s"((1.0 - u$k * u$k * u$k) * (1.0 - u$k * u$k * u$k))" +
          s" * (1.0 - u$k * u$k * u$k) END)"
      val terms = (0 until 7)
      val wsum = terms.map(k => s"w$k").reduce((a, b) => s"($a) + ($b)")
      val ctick = terms.map(k => s"w$k * t$k").reduce((a, b) => s"($a) + ($b)")
      val cval = terms.map(k => s"w$k * x$k").reduce((a, b) => s"($a) + ($b)")
      val covar = terms.map(k => s"w$k * (t$k - ct) * (x$k - cv)")
        .reduce((a, b) => s"($a) + ($b)")
      val varr = terms.map(k => s"w$k * (t$k - ct) * (t$k - ct)")
        .reduce((a, b) => s"($a) + ($b)")
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, ($LB - ts) // $HOUR AS k, sum(cents) AS s
         |      FROM g WHERE ts <= $LB AND ($LB - ts) // $HOUR < 240
         |      GROUP BY 1, 2, 3),
         |ser AS (SELECT DISTINCT class, userid FROM g
         |        WHERE ts <= $LB AND ($LB - ts) // $HOUR < 240),
         |grid AS (SELECT ser.class, ser.userid, r.j,
         |           CAST(coalesce(b.s, 0) AS DOUBLE) AS x
         |         FROM ser CROSS JOIN (SELECT unnest(range(240)) AS j) r
         |         LEFT JOIN b ON b.class = ser.class AND b.userid = ser.userid
         |           AND b.k = 239 - r.j),
         |p AS (SELECT class, userid, list(x ORDER BY j) AS xs
         |      FROM grid GROUP BY 1, 2),
         |e0 AS (SELECT p.class, p.userid, p.xs, r.j AS r,
         |         LEAST(GREATEST(r.j - 3, 0), 233) AS lo
         |       FROM p CROSS JOIN (SELECT unnest(range(240)) AS j) r),
         |e1 AS (SELECT *,
         |         CAST(GREATEST(r - lo, lo + 6 - r) * $HOUR AS DOUBLE) AS maxd,
         |         ${terms.map(k =>
                      s"CAST(($LB - CAST((239 - (lo + $k)) AS BIGINT) * $HOUR) AS DOUBLE) AS t$k").mkString(", ")},
         |         ${terms.map(k => s"xs[lo + $k + 1] AS x$k").mkString(", ")}
         |       FROM e0),
         |e2 AS (SELECT *,
         |         ${terms.map(k =>
                      s"CAST(abs(lo + $k - r) * $HOUR AS DOUBLE) / maxd AS u$k").mkString(", ")}
         |       FROM e1),
         |e3 AS (SELECT *, ${terms.map(k => s"${w(k)} AS w$k").mkString(", ")}
         |       FROM e2),
         |e4 AS (SELECT *, ($wsum) AS wsum FROM e3),
         |e5 AS (SELECT *, ($ctick) / wsum AS ct, ($cval) / wsum AS cv FROM e4),
         |e6 AS (SELECT *, ($covar) / wsum AS covar, ($varr) / wsum AS varr
         |       FROM e5),
         |e7 AS (SELECT class, userid,
         |         $LB - (239 - r) * $HOUR AS ts,
         |         (cv - ct * (CASE WHEN varr = 0.0 THEN 0.0 ELSE covar / varr END))
         |           + CAST(($LB - (239 - r) * $HOUR) AS DOUBLE)
         |             * (CASE WHEN varr = 0.0 THEN 0.0 ELSE covar / varr END) AS fit
         |       FROM e6)
         |SELECT class, userid, ts, fit FROM e7""".stripMargin
    },

    "w11_ws_fft" -> GtsQueries8.oracleSql("g81_dft"),

    "w12_ws_fillprevious" -> GtsQueries.oracleSql("g17_fillprevious"),

    "w13_ws_ses" -> GtsQueries6.oracleSql("g67_ses_general"),

    "w15_ws_lr" -> GtsQueries9.oracleSql("g89_linreg"),

    "w16_ws_fdwt" -> GtsQueries9.oracleSql("g91_haar_dwt"),

    // the 8-bucket DISCORDS closed form (see the query comment): words
    // from Bessel-standardized 4-point windows via the shared vocab
    // table, +inf pool winner, its 4 points. Series with NO point in
    // the bucket grid are excluded: the reference retains empty GTS
    // objects (zero-filled by FILLVALUE), a row store has no rows to
    // carry them — the documented empty-series representation limit
    "w17_ws_discords" -> {
      val means = (i: String) => (0 until 4).map(k => s"xs[$i + ${k + 1}]")
      val word = (i: String) => SaxOracle.wordSql(
        SaxOracle.besselZSql(means(i)).map(z => SaxOracle.symbolSql(z, 4)), 4, 4)
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, ($LB - ts) // $DAY AS k, sum(cents) AS s
         |      FROM g WHERE ts <= $LB AND ($LB - ts) // $DAY < 8
         |      GROUP BY 1, 2, 3),
         |ser AS (SELECT DISTINCT class, userid FROM g
         |        WHERE ts <= $LB AND ($LB - ts) // $DAY < 8),
         |grid AS (SELECT ser.class, ser.userid, r.j,
         |           $LB - (7 - r.j) * $DAY AS bts,
         |           CAST(coalesce(b.s, 0) AS DOUBLE) AS x
         |         FROM ser CROSS JOIN (SELECT unnest(range(8)) AS j) r
         |         LEFT JOIN b ON b.class = ser.class AND b.userid = ser.userid
         |           AND b.k = 7 - r.j),
         |p AS (SELECT class, userid, list(x ORDER BY j) AS xs,
         |        list(bts ORDER BY j) AS bt FROM grid GROUP BY 1, 2),
         |wrd AS (SELECT class, userid, xs, bt, w.i, ${word("w.i")} AS word
         |        FROM p CROSS JOIN (SELECT unnest(range(5)) AS i) w),
         |occ AS (SELECT *, count(*) OVER (PARTITION BY class, userid, word)
         |          AS n_occ FROM wrd),
         |w04 AS (SELECT class, userid,
         |          max(CASE WHEN i = 0 THEN word END) AS w0,
         |          max(CASE WHEN i = 4 THEN word END) AS w4
         |        FROM wrd GROUP BY 1, 2),
         |pool AS (SELECT o.* FROM occ o JOIN w04
         |           ON o.class = w04.class AND o.userid = w04.userid
         |         WHERE o.i IN (1, 2, 3) OR (o.i = 0 AND w04.w4 > w04.w0)
         |            OR (o.i = 4 AND w04.w0 > w04.w4)),
         |win AS (SELECT *, row_number() OVER (PARTITION BY class, userid
         |          ORDER BY n_occ, word, i) AS rk FROM pool)
         |SELECT w.class, w.userid, w.bt[w.i + kk + 1] AS ts,
         |  w.xs[w.i + kk + 1] AS vdouble
         |FROM win w CROSS JOIN (SELECT unnest(range(4)) AS kk) k4
         |WHERE w.rk = 1""".stripMargin
    },

    "w18_ws_rangecompact" -> GtsQueries.oracleSql("g13_compact"),

    "w19_ws_dedup" -> GtsQueries.oracleSql("g12_dedup"),

    // faithful COMPACT: run STARTS plus the series' literal last point
    // (the reference's loop never compares against the final index)
    "w20_ws_compact" ->
      s"""WITH g AS ($EV),
         |q AS (SELECT class, userid, ts, floor(vdouble/25.0)*25.0 AS qv FROM g),
         |l AS (SELECT class, userid, ts, qv,
         |        lag(qv) OVER (PARTITION BY class, userid ORDER BY ts) AS pv,
         |        lead(ts) OVER (PARTITION BY class, userid ORDER BY ts) AS nt FROM q)
         |SELECT class, userid, ts, qv FROM l
         |WHERE pv IS NULL OR pv <> qv OR nt IS NULL""".stripMargin,

    // g14's sequential-fold integral shifted by the word's 2.5 initial
    // value (the + is the final op on both sides, bitwise-identical)
    "w21_ws_integrate" -> GtsQueries.integrateSql(2.5),

    "w22_ws_timesplit" -> GtsQueries.oracleSql("g15_timesplit"),

    // per-series chunk grid: lastchunk LB shifts down to the chunk
    // containing each series' last tick (keepempty=false adjustment)
    "w23_ws_chunk" ->
      s"""WITH g AS ($EV),
         |ext AS (SELECT class, userid, max(ts) AS lt FROM g GROUP BY 1, 2),
         |p AS (SELECT class, userid,
         |        $LB - $DAY * (($LB - lt) // $DAY) AS lc
         |      FROM ext)
         |SELECT g.class, g.userid, g.ts,
         |  p.lc - ((p.lc - g.ts) // $DAY) * $DAY AS chunkid
         |FROM g JOIN p ON g.class = p.class AND g.userid = p.userid
         |WHERE g.ts <= p.lc""".stripMargin,

    "w24_ws_normalize" -> GtsQueries.oracleSql("g18_normalize"),

    "w25_ws_standardize" -> GtsQueries.oracleSql("g19_standardize"),

    "w26_ws_timeshift" -> GtsQueries.oracleSql("g20_timeshift"),

    "w27_ws_pivot" -> GtsQueries2.oracleSql("g37_pivot"),

    // closed form of the list/map/control tour: sum = 20+30+40 (UNIQUE→
    // LSORT→SUBLIST[1,3]→LMAP ×10) + 2+4+6 (MMAP ×2 values) + 3 (APPEND
    // SIZE) = 105; text = KEYLIST|SWITCH branch|TRY catch
    "w28_ws_listwords" ->
      "SELECT CAST(105 AS BIGINT) AS v_long, 'abc|medium|caught' AS v_str",

    // DuckDB's DECIMAL arithmetic must render the same digits the
    // BigDecimal words produce (carry keeps scale, mul adds scales,
    // exact division, round() is half-away-from-zero = HALF_UP for
    // positives, cast keeps trailing zeros)
    "w29_ws_bigdecimal" ->
      """SELECT
        |  CAST(CAST('9.999' AS DECIMAL(10,3)) + CAST('0.001' AS DECIMAL(10,3)) AS VARCHAR) AS v_add,
        |  CAST(CAST('1.5' AS DECIMAL(5,1)) * CAST('2.5' AS DECIMAL(5,1)) AS VARCHAR) AS v_mul,
        |  CAST(CAST('1' AS DECIMAL(10,3)) / CAST('8' AS DECIMAL(10,3)) AS VARCHAR) AS v_div,
        |  CAST(round(CAST('2.5' AS DECIMAL(5,1)), 0) AS VARCHAR) AS v_round,
        |  CAST(CAST('1.5' AS DECIMAL(10,3)) AS VARCHAR) AS v_scale,
        |  CAST(CAST('7.25' AS DECIMAL(10,2)) - CAST('1.25' AS DECIMAL(10,2)) AS VARCHAR) AS v_sub""".stripMargin,

    // closed form: RANGE[3,9,2]=[3,5,7] → PUT 99@1 → REMOVE@1 gives
    // sum 10 + removed 99 + nested GET 4 = 113; URL round-trip;
    // 2024-01-01T00:00:00.123456Z in Europe/Paris = 01:00 CET, ISO
    // Monday week 1
    // v_enc: WarpURLEncoder renders the space %20, never '+'
    // (WarpURLEncoder.java:42-53; faithful r12)
    "w30_ws_collwords" ->
      """SELECT CAST(113 AS BIGINT) AS v_long,
        |  'a%20b%26c%3Dd' AS v_enc, 'a b&c=d' AS v_dec,
        |  '2024,1,1,1,0,0,123456,1,1,1' AS v_ts""".stripMargin,

    "w31_ws_percentile" -> GtsQueries10.oracleSql("g107_percentile_type1"),

    // closed forms: hypot(3,4)=5 exactly; toRadians(180) is the IEEE
    // double pi (= DuckDB pi()); floor division/modulo of -7 by 2;
    // rint(2.5)=2 (half-even); copysign(3,-1)=-3
    "w32_ws_mathwords" ->
      """SELECT CAST(5.0 AS DOUBLE) AS v_hypot, pi() AS v_rad,
        |  CAST(-4 AS BIGINT) AS v_floordiv, CAST(1 AS BIGINT) AS v_floormod,
        |  CAST(2.0 AS DOUBLE) AS v_rint, CAST(-3.0 AS DOUBLE) AS v_copysign""".stripMargin,

    // closed forms: DUPN-block sum 11 + ROLL diff 0 + ROLLD diff 40;
    // 255 in 64 binary digits; INDEXOF of 7 in [7,8,7,9,7]
    "w33_ws_stackwords" ->
      s"""SELECT TRUE AS v_bool, 'LONGDOUBLE' AS v_types,
         |  '0,2,4' AS v_idx, '${"0" * 56}11111111' AS v_bin,
         |  CAST(51 AS BIGINT) AS v_long""".stripMargin,

    "w34_ws_geohash" -> {
      import graft.functions.GeoHash
      s"""WITH e AS (SELECT ${GeoHash.encodeSql("48.8566", "2.3522", 12)} AS gh)
         |SELECT gh, ${GeoHash.decodeSql("gh", 12, lat = true)} AS ghlat,
         |  ${GeoHash.decodeSql("gh", 12, lat = false)} AS ghlon
         |FROM e""".stripMargin
    },

    "w35_ws_param_mappers" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble * 0.5 + 10.0 AS vdouble
         |FROM g WHERE vdouble * 0.5 + 10.0 > 50.0""".stripMargin,

    "w36_ws_meta_filters" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble FROM g
         |WHERE regexp_matches(class, '^(?:events\\.(click|view))$$')
         |  AND regexp_matches(userid, '^(?:1.*)$$')""".stripMargin,

    "w37_ws_weekday_mapper" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts,
         |  CAST(isodow(make_timestamp(ts)) AS DOUBLE) AS wd
         |FROM g""".stripMargin,

    // signature hex derived independently of the JDK: EMSA-PKCS1-v1_5
    // (SHA-256 DigestInfo + FF padding) ^ d mod n, computed with plain
    // big-integer modpow
    "w38_ws_rsa" ->
      """SELECT '9000a883a1203b9710caa74bf80d04735c1b3ee6d21c00d35b50faa7b5db6b6106c7defb0bb1461deefc3477e32d37b8d40074b40243096877e445a1310b4a84' AS v_sig,
        |  TRUE AS v_verified""".stripMargin,

    // DuckDB computes md5/sha256 itself; SHA1/SHA512 use the published
    // FIPS 180 'abc' test vectors, TIGER the FSE'96 paper's 'abc' vector
    "w39_ws_digests" ->
      """SELECT md5('graft') AS v_md5, sha256('graft') AS v_sha256,
        |  'a9993e364706816aba3e25717850c26c9cd0d89d' AS v_sha1,
        |  'ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f' AS v_sha512,
        |  '2aab1484e8c158f2bfb8c5ff41b57a525129131c957b5f93' AS v_tiger""".stripMargin,


    // same numbers as g22's two-phase MAD (whole series = one bucket)
    "w40_ws_mad" ->
      s"""WITH g AS ($EV),
         |m AS (SELECT class, userid, quantile_cont(cents, 0.5) AS med
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2)
         |SELECT g.class, g.userid,
         |       quantile_cont(abs(g.cents - m.med), 0.5) AS mad_v
         |FROM g JOIN m ON g.class = m.class AND g.userid = m.userid
         |WHERE g.ts <= $LB
         |GROUP BY 1, 2""".stripMargin,
  )
}
