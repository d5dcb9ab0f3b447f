package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Gts

/** The GTS frame-operator algebra over the canonical long table —
  * Spark-first re-expression of the reference's frame operators
  * (reference: warp10/src/main/java/io/warp10/continuum/gts/GTSHelper.java,
  * the 12.7 kLoC "execution engine").
  *
  * Every operator is a declarative DataFrame transform so Catalyst gets
  * to push filters/prune columns/pick join strategies; nothing here
  * collects to the driver. Operators that need per-series sequential
  * logic live in [[graft.kernels]] as flatMapGroups kernels instead.
  */
final case class GtsFrame(df: DataFrame) {
  import GtsFrame._

  def toDF: DataFrame = df

  // ---------------------------------------------------------------------
  // FETCH / selector pruning (reference fn/FETCH.java; selector matching
  // continuum/gts/MetadataSelectorMatcher.java:42-110)
  // ---------------------------------------------------------------------

  /** Series selection: exact class or regex (`~`-prefixed), plus per-label
    * exact/regex predicates. This is the series-pruning path — the
    * predicate is a plain Column so it reaches the scan (class equality
    * is even pushed into parquet row-group stats).
    */
  def select(classSel: String, labelSels: Map[String, String] = Map.empty): GtsFrame =
    GtsFrame(df.filter(GtsFrame.selectorPredicate(classSel, labelSels)))

  /** TIMECLIP — crop to [start, end] inclusive ticks (fn/TIMECLIP.java).
    * Plain range filter → parquet partition pruning at scale. */
  def timeclip(startTs: Long, endTs: Long): GtsFrame =
    GtsFrame(df.filter(col("ts") >= startTs && col("ts") <= endTs))

  /** FETCH count semantics: keep the most recent `count` points per
    * series (fn/FETCH.java count param; storage streams newest-first,
    * StandaloneStoreClient.java:180-581). Window row_number post-scan;
    * at scale always pair with a ts-range narrowing. */
  def lastN(count: Int): GtsFrame = {
    val w = Window.partitionBy(col("gtsid")).orderBy(col("ts").desc, col("vtype"))
    GtsFrame(df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= count).drop("__rn"))
  }

  /** FETCH boundary.post semantics: the EARLIEST `count` points per
    * series (fn/FETCH.java boundary params — points just past the
    * requested interval). */
  def firstN(count: Int): GtsFrame = {
    val w = Window.partitionBy(col("gtsid")).orderBy(col("ts").asc, col("vtype"))
    GtsFrame(df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= count).drop("__rn"))
  }

  /** FETCH gskip/gcount — series-level pagination (fn/FETCH.java:325-331
    * and :1561-1584): skip the first `gskip` matching series, keep the
    * next `gcount`, in series-id order (the reference sorts metadatas by
    * their (classId, labelsId) SipHash pair, MetadataIdComparator; our
    * stable `gtsid` plays that role). Rank runs on the DISTINCT series
    * ids — metadata-scale, range-partitioned via [[RankOps.globalRank]],
    * never a single-partition global sort — then a semi-join prunes the
    * point table. */
  def seriesPage(gskip: Long, gcount: Long): GtsFrame = {
    if (gskip <= 0 && gcount == Long.MaxValue) return this
    GtsFrame(df.join(GtsFrame.pageIds(df, gskip, gcount),
      Seq("gtsid"), "left_semi"))
  }

  /** FETCH per-point post-filters skip/timestep/step/sample/count, in
    * the reference's storage-scan order (StandaloneStoreClient.java:
    * 398-487 — the store iterates each series NEWEST-first):
    *
    *  1. `skip`   — drop the `skip` most recent points (:404-407);
    *  2. `timestep` — greedy thinning: accept the newest remaining
    *     point, then only points at least `timestep` ticks older than
    *     the last ACCEPTED one (:414-449). Sequential by nature, so it
    *     runs as a per-series flatMapGroups kernel over (ts) only — two
    *     longs per point — and semi-joins back;
    *  3. `step`   — keep every `step`-th timestep-survivor (:455-462);
    *     a later sample rejection does NOT refund the step slot;
    *  4. `sample` — the reference draws an UNSEEDED Random per point
    *     (:469), unreproducible by design; we keep each point iff
    *     md5₆₀(class ∥ sorted-labels ∥ ts) mod 10⁶ < sample·10⁶ —
    *     deterministic, engine-portable (the oracle replays the same
    *     md5 fold), same 1-in-sample expectation;
    *  5. `count`  — at most `count` accepted points per series,
    *     newest-first (nvalues, :476).
    */
  def fetchPostFilters(skip: Long, step: Long, timestep: Long,
                       sample: Double, count: Option[Long]): GtsFrame = {
    val w = Window.partitionBy(col("gtsid")).orderBy(col("ts").desc, col("vtype"))
    var d = df
    if (skip > 0)
      d = d.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") > skip).drop("__rn")
    // __ti numbers the timestep-accepted sequence (newest = 0): the
    // index `step` strides over
    if (timestep > 1) {
      val spark = d.sparkSession
      import spark.implicits._
      // secondary sort, not a per-series collect: repartition on gtsid
      // + sortWithinPartitions streams each series newest-first through
      // a stateful iterator — O(1) task memory even for a single series
      // with billions of ticks (no per-key array materialization)
      val accepted = d.select(col("gtsid"), col("ts")).as[(Long, Long)]
        .repartition(col("gtsid"))
        .sortWithinPartitions(col("gtsid"), col("ts").desc)
        .mapPartitions { it =>
          var curId = 0L
          var started = false
          var next = Long.MaxValue
          var ti = 0L
          it.flatMap { case (id, t) =>
            if (!started || id != curId) {
              curId = id; started = true; next = Long.MaxValue; ti = 0L
            }
            if (t <= next) {
              next = if (t < Long.MinValue + timestep) Long.MinValue
                     else t - timestep
              val idx = ti
              ti += 1
              Some((id, t, idx))
            } else None
          }
        }.toDF("gtsid", "ts", "__ti")
      d = d.join(accepted, Seq("gtsid", "ts"))
    } else {
      d = d.withColumn("__ti", row_number().over(w).cast(LongType) - 1L)
    }
    if (step > 1) d = d.filter(col("__ti") % step === 0)
    d = d.drop("__ti")
    if (sample < 1.0) {
      val key = concat(col("class"),
        concat_ws("", transform(array_sort(map_entries(col("labels"))),
          e => concat(e.getField("key"), e.getField("value")))),
        col("ts").cast(StringType))
      val h = graft.plans.Md5Hash60.md5Hash60(df.sparkSession, key)
      d = d.filter(pmod(h, lit(1000000L)) < lit(math.round(sample * 1000000L)))
    }
    count.foreach { n =>
      d = d.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= n).drop("__rn")
    }
    GtsFrame(d)
  }

  /** FETCH `type` — force every point to one value type with the
    * reference's conversion rules (fn/FETCH.java:938-939 →
    * GTSDecoder.decode(type) → GTSHelper.setValue:1578-1731):
    * booleans print as "T"/"F", strings parse as long-then-double (or
    * double-then-long) with 0 on failure, booleans from strings are
    * `non-empty`, binary values convert through ISO-8859-1 text. */
  def forceType(t: String): GtsFrame = {
    import graft.model.GtsType
    val asStr = when(col("vtype") === GtsType.BINARY,
        decode(col("vbinary"), "ISO-8859-1"))
      .otherwise(col("vstring"))
    val base = df.withColumn("__s", asStr)
    val nl = lit(null).cast(LongType)
    val nd = lit(null).cast(DoubleType)
    val nb = lit(null).cast(BooleanType)
    val ns = lit(null).cast(StringType)
    val nbin = lit(null).cast(BinaryType)
    val out = t match {
      case "long" =>
        // Java (long) double semantics (Number.longValue): NaN → 0,
        // out-of-range saturates to MIN/MAX — try_cast would NULL these
        // and break the one-non-null-value-column invariant
        val d2l = when(isnan(col("vdouble")), 0L)
          .when(col("vdouble") >= Long.MaxValue.toDouble, Long.MaxValue)
          .when(col("vdouble") <= Long.MinValue.toDouble, Long.MinValue)
          .otherwise(expr("try_cast(vdouble AS BIGINT)"))
        val v = when(col("vtype") === GtsType.LONG, col("vlong"))
          .when(col("vtype") === GtsType.DOUBLE, d2l)
          .when(col("vtype") === GtsType.BOOLEAN,
            when(col("vbool"), 1L).otherwise(0L))
          .otherwise(coalesce(expr("try_cast(__s AS BIGINT)"),
            expr("try_cast(try_cast(__s AS DOUBLE) AS BIGINT)"), lit(0L)))
        base.withColumn("vlong", v).withColumn("vtype", lit(GtsType.LONG))
          .withColumn("vdouble", nd).withColumn("vbool", nb)
          .withColumn("vstring", ns).withColumn("vbinary", nbin)
      case "double" =>
        val v = when(col("vtype") === GtsType.LONG, col("vlong").cast(DoubleType))
          .when(col("vtype") === GtsType.DOUBLE, col("vdouble"))
          .when(col("vtype") === GtsType.BOOLEAN,
            when(col("vbool"), 1.0).otherwise(0.0))
          .otherwise(coalesce(expr("try_cast(__s AS DOUBLE)"), lit(0.0)))
        base.withColumn("vdouble", v).withColumn("vtype", lit(GtsType.DOUBLE))
          .withColumn("vlong", nl).withColumn("vbool", nb)
          .withColumn("vstring", ns).withColumn("vbinary", nbin)
      case "string" =>
        val v = when(col("vtype") === GtsType.LONG, col("vlong").cast(StringType))
          .when(col("vtype") === GtsType.DOUBLE, col("vdouble").cast(StringType))
          .when(col("vtype") === GtsType.BOOLEAN,
            when(col("vbool"), "T").otherwise("F"))
          .otherwise(col("__s"))
        base.withColumn("vstring", v).withColumn("vtype", lit(GtsType.STRING))
          .withColumn("vlong", nl).withColumn("vdouble", nd)
          .withColumn("vbool", nb).withColumn("vbinary", nbin)
      case "boolean" =>
        val v = when(col("vtype") === GtsType.LONG, col("vlong") =!= 0L)
          .when(col("vtype") === GtsType.DOUBLE, col("vdouble") =!= 0.0)
          .when(col("vtype") === GtsType.BOOLEAN, col("vbool"))
          .otherwise(col("__s") =!= "")
        base.withColumn("vbool", v).withColumn("vtype", lit(GtsType.BOOLEAN))
          .withColumn("vlong", nl).withColumn("vdouble", nd)
          .withColumn("vstring", ns).withColumn("vbinary", nbin)
      case other =>
        throw new IllegalArgumentException(
          s"FETCH Invalid value for parameter 'type'. Got '$other'.")
    }
    GtsFrame(out.drop("__s").select(graft.model.Gts.columns.map(col): _*))
  }

  // ---------------------------------------------------------------------
  // BUCKETIZE (GTSHelper.java:2261-2358; fn/BUCKETIZE.java)
  // ---------------------------------------------------------------------

  /** End-anchored bucket index: bucket k covers the LEFT-OPEN RIGHT-CLOSED
    * interval (lastbucket-(k+1)·span, lastbucket-k·span]; the bucket's
    * identity tick is its END. Spark's `window()` is start-anchored
    * left-closed — deliberately not used; explicit integer arithmetic
    * matches the reference exactly (GTSHelper.java:2261).
    */
  def bucketize(agg: ValueAgg, lastbucket: Long, bucketspan: Long,
                bucketcount: Long = 0L): GtsFrame = {
    require(bucketspan > 0, "bucketize with auto-params: use bucketizeAuto")
    bucketizeCols(df, agg, lit(lastbucket), lit(bucketspan),
      if (bucketcount > 0) Some(lit(bucketcount)) else None)
  }

  /** Bucketize with per-row parameter COLUMNS (the auto-param path
    * joins each series' own resolved lastbucket/span/count). */
  private def bucketizeCols(d: DataFrame, agg: ValueAgg, lastbucket: Column,
      bucketspan: Column, bucketcount: Option[Column]): GtsFrame = {
    val inWindow = bucketcount
      .map(c => col("ts") > lastbucket - c * bucketspan && col("ts") <= lastbucket)
      .getOrElse(col("ts") <= lastbucket)
    // native codegen'd expression; exact long arithmetic (plans/BucketEnd)
    val bucketEnd = graft.plans.BucketEnd.bucketEnd(d.sparkSession,
      col("ts"), lastbucket, bucketspan)
    val grouped = Gts.aggBySeries(
        d.filter(inWindow).withColumn("__bucket", bucketEnd), col("__bucket"))(
        agg.column(col("vdouble"), col("ts")).as("vdouble"),
        // loc/elev of the most recent tick in the bucket (reference
        // aggregator/Sum.java:64-69 propagation semantics)
        max_by(col("lat"), col("ts")).as("lat"),
        max_by(col("lon"), col("ts")).as("lon"),
        max_by(col("elev"), col("ts")).as("elev"))
      .withColumnRenamed("__bucket", "ts")
    GtsFrame(Gts.canonical(grouped
      .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
      .withColumn("vlong", lit(null).cast(LongType))
      .withColumn("vbool", lit(null).cast(BooleanType))
      .withColumn("vstring", lit(null).cast(StringType))
      .withColumn("vbinary", lit(null).cast(BinaryType))))
  }

  /** Exact integer floor-division as a Column. floor(a/b) on doubles
    * is correctly rounded for |a| ≤ 2^51 and b ≥ 1 (half-ulp of the
    * quotient is < 1/(4b), smaller than the 1/b gap to the next
    * integer) — tick extents (~2^50 µs epochs) sit inside that. */
  private def idiv(a: Column, b: Column): Column =
    floor(a / b).cast(LongType)

  /** Auto-parameter resolution per GTSHelper.java:2261-2358, PER GTS —
    * the reference bucketizes each series against ITS OWN tick extent:
    *  - lastbucket 0 → that series' last tick;
    *  - bucketspan 0 → q = ⌊(lastbucket−firsttick+1)/count⌋, bumped by
    *    one unless it divides the delta exactly (:2294-2312 — NOT a
    *    plain ceil: a q that divides the delta stays, even when count·q
    *    undershoots the extent and the oldest ticks drop);
    *  - bucketspan −1 → same with delta = lastbucket−firsttick over
    *    count−1 (delta itself for count 1);
    *  - bucketcount 0 → 1 if the span covers the extent, else
    *    1+⌊(lastbucket−firsttick)/span⌋ (:2325-2335);
    *  - when BOTH lastbucket and bucketcount were 0, lastbucket is
    *    aligned UP to the next span boundary and the count grows by one
    *    if the widened window still reaches firsttick (:2341-2349).
    * Resolved params are per-series COLUMNS (one series-cardinality
    * aggregate joined back), so a frame of series with different
    * extents buckets exactly like the reference's per-GTS loop.
    */
  def bucketizeAuto(agg: ValueAgg, lastbucket: Long, bucketspan: Long,
                    bucketcount: Long): GtsFrame = {
    if (bucketspan > 0 && lastbucket != 0)
      return bucketize(agg, lastbucket, bucketspan, bucketcount)
    require(bucketspan > 0 || bucketspan == 0 || bucketspan == -1,
      s"BUCKETIZE invalid bucketspan $bucketspan")
    val ext = df.groupBy(col("gtsid"))
      .agg(min(col("ts")).as("__ft"), max(col("ts")).as("__lt"))
    val ft = col("__ft")
    val lb0 = if (lastbucket != 0) lit(lastbucket) else col("__lt")
    val span0: Column =
      if (bucketspan > 0) lit(bucketspan)
      else {
        require(bucketcount > 0,
          "One of bucketspan or bucketcount must be different from zero.")
        val delta = if (bucketspan == 0L) lb0 - ft + 1 else lb0 - ft
        val q =
          if (bucketspan == 0L) idiv(delta, lit(bucketcount))
          else if (bucketcount == 1L) delta
          else idiv(delta, lit(bucketcount - 1))
        when(lb0 >= ft,
          when(q === 0 || delta % q =!= 0, q + 1).otherwise(q))
          .otherwise(lit(0L))
      }
    // undefined span (explicit lastbucket older than a series' first
    // tick) is the reference's hard error, not a silent drop
    val span = when(span0 > 0, span0).otherwise(expr(
      "raise_error('BUCKETIZE Undefined bucket span, check your GTS timestamps.')")
      .cast(LongType))
    val cnt0: Column =
      if (bucketcount > 0) lit(bucketcount)
      else {
        val d2 = lb0 - ft
        when(lb0 >= ft,
          when(d2 < span, lit(1L)).otherwise(lit(1L) + idiv(d2, span)))
          .otherwise(lit(0L))
      }
    val (lbF, cntF) =
      if (lastbucket == 0L && bucketcount == 0L) {
        val rem = lb0 % span
        val lbA = when(rem =!= 0, lb0 - rem + span).otherwise(lb0)
        (lbA, when(rem =!= 0 && lbA - cnt0 * span >= ft, cnt0 + 1)
          .otherwise(cnt0))
      } else (lb0, cnt0)
    bucketizeCols(df.join(ext, Seq("gtsid")), agg, lbF, span, Some(cntF))
  }

  // ---------------------------------------------------------------------
  // MAP — sliding-window transform (GTSHelper.java:6262-6678; fn/MAP.java)
  // ---------------------------------------------------------------------

  /** Sliding window per output tick. Reference window convention
    * (GTSHelper.java:6440-6500): NEGATIVE pre/post = time span, POSITIVE
    * = count of ticks. Time windows → rangeBetween on the µs tick;
    * count windows → rowsBetween. `step` strides output ticks,
    * `occurrences` caps them (GTSHelper.java:6389-6432).
    */
  def mapWindow(agg: ValueAgg, pre: Long, post: Long,
                step: Int = 1, occurrences: Long = 0): GtsFrame = {
    val base = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
    val mapped =
      if (pre <= 0 && post <= 0) agg.over(col("vdouble"), col("ts"), base.rangeBetween(pre, -post))
      else if (pre >= 0 && post >= 0) agg.over(col("vdouble"), col("ts"), base.rowsBetween(-pre, post))
      else mixedWindow(agg, pre, post)
    var out = df.withColumn("vdouble", mapped)
    if (step > 1 || occurrences > 0) {
      val rn = row_number().over(Window.partitionBy(col("gtsid")).orderBy(col("ts")))
      out = out.withColumn("__rn", rn)
        .filter((col("__rn") - 1) % step === 0)
      if (occurrences > 0) out = out.filter(col("__rn") <= occurrences * step)
      out = out.drop("__rn")
    }
    GtsFrame(out)
  }

  /** Mixed-sign MAP windows (GTSHelper.java:6440 allows e.g. a time
    * look-back plus a tick-count look-ahead): composed from a RANGE
    * window for the time half (which includes the current row) and a
    * ROWS window for the count half, merged per aggregate. Supported
    * for the decomposable aggregates; others throw. The rows half
    * orders by (ts, vdouble) so duplicate ticks stay deterministic.
    */
  private def mixedWindow(agg: ValueAgg, pre: Long, post: Long): Column = {
    val wT0 = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
    val wR0 = Window.partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
    val (wT, wR) =
      if (pre <= 0) (wT0.rangeBetween(pre, 0), wR0.rowsBetween(1, post))
      else (wT0.rangeBetween(0, -post), wR0.rowsBetween(-pre, -1))
    import GtsFrame.{Sum => S, CountAgg => C, Min => Mn, Max => Mx, Mean => Me}
    val v = col("vdouble"); val ts = col("ts")
    agg match {
      case S => S.over(v, ts, wT) + coalesce(S.over(v, ts, wR), lit(0.0))
      case C => C.over(v, ts, wT) + C.over(v, ts, wR)
      case Mn => least(Mn.over(v, ts, wT), Mn.over(v, ts, wR))
      case Mx => greatest(Mx.over(v, ts, wT), Mx.over(v, ts, wR))
      case Me =>
        (S.over(v, ts, wT) + coalesce(S.over(v, ts, wR), lit(0.0))) /
          (C.over(v, ts, wT) + C.over(v, ts, wR))
      case _ => throw new IllegalArgumentException(
        "mixed time/count windows: only sum/count/min/max/mean")
    }
  }

  /** MAP with the `ticks` override (GTSHelper.java:6389-6432): evaluate
    * the windowed aggregate at an explicit output tick list instead of
    * the data ticks. Implemented by unioning a null-valued tick grid per
    * series with the data and running the same range window — the grid
    * rows see exactly the data points in [tick+pre, tick] (aggs ignore
    * the null grid values), then only grid rows are kept. `dedup`
    * collapses duplicate output ticks (GTSHelper dedup param).
    */
  def mapWindowAtTicks(agg: ValueAgg, pre: Long, ticks: Seq[Long],
                       dedup: Boolean = false): DataFrame = {
    require(pre <= 0, "ticks override implemented for time windows (pre <= 0)")
    val series = df.groupBy(col("gtsid"))
      .agg(first(col("class")).as("class"), first(col("labels")).as("labels"))
    val grid = series
      .withColumn("ts", explode(typedlit(ticks.toArray)))
      .withColumn("vdouble", lit(null).cast(DoubleType))
      .withColumn("__grid", lit(1))
    val data = df.select(col("gtsid"), col("class"), col("labels"),
        col("ts"), col("vdouble"))
      .withColumn("__grid", lit(0))
    val w = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
      .rangeBetween(pre, 0)
    val mapped = data.unionByName(grid)
      .withColumn("__mapped", agg.over(col("vdouble"), col("ts"), w))
      .filter(col("__grid") === 1)
      .drop("__grid", "vdouble")
      .withColumnRenamed("__mapped", "vdouble")
    if (dedup) mapped.dropDuplicates("gtsid", "ts") else mapped
  }

  /** filter.latencies (script/filter/LatencyFilter.java): treat values
    * as packet-payload hashes; match each uplink point to downlink
    * points with the SAME value within [minLat, maxLat] µs after it,
    * emitting per-uplink-tick match count and min/max latency. A
    * value-equality band join — equality keys (labels, value) carry the
    * shuffle; the latency band is a residual predicate. */
  def latencyMatch(downlink: GtsFrame, byLabels: Seq[String],
                   minLat: Long, maxLat: Long): DataFrame = {
    def side(d: DataFrame, t: String, v: String) =
      d.select(byLabels.map(l => col("labels").getItem(l).as(l)) :+
        col("ts").as(t) :+ col("vdouble").as(v): _*)
    val u = side(df, "uts", "uv")
    val d = side(downlink.df, "dts", "dv")
      .withColumnsRenamed(byLabels.map(l => l -> s"__d_$l").toMap)
    val cond = byLabels.map(l => col(l) === col(s"__d_$l")).reduce(_ && _) &&
      col("uv") === col("dv") &&
      col("dts") - col("uts") >= minLat && col("dts") - col("uts") <= maxLat
    u.join(d, cond)
      .groupBy(byLabels.map(col) :+ col("uts").as("ts"): _*)
      .agg(count(lit(1)).as("n_matches"),
        min(col("dts") - col("uts")).as("min_latency"),
        max(col("dts") - col("uts")).as("max_latency"))
  }

  /** The `filter.latencies` word (script/filter/LatencyFilter.java:
    * 202-447): this frame is the uplink (one series), each element of
    * `downlinks` one downlink series. Packet-payload hashes are the
    * values; a downlink point matches an uplink point when the values
    * are equal and `minLat <= dts - uts <= maxLat`. Emits one LONG
    * output series per requested option, class-suffixed exactly like
    * the reference (`:uplink.latency.min`, …); unmatched uplink ticks
    * get -1 latencies / 0 counts (LatencyFilter.java:445-470). The
    * value-equality key carries the shuffle; the latency band is a
    * residual predicate — same scale shape as [[latencyMatch]]. The
    * reference *consumes* each downlink point at most once
    * (indices[i]++ per match); with unique payload hashes — the
    * protocol's contract — the band join is identical. */
  def latencyFilterSeries(downlinks: Seq[GtsFrame], minLat: Long,
                          maxLat: Long, options: Seq[String]): DataFrame = {
    require(downlinks.nonEmpty,
      "filter.latencies expects at least one downlink series")
    // packet hashes may be LONG- or DOUBLE-typed points
    val hash = coalesce(col("vdouble"), col("vlong").cast(DoubleType))
    val u = df.select(col("class").as("__uc"), col("labels").as("__ul"),
      col("ts").as("uts"), hash.as("uv"))
    val d = downlinks.zipWithIndex.map { case (f, i) =>
      f.df.select(lit(i).as("di"), col("class").as("__dc"),
        col("labels").as("__dl"), col("ts").as("dts"), hash.as("dv"))
    }.reduce(_ unionByName _)
    val lat = col("dts") - col("uts")
    val j = u.join(d, col("uv") === col("dv") &&
      lat >= lit(minLat) && lat <= lit(maxLat), "left")
    def canon(src: DataFrame, cls: Column, labels: Column, ts: Column,
              v: Column): DataFrame =
      src.select(cls.as("class"), labels.as("labels"),
        Gts.gtsIdCol(cls, labels).as("gtsid"), ts.cast(LongType).as("ts"),
        lit(null).cast(DoubleType).as("lat"), lit(null).cast(DoubleType).as("lon"),
        lit(null).cast(LongType).as("elev"),
        lit(graft.model.GtsType.LONG).as("vtype"),
        v.cast(LongType).as("vlong"), v.cast(DoubleType).as("vdouble"),
        lit(null).cast(BooleanType).as("vbool"),
        lit(null).cast(StringType).as("vstring"),
        lit(null).cast(BinaryType).as("vbinary"))
    // the uplink is ONE series (the reference returns null otherwise —
    // enforced at the word branch), so class/labels are constants:
    // group by the tick alone and carry them with first() — a MAP
    // column must never be a grouping key
    val perUp = j.groupBy(col("uts")).agg(
      first(col("__uc")).as("__uc"), first(col("__ul")).as("__ul"),
      min(lat).as("__lmin"), max(lat).as("__lmax"),
      count(col("dts")).as("__total"),
      countDistinct(col("di")).as("__withm"),
      coalesce(bit_or(expr("shiftleft(cast(1 as bigint), cast(di as int))")),
        lit(0L)).as("__mask"))
    val upOpt: Map[String, Column] = Map(
      "uplink.latency.min" -> coalesce(col("__lmin"), lit(-1L)),
      "uplink.latency.max" -> coalesce(col("__lmax"), lit(-1L)),
      "downlinks.totalmatches" -> col("__total"),
      "downlinks.withmatches" -> col("__withm"),
      "downlinks.bitset" -> col("__mask"))
    val upOuts = options.filter(upOpt.contains).map { o =>
      canon(perUp, concat(col("__uc"), lit(":" + o)), col("__ul"),
        col("uts"), upOpt(o))
    }
    val dOptNames = Seq("downlink.latency.min", "downlink.latency.max",
      "downlink.matches")
    val dOuts: Seq[DataFrame] =
      if (!options.exists(dOptNames.contains)) Seq.empty
      else {
        val dmeta = d.groupBy(col("di")).agg(
          first(col("__dc")).as("__dc"), first(col("__dl")).as("__dl"))
        val dm = j.filter(col("di").isNotNull)
          .groupBy(col("di"), col("uts")).agg(
            min(lat).as("__dlmin"), max(lat).as("__dlmax"),
            count(lit(1)).as("__dmatches"))
        val crossed = u.select(col("uts")).crossJoin(broadcast(dmeta))
          .join(dm, Seq("di", "uts"), "left")
        val dOpt: Map[String, Column] = Map(
          "downlink.latency.min" -> coalesce(col("__dlmin"), lit(-1L)),
          "downlink.latency.max" -> coalesce(col("__dlmax"), lit(-1L)),
          "downlink.matches" -> coalesce(col("__dmatches"), lit(0L)))
        options.filter(dOpt.contains).map { o =>
          canon(crossed, concat(col("__dc"), lit(":" + o)), col("__dl"),
            col("uts"), dOpt(o))
        }
      }
    val outs = upOuts ++ dOuts
    require(outs.nonEmpty,
      "filter.latencies: no supported option requested (" +
        options.mkString(",") + ")")
    outs.reduce(_ unionByName _)
  }

  // ---------------------------------------------------------------------
  // REDUCE — n-way align on tick within label-equivalence classes
  // (GTSHelper.java:8147-8480; fn/REDUCE.java)
  // ---------------------------------------------------------------------

  /** Partition all series by the values of `byLabels`, then for every
    * tick present in ANY member series call the reducer over the
    * member values. Spark's hash aggregation over (labels-subset, ts)
    * does the align-on-tick implicitly — absent members are simply not
    * in the group, which matches `.exclude-nulls` semantics; use
    * `forbidNulls` to drop groups where some member is missing.
    */
  def reduce(agg: ValueAgg, byLabels: Seq[String],
             forbidNulls: Boolean = false,
             includeNullsCount: Boolean = false,
             byAllLabels: Boolean = false): DataFrame = {
    // NULL bylabels in the reference (GTSHelper.partition: eqcls =
    // ALL the series' labels) — partition identity is the full label
    // set, keyed here by its canonical sorted rendering
    val keyNames = if (byAllLabels) Seq("__lkey") else byLabels
    val keys =
      if (byAllLabels) Seq(GtsFrame.labelsKeyCol.as("__lkey"))
      else byLabels.map(l => col("labels").getItem(l).as(l))
    val nSeries = df.select(col("gtsid") +: keys: _*).distinct()
      .groupBy(keyNames.map(col): _*).agg(count(lit(1)).as("__nseries"))
    val extra =
      if (byAllLabels) Seq(first(col("labels")).as("labels")) else Seq.empty
    val grouped = df
      .select(col("gtsid") +: col("ts") +: col("vdouble") +: col("lat") +:
        col("lon") +: col("elev") +: col("labels").as("labels") +: keys: _*)
      .groupBy(keyNames.map(col) :+ col("ts"): _*)
      .agg(
        agg.column(col("vdouble"), col("ts")).as("vdouble"),
        (count(col("gtsid")).as("__nmembers") +: extra): _*)
    // nSeries is one row per label partition — always broadcastable.
    // NULL/empty bylabels (one global partition, REDUCE.java:85) makes
    // it a single row: a cross join, not a keyed join.
    val out0 =
      if (forbidNulls || includeNullsCount) {
        if (keyNames.isEmpty) grouped.crossJoin(broadcast(nSeries))
        else grouped.join(broadcast(nSeries), keyNames, "inner")
      } else grouped
    // forbid-nulls (aggregator null variants): the reference emits a
    // null value when any aligned member is absent — a null-valued
    // point does not exist, so dropping the group is equivalent
    val out1 =
      if (forbidNulls) out0.filter(col("__nmembers") === col("__nseries"))
      else out0
    // reducer.count default/include-nulls (Count.java, omitNulls=false):
    // count EVERY aligned slot, i.e. the series count of the partition
    val out2 =
      if (includeNullsCount)
        out1.withColumn("vdouble", col("__nseries"))
      else out1
    out2.drop("__nmembers", "__nseries", "__lkey")
  }

  /** reducer.argmax / reducer.argmin (aggregator/Argminmax.java:
    * 116-205): per aligned tick, the comma-joined URL-encoded values of
    * `label` over the members attaining the extreme value, capped at
    * `count` entries (0 = all). The reference reports ties in
    * member-iteration order (unspecified — HashMap partition); here
    * tied label values sort lexicographically so the result is
    * deterministic under any partitioning. STRING-valued output. */
  def reduceArg(label: String, count: Int, isArgmin: Boolean,
                byLabels: Seq[String], byAllLabels: Boolean = false): DataFrame = {
    val keyNames = if (byAllLabels) Seq("__lkey") else byLabels
    val keys =
      if (byAllLabels) Seq(GtsFrame.labelsKeyCol.as("__lkey"))
      else byLabels.map(l => col("labels").getItem(l).as(l))
    // every member must carry the label (Argminmax.java:131-133 throws)
    val lbl = when(col("labels").getItem(label).isNotNull,
      col("labels").getItem(label))
      .otherwise(raise_error(lit(
        s"reducer.arg${if (isArgmin) "min" else "max"} expects all labels " +
          s"to contain label '$label'")))
    val collected = df
      .select(col("ts") +: col("vdouble").as("__v") +:
        lbl.as("__lbl") +: keys: _*)
      .groupBy(keyNames.map(col) :+ col("ts"): _*)
      .agg(collect_list(struct(col("__v"), col("__lbl"))).as("__m"))
    val extreme =
      if (isArgmin) array_min(transform(col("__m"), e => e.getField("__v")))
      else array_max(transform(col("__m"), e => e.getField("__v")))
    val tied = array_sort(transform(
      filter(col("__m"), e => e.getField("__v") === extreme),
      e => GtsFrame.warpUrlEncodeCol(e.getField("__lbl"))))
    val capped = if (count > 0) slice(tied, 1, count) else tied
    collected
      .withColumn("vstring", array_join(capped, ","))
      .drop("__m", "__lkey")
  }

  // ---------------------------------------------------------------------
  // APPLY — tick-aligned binary op across two GTS sets
  // (GTSHelper.java:7846-7895; fn/APPLY.java; script/op/Op*.java)
  // ---------------------------------------------------------------------

  /** Binary op between this frame and `other`, partitioned by `byLabels`
    * and full-outer aligned on tick. When one side has a single series
    * per partition it broadcasts against the other (1-to-many,
    * GTSHelper.java:7846-7895) — Spark's planner picks broadcast-hash
    * automatically when the single side is small.
    */
  def applyOp(other: GtsFrame, op: (Column, Column) => Column,
              byLabels: Seq[String], joinType: String = "full_outer",
              byAllLabels: Boolean = false): DataFrame =
    applyOps(other, Seq("vdouble" -> op), byLabels, joinType, byAllLabels)

  /** N-ary APPLY (GTSHelper.applyNAryFunction:7610; op/OpAdd.java
    * sums across the whole aligned value array): chain of full-outer
    * joins on (partition-labels, tick), then a LEFT FOLD of the binary
    * op column — for the associative-with-identity ops (add/mul/and/or
    * and their ignore-nulls variants) the fold is exactly the
    * reference's N-way evaluation, strict forms nulling out whenever
    * any operand is absent. Join keys coalesce through the chain
    * (USING-join), so the alignment stays one shuffle per operand. */
  def applyOpN(others: Seq[GtsFrame], op: (Column, Column) => Column,
               sideAgg: Column => Column, byLabels: Seq[String],
               byAllLabels: Boolean = false): DataFrame = {
    val keyNames = if (byAllLabels) Seq("labelskey") else byLabels
    def keys =
      if (byAllLabels) Seq(GtsFrame.labelsKeyCol.as("labelskey"))
      else byLabels.map(l => col("labels").getItem(l).as(l))
    // a partition may hold SEVERAL series from one operand position —
    // the reference's value array has one slot per member, and its
    // N-ary ops are commutative folds over ALL slots (OpAdd.java), so
    // an intra-side aggregate followed by the cross-side fold is the
    // same evaluation. A non-aggregated join would multiply rows.
    def side(d: DataFrame, v: String) =
      d.select(keys :+ col("ts") :+ col("vdouble"): _*)
        .groupBy(keyNames.map(col) :+ col("ts"): _*)
        .agg(sideAgg(col("vdouble")).as(v))
    val sides = (this +: others).zipWithIndex.map { case (f, i) =>
      side(f.df, s"__v$i")
    }
    val joined = sides.reduce((l, r) => l.join(r, keyNames :+ "ts", "full_outer"))
    val folded = (1 until sides.size).foldLeft(col("__v0"): Column)(
      (acc, i) => op(acc, col(s"__v$i")))
    joined.withColumn("vdouble", folded)
      .drop(sides.indices.map(i => s"__v$i"): _*)
  }

  /** Multi-output APPLY: evaluate several ops over one tick alignment
    * (the reference evaluates op lists in one pass too). Comparison ops
    * op.eq/ne/gt/ge/lt/le emit null when an operand is absent
    * (script/op/OpGT.java null handling); `.ignore-nulls` variants
    * substitute the op's identity — both are just Column functions here.
    */
  def applyOps(other: GtsFrame, ops: Seq[(String, (Column, Column) => Column)],
               byLabels: Seq[String], joinType: String = "full_outer",
               byAllLabels: Boolean = false): DataFrame = {
    val keyNames = if (byAllLabels) Seq("labelskey") else byLabels
    def side(d: DataFrame, v: String) =
      d.select((if (byAllLabels) Seq(GtsFrame.labelsKeyCol.as("labelskey"))
        else byLabels.map(l => col("labels").getItem(l).as(l))) :+
        col("ts") :+ col("vdouble").as(v): _*)
    val l = side(df, "__vl")
    val r = side(other.df, "__vr")
    val joined = l.join(r, keyNames :+ "ts", joinType)
    ops.foldLeft(joined) { case (d, (name, op)) =>
      d.withColumn(name, op(col("__vl"), col("__vr")))
    }.drop("__vl", "__vr")
  }

  /** op.mask / op.negmask (script/op/OpMask.java): emit the value of this
    * frame where the mask frame's value is truthy (resp. falsy). */
  def mask(maskFrame: GtsFrame, byLabels: Seq[String], negate: Boolean = false): DataFrame = {
    val cond0 = (m: Column) => m.isNotNull && m =!= 0.0
    val cond = if (negate) (m: Column) => !cond0(m) else cond0
    applyOp(maskFrame, (v, m) => when(cond(m), v), byLabels, "inner")
      .filter(col("vdouble").isNotNull)
  }

  // ---------------------------------------------------------------------
  // FILTER — whole-series predicates (fn/FILTER.java; script/filter/*)
  // ---------------------------------------------------------------------

  /** filter.last.* / filter.any.* / filter.all.* family: evaluate a
    * per-series aggregate predicate then semi-join the survivors back.
    * The aggregate table is tiny (one row per series) → broadcast
    * semi-join at scale.
    */
  def filterSeries(pred: Column): GtsFrame = filterSeries(pred, None, false)

  /** `anyPred` is a per-POINT predicate: the series is retained when ANY
    * point satisfies it (script/filter/FilterAny.java); `negate` flips
    * retention to NO-point-satisfies, which is how the reference builds
    * the `filter.all.*` family (FilterAny registered with the inverse
    * comparator + complementSet=true, WarpScriptLib.java:2796-2801). */
  def filterSeries(pred: Column, anyPred: Option[Column],
                   negate: Boolean): GtsFrame = {
    val baseAggs = Seq(
      max_by(col("vdouble"), col("ts")).as("last_v"),
      min(col("vdouble")).as("min_v"),
      max(col("vdouble")).as("max_v"),
      count(lit(1)).as("size_v"),
      // identity columns for the metadata filters (filter.byclass,
      // filter.bylabels — script/filter/FilterByClass.java family);
      // constant per series, so first() is exact
      first(col("class")).as("class_v"),
      first(col("labels")).as("labels_v"))
    val aggs = anyPred match {
      case Some(p) => baseAggs :+
        max(when(p, lit(1L)).otherwise(lit(0L))).as("any_v")
      case None => baseAggs
    }
    val fullPred = anyPred match {
      case Some(_) => pred && (if (negate) col("any_v") === 0L
                               else col("any_v") === 1L)
      case None => pred
    }
    val keep = df.groupBy(col("gtsid")).agg(aggs.head, aggs.tail: _*)
      .filter(fullPred).select(col("gtsid"))
    GtsFrame(df.join(broadcast(keep), Seq("gtsid"), "left_semi"))
  }

  // ---------------------------------------------------------------------
  // Structural ops
  // ---------------------------------------------------------------------

  /** DEDUP (fn/DEDUP.java → GTSHelper.dedup:7198, corrected r12 — the
    * earlier consecutive-equal-VALUE form was an invented semantic):
    * remove duplicate TICKS, keeping one point per (series, tick).
    * The reference keeps the LAST occurrence in backing-array
    * (ingestion) order — an order an unordered distributed frame does
    * not carry — so this engine keeps the deterministic canonical
    * maximum of the duplicate rows' typed value/location/elevation
    * tuple; ticks occurring once pass through untouched on both
    * engines, and the pick only differs where the reference's own
    * answer depends on ingestion order. */
  def dedup(): GtsFrame = {
    val w = Window.partitionBy(col("gtsid"), col("ts")).orderBy(
      col("vlong").desc_nulls_last, col("vdouble").desc_nulls_last,
      col("vstring").desc_nulls_last, col("vbool").desc_nulls_last,
      col("lat").desc_nulls_last, col("lon").desc_nulls_last,
      col("elev").desc_nulls_last)
    GtsFrame(df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn"))
  }

  /** COMPACT (fn/COMPACT.java) — remove interior ticks of constant-value
    * runs, keeping each run's first and last tick. */
  def compact(): GtsFrame = compact(preserveRanges = true)

  /** COMPACT / RANGECOMPACT (fn/COMPACT.java, fn/RANGECOMPACT.java →
    * GTSHelper.compact:8615-8713): drop points whose value AND
    * location AND elevation equal the previous point's. COMPACT
    * (preserveRanges = false) keeps each run's FIRST point plus the
    * series' last point (the reference's loop never compares against
    * the final index, so the last point always survives);
    * RANGECOMPACT (preserveRanges = true) keeps each run's first AND
    * last point. Equality is across every typed slot, null-safe. */
  def compact(preserveRanges: Boolean): GtsFrame = {
    val w = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
    val slots = Seq("vlong", "vdouble", "vbool", "vstring", "vbinary",
      "lat", "lon", "elev").filter(df.columns.contains)
    val samePrev = slots.map(c => col(c) <=> lag(col(c), 1).over(w)).reduce(_ && _) &&
      lag(col("ts"), 1).over(w).isNotNull
    val sameNext = slots.map(c => col(c) <=> lead(col(c), 1).over(w)).reduce(_ && _) &&
      lead(col("ts"), 1).over(w).isNotNull
    val isLast = lead(col("ts"), 1).over(w).isNull
    val keep = if (preserveRanges) !samePrev || !sameNext else !samePrev || isLast
    // window exprs may not appear in a filter directly
    GtsFrame(df.withColumn("__keep", keep).filter(col("__keep")).drop("__keep"))
  }

  /** CHUNK (fn/CHUNK.java) — split each series into fixed-width chunks
    * ending at `lastchunk`; adds a `chunkid` label-like column (the
    * chunk's end tick). */
  def chunk(lastchunk: Long, width: Long): DataFrame = {
    val chunkEnd = graft.plans.BucketEnd.bucketEnd(df.sparkSession,
      col("ts"), lit(lastchunk), lit(width))
    df.filter(col("ts") <= lastchunk).withColumn("chunkid", chunkEnd)
  }

  /** The CHUNK word's semantics (fn/CHUNK.java; GTSHelper.chunk:
    * 9599-9800, non-bucketized, overlap 0): each point joins the chunk
    * ENDING at lastchunk − i·width that contains it, and the chunk id
    * becomes a NEW LABEL (`chunklabel` → chunkend rendered as a Long
    * string) — a new series identity per chunk, the frame form of the
    * reference's list of chunk GTS. lastchunk 0 resolves PER SERIES to
    * the last tick aligned UP to a width boundary (:9671-9681); under
    * keepempty=false — the only mode a points-frame can represent — an
    * explicit lastchunk beyond a series' last tick shifts down to the
    * chunk containing it and a nonzero chunkcount shrinks by the
    * skipped empty chunks (:9689-9699); a pre-existing `chunklabel`
    * label is the reference's hard error (:9615-9616). */
  def chunkRef(lastchunk: Long, width: Long, count: Long,
               chunklabel: String): GtsFrame = {
    require(width > 0, "CHUNK chunkwidth must be > 0")
    val ext = df.groupBy(col("gtsid")).agg(max(col("ts")).as("__lt"))
    val lt = col("__lt")
    val lc0: Column =
      if (lastchunk != 0) lit(lastchunk)
      else when(lt % width =!= 0, lt - (lt % width) + width).otherwise(lt)
    val skipped = when(lc0 > lt, idiv(lc0 - lt, lit(width))).otherwise(lit(0L))
    val lc = lc0 - lit(width) * skipped
    val cntOpt: Option[Column] =
      if (count > 0) Some(lit(count) - skipped) else None
    val inWindow = cntOpt
      .map(c => col("ts") > lc - c * lit(width) && col("ts") <= lc)
      .getOrElse(col("ts") <= lc)
    val chunkEnd0 = graft.plans.BucketEnd.bucketEnd(df.sparkSession,
      col("ts"), lc, lit(width))
    // the error branch carries the output type so the optimizer cannot
    // null-propagate the check away
    val chunkEnd = when(map_contains_key(col("labels"), lit(chunklabel)),
      raise_error(lit("CHUNK Cannot operate on Geo Time Series which " +
        s"already have a label named '$chunklabel'")).cast(LongType))
      .otherwise(chunkEnd0)
    val labels2 = map_concat(col("labels"),
      map(lit(chunklabel), chunkEnd.cast(StringType)))
    GtsFrame(df.join(ext, Seq("gtsid"))
      .filter(inWindow)
      .withColumn("labels", labels2)
      .withColumn("gtsid", Gts.gtsIdCol(col("class"), col("labels")))
      .drop("__lt"))
  }

  /** TIMESPLIT (fn/TIMESPLIT.java) — split a series on quiet periods
    * of AT LEAST `quiet` µs (GTSHelper.timesplit:6090 splits when
    * `tick − lasttick >= quietperiod`; `>` was an off-by-one fixed in
    * round 11); emits a session id per sub-series via the classic
    * gap-cumsum. */
  def timesplit(quiet: Long): DataFrame = {
    // vdouble tiebreaker: duplicate ticks otherwise make lag()/cumsum
    // order engine-dependent (the reference's sorted GTS has a stable
    // duplicate-tick order, GTSHelper.java:139-341)
    val w = Window.partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
    val gap = col("ts") - lag(col("ts"), 1).over(w)
    df.withColumn("__newsess",
        when(gap.isNull || gap >= quiet, 1L).otherwise(0L))
      .withColumn("sessionid", sum(col("__newsess"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__newsess")
  }

  /** The TIMESPLIT word's semantics (fn/TIMESPLIT.java; GTSHelper
    * .timesplit:6042-6117): split each series on gaps >= quietperiod
    * into sub-series labeled `labelname` → "1","2",… in tick order,
    * DROPPING sub-series with fewer than `minvalues` points; a series
    * that ALREADY carries `labelname` passes through unchanged —
    * not an error, unlike CHUNK's chunklabel. */
  def timesplitRef(quiet: Long, minvalues: Long, label: String): GtsFrame = {
    val has = map_contains_key(col("labels"), lit(label))
    val keep = df.filter(has)
    val w = Window.partitionBy(col("gtsid"), col("sessionid"))
    val split = GtsFrame(df.filter(!has)).timesplit(quiet)
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") >= minvalues)
      .withColumn("labels", map_concat(col("labels"),
        map(lit(label), col("sessionid").cast(StringType))))
      .withColumn("gtsid", Gts.gtsIdCol(col("class"), col("labels")))
      .drop("sessionid", "__n")
    GtsFrame(keep.unionByName(split))
  }

  /** RENAME (fn/RENAME.java): set the class name; a `+`-prefixed name
    * appends its remainder to the current class (reference suffix
    * form). Identity changes ⇒ gtsid rehash. */
  def rename(name: String): GtsFrame = {
    val cls =
      if (name.startsWith("+")) concat(col("class"), lit(name.substring(1)))
      else lit(name)
    GtsFrame(df.withColumn("class", cls)
      .withColumn("gtsid", Gts.gtsIdCol(col("class"), col("labels"))))
  }

  /** RELABEL (fn/RELABEL.java; GTSHelper.relabel:6713-6734): merge the
    * given labels over the current ones; an empty-string (or null)
    * value REMOVES that label, and a NULL KEY in the map means the
    * existing labels are DROPPED first (`reset`). Identity changes ⇒
    * gtsid rehash. */
  def relabel(labels: Map[String, String], reset: Boolean = false): GtsFrame = {
    val (removes, sets) = labels.partition(_._2.isEmpty)
    val base = if (reset) typedlit(Map.empty[String, String]) else col("labels")
    val merged =
      if (sets.isEmpty) base
      else map_concat(
        map_filter(base, (k, _) => !k.isin(sets.keys.toSeq.map(lit): _*)),
        typedlit(sets))
    val cleaned =
      if (removes.isEmpty) merged
      else map_filter(merged, (k, _) => !k.isin(removes.keys.toSeq.map(lit): _*))
    GtsFrame(df.withColumn("labels", cleaned)
      .withColumn("gtsid", Gts.gtsIdCol(col("class"), col("labels"))))
  }

  /** TIMESCALE / TIMESHIFT — affine tick transforms. */
  def timeshift(delta: Long): GtsFrame = GtsFrame(df.withColumn("ts", col("ts") + delta))
  def timescale(k: Double): GtsFrame =
    GtsFrame(df.withColumn("ts", (col("ts") * k).cast(LongType)))

  /** TIMEMODULO (fn/TIMEMODULO.java): fold ticks to ts % modulo and
    * carry ts div modulo in a quotient label — splits each series into
    * one sub-series per quotient, all sharing a common phase axis. */
  def timemodulo(modulo: Long, quotientLabel: String): GtsFrame =
    GtsFrame(df
      .withColumn("labels", map_concat(col("labels"),
        map(lit(quotientLabel), (col("ts") / modulo).cast(LongType).cast(StringType))))
      .withColumn("ts", col("ts") % modulo)
      // label change ⇒ new series identity
      .withColumn("gtsid", Gts.gtsIdCol(col("class"), col("labels"))))

  /** QUANTIZE (fn/QUANTIZE.java) — snap values to level boundaries. */
  /** Library helper: coarsen values onto a step grid. NOT the QUANTIZE
    * word (that is [[quantizeRef]]) — used as fixture preprocessing by
    * the dedup/compact rows. */
  def quantize(step: Double): GtsFrame =
    GtsFrame(df.withColumn("vdouble", floor(col("vdouble") / step) * step))

  /** QUANTIZE word (fn/QUANTIZE.java; GTSHelper.quantize:10384-10420):
    * bucket each NUMERIC value against strictly increasing finite
    * `bounds` — bucket = #{bounds < v}, so a value equal to a bound
    * falls in that bound's own bucket (binarySearch exact hit) — and
    * emit the bucket index as a LONG, or `targets(bucket)` when the
    * rank-to-value list is given (any value type per rank). A
    * non-numeric series is the reference's hard error. */
  def quantizeRef(bounds: Seq[Double], targets: Option[Seq[Any]]): GtsFrame = {
    import graft.model.GtsType
    val numeric = col("vtype") === GtsType.LONG || col("vtype") === GtsType.DOUBLE
    val v = when(numeric,
        coalesce(col("vdouble"), col("vlong").cast(DoubleType)))
      .otherwise(raise_error(
        lit("QUANTIZE Can only quantify numeric Geo Time Series."))
        .cast(DoubleType))
    val bucket0 = bounds.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(v > lit(b), 1L).otherwise(0L)
    }
    // materialize the bucket BEFORE any value slot is overwritten —
    // the bucket expression reads the original vdouble/vlong
    val dfB = df.withColumn("__bucket", bucket0)
    val bucket = col("__bucket")
    val nl = lit(null).cast(LongType)
    val nd = lit(null).cast(DoubleType)
    val nb = lit(null).cast(BooleanType)
    val ns = lit(null).cast(StringType)
    val nbin = lit(null).cast(BinaryType)
    val out = targets match {
      case None =>
        dfB.withColumn("vlong", bucket)
          .withColumn("vtype", lit(GtsType.LONG).cast(ByteType))
          .withColumn("vdouble", nd).withColumn("vbool", nb)
          .withColumn("vstring", ns).withColumn("vbinary", nbin)
      case Some(ts) =>
        // per-rank typed literal chains: each rank carries its own
        // value TYPE, like the reference's Object[] rank table
        def chain(dflt: Column)(pick: PartialFunction[Any, Column]): Column =
          ts.zipWithIndex.foldLeft(dflt) { case (acc, (t, k)) =>
            when(bucket === k.toLong, pick.applyOrElse(t, (_: Any) => dflt))
              .otherwise(acc)
          }
        val vt = ts.zipWithIndex.foldLeft(lit(GtsType.LONG).cast(ByteType)) {
          case (acc, (t, k)) =>
            val ty = t match {
              case _: Long => GtsType.LONG
              case _: Double => GtsType.DOUBLE
              case _: Boolean => GtsType.BOOLEAN
              case _: String => GtsType.STRING
              case o => throw new IllegalArgumentException(
                s"QUANTIZE unsupported rank value: $o")
            }
            when(bucket === k.toLong, lit(ty).cast(ByteType)).otherwise(acc)
        }
        dfB.withColumn("vlong", chain(nl) { case l: Long => lit(l) })
          .withColumn("vdouble", chain(nd) { case d: Double => lit(d) })
          .withColumn("vbool", chain(nb) { case b: Boolean => lit(b) })
          .withColumn("vstring", chain(ns) { case s: String => lit(s) })
          .withColumn("vtype", vt)
          .withColumn("vbinary", nbin)
    }
    GtsFrame(out.drop("__bucket"))
  }

  /** NORMALIZE — per-series min-max scale to [0,1] (fn/NORMALIZE.java,
    * GTSHelper.normalize:8743-8812): a CONSTANT series maps to 1.0. */
  def normalize(): GtsFrame = {
    val w = Window.partitionBy(col("gtsid"))
    val mn = min(col("vdouble")).over(w)
    val mx = max(col("vdouble")).over(w)
    GtsFrame(df.withColumn("vdouble",
      when(mx === mn, lit(1.0)).otherwise((col("vdouble") - mn) / (mx - mn))))
  }

  /** ISONORMALIZE (fn/ISONORMALIZE.java, GTSHelper.isonormalize:8819-
    * 8893): (x − mean)/(max − min); a CONSTANT series maps to 1.0. */
  def isonormalize(): GtsFrame = {
    val w = Window.partitionBy(col("gtsid"))
    val mn = min(col("vdouble")).over(w)
    val mx = max(col("vdouble")).over(w)
    val mu = avg(col("vdouble")).over(w)
    GtsFrame(df.withColumn("vdouble",
      when(mx === mn, lit(1.0)).otherwise((col("vdouble") - mu) / (mx - mn))))
  }

  /** STANDARDIZE — per-series z-score (fn/STANDARDIZE.java; GTSHelper
    * .standardize:8902-8963: naive sumsq/n − (sum/n)² variance with
    * Bessel's correction when n > 1; sd == 0 ⇒ subtract the mean only
    * — mirrored term for term, not Spark's Welford stddev_samp). */
  def standardize(): GtsFrame = {
    val w = Window.partitionBy(col("gtsid"))
    val n = count(lit(1)).over(w).cast(DoubleType)
    val s = sum(col("vdouble")).over(w)
    val sq = sum(col("vdouble") * col("vdouble")).over(w)
    val mu = s / n
    val varNaive = sq / n - (s * s) / (n * n)
    val variance = when(n > 1.0, varNaive * n / (n - 1.0)).otherwise(varNaive)
    val sd = sqrt(variance)
    GtsFrame(df.withColumn("vdouble",
      when(sd === 0.0, col("vdouble") - mu).otherwise((col("vdouble") - mu) / sd)))
  }

  /** INTEGRATE — running sum per series (fn/INTEGRATE.java). */
  /** INTEGRATE (fn/INTEGRATE.java; GTSHelper.integrate:9515-9539,
    * corrected round 11 — the old op was a plain value cumsum): values
    * are RATES per second, left-rectangle integrated over time —
    * out(t₀) = initialValue, out(tᵢ) = out(tᵢ₋₁) + v(tᵢ₋₁)·Δt/1e6.
    * The accumulation is a SEQUENTIAL left fold (Spark's running-frame
    * window sum adds row by row in frame order — the reference loop's
    * association), with the Δt/1e6 division per step like the
    * reference; the g14/w21 oracles replay the identical fold with a
    * recursive CTE, so the doubles agree bitwise at any magnitude
    * (an association-free exact-sum formulation was tried first and
    * broke past 2^53 — r11). The one deliberate deviation: the
    * initial value is ADDED AFTER the fold (init + Σ) instead of
    * seeding it, so a non-zero init costs at most 1 ulp vs the
    * reference's (init + c₁) + c₂ … ordering. */
  def integrate(initial: Double = 0.0): GtsFrame = {
    val w = Window.partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
    val prevTs = lag(col("ts"), 1).over(w)
    val prevV = lag(col("vdouble"), 1).over(w)
    val contrib = when(prevTs.isNull, lit(0.0))
      .otherwise(prevV * ((col("ts") - prevTs).cast(DoubleType) / lit(1e6)))
    val cum = sum(contrib).over(
      Window.partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
        .rowsBetween(Window.unboundedPreceding, 0))
    GtsFrame(df.withColumn("vdouble", lit(initial) + cum))
  }

  /** FILLPREVIOUS over a bucket grid: generate the full bucket tick grid
    * per series (sequence + explode — distributed, no driver loop), left
    * join the data, then carry the last non-null value forward
    * (GTSHelper.java:4893 FILLPREVIOUS / 4996 FILLNEXT).
    */
  def fillPrevious(lastbucket: Long, span: Long, count: Long): DataFrame = {
    val grid = bucketGrid(lastbucket, span, count)
    val w = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.withColumn("vdouble",
      last(col("vdouble"), ignoreNulls = true).over(w))
  }

  /** MERGE — union of frames; identical-class concat (fn/MERGE.java). */
  def merge(other: GtsFrame): GtsFrame = GtsFrame(df.unionByName(other.df))

  /** FILLNEXT — like fillPrevious but carries the next value backward
    * (GTSHelper.java:4996). */
  def fillNext(lastbucket: Long, span: Long, count: Long): DataFrame = {
    val grid = bucketGrid(lastbucket, span, count)
    val w = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
      .rowsBetween(0, Window.unboundedFollowing)
    grid.withColumn("vdouble", first(col("vdouble"), ignoreNulls = true).over(w))
  }

  /** FILLVALUE — fill empty buckets with a constant (GTSHelper.java:5106). */
  def fillValue(lastbucket: Long, span: Long, count: Long, value: Double): DataFrame =
    bucketGrid(lastbucket, span, count)
      .withColumn("vdouble", coalesce(col("vdouble"), lit(value)))

  /** FILL w/ filler.interpolate — linear interpolation between the
    * previous and next present buckets (script/filler/FillerInterpolate,
    * GTSHelper.fill:5229). Boundary buckets (no prev or no next) stay
    * empty, like the reference filler.
    */
  def fillLinear(lastbucket: Long, span: Long, count: Long): DataFrame = {
    val grid = bucketGrid(lastbucket, span, count)
    val wPrev = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
      .rowsBetween(0, Window.unboundedFollowing)
    val pv = last(when(col("vdouble").isNotNull, col("vdouble")), ignoreNulls = true).over(wPrev)
    val pt = last(when(col("vdouble").isNotNull, col("ts")), ignoreNulls = true).over(wPrev)
    val nv = first(when(col("vdouble").isNotNull, col("vdouble")), ignoreNulls = true).over(wNext)
    val nt = first(when(col("vdouble").isNotNull, col("ts")), ignoreNulls = true).over(wNext)
    grid.withColumn("vdouble",
      when(col("vdouble").isNotNull, col("vdouble"))
        .when(pv.isNotNull && nv.isNotNull,
          pv + (nv - pv) * (col("ts") - pt) / (nt - pt)))
  }

  /** filler.trend (script/filler/FillerTrend.java:36-119): each gap
    * value averages TWO linear projections — the previous knot extended
    * by the "pre" trend and the next knot pulled back by the "post"
    * trend, mixed by the gap's relative position α = Δ/span (α on the
    * previous projection, 1−α on the next, as the reference writes it).
    * Trend rates come from the knot's own neighbor (prevprev/nextnext),
    * each falling back to the crossing rate then the far side's rate;
    * one defined rate backfills the other; no rate → no fill.
    * One-sided gaps extrapolate with the available rate.
    *
    * All knot values are exact integers (cents) and ticks are exact
    * longs, so every rate/projection is a fixed IEEE expression tree —
    * bit-identical in any engine writing the same tree.
    */
  def fillTrend(lastbucket: Long, span: Long, count: Long): DataFrame = {
    val wk = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
    val knots = df.select(col("gtsid"), col("ts"), col("vdouble"))
      .withColumn("__ppv", lag(col("vdouble"), 1).over(wk))
      .withColumn("__ppt", lag(col("ts"), 1).over(wk))
      .withColumn("__nnv", lead(col("vdouble"), 1).over(wk))
      .withColumn("__nnt", lead(col("ts"), 1).over(wk))
    val series = df.groupBy(col("gtsid"))
      .agg(first(col("class")).as("class"), first(col("labels")).as("labels"))
    val grid = series.withColumn("ts",
      explode(sequence(lit(lastbucket - (count - 1) * span), lit(lastbucket), lit(span))))
      .join(knots, Seq("gtsid", "ts"), "left")
    val wPrev = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
      .rowsBetween(0, Window.unboundedFollowing)
    def lastNN(c: Column) = last(c, ignoreNulls = true).over(wPrev)
    def firstNN(c: Column) = first(c, ignoreNulls = true).over(wNext)
    val x = grid
      .withColumn("pv", lastNN(when(col("vdouble").isNotNull, col("vdouble"))))
      .withColumn("pt", lastNN(when(col("vdouble").isNotNull, col("ts"))))
      .withColumn("ppv", lastNN(when(col("vdouble").isNotNull, col("__ppv"))))
      .withColumn("ppt", lastNN(when(col("vdouble").isNotNull, col("__ppt"))))
      .withColumn("nv", firstNN(when(col("vdouble").isNotNull, col("vdouble"))))
      .withColumn("nt", firstNN(when(col("vdouble").isNotNull, col("ts"))))
      .withColumn("nnv", firstNN(when(col("vdouble").isNotNull, col("__nnv"))))
      .withColumn("nnt", firstNN(when(col("vdouble").isNotNull, col("__nnt"))))
    val preRate0 =
      when(col("ppv").isNotNull && col("pv").isNotNull,
        (col("pv") - col("ppv")) / (col("pt") - col("ppt")))
      .when(col("pv").isNotNull && col("nv").isNotNull,
        (col("nv") - col("pv")) / (col("nt") - col("pt")))
      .when(col("nv").isNotNull && col("nnv").isNotNull,
        (col("nnv") - col("nv")) / (col("nnt") - col("nt")))
    val postRate0 =
      when(col("nnv").isNotNull && col("nv").isNotNull,
        (col("nnv") - col("nv")) / (col("nnt") - col("nt")))
      .when(col("pv").isNotNull && col("nv").isNotNull,
        (col("nv") - col("pv")) / (col("nt") - col("pt")))
      .when(col("ppv").isNotNull && col("pv").isNotNull,
        (col("pv") - col("ppv")) / (col("pt") - col("ppt")))
    val preRate = coalesce(preRate0, postRate0)
    val postRate = coalesce(postRate0, preRate0)
    val span_ = (col("nt") - col("pt")).cast("double")
    val delta = (col("ts") - col("pt")).cast("double")
    val alpha = delta / span_
    val projPrev = col("pv") + delta * preRate
    val projNext = col("nv") - (span_ - delta) * postRate
    x.withColumn("vdouble",
        when(col("vdouble").isNotNull, col("vdouble"))
          .when(preRate.isNull && postRate.isNull, lit(null))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            alpha * projPrev + (lit(1.0) - alpha) * projNext)
          .when(col("pv").isNotNull, col("pv") + preRate * (col("ts") - col("pt")))
          .when(col("nv").isNotNull, col("nv") - postRate * (col("nt") - col("ts"))))
      .select(col("gtsid"), col("class"), col("labels"), col("ts"), col("vdouble"))
  }

  /** Shared bucket-grid generation: all `count` bucket-end ticks per
    * series left-joined with present values — distributed via
    * sequence+explode, never a driver loop. Emits the full canonical
    * point schema (null loc/elev on filled rows) so fill outputs stay
    * composable with every other frame word. */
  private def bucketGrid(lastbucket: Long, span: Long, count: Long): DataFrame = {
    val series = df.groupBy(col("gtsid"))
      .agg(first(col("class")).as("class"), first(col("labels")).as("labels"))
    val grid = series.withColumn("ts",
      explode(sequence(lit(lastbucket - (count - 1) * span), lit(lastbucket), lit(span))))
    Gts.canonical(grid.join(df.select(col("gtsid"), col("ts"), col("vdouble")),
        Seq("gtsid", "ts"), "left")
      .withColumn("lat", lit(null).cast(DoubleType))
      .withColumn("lon", lit(null).cast(DoubleType))
      .withColumn("elev", lit(null).cast(LongType))
      .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
      .withColumn("vlong", lit(null).cast(LongType))
      .withColumn("vbool", lit(null).cast(BooleanType))
      .withColumn("vstring", lit(null).cast(StringType))
      .withColumn("vbinary", lit(null).cast(BinaryType)))
  }

  // ---------------------------------------------------------------------
  // Advanced per-bucket aggregations needing two passes
  // ---------------------------------------------------------------------

  /** bucketizer.mad — median absolute deviation per 1-series bucket
    * (script/aggregator/MAD.java): median(|x - median(x)|). Two hash
    * aggregations; both shuffles are on the same key so AQE coalesces.
    */
  def bucketizeMad(lastbucket: Long, span: Long): DataFrame = {
    val b = withBucket(lastbucket, span)
    val med = b.groupBy(col("gtsid"), col("__bucket"))
      .agg(percentile(col("vdouble"), lit(0.5)).as("__med"))
    b.join(med, Seq("gtsid", "__bucket"))
      .groupBy(col("gtsid"), col("__bucket"))
      .agg(percentile(abs(col("vdouble") - col("__med")), lit(0.5)).as("mad"))
      .withColumnRenamed("__bucket", "ts")
  }

  /** reducer.shannonentropy.0 (script/aggregator/ShannonEntropy.java):
    * entropy of the per-bucket value distribution, −Σ p·ln p. */
  def bucketizeEntropy(lastbucket: Long, span: Long): DataFrame = {
    val b = withBucket(lastbucket, span)
    val counts = b.groupBy(col("gtsid"), col("__bucket"), col("vdouble"))
      .agg(count(lit(1)).as("__c"))
    val totals = Window.partitionBy(col("gtsid"), col("__bucket"))
    counts.withColumn("__n", sum(col("__c")).over(totals))
      .groupBy(col("gtsid"), col("__bucket"))
      .agg((-sum((col("__c") / col("__n")) * log(col("__c") / col("__n"))))
        .as("entropy"))
      .withColumnRenamed("__bucket", "ts")
  }

  /** bucketizer.mean.circular (script/aggregator/CircularMean.java):
    * atan2 of mean sin / mean cos of the value seen as an angle within
    * `period` (the reference takes the period as a parameter). */
  def bucketizeCircularMean(lastbucket: Long, span: Long, period: Double): DataFrame = {
    val b = withBucket(lastbucket, span)
    val ang = col("vdouble") * (2.0 * math.Pi / period)
    b.groupBy(col("gtsid"), col("__bucket"))
      .agg(atan2(avg(sin(ang)), avg(cos(ang))).as("circmean"))
      .withColumnRenamed("__bucket", "ts")
  }

  /** COUNTERDELTA/RESETS compensation (fn/COUNTERDELTA.java,
    * fn/RESETS.java; GTSHelper.compensateResets:5960-6020): rebuild a
    * monotonic counter from a gauge that resets. A reset is a STRICT
    * move against the counter's direction (value < last for an
    * increasing counter, value > last when `resethigher`); on a reset
    * the reference adds the previous RAW value to a running offset,
    * which telescopes to compensated[i] = compensated[i−1] +
    * (reset ? v[i] : Δ).
    */
  def compensateResets(resethigher: Boolean = false): GtsFrame = {
    val w = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
    val delta = col("vdouble") - lag(col("vdouble"), 1).over(w)
    val keep = if (resethigher) delta <= 0 else delta >= 0
    val inc = when(delta.isNull, col("vdouble"))
      .when(keep, delta).otherwise(col("vdouble"))
    GtsFrame(df.withColumn("vdouble",
      sum(inc).over(w.rowsBetween(Window.unboundedPreceding, 0))))
  }

  /** mapper.geo.within (script/mapper/MapperGeoWithin.java): keep only
    * points inside the shape — codegen'd ray-cast predicate, no UDF. */
  def geoWithin(shape: graft.functions.GeoShape): GtsFrame =
    GtsFrame(df.filter(shape.containsCol(col("lat"), col("lon"))))

  /** mapper.geo.outside (MapperGeoOutside). */
  def geoOutside(shape: graft.functions.GeoShape): GtsFrame =
    GtsFrame(df.filter(!shape.containsCol(col("lat"), col("lon"))))

  /** Annotate each point with its end-anchored bucket tick (`__bucket`)
    * without aggregating — building block for bucket-then-custom-agg
    * pipelines. */
  def withBucketCol(lastbucket: Long, span: Long): DataFrame =
    withBucket(lastbucket, span)

  private def withBucket(lastbucket: Long, span: Long): DataFrame =
    df.filter(col("ts") <= lastbucket).withColumn("__bucket",
      graft.plans.BucketEnd.bucketEnd(df.sparkSession, col("ts"), lit(lastbucket), lit(span)))
}

object GtsFrame {

  /** Selector-pair predicate over (class, labels) columns — '~' prefix
    * = regex, '=' prefix = explicit exact (the reference's selector
    * conventions, MetadataSelectorMatcher.java:42-110 — the '=' marker
    * is how an exact value that itself starts with '~' is expressed),
    * bare = exact. Shared by [[GtsFrame.select]] (point scans) and the
    * FETCH directory consumers matching against a maintained metadata
    * table. */
  def selectorPredicate(classSel: String,
      labelSels: Map[String, String] = Map.empty): Column = {
    val classPred =
      if (classSel == "~.*") lit(true) // match-all fast path (matcher :73)
      else if (classSel.startsWith("~")) col("class").rlike("^(?:" + classSel.drop(1) + ")$")
      else col("class") === classSel.stripPrefix("=")
    labelSels.foldLeft(classPred) { case (acc, (k, v)) =>
      val p =
        if (v.isEmpty || v == "=")
          // `k=` asserts the label is ABSENT
          // (Constants.ABSENT_LABEL_SUPPORT, matcher:103-108)
          col("labels").getItem(k).isNull
        else if (v.startsWith("~")) col("labels").getItem(k).rlike("^(?:" + v.drop(1) + ")$")
        else col("labels").getItem(k) === v.stripPrefix("=")
      acc && p
    }
  }

  /** The gskip/gcount id page over an arbitrary series frame (any frame
    * with a `gtsid` column): rank the DISTINCT ids, keep ranks
    * (gskip, gskip+gcount]. Callers that must match the reference's
    * DIRECTORY-level pagination (FETCH.java:325-331 pages the metadata
    * match set before scanning points) pass the full selector match set
    * here, not just the in-range rows.
    *
    * Scale guard (r14): the page only needs the first gskip+gcount ids
    * in gtsid order. When that extent is bounded (the reference caps a
    * request's series via its MAXGTS limit; every declared query's
    * page extent is tiny), an ordered LIMIT computes the candidate set
    * as a distributed top-K (TakeOrderedAndProject — partial top-K per
    * partition, merge of K rows) and the rank window runs over at most
    * gskip+gcount rows: the single-partition work is bounded by the
    * REQUEST, not by the match-set size, even for a `~.*` selector
    * over an unboundedly churning 100 TB corpus. An unbounded extent
    * (gcount defaulted to MaxValue with only a skip) cannot be
    * limited, so it falls back to RankOps.globalRank's
    * range-partitioned rank. Ranks are identical on every path — all
    * order the distinct ids by gtsid. */
  val PageExtentCap = 1000000L
  def pageIds(ids: org.apache.spark.sql.DataFrame, gskip: Long,
              gcount: Long): org.apache.spark.sql.DataFrame = {
    // a negative count is an empty page (as the window-rank path gives),
    // never a negative LIMIT
    val hi = if (gcount >= Long.MaxValue - gskip) Long.MaxValue
      else math.max(0L, gskip + math.max(0L, gcount))
    val distinctIds = ids.select(col("gtsid")).distinct()
    if (hi <= PageExtentCap) {
      val rk = org.apache.spark.sql.expressions.Window.orderBy(col("gtsid"))
      distinctIds.orderBy(col("gtsid")).limit(hi.toInt)
        .withColumn("rank", row_number().over(rk))
        .filter(col("rank") > gskip)
        .select(col("gtsid"))
    } else
      graft.operators.RankOps
        .globalRank(distinctIds, Seq(col("gtsid")))
        .filter(col("rank") > gskip && col("rank") <= hi)
        .select(col("gtsid"))
  }

  /** Java double division (the reference's op.div applies `/` on
    * doubles, op/OpDiv.java): x/0 = ±Infinity, 0/0 = NaN. Spark's ANSI
    * divide throws DIVIDE_BY_ZERO instead, so the zero-divisor branch
    * is written out (a -0.0 divisor is treated as +0.0 — Spark's
    * comparison normalizes signed zeros). */
  def ieeeDiv(a: Column, b: Column): Column = {
    val dbl = org.apache.spark.sql.types.DoubleType
    when(a.isNull || b.isNull, lit(null).cast(dbl))
      .when(b =!= 0.0, a / b)
      .when(a > 0.0, lit(Double.PositiveInfinity))
      .when(a < 0.0, lit(Double.NegativeInfinity))
      .otherwise(lit(Double.NaN))
  }

  /** A named value aggregation usable as bucketizer (§2.3), windowed
    * mapper (§2.4) or reducer (§2.5) — the three families share
    * implementations in the reference too (script/aggregator classes).
    */
  sealed trait ValueAgg {
    def column(v: Column, ts: Column): Column
    def over(v: Column, ts: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
      column(v, ts).over(w)
  }

  private def simple(f: Column => Column): ValueAgg = new ValueAgg {
    def column(v: Column, ts: Column): Column = f(v)
  }

  /** ValueAgg collecting the group's VALUES once, post-processed by a
    * scalar expression — the collect is the SINGLE aggregate, so the
    * window form attaches the spec to it directly. A compound
    * expression relying on the default `over` would leave its inner
    * aggregates outside the window (MISSING_GROUP_BY); every
    * non-single-aggregate ValueAgg must route through this or define
    * its own window form (the arrayBased/geo pattern below). */
  private def valueArrayBased(post: Column => Column,
      pre: Column => Column = identity): ValueAgg = new ValueAgg {
    def column(v: Column, ts: Column): Column = post(collect_list(pre(v)))
    override def over(v: Column, ts: Column,
        w: org.apache.spark.sql.expressions.WindowSpec): Column =
      post(collect_list(pre(v)).over(w))
  }

  val Sum: ValueAgg     = simple(sum)
  val Mean: ValueAgg    = simple(avg)
  val Min: ValueAgg     = simple(min)
  val Max: ValueAgg     = simple(max)
  val CountAgg: ValueAgg = simple(c => count(c))
  val Sd: ValueAgg      = simple(stddev_samp) // bessel=true default (aggregator/Variance.java)
  val SdPop: ValueAgg   = simple(stddev_pop)
  val Var: ValueAgg     = simple(var_samp)
  val VarPop: ValueAgg  = simple(var_pop)
  val Median: ValueAgg  = simple(c => median(c))
  val Rms: ValueAgg = new ValueAgg {
    def column(v: Column, ts: Column): Column = sqrt(avg(v * v))
    override def over(v: Column, ts: Column,
        w: org.apache.spark.sql.expressions.WindowSpec): Column =
      sqrt(avg(v * v).over(w))
  }
  val First: ValueAgg = new ValueAgg { // value at earliest tick (aggregator/First.java)
    def column(v: Column, ts: Column): Column = min_by(v, ts)
  }
  val Last: ValueAgg = new ValueAgg { // value at latest tick (aggregator/Last.java)
    def column(v: Column, ts: Column): Column = max_by(v, ts)
  }
  val Delta: ValueAgg = new ValueAgg { // last - first (aggregator/Delta.java)
    def column(v: Column, ts: Column): Column = max_by(v, ts) - min_by(v, ts)
    override def over(v: Column, ts: Column,
        w: org.apache.spark.sql.expressions.WindowSpec): Column =
      max_by(v, ts).over(w) - min_by(v, ts).over(w)
  }
  val Rate: ValueAgg = new ValueAgg { // delta / Δt-seconds (aggregator/Rate.java)
    def column(v: Column, ts: Column): Column =
      when(max(ts) > min(ts),
        (max_by(v, ts) - min_by(v, ts)) / ((max(ts) - min(ts)) / lit(1000000.0)))
    override def over(v: Column, ts: Column,
        w: org.apache.spark.sql.expressions.WindowSpec): Column =
      when(max(ts).over(w) > min(ts).over(w),
        (max_by(v, ts).over(w) - min_by(v, ts).over(w)) /
          ((max(ts).over(w) - min(ts).over(w)) / lit(1000000.0)))
  }
  /** aggregator/Percentile.java DEFAULT (Hyndman-Fan type 1, nearest
    * rank): the smallest value whose cumulative probability >= p/100 —
    * exact, like the reference. Collects the group into a sorted array,
    * so groups must be bounded (per-series buckets/windows are); for
    * huge unbounded groups use [[PercentileApprox]], the sketch path. */
  def Percentile(p: Double): ValueAgg = valueArrayBased { arr =>
    val xs = sort_array(arr)
    element_at(xs, greatest(ceil(lit(p / 100.0) * size(xs)), lit(1))
      .cast(org.apache.spark.sql.types.IntegerType))
  }
  /** aggregator/MAD.java: median absolute deviation about the median
    * (both medians interpolated, like g22's two-phase oracle), as a
    * SINGLE array-based exact aggregate — same bounded-group contract
    * as [[Percentile]]. */
  val Mad: ValueAgg = valueArrayBased { arr =>
    val xs = sort_array(arr)
    val n = size(xs)
    def idx(e: Column) = e.cast(org.apache.spark.sql.types.IntegerType)
    def med(arr: Column) =
      when(n % 2 === 1, element_at(arr, idx((n + 1) / 2)))
        .otherwise((element_at(arr, idx(n / 2)) +
          element_at(arr, idx(n / 2 + 1))) / 2.0)
    med(sort_array(transform(xs, x => abs(x - med(xs)))))
  }

  /** Interpolating exact percentile (H&F type 7 — Spark `percentile`,
    * DuckDB `quantile_cont`); the reference's 'type7' option. */
  def PercentileCont(p: Double): ValueAgg = simple(c => percentile(c, lit(p / 100.0)))
  /** Sketch percentile for huge groups (the 100 TB scale path; opt-in). */
  def PercentileApprox(p: Double): ValueAgg = simple(c => percentile_approx(c, lit(p / 100.0), lit(10000)))
  /** WarpURLEncoder.java:42-53 semantics as a Column: standard URL
    * form-encoding but with '+' (the space encoding) rewritten to %20. */
  private[graft] def warpUrlEncodeCol(c: Column): Column =
    regexp_replace(url_encode(c), "\\+", "%20")

  /** reducer.join — concatenate values (aggregator/Join.java). Values
    * are sorted so the concatenation is deterministic under any
    * partitioning (the reference joins in member-iteration order, which
    * its own HashMap partition makes unspecified). `urlencode` is the
    * `reducer.join.urlencoded` variant (Join.java registration with
    * urlencode=true, nullString="" — absent-member "" entries don't
    * materialize here because an absent member has no row; callers pin
    * fixtures with all members present). */
  def JoinAgg(sep: String, urlencode: Boolean = false): ValueAgg =
    valueArrayBased(arr => array_join(array_sort(arr), sep),
      pre = { c =>
        val s = c.cast(StringType)
        if (urlencode) GtsFrame.warpUrlEncodeCol(s) else s
      })

  /** The bucketizer/mapper faces of join (aggregator/Join.java:96-144
    * appends values in ARGUMENT order, which for buckets and windows is
    * tick order): collect (tick, string) structs and sort by tick, so
    * the joined string reads chronologically — unlike the reducer faces
    * above, whose cross-series member order has no reference-defined
    * total order and is canonicalized by value sort instead. */
  def JoinTickOrdered(sep: String): ValueAgg = new ValueAgg {
    private def post(arr: Column): Column =
      array_join(transform(array_sort(arr), e => e.getField("x")), sep)
    private def tv(v: Column, ts: Column): Column =
      struct(ts.as("t"), v.cast(StringType).as("x"))
    def column(v: Column, ts: Column): Column =
      post(collect_list(tv(v, ts)))
    override def over(v: Column, ts: Column,
        w: org.apache.spark.sql.expressions.WindowSpec): Column =
      post(collect_list(tv(v, ts)).over(w))
  }

  /** bucketizer/mapper/reducer.mean.circular (aggregator/
    * CircularMean.java:100-175): values map to angles v·2π/period, the
    * mean is atan2(Σsin, Σcos) scaled back by period/2π — result in
    * (-period/2, period/2]. Null members: the reference's forbidNulls
    * flag rides on [[graft.script.WarpScriptEngine.AggVal]]. */
  def CircularMeanAgg(period: Double): ValueAgg = new ValueAgg {
    private def ang(c: Column) = lit(math.Pi * 2.0) * (c / lit(period))
    private def post(s: Column, co: Column) =
      atan2(s, co) * lit(period) / lit(2.0 * math.Pi)
    def column(v: Column, ts: Column): Column =
      post(sum(sin(ang(v))), sum(cos(ang(v))))
    override def over(v: Column, ts: Column,
        w: org.apache.spark.sql.expressions.WindowSpec): Column =
      post(sum(sin(ang(v))).over(w), sum(cos(ang(v))).over(w))
  }

  /** mapper.dotproduct[.sigmoid|.tanh|.positive] (mapper/
    * MapperDotProduct.java:63-101): dot product of the window's values
    * (tick order) with a constant ω vector; null unless the window has
    * exactly |ω| values. All codegen'd higher-order functions — the
    * collect is per window, bounded by |ω|. */
  def DotProductAgg(omega: Seq[Double], act: Column => Column): ValueAgg =
    new ValueAgg {
      private def post(collected: Column): Column = {
        val xs = transform(array_sort(collected), e => e.getField("v"))
        val om = array(omega.map(lit): _*)
        val dot = aggregate(zip_with(xs, om, (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x)
        when(size(xs) === omega.length, act(dot))
      }
      def column(v: Column, ts: Column): Column =
        post(collect_list(struct(ts.as("t"), v.as("v"))))
      // the window spec must attach to the collect itself — the
      // post-processing is scalar (default `over` would window the
      // whole compound expression and lose the aggregate)
      override def over(v: Column, ts: Column,
          w: org.apache.spark.sql.expressions.WindowSpec): Column =
        post(collect_list(struct(ts.as("t"), v.as("v"))).over(w))
    }

  /** bucketizer/mapper/reducer `.and`/`.or` (aggregator/And.java,
    * Or.java): boolean AND/OR over the group, emitted as 1.0/0.0 in the
    * double-typed frame (truthiness: value != 0). The reference's
    * forbid-nulls default for reducer.and/or is handled by the REDUCE
    * word via [[GtsFrame.reduce]]'s forbidNulls flag. */
  val BoolAnd: ValueAgg = simple(c => min(when(c =!= 0.0, 1.0).otherwise(0.0)))
  val BoolOr: ValueAgg  = simple(c => max(when(c =!= 0.0, 1.0).otherwise(0.0)))

  /** mapper.product / reducer.product (aggregator/MapperProduct.java):
    * product of the group's values — Spark's codegen'd PRODUCT agg. */
  val ProductAgg: ValueAgg = simple(c => product(c))

  /** reducer.shannonentropy.0/.1 (aggregator/ShannonEntropy.java):
    * values are occurrence counts; H = −Σ (vᵢ/S)·ln(vᵢ/S) normalized by
    * ln(n) over the n non-null values; n==1 → 0 (or 1 for the inverted
    * `.1` form); zero counts skipped. The collected array is sorted so
    * the fp summation order is deterministic under any partitioning. */
  def Entropy(invert: Boolean): ValueAgg = valueArrayBased { arr =>
    val xs = sort_array(arr)
    val n = size(xs)
    val s = aggregate(xs, lit(0.0), (a, x) => a + x)
    val h = aggregate(xs, lit(0.0), (a, x) =>
      a - when(x === 0.0, lit(0.0)).otherwise((x / s) * log(x / s)))
    when(n === 1, lit(if (invert) 1.0 else 0.0))
      .otherwise(h / log(n.cast(DoubleType)))
  }

  // ---- geo window aggregators (aggregator/HDist.java, VDist, HSpeed,
  // VSpeed, TrueCourse) — they read the window's lat/lon/elev columns,
  // so they collect the point structs ONCE (a single window/group
  // aggregate) and post-process the array with codegen'd higher-order
  // functions; sort_array makes the traversal order tick-ascending
  // under any partitioning (groupBy collect order is not deterministic).

  /** Canonical sorted-labels rendering — the partition identity when
    * bylabels is NULL (GTSHelper.partition: the equivalence class is
    * the series' FULL label set). Control chars keep the key unambiguous
    * for any printable label content. */
  private[graft] def labelsKeyCol: Column =
    concat_ws("\u0001", transform(array_sort(map_entries(col("labels"))),
      e => concat_ws("\u0002", e.getField("key"), e.getField("value"))))

  /** Rhumb-line distance in meters between two (lat,lon) columns — the
    * Column twin of WordsExt4.loxodromic (R = 6378137 sphere, same as
    * GeoXPLib.loxodromicDistance at aggregator/HDist.java:85). */
  def loxodromicCol(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val toRad = lit(math.Pi / 180.0)
    val phi1 = lat1 * toRad; val phi2 = lat2 * toRad
    val dphi = phi2 - phi1
    // Pole-safe: tan(π/4 + φ/2) is exactly 0 at lat = -90 (ANSI division
    // would throw) and the ratio is 0/∞ at either pole — the reference's
    // Java float math then has dpsi = ±Inf and q = dphi/±Inf = 0, which
    // the first branch reproduces (Spark's log/try_divide return null
    // for those inputs instead of ±Inf).
    val ratio = try_divide(tan(lit(math.Pi / 4) + phi2 / 2),
      tan(lit(math.Pi / 4) + phi1 / 2))
    val dpsi = log(ratio)
    val q = when(ratio.isNull || ratio === 0.0, lit(0.0))
      .when(abs(dpsi) > 1e-12, dphi / dpsi)
      .otherwise(cos(phi1))
    val dl0 = (lon2 - lon1) * toRad
    val dlon = when(abs(dl0) > math.Pi,
      when(dl0 > 0, dl0 - 2 * math.Pi).otherwise(dl0 + 2 * math.Pi)).otherwise(dl0)
    lit(6378137.0) * sqrt(dphi * dphi + q * q * dlon * dlon)
  }

  private def pointStruct: Column =
    struct(col("ts").as("ts"), col("lat").as("lat"),
      col("lon").as("lon"), col("elev").as("elev"))

  /** ValueAgg whose group/window aggregate is one sorted collect_list of
    * point structs, post-processed by `post` (works in BOTH groupBy and
    * window contexts — the collect is the single aggregate expression). */
  private def arrayBased(post: Column => Column): ValueAgg = new ValueAgg {
    def column(v: Column, ts: Column): Column =
      post(sort_array(collect_list(pointStruct)))
    override def over(v: Column, ts: Column,
        w: org.apache.spark.sql.expressions.WindowSpec): Column =
      post(sort_array(collect_list(pointStruct).over(w)))
  }

  private def chainDistance(pts: Column, keep: Column => Column,
      dist: (Column, Column) => Column): Column = {
    val sel = filter(pts, keep)
    val zero = struct(lit(0.0).as("d"),
      lit(null).cast(DoubleType).as("pa"), lit(null).cast(DoubleType).as("pb"))
    aggregate(sel, zero, (a, p) => struct(
      when(a.getField("pa").isNull, a.getField("d"))
        .otherwise(a.getField("d") + dist(a, p)).as("d"),
      keyA(p).as("pa"), keyB(p).as("pb"))).getField("d")
  }
  private def keyA(p: Column): Column = p.getField("lat")
  private def keyB(p: Column): Column = p.getField("lon")

  /** mapper.hdist: total rhumb-line distance in meters over the
    * window's located points, in tick order (HDist.java:60-95). */
  val Hdist: ValueAgg = arrayBased { pts =>
    when(size(pts) > 0, hdistOf(pts))
  }
  private def hdistOf(pts: Column): Column =
    chainDistance(pts,
      p => p.getField("lat").isNotNull && p.getField("lon").isNotNull,
      (a, p) => loxodromicCol(a.getField("pa"), a.getField("pb"),
        p.getField("lat"), p.getField("lon")))

  /** mapper.hspeed: hdist / window time span in seconds; 0.0 when the
    * span is empty (HSpeed.java:139-143). */
  val Hspeed: ValueAgg = arrayBased { pts =>
    val span = (element_at(pts, size(pts)).getField("ts") -
      element_at(pts, 1).getField("ts")).cast(DoubleType) / 1e6
    when(size(pts) === 0, lit(null).cast(DoubleType))
      .when(span === 0.0, lit(0.0))
      .otherwise(hdistOf(pts) / span)
  }

  /** mapper.vdist: Σ|Δelev| over elevated points, in meters (elev is
    * millimeters — VDist.java:108 divides by ELEVATION_UNITS_PER_M). */
  val Vdist: ValueAgg = arrayBased { pts =>
    when(size(pts) > 0, vdistOf(pts) / 1000.0)
  }
  private def vdistOf(pts: Column): Column = {
    val sel = filter(pts, p => p.getField("elev").isNotNull)
    val zero = struct(lit(0.0).as("d"), lit(null).cast(DoubleType).as("pe"))
    aggregate(sel, zero, (a, p) => struct(
      when(a.getField("pe").isNull, a.getField("d"))
        .otherwise(a.getField("d") +
          abs(a.getField("pe") - p.getField("elev").cast(DoubleType))).as("d"),
      p.getField("elev").cast(DoubleType).as("pe"))).getField("d")
  }

  /** mapper.vspeed: vdist / time span between the first and last
    * elevated points, m/s; 0.0 when that span is empty
    * (VSpeed.java:76-84). */
  val Vspeed: ValueAgg = arrayBased { pts =>
    val el = filter(pts, p => p.getField("elev").isNotNull)
    val span = (element_at(el, size(el)).getField("ts") -
      element_at(el, 1).getField("ts")).cast(DoubleType) / 1e6
    when(size(el) < 2, lit(null).cast(DoubleType))
      .when(span === 0.0, lit(0.0))
      .otherwise(vdistOf(pts) / 1000.0 / span)
  }

  /** mapper.truecourse: great-circle bearing in degrees from the
    * window's FIRST point to its LAST point; null unless both are
    * located (TrueCourse.java:60-95, aviation-formulary formula). */
  val TrueCourse: ValueAgg = arrayBased { pts =>
    val f = element_at(pts, 1); val l = element_at(pts, size(pts))
    val la1 = radians(f.getField("lat")); val lo1 = radians(f.getField("lon"))
    val la2 = radians(l.getField("lat")); val lo2 = radians(l.getField("lon"))
    val tc = atan2(sin(lo1 - lo2) * cos(la2),
      cos(la1) * sin(la2) - sin(la1) * cos(la2) * cos(lo1 - lo2))
    when(size(pts) === 0 || f.getField("lat").isNull || f.getField("lon").isNull ||
        l.getField("lat").isNull || l.getField("lon").isNull,
      lit(null).cast(DoubleType))
      .otherwise(degrees(when(tc < 0, tc + 2 * math.Pi).otherwise(tc)))
  }
}
