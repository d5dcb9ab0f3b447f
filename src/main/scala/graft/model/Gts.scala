package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Value-type discriminator for the 5-way typed value union.
  *
  * Mirrors the reference's GTS value types (reference:
  * warp10/src/main/java/io/warp10/continuum/gts/GeoTimeSerie.java:37-44 —
  * a GTS's type is fixed by its first value) plus the wire-level binary
  * type (continuum/gts/GTSEncoder.java:102 FLAGS_STRING_BINARY).
  */
object GtsType {
  val LONG: Byte    = 0
  val DOUBLE: Byte  = 1
  val BOOLEAN: Byte = 2
  val STRING: Byte  = 3
  val BINARY: Byte  = 4
}

/** The canonical long-format GTS point table — the engine's physical model.
  *
  * One row per (series, tick). Series identity is `(class, labels)`,
  * hashed to a stable 64-bit `gtsid` used as the groupBy/join key (plays
  * the role of classId/labelsId SipHash ids computed at reference
  * standalone/StandaloneStoreClient.java:728-729).
  *
  * Columnar invariants (see FIXTURES.md §1):
  *  - `ts` is a long tick in microseconds (reference default time unit,
  *    continuum/store/Constants.java:51-61).
  *  - `lat`/`lon` are NULL ⇔ the reference's NO_LOCATION sentinel
  *    (GeoTimeSerie.java:78); `elev` NULL ⇔ NO_ELEVATION (:66).
  *  - exactly one of `vlong/vdouble/vbool/vstring/vbinary` is non-null,
  *    matching `vtype`.
  *
  * At 100 TB scale this table is parquet/Delta partitioned by
  * `days(timestamp_micros(ts))` and optionally bucketed by `gtsid` so
  * both time-range pruning and series pruning reach the scan.
  */
object Gts {

  val pointSchema: StructType = StructType(Seq(
    StructField("class",  StringType, nullable = false),
    StructField("labels", MapType(StringType, StringType), nullable = false),
    StructField("gtsid",  LongType, nullable = false),
    StructField("ts",     LongType, nullable = false),
    StructField("lat",    DoubleType),
    StructField("lon",    DoubleType),
    StructField("elev",   LongType),
    StructField("vtype",  ByteType, nullable = false),
    StructField("vlong",  LongType),
    StructField("vdouble", DoubleType),
    StructField("vbool",  BooleanType),
    StructField("vstring", StringType),
    StructField("vbinary", BinaryType)
  ))

  val columns: Seq[String] = pointSchema.fieldNames.toSeq

  /** Stable series id: xxhash64 over the class and the key-sorted label
    * pairs, computed by the codegen'd [[graft.plans.GtsId]].
    * Deterministic across partitions/sessions (needed because Spark
    * cannot group by a MapType column directly).
    */
  def gtsIdCol(cls: Column, labels: Column): Column =
    graft.plans.GtsId.gtsId(cls, labels)

  private val LabelEntries = "__label_entries"

  /** Aggregate `points` per series (and per extra grouping `keys`),
    * carrying the series metadata as hash-aggregate GROUPING KEYS:
    * `(gtsid, class, sort_array(map_entries(labels)))`, with the label
    * map restored by `map_from_entries` afterwards. A `first()` over
    * class/labels would do the same job, but its map-typed buffer
    * forces a Sort + SortAggregate; as keys the whole aggregate is a
    * codegen'd HashAggregate. Labels come back key-sorted (the order
    * the series id hashes). Output columns: gtsid, class, labels, the
    * `keys`, then the `aggs`; with no `aggs` it is the distinct series
    * (and keys) of `points`.
    */
  def aggBySeries(points: DataFrame, keys: Column*)(aggs: Column*): DataFrame = {
    val grouped = points.groupBy((Seq(col("gtsid"), col("class"),
      sort_array(map_entries(col("labels"))).as(LabelEntries)) ++ keys): _*)
    val out =
      if (aggs.isEmpty) grouped.agg(Map.empty[String, String])
      else grouped.agg(aggs.head, aggs.tail: _*)
    out.select(out.columns.toSeq.map { c =>
      if (c == LabelEntries) map_from_entries(col(c)).as("labels") else col(c)
    }: _*)
  }

  /** One (gtsid, class, labels) row per series of `points` — a series
    * directory (FETCH's match set, the REST and Plasma directories, the
    * series axis of the FILL grids). Per-series kernels need none: they
    * carry class and labels through their own pack
    * ([[graft.kernels.KernelOps]]). */
  def seriesMeta(points: DataFrame): DataFrame = aggBySeries(points)()

  /** Normalize an arbitrary projection into the canonical column order:
    * the gtsid filled from (class, labels) when absent, any other absent
    * point column a typed null, an absent vtype DOUBLE (a kernel's
    * output holds only the columns it computes). The `keep` columns
    * follow the point columns. */
  def canonical(df: DataFrame, keep: String*): DataFrame = {
    val withId =
      if (df.columns.contains("gtsid")) df
      else df.withColumn("gtsid", gtsIdCol(col("class"), col("labels")))
    val present = withId.columns.toSet
    withId.select(pointSchema.map { f =>
      if (present(f.name)) col(f.name)
      else if (f.name == "vtype") lit(GtsType.DOUBLE).as("vtype")
      else lit(null).cast(f.dataType).as(f.name)
    } ++ keep.map(col): _*)
  }

  /** canonical() with the gtsid unconditionally recomputed from
    * (class, labels) — for ingest paths whose row builder carries a
    * placeholder id. */
  def canonicalRehash(df: DataFrame): DataFrame =
    canonical(df.drop("gtsid"))

  /** Read the raw `events` parquet with `ts` normalized to a microsecond
    * LONG tick, whatever encoding the file uses. Driver-generated
    * testdata has shipped `ts` both as TIMESTAMP(NANOS) (Spark reads it
    * as BIGINT nanos under `parquet.nanosAsLong`) and as a plain µs
    * TIMESTAMP / TIMESTAMP_NTZ — so branch on the schema Spark actually
    * sees instead of hard-coding one. Matches DuckDB `epoch_us(ts)`
    * bit-for-bit in all three encodings (session TZ is UTC, so the NTZ →
    * TIMESTAMP cast is shift-free).
    */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val tsMicros = ev.schema("ts").dataType match {
      case LongType          => expr("ts div 1000")           // legacy nanos-as-long
      case TimestampNTZType  => unix_micros(col("ts").cast(TimestampType))
      case TimestampType     => unix_micros(col("ts"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other")
    }
    ev.withColumn("ts", tsMicros)
  }

  /** Load the driver's `events` table as a GTS long table:
    * class = "events." + event_type, labels = {user: user_id}, value =
    * DOUBLE. Timestamps become microsecond ticks (via [[eventsRaw]],
    * which adapts to the parquet's ts encoding).
    */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventsRaw(spark, sfDir)
    canonical(ev.select(
      concat(lit("events."), col("event_type")).as("class"),
      map(lit("user"), col("user_id").cast(StringType)).as("labels"),
      col("ts"),
      lit(null).cast(DoubleType).as("lat"),
      lit(null).cast(DoubleType).as("lon"),
      lit(null).cast(LongType).as("elev"),
      lit(GtsType.DOUBLE).cast(ByteType).as("vtype"),
      lit(null).cast(LongType).as("vlong"),
      col("value").as("vdouble"),
      lit(null).cast(BooleanType).as("vbool"),
      lit(null).cast(StringType).as("vstring"),
      lit(null).cast(BinaryType).as("vbinary")
    ))
  }

  /** Same frame with vdouble rescaled to exact integer cents
    * (`round(v*100)`). Sums/means of these doubles are exactly
    * representable (integer partial sums << 2^53) and therefore
    * bit-identical across engines and aggregation orders — the oracle
    * queries use this to make the DuckDB hash-compare deterministic.
    */
  def fromEventsCents(spark: SparkSession, sfDir: String): DataFrame =
    fromEvents(spark, sfDir).withColumn("vdouble", round(col("vdouble") * 100))

  /** Series-metadata side table for the FIND/META/FILTER path (reference
    * thrift Metadata, io_warp10_continuum_store_thrift_data.thrift:23-50):
    * one row per distinct series with last-activity tick. Attributes are
    * carried separately from labels because they are mutable and NOT part
    * of series identity (thrift :50).
    */
  def metaTable(points: DataFrame): DataFrame =
    aggBySeries(points)(max(col("ts")).as("lastactivity"), count(lit(1)).as("npoints"))
      .withColumn("attributes",
        map().cast(MapType(StringType, StringType)))

  /** Incremental directory maintenance at INGEST time — the reference
    * ingress bumps each written series' Metadata last-activity stamp in
    * the directory (StandaloneDirectoryClient.java:604-609) rather than
    * ever scanning point history. The Spark-native analog: merge the
    * existing directory with the batch's per-series (max tick, count)
    * aggregate — an aggregate over the BATCH (small) plus a join on the
    * directory (one row per series), never over stored history. New
    * series inherit the batch's class/labels; existing series keep
    * their attributes (mutable, not identity — thrift Metadata:50).
    */
  def upsertMeta(meta: DataFrame, batch: DataFrame): DataFrame = {
    val delta = metaTable(batch)
      .select(col("gtsid"), col("class").as("__c"), col("labels").as("__l"),
        col("lastactivity").as("__la"), col("npoints").as("__n"))
    meta.join(delta, Seq("gtsid"), "full_outer")
      .select(
        col("gtsid"),
        coalesce(col("class"), col("__c")).as("class"),
        coalesce(col("labels"), col("__l")).as("labels"),
        greatest(coalesce(col("lastactivity"), lit(Long.MinValue)),
          coalesce(col("__la"), lit(Long.MinValue))).as("lastactivity"),
        (coalesce(col("npoints"), lit(0L)) +
          coalesce(col("__n"), lit(0L))).as("npoints"),
        coalesce(col("attributes"),
          map().cast(MapType(StringType, StringType))).as("attributes"))
  }
}
