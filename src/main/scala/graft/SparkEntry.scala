package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Gts
import graft.operators.GtsFrame
import graft.operators.GtsFrame._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the oracle-gated operator inventory: every entry has a
  * matching DuckDB SQL in `oracleSql` (or is rows-only checked when not
  * SQL-expressible). Query packs live in [[graft.queries]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: FETCH a selector, then
    * BUCKETIZE(mean) per day, then REDUCE(sum) by user — the reference's
    * canonical fetch→bucketize→reduce pipeline (SURVEY.md §7 step 2).
    */
  def entry(spark: SparkSession): DataFrame = {
    val f = GtsFrame(Gts.fromEvents(spark, "/root/testdata/sf0.001"))
      .select("~events\\..*")
      .bucketize(Mean, GtsQueries.LB, GtsQueries.DAY)
    f.reduce(Sum, Seq("user"))
  }

  /** Every query pack, merged. Registering a name twice, or an oracle
    * or prewarm key with no query, fails the build. */
  private lazy val registry = QueryPack.registry(Seq(
    GtsQueries, GtsQueries2, GtsQueries3, GtsQueries4, GtsQueries5, GtsQueries6,
    GtsQueries7, GtsQueries8, GtsQueries9, GtsQueries10, RelationalQueries,
    TextQueries, TextQueries2, TextQueries3, TextQueries4, MiscQueries, AnnQueries,
    PqQueries, GeoQueries, WsQueries, WsQueriesB, WsQueries2, WsQueries3,
    WsQueries4, WsQueries5, WsQueries6, WsQueries7, StreamQueries))

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries

  /** Untimed one-time setup the bench runs before timing a row:
    * steady-state rows whose at-rest artifacts (a precomputed index a
    * real pipeline reads from storage) should not be billed to the
    * per-query timing. The bench lists prewarmed rows in its artifact;
    * Verify ignores this (the queries build lazily on their own). */
  lazy val prewarm: Map[String, (SparkSession, String) => Unit] = registry.prewarm

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = registry.oracleSql
}
