package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracle-gated queries, the DuckDB SQL of each SQL-expressible one,
  * and the untimed at-rest builds of steady-state rows. */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
  def prewarm: Map[String, (SparkSession, String) => Unit] = Map.empty
}

object QueryPack {

  final case class Registry(queries: Map[String, (SparkSession, String) => DataFrame],
                            oracleSql: Map[String, String],
                            prewarm: Map[String, (SparkSession, String) => Unit])

  /** The packs merged. Throws on a name two packs register, and on an
    * `oracleSql` or `prewarm` key that names no query. */
  def registry(packs: Seq[QueryPack]): Registry = {
    def merge[V](what: String, part: QueryPack => Map[String, V]): Map[String, V] = {
      val names = packs.flatMap(part(_).keys)
      val twice = names.diff(names.distinct)
      require(twice.isEmpty, s"$what '${twice.head}' registered by two packs")
      packs.flatMap(part).toMap
    }
    val queries = merge("query", _.queries)
    def keyed[V](what: String, m: Map[String, V]) = {
      val orphans = m.keySet -- queries.keySet
      require(orphans.isEmpty, s"$what key '${orphans.head}' names no query")
      m
    }
    Registry(queries, keyed("oracleSql", merge("oracleSql", _.oracleSql)),
      keyed("prewarm", merge("prewarm", _.prewarm)))
  }
}
