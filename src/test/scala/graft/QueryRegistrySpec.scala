package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryPack

/** The query registry merges the packs and rejects what a map merge
  * would silently accept. */
class QueryRegistrySpec extends AnyFunSuite {

  private def pack(names: Seq[String], sql: Seq[String] = Nil,
                   warm: Seq[String] = Nil): QueryPack = new QueryPack {
    val queries: Map[String, (SparkSession, String) => DataFrame] =
      names.map(n => n -> ((_: SparkSession, _: String) => ???)).toMap
    val oracleSql: Map[String, String] = sql.map(n => n -> "SELECT 1").toMap
    override val prewarm: Map[String, (SparkSession, String) => Unit] =
      warm.map(n => n -> ((_: SparkSession, _: String) => ())).toMap
  }

  private def rejects(packs: QueryPack*)(expected: String): Unit = {
    val e = intercept[IllegalArgumentException](QueryPack.registry(packs))
    assert(e.getMessage.contains(expected), e.getMessage)
  }

  test("a name registered by two packs fails the build") {
    rejects(pack(Seq("a", "b")), pack(Seq("c", "b")))("query 'b'")
    rejects(pack(Seq("a"), sql = Seq("a")), pack(Seq("b"), sql = Seq("a")))("oracleSql 'a'")
  }

  test("an oracle key with no query fails the build") {
    rejects(pack(Seq("a"), sql = Seq("a")), pack(Seq("b"), sql = Seq("z")))("oracleSql key 'z'")
  }

  test("a prewarm key with no query fails the build") {
    rejects(pack(Seq("a"), warm = Seq("a")), pack(Seq("b"), warm = Seq("z")))("prewarm key 'z'")
  }

  test("SparkEntry registers 341 queries, 341 oracle SQL and 7 prewarm rows") {
    assert(SparkEntry.queries.size == 341)
    assert(SparkEntry.oracleSql.size == 341)
    assert(SparkEntry.prewarm.size == 7)
    val r = QueryPack.registry(Seq(pack(Seq("a", "b"), sql = Seq("a"), warm = Seq("b")),
      pack(Seq("c"))))
    assert(r.queries.keySet == Set("a", "b", "c"))
    assert(r.oracleSql.keySet == Set("a") && r.prewarm.keySet == Set("b"))
  }
}
