package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan of src/main and src/test: sessions come from one factory,
  * native functions are registered from one table, series metadata
  * rides through aggregates by one helper, and script words persist
  * only through the engine's program scope. The patterns are spelled in
  * two halves so this file does not match itself. */
class SourceGuardSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] =
    Seq("src/main", "src/test").flatMap { root =>
      assert(Files.isDirectory(Paths.get(root)), s"run from the project root: no $root")
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.toString -> Files.readString(p)).toList
      finally walk.close()
    }

  private def offenders(pattern: String, allowed: String): Seq[String] =
    sources.collect { case (path, text) if text.contains(pattern) && !path.endsWith(allowed) => path }

  test("a SparkSession is built only in graft/Session.scala") {
    val hits = offenders("SparkSession" + ".builder", "graft/Session.scala")
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("functions are registered only in plans/NativeFunctions.scala") {
    val hits = Seq("createOrReplace" + "TempFunction", "register" + "Function")
      .flatMap(offenders(_, "plans/NativeFunctions.scala"))
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("class and labels ride through aggregates only via model/Gts.scala") {
    // first() over a string or map column plans a Sort + SortAggregate;
    // Gts.aggBySeries / Gts.seriesMeta carry them as grouping keys
    val firstOverMeta = ("first" + """\(\s*(?:col\(\s*)?"(?:class|labels)"""").r
    val hits = sources.collect {
      case (path, text) if firstOverMeta.findFirstIn(text).isDefined &&
        !path.endsWith("model/Gts.scala") => path
    }
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("script words persist only through WarpScriptEngine's program scope") {
    // a word's persist outlives its program unless the engine registers
    // it: WarpScriptEngine.persistForProgram is the one way in
    val hits = offenders("." + "persist(", "script/WarpScriptEngine.scala")
      .filter(_.contains("src/main/scala/graft/script/"))
    assert(hits.isEmpty, hits.mkString(", "))
  }
}
