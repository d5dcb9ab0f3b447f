package graft.script

import graft.script.WarpScriptEngine.WordTable

/** The word table: one name→word map behind every builtin, what
  * FUNCTIONS lists, and the resolution order around it (DEF'd macros
  * first; symbol derefs, numbered registers, IMPORT aliases and the
  * unknown-word error after a miss). */
class WordTableSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def engine() = new WarpScriptEngine((_, _, _, _) =>
    throw new UnsupportedOperationException("no FETCH in the word-table spec"))

  private lazy val functions: Vector[String] =
    engine().run("'inventory=1' CAPADD FUNCTIONS").head
      .asInstanceOf[Vector[Any]].map(_.toString)

  test("FUNCTIONS lists the sorted table keys, all 1313 names") {
    assert(functions.size == 1313)
    assert(functions == WarpScriptEngine.words.keys.toVector.sorted)
  }

  test("every FUNCTIONS name resolves through the table") {
    // words that wait on a process, a clock, stdin or a lock, and the
    // audit toggle that would turn later unknown words into records
    val skip = Set("CALL", "SLEEP", "STDIN", "WAIT", "MUTEX", "WSAUDITMODE")
    val unresolved = functions.filterNot(skip).filter { w =>
      try { engine().run(w); false }
      catch {
        case e: IllegalArgumentException =>
          e.getMessage == s"unknown function '$w'"
        case _: Throwable => false
      }
    }
    assert(unresolved.isEmpty, unresolved.mkString(" "))
  }

  test("registering a name twice fails the table build") {
    val t = new WordTable
    t("X") { (_, st, _) => st.push(1L) }
    val e = intercept[IllegalStateException](t("Y", "X") { (_, st, _) => st.push(2L) })
    assert(e.getMessage == "word 'X' registered twice")
    val u = new WordTable
    WordsControl.register(u)
    intercept[IllegalStateException](WordsControl.register(u))
  }

  test("an unknown word still throws unknown function") {
    val e = intercept[IllegalArgumentException](engine().run("1 NOSUCHWORD"))
    assert(e.getMessage == "unknown function 'NOSUCHWORD'")
    // WSAUDITMODE records it instead of throwing
    assert(engine().run("WSAUDITMODE NOSUCHWORD 1").head == 1L)
  }

  test("a DEF'd macro shadows a builtin of the same name") {
    assert(engine().run("<% 42 %> 'DUP' DEF 1 DUP") == List(42L, 1L))
    assert(engine().run("1 DUP") == List(1L, 1L))
  }

  test("names outside the table: derefs, numbered registers, IMPORT aliases") {
    assert(engine().run("7 'x' STORE $x !$x") == List(7L, 7L))
    assert(engine().run("5 POPR3 PUSHR3 PUSHR3") == List(5L, 5L))
    val e = intercept[IllegalArgumentException](engine().run("1 POPR300"))
    assert(e.getMessage.contains("register out of range: 300"))
    assert(engine().run(
      "<% 9 %> 'my.lib.nine' DEF 'my.lib.' 'm.' IMPORT m.nine").head == 9L)
  }
}
