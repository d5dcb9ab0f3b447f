package graft.surface

import graft.script.WarpScriptEngine
import graft.script.WarpScriptEngine.WsMacro

/** The Mobius periodic-execution endpoint over [[WsServer]] (reference:
  * egress/EgressMobiusHandler.java — a WebSocket session submits a
  * WarpScript program whose result is a macro; the handler re-executes
  * the macro on a period and pushes each result's stack JSON to the
  * session).
  *
  * Protocol (EgressMobiusHandler.java:136-211):
  *  - message = WarpScript program; it is executed once, a macro on
  *    top of the stack is popped and registered, and the REMAINING
  *    stack renders back to the session as JSON (the "post macro
  *    parsing" acknowledgment, :201-211).
  *  - a non-macro result just returns its stack JSON (nothing is
  *    scheduled).
  *  - each period fire re-executes the macro on a fresh stack and
  *    pushes the stack JSON (:390-447). Here the period source is the
  *    caller's [[tick]] — driver rows fire it from a Structured
  *    Streaming trigger, a deployment would use
  *    `Trigger.ProcessingTime` (the reference's ThreadPoolExecutor
  *    schedule, :310-330).
  *
  */
final class MobiusEndpoint(engine: () => WarpScriptEngine,
                           maxRows: Int = 10000) extends WsHandler {

  private final class MobiusSession {
    @volatile var mac: Option[WsMacro] = None
  }

  private def session(c: WsConnection): MobiusSession =
    c.attachment.asInstanceOf[MobiusSession]

  override def onOpen(c: WsConnection, path: String): Unit =
    c.attachment = new MobiusSession

  override def onText(c: WsConnection, message: String): Unit = {
    val s = session(c)
    val en = engine()
    try {
      val stack =
        try en.run(message)
        catch { case e: Exception =>
          c.sendText(StackJson.render(Vector(String.valueOf(e.getMessage)), maxRows))
          return
        }
      stack.headOption match {
        case Some(m: WsMacro) =>
          s.mac = Some(m)
          c.sendText(StackJson.render(stack.tail.toVector, maxRows))
        case _ =>
          // a non-macro result does NOT clear a previously registered
          // macro: the reference only replaces the scheduled macro when
          // a new one is produced (EgressMobiusHandler keeps the prior
          // registration otherwise)
          c.sendText(StackJson.render(stack.toVector, maxRows))
      }
    } finally en.release()
  }

  private var server: Option[WsServer] = None

  def mount(): WsServer = {
    val ws = new WsServer(this)
    server = Some(ws)
    ws
  }

  /** One period fire: re-execute every session's macro, push results. */
  def tick(): Unit =
    server.toSeq.flatMap(_.openConnections).foreach { c =>
      Option(c.attachment).map(_ => session(c)).flatMap(_.mac).foreach { m =>
        val en = engine()
        val out =
          try StackJson.render(en.runMacro(m).toVector, maxRows)
          catch { case e: Exception =>
            StackJson.render(Vector(String.valueOf(e.getMessage)), maxRows) }
          finally en.release()
        c.sendText(out)
      }
    }

  /** Whether any session has a registered macro (driver-row sync aid). */
  def hasMacros: Boolean =
    server.exists(_.openConnections.exists(c =>
      Option(c.attachment).exists(_ => session(c).mac.isDefined)))
}
