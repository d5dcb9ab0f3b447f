package graft.surface

import java.nio.file.{Files, Path}

import graft.script.WarpScriptEngine

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Periodic execution of on-disk WarpScript programs (the reference's
  * runner service, script/ScriptRunner.java:99,455-498,925-955):
  * scripts live at `<root>/<group>/<periodMs>/<name>.mc2` — the
  * periodicity IS the parent directory name — and each runs every
  * period with `runner.periodicity` / `runner.path` /
  * `runner.scheduledat` bound in its environment plus `${var}`
  * substitution from the configured vars (:645-680).
  *
  * Scheduling is tick-driven like [[MobiusEndpoint]]: [[runDue]] is
  * the period fire (specs and driver rows call it directly for
  * determinism; [[start]] spins a daemon thread parked 50 ms between
  * ticks, the reference's cadence, :496). Per-script
  * lastrun/lastduration/lasterror state backs [[getScheduled]]
  * (:986-1030 — the RUNNERS introspection shape).
  *
  * Execution happens on a BOUNDED `nthreads` pool, never on the tick
  * thread (reference :270-274 — `ThreadPoolExecutor(nthreads,
  * nthreads, queue nthreads·256)`), so one slow script cannot starve
  * its siblings' schedules. A script whose previous run is still in
  * flight is NOT refired — the reference parks it with the `nextrun =
  * -1` sentinel while queued/running (:485-487) and reschedules only
  * when the run completes; a pool rejection reschedules for the next
  * tick (:657-659). [[awaitQuiesce]] blocks until no run is in flight
  * (determinism hook for specs and drivers).
  */
final class ScriptRunner(root: Path, engine: () => WarpScriptEngine,
                         minPeriodMs: Long = 0L,
                         runAtStartup: Boolean = true,
                         vars: Map[String, String] = Map.empty,
                         scanPeriodMs: Long = 1000L,
                         nthreads: Int = 4,
                         onResult: (String, List[Any]) => Unit = (_, _) => (),
                         onError: (String, Throwable) => Unit = (_, _) => ()) {

  private val nextRun = mutable.Map.empty[String, Long]
  private val lastRun = mutable.Map.empty[String, Long]
  private val lastDuration = mutable.Map.empty[String, Long]
  private val lastError = mutable.Map.empty[String, String]
  private val inFlight = mutable.Set.empty[String]
  private var lastScan: Map[String, Long] = Map.empty
  private var lastScanAt = Long.MinValue

  private val pool = {
    val tf = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"script-runner-worker-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    }
    new java.util.concurrent.ThreadPoolExecutor(
      nthreads, nthreads, 30000L, java.util.concurrent.TimeUnit.MILLISECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](nthreads * 256), tf)
  }
  pool.allowCoreThreadTimeOut(true)

  /** `script path → period ms`: every `*.mc2` under a positive
    * numeric-named directory, periods below `minPeriodMs` ignored
    * (:930-933). The walk stream is closed, and a failed walk (deleted
    * or unreadable subtree mid-iteration) keeps the previous map
    * instead of starving every script. */
  def scan(): Map[String, Long] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val stream = Files.walk(root)
      try {
        lastScan = stream.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".mc2"))
          .flatMap { p =>
            val period = p.getParent.getFileName.toString.toLongOption
            period.filter(per => per > 0 && per >= minPeriodMs)
              .map(p.toString -> _)
          }.toMap
        lastScan
      } catch {
        case _: Exception => lastScan
      } finally stream.close()
    }

  /** The scan, re-run at most every `scanPeriodMs` (the reference
    * separates its scan period from the 50 ms tick, :496 vs
    * runner.scanperiod) — a 20 Hz full tree walk would be waste. */
  private def cachedScan(nowMs: Long): Map[String, Long] = {
    if (nowMs >= lastScanAt + scanPeriodMs || nowMs < lastScanAt) {
      lastScanAt = nowMs
      scan()
    } else lastScan
  }

  /** One scheduler tick: SUBMIT every due script to the pool and
    * reschedule, drop state of deleted scripts; returns the paths
    * submitted this tick. The tick thread never executes a script. */
  def runDue(nowMs: Long): Seq[String] = synchronized {
    val scripts = cachedScan(nowMs)
    (nextRun.keySet -- scripts.keySet -- inFlight).foreach { gone =>
      nextRun.remove(gone); lastRun.remove(gone)
      lastDuration.remove(gone); lastError.remove(gone)
    }
    val due = scripts.toSeq.sortBy(_._1).filter { case (path, period) =>
      if (inFlight(path)) false // previous run still going: skip the firing
      else nextRun.get(path) match {
        case None =>
          // first sighting: run now, or align to the period grid (:466-470)
          if (runAtStartup) true
          else {
            nextRun(path) = nowMs + (period - nowMs % period) % period
            false
          }
        case Some(at) => at <= nowMs
      }
    }
    val submitted = due.filter { case (path, period) =>
      inFlight += path
      nextRun(path) = -1L // the reference's queued/running sentinel (:485)
      try {
        pool.submit(new Runnable {
          def run(): Unit = runOne(path, period, nowMs)
        })
        true
      } catch {
        case _: java.util.concurrent.RejectedExecutionException =>
          // saturated queue: retry at the next tick (:657-659)
          inFlight -= path
          nextRun(path) = nowMs
          false
      }
    }
    notifyAll() // state changed: wake awaitQuiesce so it re-checks
    submitted.map(_._1)
  }

  /** One script execution — pool-thread body. */
  private def runOne(path: String, period: Long, nowMs: Long): Unit = {
    val t0 = System.nanoTime
    try {
      val program = prologue(path, period, nowMs) + substitute(
        new String(Files.readAllBytes(Path.of(path)), "UTF-8"))
      val en = engine()
      try {
        val stack = en.run(program)
        synchronized { lastError.remove(path) }
        onResult(path, stack)
      } finally en.release()
    } catch {
      // Throwable: a StackOverflowError from a pathological script
      // must surface in lasterror and not kill the worker
      case e: Throwable =>
        synchronized { lastError(path) = Option(e.getMessage).getOrElse(e.toString) }
        onError(path, e)
    } finally synchronized {
      lastRun(path) = nowMs
      lastDuration(path) = System.nanoTime - t0
      nextRun(path) = nowMs + period
      inFlight -= path
      notifyAll()
    }
  }

  /** Block until no script run is queued or executing (or the timeout
    * elapses); returns whether quiescence was reached. */
  def awaitQuiesce(timeoutMs: Long = 30000L): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (inFlight.nonEmpty && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    inFlight.isEmpty
  }

  /** Runner status keyed by the ROOT-RELATIVE path (`group/period/
    * name` in the reference's fixed layout; deeper nestings stay
    * unique instead of colliding on their last three components),
    * optionally filtered by a full-match regexp (getScheduled, :986). */
  def getScheduled(regexp: Option[String] = None): Map[String, Map[String, Any]] =
    synchronized {
      val m = regexp.map(_.r)
      nextRun.keys.flatMap { path =>
        val name = root.relativize(Path.of(path)).toString
        if (m.exists(!_.matches(name))) None
        else Some(name -> Map[String, Any](
          // in-flight runs surface the reference's -1 sentinel (:485)
          "nextrun" -> (if (inFlight(path)) -1L else nextRun(path)),
          "lastrun" -> lastRun.getOrElse(path, Long.MinValue),
          "lastduration" -> lastDuration.getOrElse(path, 0L),
          "lasterror" -> lastError.getOrElse(path, null)))
      }.toMap
    }

  private def prologue(path: String, period: Long, nowMs: Long): String = {
    // percent-encode the tokenizer's specials: WarpScript string
    // literals %xx-decode (no backslash escapes), so ' and % in a path
    // must arrive as %27 / %25
    val rel = root.relativize(Path.of(path)).toString
      .replace("%", "%25").replace("'", "%27")
    s"$period 'runner.periodicity' STORE " +
      s"$nowMs 'runner.scheduledat' STORE " +
      s"'$rel' 'runner.path' STORE\n"
  }

  /** `${var}` substitution from the configured vars (:645-680) in a
    * SINGLE pass (a sequential fold would re-substitute ${...}
    * patterns inside substituted values in map-iteration order);
    * unknown vars are left verbatim. */
  private def substitute(script: String): String =
    "\\$\\{([^}]*)\\}".r.replaceAllIn(script, m =>
      scala.util.matching.Regex.quoteReplacement(
        vars.getOrElse(m.group(1), m.matched)))

  // ---------------------------------------------------------- scheduler

  @volatile private var running = false

  /** Spin the 50 ms tick loop on a daemon thread (:496). */
  def start(): Unit = {
    running = true
    val t = new Thread(() => {
      while (running) {
        // Throwable: nothing from a tick may kill the scheduler; the
        // sleep sits inside so an interrupt exits the loop cleanly
        try {
          runDue(System.currentTimeMillis())
          Thread.sleep(50L)
        } catch {
          case _: InterruptedException => running = false
          case _: Throwable => ()
        }
      }
    }, "script-runner")
    t.setDaemon(true)
    t.start()
  }

  def stop(): Unit = running = false
}
