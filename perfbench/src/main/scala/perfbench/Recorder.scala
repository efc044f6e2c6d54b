package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** An op's output did not match what the benchmark expects. */
final class CheckFailed(msg: String) extends Exception(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  def equal[A](got: A, want: A, what: String): Unit =
    apply(got == want, s"$what: got $got, want $want")
}

/** One attempted op: its latency is a sample only when it succeeded. */
final case class Outcome(op: String, kind: String, seconds: Double,
    failure: Option[String]) {
  def ok: Boolean = failure.isEmpty
}

/** Failure accounting for a closed loop. An op that throws, or whose
  * output check fails, counts as attempted and failed and contributes no
  * latency sample: a crash is never timed as a fast op. */
final class Recorder {
  val outcomes: ArrayBuffer[Outcome] = ArrayBuffer.empty

  /** Run `body` (which must throw on a wrong output) and record it.
    * Returns whether it succeeded. */
  def attempt(op: String, kind: String)(body: => Unit): Boolean = {
    val t0 = System.nanoTime()
    val failure =
      try { body; None }
      catch {
        case e: CheckFailed => Some(s"wrong output: ${e.getMessage}")
        case NonFatal(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val dt = (System.nanoTime() - t0) / 1e9
    outcomes += Outcome(op, kind, dt, failure)
    failure.foreach(f => System.err.println(s"[perfbench] FAILED $op: $f"))
    failure.isEmpty
  }

  def attempted: Int = outcomes.size
  def failed: Int = outcomes.count(!_.ok)
}
