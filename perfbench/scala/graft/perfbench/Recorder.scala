package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Failure accounting and raw samples for one benchmark run.
  *
  * Every layer call, lookup and output check goes through [[attempt]]:
  * it counts as attempted, and a thrown exception or a failed check
  * counts as failed. A failed operation is never recorded as a time:
  * callers record a timing only from the result of a successful
  * [[attempt]]. While [[timing]] is off (warm-up calls), operations
  * still count but [[sample]] records nothing. */
final class Recorder {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val counters = mutable.LinkedHashMap[String, Double]()
  var timing = true

  def sample(name: String, v: Double): Unit =
    if (timing) samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v

  def count(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v

  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        if (failures.size < 20) failures += s"$what: ${e.toString.take(400)}"
        None
    }
  }

  /** An output check: attempted, and failed when `ok` is false or throws. */
  def check(what: String)(ok: => Boolean): Boolean =
    attempt(what)(if (!ok) throw new IllegalStateException("check failed"))
      .isDefined
}

object Recorder {
  /** Seconds taken by `body`, and its result. */
  def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = body
    (r, (System.nanoTime - t0) / 1e9)
  }
}
