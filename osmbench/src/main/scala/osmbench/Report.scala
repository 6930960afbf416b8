package osmbench

import scala.collection.mutable

/** What one run measured, before any statistics: raw samples per name,
  * single values, the correctness tally and per-layer usage. `run.py`
  * turns it into the named metrics. */
final class Report {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val values = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v

  def value(name: String, v: Any): Unit = values(name) = v

  /** Take over `other`'s checks, and its samples under `prefix`. */
  def absorb(other: Report, prefix: String): Unit = {
    attempted += other.attempted
    failed += other.failed
    failures ++= other.failures.take(20 - failures.size)
    other.samples.foreach { case (k, v) => samples(prefix + k) = v }
  }

  /** Count one checked operation; a false check (or a thrown one, via
    * [[attempt]]) is a failure and its reason is kept (first 20). */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
    ok
  }

  def attempt[T](what: => String)(body: => T): Option[T] =
    try Some(body)
    catch { case e: Exception =>
      check(ok = false, s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }

  def toJson: String = Json(Map(
    "attempted" -> attempted, "failed" -> failed,
    "failures" -> failures.toSeq,
    "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
    "values" -> values.toMap))
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
