package graft.util

import graft.config.JsonConfig
import java.io.PrintStream

/**
 * Structured run logging — the library analogue of the reference's
 * logging layer (reference utils.py:83-270: the `_redact_secrets`
 * structlog processor, `bind_run_context` contextvars, the
 * `PipelineLogger` dedup window, and `StageTimer`). One JSON object
 * per line on a caller-supplied stream:
 *
 *   - **Context binding**: `bind("country" -> "KE", ...)` attaches
 *     fields every later line auto-carries (the reference's
 *     contextvars merge); `clear()` drops them.
 *   - **Secret redaction**: any field whose lowercased key CONTAINS a
 *     deny-list entry (password, token, secret, api_key, …) logs as
 *     `[REDACTED]` — the reference's case-insensitive substring rule.
 *     Keys are matched, never values: same contract as
 *     `_redact_secrets`.
 *   - **Dedup window**: a line whose (level, event) matches one of
 *     the last `windowSize` emitted lines is suppressed and counted
 *     (PipelineLogger.should_log / `_message_counts`).
 *   - **Stage timing**: `stage("source.read", "rows" -> n) { body }`
 *     emits one line on exit with `duration_ms`; failures tag `error`
 *     (bypassing the dedup window — errors are never swallowed) and
 *     re-throw (StageTimer.__exit__).
 *
 * Driver-side by design: executors log through Spark's own log4j;
 * this is the per-RUN narrative the reference prints per CLI
 * invocation, not a distributed tracing system. A plain lock keeps
 * lines whole under concurrent stages — driver logging is never a
 * contention point.
 */
final class RunLog(
    out: PrintStream = System.out,
    windowSize: Int = 10,
    clock: () => Long = () => System.currentTimeMillis()) {

  /** Reference deny-list (utils.py:71-81), case-insensitive substring. */
  private val secretKeys = Seq(
    "password", "client_secret", "token", "authorization",
    "api_key", "apikey", "secret")

  private val lock = new Object
  private var context = Vector.empty[(String, String)]
  private var window = Vector.empty[Int]
  private var suppressed = Map.empty[Int, Int]

  /** Bind context fields carried by every subsequent line (the
    * reference's `bind_run_context`). Later binds override same-key.
    */
  def bind(fields: (String, Any)*): Unit = lock.synchronized {
    val add = fields.toVector.map { case (k, v) => k -> String.valueOf(v) }
    context = context.filterNot { case (k, _) => add.exists(_._1 == k) } ++ add
  }

  /** Drop all bound context (`clear_contextvars`). */
  def clear(): Unit = lock.synchronized { context = Vector.empty }

  /** Lines swallowed by the dedup window so far — kept countable,
    * as the reference keeps `_message_counts`.
    */
  def suppressedCount: Int = lock.synchronized { suppressed.values.sum }

  private def redact(key: String, value: String): String =
    if (secretKeys.exists(key.toLowerCase.contains)) "[REDACTED]" else value

  private def render(level: String, event: String, fields: Seq[(String, Any)]): String = {
    val all = context ++ fields.map { case (k, v) => k -> String.valueOf(v) }
    (Seq("timestamp" -> clock().toString, "level" -> level, "event" -> event) ++
      all.map { case (k, v) => k -> redact(k, v) })
      .map { case (k, v) =>
        val numeric = v.nonEmpty && v.count(_ == '.') <= 1 &&
          v.exists(_.isDigit) && v.matches("-?\\d+(\\.\\d+)?")
        JsonConfig.quote(k) + ":" + (if (numeric) v else JsonConfig.quote(v))
      }
      .mkString("{", ",", "}")
  }

  /** Emit one structured line; returns false when the dedup window
    * suppressed it.
    */
  def log(level: String, event: String, fields: (String, Any)*): Boolean =
    lock.synchronized {
      val h = (level, event).hashCode()
      if (window.contains(h)) {
        suppressed = suppressed.updated(h, suppressed.getOrElse(h, 0) + 1)
        false
      } else {
        window = (window :+ h).takeRight(windowSize)
        out.println(render(level, event, fields))
        true
      }
    }

  def info(event: String, fields: (String, Any)*): Boolean = log("info", event, fields: _*)
  def error(event: String, fields: (String, Any)*): Boolean = log("error", event, fields: _*)

  /** Bracket a pipeline sub-stage (StageTimer): one line on exit with
    * `duration_ms`; failures tag `error` and re-throw. Error lines
    * bypass the dedup window — a repeated failure is still a failure.
    */
  def stage[T](name: String, fields: (String, Any)*)(body: => T): T = {
    val t0 = System.nanoTime()
    try {
      val r = body
      log("info", name, fields :+ ("duration_ms" -> (System.nanoTime() - t0) / 1000000L): _*)
      r
    } catch {
      case scala.util.control.NonFatal(e) =>
        val f = fields :+
          ("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}") :+
          ("duration_ms" -> (System.nanoTime() - t0) / 1000000L)
        lock.synchronized { out.println(render("error", name, f)) }
        throw e
    }
  }
}
