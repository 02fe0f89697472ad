package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement policy of the bench and diagnosis mains (`Bench`,
  * `ABBench`, `Profile`, `Soak`, `Verify`): which queries a name filter
  * selects, how a query is materialized and timed, and how a report escapes
  * its strings. One copy, so the mains cannot disagree on what they measure.
  */
object Measure {
  type Query = (SparkSession, String) => DataFrame

  /** The entries of a comma-separated name-substring filter, trimmed, with
    * empty entries dropped. */
  def patterns(filter: String): Seq[String] =
    filter.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** The queries of `from`, in its order, whose name contains one of the
    * filter's substrings; all of them without a filter. A filter that
    * matches nothing throws, so a mistyped filter cannot report an empty
    * run as a result.
    */
  def select(filter: Option[String],
      from: Seq[(String, Query)] = SparkEntry.queries.toSeq): Seq[(String, Query)] =
    filter.fold(from) { f =>
      val pats = patterns(f)
      val picked = from.filter { case (name, _) => pats.exists(name.contains) }
      require(picked.nonEmpty, s"query filter '$f' matches no query")
      picked
    }

  /** Runs `body`, which returns the problem it found, if any; a throw becomes
    * a `"<SimpleName>: <message>"` problem. Every cached frame is dropped
    * afterwards: pair-mining queries persist signature frames, and blocks
    * left behind would charge their eviction and GC to the next query.
    */
  def attempt(spark: SparkSession)(body: => Option[String]): Option[String] =
    try body
    catch { case e: Throwable =>
      Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}") }
    finally spark.catalog.clearCache()

  /** Evaluates the exact plan a query returns through the `noop` sink (a
    * `count()` would let Catalyst prune most of the work). */
  def materialize(spark: SparkSession, sfDir: String, fn: Query): Option[String] =
    attempt(spark) { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }

  /** One untimed pass: session, codegen and first-scan costs land here, not
    * on the first timed query. Its failures show again in the timed pass. */
  def warmUp(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit =
    queries.foreach { case (_, fn) => materialize(spark, sfDir, fn) }

  final case class Timed[A](value: A, wallSec: Double, cpuSec: Double)

  /** `body`'s result with its wall time and the whole process's CPU time. */
  def timed[A](body: => A): Timed[A] = {
    val c0 = processCpuNanos(); val t0 = System.nanoTime()
    val value = body
    Timed(value, (System.nanoTime() - t0) / 1e9, (processCpuNanos() - c0) / 1e9)
  }

  private def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }

  /** A quoted JSON string: backslash, quote and every control character
    * escaped, so a tab or newline in an error message or SQL text cannot
    * break the reader's `json.load`. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
}
