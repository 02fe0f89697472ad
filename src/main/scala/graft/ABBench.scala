package graft

import org.apache.spark.sql.{GraftShims, SparkSession}

/** Measurement tooling (optimization rounds, guide §1): alternate two conf
  * sets over the same queries INSIDE ONE JVM and report per-query medians,
  * so JIT/GC/session noise that dominates short fresh-JVM subset benches
  * cancels out. The bench contract is untouched — this is a diagnosis
  * main, never run by the driver.
  *
  * Usage: ABBench <sfDir> <ignored> <namePatterns>
  *   env AB_CONF_A / AB_CONF_B: comma-separated k=v confs, each set on
  *     its own clone of the session
  *   env AB_ITERS: alternations per side (default 3)
  */
object ABBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    def confOf(env: String): Map[String, String] =
      sys.env.getOrElse(env, "").split(',').map(_.trim).filter(_.contains("="))
        .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val iters = sys.env.getOrElse("AB_ITERS", "3").toInt
    val selected = Measure.select(Some(if (args.length > 2) args(2) else args(1)))
    val spark = Sessions.local()

    // one clone per conf set: the confs never touch the base session
    val sessionA = GraftShims.cloneSession(spark, confOf("AB_CONF_A"))
    val sessionB = GraftShims.cloneSession(spark, confOf("AB_CONF_B"))
    def runOnce(session: SparkSession, name: String, fn: Measure.Query): Double = {
      val t = Measure.timed(Measure.materialize(session, sfDir, fn))
      t.value.foreach(err => throw new IllegalStateException(s"$name failed: $err"))
      t.wallSec
    }
    // warm-up under each conf so first-run codegen/scan costs hit neither side
    Measure.warmUp(sessionA, sfDir, selected)
    Measure.warmUp(sessionB, sfDir, selected)
    val results = selected.map { case (name, fn) =>
      val as = Seq.newBuilder[Double]; val bs = Seq.newBuilder[Double]
      (1 to iters).foreach { _ =>
        as += runOnce(sessionA, name, fn)
        bs += runOnce(sessionB, name, fn)
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      (name, med(as.result()), med(bs.result()))
    }
    println(f"${"query"}%-34s ${"A_med"}%8s ${"B_med"}%8s ${"B/A"}%6s")
    results.foreach { case (n, a, b) =>
      println(f"$n%-34s $a%8.3f $b%8.3f ${b / a}%6.3f")
    }
    val ta = results.map(_._2).sum; val tb = results.map(_._3).sum
    println(f"TOTAL A=$ta%.3f B=$tb%.3f B/A=${tb / ta}%.3f")
    spark.stop()
  }
}
