package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for the engine.
  *
  * Tuned for the harness (`local[N]`, single JVM) but every setting is the
  * one you'd want on a real cluster too: AQE on (runtime re-plan, skew-join
  * handling, partition coalescing), shuffle partitions sized to parallelism
  * (overridden by AQE at scale), UTC session time, nanos-as-long so
  * TIMESTAMP(NANOS) parquet is readable, no per-session artifact class
  * loaders.
  */
object Sessions {
  def builder(master: String, cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // default 100 entries: a workload with 60+ distinct queries (or one
      // long-running service) evicts and re-Janino-compiles whole-stage
      // codegen classes on every revisit — expensive exactly for the widest
      // generated methods (multi-aggregate stages)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      // Runner runs each pipeline on a clone of this session. With artifact
      // isolation on (Spark 4.1's default) every clone is an artifact
      // session of its own: executors build it a new class loader and
      // whole-stage code compiles again in each clone. Nothing here adds
      // artifacts, so all sessions share the default one.
      .config("spark.sql.artifact.isolation.enabled", "false")

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
