package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import Measure.{jsonString => jstr}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Dump each query's result to `outDir/<name>` parquet. Failures must be
    * LOUD: a thrown query writes an `_ERROR.json` marker in its output slot
    * (pyarrow/Spark ignore `_`-prefixed files, so a later successful
    * overwrite stays readable) and is returned in the error map, so the
    * driver's correctness report shows a red row instead of silently
    * omitting the query (the r6/r7 q47/q62 regression hid behind exactly
    * that silence).
    */
  def dump(
      spark: SparkSession,
      queries: Iterable[(String, Measure.Query)],
      sfDir: String,
      outDir: String): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = msg
        new java.io.File(s"$outDir/$name").mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR.json"),
          s"""{"query": ${jstr(name)}, "error": ${jstr(msg)}}""")
      }
    }
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (local iteration only; the driver passes two):
    // comma-separated query-name substrings to run a subset
    val selected = Measure.select(args.lift(2))
    val spark = Sessions.local()
    val errors = dump(spark, selected, sfDir, outDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    // Exit 0 even on per-query failure: the driver must still run the
    // DuckDB compare for the green queries; the failed ones surface as red
    // rows via their _ERROR.json-only output slots + errors.json.
    spark.stop()
  }
}
