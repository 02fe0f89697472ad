package graft.destinations

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Writes a table in the retired `_log/` managed format directly — parquet
  * under `data/` plus `_log/v%08d.json` commits, each listing the schema,
  * partition columns and the full live file list — for the specs of its
  * one-way migration (`DeltaWrite.convertFromManaged`) and of the refusal
  * to read or write such a location as Delta.
  */
object LegacyManagedTable {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Version 0 creates the table empty; version 1 adds `df`'s files. */
  def write(root: Path, df: DataFrame, partitionColumns: Seq[String] = Nil): Unit = {
    val data = root.resolve("data")
    val w = df.write.mode("overwrite")
    (if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*) else w)
      .parquet(data.toString)
    val walk = Files.walk(data)
    val files =
      try walk.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.endsWith(".parquet") && !n.startsWith(".")
      }.map(p => root.relativize(p).toString).toSeq.sorted
      finally walk.close()
    Files.createDirectories(root.resolve("_log"))
    Seq("create" -> Nil, "append" -> files).zipWithIndex.foreach { case ((op, fs), v) =>
      val n = mapper.createObjectNode()
      n.put("version", v.toLong)
      n.put("timestampMs", System.currentTimeMillis())
      n.put("operation", op)
      n.put("schema", df.schema.json)
      val pc = n.putArray("partitionColumns"); partitionColumns.foreach(pc.add)
      val fl = n.putArray("files"); fs.foreach(fl.add)
      n.putObject("properties")
      Files.write(root.resolve("_log").resolve(f"v$v%08d.json"), mapper.writeValueAsBytes(n))
    }
  }
}
