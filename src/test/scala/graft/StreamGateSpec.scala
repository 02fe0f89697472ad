package graft

import org.apache.spark.sql.{GraftShims, SparkSession}

/** `QueryHelpers.withStreamGate` runs a streaming gate on its own session
  * clone: the derived settings and the gate's views never reach the caller.
  */
class StreamGateSpec extends SparkSpec {

  private val cfmKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.codegen.wholeStage",
    "spark.sql.codegen.factoryMode", "spark.sql.streaming.checkpoint.fileChecksum.enabled",
    cfmKey)
  private def confs(s: SparkSession): Map[String, Option[String]] =
    keys.map(k => k -> s.conf.getOption(k)).toMap

  // a directory without tables: zero input bytes, the small side of every rule
  private lazy val noTables = tmpDir("stream-gate").toString

  test("the body's session holds the derived settings; the caller's read as before") {
    val caller = GraftShims.cloneSession(spark, Map("spark.sql.shuffle.partitions" -> "7"))
    val before = confs(caller)
    var during = Map.empty[String, Option[String]]
    var inBody = Map.empty[String, Option[String]]
    val out = QueryHelpers.withStreamGate(caller, noTables) { g =>
      during = confs(caller)
      inBody = confs(g)
      g.range(3).toDF()
    }
    assert(during == before)
    assert(confs(caller) == before)
    assert(inBody == Map(
      "spark.sql.shuffle.partitions" -> Some("1"),
      "spark.sql.codegen.wholeStage" -> Some("false"),
      "spark.sql.codegen.factoryMode" -> Some("NO_CODEGEN"),
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> Some("false"),
      cfmKey -> Some(classOf[graft.streaming.NioCheckpointFileManager].getName)))
    // the frame comes back bound to the caller
    assert(out.sparkSession eq caller)
    assert(out.count() == 3)
    // a gate that is not expression-only keeps the caller's codegen
    QueryHelpers.withStreamGate(caller, noTables, exprOnly = false) { g =>
      inBody = confs(g)
      g.range(1).toDF()
    }
    assert(inBody("spark.sql.codegen.wholeStage") == before("spark.sql.codegen.wholeStage"))
    assert(inBody("spark.sql.codegen.factoryMode") == before("spark.sql.codegen.factoryMode"))
  }

  test("a caller-set checkpoint file manager wins") {
    val custom = "org.example.CustomCheckpointFileManager"
    val caller = GraftShims.cloneSession(spark, Map(cfmKey -> custom))
    var inBody: Option[String] = None
    QueryHelpers.withStreamGate(caller, noTables) { g =>
      inBody = g.conf.getOption(cfmKey)
      g.range(1).toDF()
    }
    assert(inBody.contains(custom))
    assert(caller.conf.get(cfmKey) == custom)
  }

  test("a throwing body leaves the caller unchanged") {
    val caller = GraftShims.cloneSession(spark)
    val before = confs(caller)
    val e = intercept[IllegalStateException] {
      QueryHelpers.withStreamGate(caller, noTables) { _ =>
        throw new IllegalStateException("gate failed")
      }
    }
    assert(e.getMessage == "gate failed")
    assert(confs(caller) == before)
  }

  test("a memory-sink gate leaves no sink view on the caller") {
    val caller = GraftShims.cloneSession(spark)
    val rows = SparkEntry.queries("q119_stream_join")(caller, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val views = caller.catalog.listTables().collect().map(_.name)
    assert(!views.exists(_.startsWith("q119_sink_")), views.mkString(", "))
  }

  test("a gate leaves no streaming listener bus on the context") {
    val bus = classOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus]
    def buses = org.apache.spark.ListenerBusDrain.count(spark.sparkContext, bus)
    val in = tmpDir("stream-gate-bus").resolve("in").toString
    spark.range(10).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    val caller = GraftShims.cloneSession(spark)
    val before = buses
    // a stateless stream: only the gate's session gets a stream manager
    val out = QueryHelpers.withStreamGate(caller, noTables) { g =>
      graft.streaming.Streams.runToMemory(g.readStream.schema(schema).parquet(in),
        "gate_bus_sink", org.apache.spark.sql.streaming.OutputMode.Append())
    }
    assert(out.count() == 10)
    assert(buses == before)
  }
}
