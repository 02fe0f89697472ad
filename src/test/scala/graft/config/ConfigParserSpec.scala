package graft.config

import org.scalatest.funsuite.AnyFunSuite

class ConfigParserSpec extends AnyFunSuite {

  test("templating substitutes ${param} and errors on missing, listing all") {
    assert(ConfigParser.substitute("a ${x} b ${y}", Map("x" -> "1", "y" -> "2")) == "a 1 b 2")
    val e = intercept[ConfigParser.ConfigError](
      ConfigParser.substitute("${x} ${miss1} ${miss2}", Map("x" -> "1")))
    assert(e.message.contains("miss1") && e.message.contains("miss2"))
  }

  test("reference example pipeline YAML deserializes unchanged") {
    val p = java.nio.file.Paths.get("/root/reference/examples/aqueduct_pipeline_example.yml")
    val aq = ConfigParser.fromFile(p, Map("local_path" -> "/tmp/x", "run_id" -> "r1"))
    assert(aq.version == "v2")
    assert(aq.sources.length == 2)
    val src = aq.sources.head.asInstanceOf[FileSource]
    assert(src.name == "jan_data")
    assert(src.format.asInstanceOf[CsvFormat].hasHeader)
    assert(src.location.spark.endsWith("examples/temp_readings_jan_2024.csv"))
    assert(aq.stages.length == 2)           // two sequential groups
    assert(aq.stages.head.length == 2)      // first group: two concurrent stages
    assert(aq.stages.head.head.show.contains(20))
    assert(aq.stages.head(1).show.contains(0))
    assert(aq.stages(1).head.printSchema)
    val dest = aq.destination.get.asInstanceOf[ManagedTableDestination]
    assert(dest.writeMode == TableUpsert(Seq("date")))
    assert(dest.partitionColumns == Seq("date"))
    assert(dest.schema.length == 8)
    assert(dest.schema.head.name == "date")
    assert(dest.schema.head.dataType == org.apache.spark.sql.types.DateType)
  }

  test("reference example pipeline JSON deserializes") {
    val p = java.nio.file.Paths.get("/root/reference/examples/aqueduct_pipeline_example.json")
    val aq = ConfigParser.fromFile(p, Map("local_path" -> "/tmp/x", "run_id" -> "r1"))
    assert(aq.sources.length == 2 && aq.destination.nonEmpty)
  }

  test("every YAML/JSON example pipeline file deserializes (schemas/tests/integration.rs:91-131)") {
    val dir = java.nio.file.Paths.get("/root/reference/examples")
    val params = Map("local_path" -> "/tmp/x", "run_id" -> "r1",
      "month" -> "01", "year" -> "2024", "user" -> "u", "pass" -> "p")
    val files = java.nio.file.Files.list(dir).iterator()
    var n = 0
    while (files.hasNext) {
      val f = files.next()
      val name = f.getFileName.toString
      if (name.endsWith(".yml") || name.endsWith(".yaml") || name.endsWith(".json") ||
          name.endsWith(".toml")) {
        val aq = ConfigParser.fromFile(f, params)
        assert(aq.stages.nonEmpty, s"no stages parsed from $name")
        n += 1
      }
    }
    assert(n >= 4) // example.yml, example.json, simple.yml, odbc.yml
  }

  test("serde aliases: file_type, storage_options, partition_cols, query, mode") {
    val yaml =
      """sources:
        |  - type: dir
        |    name: d
        |    file_type: { type: parquet }
        |    location: /tmp/d
        |    partition_cols:
        |      - [year, int32]
        |      - { name: month, data_type: int32 }
        |    storage_options: { "fs.s3a.endpoint": "http://x" }
        |  - type: database
        |    name: db
        |    query: SELECT 1
        |    connection_string: jdbc:derby:memory:x
        |stages:
        |  - - name: s1
        |      query: SELECT * FROM d
        |destination:
        |  type: delta
        |  name: out
        |  location: /tmp/out
        |  mode: { operation: replace, params: [{ column: year, value: "2024" }] }
        |""".stripMargin
    val aq = ConfigParser.fromYaml(yaml)
    val d = aq.sources.head.asInstanceOf[DirSource]
    assert(d.partitionColumns.map(_._1) == Seq("year", "month"))
    assert(d.storageConfig("fs.s3a.endpoint") == "http://x")
    val db = aq.sources(1).asInstanceOf[JdbcSource]
    assert(db.loadQuery == "SELECT 1")
    val dest = aq.destination.get.asInstanceOf[ManagedTableDestination]
    assert(dest.writeMode == TableReplace(Seq(ReplaceCondition("year", "2024"))))
  }

  test("iceberg source: snapshot_id / timestamp time travel options") {
    val yaml =
      """sources:
        |  - type: iceberg
        |    name: ice
        |    location: /tmp/ice
        |    snapshot_id: 12345
        |  - type: iceberg
        |    name: ice_ts
        |    location: /tmp/ice
        |    timestamp: "2024-03-01T00:00:00Z"
        |stages:
        |  - - name: s1
        |      query: SELECT * FROM ice
        |""".stripMargin
    val aq = ConfigParser.fromYaml(yaml)
    val a = aq.sources.head.asInstanceOf[IcebergSource]
    assert(a.snapshotId.contains(12345L) && a.timestamp.isEmpty)
    val b = aq.sources(1).asInstanceOf[IcebergSource]
    assert(b.snapshotId.isEmpty &&
      b.timestamp.contains(java.time.Instant.parse("2024-03-01T00:00:00Z")))
    assert(a.ref.isEmpty && b.ref.isEmpty)
  }

  test("iceberg source: named ref (branch/tag)") {
    val yaml =
      """sources:
        |  - type: iceberg
        |    name: ice
        |    location: /tmp/ice
        |    ref: audit
        |stages:
        |  - - name: s1
        |      query: SELECT * FROM ice
        |""".stripMargin
    val aq = ConfigParser.fromYaml(yaml)
    assert(aq.sources.head.asInstanceOf[IcebergSource].ref.contains("audit"))
  }

  test("iceberg destination: partition columns + declared schema") {
    val yaml =
      """sources:
        |  - type: file
        |    name: f
        |    format: { type: parquet }
        |    location: /tmp/f.parquet
        |stages:
        |  - - name: s1
        |      query: SELECT * FROM f
        |destination:
        |  type: iceberg
        |  name: out
        |  location: /tmp/ice_out
        |  partition_columns: [status]
        |  schema:
        |    - { name: id, data_type: int64 }
        |    - { name: status, data_type: utf8 }
        |""".stripMargin
    val d = ConfigParser.fromYaml(yaml).destination.get.asInstanceOf[IcebergDestination]
    assert(d.partitionColumns == Seq("status"))
    assert(d.schema.map(_.name) == Seq("id", "status"))
  }

  test("csv source options with declared schema") {
    val yaml =
      """sources:
        |  - type: file
        |    name: f
        |    location: /tmp/f.csv
        |    format:
        |      type: csv
        |      options:
        |        has_header: false
        |        delimiter: ";"
        |        schema:
        |          - { name: id, data_type: int64, nullable: false }
        |          - { name: tags, data_type: list<string> }
        |stages: []
        |""".stripMargin
    val aq = ConfigParser.fromYaml(yaml)
    val f = aq.sources.head.asInstanceOf[FileSource].format.asInstanceOf[CsvFormat]
    assert(!f.hasHeader && f.delimiter == ';')
    assert(f.schema.map(_.name) == Seq("id", "tags"))
    assert(!f.schema.head.nullable)
  }

  test("orc source/destination formats parse with schema and writer options") {
    val yaml =
      """sources:
        |  - type: file
        |    name: f
        |    location: /tmp/f.orc
        |    format:
        |      type: orc
        |      options:
        |        schema:
        |          - { name: id, data_type: int64 }
        |stages:
        |  - - { name: s, query: SELECT * FROM f }
        |destination:
        |  type: file
        |  name: out
        |  location: /tmp/out.orc
        |  format:
        |    type: orc
        |    options: { compression: zlib }
        |""".stripMargin
    val aq = ConfigParser.fromYaml(yaml)
    val f = aq.sources.head.asInstanceOf[FileSource].format.asInstanceOf[OrcFormat]
    assert(f.schema.map(_.name) == Seq("id"))
    val d = aq.destination.get.asInstanceOf[FileDestination].format.asInstanceOf[OrcDestFormat]
    assert(d.options == Map("compression" -> "zlib"))
  }

  test("odbc destination with custom transaction") {
    val yaml =
      """sources: []
        |stages:
        |  - - { name: s, query: SELECT 1 }
        |destination:
        |  type: odbc
        |  name: t
        |  connection_string: jdbc:derby:memory:y
        |  batch_size: 500
        |  write_mode:
        |    operation: custom
        |    transaction:
        |      pre_insert: DELETE FROM t
        |      insert: INSERT INTO t VALUES (?)
        |""".stripMargin
    val d = ConfigParser.fromYaml(yaml).destination.get.asInstanceOf[JdbcDestination]
    assert(d.batchSize == 500)
    assert(d.writeMode == JdbcCustom(Some("DELETE FROM t"), "INSERT INTO t VALUES (?)"))
  }

  test("delta destination: `format: delta_log` is a stripped no-op, any other format is refused") {
    def yaml(props: String) =
      s"""sources: [{ type: in_memory, name: src }]
        |stages: [[{ name: s, query: "SELECT 1 AS id" }]]
        |destination:
        |  type: delta
        |  name: out
        |  location: /tmp/out
        |  write_mode: { operation: append }
        |  table_properties: $props
        |  metadata: { owner: etl }
        |""".stripMargin
    val d = ConfigParser.fromYaml(yaml("{ format: delta_log, delta.appendOnly: \"true\" }"))
      .destination.get.asInstanceOf[ManagedTableDestination]
    assert(d.tableProperties == Map("delta.appendOnly" -> "true"))
    assert(d.metadata == Map("owner" -> "etl"))
    val e = intercept[ConfigParser.ConfigError](ConfigParser.fromYaml(yaml("{ format: managed }")))
    assert(e.getMessage.contains("table_properties.format 'managed'"), e.getMessage)
  }

  test("location newtype: bare paths become absolute file URIs") {
    assert(Location("/tmp/a.csv").scheme == "file")
    assert(Location("s3a://bucket/key").scheme == "s3a")
    assert(Location("relative/p.csv").uri.isAbsolute)
  }
}
