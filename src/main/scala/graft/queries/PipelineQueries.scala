package graft

import graft.config._
import graft.functions.Text
import graft.ops.{Ann, Dedup, Multimodal}
import graft.run.{CollectingTracker, Runner}
import graft.sources.Sources
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** Engine-executed pipelines (p01-p16): Runner + sources + destinations + templating + formats through the oracle gate.
  *
  * Split from EngineQueries (round 9) for per-family review; entries are
  * verbatim and the combined key set is unchanged.
  */
private[graft] object PipelineQueries {
  import QueryHelpers._

  def queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(

    // ------------------------------------------- engine-executed pipelines

    // Parquet source → chained stages → (no destination) result.
    "p01_pipeline_agg" -> ((s, dir) => {
      pipe(s, Aqueduct(
        sources = Seq(FileSource("p1_orders", ParquetFormat(),
          Location(s"$dir/orders.parquet"))),
        stages = Seq(
          Seq(Stage("p1_filtered",
            "SELECT o_custkey, o_totalprice, o_orderstatus FROM p1_orders WHERE o_totalprice > 50000")),
          Seq(Stage("p1_result",
            """SELECT o_orderstatus, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
               FROM p1_filtered GROUP BY o_orderstatus ORDER BY o_orderstatus""")))))
    }),


    // Concurrent stage group + FULL OUTER join of the two branches.
    "p02_pipeline_parallel" -> ((s, dir) => {
      pipe(s, Aqueduct(
        sources = Seq(FileSource("p2_orders", ParquetFormat(),
          Location(s"$dir/orders.parquet"))),
        stages = Seq(
          Seq(
            Stage("p2_hi",
              "SELECT o_custkey, count(*) AS n_hi FROM p2_orders WHERE o_totalprice >= 150000 GROUP BY o_custkey"),
            Stage("p2_lo",
              "SELECT o_custkey, count(*) AS n_lo FROM p2_orders WHERE o_totalprice < 150000 GROUP BY o_custkey")),
          Seq(Stage("p2_result",
            """SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
               coalesce(a.n_hi, 0) AS n_hi, coalesce(b.n_lo, 0) AS n_lo
               FROM p2_hi a FULL OUTER JOIN p2_lo b ON a.o_custkey = b.o_custkey
               ORDER BY o_custkey""")))))
    }),


    // File destination: hive-partitioned parquet written by the engine, read
    // back for the oracle compare.
    "p03_pipeline_filedest" -> ((s, dir) => {
      val out = tmp("graft-p03").resolve("out").toString
      pipe(s, Aqueduct(
        sources = Seq(FileSource("p3_orders", ParquetFormat(),
          Location(s"$dir/orders.parquet"))),
        stages = Seq(Seq(Stage("p3_sel",
          "SELECT o_orderstatus, o_orderkey, o_totalprice FROM p3_orders WHERE o_orderkey < 2000"))),
        destination = Some(FileDestination("p3_out", Location(out), ParquetDestFormat(),
          singleFile = false, partitionColumns = Seq("o_orderstatus")))))
      s.read.parquet(out)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),


    // `type: delta` destination: create+append then keyed upsert (engine
    // write modes end-to-end), final table state read back through the
    // `type: delta` source and checked against the oracle.
    "p04_pipeline_upsert" -> ((s, dir) => {
      val tbl = Location(tmp("graft-p04").resolve("tbl").toString)
      val schema = Seq(
        Types.FieldSpec("o_orderkey", LongType),
        Types.FieldSpec("o_custkey", LongType),
        Types.FieldSpec("o_totalprice", DoubleType))
      val src = FileSource("p4_orders", ParquetFormat(), Location(s"$dir/orders.parquet"))
      pipe(s, Aqueduct(
        sources = Seq(src),
        stages = Seq(Seq(Stage("p4_initial",
          "SELECT o_orderkey, o_custkey, o_totalprice FROM p4_orders WHERE o_orderkey % 3 = 0"))),
        destination = Some(ManagedTableDestination("p4_tbl", tbl, TableAppend, schema = schema))))
      pipe(s, Aqueduct(
        sources = Seq(src),
        stages = Seq(Seq(Stage("p4_updates",
          "SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice FROM p4_orders WHERE o_orderkey % 2 = 0"))),
        destination = Some(ManagedTableDestination("p4_tbl", tbl,
          TableUpsert(Seq("o_orderkey")), schema = schema))))
      Sources.load(s, ManagedTableSource("p4_tbl", tbl)).orderBy(col("o_orderkey"))
    }),


    // `type: delta` replace: predicate-scoped delete + insert on a
    // hive-partitioned table.
    "p05_pipeline_replace" -> ((s, dir) => {
      val tbl = Location(tmp("graft-p05").resolve("tbl").toString)
      val schema = Seq(
        Types.FieldSpec("o_orderkey", LongType),
        Types.FieldSpec("o_orderstatus", StringType),
        Types.FieldSpec("o_totalprice", DoubleType))
      val src = FileSource("p5_orders", ParquetFormat(), Location(s"$dir/orders.parquet"))
      pipe(s, Aqueduct(
        sources = Seq(src),
        stages = Seq(Seq(Stage("p5_all",
          "SELECT o_orderkey, o_orderstatus, o_totalprice FROM p5_orders"))),
        destination = Some(ManagedTableDestination("p5_tbl", tbl, TableAppend,
          partitionColumns = Seq("o_orderstatus"), schema = schema))))
      pipe(s, Aqueduct(
        sources = Seq(src),
        stages = Seq(Seq(Stage("p5_repl",
          """SELECT o_orderkey, o_orderstatus, CAST(0.0 AS DOUBLE) AS o_totalprice
             FROM p5_orders WHERE o_orderstatus = 'F' AND o_orderkey < 500"""))),
        destination = Some(ManagedTableDestination("p5_tbl", tbl,
          TableReplace(Seq(ReplaceCondition("o_orderstatus", "F"))),
          partitionColumns = Seq("o_orderstatus"), schema = schema))))
      Sources.load(s, ManagedTableSource("p5_tbl", tbl)).orderBy(col("o_orderkey"))
    }),


    // ${param} templating through the YAML front door.
    "p06_pipeline_template" -> ((s, dir) => {
      val yaml =
        """version: "v2"
          |sources:
          |  - type: file
          |    name: tpl_lineitem
          |    format: { type: parquet }
          |    location: ${sf_dir}/lineitem.parquet
          |stages:
          |  - - name: p6_result
          |      query: >
          |        SELECT l_returnflag, count(*) AS n
          |        FROM tpl_lineitem WHERE l_quantity >= ${min_qty}
          |        GROUP BY l_returnflag ORDER BY l_returnflag
          |""".stripMargin
      val aq = ConfigParser.fromYaml(yaml, Map("sf_dir" -> dir, "min_qty" -> "30"))
      pipe(s, aq)
    }),


    // Reference-style JSON operators in stage SQL: `->` / `->>` are
    // text-rewritten to json_get/json_as_text (SqlRewrite), mirroring the
    // datafusion-functions-json operator planner the reference registers.
    "p07_pipeline_json_ops" -> ((s, dir) => {
      pipe(s, Aqueduct(
        sources = Seq(FileSource("p7_events", ParquetFormat(),
          Location(s"$dir/events.parquet"))),
        stages = Seq(Seq(Stage("p7_result",
          """SELECT event_type, count(*) AS n,
             CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
             max(props->'k') AS k_json
             FROM p7_events GROUP BY event_type ORDER BY event_type""")))))
    }),


    // CSV file source with declared schema through the engine front door
    // (S2 through the oracle gate): the fixture is generated from
    // orders.parquet, so DuckDB checks the same rows via parquet.
    "p08_pipeline_csv" -> ((s, dir) => {
      val csvDir = tmp("graft-p08").resolve("csv").toString
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(csvDir)
      val schema = Seq(
        Types.FieldSpec("o_orderkey", LongType),
        Types.FieldSpec("o_custkey", LongType),
        Types.FieldSpec("o_orderstatus", StringType),
        Types.FieldSpec("o_totalprice", DoubleType))
      pipe(s, Aqueduct(
        sources = Seq(FileSource("p8_orders",
          CsvFormat(hasHeader = true, schema = schema), Location(csvDir))),
        stages = Seq(Seq(Stage("p8_result",
          """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             FROM p8_orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")))))
    }),


    // Hive-partitioned directory source with typed partition columns (S5
    // through the oracle gate); the stage's partition filter prunes at
    // planning time (plan-asserted in ScaleSpec).
    // Vector math through the engine front door: the extension-registered
    // native dot_product in declarative stage SQL (float input coerced).
    "p11_pipeline_vector" -> ((s, dir) => {
      pipe(s, Aqueduct(
        sources = Seq(FileSource("p11_emb", ParquetFormat(),
          Location(s"$dir/embeddings.parquet"))),
        stages = Seq(Seq(Stage("p11_result",
          """SELECT vec_id, round(dot_product(embedding, embedding), 6) AS self_dot
             FROM p11_emb WHERE vec_id < 100 ORDER BY vec_id""")))))
    }),


    // Text-prep pipeline using the extension-registered native function in
    // declarative stage SQL (word_shingles via GraftExtensions): per-doc
    // features then a per-language dedup/shingle summary — the LLM-pipeline
    // shape expressed entirely through the engine front door.
    "p10_pipeline_textprep" -> ((s, dir) => {
      pipe(s, Aqueduct(
        sources = Seq(FileSource("tp_docs", ParquetFormat(),
          Location(s"$dir/documents.parquet"))),
        stages = Seq(
          Seq(Stage("tp_feat",
            """SELECT doc_id, lang, md5(text) AS digest,
               size(word_shingles(lower(text), 3)) AS n_shingles
               FROM tp_docs""")),
          Seq(Stage("tp_result",
            """SELECT lang, count(*) AS n_docs,
               count(DISTINCT digest) AS n_unique,
               CAST(sum(n_shingles) AS BIGINT) AS total_shingles
               FROM tp_feat GROUP BY lang ORDER BY lang""")))))
    }),


    // Declarative text-curation pipeline over the extension SQL functions
    // (quality_score / lang_id / token_count / dup_word_ratio are the same
    // native-expression implementations the Scala API uses).
    "p12_pipeline_curation" -> ((s, dir) => {
      pipe(s, Aqueduct(
        sources = Seq(FileSource("pc_docs", ParquetFormat(),
          Location(s"$dir/documents.parquet"))),
        stages = Seq(
          Seq(Stage("pc_scored",
            """SELECT doc_id, lang_id(text) AS lid, quality_score(text) AS q,
               token_count(text) AS tok, dup_word_ratio(text) AS rep
               FROM pc_docs""")),
          Seq(Stage("pc_result",
            """SELECT lid, count(*) AS n_docs,
               floor(avg(q) * 1000000 + 0.5) / 1000000 AS avg_quality,
               CAST(sum(tok) AS BIGINT) AS total_tokens,
               floor(avg(rep) * 1000000 + 0.5) / 1000000 AS avg_rep
               FROM pc_scored WHERE q >= 0.5 GROUP BY lid ORDER BY lid""")))))
    }),


    // The round's SQL-facing additions through the engine front door:
    // nfc_normalize (GraftExtensions) in one stage, the approx_top_terms
    // SpaceSaving aggregate (Runner-registered UDAF) in the next —
    // capacity ≫ vocabulary, so the oracle compares exact counts.
    "p13_pipeline_stats" -> ((s, dir) => {
      pipe(s, Aqueduct(
        sources = Seq(FileSource("p13_docs", ParquetFormat(),
          Location(s"$dir/documents.parquet"))),
        stages = Seq(
          Seq(Stage("p13_words",
            """SELECT lang, explode(filter(split(trim(nfc_normalize(text)), '\\s+'),
               x -> length(x) > 0)) AS word
               FROM p13_docs""")),
          Seq(Stage("p13_result",
            """SELECT lang, word, n, CAST(rank AS BIGINT) AS rank FROM (
                 SELECT lang, h.term AS word, h.count AS n,
                   row_number() OVER (PARTITION BY lang ORDER BY h.count DESC, h.term) AS rank
                 FROM (SELECT lang, explode(approx_top_terms(word)) AS h
                       FROM p13_words GROUP BY lang))
               WHERE rank <= 10 ORDER BY lang, rank""")))))
    }),


    "p09_pipeline_dirsource" -> ((s, dir) => {
      val dirRoot = tmp("graft-p09").resolve("orders_dir").toString
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dirRoot)
      pipe(s, Aqueduct(
        sources = Seq(DirSource("p9_orders", ParquetFormat(), Location(dirRoot),
          partitionColumns = Seq("o_orderstatus" -> StringType))),
        stages = Seq(Seq(Stage("p9_result",
          """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
             FROM p9_orders WHERE o_orderstatus = 'F' AND o_custkey < 500
             ORDER BY o_orderkey""")))))
    }),


    // REAL Delta protocol end-to-end: the first pipeline creates a
    // `_delta_log` table (hive-partitioned), the second pipeline MERGEs into
    // it through the Delta write path, and the result is read back through
    // the independent read bridge — engine-written log, engine-replayed log,
    // oracle-checked final state.
    "p14_pipeline_delta" -> ((s, dir) => {
      val tbl = tmp("graft-p14").resolve("tbl").toString
      val schema = Seq(
        Types.FieldSpec("o_orderkey", LongType),
        Types.FieldSpec("o_custkey", LongType),
        Types.FieldSpec("o_totalprice", DoubleType),
        Types.FieldSpec("o_orderstatus", StringType))
      val src = FileSource("p14_orders", ParquetFormat(), Location(s"$dir/orders.parquet"))
      def dest(mode: TableWriteMode) = ManagedTableDestination("p14_tbl",
        Location(tbl), mode, partitionColumns = Seq("o_orderstatus"), schema = schema)
      pipe(s, Aqueduct(
        sources = Seq(src),
        stages = Seq(Seq(Stage("p14_initial",
          """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
             FROM p14_orders WHERE o_orderkey % 3 = 0"""))),
        destination = Some(dest(TableAppend))))
      pipe(s, Aqueduct(
        sources = Seq(src),
        stages = Seq(Seq(Stage("p14_updates",
          """SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice, o_orderstatus
             FROM p14_orders WHERE o_orderkey % 2 = 0"""))),
        destination = Some(dest(TableUpsert(Seq("o_orderkey"))))))
      require(graft.sources.DeltaLog.isDeltaTable(s, tbl), "p14 target is not a real Delta table")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),


    // Iceberg pipeline SOURCE (r15, beyond reference): `type: iceberg`
    // configs read external Iceberg v2 tables — current state AND a
    // snapshot-pinned time travel — through the foreign reader, inside
    // one pipeline whose SQL stage aggregates both. The table carries an
    // equality delete, so the current read must apply it and the pinned
    // read must not.
    "p17_pipeline_iceberg" -> ((s, dir) => {
      import graft.destinations.IcebergWrite
      val tbl = tmp("graft-p17").resolve("t").toString
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      IcebergWrite.create(s, tbl,
        orders.schema.asInstanceOf[StructType])
      val snap1 = IcebergWrite.append(s, tbl,
        orders.filter(col("o_orderkey") % 2 === 0))
      IcebergWrite.append(s, tbl, orders.filter(col("o_orderkey") % 2 === 1))
      IcebergWrite.deleteWhere(s, tbl,
        orders.filter(col("o_orderkey") % 5 === 0).select(col("o_orderkey")))
      pipe(s, Aqueduct(
        sources = Seq(
          IcebergSource("p17_cur", Location(tbl)),
          IcebergSource("p17_snap1", Location(tbl), snapshotId = Some(snap1))),
        stages = Seq(Seq(Stage("p17_result",
          """SELECT
               (SELECT count(*) FROM p17_cur) AS live_rows,
               (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                FROM p17_cur) AS live_total,
               (SELECT count(*) FROM p17_snap1) AS snap1_rows""")))))
    }),

    // Iceberg pipeline DESTINATION (r15, beyond reference): two pipeline
    // runs append into a `type: iceberg` destination (created from the
    // declared schema on the first run, identity-partitioned), then a
    // third pipeline reads the table back through the iceberg SOURCE and
    // aggregates — the whole round trip never touches a Delta log.
    "p18_pipeline_iceberg_dest" -> ((s, dir) => {
      val tbl = tmp("graft-p18").resolve("t").toString
      val schema = Seq(
        Types.FieldSpec("o_orderkey", LongType),
        Types.FieldSpec("o_totalprice", DoubleType),
        Types.FieldSpec("o_orderstatus", StringType))
      val src = FileSource("p18_orders", ParquetFormat(),
        Location(s"$dir/orders.parquet"))
      def run(pred: String): Unit = {
        pipe(s, Aqueduct(
          sources = Seq(src),
          stages = Seq(Seq(Stage("p18_sel",
            s"""SELECT o_orderkey, o_totalprice, o_orderstatus
                FROM p18_orders WHERE $pred"""))),
          destination = Some(IcebergDestination("p18_out", Location(tbl),
            partitionColumns = Seq("o_orderstatus"), schema = schema))))
        ()
      }
      run("o_orderstatus = 'F' AND o_orderkey < 4000")
      run("o_orderstatus <> 'F' AND o_orderkey < 4000")
      pipe(s, Aqueduct(
        sources = Seq(IcebergSource("p18_ice", Location(tbl))),
        stages = Seq(Seq(Stage("p18_result",
          """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             FROM p18_ice GROUP BY o_orderstatus ORDER BY o_orderstatus""")))))
    }),

    // ORC round-trip through the engine front door (beyond reference: the
    // reference reads only CSV/JSONL/Parquet, sources/mod.rs:224-299; ORC is
    // native to spark-sql so lakehouse estates holding ORC ingest with zero
    // extra deps). Pipeline 1 writes a projected lineitem slice to a
    // hive-partitioned ORC destination; pipeline 2 reads it back as a typed
    // directory source and aggregates. DuckDB cannot read ORC, so the
    // oracle computes the same aggregate from the original parquet — a
    // valid gate because the round trip must be lossless.
    "p15_pipeline_orc" -> ((s, dir) => {
      val out = tmp("graft-p15").resolve("out").toString
      pipe(s, Aqueduct(
        sources = Seq(FileSource("p15_li", ParquetFormat(),
          Location(s"$dir/lineitem.parquet"))),
        stages = Seq(Seq(Stage("p15_sel",
          """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_extendedprice
             FROM p15_li WHERE l_orderkey < 5000"""))),
        destination = Some(FileDestination("p15_out", Location(out),
          OrcDestFormat(Map("compression" -> "zlib")),
          singleFile = false, partitionColumns = Seq("l_returnflag")))))
      pipe(s, Aqueduct(
        sources = Seq(DirSource("p15_orc", OrcFormat(), Location(out),
          partitionColumns = Seq("l_returnflag" -> StringType))),
        stages = Seq(Seq(Stage("p15_result",
          """SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             FROM p15_orc GROUP BY l_returnflag ORDER BY l_returnflag""")))))
    }),


    // Avro round-trip through the engine front door (beyond reference, and
    // beyond the build's own jars: spark-avro is absent, so the engine's
    // Hadoop-format bridge in sources/Avro.scala does the container IO).
    // Pipeline 1 writes an orders slice to an Avro destination; pipeline 2
    // reads it back and aggregates. DuckDB reads no Avro here, so the
    // oracle aggregates the same slice from the source parquet — the gate
    // passes only if the Avro round trip is lossless (incl. the timestamp
    // column surviving micros logical-type encoding).
    "p16_pipeline_avro" -> ((s, dir) => {
      val out = tmp("graft-p16").resolve("out").toString
      pipe(s, Aqueduct(
        sources = Seq(FileSource("p16_orders", ParquetFormat(),
          Location(s"$dir/orders.parquet"))),
        stages = Seq(Seq(Stage("p16_sel",
          """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
             FROM p16_orders WHERE o_orderkey < 4000"""))),
        destination = Some(FileDestination("p16_out", Location(out),
          AvroDestFormat(codec = Some("deflate")), singleFile = false))))
      pipe(s, Aqueduct(
        sources = Seq(FileSource("p16_avro", AvroFormat(), Location(out))),
        stages = Seq(Seq(Stage("p16_result",
          """SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             CAST(min(o_orderdate) AS DATE) AS first_date,
             CAST(max(o_orderdate) AS DATE) AS last_date
             FROM p16_avro GROUP BY o_orderstatus ORDER BY o_orderstatus""")))))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "p11_pipeline_vector" ->
      """SELECT vec_id,
         round(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])), 6) AS self_dot
         FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""",

    "p13_pipeline_stats" ->
      """WITH w AS (
           SELECT lang,
             unnest(list_filter(string_split_regex(trim(nfc_normalize(text)), '\s+'),
               x -> len(x) > 0)) AS word
           FROM documents),
         c AS (SELECT lang, word, count(*) AS n FROM w GROUP BY lang, word),
         r AS (SELECT lang, word, n,
                 row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rank
               FROM c)
         SELECT lang, word, n, CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 10 ORDER BY lang, rank""",

    "p01_pipeline_agg" ->
      """SELECT o_orderstatus, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders WHERE o_totalprice > 50000
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "p02_pipeline_parallel" ->
      """WITH hi AS (SELECT o_custkey, count(*) AS n_hi FROM orders WHERE o_totalprice >= 150000 GROUP BY o_custkey),
              lo AS (SELECT o_custkey, count(*) AS n_lo FROM orders WHERE o_totalprice < 150000 GROUP BY o_custkey)
         SELECT coalesce(hi.o_custkey, lo.o_custkey) AS o_custkey,
                coalesce(hi.n_hi, 0) AS n_hi, coalesce(lo.n_lo, 0) AS n_lo
         FROM hi FULL OUTER JOIN lo ON hi.o_custkey = lo.o_custkey
         ORDER BY o_custkey""",

    "p03_pipeline_filedest" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_orderkey < 2000 ORDER BY o_orderkey""",

    "p04_pipeline_upsert" ->
      """SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 3 = 0 OR o_orderkey % 2 = 0
         ORDER BY o_orderkey""",

    "p05_pipeline_replace" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus <> 'F'
         UNION ALL
         SELECT o_orderkey, o_orderstatus, 0.0 AS o_totalprice FROM orders
         WHERE o_orderstatus = 'F' AND o_orderkey < 500
         ORDER BY o_orderkey""",

    "p06_pipeline_template" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
         WHERE l_quantity >= 30 GROUP BY l_returnflag ORDER BY l_returnflag""",

    "p07_pipeline_json_ops" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
         max(CAST(json_extract(props, '$.k') AS VARCHAR)) AS k_json
         FROM events GROUP BY event_type ORDER BY event_type""",

    "p08_pipeline_csv" ->
      """SELECT o_orderstatus, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "p09_pipeline_dirsource" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
         WHERE o_orderstatus = 'F' AND o_custkey < 500 ORDER BY o_orderkey""",

    "p14_pipeline_delta" ->
      """SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
         FROM orders WHERE o_orderkey % 3 = 0 OR o_orderkey % 2 = 0
         ORDER BY o_orderkey""",

    "p18_pipeline_iceberg_dest" ->
      """SELECT o_orderstatus, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders WHERE o_orderkey < 4000
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "p17_pipeline_iceberg" ->
      """SELECT
           (SELECT count(*) FROM orders WHERE o_orderkey % 5 <> 0) AS live_rows,
           (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            FROM orders WHERE o_orderkey % 5 <> 0) AS live_total,
           (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS snap1_rows""",

    "p15_pipeline_orc" ->
      """SELECT l_returnflag, count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem WHERE l_orderkey < 5000
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "p16_pipeline_avro" ->
      """SELECT o_orderstatus, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         CAST(min(o_orderdate) AS DATE) AS first_date,
         CAST(max(o_orderdate) AS DATE) AS last_date
         FROM orders WHERE o_orderkey < 4000
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "p12_pipeline_curation" ->
      """WITH s AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks,
             list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0) AS ltoks,
             len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
             greatest(length(text), 1) AS n_chars
           FROM documents),
         h AS (
           SELECT doc_id, len(toks) AS n_tok, n_punct, n_chars,
             len(list_distinct(toks)) AS n_dist,
             len(list_filter(ltoks, w -> w IN ('the','and','of','to','in','is','that','for','with','was'))) AS h_en,
             len(list_filter(ltoks, w -> w IN ('der','die','und','das','ist','nicht','ein','mit','für','von'))) AS h_de,
             len(list_filter(ltoks, w -> w IN ('el','la','los','que','de','en','es','por','con','para'))) AS h_es,
             len(list_filter(ltoks, w -> w IN ('le','la','les','et','des','est','pour','dans','une','que'))) AS h_fr,
             len(list_filter(ltoks, w -> w IN ('the','and','of','to','in','is','that','for','with','was',
                        'der','die','und','das','ist','nicht','ein','mit','für','von',
                        'le','la','les','et','des','est','pour','dans','une','que',
                        'el','los','de','en','es','por','con','para'))) AS n_stop
           FROM s),
         c AS (
           SELECT doc_id,
             CASE WHEN greatest(h_en, h_de, h_es, h_fr) = 0 THEN 'und'
                  WHEN h_fr = greatest(h_en, h_de, h_es, h_fr) THEN 'fr'
                  WHEN h_es = greatest(h_en, h_de, h_es, h_fr) THEN 'es'
                  WHEN h_en = greatest(h_en, h_de, h_es, h_fr) THEN 'en'
                  ELSE 'de' END AS lid,
             floor((least(CAST(n_tok AS DOUBLE) / 20.0, 1.0) * 0.4
               + (1.0 - least((CAST(n_punct AS DOUBLE) / n_chars) * 4.0, 1.0)) * 0.3
               + least((CAST(n_stop AS DOUBLE) / greatest(n_tok, 1)) * 5.0, 1.0) * 0.3)
               * 10000 + 0.5) / 10000 AS q,
             n_tok AS tok,
             CASE WHEN n_tok <= 0 THEN 0.0
                  ELSE 1.0 - CAST(n_dist AS DOUBLE) / n_tok END AS rep
           FROM h)
         SELECT lid, count(*) AS n_docs,
                floor(avg(q) * 1000000 + 0.5) / 1000000 AS avg_quality,
                CAST(sum(tok) AS BIGINT) AS total_tokens,
                floor(avg(rep) * 1000000 + 0.5) / 1000000 AS avg_rep
         FROM c WHERE q >= 0.5 GROUP BY lid ORDER BY lid""",

    "p10_pipeline_textprep" ->
      """WITH w AS (
           SELECT doc_id, lang, md5(text) AS digest,
                  string_split_regex(trim(lower(text)), '\s+') AS ws
           FROM documents),
         f AS (
           SELECT doc_id, lang, digest,
             len(list_distinct(list_transform(range(1, greatest(len(ws) - 1, 1)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS n_shingles
           FROM w)
         SELECT lang, count(*) AS n_docs, count(DISTINCT digest) AS n_unique,
                CAST(sum(n_shingles) AS BIGINT) AS total_shingles
         FROM f GROUP BY lang ORDER BY lang"""
  )
}
