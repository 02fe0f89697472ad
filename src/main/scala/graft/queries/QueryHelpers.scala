package graft

import graft.config._
import graft.functions.Text
import graft.ops.{Ann, Dedup, Multimodal}
import graft.run.{CollectingTracker, Runner}
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** Shared query/oracle construction helpers for the per-family gate files
  * (split from EngineQueries in round 9; bodies verbatim).
  *
  * Rounds 2-3 query surface: SQL-operator gap fillers (q07, q21-q28), the
  * LLM-data-pipeline operators over `documents`/`embeddings` (q29-q48),
  * exhaustive-probe exact twins of the pruned ANN configs (q57/q58),
  * quality scoring / incremental dedup / interval join (q59-q62), and
  * engine-executed pipelines (p01-p10) that push Runner/sources/
  * destinations/extensions through the DuckDB oracle gate.
  *
  * Exactness rules for oracle parity (same as SparkEntry): money sums go
  * through fixed-scale decimals; ratios that must filter exactly are compared
  * in integer arithmetic (or at thresholds where the double comparison is
  * provably equivalent, e.g. j >= 0.5); fp outputs are either exact copies,
  * IEEE-exact ops, or formulas mirrored operation-for-operation so both
  * engines round the same double.
  */
private[graft] object QueryHelpers {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(spark, dir, name)

  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Engine-run helper: quiet tracker, returns the final stage frame. */
  def pipe(spark: SparkSession, aq: Aqueduct): DataFrame =
    Runner.run(spark, aq, new CollectingTracker).get

  /** A fresh temp directory, deleted with everything under it when the JVM
    * exits (`deleteOnExit` would only remove it if it were empty). */
  def tmp(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d
  }
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  sys.addShutdownHook(tmpDirs.forEach { d =>
    try graft.destinations.LocalIo.deleteTree(d) catch { case _: java.io.IOException => () }
  })

  // words of the lowercased text, identical construction on the oracle side
  def docWords(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Per-JVM memo for replay directories: the slice files are a pure
    * function of (gate, sf dir), and a bench run executes each streaming
    * gate at least twice (warm-up + min-of-two), so rebuilding the replay
    * (quantile probe + one write job per slice) every run is pure
    * overhead. `build` runs once per key; later callers reuse the files —
    * each streaming query re-reads the directory from scratch (fresh
    * memory sink + temp checkpoint), so reuse is result-invisible.
    */
  private val replayCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  def cachedReplay(key: String)(build: java.nio.file.Path => Unit): java.nio.file.Path =
    replayCache.computeIfAbsent(key, _ => {
      val d = tmp("replay-" + key.replaceAll("[^A-Za-z0-9_.-]", "_").take(40))
      build(d)
      d
    })

  /** Replay `df` as `n` deterministic event-time-ordered parquet files under
    * `dir`: file i covers an earlier `tsCol` range than file i+1 AND carries
    * an earlier modification time, so `Streams.fileSource` with
    * `maxFilesPerTrigger = 1` feeds them as in-order micro-batches — the
    * harness that lets a streaming pipeline be gated against a batch oracle.
    * Gate-scale tool: one quantile probe plus one small write job per slice.
    */
  def writeReplay(df: DataFrame, tsCol: String, dir: java.nio.file.Path, n: Int): Unit = {
    val us = unix_micros(col(tsCol)).cast("double")
    val probs = (1 until n).map(i => i.toDouble / n).toArray
    val cuts = df.select(us.as("_us")).stat.approxQuantile("_us", probs, 0.0)
    (0 until n).foreach { i =>
      val lo = if (i == 0) None else Some(cuts(i - 1))
      val hi = if (i == n - 1) None else Some(cuts(i))
      val slice = df.filter(
        lo.map(c => us > lit(c)).getOrElse(lit(true)) &&
          hi.map(c => us <= lit(c)).getOrElse(lit(true)))
      appendReplayFile(slice, dir, i)
    }
  }

  /** Runs a streaming gate's `body` on its own clone of `s`, with settings
    * derived from the gate's INPUT SIZE (AQE, which would adapt them, is off
    * for stateful streaming). The clone's settings, views (the memory
    * sinks' among them) and streams die with the gate, and its streaming
    * listener bus leaves the context's (`GraftShims.releaseStreams`); the
    * body's frame comes back re-bound to `s`, so it plans and runs under
    * the caller's settings.
    *
    *   - **state partitions** = `ceil(inputBytes / 32 MiB)`, clamped to
    *     [1, caller's shuffle partitions]: every stateful operator pays a
    *     fixed per-partition state-store cost (provider open, delta file
    *     write, commit) in EVERY trigger; at gate scale one partition
    *     carries the state, at 100 TB the rule yields thousands.
    *   - **codegen routing**: every trigger re-plans, and the watermark
    *     literal changes the generated source, so each micro-batch
    *     Janino-compiles afresh (~30 compiles per gate run). Below 64 MiB
    *     of input that costs more than interpreting the rows, so `exprOnly`
    *     gates (joins, windows, dedup predicates) run with whole-stage
    *     codegen off and `NO_CODEGEN` evaluation, identical semantics,
    *     measured −20% on the stream-stream joins. Typed Dataset lambdas
    *     (codegen-bound encoder serde) and foreachBatch write jobs keep it.
    *   - **checkpoint checksum files off** (r19): gates checkpoint into an
    *     EPHEMERAL local tmp dir, where Spark 4.1's checksummed manager
    *     only doubles every WAL op (temp file + rename, twice) to detect a
    *     corruption that cannot matter; measured −9% on the block.
    *   - **NIO checkpoint manager** (r19): local checkpoint and state-store
    *     files skip Hadoop's forking local-FS shims; other schemes delegate
    *     to Spark's default. A caller-set
    *     `spark.sql.streaming.checkpointFileManagerClass` wins.
    *
    * Results are oracle-checked either way.
    */
  def withStreamGate(s: SparkSession, dir: String,
      tables: Seq[String] = Seq("events"),
      exprOnly: Boolean = true)(body: SparkSession => DataFrame): DataFrame = {
    val inputBytes = tables.map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      try p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      catch { case scala.util.control.NonFatal(_) => 0L }
    }.sum
    val parts = math.min(s.conf.get("spark.sql.shuffle.partitions").toLong,
      (inputBytes + bytesPerStatePartition - 1) / bytesPerStatePartition).max(1L)
    val cfmKey = "spark.sql.streaming.checkpointFileManagerClass"
    val settings = Map(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      cfmKey -> s.conf.getOption(cfmKey)
        .getOrElse(classOf[graft.streaming.NioCheckpointFileManager].getName)) ++
      (if (exprOnly && inputBytes < codegenMinInputBytes)
        Map("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      else Map.empty)
    val gate = GraftShims.cloneSession(s, settings)
    try GraftShims.ofRows(s, body(gate)) finally GraftShims.releaseStreams(gate)
  }
  private val bytesPerStatePartition = 32L << 20
  private val codegenMinInputBytes = 64L << 20

  /** Write `df` as replay micro-batch file `index` under `dir` (one parquet
    * file, mtime strictly increasing in `index` so the file source's
    * processing order is pinned). Used by [[writeReplay]] for the range
    * slices and directly by gates that append watermark-advancing sentinel
    * batches after the real data. */
  def appendReplayFile(df: DataFrame, dir: java.nio.file.Path, index: Int): Unit = {
    val spark = df.sparkSession
    java.nio.file.Files.createDirectories(dir)
    val root = new org.apache.hadoop.fs.Path(dir.toString)
    val fsys = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpd = dir.resolve(s".w$index")
    // repartition(1), not coalesce: an empty slice must still write a
    // schema-bearing part file (coalesce cannot raise 0 partitions)
    df.repartition(1).write.mode("overwrite").parquet(tmpd.toString)
    val part = fsys.listStatus(new org.apache.hadoop.fs.Path(tmpd.toString))
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmpd"))
    val target = new org.apache.hadoop.fs.Path(dir.toString, f"batch-$index%03d.parquet")
    if (!fsys.rename(part, target))
      throw new IllegalStateException(s"failed to move $part to $target")
    fsys.delete(new org.apache.hadoop.fs.Path(tmpd.toString), true)
    // strictly increasing mtimes pin the file source's processing order
    val base = 1700000000000L // fixed epoch base: only relative order matters
    fsys.setTimes(target, base + index * 60000L, -1)
  }

  /** q48's trained k-means centroids, captured when the query runs.
    * Verify dumps oracle_sql.json AFTER running every query, so the
    * dynamically-built q48 oracle embeds the exact centroids this run
    * assigned cells with; everything downstream of training (assignment,
    * probing, candidate generation, top-k) is then independently
    * re-derived by DuckDB. Falls back to the exhaustive brute-force form
    * when q48 never ran (nothing to compare in that case anyway).
    */
  @volatile private[graft] var q48CentroidsCaptured: Option[Array[Array[Double]]] = None

  /** q96's trained LR model, captured like the centroids above: the oracle
    * embeds the coefficients and re-derives features + sigmoid in DuckDB,
    * so everything downstream of LBFGS training is hash-checked.
    */
  @volatile private[graft] var q96ModelCaptured: Option[ops.Quality.LinearModel] = None

  /** q99's computed quota table, captured like the centroids/model above:
    * the quotas involve cross-libm pow() whose last ulp could flip a
    * floor(), so the oracle replays the captured integers rather than
    * re-deriving them. Captured as a THUNK: the independent quota scan is
    * oracle apparatus, not operator work — Verify forces it when building
    * oracle_sql.json, while a bench run of the mix never pays for it.
    */
  @volatile private[graft] var q99QuotasCaptured: Option[() => Map[String, Long]] = None

  /** q105's trained PQ codebooks, captured like the IVF centroids: the
    * oracle embeds them and independently re-derives the per-block argmin
    * encode, the query distance tables, and the ADC ranking in DuckDB —
    * everything downstream of the per-block k-means fits is hash-checked.
    */
  @volatile private[graft] var q105CodebooksCaptured: Option[Array[Array[Array[Double]]]] = None

  /** q108's coarse centroids + residual codebooks, captured together: the
    * oracle replays cell assignment, residuals, residual encode, probe
    * ranking, residual LUTs, and the ADC sum — the full IVFADC pipeline
    * downstream of the two k-means fits — in DuckDB.
    */
  @volatile private[graft] var q108IvfPqCaptured:
    Option[(Array[Array[Double]], Array[Array[Array[Double]]])] = None

  /** q110's fitted PCA basis (mean + components), captured like the other
    * trained models: the oracle embeds them and re-derives the centered
    * projection per row in DuckDB.
    */
  @volatile private[graft] var q110PcaCaptured: Option[ops.Pca.PcaModel] = None

  // shortest-round-trip double literal: both JVM and DuckDB parse it back
  // to the identical bits, so embedded plane/centroid constants are exact
  /** Recursive copy — crash-simulation gates snapshot a streaming
    * checkpoint before a batch and restore it afterwards (r17, q177). */
  def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    // Files.walk holds directory handles open until closed (javadoc
    // requires try-with-resources) — leak-free even across many
    // checkpoint snapshot/restore cycles
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val dst = to.resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dst)
      else {
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.copy(p, dst): Unit
      }
    } finally walk.close()
  }

  def deleteDir(p: java.nio.file.Path): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  def dlit(d: Double): String =
    if (d == Math.floor(d) && !d.isInfinite && math.abs(d) < 1e15) s"${d.toLong}.0"
    else d.toString

  /** Unrolled DuckDB replay of BPE training (q94/q95): K merge iterations
    * as chained CTEs (recursive CTEs cannot aggregate over the recursive
    * table, so the fixed iteration count unrolls instead). Each iteration
    * counts adjacent pairs over the delimited-token strings, picks the
    * argmax (count desc, pair asc — the engine's tie-break), and applies
    * the merge with the same literal `replace` on the chr(31)-delimited
    * encoding, so DuckDB re-learns the merge table from the raw parquet
    * with zero constants captured from the engine.
    */
  def bpeTrainCtes(k: Int): String = {
    val sep = "chr(31)"
    // double-separator boundaries (see LangModel.BpeBound): the merge
    // pattern consumes only the inner half of each outer boundary, making
    // replace() exactly the greedy left-to-right standard BPE merge
    val iters = (1 to k).map { i =>
      s"""t$i AS (SELECT list_filter(string_split(s, $sep), x -> x <> '') AS t, freq FROM v${i - 1}),
              p$i AS (SELECT p[1] AS a, p[2] AS b, CAST(sum(freq) AS BIGINT) AS n FROM (
                SELECT unnest(list_transform(range(1, len(t)), j -> [t[j], t[j+1]])) AS p, freq FROM t$i)
                GROUP BY 1, 2),
              b$i AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
              v$i AS MATERIALIZED (SELECT CASE WHEN b.a IS NULL THEN v.s
                       ELSE replace(v.s, $sep||b.a||$sep||$sep||b.b||$sep, $sep||b.a||b.b||$sep) END AS s,
                       v.freq
                     FROM v${i - 1} v LEFT JOIN b$i b ON TRUE)"""
    }.mkString(",\n              ")
    s"""w0 AS (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                x -> len(x) > 0)) AS w FROM documents),
              v0 AS MATERIALIZED (SELECT $sep || $sep ||
                         list_aggregate(list_transform(string_split(w, ''),
                           c -> c || $sep || $sep), 'string_agg', '') AS s,
                       count(*) AS freq
                     FROM w0 GROUP BY w),
              $iters"""
  }

  def bpeTrainOracleSql(k: Int): String = {
    val union = (1 to k)
      .map(i => s"SELECT $i AS rank, a, b, n FROM b$i")
      .mkString("\n              UNION ALL ")
    s"""WITH ${bpeTrainCtes(k)}
         SELECT rank, a, b, n FROM (
              $union)
         ORDER BY rank"""
  }

  def bpeEncodeOracleSql(k: Int): String = {
    val sep = "chr(31)"
    val sepsep = s"$sep || $sep" // identity fallback: pattern = replacement
    val mcols = (1 to k).map { i =>
      s"""coalesce((SELECT $sep||a||$sep||$sep||b||$sep FROM b$i), $sepsep) AS pat$i,
                coalesce((SELECT $sep||a||b||$sep FROM b$i), $sepsep) AS rep$i"""
    }.mkString(",\n                ")
    val nested = (1 to k).foldLeft(
      s"$sep || $sep || list_aggregate(list_transform(string_split(w, ''), " +
        s"c -> c || $sep || $sep), 'string_agg', '')") {
      (acc, i) => s"replace($acc, m.pat$i, m.rep$i)"
    }
    s"""WITH ${bpeTrainCtes(k)},
              mrow AS (SELECT
                $mcols),
              docs0 AS (SELECT doc_id,
                  list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    x -> len(x) > 0) AS ws
                FROM documents WHERE doc_id < 100),
              encd AS (SELECT doc_id, flatten(list_transform(ws, w ->
                  list_filter(string_split($nested, $sep), x -> x <> ''))) AS tokens
                FROM docs0 CROSS JOIN mrow m)
         SELECT doc_id, CAST(len(tokens) AS INT) AS n_tokens,
                array_to_string(tokens, ' ') AS token_str
         FROM encd ORDER BY doc_id"""
  }

  /** DuckDB oracle for the LR quality classifier (q96): coefficients from
    * the captured model as literals; the hashed features (md5-fold bucket
    * per token, the q93 hex-parse trick) and sigmoid re-derived in SQL.
    * Sum order matches the native dot product (left-to-right); round(…, 6)
    * absorbs exp()'s last-ulp libm differences (the q93 ln precedent).
    */
  def qualityOracleSql(m: ops.Quality.LinearModel, nDocs: Int): String = {
    val n = m.coefficients.length
    val coefs = m.coefficients.map(dlit).mkString(", ")
    s"""WITH d AS (SELECT doc_id,
                list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                  x -> len(x) > 0) AS ws
              FROM documents WHERE doc_id < $nDocs),
              f AS (SELECT doc_id, list_transform(range(0, $n), i ->
                CAST(len(list_filter(ws, w ->
                  CAST(list_sum(list_transform(range(1, 9),
                    j -> (strpos('0123456789abcdef', substr(md5(w), j, 1)) - 1)
                         * power(16, 8 - j))) AS BIGINT) % $n = i)) AS DOUBLE)) AS x
              FROM d)
         SELECT doc_id,
           round(1.0 / (1.0 + exp(-(list_sum(list_transform(range(1, ${n + 1}),
             i -> x[i] * ([$coefs])[i])) + ${dlit(m.intercept)}))), 6) AS quality_prob
         FROM f ORDER BY doc_id"""
  }

  /** DuckDB oracle for the PRUNED multi-probe LSH top-k (q36): embeds the
    * seeded hyperplanes as literals (algorithm parameters, like any
    * threshold) and independently recomputes corpus/query signatures, the
    * probe-bucket expansion, the candidate equi-join and the exact cosine
    * re-rank. Sign bits depend on exact dot products: plane literals are
    * shortest-round-trip doubles and both engines sum element-for-element
    * left-to-right, so signatures agree bit-for-bit.
    */
  def lshOracleSql(
      m: Int, dim: Int, seed: Long, k: Int, probeDistance: Int): String = {
    val planes = Ann.hyperplanes(m, dim, seed)
    val planeRows = planes.zipWithIndex
      .map { case (p, j) => s"($j, [${p.map(dlit).mkString(", ")}])" }
      .mkString(",\n                ")
    val probeList = Ann.probeMasks(m, probeDistance)
      .map(mk => if (mk == 0L) "qsig" else s"xor(qsig, ${mk})")
      .mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              planes(j, p) AS (VALUES
                $planeRows),
              sigs AS (
                SELECT e.vec_id,
                  CAST(sum(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}),
                         i -> e.v[i] * pl.p[i])) >= 0
                       THEN 1::BIGINT << pl.j ELSE 0 END) AS BIGINT) AS sig
                FROM e CROSS JOIN planes pl GROUP BY e.vec_id),
              corpus AS (SELECT e.vec_id AS item_id, e.v AS cv, s.sig AS bucket
                         FROM e JOIN sigs s ON e.vec_id = s.vec_id),
              probes AS (
                SELECT query_id, qv, unnest([$probeList]) AS bucket FROM (
                  SELECT e.vec_id AS query_id, e.v AS qv, s.sig AS qsig
                  FROM e JOIN sigs s ON e.vec_id = s.vec_id WHERE e.vec_id < 5)),
              cand AS (
                SELECT p.query_id, c.item_id,
                       list_cosine_similarity(c.cv, p.qv) AS cosr
                FROM corpus c JOIN probes p ON c.bucket = p.bucket),
              ranked AS (
                SELECT query_id, item_id, round(cosr, 6) AS cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosr DESC, item_id) AS rank
                FROM cand)
         SELECT query_id, rank, item_id, cos FROM ranked
         WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB oracle for the PRUNED IVF top-k (q48), built from the captured
    * centroids: re-derives every corpus vector's cell (argmin of the same
    * d2 = |v|^2 - 2 v.c + |c|^2 expression, |c|^2 embedded as the same
    * Scala-computed literal Spark used, ties to the lower cell), each
    * query's nprobe nearest cells, the cell equi-join and the exact cosine
    * top-k.
    */
  /** DuckDB replay of q105's PQ search from the captured codebooks: encode
    * every corpus vector (per-block argmin over `cc − 2·sv·c`, ties by
    * entry index — the engine's exact partial-score form), build each
    * query's per-block distance table (`svv − 2·sv·c + cc`), and rank by
    * the ADC sum. The per-block distances are summed through an ORDERED
    * list with explicit left-associated additions so both engines fold the
    * same doubles in the same order.
    */
  def pqOracleSql(
      codebooks: Array[Array[Array[Double]]], k: Int): String = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val bookRows = codebooks.zipWithIndex.flatMap { case (book, b) =>
      book.zipWithIndex.map { case (c, j) =>
        s"($b, $j, [${c.map(dlit).mkString(", ")}], ${dlit(c.map(x => x * x).sum)})"
      }
    }.mkString(",\n                ")
    val blockSum = (1 to m).map(i => s"ll[$i]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              books(b, j, c, cc) AS (VALUES
                $bookRows),
              blocks AS (SELECT unnest(range(0, $m)) AS b),
              sub AS (
                SELECT e.vec_id, bs.b,
                       list_slice(e.v, bs.b * $dsub + 1, (bs.b + 1) * $dsub) AS sv
                FROM e CROSS JOIN blocks bs),
              scored AS (
                SELECT s.vec_id, s.b, bk.j,
                  bk.cc - 2 * list_sum(list_transform(range(1, ${dsub + 1}),
                    i -> s.sv[i] * bk.c[i])) AS sc
                FROM sub s JOIN books bk ON bk.b = s.b),
              codes AS (
                SELECT vec_id, b, j AS code FROM (
                  SELECT vec_id, b, j,
                    row_number() OVER (PARTITION BY vec_id, b ORDER BY sc, j) AS rn
                  FROM scored) WHERE rn = 1),
              qsub AS (
                SELECT vec_id AS query_id, b, sv,
                  list_sum(list_transform(range(1, ${dsub + 1}), i -> sv[i] * sv[i])) AS svv
                FROM sub WHERE vec_id < 5),
              lut AS (
                SELECT q.query_id, q.b, bk.j,
                  q.svv - 2 * list_sum(list_transform(range(1, ${dsub + 1}),
                    i -> q.sv[i] * bk.c[i])) + bk.cc AS d2
                FROM qsub q JOIN books bk ON bk.b = q.b),
              cand AS (
                SELECT l.query_id, c.vec_id AS item_id, c.b, l.d2
                FROM codes c JOIN lut l ON l.b = c.b AND l.j = c.code),
              tot AS (
                SELECT query_id, item_id, ll, $blockSum AS ad2 FROM (
                  SELECT query_id, item_id, list(d2 ORDER BY b) AS ll
                  FROM cand GROUP BY query_id, item_id)),
              ranked AS (
                SELECT query_id, item_id, round(ad2, 6) AS ad2,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY ad2, item_id) AS rank
                FROM tot)
         SELECT query_id, rank, item_id, ad2 FROM ranked
         WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB replay of q108's IVFADC search from the captured coarse
    * centroids and residual codebooks — [[ivfOracleSql]]'s assignment/probe
    * stages fused with [[pqOracleSql]]'s encode/LUT/ADC stages, with the
    * residual subtraction in between. Every fp formula mirrors the engine
    * operation-for-operation (expanded-form distances, partial-score
    * argmin, ordered left-assoc block sum).
    */
  def ivfPqOracleSql(
      centroids: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      dim: Int, k: Int, nprobe: Int): String = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val centRows = centroids.zipWithIndex
      .map { case (c, i) =>
        s"($i, [${c.map(dlit).mkString(", ")}], ${dlit(c.map(x => x * x).sum)})"
      }
      .mkString(",\n                ")
    val bookRows = codebooks.zipWithIndex.flatMap { case (book, b) =>
      book.zipWithIndex.map { case (c, j) =>
        s"($b, $j, [${c.map(dlit).mkString(", ")}], ${dlit(c.map(x => x * x).sum)})"
      }
    }.mkString(",\n                ")
    val blockSum = (1 to m).map(i => s"ll[$i]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              cents(cell, c, cc) AS (VALUES
                $centRows),
              books(b, j, c, cc) AS (VALUES
                $bookRows),
              blocks AS (SELECT unnest(range(0, $m)) AS b),
              vv AS (SELECT vec_id, v,
                       list_sum(list_transform(range(1, ${dim + 1}), i -> v[i] * v[i])) AS vv
                     FROM e),
              cscored AS (
                SELECT vv.vec_id, vv.v, ct.cell,
                  vv.vv - 2 * list_sum(list_transform(range(1, ${dim + 1}),
                    i -> vv.v[i] * ct.c[i])) + ct.cc AS d2
                FROM vv CROSS JOIN cents ct),
              assign AS (
                SELECT vec_id, v, cell FROM (
                  SELECT vec_id, v, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
                  FROM cscored) WHERE rn = 1),
              rese AS (
                SELECT a.vec_id, a.cell,
                  list_transform(range(1, ${dim + 1}), i -> a.v[i] - ct.c[i]) AS rv
                FROM assign a JOIN cents ct ON ct.cell = a.cell),
              sub AS (
                SELECT r.vec_id, r.cell, bs.b,
                  list_slice(r.rv, bs.b * $dsub + 1, (bs.b + 1) * $dsub) AS sv
                FROM rese r CROSS JOIN blocks bs),
              scored AS (
                SELECT s.vec_id, s.cell, s.b, bk.j,
                  bk.cc - 2 * list_sum(list_transform(range(1, ${dsub + 1}),
                    i -> s.sv[i] * bk.c[i])) AS sc
                FROM sub s JOIN books bk ON bk.b = s.b),
              codes AS (
                SELECT vec_id, cell, b, j AS code FROM (
                  SELECT vec_id, cell, b, j,
                    row_number() OVER (PARTITION BY vec_id, b ORDER BY sc, j) AS rn
                  FROM scored) WHERE rn = 1),
              probes AS (
                SELECT vec_id AS query_id, v AS qv, cell FROM (
                  SELECT vec_id, v, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
                  FROM cscored WHERE vec_id < 5) WHERE rn <= $nprobe),
              qres AS (
                SELECT p.query_id, p.cell,
                  list_transform(range(1, ${dim + 1}), i -> p.qv[i] - ct.c[i]) AS qr
                FROM probes p JOIN cents ct ON ct.cell = p.cell),
              qsub0 AS (
                SELECT q.query_id, q.cell, bs.b,
                  list_slice(q.qr, bs.b * $dsub + 1, (bs.b + 1) * $dsub) AS sv
                FROM qres q CROSS JOIN blocks bs),
              qsub AS (
                SELECT query_id, cell, b, sv,
                  list_sum(list_transform(range(1, ${dsub + 1}), i -> sv[i] * sv[i])) AS svv
                FROM qsub0),
              lut AS (
                SELECT q.query_id, q.cell, q.b, bk.j,
                  q.svv - 2 * list_sum(list_transform(range(1, ${dsub + 1}),
                    i -> q.sv[i] * bk.c[i])) + bk.cc AS d2
                FROM qsub q JOIN books bk ON bk.b = q.b),
              cand AS (
                SELECT l.query_id, cd.vec_id AS item_id, cd.b, l.d2
                FROM codes cd JOIN lut l
                  ON l.cell = cd.cell AND l.b = cd.b AND l.j = cd.code),
              tot AS (
                SELECT query_id, item_id, ll, $blockSum AS ad2 FROM (
                  SELECT query_id, item_id, list(d2 ORDER BY b) AS ll
                  FROM cand GROUP BY query_id, item_id)),
              ranked AS (
                SELECT query_id, item_id, round(ad2, 6) AS ad2,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY ad2, item_id) AS rank
                FROM tot)
         SELECT query_id, rank, item_id, ad2 FROM ranked
         WHERE rank <= $k ORDER BY query_id, rank"""
  }

  def ivfOracleSql(
      centroids: Array[Array[Double]], dim: Int, k: Int, nprobe: Int): String = {
    val centRows = centroids.zipWithIndex
      .map { case (c, i) =>
        s"($i, [${c.map(dlit).mkString(", ")}], ${dlit(c.map(x => x * x).sum)})"
      }
      .mkString(",\n                ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              cents(cell, c, cc) AS (VALUES
                $centRows),
              vv AS (SELECT vec_id, v,
                       list_sum(list_transform(range(1, ${dim + 1}), i -> v[i] * v[i])) AS vv
                     FROM e),
              scored AS (
                SELECT vv.vec_id, vv.v, ct.cell,
                  vv.vv - 2 * list_sum(list_transform(range(1, ${dim + 1}),
                    i -> vv.v[i] * ct.c[i])) + ct.cc AS d2
                FROM vv CROSS JOIN cents ct),
              assign AS (
                SELECT vec_id, v, cell FROM (
                  SELECT vec_id, v, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
                  FROM scored) WHERE rn = 1),
              probes AS (
                SELECT vec_id AS query_id, v AS qv, cell FROM (
                  SELECT vec_id, v, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
                  FROM scored WHERE vec_id < 5) WHERE rn <= $nprobe),
              cand AS (
                SELECT p.query_id, a.vec_id AS item_id,
                       list_cosine_similarity(a.v, p.qv) AS cosr
                FROM assign a JOIN probes p ON a.cell = p.cell),
              ranked AS (
                SELECT query_id, item_id, round(cosr, 6) AS cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosr DESC, item_id) AS rank
                FROM cand)
         SELECT query_id, rank, item_id, cos FROM ranked
         WHERE rank <= $k ORDER BY query_id, rank"""
  }


  /** Deterministic blocklist for q112 — phrases over the synthetic corpus
    * vocabulary, incl. overlapping ones so suffix-link matching is
    * exercised at the gate. */
  private[graft] val blocklistPhrases: Seq[String] = Seq(
    "hash value table", "fast merge batch", "the line sort",
    "value table part", "table part a", "key agg row",
    "row scan slow", "slow fast table", "spark a a",
    "scan slow fast", "a row fast", "batch part value",
    // shorter, denser phrases: overlap with the 3-word ones above so the
    // automaton's suffix links fire on real rows
    "hash value", "merge batch", "line sort", "scan slow", "spark shuffle")

}
