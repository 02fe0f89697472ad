package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, same output contract:
  *   - [[bruteTopK]] — exact cosine top-k: broadcast the (small) query set,
  *     one scan of the corpus, per-query top-k via aggregate, no shuffle of
  *     the corpus itself. The correct baseline and the right answer whenever
  *     the query set fits in a broadcast.
  *   - [[lshTopK]] — random-hyperplane LSH: corpus is bucketed by an m-bit
  *     signature; queries probe only buckets within `probeDistance` bits of
  *     their own signature, candidates are re-ranked exactly. The scale path:
  *     scan cost drops to the probed buckets' share of the corpus
  *     (~C(m,≤d)/2^m), the standard IVF/LSH trade of recall for scan
  *     fraction.
  *
  * All vector math is expression-level (`zip_with` + `aggregate`), inside
  * codegen, executor-side only.
  */
object Ann {

  /** Dot product of two array columns — the native codegen'd
    * [[graft.functions.DotProduct]] expression (bit-identical to the
    * interpreted `aggregate(zip_with(...))` form it replaced, ~4× faster in
    * the candidate-pair loop).
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** Euclidean norm of an array column. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two float-array columns (expression, no UDF).
    *
    * In the pair-mining / top-k operators below the norms are hoisted into
    * per-vector columns computed once at scan time — higher-order-function
    * lambdas are interpreted, so evaluating norm(a)·norm(b) per PAIR would
    * triple the dominant cost. The per-pair arithmetic (dot / (na·nb)) is
    * kept bit-identical to this definition.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbours per query vector.
    *
    * `queries` must be broadcast-small (the common "embed the prompt, search
    * the corpus" shape). Plan: broadcast-nested-loop join (query set × corpus
    * scan) → per-query window top-k. One pass over the corpus, no corpus
    * shuffle beyond the top-k aggregation.
    */
  def bruteTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = corpus.select(col(corpusId).as("item_id"), col(corpusVec).as("cv"))
      .withColumn("cnrm", norm(col("cv"))) // norm once per vector, not per pair
      .crossJoin(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
        .withColumn("qnrm", norm(col("qv")))))
      .withColumn("cos", dot(col("cv"), col("qv")) / (col("cnrm") * col("qnrm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id"))
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("item_id"), round(col("cos"), 6).as("cos"))
  }

  /** Deterministic random hyperplanes: `m` unit-free direction vectors of
    * dimension `dim`, from a seeded PRNG, as a literal column (tiny: m×dim
    * doubles shipped with the plan).
    */
  private[graft] def hyperplanes(m: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-pattern signature of a vector against the hyperplanes (m bits in a
    * long, m ≤ 63) — native dot products, m per vector, inside codegen.
    */
  private def signature(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(dot(vec, plane) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Embedding-cosine near-duplicate pairs: multi-probe LSH buckets generate
    * candidates (one shuffle join on the bucket key, never all-pairs), exact
    * cosine filters them — zero false positives, recall set by (m,
    * probeDistance). The embedding-space sibling of Dedup.minhashLshPairs.
    *
    * `probeDistance = m` probes every bucket — candidate generation becomes
    * exhaustive (exact pairs, no recall loss), useful as a correctness gate
    * at small scale. `maxBucketSize` drops signature buckets above the cap
    * (mega-clusters of identical embeddings belong to an exact groupBy
    * dedup, not a pairwise miner).
    */
  def cosinePairs(
      corpus: DataFrame, id: String, vec: String,
      threshold: Double, m: Int = 14, dim: Int, probeDistance: Int = 1,
      seed: Long = 42L, maxBucketSize: Option[Int] = Some(10000)): DataFrame = {
    val planes = hyperplanes(m, dim, seed)
    // persisted: both self-join sides read this frame and differ only by
    // alias, so without it the m-hyperplane signature pass runs twice
    val sigd = corpus.select(col(id).as("vid"), col(vec).as("v"),
      norm(col(vec)).as("nrm"), // norm once per vector, not per candidate pair
      signature(col(vec), planes).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val masks = probeMasks(m, probeDistance)
    // hot-bucket cut via anti-join against the (small) oversize set — an
    // inner join with the full allowed set would shuffle everything instead.
    // Built lazily into the plan (the aggregate reads the persisted
    // signature frame and is empty under the cap): an eager corpus count at
    // construction time would fire Spark jobs before the query even runs
    val hot = maxBucketSize.map { bcap =>
      HotKeys.overCount(sigd, Seq(col("sig").as("bucket")), bcap)
    }
    def capped(df: DataFrame): DataFrame =
      hot.map(h => df.join(broadcast(h), Seq("bucket"), "left_anti")).getOrElse(df)
    val a = capped(sigd
      .withColumn("bucket", explode(array(masks.map(mk => col("sig").bitwiseXOR(lit(mk))): _*)))
      .select(col("bucket"), col("vid").as("id_a"), col("v").as("va"), col("nrm").as("na")))
    val b = capped(sigd.select(col("sig").as("bucket"), col("vid").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb")))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Driver-local seeded k-means (k-means++ init, Lloyd iterations) over an
    * already-bounded training sample.
    *
    * Every index build here trains on a deterministic sample capped at
    * `maxTrainVectors` (65536 × dim 64 doubles = 33 MB worst case), so the
    * fit is a driver-sized problem by construction — the production layout
    * (FAISS et al. train codebooks on a sample, never the corpus). Running
    * it locally replaces what was previously `m`+1 Spark-ML KMeans fits,
    * each a chain of ~maxIter tiny jobs over a 16k-row frame: at ANY corpus
    * size that chain costs the same fixed ~10 s of scheduler latency,
    * because the sample is bounded. The distributed work — the seeded-hash
    * top-k sampling scan and the corpus-wide encode — stays on executors.
    *
    * Deterministic for a given (points, k, seed): the PRNG draws are
    * sequential; the parallel assignment step writes disjoint slots. Empty
    * clusters re-seed from the globally farthest point (standard Lloyd
    * repair, also deterministic).
    */
  private[graft] def fitKMeansLocal(
      points: Array[Array[Double]], k: Int, seed: Long,
      maxIter: Int = 10): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs a non-empty training sample")
    val n = points.length
    val dim = points.head.length
    if (n <= k) return Array.tabulate(k)(i => points(i % n).clone())
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val rnd = new scala.util.Random(seed)
    // k-means++ seeding: each next center drawn ∝ squared distance to the
    // nearest already-chosen center
    val centers = Array.ofDim[Array[Double]](k)
    centers(0) = points(rnd.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var i = 0
      while (i < n) {
        val d = d2(points(i), centers(c - 1))
        if (d < minD(i)) minD(i) = d
        i += 1
      }
      var pick = rnd.nextDouble() * minD.sum
      var j = 0
      while (j < n - 1 && pick > minD(j)) { pick -= minD(j); j += 1 }
      centers(c) = points(j).clone()
      c += 1
    }
    val assign = new Array[Int](n)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      // assignment is ~all the arithmetic (n·k·dim) — fan it across cores
      java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < k) {
          val d = d2(points(i), centers(j))
          if (d < bd) { bd = d; best = j }
          j += 1
        }
        assign(i) = best
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var i = 0
      while (i < n) {
        val a = assign(i); counts(a) += 1
        val s = sums(a); val p = points(i)
        var j = 0
        while (j < dim) { s(j) += p(j); j += 1 }
        i += 1
      }
      moved = false
      // several clusters can empty in the same Lloyd step; each must be
      // re-seeded with a DISTINCT farthest point or they collapse into
      // duplicate centroids (permanently dead cells)
      val reseeded = new Array[Boolean](n)
      var j = 0
      while (j < k) {
        if (counts(j) == 0) {
          var far = -1; var fd = -1.0; var i2 = 0
          while (i2 < n) {
            if (!reseeded(i2)) {
              val d = d2(points(i2), centers(assign(i2)))
              if (d > fd) { fd = d; far = i2 }
            }
            i2 += 1
          }
          if (far >= 0) {
            reseeded(far) = true
            centers(j) = points(far).clone()
          }
          moved = true
        } else {
          val nc = new Array[Double](dim)
          var x = 0
          while (x < dim) { nc(x) = sums(j)(x) / counts(j); x += 1 }
          if (d2(nc, centers(j)) > 1e-12) moved = true
          centers(j) = nc
        }
        j += 1
      }
      iter += 1
    }
    centers
  }

  /** All bit-masks within `d` flips of zero (multi-probe enumeration). */
  private[graft] def probeMasks(m: Int, d: Int): Seq[Long] = {
    def combos(bits: Seq[Int], k: Int): Seq[Seq[Int]] =
      if (k == 0) Seq(Nil)
      else combos(bits, k - 1) ++ bits.combinations(k).toSeq
    combos(0 until m, d).distinct.map(_.foldLeft(0L)((acc, b) => acc | (1L << b)))
  }

  /** An IVF index: k-means centroids plus the corpus with its nearest-cell
    * assignment precomputed as a `cell` column (`item_id`, `cv`, `cell`).
    *
    * Build ONCE with [[ivfBuild]], persist `assigned` (or write it out — the
    * cell column is just data, e.g. a Delta table partition column), then
    * run [[ivfSearch]] per query batch. At 100 TB the index build is the
    * expensive amortized step; a search only scans ~nprobe/nlist of the
    * corpus.
    */
  final case class IvfIndex(centroids: Array[Array[Double]], assigned: DataFrame)

  // Cell distances use the expanded form v·v − 2·v·c + c·c (c·c precomputed
  // driver-side; ordering is what matters for argmin, so the fp difference
  // vs the subtract-square form is irrelevant). Historically this was a
  // composed `least(struct(dot…))` with one literal sub-tree per centroid —
  // replaced by the native [[graft.functions.NearestCell]]/[[NearestCells]]
  // expressions (same arithmetic operation-for-operation, tight loop, plan
  // stays KB-sized at any nlist).

  /** Build the IVF index: fit seeded k-means on a bounded corpus-wide
    * sample, assign every corpus vector to its nearest cell.
    *
    * The sample is deterministic and order-free in every path: rows are
    * ranked by a seeded id hash and the lowest `maxTrainVectors` win
    * (TakeOrdered: per-partition top-k then a single merge — never a full
    * corpus sort, and never a bare `limit`, which would train on a
    * data-order prefix and vary with partition layout). `trainFraction`
    * pre-thins with a hash filter so the top-k pass scans fewer rows — set
    * it ≈ maxTrainVectors / |corpus| at scale; cell quality converges with
    * a few thousand vectors per cell, so training on everything would dwarf
    * the search itself.
    */
  def ivfBuild(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      nlist: Int = 16, seed: Long = 42L,
      maxTrainVectors: Int = 65536, trainFraction: Double = 1.0): IvfIndex = {
    require(nlist >= 1 && nlist <= 256,
      "nlist beyond 256: probe fan-out and per-row assignment cost grow linearly — " +
        "shard the corpus or extend to a coarse two-level quantizer")
    require(trainFraction > 0.0 && trainFraction <= 1.0, "trainFraction must be in (0, 1]")
    val base = corpus.select(col(corpusId).as("item_id"), col(corpusVec).as("cv"))
    // nlist = 1 is the exhaustive degenerate (every vector in cell 0): no
    // training pass, and Spark ML's KMeans rejects k = 1 anyway
    if (nlist == 1)
      return IvfIndex(Array(Array.empty[Double]), base.withColumn("cell", lit(0)))
    val sampled =
      if (trainFraction < 1.0)
        base.filter(pmod(xxhash64(col("item_id"), lit(seed)), lit(1000000L))
          < lit((trainFraction * 1000000L).toLong))
      else base
    val train = sampled
      .orderBy(xxhash64(col("item_id"), lit(seed)), col("item_id"))
      .limit(maxTrainVectors)
      .select(transform(col("cv"), x => x.cast("double")).as("cv"))
      .collect().map(_.getSeq[Double](0).toArray)
    val centroids = fitKMeansLocal(train, nlist, seed)
    val cell =
      if (centroids.length == 1) lit(0)
      else graft.functions.NearestCell(col("cv"), centroids)
    IvfIndex(centroids, base.withColumn("cell", cell))
  }

  /** Search a built IVF index: each query probes its `nprobe` nearest cells
    * and candidates are re-ranked with exact cosine. Plan: broadcast the
    * probed (query, cell) pairs, equi-join on the precomputed cell column
    * (cell-pruned corpus scan when `assigned` is partitioned by cell),
    * window top-k. `nprobe = nlist` probes everything — exhaustive, equals
    * brute force; the small-scale correctness gate.
    */
  def ivfSearch(
      index: IvfIndex, queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nprobe0 = math.min(nprobe, index.centroids.length)
    val probed =
      if (index.centroids.length == 1)
        // single-cell index (nlist = 1 exhaustive degenerate): nothing to rank
        queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"),
          norm(col(queryVec)).as("qnrm"), lit(0).as("cell"))
      else queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"),
          explode(graft.functions.NearestCells(col(queryVec), index.centroids, nprobe0)).as("cell"))
        .withColumn("qnrm", norm(col("qv")))
        .select(col("query_id"), col("qv"), col("qnrm"), col("cell"))
    val candidates = index.assigned.withColumn("cnrm", norm(col("cv")))
      .join(broadcast(probed), Seq("cell"))
      .withColumn("cos", dot(col("cv"), col("qv")) / (col("cnrm") * col("qnrm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id"))
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("item_id"), round(col("cos"), 6).as("cos"))
  }

  /** Persist a built IVF index under `root` as two Delta tables —
    * `<root>/centroids` (cell, centroid) and `<root>/assigned`
    * (item_id, cv, cell) — so a pipeline builds once and searches across
    * jobs and sessions (corpora re-embed rarely; query batches arrive
    * daily). Re-saving replaces each table's snapshot atomically (full-
    * overwrite commit); prior versions stay time-travelable until vacuumed.
    *
    * The assignment table is hive-partitioned by `cell`, so a reloaded
    * search's equi-join on the probed cells prunes whole directories at
    * the scan — at 100 TB the probe cost is the probed cells' share of the
    * corpus, not a full pass.
    */
  def ivfSave(index: IvfIndex, root: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val centDf = index.centroids.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.toIndexedSeq) }
      .toDF("cell", "centroid")
    saveTable(centDf, s"$root/centroids")
    saveTable(index.assigned.select(col("item_id"), col("cv"), col("cell")),
      s"$root/assigned", Seq("cell"))
  }

  /** Replace the contents of the Delta table at `path` with `df` (one
    * full-overwrite commit), creating the table from `df`'s schema first if
    * absent. Shared by the index savers. */
  private def saveTable(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    import graft.destinations.DeltaWrite
    DeltaWrite.createIfAbsent(df.sparkSession, path, df.schema, partitionCols)
    DeltaWrite.overwrite(df.sparkSession, path, df): Unit
  }

  /** Reload a persisted IVF index (latest snapshot). The centroid table is
    * cell-count-sized (collect is bounded); assignments stay a lazy
    * DataFrame over the Delta table's parquet, so [[ivfSearch]] plans
    * cell-pruned scans against it directly.
    */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession, root: String): IvfIndex =
    IvfIndex(loadCentroids(spark, s"$root/centroids"),
      graft.sources.DeltaLog.read(spark, s"$root/assigned"))

  /** The `(cell, centroid)` table of a saved index, in cell order. */
  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Double]] =
    graft.sources.DeltaLog.read(spark, path)
      .orderBy(col("cell")).collect()
      .map(_.getSeq[Double](1).toArray)

  /** The `(b, j, centroid)` codebook table of a saved PQ index. */
  private def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Array[Double]]] =
    graft.sources.DeltaLog.read(spark, path)
      .orderBy(col("b"), col("j")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toArray) }
      .toArray

  /** One-shot IVF top-k: build + search. Prefer [[ivfBuild]] once +
    * [[ivfSearch]] per batch when querying repeatedly — this convenience
    * form re-trains on every call.
    */
  def ivfTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nlist: Int = 16, nprobe: Int = 2, seed: Long = 42L,
      maxTrainVectors: Int = 65536, trainFraction: Double = 1.0): DataFrame = {
    val index = ivfBuild(corpus, corpusId, corpusVec, nlist, seed, maxTrainVectors, trainFraction)
    ivfSearch(index, queries, queryId, queryVec, k, nprobe)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — public method): cluster the embedding space with
    * k-means (the [[ivfBuild]] index), mine near-duplicate pairs WITHIN
    * each cluster by exact cosine, contract the pairs to connected
    * components, and label every item with the minimum id of its semantic
    * cluster. Output: `(id, component, keep)` — `keep` marks the one
    * canonical copy per duplicate group, so the dedup'd corpus is
    * `result.filter(col("keep"))`.
    *
    * Scale shape: candidate generation is an equi-join on the cell key, so
    * the pair-mining cost drops from n² to Σ|cell|² — the SemDeDup trade
    * (cross-cluster duplicates are missed by design; the paper's recall
    * argument is that near-identical embeddings land in the same cell).
    * `nlist = 1` degenerates to exact all-pairs: complete, quadratic, and
    * exactly reproducible by an oracle — the correctness-gate
    * configuration. Norms are computed once per vector before the join,
    * never per pair, and the assigned frame is persisted because both join
    * sides read it.
    */
  /** The pair-mining half of [[semanticClusters]]: within-cell exact-cosine
    * near-duplicate pairs `(id_a, id_b, cos)` over a built index. Exposed
    * separately so callers can persist/inspect pairs (and so the join shape
    * is plan-testable without running the components contraction).
    */
  def semanticPairs(
      index: IvfIndex, threshold: Double,
      maxCellSize: Option[Int] = Some(1000000)): DataFrame =
    semanticPairsWithCache(index, threshold, maxCellSize)._1

  /** [[semanticPairs]] plus the persisted signature frame backing it, so
    * callers that fully consume the pairs can release the cache.
    *
    * `maxCellSize` is the mega-cell guard: a degenerate k-means cell (all
    * embeddings near one point — boilerplate, zero vectors) makes the
    * within-cell self-join |cell|², so cells above the cap are excluded
    * from pair mining (an identical-embedding mega-cluster belongs to an
    * exact groupBy dedup, not a pairwise miner). Anti-join against the
    * (tiny) oversize set, like [[cosinePairs]]'s hot-bucket cut; built
    * lazily so no job fires at construction time. `None` disables.
    */
  private def semanticPairsWithCache(
      index: IvfIndex, threshold: Double,
      maxCellSize: Option[Int]): (DataFrame, DataFrame) = {
    val sigd = index.assigned
      .withColumn("nrm", norm(col("cv"))) // norm once per vector, not per pair
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = maxCellSize.map { cap =>
      sigd.groupBy(col("cell")).agg(count(lit(1)).as("cs"))
        .filter(col("cs") > cap).select("cell")
    }
    def capped(df: DataFrame): DataFrame =
      hot.map(h => df.join(broadcast(h), Seq("cell"), "left_anti")).getOrElse(df)
    val a = capped(sigd.select(col("cell"), col("item_id").as("id_a"),
      col("cv").as("va"), col("nrm").as("na")))
    val b = capped(sigd.select(col("cell"), col("item_id").as("id_b"),
      col("cv").as("vb"), col("nrm").as("nb")))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
    (pairs, sigd)
  }

  def semanticClusters(
      corpus: DataFrame, id: String, vec: String,
      threshold: Double, nlist: Int = 16, seed: Long = 42L,
      maxTrainVectors: Int = 65536, trainFraction: Double = 1.0,
      maxCellSize: Option[Int] = Some(1000000)): DataFrame = {
    val index = ivfBuild(corpus, id, vec, nlist, seed, maxTrainVectors, trainFraction)
    val (pairs0, sigd) = semanticPairsWithCache(index, threshold, maxCellSize)
    val pairs = pairs0.select(col("id_a"), col("id_b"))
    // labelNodes runs the contraction loop eagerly (per-round actions), and
    // every round is localCheckpoint'ed — by the time it returns, the
    // persisted signature frame behind `pairs` has been fully consumed and
    // would otherwise leak executor storage for the session lifetime
    val labeled = Components.labelNodes(corpus.select(col(id)), id, pairs, "id_a", "id_b")
      .withColumn("keep", col(id) === col("component"))
    sigd.unpersist(blocking = false)
    labeled
  }

  /** Element-wise mean embedding per group — the data-cartography /
    * class-prototype primitive (domain centroids, label prototypes, k-means
    * seeding). Output: one row per (group, dimension index) with the count
    * and mean — long format, so no array rebuild and downstream SQL can
    * pivot or re-assemble as needed.
    *
    * Scale shape: posexplode spreads (group, idx, value) — corpus × dim
    * rows, but the aggregate's map-side combine collapses each partition
    * to groups × dim partials before the exchange, so the shuffle carries
    * the centroid matrix, not the corpus. explode_outer + null filter for
    * the usual generate-filter reason.
    */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol).as("grp"), posexplode_outer(col(vecCol)).as(Seq("idx", "v")))
      .filter(col("v").isNotNull)
      .groupBy(col("grp"), col("idx"))
      .agg(count(lit(1)).as("n"), avg(col("v").cast("double")).as("mean_v"))

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4×-compression step before shipping vectors to an ANN index or a
    * serving tier: `scale = 127 / max|v_i|`, `q_i = clamp(⌊v_i·scale +
    * 0.5⌋, ±127)` (half-up rounding spelled as floor(x+0.5) so every
    * engine reproduces it bit-for-bit; an all-zero vector quantizes to
    * zeros with scale 0; a null element nulls the result). Returns
    * `struct(q: array<int>, scale: double)`; dequantize as `q_i / scale`.
    * One native codegen'd pass ([[graft.functions.QuantizeInt8]]) — no
    * shuffle, no UDF, no interpreted per-element lambdas.
    */
  def quantizeInt8(vec: Column): Column = graft.functions.QuantizeInt8(vec)

  /** Approximate top-k: LSH-bucketed candidate pruning + exact re-rank.
    *
    * Queries probe every bucket whose signature differs from theirs by at
    * most `probeDistance` bits (multi-probe: recall without re-hashing).
    */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, m: Int = 12, dim: Int, probeDistance: Int = 1, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m <= 20, "signature width beyond 20 bits makes multi-probe enumeration explode")
    val planes = hyperplanes(m, dim, seed)

    val bucketed = corpus.select(
      col(corpusId).as("item_id"), col(corpusVec).as("cv"),
      norm(col(corpusVec)).as("cnrm"),
      signature(col(corpusVec), planes).as("bucket"))

    val masks = probeMasks(m, probeDistance)
    val probed = queries.select(
        col(queryId).as("query_id"), col(queryVec).as("qv"),
        norm(col(queryVec)).as("qnrm"),
        signature(col(queryVec), planes).as("qsig"))
      .withColumn("bucket", explode(array(masks.map(mk => col("qsig").bitwiseXOR(lit(mk))): _*)))

    val candidates = bucketed.join(broadcast(probed), Seq("bucket"))
      .withColumn("cos", dot(col("cv"), col("qv")) / (col("cnrm") * col("qnrm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id"))
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("item_id"), round(col("cos"), 6).as("cos"))
  }

  // --------------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid 2011, "Product Quantization
  // for Nearest Neighbor Search", IEEE TPAMI — public method).
  //
  // The vector is split into `m` equal sub-blocks; each block is vector-
  // quantized against its own `ksub`-entry codebook, so a dim-d float vector
  // compresses to `m` byte codes (d·4 bytes → m bytes; dim=64, m=8 is 32×).
  // Search is asymmetric distance computation (ADC): the query precomputes a
  // per-block lookup table of distances to every codebook entry, and each
  // candidate's approximate distance is m table lookups + adds — no float
  // vector is ever read at scan time. At 100 TB this is the difference
  // between scanning the corpus' raw embeddings (impossible) and scanning a
  // code table 32× smaller that lives comfortably in page cache; compose
  // with [[ivfBuild]] (encode per cell, probe nprobe cells) for the
  // classic IVF-PQ layout when even the full code scan is too much.
  // --------------------------------------------------------------------------

  /** A PQ index: per-block codebooks (`codebooks(b)(j)` = entry `j` of
    * block `b`) plus the corpus encoded to `m` small int codes
    * (`item_id`, `code: array<int>`). Build once with [[pqTrain]]; the
    * `encoded` frame is pure data — persist it like any column.
    */
  final case class PqIndex(codebooks: Array[Array[Array[Double]]], encoded: DataFrame) {
    def m: Int = codebooks.length
    def dsub: Int = codebooks.head.head.length
  }

  /** Per-block argmin code. Within one block the candidate's sub-norm is
    * constant across codebook entries, so the argmin ranks by the partial
    * score c·c − 2·sv·c (same ordering, ties by entry index, one dot per
    * entry instead of two). Native [[graft.functions.PqEncode]]: one tight
    * loop, codebooks shipped as one reference object instead of m·ksub
    * literal sub-trees.
    */
  private def pqCodeExpr(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.PqEncode(vec, codebooks)

  private def pqParamCheck(m: Int, ksub: Int, trainFraction: Double): Unit = {
    require(m >= 1, "m must be >= 1")
    require(ksub >= 2 && ksub <= 256, "ksub must be in [2, 256] (codes are byte-sized)")
    require(m * ksub <= 4096,
      "m*ksub beyond 4096: the inline encode expression stops codegen-ing — lower m or ksub")
    require(trainFraction > 0.0 && trainFraction <= 1.0, "trainFraction must be in (0, 1]")
  }

  /** One driver-local k-means fit per sub-block over the SAME collected
    * sample (each block sees its dsub-wide slice). See [[fitKMeansLocal]]
    * for why local-over-the-bounded-sample is the scale-correct layout. */
  private def pqFitCodebooks(
      sample: Array[Array[Double]], m: Int, dsub: Int, ksub: Int,
      seed: Long): Array[Array[Array[Double]]] =
    Array.tabulate(m) { b =>
      fitKMeansLocal(
        sample.map(v => java.util.Arrays.copyOfRange(v, b * dsub, (b + 1) * dsub)),
        ksub, seed + b)
    }

  /** The deterministic bounded training sample shared by every index build
    * here: seeded-hash pre-thin + seeded-hash top-k (never a data-order
    * prefix). */
  private def trainSample(
      base: DataFrame, seed: Long, maxTrainVectors: Int,
      trainFraction: Double): DataFrame = {
    val sampled =
      if (trainFraction < 1.0)
        base.filter(pmod(xxhash64(col("item_id"), lit(seed)), lit(1000000L))
          < lit((trainFraction * 1000000L).toLong))
      else base
    sampled
      .orderBy(xxhash64(col("item_id"), lit(seed)), col("item_id"))
      .limit(maxTrainVectors)
  }

  /** Per-block ADC distance tables of `vec` against the codebooks, as one
    * `lut` column of m ksub-entry arrays (expanded form svv − 2·sv·c + cc)
    * — native [[graft.functions.PqAdcLuts]]. */
  private def adcLutCol(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.PqAdcLuts(vec, codebooks).as("lut")

  /** ADC score from the `lut` and `code` columns: m array lookups summed
    * left-associated in block order ([[graft.functions.AdcScore]]). */
  private def adcScore: Column =
    graft.functions.AdcScore(col("code"), col("lut"))

  /** Train PQ codebooks on a bounded deterministic sample (same sampling
    * discipline as [[ivfBuild]]: seeded-hash top-k, never a data-order
    * prefix) and encode the full corpus. One driver-local k-means fit per
    * block over the SAME collected sample; the corpus-wide encode is a
    * single scan with the codebooks folded in as literals.
    *
    * `m · ksub` is capped so the inline per-block argmin stays inside
    * whole-stage codegen — dim 64 / m 8 / ksub 16 (the tested shape) is 128
    * 8-dim dots per row, comfortably under it.
    */
  def pqTrain(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      m: Int = 8, ksub: Int = 16, seed: Long = 42L,
      maxTrainVectors: Int = 65536, trainFraction: Double = 1.0): PqIndex = {
    pqParamCheck(m, ksub, trainFraction)
    val base = corpus.select(col(corpusId).as("item_id"),
      transform(col(corpusVec), x => x.cast("double")).as("cv"))
    val train = trainSample(base, seed, maxTrainVectors, trainFraction)
      .select(col("cv")).collect().map(_.getSeq[Double](0).toArray)
    require(train.nonEmpty, "PQ training sample is empty")
    val dim = train.head.length
    require(dim % m == 0, s"vector dim $dim must divide evenly into m=$m blocks")
    val codebooks = pqFitCodebooks(train, m, dim / m, ksub, seed)
    PqIndex(codebooks,
      base.select(col("item_id"), pqCodeExpr(col("cv"), codebooks).as("code")))
  }

  /** ADC search: per query, a per-block distance table to every codebook
    * entry (computed once, `m · ksub` doubles — broadcast with the query);
    * each candidate's approximate squared distance is `m` array lookups
    * summed in block order. Plan shape: the encoded corpus STREAMS against
    * the broadcast query+LUT side (the deliberate full-code scan of flat
    * PQ — no shuffle of the corpus, no float vectors read); top-k via one
    * window over the per-query candidate rows.
    *
    * `rerank > 0` re-ranks each query's top-`rerank` ADC candidates with
    * exact cosine against the ORIGINAL vectors (a broadcast-sized semi-join
    * back into `corpus` — candidates, not corpus, drive the join), the
    * standard recall repair for PQ's quantization error.
    */
  def pqSearch(
      index: PqIndex, queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = transform(col(queryVec), x => x.cast("double"))
    val luts = queries.select(col(queryId).as("query_id"), adcLutCol(qv, index.codebooks))
    val w = Window.partitionBy(col("query_id")).orderBy(col("ad2"), col("item_id"))
    index.encoded.crossJoin(broadcast(luts))
      .withColumn("ad2", adcScore)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("item_id"), round(col("ad2"), 6).as("ad2"))
  }

  /** One-shot PQ top-k with optional exact re-rank. `rerank = 0` returns
    * the pure-ADC ranking (`ad2` ascending — the oracle-replayable form);
    * `rerank >= k` fetches the top-`rerank` ADC candidates, joins their
    * original vectors back, and returns exact-cosine top-k.
    */
  def pqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, m: Int = 8, ksub: Int = 16, rerank: Int = 0, seed: Long = 42L,
      maxTrainVectors: Int = 65536, trainFraction: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val index = pqTrain(corpus, corpusId, corpusVec, m, ksub, seed,
      maxTrainVectors, trainFraction)
    if (rerank <= 0) pqSearch(index, queries, queryId, queryVec, k)
    else {
      require(rerank >= k, "rerank must fetch at least k candidates")
      val cand = pqSearch(index, queries, queryId, queryVec, rerank)
        .select(col("query_id"), col("item_id"))
      val qs = queries.select(col(queryId).as("query_id"),
        transform(col(queryVec), x => x.cast("double")).as("qv"))
        .withColumn("qnrm", norm(col("qv")))
      val cv = corpus.select(col(corpusId).as("item_id"),
        transform(col(corpusVec), x => x.cast("double")).as("cv"))
        .withColumn("cnrm", norm(col("cv")))
      val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id"))
      cv.join(broadcast(cand), Seq("item_id"))
        .join(broadcast(qs), Seq("query_id"))
        .withColumn("cos", dot(col("cv"), col("qv")) / (col("cnrm") * col("qnrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("item_id"), round(col("cos"), 6).as("cos"))
    }
  }

  /** Persist a flat PQ index under `root` as two Delta tables —
    * `codebooks` (b, j, centroid) and `encoded` (item_id, code) — so a
    * corpus is encoded once and ADC-searched across jobs/sessions. Same
    * replace-snapshot semantics as [[ivfSave]]. (For the cell-partitioned
    * variant use [[ivfPqSave]] — flat PQ's search deliberately scans every
    * code, so there is no useful partitioning here.)
    */
  def pqSave(index: PqIndex, root: String): Unit = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    val bookDf = index.codebooks.toIndexedSeq.zipWithIndex
      .flatMap { case (book, b) => book.toIndexedSeq.zipWithIndex
        .map { case (c, j) => (b, j, c.toIndexedSeq) } }
      .toDF("b", "j", "centroid")
    saveTable(bookDf, s"$root/codebooks")
    saveTable(index.encoded.select(col("item_id"), col("code")), s"$root/encoded")
  }

  /** Reload a persisted flat PQ index (latest snapshot): bounded collect
    * for the codebooks, lazy scan for the codes. */
  def pqLoad(spark: org.apache.spark.sql.SparkSession, root: String): PqIndex =
    PqIndex(loadCodebooks(spark, s"$root/codebooks"),
      graft.sources.DeltaLog.read(spark, s"$root/encoded"))

  // --------------------------------------------------------------------------
  // IVF-PQ (IVFADC, Jégou et al. 2011 §IV): the coarse quantizer routes each
  // vector to a cell; PQ encodes the RESIDUAL v − centroid(cell) (residuals
  // concentrate near zero, so the same codebook budget quantizes much finer
  // than raw-vector PQ). A search probes nprobe cells and ADC-scans only
  // those cells' codes — at 100 TB the scan is `nprobe/nlist` of a corpus
  // already 30× compressed, the layout every production-scale vector system
  // ships on. Cell-partitioned persistence makes the probe a directory prune.
  // --------------------------------------------------------------------------

  /** An IVF-PQ index: coarse centroids, residual codebooks, and the corpus
    * as (item_id, cell, code). */
  final case class IvfPqIndex(
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      encoded: DataFrame) {
    def m: Int = codebooks.length
    def dsub: Int = codebooks.head.head.length
  }

  /** Residual of `vec` against its assigned cell's centroid — native
    * [[graft.functions.SubtractCentroid]] (the centroid matrix rides along
    * as one reference object; the zip_with form it replaced was an
    * interpreted HOF per row). */
  private def residualExpr(vec: Column, cell: Column,
      centroids: Array[Array[Double]]): Column =
    if (centroids.length == 1 && centroids.head.isEmpty) vec // nlist=1 degenerate
    else graft.functions.SubtractCentroid(vec, cell, centroids)

  /** Build IVF-PQ: coarse k-means cells (via [[ivfBuild]]), then PQ
    * codebooks fit on a bounded deterministic sample of RESIDUALS, then a
    * single corpus scan encoding every residual to m codes. */
  def ivfPqBuild(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 16, seed: Long = 42L,
      maxTrainVectors: Int = 65536, trainFraction: Double = 1.0): IvfPqIndex = {
    pqParamCheck(m, ksub, trainFraction)
    val cast = corpus.select(col(corpusId),
      transform(col(corpusVec), x => x.cast("double")).as(corpusVec))
    val ivf = ivfBuild(cast, corpusId, corpusVec, nlist, seed,
      maxTrainVectors, trainFraction)
    val resid = ivf.assigned.select(col("item_id"), col("cell"),
      residualExpr(col("cv"), col("cell"), ivf.centroids).as("cv"))
    val train = trainSample(resid, seed, maxTrainVectors, trainFraction)
      .select(col("cv")).collect().map(_.getSeq[Double](0).toArray)
    require(train.nonEmpty, "IVF-PQ residual training sample is empty")
    val dim = train.head.length
    require(dim % m == 0, s"vector dim $dim must divide evenly into m=$m blocks")
    val codebooks = pqFitCodebooks(train, m, dim / m, ksub, seed)
    IvfPqIndex(ivf.centroids, codebooks,
      resid.select(col("item_id"), col("cell"),
        pqCodeExpr(col("cv"), codebooks).as("code")))
  }

  /** IVFADC search: probe `nprobe` cells per query (same coarse ranking as
    * [[ivfSearch]]), compute each (query, cell)'s residual LUTs, then score
    * ONLY the probed cells' codes via an equi-join on `cell` — the corpus
    * is never shuffled and never read outside the probed cells (a directory
    * prune when `encoded` is persisted cell-partitioned). */
  def ivfPqSearch(
      index: IvfPqIndex, queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nprobe0 = math.min(nprobe, index.centroids.length)
    val qv = transform(col(queryVec), x => x.cast("double"))
    val probed =
      if (index.centroids.length == 1)
        queries.select(col(queryId).as("query_id"), qv.as("qv"), lit(0).as("cell"))
      else queries.select(col(queryId).as("query_id"), qv.as("qv"),
          explode(graft.functions.NearestCells(qv, index.centroids, nprobe0)).as("cell"))
    val qr = residualExpr(col("qv"), col("cell"), index.centroids)
    val luts = probed.select(col("query_id"), col("cell"), adcLutCol(qr, index.codebooks))
    val w = Window.partitionBy(col("query_id")).orderBy(col("ad2"), col("item_id"))
    index.encoded.join(broadcast(luts), Seq("cell"))
      .withColumn("ad2", adcScore)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("item_id"), round(col("ad2"), 6).as("ad2"))
  }

  /** Persist an IVF-PQ index under `root` as three Delta tables:
    * `centroids` (cell, centroid), `codebooks` (b, j, centroid), and the
    * cell-partitioned `encoded` (item_id, code, partition cell) — so a
    * probe on the reloaded index prunes whole cell directories at the scan.
    * Same replace-snapshot semantics as [[ivfSave]]. */
  def ivfPqSave(index: IvfPqIndex, root: String): Unit = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    val centDf = index.centroids.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.toIndexedSeq) }
      .toDF("cell", "centroid")
    val bookDf = index.codebooks.toIndexedSeq.zipWithIndex
      .flatMap { case (book, b) => book.toIndexedSeq.zipWithIndex
        .map { case (c, j) => (b, j, c.toIndexedSeq) } }
      .toDF("b", "j", "centroid")
    saveTable(centDf, s"$root/centroids")
    saveTable(bookDf, s"$root/codebooks")
    saveTable(index.encoded.select(col("item_id"), col("code"), col("cell")),
      s"$root/encoded", Seq("cell"))
  }

  /** Reload a persisted IVF-PQ index (latest snapshot): bounded collects
    * for the centroid/codebook tables, lazy cell-pruned scans for the
    * encoded corpus. */
  def ivfPqLoad(spark: org.apache.spark.sql.SparkSession, root: String): IvfPqIndex =
    IvfPqIndex(loadCentroids(spark, s"$root/centroids"),
      loadCodebooks(spark, s"$root/codebooks"),
      graft.sources.DeltaLog.read(spark, s"$root/encoded"))
}
