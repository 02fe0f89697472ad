package graft

import graft.config._
import graft.functions.Text
import graft.ops.{Ann, Dedup, Multimodal}
import graft.run.{CollectingTracker, Runner}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** Vector/ANN family: brute/LSH/IVF/PQ/IVF-PQ search, persistence, semantic dedup, centroids, int8 quantization, PCA.
  *
  * Split from EngineQueries (round 9) for per-family review; entries are
  * verbatim and the combined key set is unchanged.
  */
private[graft] object AnnQueries {
  import QueryHelpers._

  def queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(

    // Exact cosine top-k: broadcast query set, single corpus scan.
    "q35_ann_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      Ann.bruteTopK(emb, "vec_id", "v", queries, "qid", "qv", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),


    // LSH-bucketed ANN with multi-probe + exact re-rank. Hash-checked even
    // though pruned: the oracle embeds the seeded hyperplanes as literals
    // and re-derives signatures, probe buckets and the re-rank in DuckDB.
    "q36_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      Ann.lshTopK(emb, "vec_id", "v", queries, "qid", "qv",
        k = 10, m = 12, dim = 64, probeDistance = 1)
        .orderBy(col("query_id"), col("rank"))
    }),


    // Embedding-cosine near-dup pairs, exhaustive-probe configuration
    // (probeDistance = m ⇒ every bucket probed, candidate generation is
    // complete): the output is exactly all pairs with cosine ≥ 0.35 and the
    // oracle hash-checks it. Round-2 verdict: the old threshold (0.95) had
    // EMPTY ground truth, so the rows-only check proved nothing. The pruned
    // scale path (probeDistance 1–2) is recall-asserted in OpsSpec.
    // Bounded to the first 500 vectors: exhaustive probing is inherently
    // quadratic, the right shape for a correctness gate but not a bench
    // surface — at oracle scale (sf0.01 = 500 vectors) the bound is a no-op.
    "q46_embed_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 500)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      ops.Ann.cosinePairs(emb, "vec_id", "v", threshold = 0.35,
          m = 6, dim = 64, probeDistance = 6)
        .orderBy(col("id_a"), col("id_b"))
    }),


    // IVF ANN, realistic pruned configuration: k-means cells + nprobe
    // probing + exact re-rank. The trained centroids are captured here and
    // embedded as literals in a dynamically-built oracle (Verify dumps
    // oracle_sql.json after the queries run), so DuckDB independently
    // re-derives cell assignment, probe selection, candidate generation
    // and the exact top-k — everything downstream of k-means training is
    // hash-checked, not rows-only.
    "q48_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val index = ops.Ann.ivfBuild(emb, "vec_id", "v", nlist = 16)
      q48CentroidsCaptured = Some(index.centroids)
      ops.Ann.ivfSearch(index, queries, "qid", "qv", k = 10, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),


    // LSH top-k in exhaustive-probe mode (probeDistance = m ⇒ every bucket
    // probed): the signature/probe/re-rank machinery must reproduce brute
    // force exactly — hash-checked against the DuckDB cosine top-k oracle.
    // q36 keeps the realistic pruned configuration (recall asserted vs brute
    // force in OpsSpec); this entry pins the machinery's correctness.
    "q57_ann_lsh_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      Ann.lshTopK(emb, "vec_id", "v", queries, "qid", "qv",
        k = 10, m = 6, dim = 64, probeDistance = 6)
        .orderBy(col("query_id"), col("rank"))
    }),


    // IVF index built ONCE and searched twice (two query batches over the
    // persisted cell-assigned corpus) — the amortized build/search split the
    // round-2 verdict asked for. Exhaustive nprobe = nlist makes each search
    // equal brute force, so the union is hash-checked exactly.
    "q58_ann_ivf_reuse" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val index = Ann.ivfBuild(emb, "vec_id", "v", nlist = 16)
      index.assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qa = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val qb = emb.filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      Ann.ivfSearch(index, qa, "qid", "qv", k = 10, nprobe = 16)
        .unionByName(Ann.ivfSearch(index, qb, "qid", "qv", k = 10, nprobe = 16))
        .orderBy(col("query_id"), col("rank"))
    }),


    // Symmetric int8 embedding quantization (serialized as CSV text so the
    // compare stays scalar): engine-portable floor(x+0.5) rounding.
    "q70_quantize_int8" -> ((s, dir) => {
      val q = ops.Ann.quantizeInt8(col("embedding"))
      t(s, dir, "embeddings")
        .select(col("vec_id"), q.as("qz"))
        .select(col("vec_id"),
          array_join(transform(col("qz.q"), x => x.cast("string")), ",").as("qvec"),
          round(col("qz.scale"), 6).as("scale"))
        .orderBy(col("vec_id"))
    }),


    // SemDeDup semantic dedup keep-list (cluster → within-cluster exact
    // cosine → components → keep-min-id): nlist = 1 makes candidate
    // generation exhaustive, so the oracle reproduces the full pipeline
    // exactly (all-pairs cosine + recursive-CTE closure). The clustered
    // scale path (nlist > 1, candidates pruned to Σ|cell|²) is
    // subset/recall-asserted in OpsSpec. Bounded to the first 1000 vectors:
    // the exhaustive gate is inherently quadratic (no-op at oracle scale).
    "q81_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      ops.Ann.semanticClusters(emb, "vec_id", "v", threshold = 0.35, nlist = 1)
        .select(col("vec_id"), col("component"), col("keep"))
        .orderBy(col("vec_id"))
    }),


    // Per-label embedding centroids (class prototypes): element-wise means
    // in long format. 4-dp rounding absorbs the sum-association fp noise
    // of a distributed mean (the q77 pattern).
    "q90_group_centroids" -> ((s, dir) => {
      ops.Ann.groupCentroids(t(s, dir, "embeddings"), "label", "embedding")
        .select(col("grp").as("label"), col("idx"), col("n"),
          round(col("mean_v"), 4).as("mean_v"))
        .orderBy(col("label"), col("idx"))
    }),


    // IVF index persisted to Delta tables and RELOADED before searching —
    // the cross-job production shape (build once, search from any session).
    // Exhaustive nprobe = nlist makes the reloaded search equal brute force,
    // so the round-trip is hash-checked exactly; the assignment table is
    // hive-partitioned by cell so probed-cell scans prune directories.
    "q100_ann_ivf_persist" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val index = Ann.ivfBuild(emb, "vec_id", "v", nlist = 16)
      val root = tmp("graft-ivf").toString
      Ann.ivfSave(index, root)
      val loaded = Ann.ivfLoad(s, root)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      Ann.ivfSearch(loaded, q, "qid", "qv", k = 10, nprobe = 16)
        .orderBy(col("query_id"), col("rank"))
    }),


    // Product quantization ANN (Jégou et al. 2011): per-block codebooks on
    // a deterministic sample, corpus encoded to m byte codes, asymmetric-
    // distance search via per-query lookup tables — the compressed-corpus
    // scale path (dim·4 bytes → m bytes per vector). Pure-ADC ranking here
    // so the oracle can replay encode + LUT + ranking from the captured
    // codebooks; recall-vs-brute and the exact re-rank path are ScalaTest-
    // gated (PQ is lossy by design, so brute force is not its oracle).
    "q105_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      // 16k training vectors = 1k per codebook entry — convergence needs a
      // few hundred; the bounded sample keeps build time flat at any SF
      val index = ops.Ann.pqTrain(emb, "vec_id", "v", m = 8, ksub = 16,
        maxTrainVectors = 16384)
      q105CodebooksCaptured = Some(index.codebooks)
      ops.Ann.pqSearch(index, queries, "qid", "qv", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),


    // IVF-PQ (IVFADC): coarse cells route vectors, PQ encodes the residual
    // v − centroid(cell), queries probe 3 of 8 cells and ADC-score only
    // those cells' codes via an equi-join on cell — the production-scale
    // vector-search layout (probe fraction × 30× compression). Pure-ADC
    // output so DuckDB can replay the whole post-training pipeline.
    "q108_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val index = ops.Ann.ivfPqBuild(emb, "vec_id", "v", nlist = 8, m = 8,
        ksub = 16, maxTrainVectors = 16384)
      q108IvfPqCaptured = Some((index.centroids, index.codebooks))
      ops.Ann.ivfPqSearch(index, queries, "qid", "qv", k = 10, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),


    // Distributed PCA: one O(d²)-state covariance pass fits the basis, the
    // projection is k codegen'd literal-axis dots over a centered column —
    // scan-local at any corpus size (embedding whitening / dimension
    // reduction ahead of ANN or PQ). Long (vec_id, j, pc) output so every
    // component score is hash-gated.
    // Recall gates for the PRUNED index configurations: q48/q105/q108's
    // oracles replay the deterministic algorithm from captured state, so
    // they prove determinism, not search QUALITY — a refactor could keep
    // them green while silently degrading the index. This gate measures
    // recall@10 of each production configuration against q35's exact brute
    // force on the same corpus/queries and emits the boolean
    // `recall >= threshold`; the oracle states the thresholds and TRUE as
    // literals, so any quality regression hash-mismatches. Recall itself
    // is a bounded driver scalar (one count per method).
    "q128_ann_recall" -> ((s, dir) => {
      import s.implicits._
      // One corpus scan shared by the brute-force truth pass and all four
      // index builds (r19; guide §5-caching: reused ≥5×, recompute = a
      // parquet scan + per-element double cast each time). persist() is
      // layout-invisible — a recompute yields byte-identical partitions in
      // the same file-split order, so every build trains on exactly the
      // data it saw uncached; unpersisted before returning.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val k = 10
      val truth = Ann.bruteTopK(emb, "vec_id", "v", queries, "qid", "qv", k)
        .select(col("query_id"), col("item_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nTrue = truth.count().toDouble
      def recall(res: DataFrame): Double =
        res.select(col("query_id"), col("item_id"))
          .join(truth, Seq("query_id", "item_id")).count() / nTrue
      val ivf = Ann.ivfBuild(emb, "vec_id", "v", nlist = 16)
      val rIvf = recall(Ann.ivfSearch(ivf, queries, "qid", "qv", k, nprobe = 3))
      val lsh = recall(Ann.lshTopK(emb, "vec_id", "v", queries, "qid", "qv",
        k = k, m = 12, dim = 64, probeDistance = 1))
      val pq = Ann.pqTrain(emb, "vec_id", "v", m = 8, ksub = 16,
        maxTrainVectors = 16384)
      val rPq = recall(Ann.pqSearch(pq, queries, "qid", "qv", k))
      val ivfpq = Ann.ivfPqBuild(emb, "vec_id", "v", nlist = 8, m = 8,
        ksub = 16, maxTrainVectors = 16384)
      val rIvfPq = recall(Ann.ivfPqSearch(ivfpq, queries, "qid", "qv", k, nprobe = 3))
      truth.unpersist()
      emb.unpersist()
      System.err.println(f"[q128] recall ivf=$rIvf%.4f lsh=$lsh%.4f pq=$rPq%.4f ivfpq=$rIvfPq%.4f")
      annRecallThresholds.map { case (method, (nprobe, th)) =>
        val r = method match {
          case "ivf" => rIvf
          case "lsh" => lsh
          case "pq" => rPq
          case "ivfpq" => rIvfPq
        }
        (method, k, nprobe, th, r >= th)
      }.toSeq.toDF("method", "k", "nprobe", "threshold", "recall_ok")
        .orderBy(col("method"))
    }),


    "q110_pca_project" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = ops.Pca.fit(emb, "embedding", k = 8)
      q110PcaCaptured = Some(model)
      emb.filter(col("vec_id") < 100)
        .withColumn("cv", ops.Pca.center(col("embedding"), model))
        .select(col("vec_id"),
          posexplode(ops.Pca.projectCentered(col("cv"), model)).as(Seq("j", "pc")))
        .select(col("vec_id"), col("j"), round(col("pc"), 6).as("pc"))
        .orderBy(col("vec_id"), col("j"))
    })
  )

  /** Pinned recall@10 floors per pruned ANN configuration for q128:
    * method -> (nprobe-or-probeDistance, threshold). The synthetic
    * embeddings are iid-random — no cluster structure, the worst case for
    * any pruning index — so absolute recall is low by construction
    * (measured: ivf 0.49–0.56, lsh 0.11–0.12, pq 0.25–0.35, ivfpq ~0.33
    * across sf0.01 and the sf0.1 cross-check). Floors sit ~35% under the
    * cross-scale minimum so they trip on a genuine index-quality
    * regression, not corpus-size noise.
    */
  private[graft] val annRecallThresholds: ListMap[String, (Int, Double)] = ListMap(
    "ivf" -> ((3, 0.35)),
    "ivfpq" -> ((3, 0.20)),
    "lsh" -> ((1, 0.06)),
    "pq" -> ((0, 0.15)))

  def oracleSql: Map[String, String] = Map(
    "q128_ann_recall" -> {
      val vals = annRecallThresholds.toSeq
        .map { case (m, (np, th)) => s"('$m', 10, $np, CAST($th AS DOUBLE), TRUE)" }
        .mkString(", ")
      s"""SELECT * FROM (VALUES $vals)
          AS t(method, k, nprobe, threshold, recall_ok) ORDER BY method"""
    },

    "q35_ann_brute" ->
      """WITH c AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
              q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5)
         SELECT query_id, rank, item_id, cos FROM (
           SELECT query_id, item_id,
             round(list_cosine_similarity(cv, qv), 6) AS cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY list_cosine_similarity(cv, qv) DESC, item_id) AS rank
           FROM c CROSS JOIN q) t
         WHERE rank <= 10 ORDER BY query_id, rank""",

    // exact oracle for the PRUNED multi-probe config: DuckDB recomputes
    // signatures from the embedded hyperplanes and replays probe + re-rank
    "q36_ann_lsh" -> lshOracleSql(m = 12, dim = 64, seed = 42L, k = 10, probeDistance = 1),

    // exact oracle downstream of k-means: centroids captured from the run
    // (fallback only used when q48 never ran, so nothing compares against it)
    "q48_ann_ivf" -> q48CentroidsCaptured
      .map(c => ivfOracleSql(c, dim = 64, k = 10, nprobe = 3))
      .getOrElse(
        """SELECT NULL AS query_id, NULL AS rank, NULL AS item_id, NULL AS cos
           WHERE FALSE"""),

    "q105_ann_pq" -> q105CodebooksCaptured
      .map(b => pqOracleSql(b, k = 10))
      .getOrElse(
        """SELECT NULL AS query_id, NULL AS rank, NULL AS item_id, NULL AS ad2
           WHERE FALSE"""),

    "q108_ann_ivfpq" -> q108IvfPqCaptured
      .map { case (cents, books) =>
        ivfPqOracleSql(cents, books, dim = 64, k = 10, nprobe = 3) }
      .getOrElse(
        """SELECT NULL AS query_id, NULL AS rank, NULL AS item_id, NULL AS ad2
           WHERE FALSE"""),

    "q110_pca_project" -> q110PcaCaptured
      .map { m =>
        val dim = m.dim
        val meanLit = s"[${m.mean.map(dlit).mkString(", ")}]"
        val compRows = m.components.zipWithIndex
          .map { case (w, j) => s"($j, [${w.map(dlit).mkString(", ")}])" }
          .mkString(",\n                ")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE vec_id < 100),
                mean(mv) AS (VALUES ($meanLit)),
                comps(j, w) AS (VALUES
                  $compRows),
                c AS (SELECT vec_id,
                        list_transform(range(1, ${dim + 1}), i -> e.v[i] - m.mv[i]) AS cv
                      FROM e CROSS JOIN mean m)
           SELECT c.vec_id, cp.j,
             round(list_sum(list_transform(range(1, ${dim + 1}),
               i -> c.cv[i] * cp.w[i])), 6) AS pc
           FROM c CROSS JOIN comps cp
           ORDER BY vec_id, j"""
      }
      .getOrElse("SELECT NULL AS vec_id, NULL AS j, NULL AS pc WHERE FALSE"),

    // exhaustive probing ⇒ complete candidate generation ⇒ exactly the
    // cosine >= 0.35 pair set
    "q46_embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                    WHERE vec_id < 500)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_cosine_similarity(a.v, b.v), 6) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.35
         ORDER BY id_a, id_b""",

    // exhaustive probing ⇒ LSH equals brute force exactly (same oracle as q35)
    "q57_ann_lsh_exhaustive" ->
      """WITH c AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
              q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5)
         SELECT query_id, rank, item_id, cos FROM (
           SELECT query_id, item_id,
             round(list_cosine_similarity(cv, qv), 6) AS cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY list_cosine_similarity(cv, qv) DESC, item_id) AS rank
           FROM c CROSS JOIN q) t
         WHERE rank <= 10 ORDER BY query_id, rank""",

    // nprobe = nlist ⇒ each IVF search equals brute force; two query batches
    "q58_ann_ivf_reuse" ->
      """WITH c AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
              q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10)
         SELECT query_id, rank, item_id, cos FROM (
           SELECT query_id, item_id,
             round(list_cosine_similarity(cv, qv), 6) AS cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY list_cosine_similarity(cv, qv) DESC, item_id) AS rank
           FROM c CROSS JOIN q) t
         WHERE rank <= 10 ORDER BY query_id, rank""",

    // reloaded exhaustive IVF == brute force (the q57/q58 oracle shape)
    "q100_ann_ivf_persist" ->
      """WITH c AS (SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
              q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5)
         SELECT query_id, rank, item_id, cos FROM (
           SELECT query_id, item_id,
             round(list_cosine_similarity(cv, qv), 6) AS cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY list_cosine_similarity(cv, qv) DESC, item_id) AS rank
           FROM c CROSS JOIN q) t
         WHERE rank <= 10 ORDER BY query_id, rank""",

    // exhaustive candidate generation (nlist = 1) ⇒ the pair set is exactly
    // all cosine >= 0.35 pairs; the closure + keep-min-id labeling is then
    // engine-independent
    "q81_semantic_dedup" ->
      """WITH RECURSIVE emb AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
           WHERE vec_id < 1000),
         pairs AS (
           SELECT a.vec_id AS u, b.vec_id AS w
           FROM emb a JOIN emb b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.vec, b.vec) >= 0.35),
         sym AS (SELECT u, w FROM pairs UNION SELECT w AS u, u AS w FROM pairs),
         reach(node, r) AS (
           SELECT vec_id, vec_id FROM emb
           UNION
           SELECT s.w, reach.r FROM reach JOIN sym s ON s.u = reach.node),
         lab AS (SELECT node AS vec_id, CAST(min(r) AS BIGINT) AS component
                 FROM reach GROUP BY node)
         SELECT vec_id, component, (vec_id = component) AS keep
         FROM lab ORDER BY vec_id""",

    // count(embedding[i]) (non-null elements), not count(*): mirrors the
    // engine's per-dimension null filter so ragged/null vectors can't
    // diverge; range bound 65 = the fixture's dim 64 + 1
    "q90_group_centroids" ->
      """SELECT label, CAST(i - 1 AS INT) AS idx, count(embedding[i]) AS n,
           round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS mean_v
         FROM embeddings, range(1, 65) t(i)
         GROUP BY label, i ORDER BY label, idx""",

    "q70_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT vec_id, v,
                 coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) AS ma
               FROM e),
         q AS (SELECT vec_id, v,
                 CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END AS sc
               FROM s)
         SELECT vec_id,
           array_to_string(list_transform(v,
             x -> CAST(greatest(-127, least(127, floor(x * sc + 0.5))) AS INT)), ',') AS qvec,
           round(sc, 6) AS scale
         FROM q ORDER BY vec_id"""
  )
}
