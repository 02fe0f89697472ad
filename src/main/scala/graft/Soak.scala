package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 soak (round 9): all timing evidence so far is sf0.1 (~600k lineitem
  * rows). This main materializes a local sf1 copy of every test table
  * (heavy tables replicated 10× with key-space shifts, dims as-is), runs
  * the bench's slowest queries plus the adversarial-shape gates
  * (q117 fuzzy join, q118 salted join, q97 dup spans) once each, and
  * asserts the physical plan stays sane under AQE at the bigger stats —
  * no CartesianProduct, no BroadcastNestedLoopJoin. Artifact: SOAK_r09.json.
  *
  * Replication semantics: fact keys shift per replica so uniqueness and
  * fact↔fact joins survive (`l_orderkey` and `o_orderkey` shift together);
  * dimension tables keep their cardinality, so per-dim fan-out grows 10× —
  * the right stress for join/agg plans. Document text gets a per-replica
  * suffix token so the corpus is near-dup-rich rather than exact-dup
  * degenerate; event timestamps shift a month per replica so temporal
  * structure scales instead of stacking.
  */
object Soak {

  private val SHIFT = 100000000L

  /** Queries under soak: the 10 slowest of the round-8 bench plus the
    * skew/fuzzy-join shapes round 9 touched. */
  private[graft] val soakQueries: Seq[String] = Seq(
    "q97_dup_spans", "q98_dedup_spans_removed", "q102_delta_evolve",
    "q111_delta_cdf", "q95_bpe_encode", "p14_pipeline_delta",
    "q94_bpe_train", "q66_dedup_components", "q81_semantic_dedup",
    "q103_delta_dv", "q117_editdist_join", "q118_salted_join",
    // round 10: the newly driver-free temperature mix under sf1 stats
    "q99_temperature_mix",
    // round 13 (carried r11 task): the r10/r11 surfaces under sf1 stats —
    // ANN recall floors, mapped CDF, stream full-outer, v2-checkpoint
    // write — plus the r13 row-tracking lifecycle and stream-static join
    "q128_ann_recall", "q131_delta_cdf_mapped", "q133_stream_full_outer",
    "q134_delta_v2cp", "q135_delta_rowtracking", "q137_stream_static_join",
    // round 13 late additions: hilbert-clustered OPTIMIZE, the widened
    // narrow/wide file mix, and metadata-only rename/drop — all under
    // 10× stats and the 2g heap cap
    "q139_delta_liquid", "q140_delta_widen", "q141_delta_rename",
    "q142_stream_availablenow", "q144_delta_crc",
    // round 14: continuous Delta tail, appendOnly lifecycle, variant
    // round-trip — the new protocol surfaces under 10× stats
    "q146_delta_tail", "q147_delta_append_only", "q148_delta_variant",
    "q149_delta_iceberg", "q150_delta_cdf_stream", "q151_delta_genpart",
    // round 15: full MERGE, Iceberg DV export + foreign source read,
    // CDF snapshot-start stream — the new surfaces under 10× stats
    "q152_delta_merge", "q153_iceberg_dv_export", "q154_iceberg_source",
    "q155_cdf_stream_snapshot", "q156_iceberg_write",
    "q157_iceberg_eq_delete", "q158_delta_update",
    // round 15 continuation: column defaults, metadata-table scans,
    // delete-applying Iceberg rewrite, UniForm auto-sync (an export per
    // commit at 10× stats), schema evolution, streaming Iceberg sink,
    // DROP FEATURE's truncate-history flow, the iceberg pipeline source
    "q159_delta_defaults", "q160_describe_detail",
    "q161_iceberg_meta_tables", "q162_iceberg_rewrite",
    "q163_delta_uniform", "q164_iceberg_evolution",
    "q165_iceberg_stream_sink", "q166_delta_drop_feature",
    "q167_iceberg_orphans", "q168_iceberg_stream_source",
    "p17_pipeline_iceberg", "p18_pipeline_iceberg_dest",
    // round 16: transform-partitioned scan, the v1 legacy fixture read,
    // and the mixed-spec evolution table
    "q169_iceberg_transforms", "q170_iceberg_v1_source",
    "q171_iceberg_spec_evolution", "q172_iceberg_refs",
    "q173_iceberg_stats_skip", "q174_iceberg_incremental",
    "q175_delta_ts_stats", "q176_uniform_bounds")

  private def replicate(df: DataFrame, copies: Int)(shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(k => shift(df, k)).reduce(_ unionByName _)

  /** Build the sf1 directory from an sf0.1 directory if not already there. */
  def buildSf1(spark: SparkSession, sf01: String, out: String, copies: Int = 10): Unit = {
    val done = new java.io.File(s"$out/_SOAK_READY")
    if (done.exists()) return
    val outDir = new java.io.File(out)
    outDir.mkdirs()
    def w(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    Seq("region", "nation", "customer", "supplier", "part").foreach { n =>
      w(n, Tables.t(spark, sf01, n))
    }
    w("orders", replicate(Tables.t(spark, sf01, "orders"), copies) { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * SHIFT))
    })
    w("lineitem", replicate(Tables.t(spark, sf01, "lineitem"), copies) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * SHIFT))
    })
    w("events", replicate(Tables.t(spark, sf01, "events"), copies) { (d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k * SHIFT))
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${k * 31} DAYS"))
    })
    w("documents", replicate(Tables.t(spark, sf01, "documents"), copies) { (d, k) =>
      d.withColumn("doc_id", col("doc_id") + lit(k * SHIFT))
        .withColumn("text", concat(col("text"), lit(s" replica$k")))
    })
    w("embeddings", replicate(Tables.t(spark, sf01, "embeddings"), copies) { (d, k) =>
      d.withColumn("vec_id", col("vec_id") + lit(k * SHIFT))
    })
    done.createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    val artifact = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "SOAK_r10.json")
    // comma-separated name-substring subset for isolated reproduction
    // (e.g. SPARK_GRAFT_SOAK_SUBSET=q97,q98) — full list when unset
    val subset = sys.env.get("SPARK_GRAFT_SOAK_SUBSET")
    val queries = SparkEntry.queries
    val selected = Measure.select(subset, soakQueries.map(n => n -> queries(n)))
    val spark = Sessions.local()
    // tight-memory envelope knob (what a memory-constrained deployment
    // sets): AQE shuffles start 4× finer than the parallelism and
    // coalesce by byte size, so big exchanges get 4× smaller per-task
    // working sets — the difference between fitting and OOMing the 2 GiB
    // soak heap at sf1. Deliberately NOT in the default session: on a
    // memory-rich box the extra map-output granularity costs ~25% on the
    // shuffle-heavy pair miners for no benefit (measured, r15).
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      (spark.sparkContext.defaultParallelism * 4).toString)
    // second envelope knob (r16, q98 margin): coalesce exchanges toward
    // 16 MiB targets instead of the 64 MiB default — per-task working
    // sets (sort buffers, join builds) shrink 4×, which is what keeps 32
    // concurrent tasks inside the 2 GiB heap when the pair miners' big
    // exchanges and the Delta lifecycle gates share one old gen
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    val t0 = System.nanoTime()
    buildSf1(spark, sf01, out)
    val buildSec = (System.nanoTime() - t0) / 1e9

    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Option[String])]
    // times `body` and records its problem, if any (a throw is one)
    def record(name: String)(body: => Option[String]): Unit = {
      val t = Measure.timed(Measure.attempt(spark)(body))
      results += name -> (t.wallSec, t.value)
      println(f"[soak] $name%-28s ${t.wallSec}%8.2fs plan_ok=${t.value.isEmpty} ${t.value.getOrElse("")}")
    }
    selected.foreach { case (name, fn) =>
      record(name) {
        // execute THIS QueryExecution (a separate write/count would plan
        // its own) so the adaptive plan we inspect is the runtime-final
        // one — AQE's re-plan under the sf1 stats is exactly what's
        // being pinned here
        val qe = fn(spark, out).queryExecution
        qe.toRdd.foreach(_ => ())
        val plan = qe.executedPlan.toString
        val ok = !plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin") &&
          (!plan.contains("AdaptiveSparkPlan") || plan.contains("isFinalPlan=true"))
        if (ok) None else Some("plan flipped to product/BNL or did not finalize")
      }
    }

    // -------- non-query soak scenarios (r14): multi-writer rebase under
    // real thread races, and clustered-compact + checksum-audit churn —
    // the writer-side invariants a maintenance daemon leans on at scale,
    // exercised against sf1 row volumes under the same heap cap.
    def scenario(name: String)(run: => Unit): Unit = record(name) { run; None }

    if (subset.isDefined) {
      // isolated-reproduction mode: queries only
    } else {
    scenario("soak_concurrent_writers") {
      import graft.destinations.DeltaWrite
      import graft.sources.DeltaLog
      val orders = spark.read.parquet(s"$out/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val tbl = QueryHelpers.tmp("soak-cc").resolve("t").toString
      DeltaWrite.createIfAbsent(spark, tbl,
        orders.schema.asInstanceOf[org.apache.spark.sql.types.StructType])
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val fs = (0 until 4).map { w =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = (0 until 3).foreach { i =>
              DeltaWrite.append(spark, tbl,
                orders.filter(col("o_orderkey") % 12 === (w * 3 + i)))
            }
          })
        }
        fs.foreach(_.get(600, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      val snap = DeltaLog.snapshot(spark, tbl)
      require(snap.version == 12L, s"expected 12 rebased commits, got ${snap.version}")
      val n = DeltaLog.read(spark, tbl).count()
      val want = orders.count()
      require(n == want, s"row loss under racing writers: $n != $want")
      require(DeltaLog.verifyChecksum(spark, tbl, None), "checksum chain broke")
    }

    scenario("soak_cluster_churn") {
      import graft.destinations.DeltaWrite
      import graft.sources.DeltaLog
      val orders = spark.read.parquet(s"$out/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val tbl = QueryHelpers.tmp("soak-churn").resolve("t").toString
      DeltaWrite.createIfAbsent(spark, tbl,
        orders.schema.asInstanceOf[org.apache.spark.sql.types.StructType])
      (0 until 4).foreach { i =>
        DeltaWrite.append(spark, tbl,
          orders.filter(col("o_orderkey") % 4 === i).repartition(2))
        DeltaWrite.compact(spark, tbl, targetFileBytes = 1L << 30,
          clusterBy = Seq("o_custkey", "o_totalprice"), curve = "hilbert")
        require(DeltaLog.verifyChecksum(spark, tbl, None),
          s"checksum audit failed after churn round $i")
      }
      val n = DeltaLog.read(spark, tbl).count()
      val want = orders.count()
      require(n == want, s"row drift under clustered churn: $n != $want")
    }
    }

    import Measure.{f3, jsonString => js}
    val qs = results.map { case (k, (sec, err)) =>
      s"""${js(k)}:{"sec":${f3(sec)},"plan_ok":${err.isEmpty}${err.fold("")(e => s""","err":${js(e)}""")}}"""
    }.mkString("{", ",", "}")
    val allOk = results.values.forall(_._2.isEmpty)
    // heap cap recorded so the artifact proves WHICH memory envelope the
    // run survived (round 10 runs the soak at a deliberately small heap to
    // back the "driver memory bounded" claims under pressure — in local
    // mode one -Xmx caps driver AND all 32 executor threads at once)
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    val json = s"""{"sf":${js(s"1 (10x replicated $sf01)")},"build_sec":${f3(buildSec)},"heap_gb":${f3(heapGb)},"driver_mem":${js(sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))},"cpus":${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")},"all_plans_ok":$allOk,"queries":$qs}"""
    val fw = new java.io.FileWriter(artifact)
    fw.write(json + "\n")
    fw.close()
    println(json)
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
