package graft

/** Driver-contract benchmark main: one JSON line with per-query wall times.
  *
  * Round-1 verdict fixes baked in:
  *   - queries materialize through the `noop` sink (full evaluation of the
  *     exact graded plan) instead of `.count()`, which let Catalyst prune
  *     most of the work;
  *   - one untimed warm-up pass absorbs session/codegen/first-scan costs so
  *     per-query numbers are attributable;
  *   - failures are recorded explicitly (`errors` map + 1e9-second sentinel)
  *     instead of silently improving the total.
  */
object Bench {

  // ---- frozen cross-round subsets ----------------------------------------
  // like-for-like trend vs BENCH_r01 (which covered only the 19 round-1
  // queries): each rN_subset_sec totals the exact query set that existed at
  // round N, forever, so totals compare apples-to-apples as the count grows.
  // BenchSetsSpec pins that these sets partition SparkEntry.queries — adding
  // a query without recording it in the CURRENT round's set fails the build.
  private[graft] val r1Names = Set("q01_pricing_summary", "q02_filter_pushdown",
    "q03_top_orders", "q04_priority_semi", "q05_nation_revenue",
    "q06_forecast_revenue", "q08_window_topn", "q09_window_running",
    "q10_rollup", "q11_intersect", "q12_except", "q13_case_buckets",
    "q14_scalar_subquery", "q15_union_cte", "q16_topk", "q17_strings",
    "q18_monthly_revenue", "q19_json_extract", "q20_dedup_exact")
  // queries added in round 3 (the round-2 surface = everything earlier)
  private[graft] val r3New = Set("q57_ann_lsh_exhaustive", "q58_ann_ivf_reuse",
    "q59_quality_score", "q60_incremental_dedup", "q61_cross_jaccard",
    "q62_interval_join", "q63_char_jaccard", "q64_deterministic_sample",
    "q65_sequence_pack",
    "p07_pipeline_json_ops", "p08_pipeline_csv", "p09_pipeline_dirsource",
    "p10_pipeline_textprep", "p11_pipeline_vector")
  // queries added in round 4
  private[graft] val r4New = Set("q66_dedup_components", "q67_repetition_filter",
    "q68_domain_mix", "q69_token_windows", "q70_quantize_int8",
    "q71_budget_select", "q72_contamination", "q73_pii_redact",
    "q74_line_dedup", "q75_bloom_dedup", "q76_hof_arrays", "q77_stats_agg",
    "q78_ignore_nulls", "q79_filter_clause", "q80_unigram_ppl",
    "p12_pipeline_curation")
  // queries added in round 5 (q96-q99 landed late in round 5 — ADVICE r5
  // caught their omission here before any cross-round total was skewed)
  private[graft] val r5New = Set("q81_semantic_dedup", "q82_gopher_rules",
    "q83_normalize", "q84_heavy_hitters", "q85_group_sample", "q86_bpe_pairs",
    "q87_bigram_lm", "q88_c4_clean", "q89_bm25", "q90_group_centroids",
    "q91_script_mix", "q92_winnow", "q93_dsir_select", "q94_bpe_train",
    "q95_bpe_encode", "q96_quality_classifier", "q97_dup_spans",
    "q98_dedup_spans_removed", "q99_temperature_mix", "p13_pipeline_stats")
  // queries added in round 6
  private[graft] val r6New = Set("q100_ann_ivf_persist",
    "q101_heavy_hitters_approx", "q102_delta_evolve", "p14_pipeline_delta")
  // queries added in round 8 (round 7 shipped none)
  private[graft] val r8New = Set("q103_delta_dv", "q104_delta_mapped",
    "q105_ann_pq", "q106_hash_split", "q107_shard_assign", "q108_ann_ivfpq",
    "q109_unpivot", "q110_pca_project", "q111_delta_cdf", "p15_pipeline_orc",
    "p16_pipeline_avro", "q112_blocklist", "q113_lateral",
    "q114_sketch_union", "q115_recursive_cte", "q116_variant",
    "q117_editdist_join", "q118_salted_join")
  // queries added in round 9 (streaming paths through the oracle gate)
  private[graft] val r9New = Set("q119_stream_join", "q120_stream_sessionize",
    "q121_stream_outer_join", "q122_stream_window", "q123_stream_dedup",
    "q124_stream_running_totals", "q125_delta_convert", "q126_group_by_all",
    "q127_delta_clone")
  // queries added in round 10
  private[graft] val r10New = Set("q128_ann_recall", "q129_delta_identity",
    "q130_webp_decode", "q131_delta_cdf_mapped", "q132_delta_ict",
    "q133_stream_full_outer")
  // queries added in round 11
  private[graft] val r11New = Set("q134_delta_v2cp")
  // queries added in round 13
  private[graft] val r13New = Set("q135_delta_rowtracking", "q136_flac_decode",
    "q137_stream_static_join", "q138_stream_dedup_expiry", "q139_delta_liquid",
    "q140_delta_widen", "q141_delta_rename", "q142_stream_availablenow",
    "q143_stream_semi_join", "q144_delta_crc", "q145_delta_history")
  // queries added in round 14
  private[graft] val r14New = Set("q146_delta_tail", "q147_delta_append_only",
    "q148_delta_variant", "q149_delta_iceberg", "q150_delta_cdf_stream",
    "q151_delta_genpart")
  // queries added in round 15
  private[graft] val r15New = Set("q152_delta_merge", "q153_iceberg_dv_export",
    "q154_iceberg_source", "q155_cdf_stream_snapshot", "q156_iceberg_write",
    "q157_iceberg_eq_delete", "q158_delta_update", "q159_delta_defaults",
    "q160_describe_detail", "q161_iceberg_meta_tables", "q162_iceberg_rewrite",
    "q163_delta_uniform", "q164_iceberg_evolution", "q165_iceberg_stream_sink",
    "q166_delta_drop_feature", "q167_iceberg_orphans",
    "q168_iceberg_stream_source", "p17_pipeline_iceberg",
    "p18_pipeline_iceberg_dest")
  // queries added in round 16
  private[graft] val r16New = Set("q169_iceberg_transforms",
    "q170_iceberg_v1_source", "q171_iceberg_spec_evolution",
    "q172_iceberg_refs", "q173_iceberg_stats_skip",
    "q174_iceberg_incremental", "q175_delta_ts_stats",
    "q176_uniform_bounds")
  // queries added in round 17
  private[graft] val r17New = Set("q177_iceberg_merge_stream",
    "q178_iceberg_replace_partitions", "q179_delta_ntz_stats",
    "q180_iceberg_foreign_types", "q181_iceberg_merge_batch",
    "q182_iceberg_v3_dv", "q183_iceberg_v3_variant",
    "q184_iceberg_v3_row_lineage")
  // queries added in round 18
  private[graft] val r18New = Set("q185_iceberg_v3_dv_delete",
    "q186_iceberg_v3_ts_ns", "q187_iceberg_v3_lineage_rewrite",
    "q188_iceberg_rewrite_eq_deletes")
  private[graft] val laterRounds =
    Seq(r3New, r4New, r5New, r6New, r8New, r9New, r10New, r11New, r13New,
      r14New, r15New, r16New, r17New, r18New)
  // r8_subset_sec is the r8-era 134-query total: the round-9 streaming gates
  // each pay multi-trigger micro-batch fixed costs, so THIS is the number to
  // compare against BENCH_r08's 81.5s, not the grand total. r9_subset_sec is
  // the round-9 143-query surface: compare it against bench_full @ 4f4c70d's
  // 130.4s total (clean r9 run).
  private val subsets: Seq[(String, String => Boolean)] =
    ("r1_subset_sec" -> r1Names) +:
      Seq("r2", "r3", "r4", "r5", "r6", "r8", "r9").zipWithIndex.map { case (r, i) =>
        s"${r}_subset_sec" -> ((k: String) => !laterRounds.drop(i).exists(_(k)))
      }
  // ------------------------------------------------------------------------

  /** One query's kept (per-pass minimum) wall seconds, the process-CPU
    * seconds of the pass that set it, and the first pass's wall seconds. */
  private[graft] final case class Timing(sec: Double, cpuSec: Double, firstSec: Double)

  /** The run's load samples and pass totals, for the contamination verdict. */
  private[graft] final case class Conditions(load1Initial: Double, load1Start: Double,
      load1End: Double, rerunGain: Double, lastGain: Double, lastDeltaSec: Double,
      passes: Int)

  /** Where the per-query detail goes: under the build directory, so a run
    * from the checkout root leaves the tracked files alone. */
  private[graft] val FullReport = java.nio.file.Paths.get("target", "bench_full.json")

  /** The stdout contract line and the [[FullReport]] body. `results`
    * holds every selected query; a failed one keeps the 1e9-second sentinel
    * and has its message in `errors`.
    */
  private[graft] def report(results: Seq[(String, Timing)], errors: Seq[(String, String)],
      c: Conditions, sfDir: String): (String, String) = {
    import Measure.{f3, jsonString => js}
    val failed = errors.map(_._1).toSet
    // flagged when the box was loaded at start, or the two cleanest passes
    // still disagree by far more than the ~10% a quiet box shows (absolute
    // floor keeps sub-second noise at toy scale factors from tripping).
    // The rule itself and the round-8-era rule's verdict are BOTH emitted,
    // so artifact consumers can tell a policy change from an environment
    // change (ADVICE r9).
    val contaminationRule =
      "load1_start>2.0 || (last_gain>0.2 && last_delta_sec>10) [3rd pass on rerun_gain>0.2]"
    val contaminated = c.load1Start > 2.0 || (c.lastGain > 0.2 && c.lastDeltaSec > 10.0)
    val contaminatedR8Rule = c.load1Start > 2.0 || (c.lastGain > 0.15 && c.lastDeltaSec > 5.0)
    val total = results.map(_._2.sec).sum
    val subsetJson = subsets.map { case (key, in) =>
      s""""$key":${f3(results.collect { case (k, t) if in(k) => t.sec }.sum)}"""
    }.mkString(",")
    val loadJson = s""""load1_initial":${f3(c.load1Initial)},"load1_start":${f3(c.load1Start)},"load1_end":${f3(c.load1End)},"rerun_gain":${f3(c.rerunGain)},"last_gain":${f3(c.lastGain)},"passes":${c.passes},"full_rerun":true,"contaminated":$contaminated,"contamination_rule":${js(contaminationRule)},"contaminated_r8_rule":$contaminatedR8Rule"""
    val errJson = errors.map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString("{", ",", "}")
    // the driver keeps only the ~2000-char TAIL of this process's output
    // (which also swallows sbt's epilogue), and every BENCH_r*.json through
    // r9 has parsed:null because the full per-query map pushed the line
    // past that window and truncated its HEAD. The stdout line therefore
    // carries only the 20 slowest queries (prefix keys, 3-decimal seconds
    // — ~700 chars all in, parseable with room to spare); the complete
    // per-query detail lives in target/bench_full.json, named by
    // "queries_full".
    val top = results.filterNot { case (k, _) => failed(k) }.sortBy(-_._2.sec).take(20)
    val shown = top.map { case (k, t) => s"${js(k.takeWhile(_ != '_'))}:${f3(t.sec)}" }
      .mkString("{", ",", "}")
    // full per-query detail: kept wall, process-CPU seconds (wall >> cpu/32
    // on an idle box; wall inflated with cpu flat = external load), and the
    // first-pass wall
    val full = results.map { case (k, t) =>
      s"""${js(k)}:{"sec":${f3(t.sec)},"cpu_sec":${f3(t.cpuSec)},"first_sec":${f3(t.firstSec)}}"""
    }.mkString("{", ",", "}")
    val head = s""""metric":"total","value":${f3(total)},"unit":"sec""""
    (s"""{$head,"n_queries":${results.size},$subsetJson,$loadJson,"queries":$shown,"queries_shown":${top.size},"queries_full":${js(FullReport.toString)},"errors":$errJson,"sf":${js(sfDir)}}""",
      s"""{$head,$subsetJson,$loadJson,"queries":$full,"errors":$errJson,"sf":${js(sfDir)}}""")
  }

  /** 1-minute loadavg — external-load attribution for the round-wrap bench.
    * Sampled before the Spark session spins up (so it reflects co-located
    * load, not this process) and again at the end.
    */
  private def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    // Three straight rounds started on a box with load1 > 2 and self-flagged
    // contaminated. Wait (bounded) for co-located load to drain BEFORE the
    // session exists — a few idle minutes buys trustworthy absolute numbers,
    // and the flag then reflects load that arrived DURING the run.
    val loadInitial = load1()
    val maxWaitMs =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_WAIT_SEC", "240").toLong * 1000
    val waitDeadline = System.currentTimeMillis() + maxWaitMs
    while (load1() > 1.5 && System.currentTimeMillis() < waitDeadline)
      Thread.sleep(5000)
    val loadStart = load1() // before the session exists: pure external load
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // attribution tooling (driver contract untouched when unset): run only
    // queries whose name contains one of the comma-separated substrings —
    // lets a regression be timed in isolation vs inside the full run
    val selected = Measure.select(sys.env.get("SPARK_GRAFT_BENCH_SUBSET"))
    val spark = Sessions.local()
    Measure.warmUp(spark, sfDir, selected)

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timedPass(name: String, fn: Measure.Query): (Double, Double) = {
      val t = Measure.timed(Measure.materialize(spark, sfDir, fn))
      t.value.foreach(msg => errors(name) = msg)
      // sentinel: failures must hurt the metric
      (if (t.value.isEmpty) t.wallSec else 1e9, t.cpuSec)
    }
    val firstPass = selected.map { case (name, fn) =>
      val (w, c) = timedPass(name, fn)
      name -> Timing(w, c, w)
    }

    // Min-of-two, UNCONDITIONALLY (round 9): earlier rounds re-timed only
    // the slowest 10 unless contamination fired, so each round's total
    // silently depended on WHICH mitigation ran (r8's full rerun read ~15%
    // faster than a single-pass r9 on identical code). Every query now
    // always gets a second timed pass and keeps the per-query min — a
    // transient load spike hits one pass, not both, and round-over-round
    // totals compare one policy. (Per-query loadavg sampling can't drive
    // this: during the run load1 is dominated by our OWN 32 executor
    // threads, so only the pre-session sample and the rerun delta
    // distinguish external load.)
    def retime(prev: Seq[(String, Timing)]): Seq[(String, Timing)] =
      selected.zip(prev).map { case ((name, fn), (_, t)) =>
        if (errors.contains(name)) name -> t
        else {
          val (w, c) = timedPass(name, fn)
          name -> (if (w < t.sec) Timing(w, c, t.firstSec) else t)
        }
      }
    def okTotal(pass: Seq[(String, Timing)]): Double =
      pass.collect { case (n, t) if !errors.contains(n) => t.sec }.sum
    val secondPass = retime(firstPass)
    val firstTotal = okTotal(firstPass)
    val secondTotal = okTotal(secondPass)
    val rerunGain = if (firstTotal > 0) (firstTotal - secondTotal) / firstTotal else 0.0
    // Mitigate, don't just flag (r19; two straight rounds of driver PERF
    // data were discarded because a loaded FIRST pass tripped the
    // contamination rule): when min-of-two still recovered suspiciously
    // much — i.e. the first pass is known-polluted — run a THIRD timed
    // pass and keep the per-query min of all passes. The verdict then
    // compares the two CLEANEST passes (second vs third): one noisy first
    // pass can no longer invalidate the whole run, while genuine sustained
    // load still trips the flag on the rerun delta. `passes` records which
    // policy ran.
    val needThird = rerunGain > 0.2 && firstTotal - secondTotal > 10.0
    val results = if (needThird) retime(secondPass) else secondPass
    val keptTotal = okTotal(results)
    // stability of the two cleanest passes: pass2-vs-kept when a third ran,
    // first-vs-kept otherwise (identical to the r9-r18 definition then)
    val lastBase = if (needThird) secondTotal else firstTotal
    val lastGain = if (lastBase > 0) (lastBase - keptTotal) / lastBase else 0.0
    val (line, full) = report(results, errors.toSeq,
      Conditions(loadInitial, loadStart, load1(), rerunGain, lastGain, lastBase - keptTotal,
        if (needThird) 3 else 2),
      sfDir)
    try {
      java.nio.file.Files.createDirectories(FullReport.getParent)
      java.nio.file.Files.writeString(FullReport, full + "\n")
    } catch { case _: java.io.IOException => () } // best-effort side artifact
    println(line)
    spark.stop()
  }
}
