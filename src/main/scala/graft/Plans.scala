package graft

/** Physical-plan evidence dump: writes `.explain("formatted")` output for
  * the headline queries to PLANS.md so the scale-critical plan properties
  * (pushdown reaching the scan, broadcast on dims, bounded top-k
  * aggregates instead of windows, equi-joins instead of cartesians,
  * partial aggregation) are reviewable as text, not just asserted by
  * PlanSpec. Regenerate with:
  *   sbt "runMain graft.Plans /root/testdata/sf0.001 PLANS.md"
  */
object Plans {

  /** The queries whose plans carry the scale argument. */
  val Headline: Seq[String] = Seq(
    "q01_pricing_summary",   // partial agg + decimal sums
    "q02_filter_project",    // PushedFilters + pruned ReadSchema
    "q04_broadcast_dims",    // BroadcastHashJoin on small dims
    "q32_minhash_lsh_pairs", // LSH band equi-join, no cartesian
    "q40_knn_brute",         // TopKPairs re-rank, no Window
    "q45_ivf_topk",          // IVF cell equi-join + bounded re-rank
    "q55_partitioned_roundtrip", // PartitionFilters on the pruned read
    "q58_range_join",        // bucketed range join, no nested loop
    "q64_topk_neighbors",    // the co-rated chain + ranking
    "q77_topk_agg",          // the bounded heap aggregate itself
    "q108_mixture_sample",   // pure scan predicate: zero exchanges
    "q109_pack_offsets",     // two-level prefix sum: partitioned windows
    "q111_shard_shuffle",    // distributed rank, same decomposition
    "q115_decontaminate_fuzzy", // corpus×bench bands: broadcast probe side
    "q118_cdc_merge",        // max_by compaction: one aggregate, no window
    "q241_ks_test",          // banded ECDF scan: windows partition on band
    "q213_harmonic_pack",    // per-(key, sub-band) rank windows
    "q258_chunk_sliding",    // pure per-row chunk arithmetic: no exchange
    "q259_mmr_select",       // per-round TakeOrdered argmax, literal vectors
    "q263_containment_probe_rarity", // demoted-order probe: shingle equi-join
    "q265_ks_per_key",       // per-key banded ECDF: key-partitioned windows
    "q268_incremental_ivf",  // delta fold: anti-join + delta-only centroid math
    "q271_weighted_topn",    // A-ES sample: one scan + TakeOrdered(n)
    "q272_weighted_topn_per_key", // per-key A-ES: bounded heap, no window sort
    "q279_kmv_distinct_per_key",  // KMV sketch: two-stage partial agg, no sort
    "q283_kmv_rollup",       // sketch cube roll-up: refold values, no rescan
    "q285_gk_quantiles_per_key", // GK quantile sketch: partial-agg path, no sort
    "q287_gk_rollup",        // quantile cube: summary-merge agg, no rescan
    "q291_sketch_cube",      // KMV+MG+GK in ONE aggregation pass
    "q294_kmv_sliding_state", // suffix-minima window sketch: partial-agg path
    "q299_gk_sliding_window", // EH sliding quantiles: distributed hourly agg → per-key mapGroups, verify joins broadcast estimates
    "q307_decayed_stats",     // decayed stats: one agg pass + broadcast tRef, decimal partials
    "q311_gk_sliding_sparse", // sparse EH: same shape on a 10^8-position grid, no dense fill
    "q315_decayed_misra_gries", // decayed MG: one sketch pass + broadcast ≤k entries into the exact frame
    "q327_ivf_filtered",     // filtered ANN: label predicate pushed to the corpus scan
    "q332_ivf_filtered_multiprobe", // filter + nProbe=2: same pushdown, queries replicated 2x
    "q333_sql_cm_cube",      // CM delta cube via SQL: distinct+sum, partial-agg path
    "q334_served_ivf_index", // served ANN probe: predicates pushed to the compacted base scan
    "q338_served_ivf_pinned_read", // pinned-generation read: same pushed predicates, no quiescence
    "q339_bpe_encode_corpus", // corpus encode: ONE word equi-join + positional reassembly
    "q341_served_ivf_recall_curve") // sweep arms: per-depth probe joins + algebraic counts

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = args.lift(1).getOrElse("PLANS.md")
    val spark = SessionHygiene.session()
    val body = Headline.map { name =>
      s"## $name\n\n```\n${PlanDump.explain(spark, sfDir, name)}\n```\n"
    }.mkString("\n")
    val header =
      s"""# Physical plans (generated by `graft.Plans` at $sfDir)
         |
         |Evidence for the scale-critical plan properties PlanSpec asserts:
         |filters/projection push to the parquet scan, dimension joins
         |broadcast, candidate generation meets on equi-keys (bands / LSH
         |buckets / IVF cells / time buckets — never a cartesian), per-group
         |top-k runs through the bounded `TopKPairs` object-hash aggregate
         |(no full-candidate Window sort), and grouped aggregates keep
         |map-side partial aggregation.
         |""".stripMargin
    PlanDump.write(outPath, header + "\n" + body)
    println(s"[plans] wrote ${Headline.size} plans to $outPath")
    spark.stop()
  }
}
