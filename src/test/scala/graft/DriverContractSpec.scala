package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's key sets, pinned as literals: every query key the
  * driver benchmarks, and the DuckDB oracle coverage over them. Keys may
  * be added only by updating this list on purpose; oracles may be added,
  * never dropped. Spark-free: building the maps runs no query.
  */
class DriverContractSpec extends AnyFunSuite {
  private val QueryKeys = Seq(
    "ann_bruteforce", "ann_ivf", "ann_knn_join", "ann_lsh",
    "anti_join_customers", "asof_join", "chunk_tokens", "curate",
    "dataset_mix", "decontaminate", "dedup_clusters", "dedup_exact",
    "dedup_jaccard_pairs", "dedup_minhash_pairs", "dedup_simhash_pairs",
    "dedup_survivors", "doc_repetition", "doc_token_stats",
    "embed_dup_clusters", "embed_dup_pairs", "embed_norms", "gapfill_1h",
    "group_quantiles", "group_sample", "hash_split", "hot_ngrams",
    "interval_join_sessions", "join_broadcast_agg", "lang_id_dist",
    "line_dedup", "m4_downsample", "multimodal_features",
    "multimodal_frames", "pack_sequences", "pii_scrub", "pivot_roundtrip",
    "q1_agg", "quality_gate", "rollup_1d_cascade", "rollup_1h_cascade",
    "rollup_1m", "rollup_grouping_sets", "segment_decode_sql",
    "segment_stats", "sessionize", "substring_cut", "substring_dedup",
    "text_normalize", "text_quality", "tfidf_top_terms", "top_parts",
    "turn_gap_quantiles", "type_rollup_1h", "value_segments_roundtrip",
    "window_running", "window_sliding_1h")

  test("query keys are the 56 pinned driver-contract keys") {
    assert(QueryKeys.size == 56 && QueryKeys == QueryKeys.sorted.distinct)
    assert(SparkEntry.queries.keySet.toSeq.sorted == QueryKeys)
  }

  test("every query but segment_stats has a DuckDB oracle") {
    assert(SparkEntry.oracleSql.keySet.toSeq.sorted == QueryKeys.filterNot(_ == "segment_stats"))
  }
}
