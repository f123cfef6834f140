package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Driver-contract smoke: entry rows>0, registry consistency. */
class EntrySpec extends SparkSpec {

  /** `src/main/scala`, found above the working directory. */
  private def mainRoot: Path = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
    .takeWhile(_ != null)
    .map(_.resolve("src/main/scala"))
    .find(Files.isDirectory(_))
    .getOrElse(fail("src/main/scala not found above the working directory"))

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq

  test("entry (flagship agg_groupby at sf0.001) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("engine code reads no runtime switch beyond GRAFT_BCAST_LIMIT") {
    // one code path per operator: a new sys.props / GRAFT_* env read
    // outside graft.tools fails here, so it shows up in review
    val root = mainRoot.resolve("graft")
    val files = scalaFiles(root).filterNot(_.startsWith(root.resolve("tools")))
    assert(files.size > 20)
    val jvmProps = Set("java.io.tmpdir", "user.name")
    def envOk(key: String) = key == "GRAFT_BCAST_LIMIT" || key.startsWith("SPARK_GRAFT_")
    // a read is allowed only with a literal key; group 1 is that key
    val envRead = """(?:sys\.env|System\.getenv)(?:(?:\.(?:get|getOrElse|contains|apply))?\s*\(\s*"([^"]*)")?""".r
    val propRead = """System\.getProperty(?:\s*\(\s*"([^"]*)")?""".r
    val graftLit = """"(GRAFT_\w+)""".r
    val violations = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      val where = root.relativize(f)
      def keys(r: scala.util.matching.Regex) =
        r.findAllMatchIn(src).map(m => Option(m.group(1))).toSeq
      def show(k: Option[String]) = k.getOrElse("<non-literal key>")
      (if (src.contains("sys.props")) Seq(s"$where: sys.props") else Nil) ++
        keys(envRead).filterNot(_.exists(envOk)).map(k => s"$where: env ${show(k)}") ++
        keys(propRead).filterNot(_.exists(jvmProps)).map(k => s"$where: property ${show(k)}") ++
        graftLit.findAllMatchIn(src).map(_.group(1))
          .filter(_ != "GRAFT_BCAST_LIMIT").map(k => s"$where: literal $k")
    }
    assert(violations.isEmpty, violations.mkString("new runtime switches:\n", "\n", ""))
  }

  test("main code imports no GraphX") {
    // the graph operators run on the block superstep kernel; GraphX is the
    // test-scope reference (GraphXRef)
    val root = mainRoot
    val users = scalaFiles(root)
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("org.apache.spark.graphx"))
      .map(root.relativize(_).toString).toSet
    assert(users.isEmpty, s"GraphX in main code: $users")
  }

  test("main code resolves a cache root only inside CacheDirs") {
    // derived copies go through cachedParquet/cachedBucketedTable, which
    // lock and fingerprint them; a write straight into a root does neither
    val root = mainRoot
    val callers = scalaFiles(root)
      .map(root.relativize(_).toString)
      .filter(_ != "graft/model/CacheDirs.scala")
      .filter(f => """CacheDirs\.root\b""".r
        .findFirstIn(new String(Files.readAllBytes(root.resolve(f)), "UTF-8")).isDefined)
    assert(callers.isEmpty, s"CacheDirs.root called from: ${callers.mkString(", ")}")
  }

  test("every oracle key has a query; names are unique and non-empty") {
    val q = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(q.keySet))
    assert(q.keySet.forall(_.nonEmpty))
    assert(Queries.all.size == q.size)
  }

  test("declared inventory covers the SURVEY §2.2 core surface") {
    val required = Seq(
      "scan_project", "filter_pred", "point_lookup", "semi_join_ids",
      "anti_join_delete", "upsert_dedup", "update_patch", "neighbors_1hop",
      "khop_2", "degree_by_label", "detected_prop", "inner_join",
      "broadcast_join", "outer_join", "theta_range_join", "agg_groupby",
      "agg_distinct", "rollup_cube", "window_rank", "window_running",
      "sort_limit_topk", "set_ops", "scalar_funcs", "json_extract",
      "flatten_attrs", "tumbling_window", "sliding_window", "session_window",
      "dedup_exact", "dedup_minhash", "similarity_topk", "text_tokens",
      "multimodal_cols", "graph_pagerank", "graph_cc", "graph_triangles",
      "ego_subgraph", "mongo_filter",
      // round-2 additions
      "asof_join", "agg_stats", "pivot_wide", "skew_salted_join", "agg_sketch",
      "dedup_simhash", "dedup_ngram_jaccard", "dedup_embedding",
      "similarity_lsh", "similarity_ivf", "quality_filter", "sample_stratified",
      "doc_fingerprint", "token_count_bpe", "lang_id", "text_quality",
      "multimodal_decode", "multimodal_frames", "graph_bfs_dist", "graph_lpa",
      // round-4 additions
      "pii_redact", "contamination_ngram", "quality_unigram",
      "graph_shortest_paths", "snapshot_diff",
      // round-5 additions
      "snapshot_diff_edges", "pack_sequences", "curation_pipeline",
      // round-6 additions
      "chunk_docs", "quality_repetition", "vocab_topk", "interleave_sources",
      "graph_kcore", "sketch_hll_replay",
      // round-6 late additions
      "neardedup_pipeline", "bpe_merge_pairs", "tfidf_topk",
      "outlier_zscore", "incremental_agg",
      "event_funnel", "retention_cohort", "rag_retrieval", "window_time_range",
      "stream_join_attribution", "table_profile", "window_ntile",
      "graph_assortativity", "nest_collect", "event_transitions",
      "minhash_est_error", "quantile_cont", "schema_evolution",
      // round-7 additions
      "scd2_upsert", "sketch_cms_topk", "graph_closeness",
      "shuffle_deterministic", "sketch_quantile_hist",
      "bloom_semi_join", "layout_zorder", "fuzzy_match_blocked",
      "graph_common_neighbors", "graph_resource_alloc", "text_search_bool",
      "window_percent_rank", "data_quality_checks", "profile_drift",
      "asof_join_tolerance", "skyline_pareto",
      // round-8/9 additions
      "similarity_ivf_recall", "agg_sketch_calibration",
      "multimodal_audio_windows", "multimodal_resize",
      "lm_score_bigram", "graph_eigenvector",
      // round-10 additions
      "regr_slope", "window_gap_fill", "mixture_temperature", "graph_hits",
      "quality_gini", "graph_ktruss",
      "dedup_substring", "outlier_mad", "quality_encoding", "graph_walks",
      "unpivot_long", "window_ewma", "interval_coverage", "cdc_apply",
      "multimodal_phash", "graph_harmonic", "similarity_join_exact",
      "graph_modularity", "watermark_audit", "vocab_nucleus",
      // round-10b additions
      "bm25_retrieval", "ngram_pmi", "mask_spans", "split_holdout",
      "rfm_segment", "graph_rich_club", "sketch_hll_intersect",
      "ts_autocorr", "ts_changepoint", "sketch_join_cardinality",
      "multimodal_scene_cut", "ts_seasonality", "table_diff_digest",
      "negative_sampling", "bootstrap_ci", "graph_eccentricity")
    val missing = required.filterNot(SparkEntry.queries.keySet.contains)
    assert(missing.isEmpty, s"missing: $missing")
  }
}
