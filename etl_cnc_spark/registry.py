"""Query registry — the single source of truth for the operator
inventory (SURVEY.md §2).

Every operator module registers its queries here with the
``@register`` decorator; ``__spark_entry__.py`` exposes the registry
to the driver as ``queries()`` / ``oracle_sql()``.

Checks (SURVEY.md §5):
- ``check="hash"``: a DuckDB oracle SQL string exists; the driver
  hash-compares values (order-insensitive, columns sorted by name).
- ``check="rows"``: no oracle (non-SQL-expressible op); the driver
  records a weaker rows-only check.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

BuildFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    build: BuildFn
    oracle: str | None = None
    check: str = "hash"  # "hash" | "rows"
    notes: str = ""
    bench: bool = False  # part of the flagship bench set (BASELINE.md)


REGISTRY: dict[str, QueryDef] = {}

# The driver's correctness sweep checks a bounded prefix of the
# registry, so ordering is evidence.  Rounds 1-13 accumulated 640
# distinct driver-checked keys (zero red ever); rotation history and
# per-round evidence live in .claude/skills/verify/SKILL.md.  Run
# `python tools/next_window.py` to recount the never-checked backlog
# and `python tools/preflight.py --exec <keys>` before rotating
# (catches driver-canonicalization traps: complex-typed output cells
# break the driver's pandas hasher).
DRIVER_WINDOW: list[str] = [
    # r15 rotation (optimization round). The driver takes a 50-key
    # prefix; the ordering below supports any prefix length.
    #
    # Positions 1-19 — changed-keys re-attest (the r9/r12/r13
    # precedent): the r15 optimization round rewrote 12 builds
    # outright (single-fact-pass q21, single-join minhash estimate,
    # explode-melt rfm, spread-scan topk/energy,
    # persist-not-checkpoint cindex/wasserstein, explode-symmetrized
    # cluster edges, linearized BFS/eigenvector unrolls) and touched
    # every prefix-machine caller via global_ordered's persist; the
    # direct rewrites + their composers lead, after the two
    # still-unattested r14/r15-changed keys (stat_hoeffding_d:
    # enforced DECIMAL cap; sql_entry_cache_table: tracked release).
    #
    # Positions 20-41 — the prior rotation's stale-changed queue in
    # `python tools/stale_queue.py` order; positions 42-50 — the 9
    # never-driver-checked keys, so the backlog still reaches 0 with
    # a 50-key window.  51+ — the remaining stale queue for r16+.
    "stat_hoeffding_d",
    "sql_entry_cache_table",
    "tpch_q21",
    "dedup_minhash_relational",
    "text_near_dup_cluster",
    "dedup_cluster",
    "events_rfm",
    "sim_topk_exact",
    "ml_survival_cindex",
    "stat_wasserstein_1d",
    "multimodal_energy_segments",
    "graph_eigenvector_centrality",
    "graph_bfs_distance",
    "graph_harmonic_centrality",
    "graph_pagerank",
    "dedup_substring_spans",
    "dedup_recall_report",
    "dedup_threshold_sweep",
    "text_contamination_check",
    "multimodal_frame_dedup",
    "events_kaplan_meier",
    "events_km_greenwood",
    "orders_bland_altman",
    "events_attribution_markov",
    "stat_cochran_q",
    "sim_ivf_nprobe_sweep",
    "text_bm25",
    "etl_pk_discovery",
    "events_transfer_entropy",
    "sim_ann_ivf",
    "sim_ann_ivf_q8",
    "sim_ann_ivfpq",
    "sim_reciprocal_nn",
    "sim_rocchio_feedback",
    "dedup_embedding",
    "graph_jaccard_linkpred",
    "events_user_overlap",
    "text_vocab_overlap",
    "stat_fligner_killeen",
    "stat_newey_west",
    "stat_yule_walker_ar2",
    "sql_entry_filter_clause",
    "sql_entry_lateral_alias",
    "sql_entry_exists",
    "sql_entry_values",
    "sql_entry_offset",
    "sql_entry_named_window",
    "ml_krippendorff_alpha",
    "embed_mmd_linear",
    "stat_taylor_law",
    "stat_pacf",
    "stat_periodogram",
    "stat_kruskal_wallis",
    "stat_mann_whitney",
    "stat_ks_test",
    "stat_anderson_darling",
    "stat_energy_distance",
    "stat_moran_i",
    "stat_geary_c",
    "pipeline_curate_e2e",
    "pipeline_training_mix",
    "pipeline_seq_pack",
    "text_self_bleu",
    "ml_auc_pr",
    "ml_ndcg_eval",
    "ml_lift_gains",
    "source_stream_files",
    "sink_stream",
    "stream_watermark",
    "stream_stateful",
    "dedup_minhash",
    "source_csv",
    "source_json",
    "sink_parquet",
    "sink_csv_json",
    "source_text",
    "scan_schema_merge",
    "source_csv_corrupt",
    "sink_partition_overwrite",
    "sink_python_ds",
    "join_nearest_time",
    "join_fuzzy_names",
    "agg_kmv_setops",
    "sort_zorder",
    "join_bucketed",
    "etl_quality_report",
    "etl_column_entropy",
    "etl_t_closeness",
    "events_funnel",
    "events_concurrency",
    "events_pareto",
    "orders_market_basket",
    "events_gini",
    "events_seasonal_decompose",
    "events_theil_sen",
    "events_autocorr",
    "events_changepoint",
    "events_holt",
    "events_forecast_backtest",
    "events_mix_shift",
    "events_anomaly_mad",
    "events_funnel_constrained",
    "events_markov_stationary",
    "events_rolling_slope",
    "events_volatility_band",
    "orders_abc_analysis",
    "events_var_cvar",
    "events_retention_halflife",
    "events_sax_symbolic",
    "events_holt_winters",
    "orders_backlog_aging",
    "events_lorenz_curve",
    "events_ljung_box",
    "events_time_to_convert",
    "orders_abc_migration",
    "events_logrank_test",
    "events_hmm_viterbi",
    "events_attribution_shapley",
    "events_reliability_growth",
    "events_classical_decomposition",
    "events_cuped",
    "agg_weighted_percentile",
    "stat_chi2_test",
    "stat_kendall_tau",
    "stat_cvm_test",
    "stat_cramers_v",
    "stat_qq_table",
    "stat_cooks_distance",
    "stat_hodges_lehmann",
    "stat_theil_decomposition",
    "stat_winsorized_trimmed",
    "stat_mad_robust_scale",
    "stat_cliffs_delta",
    "stat_ansari_bradley",
    "stat_lilliefors",
    "stat_kpss",
    "stat_adf",
    "stat_tail_index_hill",
    "stat_two_way_anova",
    "stat_dunn_posthoc",
    "stat_seasonal_mann_kendall",
    "stat_kuiper_test",
    "stat_cucconi",
    "stat_ccf",
    "stat_white_test",
    "stat_cointegration_eg",
    "stat_quade_test",
    "stat_siegel_slopes",
    "stat_watson_u2",
    "stat_cox_stuart",
    "stat_page_trend",
    "stat_ridit",
    "stat_g_test",
    "stat_runs_up_down",
    "stat_sprt_ab",
    "stat_pettitt",
    "text_fingerprint",
    "text_bigram_freq",
    "text_lm_score",
    "text_ngram_novelty",
    "pipeline_curriculum",
    "text_js_divergence",
    "text_kn_lm_score",
    "text_zipf_fit",
    "text_burrows_delta",
    "text_pmi_collocations",
    "text_vocab_coverage_curve",
    "ml_woe_iv",
    "ml_mutual_info",
    "ml_gbm_histogram",
    "ml_class_weights",
    "ml_target_encoding_cv",
    "ml_naive_bayes",
    "graph_triangles",
    "stream_foreach_batch",
    "stream_kafka_wire",
    "stream_stream_join",
    "dedup_ngram_jaccard",
    "dedup_contamination",
    "dedup_containment",
    "sim_topk_diverse",
    "sim_kmeans_refine",
    "embed_gram_power_iter",
    "embed_expert_routing",
    "embed_hubness_stats",
    "embed_cka_halves",
    "embed_triplet_mining",
]


# SURVEY.md §2 contract keys (all driver-green across rounds 1-2 except
# agg_partial_final, which is in DRIVER_WINDOW above).  Kept as the
# contract-completeness check; ordering places them right after the
# driver window, ahead of the remaining extras.
CONTRACT_PRIORITY: list[str] = [
    "source_stream_files", "sink_stream", "agg_pivot", "win_ranking",
    "win_lag_lead", "win_running", "win_moving", "win_first_last",
    "win_pct", "topk_per_group", "sort_multi", "limit_k", "topk_global",
    "set_union_all", "set_union", "set_intersect", "set_except",
    "fn_string", "fn_regex", "fn_datetime", "fn_math", "fn_conditional",
    "fn_cast", "fn_hash", "fn_array", "fn_map", "fn_json",
    "stream_tumbling", "stream_sliding", "stream_session",
    "stream_watermark", "stream_dedup", "stream_stateful", "stream_join",
    "dedup_exact", "dedup_minhash", "sim_topk_exact", "sim_ann_lsh",
    "text_stats", "text_tfidf", "text_lang_profile", "multimodal_cols",
    "udf_python", "udf_pandas_scalar", "udaf_pandas_agg",
    "udtf_grouped_map", "udtf_python", "udf_arrow_batch",
    "scan_parquet", "scan_parquet_pruned", "source_csv", "source_json",
    "sink_parquet", "sink_csv_json", "project_cols", "project_expr",
    "filter_simple", "filter_compound", "filter_null", "distinct_rows",
    "filter_subquery", "join_inner", "join_left", "join_right",
    "join_full", "join_semi", "join_anti", "join_cross", "join_broadcast",
    "join_range", "join_asof", "join_multiway", "join_skew_salted",
    "agg_global", "agg_groupby", "agg_having", "agg_count_distinct",
    "agg_approx_distinct", "agg_stats", "agg_collect", "agg_rollup",
    "agg_cube", "agg_grouping_sets", "agg_partial_final",
]

# Modules that register queries (imported for side effects by load_all).
_OP_MODULES = [
    "etl_cnc_spark.sources.scans",
    "etl_cnc_spark.sources.sinks",
    "etl_cnc_spark.sources.kafka",
    "etl_cnc_spark.sources.lakehouse",
    "etl_cnc_spark.sources.python_ds",
    "etl_cnc_spark.operators.projection",
    "etl_cnc_spark.operators.joins",
    "etl_cnc_spark.operators.aggregates",
    "etl_cnc_spark.operators.windows",
    "etl_cnc_spark.operators.sorts",
    "etl_cnc_spark.operators.sets",
    "etl_cnc_spark.operators.etl",
    "etl_cnc_spark.operators.analytics",
    "etl_cnc_spark.operators.stats",
    "etl_cnc_spark.operators.mlprep",
    "etl_cnc_spark.operators.graph",
    "etl_cnc_spark.operators.tpch",
    "etl_cnc_spark.functions.scalar",
    "etl_cnc_spark.streaming.batch_equiv",
    "etl_cnc_spark.streaming.streams",
    "etl_cnc_spark.llm.dedup",
    "etl_cnc_spark.llm.similarity",
    "etl_cnc_spark.llm.text",
    "etl_cnc_spark.llm.multimodal",
    "etl_cnc_spark.llm.retrieval",
    "etl_cnc_spark.udfs",
    "etl_cnc_spark.sql",
    "etl_cnc_spark.plans.rewrite",  # needs llm.similarity registered first
]


# --- deterministic cache release (ADVICE r13, medium) ---------------
#
# Builds persist() their data-scaled intermediates (SCALE.md r13
# checkpoint rule) but can NOT unpersist them: the returned DataFrame
# is lazy, so the cache must outlive the build call itself.  Without a
# release point, a 696-key single-session sweep accumulates every
# key's MEMORY_AND_DISK entries in the CacheManager until session end.
#
# The deterministic release point is the START of the next top-level
# build of a DIFFERENT key: every harness that matters (the grading
# driver, check.py, bench.py, pytest) is sequential and has fully
# consumed key N's result before building key N+1, so clearing there
# bounds the CacheManager to ONE key's working set.  Same-key rebuilds
# deliberately KEEP the caches — CacheManager matches the rebuilt plan
# by canonicalized-plan equality, so bench.py's warmup + timed-run
# protocol measures warm steady state exactly as it did before this
# wrapper existed (the frozen BASELINE.md gates assume that protocol).
# ``register`` wraps each build with a depth counter so COMPOSED
# builds (dedup_recall_report invoking REGISTRY["dedup_embedding"]
# .build) never clear mid-build; only the outermost entry releases.
# Release is SCOPED to the build's own entries (ADVICE r14, low): a
# persist()/cache() interception, active only while a registered build
# is on the stack, records exactly the frames the build cached, and the
# release unpersists those — never ``spark.catalog.clearCache()``, so a
# host application/notebook's own cached frames are untouched.
# ``unpersist(blocking=False)`` drops the SQL CacheManager entry only —
# lineage is kept on every persist() site, so a released frame
# recomputes correctly if an unconsumed DataFrame still references it
# (perf, never correctness), and localCheckpoint blocks (RDD-level
# storage, e.g. dedup_minhash's documented lineage break) are
# untouched.  One edge is inherited from CacheManager's plan-equality
# matching: if the host cached the SAME canonical plan a build also
# persists, they share one entry and the release drops it (the host's
# frame recomputes — again perf only).
#
# Thread-safety: the module globals below (depth counter, last key,
# tracked lists) assume SEQUENTIAL top-level builds in one driver
# thread — the contract every harness here has (grading driver,
# check.py, bench.py, pytest).  Concurrent job submission from
# multiple driver threads would race the depth counter and could
# release one thread's frames mid-build.
_build_depth = 0
_last_top_key: str | None = None
_tracked_frames: list[DataFrame] = []  # persisted by the current top key
_tracked_tables: list[str] = []  # CACHE TABLE names pinned by the key


def release_caches(spark: SparkSession) -> None:
    """Release every cache entry the current top-level key's builds
    have registered — the bench's cold-run hook (BASELINE.md r16
    protocol; VERDICT r15 "what's wrong" #1).

    Same-key rebuilds deliberately KEEP their caches under the normal
    release discipline (the wrapper only releases when the top-level
    key CHANGES), which means a warm-up + timed-rebuild protocol would
    time cache READS of every persisted subtree instead of the
    computation.  bench.py calls this between the warm-up and each
    timed run so every timed execution recomputes its persisted
    subtrees from the parquet inputs (localCheckpoint blocks never
    carry across rebuilds anyway — they are keyed to the original RDD
    instance, not to plan equality — so after this call a rebuilt
    query's plan has no warm Spark-side state left to read)."""
    _release_tracked(spark)


def in_registered_build() -> bool:
    """True while a registered build is on the stack — shared helpers
    use this to persist() reuse points ONLY when the release wrapper
    will reclaim them (a direct caller outside any build would leak
    the entry in the CacheManager for the session's lifetime)."""
    return _build_depth > 0


def track_sql_cached_table(name: str) -> None:
    """Record a ``CACHE TABLE name`` issued inside a registered build
    so the deterministic release can UNCACHE it (DataFrame-level
    interception cannot see SQL-surface cache commands)."""
    if _build_depth > 0:
        _tracked_tables.append(name)


def _release_tracked(spark: SparkSession) -> None:
    global _tracked_frames, _tracked_tables
    for df in _tracked_frames:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # a dead frame just means nothing left to release
    _tracked_frames = []
    for t in _tracked_tables:
        try:
            spark.sql(f"UNCACHE TABLE IF EXISTS {t}")
        except Exception:
            pass
    _tracked_tables = []


# Interception point: builds call plain ``df.persist()`` / ``.cache()``
# (85 sites follow the SCALE.md r13 checkpoint rule); wrapping the two
# DataFrame methods once here records the returned frame when — and
# only when — a registered build is on the stack (_build_depth > 0).
# Outside a build (host code, tests driving persist directly) the
# original behavior is byte-for-byte unchanged.  NOTE: Spark 4 made
# ``pyspark.sql.DataFrame`` an abstract facade whose CONCRETE subclass
# (pyspark.sql.classic.dataframe.DataFrame) overrides persist/cache —
# the wrap must land on every class that DEFINES the method in its own
# __dict__, or instances never see it.
def _wrap_tracking(cls, method: str) -> None:
    orig = cls.__dict__[method]

    @functools.wraps(orig)
    def tracking(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        if _build_depth > 0:
            _tracked_frames.append(out)
        return out

    setattr(cls, method, tracking)


def _install_tracking() -> None:
    classes = [DataFrame]
    try:  # the classic (py4j) engine — the one local/cluster runs use
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        classes.append(_CDF)
    except ImportError:  # pre-4.0 layout: DataFrame is already concrete
        pass
    for cls in classes:
        for method in ("persist", "cache"):
            if method in cls.__dict__:
                _wrap_tracking(cls, method)


_install_tracking()


def _with_cache_release(fn: BuildFn, name: str | None = None) -> BuildFn:
    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        global _build_depth, _last_top_key
        if _build_depth == 0:
            key = name or fn.__name__
            if _last_top_key is not None and _last_top_key != key:
                _release_tracked(spark)
            _last_top_key = key
        _build_depth += 1
        try:
            return fn(spark, sf_dir)
        finally:
            _build_depth -= 1

    return wrapped


def register(
    name: str,
    oracle: str | None = None,
    *,
    check: str | None = None,
    notes: str = "",
    bench: bool = False,
) -> Callable[[BuildFn], BuildFn]:
    """Register a query builder under ``name`` with its DuckDB oracle."""

    def deco(fn: BuildFn) -> BuildFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        resolved = check or ("hash" if oracle is not None else "rows")
        REGISTRY[name] = QueryDef(
            name=name,
            build=_with_cache_release(fn, name),
            oracle=oracle,
            check=resolved,
            notes=notes,
            bench=bench,
        )
        return fn

    return deco


_loaded = False


def load_all() -> dict[str, QueryDef]:
    """Import every operator module (idempotent) and return the registry."""
    global _loaded
    if not _loaded:
        for mod in _OP_MODULES:
            # A missing operator module means silent coverage loss —
            # always raise so the registry can never shrink unnoticed.
            importlib.import_module(mod)
        priority = list(dict.fromkeys(DRIVER_WINDOW + CONTRACT_PRIORITY))
        missing = [k for k in priority if k not in REGISTRY]
        if missing:
            raise RuntimeError(f"contract keys not registered: {missing}")
        ordered = {k: REGISTRY.pop(k) for k in priority}
        ordered.update(REGISTRY)
        REGISTRY.clear()
        REGISTRY.update(ordered)
        _loaded = True
    return REGISTRY
