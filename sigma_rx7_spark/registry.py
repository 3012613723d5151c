"""Query registry: the single source of truth behind ``__spark_entry__``.

Each operator family registers named queries with the DataFrame
implementation and (when SQL-expressible) the DuckDB oracle SQL *side by
side*, so the pair can never drift apart. ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over this registry.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules that register queries on import.
_QUERY_MODULES = (
    "sigma_rx7_spark.operators.scans",
    "sigma_rx7_spark.operators.joins",
    "sigma_rx7_spark.operators.interval",
    "sigma_rx7_spark.operators.aggregates",
    "sigma_rx7_spark.operators.windows",
    "sigma_rx7_spark.operators.timeseries",
    "sigma_rx7_spark.operators.incremental",
    "sigma_rx7_spark.operators.sets",
    "sigma_rx7_spark.operators.subqueries",
    "sigma_rx7_spark.operators.graph",
    "sigma_rx7_spark.operators.linkage",
    "sigma_rx7_spark.operators.quality",
    "sigma_rx7_spark.operators.tpch",
    "sigma_rx7_spark.sources.formats",
    "sigma_rx7_spark.sources.layout",
    "sigma_rx7_spark.sources.pydatasource",
    "sigma_rx7_spark.functions.strings",
    "sigma_rx7_spark.functions.dates",
    "sigma_rx7_spark.functions.scoring",
    "sigma_rx7_spark.functions.json_ops",
    "sigma_rx7_spark.functions.text",
    "sigma_rx7_spark.llm.bpe",
    "sigma_rx7_spark.llm.dedup",
    "sigma_rx7_spark.llm.similarity",
    "sigma_rx7_spark.llm.sampling",
    "sigma_rx7_spark.llm.pipeline",
    "sigma_rx7_spark.llm.clustering",
    "sigma_rx7_spark.streaming.jobs",
    "sigma_rx7_spark.streaming.stateful",
    "sigma_rx7_spark.llm.multimodal",
    "sigma_rx7_spark.functions.udfs",
    "sigma_rx7_spark.domain.queries",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    # DuckDB-runnable ANSI SQL, a callable (sf_dir) -> SQL for oracles
    # that read sf-keyed staged artifacts, or None => rows-only check.
    oracle: str | Callable[[str], str] | None
    tags: tuple[str, ...] = field(default_factory=tuple)

    def oracle_for(self, sf_dir: str) -> str | None:
        """The oracle SQL specialized to ``sf_dir``. Static oracles
        return as-is; templated oracles substitute sf-keyed staged
        paths at retrieval time, so two sessions mirroring different
        scale factors never share (or clobber) one staged artifact."""
        if callable(self.oracle):
            return self.oracle(sf_dir)
        return self.oracle

    @property
    def doc(self) -> str:
        return (self.fn.__doc__ or "").strip()


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False

# External correctness harnesses check a fixed-size prefix of the registry
# (the driver verifies the first 50 entries of ``load_all()`` order), so
# ordering is part of the verification contract:
#   1. names in _CHECK_PRIORITY, in list order — queries whose oracle or
#      implementation changed recently, or that have never had an external
#      correctness row, rotate to the front so the next run proves them;
#   2. every other oracle-gated query, in registration (module) order;
#   3. rows-only queries (no oracle) last — an external checker can only
#      ever report "no oracle" for them, so they must not occupy checked
#      slots.
_CHECK_PRIORITY: tuple[str, ...] = (
    # 9 changed-path queries + the 41 names with the oldest green
    # external-check rows = 50. Every name of the previous window has a
    # green row in CORRECTNESS_r16.json, so all of them rotate out
    # except those whose code changed since.
    #
    # Pre-freeze discipline: before committing this list, run
    #   scripts/prefreeze_mirror.sh  (sf0.01 oracle mirror, this list)
    # exact ranks now come from the one shared binned_ranks kernel
    "q_agg_exact_median",
    "q_agg_exact_quantiles",
    "q_agg_trimmed_mean",
    "q_agg_cvar",
    "q_quality_iqr",
    "q_window_rfm",
    # per-key cache released in `finally`
    "q_quality_audit",
    # star-forest edges; NULL embeddings take the JVM fallback
    "q_dedup_clusters",
    "q_dedup_cosine",
    # oldest green rows first (scripts/rotation_candidates.py --age):
    # 34 r6 names, then the 7 oldest r8 names
    "q_scan_zorder",
    "q_scan_zorder_incremental",
    "q_scan_indexed",
    "q_string_collation",
    "q_date_timezones",
    "q_ml_logreg_train",
    "q_text_keywords",
    "q_text_pmi",
    "q_text_perplexity_filter",
    "q_text_zipf",
    "q_text_heavyhitters",
    "q_text_search_and",
    "q_text_vocab_drift",
    "q_text_novelty",
    "q_text_source_diversity",
    "q_text_hapax",
    "q_sample_negatives",
    "q_sample_budget",
    "q_sample_estimate",
    "q_split_grouped",
    "q_sample_temp_sweep",
    "q_pipeline_interleave",
    "q_embed_pq",
    "q_cluster_geometry",
    "q_embed_audit",
    "q_text_source_overlap",
    "q_dedup_burden_matrix",
    "q_pipeline_incremental_dedup",
    "q_pipeline_fates",
    "q_split_leakage",
    "q_corpus_release_gate",
    "q_stream_ingest_dedup",
    "q_stream_stream_left",
    "q_stream_mv_refresh",
    "q_agg_approx_quantile",
    "q_agg_cms",
    "q_agg_hbos",
    "q_ab_welch",
    "q_ab_mannwhitney",
    "q_ab_bootstrap",
    "q_ts_decompose",
)

# The external checker verifies exactly the first 50 load_all() entries;
# a 51st priority name would silently fall past the window and never get
# a correctness row. Fail loudly instead.
assert len(_CHECK_PRIORITY) <= 50, (
    f"_CHECK_PRIORITY has {len(_CHECK_PRIORITY)} entries; the driver "
    "window holds 50 — rotate out an already-proven query")


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, tuple(tags))
        return fn
    return deco


def _order_key(item: tuple[int, tuple[str, QuerySpec]]) -> tuple[int, int]:
    reg_pos, (name, spec) = item
    if name in _CHECK_PRIORITY:
        return (0, _CHECK_PRIORITY.index(name))
    return (1, reg_pos) if spec.oracle else (2, reg_pos)


def load_all() -> dict[str, QuerySpec]:
    global _LOADED
    if not _LOADED:
        for mod in _QUERY_MODULES:
            importlib.import_module(mod)
        _LOADED = True
    ordered = sorted(enumerate(_REGISTRY.items()), key=_order_key)
    return dict(kv for _, kv in ordered)


def get(name: str) -> QuerySpec:
    return load_all()[name]
