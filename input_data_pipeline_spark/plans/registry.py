"""Query registry: every engine operator is exposed as a named query.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable plus, when the
semantics are ANSI-SQL-expressible, a DuckDB oracle SQL string computing the
same result on the same parquet tables. The driver (``__spark_entry__.py``)
compares them at sf0.01 — row count, schema, and order-insensitive value
hash with columns sorted by name. Hence the two hard rules for authors:

1. alias every computed column identically in the DataFrame code and the SQL;
2. make float outputs comparison-stable (round aggregates; avoid
   non-deterministic functions — derive ids from content hashes, not uuid);
3. keep oracle RESULT types in {BIGINT, INTEGER, VARCHAR, BOOLEAN, DATE} —
   DuckDB widens SUM(BIGINT) and integer ``//`` to HUGEINT, which a pandas
   fetch (the driver's) turns into float64, hash-failing correct integer
   cells. Wrap such output cells in ``CAST(... AS BIGINT)``; enforced by
   tests/test_registry_contract.py::test_oracle_result_types_are_bigint_only.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does a rows-only check
    doc: str


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a query under ``name`` with an optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str, **kwargs) -> DataFrame:
            # The caller may hand us an arbitrarily-configured session (the
            # round driver does). Timestamp semantics must not depend on it:
            # parquet instants + our literal date bounds are defined in UTC.
            # Extra keyword-only knobs (e.g. ccnet's top_n LM cap) pass
            # through for direct callers; the registry always calls with
            # the two positional args, so every oracle sees the defaults.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir, **kwargs)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _REGISTRY[name] = QuerySpec(name=name, fn=wrapped, oracle=oracle, doc=fn.__doc__ or "")
        return wrapped

    return deco


def _load_all() -> None:
    """Import every operator module for its registration side effects."""
    import input_data_pipeline_spark.operators.relational  # noqa: F401
    import input_data_pipeline_spark.operators.windows  # noqa: F401
    import input_data_pipeline_spark.operators.textstats  # noqa: F401
    import input_data_pipeline_spark.operators.dedup  # noqa: F401
    import input_data_pipeline_spark.operators.similarity  # noqa: F401
    import input_data_pipeline_spark.operators.multimodal  # noqa: F401
    import input_data_pipeline_spark.operators.ingest  # noqa: F401
    import input_data_pipeline_spark.operators.asof  # noqa: F401
    import input_data_pipeline_spark.operators.skew  # noqa: F401
    import input_data_pipeline_spark.operators.corpus  # noqa: F401
    import input_data_pipeline_spark.operators.curation  # noqa: F401
    import input_data_pipeline_spark.operators.tokenizer  # noqa: F401


# Externally-visible enumeration order: external snapshots of the registry
# truncate to the first 50 slots, so these queries must enumerate first.
_PRIORITY: list[str] = [
    "knn_bruteforce_np",
    "knn_hyperplane_lsh",
    "incremental_batch_dedup",
    "dedup_soft_weights",
    "dedup_cluster_assignment",
    "semantic_contamination",
    "semantic_doc_search",
    "image_decode_features",
    "video_decode_features",
    "audio_decode_features",
    "g711_decode_features",
    "bpe_encode_fixed",
    "tokenizer_fertility_audit",
    "charngram_language_id",
    "language_confusion",
    "lang_rebalance_plan",
    "mp3_container_routing_features",
    "mp3_stereo_matrix_decode_features",
    "mp3_rate_profiles_decode_features",
    "mp4_audio_extract_features",
    "jpeg_lossless_decode_features",
    "adts_probe_features",
    "mpeg1_layer1_decode_features",
    "bigram_lm_doc_scores",
    "brand_size_qty_revenue",
    "cheapest_supplier_per_part",
    "countmin_token_freq",
    "curation_funnel",
    "doc_token_stats",
    "hll_distinct_tokens",
    "incremental_new_docs",
    "large_quantity_orders",
    "oov_rate_by_source",
    "prototypicality_prune",
    "purchase_click_attribution",
    "sequence_packing_plan",
    "source_quota_cap",
    "stratified_doc_sample",
    "token_budget_selection",
    "url_domain_stats",
    "user_sessions",
    "user_value_intervals",
    "weighted_doc_sample_pps",
    "widget_revenue_by_nation_year",
    # LLM-core anchors (pinned by tests/test_registry_contract.py)
    "dedup_minhash_lsh",
    "ngram_jaccard_pairs",
    "embedding_near_pairs",
    "knn_ivf",
    "contamination_overlap",
    "doc_quality",
]


def _ordered() -> dict[str, QuerySpec]:
    """Registry in external enumeration order: _PRIORITY first, then the
    rest in registration order."""
    out: dict[str, QuerySpec] = {}
    for name in _PRIORITY:
        out[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        if name not in out:
            out[name] = spec
    return out


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: spec.fn for name, spec in _ordered().items()}


def all_oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None}


def get(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]
