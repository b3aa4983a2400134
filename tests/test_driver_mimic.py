"""Driver-mimic: queries must be correct under a HOSTILE session.

The round driver hands us an arbitrarily-configured SparkSession — in
particular its time zone is not ours to control. The registry wrapper pins
UTC per query call (plans/registry.py); this test drives timestamp-bearing
queries with the session forced to a non-UTC zone and diffs full result
sets against their DuckDB oracles, which read the same parquet naively.
A regression in the TZ pin (or a query that bypasses the wrapper) shifts
every epoch-micros cell by the zone offset and fails loudly here.
"""

from __future__ import annotations

import duckdb
import pytest

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Timestamp-heavy queries spanning the event-window, session, calendar and
# date-output families, plus the r6/r7 retention/rollup/anomaly additions
# (the round-7 driver-window head).
QUERIES = [
    "user_sessions",
    "session_window_native",
    "event_type_hourly",
    "latest_order_per_customer",
    "orders_by_weekday",
    "asof_order_context",
    "user_retention_cohorts",
    "active_user_rollup",
    "hll_rolling_active_users",
    "event_daily_anomalies",
    "user_trailing_window",
    "user_value_intervals",
    "user_rolling_distinct_types",
    "event_hourly_gapfill",
    # round-11 additions (timestamp-free, but the full oracle equality
    # must hold under a hostile session TZ like every other query)
    "g711_decode_features",
    "image_dhash_near_dups",
    "bpe_encode_fixed",
    # round-12 additions (also timestamp-free; full oracle equality under
    # the hostile session)
    "small_qty_order_revenue",
    "hybrid_search_rrf",
    "trade_pagerank",
    "mp3_probe_features",
    "epoch_repetition_plan",
    "flac_decode_features",
    # round-12 date-arithmetic shapes (o_orderdate + 60 days; the
    # 2000-08-01 dormancy cutoff) — TZ-sensitive by construction
    "sole_late_supplier_orders",
    "idle_high_balance_customers",
    # round-13 additions: the attribution face is epoch-micros ranged
    # (TZ-sensitive by construction); the other two are timestamp-free
    # but hold the same full-oracle-equality bar
    "purchase_click_attribution",
    "knn_ivf_pq",
    "mp3_decode_features",
    "mp3_stereo_decode_features",
    # round-13 TPC-H shapes: Q18 emits DATE cells and Q9 extracts the
    # order YEAR — TZ-sensitive by construction; Q2/Q19 hold the same bar
    "large_quantity_orders",
    "widget_revenue_by_nation_year",
    "cheapest_supplier_per_part",
    "brand_size_qty_revenue",
    "prototypicality_prune",
    "tiff_decode_features",
    # post-window r13 additions: quarter bounds and correlated
    # date+interval arithmetic — TZ-sensitive by construction
    "top_quarter_supplier",
    "late_shipment_orders_by_priority",
    "au_decode_features",
    # post-window r14 additions: MP3 short-block and full-PCM-chain gates
    "mp3_shortblock_decode_features",
    "mp3_pcm_decode_features",
    "cross_codec_audio_dedup",
    "tiff_g4_decode_features",
    "mp3_huffman_tables_decode_features",
    # round-14 TPC-H shapes: Q8 extracts order YEAR, Q14 emits DATE
    # month cells — TZ-sensitive by construction
    "nation_market_share",
    "promo_revenue_share",
    # post-window r15 additions: G.72x ADPCM-in-AU and JPEG gates
    "au_adpcm_decode_features",
    "jpeg_decode_features",
    "pii_redaction_stats",
    "avi_audio_extract_features",
    # post-window r16 additions
    "mp3_container_routing_features",
    "mp3_stereo_matrix_decode_features",
    "mp3_rate_profiles_decode_features",
    "mp4_audio_extract_features",
    "jpeg_lossless_decode_features",
    "adts_probe_features",
    "mpeg1_layer1_decode_features",
    # post-window r17 additions
    "mpeg1_layer2_decode_features",
    "mp3_lsf_decode_features",
    "jpeg_in_tiff_decode_features",
    "jpeg_precision12_features",
    "ms_adpcm_decode_features",
    "aiff_decode_features",
    "ogg_probe_features",
    "wav_ext_decode_features",
    "netpbm_tga_decode_features",
    "caf_decode_features",
    "y4m_decode_features",
    "audio_tags_features",
    "mp4_pcm_variants_features",
    "vorbis_decode_features",
    "jpeg_hierarchical_features",
    "audio_resample_features",
    "audio_vad_features",
    "audio_mfcc_features",
    # the image/video/audio round-trip gates, the last decode gates
    # without a tier-1 oracle run
    "image_decode_features",
    "video_decode_features",
    "audio_decode_features",
]


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle_under_non_utc_session(spark, sf_dir, name):
    from input_data_pipeline_spark.plans.registry import get

    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        spec = get(name)
        sdf = spec.fn(spark, sf_dir)
        scols = sorted(sdf.columns)
        order = [sdf.columns.index(c) for c in scols]
        srows = sorted(tuple(str(r[i]) for i in order) for r in sdf.collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(spec.oracle)
    ocols = sorted(d[0] for d in res.description)
    oorder = [[d[0] for d in res.description].index(c) for c in ocols]
    orows = sorted(tuple(str(r[i]) for i in oorder) for r in res.fetchall())

    assert scols == ocols
    assert srows == orows


ANSI_QUERIES = [
    # arithmetic-heavy shapes: integer DIV ratios, sums, percent cells
    "doc_quality",
    "gopher_quality_flags",
    "bm25_doc_search",
    "doc_chunk_windows",
    "pricing_summary",
    "approx_distinct_users",
    # round-8 window head: ppm rule cells, tercile window, hashed-bucket
    # DIV ratios, regex pipeline
    "c4_quality_flags",
    "ccnet_perplexity_buckets",
    "dsir_importance_weights",
    "url_canonical_dedup",
    # round-11 additions: companded-audio integer expansion, hashed-ngram
    # ppm weights, bit-shift banding, float->ppm quantization, string
    # length arithmetic
    "g711_decode_features",
    "fasttext_lang_filter",
    "image_dhash_near_dups",
    "semantic_contamination",
    "bpe_encode_fixed",
    # round-12 additions: cross-multiplied threshold predicate, integer
    # RRF, per-edge floor-div PageRank update, frame-length arithmetic,
    # budget DIV allocation
    "small_qty_order_revenue",
    "hybrid_search_rrf",
    "trade_pagerank",
    "mp3_probe_features",
    "epoch_repetition_plan",
    "flac_decode_features",
    "sole_late_supplier_orders",
    "idle_high_balance_customers",
    "chunk_dedup_rewrite",
    "sq8_recall_audit",
    "unigram_encode_fixed",
    "dedup_soft_weights",
    "tokenizer_fertility_audit",
    # round-13 additions: ADC power-of-two float sums, MP3 bit arithmetic,
    # left-outer count/min aggregation over a range predicate
    "knn_ivf_pq",
    "mp3_decode_features",
    "purchase_click_attribution",
    "mp3_stereo_decode_features",
    # round-13 TPC-H shapes: float min-equality join, LIKE-filtered
    # five-way join, disjunctive predicates, micros-threshold HAVING
    "cheapest_supplier_per_part",
    "widget_revenue_by_nation_year",
    "brand_size_qty_revenue",
    "large_quantity_orders",
    "prototypicality_prune",
    "tiff_decode_features",
    "top_quarter_supplier",
    "late_shipment_orders_by_priority",
    "au_decode_features",
    "mp3_shortblock_decode_features",
    "mp3_pcm_decode_features",
    "cross_codec_audio_dedup",
    "tiff_g4_decode_features",
    "mp3_huffman_tables_decode_features",
    "nation_market_share",
    "promo_revenue_share",
    "customer_order_distribution",
    "part_supplier_counts",
    "au_adpcm_decode_features",
    "jpeg_decode_features",
    "pii_redaction_stats",
    "avi_audio_extract_features",
    "mp3_container_routing_features",
    "mp3_stereo_matrix_decode_features",
    "mp3_rate_profiles_decode_features",
    "mp4_audio_extract_features",
    "jpeg_lossless_decode_features",
    "adts_probe_features",
    "mpeg1_layer1_decode_features",
    "mpeg1_layer2_decode_features",
    "mp3_lsf_decode_features",
    "jpeg_in_tiff_decode_features",
    "jpeg_precision12_features",
    "ms_adpcm_decode_features",
    "aiff_decode_features",
    "ogg_probe_features",
    "wav_ext_decode_features",
    "netpbm_tga_decode_features",
    "caf_decode_features",
    "y4m_decode_features",
    "audio_tags_features",
    "mp4_pcm_variants_features",
    "vorbis_decode_features",
    "jpeg_hierarchical_features",
    "audio_resample_features",
    "audio_vad_features",
    "audio_mfcc_features",
]


@pytest.mark.parametrize("name", ANSI_QUERIES)
def test_query_is_ansi_mode_invariant(spark, sf_dir, name):
    """The driver's session chooses ANSI mode, not us: query results must
    be identical under spark.sql.ansi.enabled true AND false — i.e. no
    query silently leans on non-ANSI null-on-error arithmetic, and none
    raises under strict mode."""
    from input_data_pipeline_spark.plans.registry import get

    spec = get(name)
    prior = spark.conf.get("spark.sql.ansi.enabled")
    results = {}
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            results[mode] = sorted(
                tuple(r) for r in spec.fn(spark, sf_dir).collect()
            )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    assert results["true"] == results["false"]
    assert results["true"]
