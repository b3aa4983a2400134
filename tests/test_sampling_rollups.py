"""Invariants for stratified sampling, percentile filtering, quartiles, and
grouping sets (the oracle check covers value parity; these pin semantics)."""

from __future__ import annotations

import pyspark.sql.functions as F

from input_data_pipeline_spark.operators.textstats import (
    quality_percentile_filter,
    stratified_doc_sample,
)
from input_data_pipeline_spark.operators.relational import revenue_grouping_sets
from input_data_pipeline_spark.operators.windows import customer_value_quartiles
from input_data_pipeline_spark.tables import load_table


def test_stratified_sample_rates(spark, sf_dir):
    rows = {r["lang"]: r for r in stratified_doc_sample(spark, sf_dir).collect()}
    assert set(rows) == {"en", "zh", "es", "de", "fr"}
    for lang, r in rows.items():
        assert 0 <= r["n_sampled"] <= r["n_total"]
        if lang != "en":
            # 100% strata keep everything.
            assert r["n_sampled"] == r["n_total"]
    en = rows["en"]
    # Hash buckets approximate the 25% rate; wide tolerance for tiny sf.
    assert 0.05 <= en["n_sampled"] / en["n_total"] <= 0.5


def test_stratified_sample_is_rerun_stable(spark, sf_dir):
    a = sorted(map(tuple, stratified_doc_sample(spark, sf_dir).collect()))
    b = sorted(map(tuple, stratified_doc_sample(spark, sf_dir).collect()))
    assert a == b


def test_percentile_filter_drops_about_a_quartile(spark, sf_dir):
    totals = {
        r["lang"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    kept = {r["lang"]: r["n_kept"] for r in quality_percentile_filter(spark, sf_dir).collect()}
    for lang, n_kept in kept.items():
        # Keeps the top ~75% of each stratum (ties can nudge the boundary).
        assert 0.5 * totals[lang] <= n_kept <= totals[lang]


def test_quartiles_are_balanced_and_monotone(spark, sf_dir):
    rows = customer_value_quartiles(spark, sf_dir).collect()
    sizes = [0] * 5
    for r in rows:
        sizes[r["quartile"]] += 1
    assert sizes[0] == 0 and max(sizes[1:]) - min(sizes[1:]) <= 1
    # cume_dist is non-decreasing along the declared ordering.
    cumes = [r["cume_ppm"] for r in rows]
    assert cumes == sorted(cumes)
    assert cumes[-1] == 1_000_000


def test_grouping_sets_granularities(spark, sf_dir):
    rows = revenue_grouping_sets(spark, sf_dir).collect()
    detail = [r for r in rows if r["g_year"] == 0 and r["g_priority"] == 0]
    per_year = [r for r in rows if r["g_year"] == 0 and r["g_priority"] == 1]
    grand = [r for r in rows if r["g_year"] == 1 and r["g_priority"] == 1]
    assert len(grand) == 1
    assert grand[0]["n_orders"] == sum(r["n_orders"] for r in per_year)
    assert grand[0]["n_orders"] == sum(r["n_orders"] for r in detail)
    assert grand[0]["revenue_micros"] == sum(r["revenue_micros"] for r in detail)


def test_approx_percentiles_within_bound(spark, sf_dir):
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.operators.relational import (
        event_value_approx_percentiles,
    )
    from input_data_pipeline_spark.tables import load_table

    rows = event_value_approx_percentiles(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["p50_in_band"] and r["p90_in_band"] and r["p99_in_band"], r
    # The sketch guarantee is on RANK, not value: recompute the raw approx
    # values here (the query only exposes the band verdicts) and check the
    # returned element's empirical quantile sits near the target.
    values = {}
    for row in load_table(spark, sf_dir, "events").select("event_type", "value").collect():
        values.setdefault(row["event_type"], []).append(row["value"])
    for vs in values.values():
        vs.sort()
    approx = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile_approx(
                "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000
            ).alias("a")
        )
        .collect()
    )
    for r in approx:
        vs = values[r["event_type"]]
        n = len(vs)
        for q, a in zip((0.5, 0.9, 0.99), r["a"]):
            rank = sum(1 for v in vs if v <= a)
            assert abs(rank / n - q) <= 1 / 10000 + 2 / n, (r["event_type"], q, a)


def test_gapfill_grid_is_dense_and_zero_filled(spark, sf_dir):
    from input_data_pipeline_spark.operators.windows import event_hourly_gapfill

    rows = event_hourly_gapfill(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    n_hours = {t: len(rs) for t, rs in by_type.items()}
    # Every type covers the identical full grid.
    assert len(set(n_hours.values())) == 1
    # sf0.001 is sparse: gap rows exist, are zero-count, and carry a
    # forward-filled average from an earlier real hour.
    gaps = [r for r in rows if r["n_events"] == 0]
    assert gaps, "expected empty hours at sf0.001"
    for t, rs in by_type.items():
        seen_real = False
        for r in sorted(rs, key=lambda r: r["hour_us"]):
            if r["n_events"] > 0:
                seen_real = True
            elif seen_real:
                assert r["ffill_avg_micros"] is not None
    # the grid is hour-aligned epoch micros, hourly-spaced
    for t, rs in by_type.items():
        hours = sorted(r["hour_us"] for r in rs)
        assert all(h % 3_600_000_000 == 0 for h in hours)
        assert all(b - a == 3_600_000_000 for a, b in zip(hours, hours[1:]))


def test_trailing_window_matches_bruteforce(spark, sf_dir):
    from input_data_pipeline_spark.operators.windows import user_trailing_window

    rows = user_trailing_window(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    uid, urows = max(by_user.items(), key=lambda kv: len(kv[1]))
    for r in urows:
        t = r["ts_us"] // 1_000_000  # whole-second axis, like the operator
        want = sum(
            x["value_micros"] for x in urows
            if -604800 <= (x["ts_us"] // 1_000_000) - t <= 0
        )
        assert r["trailing_7d_micros"] == want


def test_setops_all_multiset_identity(spark, sf_dir):
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.operators.relational import (
        customer_order_setops_all,
    )
    from input_data_pipeline_spark.tables import load_table

    rows = customer_order_setops_all(spark, sf_dir).collect()
    inter = {r["o_custkey"]: r["n"] for r in rows if r["op"] == "intersect_all"}
    exc = {r["o_custkey"]: r["n"] for r in rows if r["op"] == "except_all"}
    orders = load_table(spark, sf_dir, "orders")
    y95 = {
        r["o_custkey"]: r["n"]
        for r in orders.filter(F.year("o_orderdate") == 1995)
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    y96 = {
        r["o_custkey"]: r["n"]
        for r in orders.filter(F.year("o_orderdate") == 1996)
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for k, n95 in y95.items():
        n96 = y96.get(k, 0)
        assert inter.get(k, 0) == min(n95, n96)
        assert exc.get(k, 0) == max(n95 - n96, 0)


def test_frequent_tokens_sketch_no_false_negatives(spark, sf_dir):
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.textstats import frequent_tokens_sketch
    from input_data_pipeline_spark.tables import load_table

    rows = frequent_tokens_sketch(spark, sf_dir).collect()
    assert rows
    # KPS guarantee: no false negatives above the support threshold — the
    # query now emits the exact heavy hitters with a membership verdict.
    assert all(r["in_sketch"] for r in rows), [r for r in rows if not r["in_sketch"]]
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(T.tokens("text")).alias("tok"))
    )
    total = toks.count()
    exact = {
        r["tok"]
        for r in toks.groupBy("tok").count().filter(F.col("count") * 50 > total).collect()
    }
    # and the probed set IS the exact heavy-hitter set (strict > support)
    assert {r["token"] for r in rows} == exact


def test_countmin_never_underestimates_and_bounds_error(spark, sf_dir):
    """CMS one-sided error: est >= exact always; overestimate bounded by
    the classic e*N/w (loose 3x slack for the small test widths)."""
    import math

    import pyspark.sql.functions as F

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.textstats import (
        _CMS_W,
        countmin_token_freq,
    )
    from input_data_pipeline_spark.tables import load_table

    rows = countmin_token_freq(spark, sf_dir).collect()
    assert len(rows) == 20
    total = (
        load_table(spark, sf_dir, "documents")
        .select(F.sum(T.token_count("text")).alias("n"))
        .collect()[0]["n"]
    )
    bound = 3 * math.e * total / _CMS_W
    for r in rows:
        assert r.cms_est >= r.exact_n, r
        assert r.overestimate == r.cms_est - r.exact_n
        assert r.overestimate <= bound, (r, bound)


def test_hll_estimate_within_expected_error(spark, sf_dir):
    """HLL standard error is 1.04/sqrt(m) ≈ 13% at m=64; allow 3 sigma.
    Registers must cover at most m buckets and estimates must be positive."""
    from input_data_pipeline_spark.operators.textstats import (
        _HLL_M,
        hll_distinct_tokens,
    )

    rows = hll_distinct_tokens(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_buckets_used <= _HLL_M
        assert r.hll_est > 0
        assert r.rel_err_ppm <= 3 * 1.04 / (_HLL_M**0.5) * 1_000_000, r


def test_hll_union_sources_merge_identity(spark, sf_dir):
    """Mergeability is the property that makes HLL the distributed
    distinct-count primitive: registers built per source and merged by
    bucket-wise MAX must yield the IDENTICAL estimate to registers built
    over the global stream, and the estimate must stay within the m=64
    error envelope of the exact count (3 sigma ~ 39%)."""
    from input_data_pipeline_spark.operators.textstats import hll_union_sources

    row = hll_union_sources(spark, sf_dir).collect()[0]
    assert row.merged_equals_direct is True
    assert row.hll_est_merged == row.hll_est_direct
    assert row.n_sources >= 2  # merge actually exercised across sources
    assert row.rel_err_ppm <= 390_000


def test_weighted_pps_selects_heavy_docs_with_certainty(spark, sf_dir):
    """Systematic PPS invariants on real data: any doc whose weight >= the
    sampling step is selected with certainty (its segment must contain a
    comb point); per-language selection count stays within 1 of the
    target wherever the corpus has enough weight; and the selected weight
    share tracks n_selected/N (the self-weighting property that makes the
    sample usable without importance re-weighting)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from input_data_pipeline_spark.operators.textstats import (
        _PPS_N,
        weighted_doc_sample_pps,
    )
    from input_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", "lang",
        F.greatest(F.col("n_chars"), F.lit(1)).alias("wt"),
        F.md5(F.concat(F.lit("pps:"), F.col("doc_id"))).alias("k"),
    )
    win = (
        Window.partitionBy("lang").orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = w.groupBy("lang").agg(F.sum("wt").cast("long").alias("total_w"))
    per_doc = (
        w.withColumn("c", F.sum("wt").over(win).cast("long"))
        .join(F.broadcast(tot), "lang")
        .withColumn("step", F.expr(f"total_w DIV {_PPS_N}"))
        .withColumn(
            "hits",
            F.expr(
                "(c - step DIV 2 + step - 1) DIV step"
                " - (c - wt - step DIV 2 + step - 1) DIV step"
            ),
        )
    )
    # certainty selection: weight >= step => hits >= 1
    missed = per_doc.filter(
        (F.col("wt") >= F.col("step")) & (F.col("hits") < 1)
    ).count()
    assert missed == 0

    # every comb point lands in exactly one segment: sum(hits) per lang ==
    # the exact point count (total_w - r + step - 1) DIV step, which is N
    # or N+1 depending on the division remainder — never more, never less.
    hit_totals = {
        r.lang: (r.s, r.total_w, r.step)
        for r in per_doc.groupBy("lang", "total_w", "step")
        .agg(F.sum("hits").alias("s"))
        .collect()
    }
    for lang, (s, total_w, step) in hit_totals.items():
        n_points = (total_w - step // 2 + step - 1) // step
        assert s == n_points, (lang, s, n_points)
        assert _PPS_N <= n_points <= _PPS_N + 1, (lang, n_points)

    rows = {r.lang: r for r in weighted_doc_sample_pps(spark, sf_dir).collect()}
    assert rows, "no languages sampled"
    for lang, r in rows.items():
        # selections = point count unless multiple points land in one
        # heavy doc (then fewer distinct docs than points).
        assert 1 <= r.n_selected <= _PPS_N + 1, (lang, r.n_selected)
        assert 0 < r.w_share_selected_ppm <= 1_000_000


def test_countmin_merge_identity_and_mass_conservation(spark, sf_dir):
    """CMS linearity: per-source cell tables summed cell-wise must equal
    the global sketch exactly, and each hash row's counters must sum to
    the total token count (row-stochastic mass conservation)."""
    from input_data_pipeline_spark.operators.textstats import countmin_merge_sources

    row = countmin_merge_sources(spark, sf_dir).collect()[0]
    assert row.merged_equals_direct is True
    assert row.n_mismatched == 0
    assert row.mass_conserved is True
    assert row.merged_mass == row.n_tokens


def test_temporal_hll_merge_equals_direct_window_sketch(spark, sf_dir):
    """Mergeability, temporally: for each day, the trailing-7-day register
    set merged bucket-wise from per-day sketches must equal the sketch
    built directly over the window's raw activity — so the rolling
    estimate is identical to a from-scratch window sketch."""
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.operators.textstats import (
        _hll_hashed,
        _hll_registers,
    )
    from input_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        F.col("user_id").cast("string").alias("token"),
        F.col("ts").cast("date").alias("d"),
    ).distinct()
    days = act.select("d").distinct()

    regs = _hll_registers(_hll_hashed(act, "d", "token"), "d")
    fan = regs.select(
        "bucket", "rho",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("g"),
    )
    merged = (
        fan.join(F.broadcast(days), fan["g"] == days["d"], "left_semi")
        .groupBy(F.col("g").alias("d"), "bucket")
        .agg(F.max("rho").alias("rho"))
    )

    direct_act = (
        act.select(
            "token",
            F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("g"),
        )
        .join(F.broadcast(days), F.col("g") == days["d"], "left_semi")
        .select(F.col("g").alias("d"), "token")
        .distinct()
    )
    direct = _hll_registers(_hll_hashed(direct_act, "d", "token"), "d")

    a = sorted(tuple(r) for r in merged.collect())
    b = sorted(tuple(r) for r in direct.collect())
    assert a == b


def test_histogram_quantile_error_bounded_by_bin_width(spark, sf_dir):
    """The bin-lower-bound estimate can undershoot the exact rank statistic
    by at most one bin width and never overshoot."""
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.functions.stable import micros
    from input_data_pipeline_spark.operators.windows import (
        _HQ_BINS,
        histogram_quantile_sketch,
    )
    from input_data_pipeline_spark.tables import load_table

    widths = {
        r.event_type: (r.hi - r.lo) // _HQ_BINS + 1
        for r in load_table(spark, sf_dir, "events")
        .select("event_type", micros("value").alias("v"))
        .groupBy("event_type")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    }
    rows = histogram_quantile_sketch(spark, sf_dir).collect()
    assert rows
    for r in rows:
        diff = r.exact_micros - r.est_micros
        assert 0 <= diff < widths[r.event_type], (r, widths[r.event_type])
        assert r.abs_err_micros == diff


def test_hq_bin_counts_clamps_out_of_range_values(spark):
    """With EXTERNAL bounds (the streaming path), values outside the
    profiled [lo, hi] must saturate into the first/last bin — not land in
    negative or >= nbins bins (truncating DIV would even fold
    (lo-width, lo) into bin 0, silently distorting merged quantiles)."""
    from input_data_pipeline_spark.operators.windows import _HQ_BINS, hq_bin_counts

    bounds = spark.createDataFrame(
        [("a", 0, 1_023_999)], "event_type string, lo long, hi long"
    )  # width = 1000 exactly
    vm = spark.createDataFrame(
        [
            ("a", -5_000_000),  # far below lo  -> bin 0
            ("a", -1),          # just below lo -> bin 0 (the DIV-fold case)
            ("a", 0),           # lo            -> bin 0
            ("a", 500),         # in-range      -> bin 0
            ("a", 1_023_999),   # hi            -> last bin
            ("a", 9_999_999),   # above hi      -> last bin
        ],
        "event_type string, v long",
    )
    got = {r.bin: r.cnt for r in hq_bin_counts(vm, bounds).collect()}
    assert got == {0: 4, _HQ_BINS - 1: 2}
    assert all(0 <= b < _HQ_BINS for b in got)


def test_kmeans_cache_eviction_unpersists(spark, sf_dir, tmp_path):
    """The session cache is bounded per corpus: a corpus beyond
    _CORPUS_CACHE_MAX evicts the oldest FIFO and unpersists its quantized
    vectors and token index, and invalidate_table_cache clears
    everything."""
    import shutil

    from input_data_pipeline_spark import tables
    from input_data_pipeline_spark.operators import similarity as S
    from input_data_pipeline_spark.operators.corpus import corpus_token_index

    def cached(name: str) -> list:
        return [k for k in tables._TABLE_CACHE if k[2] == name]

    dirs = []
    for i in range(tables._CORPUS_CACHE_MAX + 1):
        d = tmp_path / f"c{i}"
        d.mkdir()
        for t in ("embeddings", "documents"):
            shutil.copy(f"{sf_dir}/{t}.parquet", str(d / f"{t}.parquet"))
        dirs.append(str(d))

    tables.invalidate_table_cache()
    frames, indexes = [], []
    for d in dirs:
        frames.append(S._kmeans_qvec(spark, d))
        indexes.append(corpus_token_index(spark, d))
    assert len(cached("kmeans_qvec")) <= tables._CORPUS_CACHE_MAX
    assert len(cached("token_index")) <= tables._CORPUS_CACHE_MAX
    # the first corpus was evicted AND unpersisted
    assert frames[0].storageLevel.useMemory is False
    assert indexes[0].storageLevel.useMemory is False
    # the most recent is still cached + persisted
    assert frames[-1].storageLevel.useMemory is True
    assert indexes[-1].storageLevel.useMemory is True
    tables.invalidate_table_cache()
    assert not any(k[0] == spark.sparkContext.applicationId for k in cached("kmeans_qvec"))
    assert frames[-1].storageLevel.useMemory is False
    assert indexes[-1].storageLevel.useMemory is False


def test_freqitems_no_false_negatives_under_any_partitioning(spark, sf_dir):
    """The in_sketch verdict in frequent_tokens_sketch relies on the KPS
    no-false-negative guarantee surviving Spark's per-partition summary
    merge. The driver's session partitions inputs differently than ours —
    sweep partition counts and assert no exact heavy hitter ever drops
    out of the sketch."""
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.tables import load_table

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(T.tokens("text")).alias("tok"))
    )
    total = toks.count()
    exact = {
        r["tok"]
        for r in toks.groupBy("tok").count().filter(F.col("count") * 50 > total).collect()
    }
    assert exact
    for nparts in (1, 7, 64):
        hits = set(
            toks.repartition(nparts).stat.freqItems(["tok"], support=0.02).collect()[0][0]
        )
        assert exact <= hits, (nparts, exact - hits)
