"""Invariant tests for the round-2 corpus/curation operators (beyond the
oracle hash checks): structural properties that must hold at any SF."""

from __future__ import annotations


def test_sequence_packing_covers_all_docs_and_bounds_fill(spark, sf_dir):
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.corpus import (
        _PACK_LEN,
        sequence_packing_plan,
    )
    from input_data_pipeline_spark.tables import load_table

    rows = sequence_packing_plan(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == load_table(spark, sf_dir, "documents").count()
    for r in rows:
        assert 0 < r.bin_tokens
        # exclusive running sum: a bin overflows by at most one doc's tokens
        assert r.bin_tokens <= 2 * _PACK_LEN
        assert r.fill_ratio_ppm == r.bin_tokens * 1000000 // _PACK_LEN
    # bins are contiguous from 0 within each lang
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.bin)
    for lang, bins in by_lang.items():
        assert sorted(bins) == list(range(len(bins))), lang


def test_oov_share_bounds_and_token_conservation(spark, sf_dir):
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.corpus import oov_rate_by_source
    from input_data_pipeline_spark.tables import load_table

    rows = oov_rate_by_source(spark, sf_dir).collect()
    total = (
        load_table(spark, sf_dir, "documents")
        .select(F.sum(T.token_count("text")).alias("n"))
        .collect()[0]["n"]
    )
    assert sum(r.n_tokens for r in rows) == total
    for r in rows:
        assert 0 <= r.n_oov <= r.n_tokens
        assert 0 <= r.oov_share_ppm <= 1_000_000


def test_hygiene_queries_share_one_token_index(spark, sf_dir):
    """Positioned-token consumers (the OOV audit) read the ONE persisted
    token index; the k-gram miners assemble shingles MAP-SIDE from the
    token array (round 17) — no Window exchange+sort and no index
    dependency in their plans."""
    from input_data_pipeline_spark import tables
    from input_data_pipeline_spark.operators import corpus

    def token_indexes() -> list:
        return [k for k in tables._TABLE_CACHE if k[2] == "token_index"]

    tables.invalidate_table_cache()
    contam = corpus.contamination_overlap(spark, sf_dir)
    boiler = corpus.corpus_boilerplate_shingles(spark, sf_dir)
    # the k-gram miners must NOT have built (or consumed) the index
    assert len(token_indexes()) == 0
    oov = corpus.oov_rate_by_source(spark, sf_dir)
    assert len(token_indexes()) == 1
    plan = oov._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan, plan[:500]
    # map-only shingle assembly: the lead-window k-gram form is gone
    # (contamination keeps its legitimate top-1 row_number window)
    for df in (contam, boiler):
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "lead(" not in phys, phys[:500]
        df.collect()  # must still materialize cleanly
    boiler_phys = boiler._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in boiler_phys, boiler_phys[:500]
    oov.collect()


def test_invalidate_table_cache_reaches_derived_frames(spark, sf_dir, tmp_path):
    """Regenerating a corpus and calling ``invalidate_table_cache(d)``
    refreshes every session-cached value of ``d``, not only the table
    handles: the token index, the quantized k-means vectors and the
    trained centroids are rebuilt from the new parquet (they match a
    fresh directory holding the same data), and the old persisted frames
    are unpersisted."""
    import shutil

    import pyarrow.parquet as pq

    from input_data_pipeline_spark.operators.corpus import corpus_token_index
    from input_data_pipeline_spark.operators.similarity import (
        _kmeans_qvec,
        _kmeans_train,
    )
    from input_data_pipeline_spark.tables import invalidate_table_cache

    d, fresh = tmp_path / "d", tmp_path / "fresh"
    d.mkdir()
    fresh.mkdir()
    for t in ("documents", "embeddings"):
        shutil.copy(f"{sf_dir}/{t}.parquet", str(d / f"{t}.parquet"))
    d, fresh = str(d), str(fresh)
    old_index = corpus_token_index(spark, d)
    old_qvec = _kmeans_qvec(spark, d)
    old_centroids = _kmeans_train(spark, d)
    n_index, n_vecs = old_index.count(), old_qvec.count()

    for t in ("documents", "embeddings"):
        tbl = pq.read_table(f"{d}/{t}.parquet")
        half = tbl.slice(0, tbl.num_rows // 2)
        pq.write_table(half, f"{d}/{t}.parquet")
        pq.write_table(half, f"{fresh}/{t}.parquet")
    invalidate_table_cache(d)

    assert old_index.storageLevel.useMemory is False
    assert old_qvec.storageLevel.useMemory is False
    index = corpus_token_index(spark, d)
    assert index.count() == corpus_token_index(spark, fresh).count() < n_index
    assert _kmeans_qvec(spark, d).count() == n_vecs // 2
    centroids = _kmeans_train(spark, d)
    assert centroids == _kmeans_train(spark, fresh)
    assert centroids != old_centroids


def test_fanned_documents_repartitions_only_a_short_scan(spark, sf_dir, tmp_path):
    """``fanned_documents`` is the one fan-out rule: the one-file corpus
    gets a round-robin exchange to every core under its kernels, a
    ``documents`` of at least one file per core is scanned as is, and the
    handle is built once per corpus and dropped by
    ``invalidate_table_cache``."""
    from input_data_pipeline_spark import tables

    n_cores = spark.sparkContext.defaultParallelism
    assert n_cores > 1

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    one_file = tables.fanned_documents(spark, sf_dir)
    lines = plan(one_file.select("doc_id")).splitlines()
    [ex] = [n for n, line in enumerate(lines) if "Exchange" in line]
    assert f"Exchange RoundRobinPartitioning({n_cores})" in lines[ex]
    assert "Scan parquet" in "\n".join(lines[ex + 1 :])

    d = str(tmp_path / "many")
    docs = tables.load_table(spark, sf_dir, "documents")
    docs.repartition(2 * n_cores).write.parquet(f"{d}/documents.parquet")
    many = tables.fanned_documents(spark, d)
    assert many.rdd.getNumPartitions() >= n_cores
    assert "Exchange" not in plan(many.select("doc_id"))
    assert sorted(many.collect()) == sorted(docs.collect())

    assert tables.fanned_documents(spark, d) is many
    key = (spark.sparkContext.applicationId, d, "documents_fanned")
    assert key in tables._TABLE_CACHE
    tables.invalidate_table_cache(d)
    assert key not in tables._TABLE_CACHE


def test_invalidate_skips_frames_of_a_stopped_application():
    """A persisted frame cached by an application that has since stopped
    is dropped without ``unpersist``, which would raise on the stopped
    context."""
    from types import SimpleNamespace

    from input_data_pipeline_spark import tables

    def unpersist():
        raise AssertionError("unpersist on a stopped application")

    stale = SimpleNamespace(
        is_cached=True, _sc=SimpleNamespace(_jsc=None), unpersist=unpersist
    )
    tables._TABLE_CACHE[("stopped-app", "/nowhere", "token_index")] = stale
    tables.invalidate_table_cache("/nowhere")
    assert ("stopped-app", "/nowhere", "token_index") not in tables._TABLE_CACHE


def test_quality_calibration_deciles_partition_corpus(spark, sf_dir):
    from input_data_pipeline_spark.operators.textstats import quality_calibration
    from input_data_pipeline_spark.tables import load_table

    rows = quality_calibration(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == load_table(spark, sf_dir, "documents").count()
    for r in rows:
        assert 0 <= r.decile <= 9
        assert 0 <= r.en_share_ppm <= 1_000_000


def test_incremental_dedup_verdicts_are_consistent(spark, sf_dir):
    from input_data_pipeline_spark.operators.dedup import incremental_batch_dedup

    rows = incremental_batch_dedup(spark, sf_dir).collect()
    assert rows, "batch split produced no incoming docs"
    for r in rows:
        assert r.new_doc % 10 == 7
        if r.verdict == "unique":
            assert r.match_doc is None and r.jaccard_ppm is None
        elif r.verdict == "exact_dup":
            assert r.match_doc is not None and r.match_doc % 10 != 7
            assert r.jaccard_ppm is None
        else:
            assert r.verdict == "near_dup"
            assert r.match_doc is not None and r.match_doc % 10 != 7
            assert r.jaccard_ppm >= 800_000


def test_lang_rebalance_rates_hit_target(spark, sf_dir):
    from input_data_pipeline_spark.operators.textstats import lang_rebalance_plan

    rows = lang_rebalance_plan(spark, sf_dir).collect()
    for r in rows:
        assert 0 < r.rate_bp <= 10000
        # realized kept-count lands near n_docs * rate (binomial variance:
        # allow ~4 sigma plus slack for tiny strata)
        expected = r.n_docs * r.rate_bp / 10000
        assert abs(r.n_kept - expected) <= 4 * expected**0.5 + 5, r


def test_exact_substring_coverage_planted(spark, tmp_path):
    """Two docs sharing one 8-token span: exactly that shingle position is
    covered in each (1 of 3 -> 333333 ppm); a unique doc scores 0; a doc
    shorter than the shingle width drops out."""
    from input_data_pipeline_spark.operators.corpus import exact_substring_coverage

    shared = "t1 t2 t3 t4 t5 t6 t7 t8"
    rows = [
        (0, shared + " t9 t10", "a", "en", 1),
        (1, shared + " x y", "b", "en", 1),
        (2, "u1 u2 u3 u4 u5 u6 u7 u8 u9", "c", "en", 1),
        (3, "s1 s2 s3 s4 s5", "d", "en", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = sorted(tuple(r) for r in exact_substring_coverage(spark, str(tmp_path)).collect())
    assert got == [
        (0, "a", 3, 333333),
        (1, "b", 3, 333333),
        (2, "c", 2, 0),
    ]


def test_planted_skew_hot_shingle_stays_bounded(spark, tmp_path):
    """Degenerate-corpus skew evidence (the 100 TB worry made concrete):
    one 8-token sentence planted in 50% of 200 docs. The shuffles keyed by
    shingle must stay bounded anyway:

    - contamination: the df-cap drops the hot shingles BEFORE the pair
      self-join, so the max per-key multiplicity entering the join is
      <= _CONTAM_DF_CAP (not 100), capping per-key fan-out at cap^2 — and
      the planted boilerplate yields zero contamination pairs;
    - exact-substring coverage: the per-doc distinct pass keeps the hot
      key at ONE row per containing doc, the df agg partial-combines
      map-side, and the d⋈df join emits exactly |d| rows (no fan-out) —
      verified by cardinality and by the expected coverage ppm.
    """
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.operators.corpus import (
        _CONTAM_DF_CAP,
        _kgrams_map_only,
        contamination_overlap,
        exact_substring_coverage,
    )
    from input_data_pipeline_spark.tables import load_table

    hot = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = []
    for i in range(200):
        filler = " ".join(f"u{i}w{j}" for j in range(10))
        text = (hot + " " + filler) if i < 100 else filler
        rows.append((i, text, "s", "en", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    # --- contamination: hot 5-grams have df=100 >> cap, and are dropped ---
    sh = _kgrams_map_only(load_table(spark, sf_dir, "documents"), 5).distinct()
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    assert dfreq.agg(F.max("df")).first()[0] >= 100  # the skew IS planted
    shr = sh.join(
        dfreq.filter(F.col("df") <= _CONTAM_DF_CAP).select("sh"), "sh"
    )
    max_key = shr.groupBy("sh").agg(F.count(F.lit(1)).alias("n")).agg(F.max("n")).first()[0]
    assert max_key <= _CONTAM_DF_CAP  # join-side multiplicity capped
    # boilerplate is not leakage signal: no contamination pairs survive
    assert contamination_overlap(spark, sf_dir).count() == 0

    # --- exact-substring coverage: hot key collapses to 1 row/doc ---
    out = {r.doc_id: r for r in exact_substring_coverage(spark, sf_dir).collect()}
    assert len(out) == 200
    # hot docs: 18 tokens -> 11 shingle positions, exactly 1 (the pure-hot
    # window) duplicated across docs -> 90909 ppm; cold docs: 10 tokens ->
    # 3 positions, all unique -> 0 ppm
    for i in range(200):
        r = out[i]
        if i < 100:
            assert (r.n_shingles, r.dup_coverage_ppm) == (11, 90909), r
        else:
            assert (r.n_shingles, r.dup_coverage_ppm) == (3, 0), r
    # plan evidence: the df agg partial-combines map-side (two-phase agg)
    plan = exact_substring_coverage(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in plan


def test_bm25_ranks_planted_relevant_docs_first(spark, tmp_path):
    """BM25 semantics on a planted corpus: a doc dense in query terms
    outranks a long doc with one hit; docs without query terms are absent;
    ranks are dense from 1."""
    from input_data_pipeline_spark.operators.textstats import bm25_doc_search

    filler = " ".join(f"f{i}" for i in range(40))
    rows = [
        (0, "spark vector stream spark vector spark", "s", "en", 1),  # dense hits
        (1, "spark " + filler, "s", "en", 1),                         # 1 hit, long
        (2, "spark spark " + " ".join(f"g{i}" for i in range(6)), "s", "en", 1),
        (3, filler, "s", "en", 1),                                    # no hits
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = bm25_doc_search(spark, str(tmp_path)).collect()
    assert [r.rank for r in out] == list(range(1, len(out) + 1))
    assert [r.doc_id for r in out][0] == 0          # densest doc wins
    assert 3 not in {r.doc_id for r in out}         # no-hit doc absent
    assert all(r.score_ppm > 0 for r in out)
    by_id = {r.doc_id: r.score_ppm for r in out}
    assert by_id[2] > by_id[1]  # two short-doc hits beat one long-doc hit


def test_doc_chunk_windows_cover_with_overlap(spark, tmp_path):
    """Chunker invariants on a planted 70-token doc (window 32, stride 24):
    starts at 0/24/48, full windows then the tail, consecutive chunks
    overlap by exactly 8 tokens, and every token is covered."""
    import hashlib

    from input_data_pipeline_spark.operators.textstats import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        doc_chunk_windows,
    )

    toks = [f"t{i}" for i in range(70)]
    rows = [
        (0, " ".join(toks), "s", "en", 1),
        (1, "", "s", "en", 1),        # zero tokens -> no chunks
        (2, "only three words", "s", "en", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = doc_chunk_windows(spark, str(tmp_path)).collect()
    d0 = sorted((r for r in out if r.doc_id == 0), key=lambda r: r.chunk_idx)
    assert [r.chunk_idx for r in d0] == [0, 1, 2]
    assert [r.n_tokens for r in d0] == [32, 32, 70 - 2 * CHUNK_STRIDE]
    for i, r in enumerate(d0):
        want = toks[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_TOKENS]
        assert r.chunk_sig == hashlib.md5(" ".join(want).encode()).hexdigest()[:16]
    # coverage: starts every stride => overlap = window - stride = 8 tokens
    assert CHUNK_TOKENS - CHUNK_STRIDE == 8
    assert 1 not in {r.doc_id for r in out}
    d2 = [r for r in out if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].n_tokens == 3


def test_gopher_rules_on_planted_docs(spark, tmp_path):
    """Each Gopher rule trips on a doc engineered to violate exactly it."""
    from input_data_pipeline_spark.operators.textstats import gopher_quality_flags

    good = "the data and model have to be of use with care " * 6  # 66 words
    rows = [
        (0, good.strip(), "s", "en", 1),                             # passes all
        (1, "the of and that", "s", "en", 1),                        # too few words
        (2, " ".join(["a"] * 60) + " the of", "s", "en", 1),         # mean len < 3
        (3, good.strip() + " " + " ".join(["#"] * 10), "s", "en", 1),# symbol ratio
        (4, " ".join(["123"] * 60) + " the of", "s", "en", 1),       # non-alpha words
        (5, " ".join(["alpha"] * 60), "s", "en", 1),                 # no stop words
        (6, "\n".join(["- " + good.strip()] * 10), "s", "en", 1),    # all bullets
        (7, "\n".join([good.strip() + " w..."] * 10), "s", "en", 1), # all ellipses
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: r for r in gopher_quality_flags(spark, str(tmp_path)).collect()}
    assert out[0].gopher_pass
    for i, flag in [
        (1, "wc_ok"), (2, "mwl_ok"), (3, "sym_ok"), (4, "alpha_ok"),
        (5, "stop_ok"), (6, "bullet_ok"), (7, "ellipsis_ok"),
    ]:
        assert not out[i][flag], (i, flag, out[i])
        assert not out[i].gopher_pass


def test_c4_rules_on_planted_docs(spark, tmp_path):
    """Each C4 rule trips on a doc engineered to violate exactly it."""
    from input_data_pipeline_spark.operators.textstats import c4_quality_flags

    good_line = "this sentence has plenty of words and ends properly."
    good = "\n".join([good_line] * 3)  # 3 sentences, 3 retained lines
    rows = [
        (0, good, "s", "en", 1),                                      # passes all
        (1, good_line + " one? two.", "s", "en", 1),                  # ok too (3 sents)
        (2, "only one sentence here with enough words.", "s", "en", 1),  # < 3 sentences
        (3, good + "\nLorem Ipsum dolor sit.", "s", "en", 1),         # lorem ipsum
        (4, good + "\nif (x) { return; }", "s", "en", 1),             # curly brace
        (5, "short line.\nno punct here at all\nends mid", "s", "en", 1),  # no retained
        (6, good + "\nenable javascript to view this page now.", "s", "en", 1),  # js line
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: r for r in c4_quality_flags(spark, str(tmp_path)).collect()}
    assert out[0].c4_pass and out[0].retained_line_ppm == 1_000_000
    assert out[1].c4_pass
    assert not out[2].sent_ok and not out[2].c4_pass
    assert not out[3].lorem_ok and not out[3].c4_pass
    assert not out[4].brace_ok and not out[4].c4_pass
    assert not out[5].lines_ok and not out[5].c4_pass
    # doc 6 still passes page-level gates but the js line is NOT retained
    assert out[6].n_retained_lines == 3 and out[6].n_lines == 4
    assert out[6].retained_line_ppm == 750_000


def test_ccnet_buckets_are_equal_thirds_per_lang(spark, sf_dir):
    """CCNet semantics: per language the head/middle/tail buckets differ
    by at most one doc, and every head score >= every tail score."""
    from input_data_pipeline_spark.operators.textstats import (
        ccnet_perplexity_buckets,
    )

    rows = ccnet_perplexity_buckets(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    assert by_lang
    for lang, docs in by_lang.items():
        sizes = {b: sum(1 for d in docs if d.bucket == b) for b in ("head", "middle", "tail")}
        assert max(sizes.values()) - min(sizes.values()) <= 1, (lang, sizes)
        head_min = min(d.lm_score_ppm for d in docs if d.bucket == "head")
        tail_max = max(d.lm_score_ppm for d in docs if d.bucket == "tail")
        assert head_min >= tail_max, (lang, head_min, tail_max)


def test_dsir_weights_favor_target_like_docs(spark, tmp_path):
    """Docs made of target-domain vocabulary must outweigh docs made of
    pool-only vocabulary, and the top-k flag must follow the weights."""
    from input_data_pipeline_spark.operators.curation import (
        _DSIR_TARGET_SRC,
        dsir_importance_weights,
    )

    tgt_text = "protein genome enzyme receptor sequence " * 8
    pool_text = "football striker referee penalty goal " * 8
    rows = (
        [(i, tgt_text.strip(), "en", _DSIR_TARGET_SRC, 1) for i in range(5)]
        + [(10 + i, tgt_text.strip(), "en", "poolA", 1) for i in range(3)]  # target-like
        + [(20 + i, pool_text.strip(), "en", "poolB", 1) for i in range(10)]
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: r for r in dsir_importance_weights(spark, str(tmp_path)).collect()}
    target_like = [out[10 + i].dsir_weight_ppm for i in range(3)]
    pool_only = [out[20 + i].dsir_weight_ppm for i in range(10)]
    assert min(target_like) > max(pool_only)
    # k=50 > corpus size here, so everything is selected; the ordering
    # contract is the weights themselves (asserted above)
    assert all(r.selected for r in out.values())


def test_url_canonicalization_collapses_variants(spark):
    """Every spelling group in the fixture lands on one canonical URL with
    the expected survivor. (The registry query is data-driven since r9;
    the hand-written fixture keeps pinning each spelling class here.)"""
    from input_data_pipeline_spark.operators.curation import (
        _CANON_FIXTURE,
        canonical_url_groups,
    )

    recs = spark.createDataFrame(_CANON_FIXTURE, ["rec_id", "url"])
    out = {r.canonical_url: r for r in canonical_url_groups(recs).collect()}
    assert set(out) == {
        "https://example.com/Article?id=7",
        "http://news.example.com/today",
        "https://other.org/page",
        "https://unique.net/solo?a=1&b=2",
    }
    assert out["https://example.com/Article?id=7"].n_variants == 3
    assert out["https://example.com/Article?id=7"].keep_rec == "r1"
    assert out["http://news.example.com/today"].n_variants == 3
    assert out["https://other.org/page"].n_variants == 2
    assert out["https://unique.net/solo?a=1&b=2"].keep_rec == "r9"
