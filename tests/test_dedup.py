"""Property tests for dedup: LSH recall vs exact ground truth (SURVEY §5.4)."""

from __future__ import annotations

from input_data_pipeline_spark.operators.dedup import (
    dedup_minhash_lsh,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """Every pair with true 2-gram Jaccard >= 0.8 must be recalled by the
    MinHash-LSH candidates (est >= 0.5) at >= 90%."""
    truth = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(spark, sf_dir).collect()}
    cand = {(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf_dir).collect()}
    assert truth, "ground-truth near-dup set is empty — fixture assumption broken"
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9 ({len(truth)} true pairs)"


def test_simhash_close_on_near_duplicates(spark, sf_dir):
    """Pairs that are exact near-dups (Jaccard >= 0.8) should also be close
    in SimHash space (hamming <= 3) for the large majority."""
    truth = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(spark, sf_dir).collect()}
    sim = {(r.doc_a, r.doc_b) for r in simhash_near_pairs(spark, sf_dir).collect()}
    hit = len(truth & sim) / len(truth)
    # 32-bit SimHash over distinct-token sets is a coarser signal than
    # shingle Jaccard; ~0.75-0.8 overlap is its expected operating point here.
    assert hit >= 0.7, f"only {hit:.2f} of true near-dups are simhash-close"


def test_ml_minhash_recall_vs_exact(spark, sf_dir):
    """spark.ml MinHashLSH candidates must recover most of the exact
    Jaccard>=0.8 ground-truth pairs. The query's oracle verdict is the
    deliberately-loose corpus-independent >=70% bound; THIS test keeps the
    tight committed-corpus bound (raw recall >= 90%, recomputed from the
    same seeded ml pipeline) so a candidate-generation regression that the
    production verdict tolerates still fails CI."""
    import pyspark.sql.functions as F
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from input_data_pipeline_spark.operators.dedup import (
        _shingles2,
        dedup_minhash_ml,
        ngram_jaccard_pairs,
    )
    from input_data_pipeline_spark.tables import load_table

    truth = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(spark, sf_dir).collect()}
    assert truth, "ground truth empty — fixture changed?"
    [row] = dedup_minhash_ml(spark, sf_dir).collect()
    assert row.n_true_pairs == len(truth)
    assert row.recall_ge_70pct, f"ml LSH recall < 0.7 over {row.n_true_pairs} pairs"

    # tight bound: raw candidate-set recall on the committed fixture
    sh = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", _shingles2("text").alias("shs"))
        .filter(F.size("shs") > 0)
    )
    feats = HashingTF(inputCol="shs", outputCol="features", numFeatures=1 << 18).transform(sh)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=3, seed=42
    ).fit(feats)
    cand = {
        (r.a, r.b)
        for r in model.approxSimilarityJoin(feats, feats, 0.25, distCol="d")
        .select(F.col("datasetA.doc_id").alias("a"), F.col("datasetB.doc_id").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .collect()
    }
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.9, f"raw ml LSH recall {recall:.2f} over {len(truth)} pairs"


def test_connected_components_transitive_chain(spark):
    from input_data_pipeline_spark.operators.dedup import connected_components

    # a-b-c-d chain + isolated pair (x, y): one 4-cluster, one 2-cluster.
    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("y", "x")], ["src", "dst"]
    )
    got = {r["id"]: r["label"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_connected_components_computes_edge_list_once(spark):
    """The upstream edge plan (the costly pair graph in the dedup queries)
    runs once per ``connected_components`` call: a counting UDF in the
    edge frame sees each edge row exactly once, results included."""
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.operators.dedup import connected_components

    seen = spark.sparkContext.accumulator(0)

    def counted(x):
        seen.add(1)
        return x

    count_udf = F.udf(counted, "long")
    # chains 0-1-2 and 10-11-12 plus a self-loop on 20: 5 edges, 7 vertices
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (11, 12), (20, 20)], "a long, b long"
    ).select(count_udf("a").alias("src"), F.col("b").alias("dst"))
    got = {r.id: r.label for r in connected_components(edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10, 20: 20}
    assert seen.value == 5


def test_cluster_assignment_matches_pairs(spark, sf_dir):
    from input_data_pipeline_spark.operators.dedup import (
        dedup_cluster_assignment,
        ngram_jaccard_pairs,
    )

    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_cluster_assignment(spark, sf_dir).collect()
    }
    pairs = ngram_jaccard_pairs(spark, sf_dir).collect()
    assert pairs, "expected near-dup pairs at sf0.001"
    for p in pairs:
        # Every near-dup pair ends up in the same cluster,
        assert labels[p["doc_a"]] == labels[p["doc_b"]]
        # and the label is the lexicographic min of the component.
        assert labels[p["doc_a"]] <= min(p["doc_a"], p["doc_b"])


def test_embedding_near_pairs_blocked_equals_bruteforce(spark, sf_dir):
    """The blocked block-pair matmul path must reproduce the naive all-pairs
    expression join exactly (same pairs, same 4-dp cosines) — guards the
    no-driver-collect rewrite of embedding_near_pairs."""
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.operators.dedup import embedding_near_pairs
    from input_data_pipeline_spark.operators.similarity import cosine
    from input_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a"),
        F.col("e").alias("ea"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"),
        F.col("e").alias("eb"),
    )
    brute = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cosine_ppm", F.round(cosine(F.col("ea"), F.col("eb")) * 1_000_000).cast("long")
        )
        .filter(F.col("cosine_ppm") >= 450_000)
        .select("vec_a", "vec_b", "label_a", "label_b", "cosine_ppm")
    )
    expected = sorted(tuple(r) for r in brute.collect())
    got = sorted(tuple(r) for r in embedding_near_pairs(spark, sf_dir).collect())
    assert expected, "expected at least one near pair at sf0.001"
    assert got == expected


def test_shingle_paths_agree_on_degenerate_docs(spark):
    """_exploded_shingles2 and word_shingles must emit the same (doc_id, sh)
    sets for EVERY input — including empty, whitespace-only, and single-token
    docs (the exploded path used to silently drop zero-token docs)."""
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.operators.dedup import (
        _exploded_shingles2,
        _shingles2,
    )

    docs = spark.createDataFrame(
        [
            (1, ""),                      # zero tokens
            (2, "   \t  "),               # whitespace only -> zero tokens
            (3, "solo"),                  # one token -> bare-token shingle
            (4, "two words"),             # one 2-shingle
            (5, "a b c"),                 # two 2-shingles
        ],
        "doc_id int, text string",
    )
    exploded = {
        (r.doc_id, r.sh)
        for r in _exploded_shingles2(docs).distinct().collect()
    }
    arrayed = {
        (r.doc_id, r.sh)
        for r in docs.select(
            "doc_id", F.explode(_shingles2("text")).alias("sh")
        ).collect()
    }
    assert exploded == arrayed
    assert (1, "") in exploded and (2, "") in exploded


def test_connected_components_star_planted_graphs(spark):
    """Large-star/small-star CC on adversarial shapes: a 60-node chain (long
    diameter — plain propagation needs 60 rounds, star rewrites O(log n)), a
    500-leaf hub (planted skew), a triangle with a tail, and two isolated
    edges. Every vertex must label to its component's min id."""
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(100, 160)]           # min 100
    hub = [(1000, 1000 + i) for i in range(1, 501)]          # min 1000
    tri = [(7, 8), (8, 9), (7, 9), (9, 10)]                  # min 7
    pair = [(5000, 5001), (6001, 6000)]                      # mins 5000, 6000
    edges = spark.createDataFrame(chain + hub + tri + pair, "src long, dst long")

    got = {r.id: r.label for r in connected_components(edges, max_iter=12).collect()}

    expected = {}
    for i in range(100, 161):
        expected[i] = 100
    for i in range(1000, 1501):
        expected[i] = 1000
    for i in (7, 8, 9, 10):
        expected[i] = 7
    expected.update({5000: 5000, 5001: 5000, 6000: 6000, 6001: 6000})
    assert got == expected


def test_shingle_oracle_parity_on_degenerate_docs(spark, tmp_path):
    """Spark and the DuckDB oracle must agree on EMPTY, whitespace-only and
    single-token docs — the old oracle fragment silently dropped empty docs
    (list_distinct stripped a NULL shingle) and emitted a trailing-space
    shingle for one-token docs."""
    import duckdb

    from input_data_pipeline_spark.plans.registry import get

    rows = [
        (0, "", "en", "s0", 0),
        (1, "   \t ", "en", "s0", 5),            # whitespace-only == empty
        (2, "solo", "en", "s1", 4),
        (3, "solo", "en", "s1", 4),              # single-token dup pair
        (4, "alpha beta gamma delta", "en", "s2", 22),
        (5, "alpha beta gamma delta", "en", "s2", 22),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tgt = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(tgt)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tgt}/*.parquet')"
    )
    for name in ("dedup_minhash_lsh", "ngram_jaccard_pairs"):
        spec = get(name)
        got = sorted(
            tuple(float(v) if isinstance(v, float) else v for v in r)
            for r in spec.fn(spark, str(tmp_path)).collect()
        )
        want = sorted(
            tuple(float(v) if hasattr(v, "__float__") and not isinstance(v, int) else v for v in r)
            for r in con.execute(spec.oracle).fetchall()
        )
        assert got == want, f"{name}: {got} != {want}"
        assert any(0 in r[:2] and 1 in r[:2] for r in got), (
            f"{name}: empty-doc pair missing"
        )


def test_bloom_precheck_no_false_negatives_and_bounded_fp(spark, sf_dir):
    """Bloom guarantee: every true dup is a bloom hit (no false negatives
    — the property that makes the pre-screen safe to prune with), and the
    false-positive rate among genuinely-new docs stays under a loose bound
    of the theoretical (1-e^(-kn/m))^k for the test corpus sizes."""
    import math

    from input_data_pipeline_spark.operators.dedup import (
        _BLOOM_K,
        _BLOOM_M,
        _INCR_NEW_MOD,
        bloom_dedup_precheck,
    )
    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.tables import load_table

    import pyspark.sql.functions as F

    rows = bloom_dedup_precheck(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.true_dup:
            assert r.bloom_hit, f"false negative for doc {r.new_doc}"

    fresh = [r for r in rows if not r.true_dup]
    fp = sum(1 for r in fresh if r.bloom_hit)
    n_corpus_fps = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 != _INCR_NEW_MOD)
        .select(T.fingerprint("text"))
        .distinct()
        .count()
    )
    p_theory = (1 - math.exp(-_BLOOM_K * n_corpus_fps / _BLOOM_M)) ** _BLOOM_K
    # 5x slack + additive floor: tiny samples are noisy
    assert fp <= max(5, 5 * p_theory * len(fresh)), (fp, p_theory, len(fresh))


def test_keep_selection_longest_survives(spark, tmp_path):
    """A planted 3-doc near-dup family keeps exactly its longest member;
    singletons are their own cluster and always kept."""
    from input_data_pipeline_spark.operators.dedup import dedup_keep_selection

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base, "s", "en", len(base)),
        (1, base + " extra", "s", "en", len(base) + 6),
        (2, base + " extra more", "s", "en", len(base) + 11),
        (3, "totally different words here nothing shared at all ok", "s", "en", 54),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {r.doc_id: r for r in dedup_keep_selection(spark, str(tmp_path)).collect()}
    assert len(got) == 4
    fam = {0, 1, 2}
    cluster_ids = {got[d].cluster_id for d in fam}
    assert cluster_ids == {0}, cluster_ids          # min doc_id labels the family
    assert all(got[d].cluster_size == 3 for d in fam)
    assert all(got[d].kept_doc == 2 for d in fam)   # longest doc survives
    assert [got[d].keep for d in (0, 1, 2)] == [False, False, True]
    assert got[3].keep and got[3].cluster_size == 1 and got[3].kept_doc == 3


def test_dedup_soft_weights_mass_conservation(spark, sf_dir):
    """Soft-dedup invariants: every doc keeps a positive weight; the
    corpus-wide effective mass equals the number of DISTINCT fingerprints
    in ppm (each group contributes ~1e6 up to integer floor loss); docs
    outside dup groups carry full weight."""
    from input_data_pipeline_spark.operators.dedup import dedup_soft_weights
    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.tables import load_table
    import pyspark.sql.functions as F

    rows = dedup_soft_weights(spark, sf_dir).collect()
    assert rows
    fp = (
        load_table(spark, sf_dir, "documents")
        .select(T.fingerprint("text").alias("f"))
        .groupBy("f")
        .count()
        .collect()
    )
    n_groups = len(fp)
    eff = sum(r.effective_docs_ppm for r in rows)
    # each size-k group sums to k*(1e6 DIV k) ∈ (1e6 - k, 1e6]
    assert eff <= n_groups * 1_000_000
    assert eff > n_groups * 1_000_000 - sum(c for _, c in fp)
    for r in rows:
        assert r.min_weight_ppm >= 1
        assert r.mean_weight_ppm <= 1_000_000
        assert r.n_in_dup_groups <= r.n_docs
