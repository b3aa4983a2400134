"""Similarity search over embeddings (BASELINE N★).

Three tiers, mirroring how ANN actually gets deployed on Spark:

1. ``knn_bruteforce`` — expression-only exact top-k; the oracle shape.
2. ``knn_bruteforce_np`` — the same semantics through ``mapInPandas`` with
   numpy blocked matmul + per-partition top-k then global merge: the pattern
   that scales brute force to a sharded 100 TB corpus (each executor scores
   its shard against the broadcast query matrix; only k rows per (query,
   partition) survive to the merge).
3. ``knn_hyperplane_lsh`` — random-hyperplane LSH: 16 deterministic
   hyperplanes → 2 banded 8-bit buckets → equi-join candidates → exact
   re-rank. Recall is property-tested against tier 1.

The hyperplanes are md5-seeded constants generated in Python and embedded
as literals in BOTH the Spark plan and the DuckDB oracle, so every tier is
hash-checkable end to end.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from input_data_pipeline_spark.functions.stable import round_micros
from input_data_pipeline_spark.plans.registry import register
from input_data_pipeline_spark.tables import corpus_cached, load_table

DIM = 64
N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10
N_PLANES = 16
# 4 bands × 4 bits: for cosine≈0.5 neighborhoods per-bit agreement is
# ~1-θ/π≈0.67, so a 4-bit band matches with p≈0.2 and any-of-4 gives ~60%
# recall while scoring only ~1/4 of the corpus. (8-bit bands tested out at
# ~2% recall — far too strict for mid-cosine neighbors.)
_PLANE_BANDS = 4
_BITS_PER_BAND = N_PLANES // _PLANE_BANDS


def _plane_value(plane: int, dim: int) -> float:
    """Deterministic pseudo-random uniform [-1, 1) from md5 — reproducible
    anywhere, no RNG state, so both engines share the exact constants."""
    h = hashlib.md5(f"plane:{plane}:{dim}".encode()).hexdigest()[:8]
    return round(int(h, 16) / 2**32 * 2 - 1, 9)


PLANES: list[list[float]] = [[_plane_value(p, d) for d in range(DIM)] for p in range(N_PLANES)]


# ---------------------------------------------------------------------------
# shared column math (index-order folds == DuckDB list_sum order)
# ---------------------------------------------------------------------------

def dot(x: Column, y: Column) -> Column:
    return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda a, v: a + v)


def norm(x: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(x, lambda p: p * p), F.lit(0.0), lambda a, v: a + v))


def cosine(x: Column, y: Column) -> Column:
    return dot(x, y) / (norm(x) * norm(y))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )


_DUCK_COS = (
    "list_sum(list_transform(range(1, {d} + 1), i -> qa.e[i] * c.e[i]))"
    " / (sqrt(list_sum(list_transform(qa.e, x -> x * x)))"
    " * sqrt(list_sum(list_transform(c.e, x -> x * x))))"
).format(d=DIM)

_DUCK_KNN_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT qa.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         CAST(ROUND(({_DUCK_COS}) * 1000000) AS BIGINT) AS cosine_ppm
  FROM v qa JOIN v c ON qa.vec_id < {N_QUERIES} AND c.vec_id <> qa.vec_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_ppm DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, neighbor_label, cosine_ppm, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register("knn_bruteforce", oracle=_DUCK_KNN_ORACLE)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for the first 5 vectors, expression-only.

    Query side is 5 rows → broadcast; scoring is one codegen'd pass over the
    corpus; ranking shuffles only (queries × corpus) scored rows, and the
    rank<=k filter cuts that to 5×10 immediately.
    """
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("e").alias("ce"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_ppm"), F.asc("neighbor_id"))
    return (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_ppm", round_micros(cosine(F.col("qe"), F.col("ce"))))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine_ppm", "rank")
        .orderBy("query_id", "rank")
    )


@register("knn_bruteforce_np", oracle=_DUCK_KNN_ORACLE)
def knn_bruteforce_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact top-k, but the scalable execution shape: numpy blocked
    matmul inside ``mapInPandas`` (Arrow batches), per-partition top-k,
    then a tiny global merge. 5×10 rows per partition cross the shuffle —
    corpus size never does. Float64 matmul agrees with the sequential fold
    to well past the 4-decimal rounding we emit."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    qrows = emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "e").collect()
    q_ids = [r["vec_id"] for r in qrows]
    q_mat = np.array([r["e"] for r in qrows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq_mat = spark.sparkContext.broadcast(q_mat)

    out_schema = "query_id bigint, neighbor_id bigint, neighbor_label int, cosine_ppm bigint"

    def score_partition(batches):
        ids_b, labels_b, mats = [], [], []
        for pdf in batches:
            if len(pdf):
                ids_b.append(pdf["vec_id"].to_numpy())
                labels_b.append(pdf["label"].to_numpy())
                mats.append(np.array(pdf["e"].tolist(), dtype=np.float64))
        if not mats:
            return
        ids = np.concatenate(ids_b)
        labels = np.concatenate(labels_b)
        mat = np.vstack(mats)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = bq_mat.value @ mat.T  # (n_queries, n_corpus)
        for qi, qid in enumerate(bq_ids.value):
            row = sims[qi]
            mask = ids != qid
            cand = np.flatnonzero(mask)
            if cand.size == 0:
                continue
            k = min(TOP_K, cand.size)
            top = cand[np.argsort(-row[cand], kind="stable")[:k]]
            yield pd.DataFrame(
                {
                    "query_id": qid,
                    "neighbor_id": ids[top],
                    "neighbor_label": labels[top],
                    # Sign-aware half-up (half AWAY FROM ZERO) ppm quantization,
                    # matching DuckDB ROUND: plain floor(x+0.5) rounds negative
                    # halves toward +inf, and this top-K list has no >=0 filter,
                    # so a negative exact-half cosine would differ by 1.
                    "cosine_ppm": np.where(
                        row[top] >= 0,
                        np.floor(row[top] * 1_000_000 + 0.5),
                        -np.floor(-row[top] * 1_000_000 + 0.5),
                    ).astype(np.int64),
                }
            )

    partial = emb.mapInPandas(score_partition, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_ppm"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH ANN
# ---------------------------------------------------------------------------

def _duck_plane_literal() -> str:
    rows = ", ".join(
        "(" + str(p) + ", [" + ", ".join(str(v) for v in PLANES[p]) + "]::DOUBLE[])"
        for p in range(N_PLANES)
    )
    return f"(VALUES {rows}) AS planes(p, vec)"


def _signature_bits(e: Column) -> list[Column]:
    """bit_i = dot(e, plane_i) >= 0, planes as literal arrays."""
    bits = []
    for p in range(N_PLANES):
        plane = F.array(*[F.lit(v) for v in PLANES[p]])
        bits.append((dot(e, plane) >= 0).cast("int"))
    return bits


def _band_cols(e: Column) -> list[Column]:
    bits = _signature_bits(e)
    bands = []
    for b in range(_PLANE_BANDS):
        acc = F.lit(0)
        for j in range(_BITS_PER_BAND):
            acc = acc + bits[b * _BITS_PER_BAND + j] * F.lit(1 << j)
        bands.append(acc.alias(f"band{b}"))
    return bands


_DUCK_BAND_SUMS = ",\n         ".join(
    f"SUM(CASE WHEN p >= {b * _BITS_PER_BAND} AND p < {(b + 1) * _BITS_PER_BAND} "
    f"THEN bit * (1 << (p - {b * _BITS_PER_BAND})) ELSE 0 END)::BIGINT AS band{b}"
    for b in range(_PLANE_BANDS)
)
_DUCK_BAND_MATCH = " OR ".join(f"qa.band{b} = c.band{b}" for b in range(_PLANE_BANDS))

_DUCK_LSH_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
bits AS (
  SELECT v.vec_id, v.label, v.e, planes.p,
         CASE WHEN list_sum(list_transform(range(1, {DIM} + 1),
              i -> v.e[i] * planes.vec[i])) >= 0 THEN 1 ELSE 0 END AS bit
  FROM v, {_duck_plane_literal()}),
sig AS (
  SELECT vec_id, label, e,
         {_DUCK_BAND_SUMS}
  FROM bits GROUP BY vec_id, label, e),
cand AS (
  SELECT DISTINCT qa.vec_id AS query_id, c.vec_id AS neighbor_id,
         c.label AS neighbor_label, qa.e AS qe, c.e AS ce
  FROM sig qa JOIN sig c
    ON ({_DUCK_BAND_MATCH})
   AND qa.vec_id < {N_QUERIES} AND c.vec_id <> qa.vec_id),
scored AS (
  SELECT query_id, neighbor_id, neighbor_label,
         CAST(ROUND((list_sum(list_transform(range(1, {DIM} + 1), i -> qe[i] * ce[i]))
               / (sqrt(list_sum(list_transform(qe, x -> x * x)))
                  * sqrt(list_sum(list_transform(ce, x -> x * x))))) * 1000000)
              AS BIGINT) AS cosine_ppm
  FROM cand),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_ppm DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, neighbor_label, cosine_ppm, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register("knn_hyperplane_lsh", oracle=_DUCK_LSH_ORACLE)
def knn_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: 16 hyperplane sign bits → two 8-bit band buckets →
    candidates share a bucket with the query → exact cosine re-rank.

    The candidate join is equi on band values (the query side is 5 rows,
    broadcast); the corpus is scanned once to compute signatures. At 100 TB
    you persist (vec_id, band0, band1) bucketed by band for reuse across
    query batches. Recall vs brute force is property-tested."""
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    sig = emb.select("vec_id", "label", "e", *_band_cols(F.col("e")))
    q = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        *[F.col(f"band{b}").alias(f"qb{b}") for b in range(_PLANE_BANDS)],
    )
    band_match = F.lit(False)
    for b in range(_PLANE_BANDS):
        band_match = band_match | (F.col(f"qb{b}") == F.col(f"band{b}"))
    cand = (
        F.broadcast(q)
        .join(sig, band_match & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            "qe",
            F.col("e").alias("ce"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_ppm"), F.asc("neighbor_id"))
    return (
        cand.withColumn("cosine_ppm", round_micros(cosine(F.col("qe"), F.col("ce"))))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine_ppm", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Centroids (one k-means assignment step — the iterative-algorithm shape)
# ---------------------------------------------------------------------------

@register(
    "label_centroid_assignment",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (
      SELECT label AS c_label, list(cx ORDER BY i) AS c_e
      FROM (SELECT label, r.i AS i,
                   ROUND(CAST(SUM(CAST(e[r.i] AS DECIMAL(18,9))) AS DOUBLE)
                         / COUNT(*), 6) AS cx
            FROM v, range(1, {DIM} + 1) AS r(i)
            GROUP BY label, r.i)
      GROUP BY label),
    scored AS (
      SELECT v.vec_id, v.label, c.c_label,
             list_sum(list_transform(range(1, {DIM} + 1), i -> v.e[i] * c.c_e[i]))
               / (sqrt(list_sum(list_transform(v.e, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.c_e, x -> x * x)))) AS cos
      FROM v CROSS JOIN cent c),
    assigned AS (
      SELECT vec_id, label,
             ARG_MAX(c_label, ROUND(cos, 6) - c_label * 1e-9) AS assigned
      FROM scored GROUP BY vec_id, label)
    SELECT label, assigned, COUNT(*) AS n
    FROM assigned
    GROUP BY label, assigned
    ORDER BY label, assigned
    """,
)
def label_centroid_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means-style assignment step: per-label centroids (rounded to
    6 dp so both engines share exact constants) → nearest centroid per
    vector by cosine → label×assignment confusion counts.

    Centroids are 10 rows → broadcast cross join; the per-vector argmax is
    a max_by with a deterministic tiebreak (lower label wins)."""
    emb = _emb(spark, sf_dir)
    cent = (
        emb.select("label", F.posexplode("e").alias("i", "x"))
        .groupBy("label", "i")
        # exact decimal mean: order-independent across partial aggregation,
        # so both engines derive bit-identical centroid constants
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("cx")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "cx"))).alias("pairs"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("pairs", lambda s: s.getField("cx")).alias("c_e"),
        )
    )
    scored = (
        emb.crossJoin(F.broadcast(cent))
        .withColumn("cos", F.round(cosine(F.col("e"), F.col("c_e")), 6))
    )
    assigned = scored.groupBy("vec_id", "label").agg(
        F.max_by("c_label", F.col("cos") - F.col("c_label") * F.lit(1e-9)).alias("assigned")
    )
    return (
        assigned.groupBy("label", "assigned")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "assigned")
    )


# ---------------------------------------------------------------------------
# IVF-style ANN (coarse quantize → probe nearest cells → exact re-rank)
# ---------------------------------------------------------------------------

N_CELLS = 8
N_PROBE = 2


def _cell_value(cell: int, dim: int) -> float:
    h = hashlib.md5(f"cell:{cell}:{dim}".encode()).hexdigest()[:8]
    return round(int(h, 16) / 2**32 * 2 - 1, 9)


CENTROIDS: list[list[float]] = [
    [_cell_value(c, d) for d in range(DIM)] for c in range(N_CELLS)
]


def _duck_centroid_literal() -> str:
    rows = ", ".join(
        "(" + str(c) + ", [" + ", ".join(str(v) for v in CENTROIDS[c]) + "]::DOUBLE[])"
        for c in range(N_CELLS)
    )
    return f"(VALUES {rows}) AS c(cell, cvec)"


_DUCK_CELL_COS = (
    "list_sum(list_transform(range(1, {d} + 1), i -> x.e[i] * c.cvec[i]))"
    " / (sqrt(list_sum(list_transform(x.e, t -> t * t)))"
    " * sqrt(list_sum(list_transform(c.cvec, t -> t * t))))"
).format(d=DIM)

_DUCK_IVF_COS = (
    "list_sum(list_transform(range(1, {d} + 1), i -> p.qe[i] * a.e[i]))"
    " / (sqrt(list_sum(list_transform(p.qe, t -> t * t)))"
    " * sqrt(list_sum(list_transform(a.e, t -> t * t))))"
).format(d=DIM)


@register(
    "knn_ivf",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    assign AS (
      SELECT vec_id, label, e, cell FROM (
        SELECT x.vec_id, x.label, x.e, c.cell,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                  ORDER BY {_DUCK_CELL_COS} DESC, c.cell) AS rn
        FROM v x, {_duck_centroid_literal()})
      WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, e AS qe, cell FROM (
        SELECT x.vec_id, x.e, c.cell,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                  ORDER BY {_DUCK_CELL_COS} DESC, c.cell) AS rn
        FROM v x, {_duck_centroid_literal()}
        WHERE x.vec_id < {N_QUERIES})
      WHERE rn <= {N_PROBE}),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, a.label AS neighbor_label,
             CAST(ROUND(({_DUCK_IVF_COS}) * 1000000) AS BIGINT) AS cosine_ppm
      FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_ppm DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, neighbor_label, cosine_ppm, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest of
    {N_CELLS} centroid cells, then answer each query by exact re-ranking
    only the vectors in its {N_PROBE} nearest cells — the inverted-file
    pattern that bounds scored candidates to ~n_probe/n_cells of the corpus.

    Centroids here are deterministic md5-seeded constants (shared verbatim
    with the oracle) so the whole path is hash-checkable; on a real corpus
    you'd train them with spark.ml KMeans and persist the assignment as a
    bucketed table, making the probe join shuffle-free. The cell assignment
    is MAP-ONLY: one Arrow-batched ``mapInPandas`` pass scores all
    {N_CELLS} centroid cosines per vector and emits the top-1 cell plus
    the {N_PROBE} probe cells — the corpus is never shuffled for
    assignment (the previous window-over-vec_id form shuffled the whole
    table to rank 8 rows per vector; an interim all-expression form was
    map-only too but its ~2600-node tree cost ~20 s of Catalyst analysis +
    codegen per run — plan size is a scale axis of its own).

    Oracle bit-parity: the kernel folds dimension-by-dimension
    (``acc = acc + x_d * c_d``, vectorized ACROSS rows, sequential over d)
    — the exact IEEE sequence of DuckDB's ``list_sum`` fold — so the
    argmax can never disagree with the oracle on a near-tie. On a real
    corpus you'd swap the fold for one batch matmul; identical plumbing.
    """
    import math

    import numpy as np
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)

    def _py_norm(vec: list[float]) -> float:
        acc = 0.0
        for v in vec:  # same 0-seeded sequential fold as DuckDB list_sum
            acc += v * v
        return math.sqrt(acc)

    cent = np.array(CENTROIDS, dtype=np.float64)  # (N_CELLS, DIM)
    cent_norms = np.array([_py_norm(c) for c in CENTROIDS])

    def assign_cells(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(pdf["e"].tolist(), dtype=np.float64)  # (n, DIM)
            n = len(E)
            nsq = np.zeros(n)
            dots = np.zeros((n, N_CELLS))
            for d in range(DIM):  # sequential fold over dims = oracle order
                col = E[:, d]
                nsq = nsq + col * col
                dots = dots + col[:, None] * cent[:, d][None, :]
            neg_cos = -(dots / (np.sqrt(nsq)[:, None] * cent_norms[None, :]))
            # stable argsort on -cos: ties break to the lower cell index,
            # matching the oracle's ORDER BY cos DESC, cell ASC.
            order = np.argsort(neg_cos, axis=1, kind="stable")
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "e": pdf["e"],
                    "cell": order[:, 0].astype("int32"),
                    "probe_cells": list(order[:, :N_PROBE].astype("int32")),
                }
            )

    cell_schema = (
        "vec_id bigint, label int, e array<double>, cell int, probe_cells array<int>"
    )
    assign = emb.mapInPandas(assign_cells, cell_schema).select(
        "vec_id", "label", "e", "cell"
    )
    # Filter BEFORE the pandas stage: Catalyst cannot push a predicate
    # through mapInPandas, so the probe side pre-filters to the query rows
    # (predicate reaches the parquet scan) and scores only those.
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .mapInPandas(assign_cells, cell_schema)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.explode("probe_cells").alias("cell"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cosine_ppm"), F.asc("neighbor_id"))
    return (
        F.broadcast(probes)
        .join(assign, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            round_micros(cosine(F.col("qe"), F.col("e"))).alias("cosine_ppm"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


@register(
    "semantic_doc_search",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
      SELECT qa.vec_id AS query_doc, c.vec_id AS match_doc,
             CAST(ROUND(({_DUCK_COS}) * 1000000) AS BIGINT) AS cosine_ppm
      FROM v qa JOIN v c ON qa.vec_id < 3 AND c.vec_id <> qa.vec_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_doc
                                   ORDER BY cosine_ppm DESC, match_doc) AS rank
      FROM scored)
    SELECT r.query_doc, r.match_doc, r.rank, r.cosine_ppm,
           d.lang AS match_lang,
           CASE WHEN length(d.text) > 60 THEN substr(d.text, 1, 60) || '...'
                ELSE d.text END AS match_preview
    FROM ranked r
    JOIN documents d ON d.doc_id = r.match_doc
    WHERE r.rank <= 5
    ORDER BY r.query_doc, r.rank
    """,
)
def semantic_doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table composition: ANN over ``embeddings`` joined back to
    ``documents`` for human-readable results (vec_id keys doc_id) — the
    end-to-end retrieval shape (embed → search → hydrate) a training-data
    pipeline runs for dedup review and eval-set mining. The hydration join
    is broadcast: only 15 result rows probe the documents table.
    """
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_doc"), F.col("e").alias("qe")
    )
    c = emb.select(F.col("vec_id").alias("match_doc"), F.col("e").alias("ce"))
    w = Window.partitionBy("query_doc").orderBy(F.desc("cosine_ppm"), F.asc("match_doc"))
    hits = (
        F.broadcast(q)
        .join(c, F.col("match_doc") != F.col("query_doc"))
        .withColumn("cosine_ppm", round_micros(cosine(F.col("qe"), F.col("ce"))))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_doc", "match_doc", "rank", "cosine_ppm")
    )
    preview = F.when(
        F.length("text") > 60, F.concat(F.substring("text", 1, 60), F.lit("..."))
    ).otherwise(F.col("text"))
    return (
        F.broadcast(hits)
        .join(docs, hits["match_doc"] == docs["doc_id"])
        .select(
            "query_doc", "match_doc", "rank", "cosine_ppm",
            F.col("lang").alias("match_lang"),
            preview.alias("match_preview"),
        )
        .orderBy("query_doc", "rank")
    )


@register(
    "embedding_norm_stats",
    oracle=f"""
    WITH norms AS (
      SELECT label,
             CAST(ROUND(sqrt(CAST(list_sum(list_transform(embedding,
                  x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                            AS DECIMAL(28,14)))) AS DOUBLE)) * 1000000) AS BIGINT) AS l2_us
      FROM embeddings)
    SELECT label,
           COUNT(*) AS n_vectors,
           CAST((SUM(l2_us) - ((SUM(l2_us) % COUNT(*)) + COUNT(*)) % COUNT(*)) // COUNT(*)
             AS BIGINT) AS avg_norm_micros,
           CAST(ROUND(SQRT(GREATEST(0.0,
                (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(l2_us * l2_us) AS DOUBLE)
                 - CAST(SUM(l2_us) AS DOUBLE) * CAST(SUM(l2_us) AS DOUBLE))
                / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) - 1.0)))))
             AS BIGINT) AS sd_norm_micros,
           MIN(l2_us) AS min_norm_micros,
           MAX(l2_us) AS max_norm_micros
    FROM norms
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column quality statistics: L2 norm distribution per label —
    the sanity check run before any cosine-based dedup/search (zero or
    wildly-scaled norms poison cosine). posexplode to rows so the square
    and the sum run in codegen with map-side combine (same lesson as the
    MinHash signatures: interpreted array lambdas are the slow path), then
    one tiny per-label aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id", "label", (F.col("x").cast("double") * F.col("x").cast("double")).alias("x2")
    )
    norms = sq.groupBy("vec_id", "label").agg(
        # exact decimal sum of squares → identical l2 doubles in both
        # engines, then per-row half-up micros quantization (ROUND(x*1e6) —
        # safe on arbitrary doubles, unlike a DECIMAL(18,6) cast whose tie
        # handling differs cross-engine). All downstream stats are integer
        # arithmetic plus one identical IEEE fold for the stddev.
        round_micros(
            F.sqrt(F.sum(F.col("x2").cast("decimal(28,14)")).cast("double"))
        ).alias("l2_us")
    )
    n = F.count(F.lit(1))
    s1 = F.sum("l2_us")
    s2 = F.sum(F.col("l2_us") * F.col("l2_us"))
    nd = n.cast("double")
    var = F.greatest(
        F.lit(0.0),
        (nd * s2.cast("double") - s1.cast("double") * s1.cast("double"))
        / (nd * (nd - F.lit(1.0))),
    )
    return (
        norms.groupBy("label")
        .agg(
            n.alias("n_vectors"),
            ((s1 - F.pmod(s1, n)) / n).cast("long").alias("avg_norm_micros"),
            F.round(F.sqrt(var)).cast("long").alias("sd_norm_micros"),
            F.min("l2_us").alias("min_norm_micros"),
            F.max("l2_us").alias("max_norm_micros"),
        )
        .orderBy("label")
    )

# ---------------------------------------------------------------------------
# Product quantization (PQ)
# ---------------------------------------------------------------------------

PQ_M = 8              # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_K = 16             # codewords per subspace


def _pq_codeword_value(m: int, k: int, d: int) -> float:
    h = hashlib.md5(f"pq:{m}:{k}:{d}".encode()).hexdigest()[:8]
    return round(int(h, 16) / 2**32 * 2 - 1, 9)


PQ_CODEBOOK: list[list[list[float]]] = [
    [[_pq_codeword_value(m, k, d) for d in range(PQ_SUB)] for k in range(PQ_K)]
    for m in range(PQ_M)
]


def _duck_pq_codebook() -> str:
    """Codebook as a nested DuckDB list literal: cb[m+1][k][d] (1-based)."""
    return (
        "["
        + ", ".join(
            "["
            + ", ".join(
                "[" + ", ".join(str(v) for v in PQ_CODEBOOK[m][k]) + "]"
                for k in range(PQ_K)
            )
            + "]"
            for m in range(PQ_M)
        )
        + "]"
    )


@register(
    "pq_reconstruction_stats",
    oracle=f"""
    WITH cbt AS (SELECT {_duck_pq_codebook()} AS cb),
    v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    per_vec AS (
      SELECT vec_id, label,
             list_transform(range(0, {PQ_M}), m ->
               list_transform(range(1, {PQ_K} + 1), k ->
                 list_sum(list_transform(range(1, {PQ_SUB} + 1), d ->
                   pow(e[m * {PQ_SUB} + d] - cb[m + 1][k][d], 2))))) AS dists
      FROM v, cbt),
    coded AS (
      SELECT vec_id, label,
             list_sum(list_transform(dists, ds -> list_min(ds))) AS mse,
             list_aggregate(list_transform(dists,
               ds -> CAST(list_position(ds, list_min(ds)) - 1 AS VARCHAR)),
               'string_agg', '-') AS code
      FROM per_vec),
    quant AS (
      SELECT label, code, CAST(ROUND(mse * 1000000) AS BIGINT) AS mse_us FROM coded)
    SELECT label,
           COUNT(*) AS n_vectors,
           COUNT(DISTINCT code) AS n_distinct_codes,
           CAST((SUM(mse_us) - ((SUM(mse_us) % COUNT(*)) + COUNT(*)) % COUNT(*)) // COUNT(*)
             AS BIGINT) AS avg_mse_micros,
           MIN(mse_us) AS min_mse_micros,
           MAX(mse_us) AS max_mse_micros
    FROM quant
    GROUP BY label
    ORDER BY label
    """,
)
def pq_reconstruction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization audit: quantize each vector with an {PQ_M}×{PQ_K}
    md5-seeded codebook ({PQ_SUB} dims per subspace) and report per-label
    reconstruction MSE plus code diversity — the compression-quality check
    run before swapping an ANN index to PQ-compressed storage (a 64-dim
    float vector becomes {PQ_M} bytes here, a 32× compression).

    Scale shape: assignment is one Arrow-batched map-only kernel (the
    codebook is a constant; nothing shuffles but the per-label tally).
    Oracle bit-parity mirrors ``knn_ivf``: distances fold
    dimension-sequentially (vectorized across rows), min over codewords is
    order-independent, argmin ties break to the first index in both
    engines, and the per-vector MSE folds subspace-sequentially; the
    per-label mean goes through an exact DECIMAL(28,14) sum.
    """
    import numpy as np

    emb = _emb(spark, sf_dir)
    cb = np.array(PQ_CODEBOOK, dtype=np.float64)  # (M, K, SUB)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(pdf["e"].tolist(), dtype=np.float64)  # (n, DIM)
            n = len(E)
            mse = np.zeros(n)
            codes = np.empty((n, PQ_M), dtype=np.int64)
            for m in range(PQ_M):  # sequential over subspaces = oracle order
                dists = np.zeros((n, PQ_K))
                for d in range(PQ_SUB):  # sequential over dims = oracle order
                    col = E[:, m * PQ_SUB + d]
                    diff = col[:, None] - cb[m, :, d][None, :]
                    dists = dists + diff * diff
                codes[:, m] = np.argmin(dists, axis=1)  # first min, ties low k
                mse = mse + dists[np.arange(n), codes[:, m]]
            yield pd.DataFrame(
                {
                    "label": pdf["label"],
                    # half-up micros quantization, matching the oracle's
                    # ROUND(mse * 1e6) on the identical per-row double
                    "mse_us": np.floor(mse * 1_000_000 + 0.5).astype(np.int64),
                    "code": ["-".join(str(c) for c in row) for row in codes],
                }
            )

    coded = emb.mapInPandas(assign, "label int, mse_us bigint, code string")
    n = F.count(F.lit(1))
    s1 = F.sum("mse_us")
    return (
        coded.groupBy("label")
        .agg(
            n.alias("n_vectors"),
            F.count_distinct("code").alias("n_distinct_codes"),
            ((s1 - F.pmod(s1, n)) / n).cast("long").alias("avg_mse_micros"),
            F.min("mse_us").alias("min_mse_micros"),
            F.max("mse_us").alias("max_mse_micros"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# K-means embedding clustering (Lloyd's algorithm, fixed iterations)
# ---------------------------------------------------------------------------

KMEANS_K = 8


def _sql_floor_div(s: str, n: str) -> str:
    """Exact integer FLOOR division for a possibly-negative numerator.

    DuckDB ``//`` truncates toward zero (verified: -7 // 2 = -3), same as
    Spark ``DIV`` — so plain ``//`` is NOT floor for negative sums. Adding
    the positive remainder first makes the numerator exactly divisible, at
    which point truncation and floor agree in every engine (and in Python's
    ``//``, which the driver-side centroid update uses). The numerator is
    cast to BIGINT first: DuckDB types a literal like -1610612740 as INT32,
    and the subtraction would overflow INT32."""
    s = f"CAST(({s}) AS BIGINT)"
    return f"(({s} - (({s} % ({n})) + ({n})) % ({n})) // ({n}))"


# Training CTE chain (seeds -> one Lloyd update -> centroids c1), shared
# by the clustering report and the IVF-probe oracle below.
_DUCK_KMEANS_TRAIN_CTES = f"""
qv AS (
  SELECT vec_id, label,
         list_transform(embedding,
             x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings
),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS cid,
         q AS c
  FROM qv
  QUALIFY cid <= {KMEANS_K}
),
d1 AS (
  SELECT vec_id, label, q, cid,
         (SELECT SUM((u.qc - u.cc) * (u.qc - u.cc))
          FROM (SELECT UNNEST(qv.q) AS qc, UNNEST(c0.c) AS cc) u) AS d2
  FROM qv CROSS JOIN c0
),
a1 AS (
  SELECT vec_id, label, q, cid, d2
  FROM d1
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
),
s1 AS (
  SELECT cid, COUNT(*) AS n, pos, SUM(qc) AS s
  FROM (SELECT cid, UNNEST(q) AS qc, generate_subscripts(q, 1) AS pos FROM a1)
  GROUP BY cid, pos
),
c1 AS (
  SELECT cid, list(CAST({_sql_floor_div('s', 'n')} AS BIGINT) ORDER BY pos) AS c
  FROM s1 GROUP BY cid
)"""

_DUCK_KMEANS_ORACLE = f"""
WITH {_DUCK_KMEANS_TRAIN_CTES},
d2_ AS (
  SELECT qv.vec_id, qv.label, c1.cid,
         (SELECT SUM((u.qc - u.cc) * (u.qc - u.cc))
          FROM (SELECT UNNEST(qv.q) AS qc, UNNEST(c1.c) AS cc) u) AS d2
  FROM qv CROSS JOIN c1
),
a2 AS (
  SELECT vec_id, label, cid, d2
  FROM d2_
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
),
lab AS (
  SELECT cid, label AS top_label, n_lab AS top_label_n
  FROM (SELECT cid, label, COUNT(*) AS n_lab FROM a2 GROUP BY cid, label)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY cid ORDER BY n_lab DESC, label) = 1
)
SELECT a2.cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(a2.d2) AS BIGINT) AS inertia,
       CAST(MIN(lab.top_label) AS BIGINT) AS top_label,
       CAST(MIN(lab.top_label_n) AS BIGINT) AS top_label_n
FROM a2 JOIN lab USING (cid)
GROUP BY a2.cid
ORDER BY a2.cid
"""


def _kmeans_qvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with each component quantized to integer micros,
    persisted once per (session, corpus) — Lloyd makes three passes over
    the same vectors (seed pick, one per assignment), and re-deriving them
    from parquet each pass measured 1.4× slower at sf0.1.

    ``ROUND(x * 1e6)`` on the float32-widened double is engine-identical
    (same widening, same IEEE multiply, half-away rounding both sides), so
    every downstream distance/centroid computation is exact BIGINT
    arithmetic — order-independent, hence comparable across engines.
    Bounds: |component| < 1 → |q| < 1e6, squared diff < 4e12, 64-dim
    distance < 2.6e14, all comfortably inside long range. Held in the
    session cache (``tables.corpus_cached``) like the centroids of
    :func:`_kmeans_train`; ``invalidate_table_cache`` drops both."""
    from pyspark import StorageLevel

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return emb.select(
            "vec_id",
            "label",
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * F.lit(1_000_000)).cast("long"),
            ).alias("q"),
        ).persist(StorageLevel.MEMORY_AND_DISK)

    return corpus_cached(spark, sf_dir, "kmeans_qvec", build)


# Above this K*dim, nearest-centroid assignment switches from plan-literal
# centroids to a broadcast numpy kernel: the literal expression's compile
# time scales with the literal count (fine at 8x64, plan-bloat at
# quantizer scale K>=256), while the numpy path's plan is fixed-size.
_KMEANS_LITERAL_MAX = 4096


def _kmeans_assign(qv: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Map-only nearest-centroid assignment; adds ``d2`` and ``cid``.

    Two physical strategies behind one semantic (exact integer distances,
    ties to the smallest cid), picked by K*dim:

    - small codebooks → :func:`_kmeans_assign_literal`: centroids embedded
      as plan literals, distances/argmin in whole-stage-codegen'd
      ``transform``/``aggregate``/``array_min`` expressions;
    - large codebooks (K*dim > {max}) → :func:`_kmeans_assign_np`:
      centroids in a Spark broadcast variable, blocked int64 matmul in an
      Arrow-batched pandas UDF — the plan stays fixed-size no matter how
      big the quantizer gets.

    Both are shuffle-free map stages (the Spark-MLlib topology: centroids
    to every task, no exchange for the assignment pass).
    """
    dim = len(centroids[0][1]) if centroids else 0
    if len(centroids) * dim > _KMEANS_LITERAL_MAX:
        return _kmeans_assign_np(qv, centroids)
    return _kmeans_assign_literal(qv, centroids)


def _kmeans_assign_literal(
    qv: DataFrame, centroids: list[tuple[int, list[int]]]
) -> DataFrame:
    """Literal-centroid assignment: the K×(dim+1) codebook is embedded in
    the plan. Distances and the argmin run in a single
    ``transform``/``aggregate`` expression; ``array_min`` over
    (d2, cid) structs breaks ties toward the smallest cid, mirroring the
    oracle's ``ORDER BY d2, cid``."""
    clit = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("long").alias("cid"),
                F.array(*[F.lit(int(v)).cast("long") for v in vec]).alias("c"),
            )
            for cid, vec in centroids
        ]
    )
    scored = F.transform(
        clit,
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(F.col("q"), s["c"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
            s["cid"].alias("cid"),
        ),
    )
    best = F.array_min(scored)
    return qv.withColumn("d2", best["d2"]).withColumn("cid", best["cid"])


def _kmeans_assign_np(qv: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Broadcast-ndarray assignment for quantizer-scale codebooks.

    The codebook ships once per executor as a Spark broadcast variable
    (K=1024 x dim=64 int64 is 512 KB — nothing next to a task closure per
    stage), and each Arrow batch scores against it with one blocked int64
    matmul via ``d2 = |q|^2 + |c|^2 - 2 q.c`` — algebraically identical to
    the literal path's per-component sum, and exact: |component| < 1e6 and
    dim <= 64 keep every intermediate under 2^53 << int64 range. numpy
    integer matmul is exact (no float accumulation). ``argmin`` takes the
    FIRST minimum and the codebook is sorted by cid, reproducing the
    literal path's smallest-cid tie-break bit-for-bit. Map-only: a pandas
    UDF column expression, so the stage shape (no Exchange) is identical
    to the literal path and the surrounding plan is untouched."""
    from pyspark.sql.functions import pandas_udf

    cs = sorted(centroids)  # by cid: argmin-first-occurrence == smallest cid
    cid_arr = np.array([c for c, _ in cs], dtype=np.int64)
    cmat = np.array([v for _, v in cs], dtype=np.int64)
    bc = qv.sparkSession.sparkContext.broadcast(
        (cid_arr, cmat, (cmat * cmat).sum(axis=1))
    )

    def _nearest(q: pd.Series) -> pd.DataFrame:
        cids, cm, c2 = bc.value
        if len(q) == 0:
            return pd.DataFrame({"d2": [], "cid": []})
        qm = np.array(q.tolist(), dtype=np.int64)
        d2 = (qm * qm).sum(axis=1, keepdims=True) + c2[None, :] - 2 * (qm @ cm.T)
        best = d2.argmin(axis=1)
        return pd.DataFrame(
            {"d2": d2[np.arange(len(best)), best], "cid": cids[best]}
        )

    # type-hinted struct-returning scalar form (Series in, DataFrame(d2,
    # cid) out per Arrow batch) — the PandasUDFType.SCALAR spelling is
    # deprecated and warns on every large-K assignment
    nearest = pandas_udf(_nearest, "d2 long, cid long")

    return (
        qv.withColumn("_best", nearest("q"))
        .withColumn("d2", F.col("_best.d2"))
        .withColumn("cid", F.col("_best.cid"))
        .drop("_best")
    )


def _kmeans_train(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[int]]]:
    """One Lloyd update from the deterministic md5 seeds: the trained
    coarse quantizer C1 shared by ``kmeans_embedding_clusters`` (which
    reports its fixed point), ``knn_ivf_kmeans``,
    ``cluster_diversity_sample`` and ``cluster_top_terms``. Cached per
    (session, corpus) — the result is a pure function of the data, and
    four queries would otherwise re-run the identical two training jobs.
    Driver state is K×(dim+1) longs; Python ``//`` is floor division,
    matching the oracle's floor-div fragment exactly."""

    def build() -> list[tuple[int, list[int]]]:
        qv = _kmeans_qvec(spark, sf_dir)
        seeds = (
            qv.select(F.md5(F.col("vec_id").cast("string")).alias("h"), "vec_id", "q")
            .orderBy("h", "vec_id")
            .limit(KMEANS_K)
            .collect()
        )
        c0 = [(i + 1, list(r["q"])) for i, r in enumerate(seeds)]

        a1 = _kmeans_assign(qv, c0)
        sums = a1.groupBy("cid").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.col("q")[i]).alias(f"s{i}") for i in range(DIM)],
        ).collect()
        return [
            (r["cid"], [r[f"s{i}"] // r["n"] for i in range(DIM)])
            for r in sorted(sums, key=lambda r: r["cid"])
        ]

    return corpus_cached(spark, sf_dir, "kmeans_train", build)


@register("kmeans_embedding_clusters", oracle=_DUCK_KMEANS_ORACLE)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means over the embedding corpus (K=8, two
    assignment passes), reported as per-cluster size / inertia / dominant
    label — the clustering pass behind curation-by-cluster (SemDeDup-style
    pruning, diversity sampling, IVF coarse-quantizer training).

    Everything is exact integer arithmetic on micros-quantized vectors, so
    the fixed-point result is bit-identical across engines — no RNG, no
    float accumulation: seeds are the K smallest (md5(vec_id), vec_id)
    vectors (TakeOrderedAndProject — distributed top-k, not a global
    sort), centroid means are exact floor divisions, distances are long
    sums.

    Scale shape (the 100 TB design): each Lloyd iteration is one map-only
    scan (centroids as plan literals — the K×dim driver state is what
    Spark MLlib's KMeans broadcasts every iteration) plus one K-group
    aggregate with map-side combine; nothing driver-side ever exceeds
    K×(dim+1) longs. Empty clusters drop out of the next round's literal
    set (documented fixed policy, matched by the oracle). A production run
    would persist the quantized vectors between passes; at test scale the
    two parquet re-reads are cheaper than the cache."""
    qv = _kmeans_qvec(spark, sf_dir)
    c1 = _kmeans_train(spark, sf_dir)
    a2 = _kmeans_assign(qv, c1)
    stats = a2.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("d2").alias("inertia")
    )
    from pyspark.sql import Window

    lab_rank = Window.partitionBy("cid").orderBy(F.desc("n_lab"), "label")
    lab = (
        a2.groupBy("cid", "label")
        .agg(F.count(F.lit(1)).alias("n_lab"))
        .withColumn("_rn", F.row_number().over(lab_rank))
        .filter(F.col("_rn") == 1)
        .select(
            "cid",
            F.col("label").cast("long").alias("top_label"),
            F.col("n_lab").alias("top_label_n"),
        )
    )
    return (
        stats.join(lab, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_vecs",
            "inertia",
            "top_label",
            "top_label_n",
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# IVF ANN over the TRAINED (k-means) coarse quantizer
# ---------------------------------------------------------------------------

_DUCK_KM_D2 = (
    "(SELECT SUM((u.qc - u.cc) * (u.qc - u.cc))"
    " FROM (SELECT UNNEST(qv.q) AS qc, UNNEST(c1.c) AS cc) u)"
)

_DUCK_IVF_KM_COS = (
    "list_sum(list_transform(range(1, {d} + 1), i -> qe.e[i] * ne.e[i]))"
    " / (sqrt(list_sum(list_transform(qe.e, x -> x * x)))"
    " * sqrt(list_sum(list_transform(ne.e, x -> x * x))))"
).format(d=DIM)


@register(
    "knn_ivf_kmeans",
    oracle=f"""
    WITH {_DUCK_KMEANS_TRAIN_CTES},
    v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    av AS (
      SELECT vec_id, label, cid FROM (
        SELECT qv.vec_id, qv.label, c1.cid,
               ROW_NUMBER() OVER (PARTITION BY qv.vec_id
                                  ORDER BY {_DUCK_KM_D2}, c1.cid) AS rn
        FROM qv CROSS JOIN c1)
      WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT qv.vec_id, c1.cid,
               ROW_NUMBER() OVER (PARTITION BY qv.vec_id
                                  ORDER BY {_DUCK_KM_D2}, c1.cid) AS rn
        FROM qv CROSS JOIN c1 WHERE qv.vec_id < {N_QUERIES})
      WHERE rn <= {N_PROBE}),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, a.label AS neighbor_label,
             CAST(ROUND(({_DUCK_IVF_KM_COS}) * 1000000) AS BIGINT) AS cosine_ppm
      FROM probes p
      JOIN av a ON a.cid = p.cid AND a.vec_id <> p.query_id
      JOIN v qe ON qe.vec_id = p.query_id
      JOIN v ne ON ne.vec_id = a.vec_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_ppm DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, neighbor_label, cosine_ppm, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN whose coarse quantizer is TRAINED on the corpus — the
    ``_kmeans_train`` centroids (one Lloyd update from md5 seeds) replace
    ``knn_ivf``'s fixed md5-seeded cells, completing the train→probe path
    that query's docstring defers to. Assignment and probe selection run
    in exact integer L2 on micros-quantized vectors (bit-stable across
    engines); the candidate re-rank is the family's double cosine fold.

    Scale shape: assignment is the same map-only literal-centroid pass as
    the clustering query; the probe set is {np} cells per query, so the
    re-rank scores ~{np}/{k} of the corpus; the probe→candidate join
    broadcasts the (query × probe-cell) side. Production IVF persists the
    assignment as a cid-bucketed table, making the probe join
    shuffle-free — same plumbing."""
    from pyspark.sql import Window

    c1 = _kmeans_train(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    base = emb.withColumn(
        "q",
        F.transform(F.col("e"), lambda x: F.round(x * F.lit(1_000_000)).cast("long")),
    )
    assigned = _kmeans_assign(base, c1).select("vec_id", "label", "e", "cid")

    clit = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("long").alias("cid"),
                F.array(*[F.lit(int(v)).cast("long") for v in vec]).alias("c"),
            )
            for cid, vec in c1
        ]
    )
    scored_cells = F.transform(
        clit,
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(F.col("q"), s["c"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
            s["cid"].alias("cid"),
        ),
    )
    probes = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.explode(F.slice(F.array_sort(scored_cells), 1, N_PROBE)).alias("pc"),
        )
        .select("query_id", "qe", F.col("pc")["cid"].alias("cid"))
    )

    cand = F.broadcast(probes).join(
        assigned,
        (probes["cid"] == assigned["cid"]) & (assigned["vec_id"] != probes["query_id"]),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        round_micros(cosine(F.col("qe"), F.col("e"))).alias("cosine_ppm"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_ppm"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Cluster-balanced diversity sampling
# ---------------------------------------------------------------------------

_DIV_PER_CLUSTER = 10


@register(
    "cluster_diversity_sample",
    oracle=f"""
    WITH {_DUCK_KMEANS_TRAIN_CTES},
    av AS (
      SELECT vec_id, label, cid FROM (
        SELECT qv.vec_id, qv.label, c1.cid,
               ROW_NUMBER() OVER (PARTITION BY qv.vec_id
                                  ORDER BY {_DUCK_KM_D2}, c1.cid) AS rn
        FROM qv CROSS JOIN c1)
      WHERE rn = 1),
    ranked AS (
      SELECT vec_id, label, cid,
             ROW_NUMBER() OVER (PARTITION BY cid
                                ORDER BY md5('div:' || CAST(vec_id AS VARCHAR)),
                                         vec_id) AS pick,
             COUNT(*) OVER (PARTITION BY cid) AS n_members
      FROM av)
    SELECT vec_id, CAST(label AS BIGINT) AS label, cid,
           CAST(pick AS BIGINT) AS pick, CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE pick <= {_DIV_PER_CLUSTER}
    ORDER BY cid, pick
    """,
)
def cluster_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling: assign every vector to its
    trained k-means cell, then take a fixed per-cluster quota in
    deterministic md5 order — the semantic-coverage selection pass
    (equal representation from every region of embedding space, instead
    of frequency-weighted sampling that over-picks dense modes).

    Scale shape: the same map-only literal-centroid assignment as the
    clustering/IVF queries; the quota pick is one window keyed by cid
    (K partitions); md5-order sampling is the repo's standard RNG-free
    determinism device, so the picked set is stable across engines,
    partitionings, and reruns."""
    from pyspark.sql import Window

    c1 = _kmeans_train(spark, sf_dir)
    qv = _kmeans_qvec(spark, sf_dir)
    av = _kmeans_assign(qv, c1).select("vec_id", "label", "cid")
    w = Window.partitionBy("cid")
    wo = w.orderBy(F.md5(F.concat(F.lit("div:"), F.col("vec_id").cast("string"))), "vec_id")
    return (
        av.withColumn("pick", F.row_number().over(wo))
        .withColumn("n_members", F.count(F.lit(1)).over(w))
        .filter(F.col("pick") <= _DIV_PER_CLUSTER)
        .select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            "cid",
            F.col("pick").cast("long").alias("pick"),
            "n_members",
        )
        .orderBy("cid", "pick")
    )


# ---------------------------------------------------------------------------
# Top principal direction via power iteration (integer-exact)
# ---------------------------------------------------------------------------

_PI_RESCALE_DOT = 1_000_000       # per-row projection trunc-div
_PI_RESCALE_S = 10_000_000_000    # matvec output trunc-div

_DUCK_POWER_ITER_CTE = """
d{n} AS (
  SELECT vec_id, q,
         (SELECT SUM(u.qc * u.vc)
          FROM (SELECT UNNEST(qv.q) qc, UNNEST(v{m}.v) vc) u) // 1000000 AS d
  FROM qv, v{m}),
s{n} AS (
  SELECT pos, SUM(qc * d) AS s
  FROM (SELECT d, UNNEST(q) AS qc, generate_subscripts(q, 1) AS pos FROM d{n})
  GROUP BY pos),
r{n} AS (SELECT pos, s // 10000000000 AS sr FROM s{n}),
n{n} AS (SELECT CAST(FLOOR(SQRT(CAST(SUM(sr * sr) AS DOUBLE))) AS BIGINT) AS nrm
         FROM r{n}),
v{n} AS (SELECT list(sr * 1000000 // nrm ORDER BY pos) AS v FROM r{n}, n{n})
"""


def _tdiv(a: int, b: int) -> int:
    """Truncation-toward-zero integer division — the semantics BOTH
    DuckDB ``//`` and Spark ``DIV`` use (verified: -7 // 2 = -3), unlike
    Python's flooring ``//``."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


@register(
    "embedding_principal_component",
    oracle=f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
                 x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      FROM embeddings),
    v0 AS (SELECT list_transform(range(1, {DIM} + 1),
                                 i -> CAST(1000000 AS BIGINT)) AS v),
    {_DUCK_POWER_ITER_CTE.format(n=1, m=0)},
    {_DUCK_POWER_ITER_CTE.format(n=2, m=1)}
    SELECT CAST(pos AS BIGINT) AS pos, CAST(comp AS BIGINT) AS v_micros
    FROM (SELECT UNNEST(v) AS comp, generate_subscripts(v, 1) AS pos FROM v2)
    ORDER BY pos
    """,
)
def embedding_principal_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding corpus by two
    rounds of power iteration — the PCA/whitening precursor, and the
    repo's third iterative-algorithm pattern after connected components
    and Lloyd k-means. Each round is one map-only projection pass
    (current vector as a plan literal) plus one {d}-cell aggregate; the
    driver holds only the dim-length vector between rounds.

    Exactness: all arithmetic is integer on micros-quantized components
    with fixed truncating rescales (`DIV` and DuckDB ``//`` both
    truncate toward zero); the per-round normalization is
    floor(IEEE sqrt) of a sum that stays under 2^53, which both engines
    (and the driver-side Python mirror) compute identically. Round 1
    normalizes driver-side; round 2 runs fully in-plan with the scalar
    norm broadcast, so the returned frame is a live Spark computation."""
    import math

    qv = _kmeans_qvec(spark, sf_dir).select("vec_id", "q")

    def project(v: list[int]):
        vlit = F.array(*[F.lit(int(x)).cast("long") for x in v])
        dot = F.aggregate(
            F.zip_with(F.col("q"), vlit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return qv.withColumn("dot", dot).withColumn(
            "d", F.expr(f"dot DIV {_PI_RESCALE_DOT}")
        )

    # round 1: matvec collected, normalized driver-side (dim-length state)
    v0 = [1_000_000] * DIM
    s1 = (
        project(v0)
        .agg(*[F.sum(F.col("q")[i] * F.col("d")).alias(f"s{i}") for i in range(DIM)])
        .collect()[0]
    )
    sr1 = [_tdiv(s1[f"s{i}"], _PI_RESCALE_S) for i in range(DIM)]
    nrm1 = math.floor(math.sqrt(float(sum(x * x for x in sr1))))
    if nrm1 == 0:
        # degenerate corpus: the rescaled matvec truncated to the zero
        # vector (e.g. all-zero embeddings). Fail loudly rather than
        # ZeroDivisionError here / silent nulls in the in-plan round.
        raise ValueError(
            "power iteration degenerated to the zero vector; the embedding "
            "corpus has no principal direction at micros precision"
        )
    v1 = [_tdiv(x * 1_000_000, nrm1) for x in sr1]

    # round 2: fully in-plan (posexplode matvec, broadcast scalar norm)
    s2 = (
        project(v1)
        .select("d", F.posexplode("q").alias("pos0", "qc"))
        .groupBy((F.col("pos0") + 1).alias("pos"))
        .agg(F.sum(F.col("qc") * F.col("d")).alias("s"))
        .withColumn("sr", F.expr(f"s DIV {_PI_RESCALE_S}"))
    )
    nrm = s2.agg(
        # greatest(.,1): div-by-zero guard for the (already-raised-above in
        # practice) degenerate case; identity whenever the corpus is real
        F.greatest(
            F.floor(F.sqrt(F.sum(F.col("sr") * F.col("sr")).cast("double"))).cast(
                "long"
            ),
            F.lit(1).cast("long"),
        ).alias("nrm")
    )
    return (
        s2.crossJoin(F.broadcast(nrm))
        .select("pos", F.expr("sr * 1000000 DIV nrm").alias("v_micros"))
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# Cluster labeling: characteristic terms per trained k-means cell
# ---------------------------------------------------------------------------

_CLT_MIN_COUNT = 3
_CLT_TOP = 5

_DUCK_CLT_TOKENS = (
    r"list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"
)


@register(
    "cluster_top_terms",
    oracle=f"""
    WITH {_DUCK_KMEANS_TRAIN_CTES},
    av AS (
      SELECT vec_id, cid FROM (
        SELECT qv.vec_id, c1.cid,
               ROW_NUMBER() OVER (PARTITION BY qv.vec_id
                                  ORDER BY {_DUCK_KM_D2}, c1.cid) AS rn
        FROM qv CROSS JOIN c1)
      WHERE rn = 1),
    tok AS (
      SELECT doc_id, UNNEST({_DUCK_CLT_TOKENS}) AS token FROM documents),
    joined AS (
      SELECT av.cid, t.token FROM tok t JOIN av ON av.vec_id = t.doc_id),
    cc AS (SELECT cid, token, COUNT(*) AS cnt FROM joined GROUP BY 1, 2),
    ct AS (SELECT cid, SUM(cnt) AS total_c FROM cc GROUP BY cid),
    corp AS (SELECT token, COUNT(*) AS cnt_g FROM joined GROUP BY token),
    tot AS (SELECT COUNT(*) AS total_g FROM joined),
    lift AS (
      SELECT cc.cid, cc.token, cc.cnt,
             CAST(cc.cnt * tot.total_g * 1000000
                  // (ct.total_c * corp.cnt_g) AS BIGINT) AS lift_ppm
      FROM cc JOIN ct USING (cid) JOIN corp USING (token) CROSS JOIN tot
      WHERE cc.cnt >= {_CLT_MIN_COUNT}),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cid
                                   ORDER BY lift_ppm DESC, cnt DESC, token) AS rank
      FROM lift)
    SELECT cid, token, CAST(cnt AS BIGINT) AS n_in_cluster, lift_ppm,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {_CLT_TOP}
    ORDER BY cid, rank
    """,
)
def cluster_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling: the {top} most CHARACTERISTIC tokens per trained
    k-means cell, ranked by integer-exact lift (in-cluster token share vs
    corpus share, as ppm) with a min-support floor — how a curation run
    names its semantic clusters ("what is cluster 3 about?") before
    deciding mixture weights or pruning. Cross-modal composition:
    embeddings pick the cells (vec_id keys doc_id, the
    ``semantic_doc_search`` convention), documents supply the terms.

    Scale shape: assignment is the map-only literal-centroid pass; the
    token join keys on doc_id (optimizer-broadcast at test scale, a
    plain keyed shuffle at corpus scale); counts are map-side combinable; lift joins at |cluster×token| /
    |vocab| cardinality with the two scalar totals broadcast. The lift
    product (cnt · total_g · 1e6) stays in long range through corpus
    sizes of ~3e9 tokens; beyond that, reassociate the DIV before the
    1e6 scale-up."""
    from pyspark.sql import Window

    from input_data_pipeline_spark.functions import text as T
    from input_data_pipeline_spark.tables import load_table as _lt

    c1 = _kmeans_train(spark, sf_dir)
    av = _kmeans_assign(_kmeans_qvec(spark, sf_dir), c1).select("vec_id", "cid")

    docs = _lt(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    # No broadcast hint on av: it is per-VECTOR (corpus-sized at scale);
    # the optimizer broadcasts it at test scale on its own, and at 100 TB
    # this correctly becomes a doc_id-keyed shuffle join.
    joined = tok.join(av, tok["doc_id"] == av["vec_id"]).select("cid", "token")
    # |cluster x token| bounded count table, materialized once (round
    # 17): every row of `joined` carries exactly one cid, so the corpus
    # token counts and the scalar total are exact integer sums of cc —
    # previously the corp and tot legs each re-executed the corpus
    # tokenize + assignment join (3 executions -> 1)
    cc = (
        joined.groupBy("cid", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    ct = cc.groupBy("cid").agg(F.sum("cnt").alias("total_c"))
    corp = cc.groupBy("token").agg(F.sum("cnt").alias("cnt_g"))
    tot = cc.agg(F.sum("cnt").alias("total_g"))
    lift = (
        cc.filter(F.col("cnt") >= _CLT_MIN_COUNT)
        .join(F.broadcast(ct), "cid")
        .join(corp, "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "cid",
            "token",
            "cnt",
            F.expr("cnt * total_g * 1000000 DIV (total_c * cnt_g)").alias(
                "lift_ppm"
            ),
        )
    )
    w = Window.partitionBy("cid").orderBy(
        F.desc("lift_ppm"), F.desc("cnt"), "token"
    )
    return (
        lift.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _CLT_TOP)
        .select(
            "cid",
            "token",
            F.col("cnt").alias("n_in_cluster"),
            "lift_ppm",
            "rank",
        )
        .orderBy("cid", "rank")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and embedding ANN
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
_RRF_POOL = 20  # per-system candidate pool fused
_RRF_TOPK = 10
_RRF_QUERY_VEC = 0  # semantic query = embedding of vec_id 0 (doc_id space)


def _rank_sorted_topk(df: DataFrame, payload: list[str]) -> DataFrame:
    """Rank the ≤pool rows of ``df`` by (``neg`` ASC, ``doc_id`` ASC)
    WITHOUT a window: collect into one sorted array (ObjectHashAggregate
    whose final input is bounded by the pool size, never the corpus) and
    ``posexplode`` the position — the same de-windowed top-k ranking
    shape as ``bm25_doc_search``. ``df`` must carry ``neg`` (the
    descending sort key, negated) and ``doc_id``; ``payload`` columns
    ride along inside the struct."""
    cols = [F.col("neg"), F.col("doc_id")] + [F.col(c) for c in payload]
    out = [
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("s.doc_id").alias("doc_id"),
    ] + [F.col(f"s.{c}").alias(c) for c in payload]
    return (
        df.agg(F.sort_array(F.collect_list(F.struct(*cols))).alias("a"))
        .select(F.posexplode("a").alias("pos", "s"))
        .select(*out)
    )


@register(
    "hybrid_search_rrf",
    oracle=None,  # assembled below (needs the BM25 CTE stack from textstats)
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack, Clarke &
    Buettcher 2009): the lexical ranking (``bm25_doc_search``'s scorer,
    fixed benchmark query) and the semantic ranking (cosine of the
    ``_RRF_QUERY_VEC`` embedding against the corpus, the
    ``semantic_doc_search`` shape) each contribute ``1/(60 + rank)`` and
    the fused list is re-ranked on the sum — the standard way production
    retrieval stacks combine keyword and embedding search without score
    calibration, and the mining pattern a training-data pipeline uses to
    pull topical subsets when neither signal alone is trustworthy.

    Exactness: the fusion score is ``1000000 DIV (60 + rank)`` per
    contributing system — pure integer arithmetic on ranks, so the fused
    ordering is bit-identical cross-engine (RRF only consumes RANKS, which
    is exactly why it needs no score normalization).

    Scale shape: each system's pool is a TakeOrderedAndProject top-20
    (bounded per-partition heaps over the corpus-sized score tables); the
    cosine side pre-filters the 1-row query vector and broadcasts it, so
    scoring is map-only. Everything after the two top-k's touches ≤20
    rows per side: ranks come from the de-windowed sorted-array
    posexplode (no WindowExec anywhere — plan-guarded), and the
    full-outer fusion join runs on two fixed-size lists. Nothing
    downstream of the heaps grows with the corpus."""
    from input_data_pipeline_spark.operators.textstats import _bm25_scored

    lex = _rank_sorted_topk(
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score_ppm"), "doc_id")
        .limit(_RRF_POOL)
        .select((-F.col("score_ppm")).alias("neg"), "doc_id"),
        payload=[],
    ).withColumnRenamed("rank", "lex_rank")

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("e").alias("qe")
    )
    sem = _rank_sorted_topk(
        emb.filter(F.col("vec_id") != _RRF_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            round_micros(cosine(F.col("e"), F.col("qe"))).alias("cosine_ppm"),
        )
        .orderBy(F.desc("cosine_ppm"), "doc_id")
        .limit(_RRF_POOL)
        .select((-F.col("cosine_ppm")).alias("neg"), "doc_id"),
        payload=[],
    ).withColumnRenamed("rank", "sem_rank")

    contrib = "CASE WHEN {r} > 0 THEN 1000000 DIV ({k} + {r}) ELSE 0 END"
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0)).alias("sem_rank"),
        )
        .withColumn(
            "rrf_ppm",
            F.expr(
                contrib.format(r="lex_rank", k=_RRF_K)
                + " + "
                + contrib.format(r="sem_rank", k=_RRF_K)
            ).cast("long"),
        )
    )
    return _rank_sorted_topk(
        fused.orderBy(F.desc("rrf_ppm"), "doc_id")
        .limit(_RRF_TOPK)
        .select(
            (-F.col("rrf_ppm")).alias("neg"),
            "doc_id",
            "rrf_ppm",
            "lex_rank",
            "sem_rank",
        ),
        payload=["rrf_ppm", "lex_rank", "sem_rank"],
    ).orderBy("rank")


def _install_rrf_oracle() -> None:
    """Assemble the hybrid oracle from the two verified stacks (the
    ``minhash_lsh_quality`` composition pattern): the BM25 CTE chain from
    ``bm25_doc_search``'s oracle and the cosine ranking from
    ``semantic_doc_search``'s, fused with the same integer RRF."""
    import dataclasses

    from input_data_pipeline_spark.functions.text import DUCK_TOKENS
    from input_data_pipeline_spark.operators.textstats import _DUCK_BM25_Q
    from input_data_pipeline_spark.plans.registry import _REGISTRY

    sql = f"""
    WITH tok AS (
      SELECT doc_id, unnest({DUCK_TOKENS}) AS token FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    corp AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT SUM(dl) FROM dl) AS sum_dl),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token IN ({_DUCK_BM25_Q}) GROUP BY doc_id, token),
    dfq AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
      WHERE token IN ({_DUCK_BM25_Q}) GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
             SUM(
               CAST(ROUND(ln((2 * c.n_docs + 2) * 1.0 / (2 * dfq.df + 1))
                          * 1000000) AS BIGINT)
               * ((11000000 * tf.tf * 1000000)
                  // (5000000 * tf.tf
                      + 6 * (250000 + 750000 * dl.dl * c.n_docs // c.sum_dl)))
               // 1000000
             ) AS score_ppm
      FROM tf
      JOIN dfq USING (token)
      JOIN dl USING (doc_id)
      CROSS JOIN corp c
      GROUP BY tf.doc_id),
    lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id) AS lex_rank
      FROM scored ORDER BY score_ppm DESC, doc_id LIMIT {_RRF_POOL}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sem_scored AS (
      SELECT c.vec_id AS doc_id,
             CAST(ROUND(({_DUCK_COS}) * 1000000) AS BIGINT) AS cosine_ppm
      FROM v qa JOIN v c
        ON qa.vec_id = {_RRF_QUERY_VEC} AND c.vec_id <> {_RRF_QUERY_VEC}),
    sem AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY cosine_ppm DESC, doc_id) AS sem_rank
      FROM sem_scored ORDER BY cosine_ppm DESC, doc_id LIMIT {_RRF_POOL}),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             COALESCE(l.lex_rank, 0) AS lex_rank,
             COALESCE(s.sem_rank, 0) AS sem_rank
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id),
    rrf AS (
      SELECT doc_id, lex_rank, sem_rank,
             CAST((CASE WHEN lex_rank > 0
                        THEN 1000000 // ({_RRF_K} + lex_rank) ELSE 0 END)
                + (CASE WHEN sem_rank > 0
                        THEN 1000000 // ({_RRF_K} + sem_rank) ELSE 0 END)
               AS BIGINT) AS rrf_ppm
      FROM fused)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_ppm DESC, doc_id) AS BIGINT)
             AS rank,
           doc_id, rrf_ppm,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank
    FROM rrf
    ORDER BY rrf_ppm DESC, doc_id
    LIMIT {_RRF_TOPK}
    """
    spec = _REGISTRY["hybrid_search_rrf"]
    _REGISTRY["hybrid_search_rrf"] = dataclasses.replace(spec, oracle=sql)


_install_rrf_oracle()


# ---------------------------------------------------------------------------
# int8 scalar quantization + recall audit (the ANN memory-reduction story)
# ---------------------------------------------------------------------------

_SQ_QUERIES = 3  # vec_id < 3 audit queries (semantic_doc_search convention)
_SQ_TOPK = 10


def _sq_oracle() -> str:
    """Oracle for :func:`sq8_recall_audit`: per-dim min/max, the same
    uint8 quantize/dequantize arithmetic, exact and quantized top-k per
    query, overlap + recall + the stable-micros reconstruction error."""
    from input_data_pipeline_spark.functions.stable import sql_avg_micros

    dq_i = (
        "CASE WHEN s.mxs[i] = s.mns[i] THEN s.mns[i] "
        "ELSE s.mns[i] + ROUND((v.e[i] - s.mns[i]) * 255 / (s.mxs[i] - s.mns[i]))"
        " * (s.mxs[i] - s.mns[i]) / 255 END"
    )
    cos = (
        "list_sum(list_transform(range(1, {d} + 1), i -> qa.{c}[i] * ca.{c}[i]))"
        " / (sqrt(list_sum(list_transform(qa.{c}, x -> x * x)))"
        " * sqrt(list_sum(list_transform(ca.{c}, x -> x * x))))"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dimstats AS (
      SELECT p.i AS pos, MIN(v.e[p.i]) AS mn, MAX(v.e[p.i]) AS mx
      FROM v, LATERAL (SELECT unnest(range(1, {DIM} + 1)) AS i) p
      GROUP BY p.i),
    s AS (
      SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
      FROM dimstats),
    dq AS (
      SELECT v.vec_id,
             list_transform(range(1, {DIM} + 1), i -> {dq_i}) AS q
      FROM v CROSS JOIN s),
    err AS (
      SELECT {sql_avg_micros(
          "ABS(v.e[p.i] - dq.q[p.i])", "corpus_mae_micros")}
      FROM v JOIN dq USING (vec_id),
           LATERAL (SELECT unnest(range(1, {DIM} + 1)) AS i) p),
    exact_ranked AS (
      SELECT qa.vec_id AS query_doc, ca.vec_id AS n_id,
             ROW_NUMBER() OVER (
               PARTITION BY qa.vec_id
               ORDER BY {cos.format(d=DIM, c="e")} DESC, ca.vec_id) AS rnk
      FROM v qa JOIN v ca
        ON qa.vec_id < {_SQ_QUERIES} AND ca.vec_id <> qa.vec_id),
    quant_ranked AS (
      SELECT qa.vec_id AS query_doc, ca.vec_id AS n_id,
             ROW_NUMBER() OVER (
               PARTITION BY qa.vec_id
               ORDER BY {cos.format(d=DIM, c="q")} DESC, ca.vec_id) AS rnk
      FROM dq qa JOIN dq ca
        ON qa.vec_id < {_SQ_QUERIES} AND ca.vec_id <> qa.vec_id)
    SELECT e.query_doc,
           CAST(COUNT(q.n_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(q.n_id) * 1000000 // {_SQ_TOPK} AS BIGINT) AS recall_ppm,
           (SELECT corpus_mae_micros FROM err) AS corpus_mae_micros
    FROM exact_ranked e
    LEFT JOIN quant_ranked q
      ON q.query_doc = e.query_doc AND q.n_id = e.n_id
         AND q.rnk <= {_SQ_TOPK}
    WHERE e.rnk <= {_SQ_TOPK}
    GROUP BY e.query_doc
    ORDER BY e.query_doc
    """


@register("sq8_recall_audit", oracle=_sq_oracle())
def sq8_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit — the memory-reduction path every
    100 TB vector store takes (4× smaller than float32, 8× smaller than
    float64) priced in retrieval quality: embeddings are quantized to
    uint8 codes against per-dimension corpus min/max, and for each audit
    query the top-{_SQ_TOPK} cosine neighbors under QUANTIZED vectors are
    compared to the exact top-{_SQ_TOPK} — recall@k per query, plus the
    corpus-wide mean absolute reconstruction error (stable micros).

    Exactness: quantize/dequantize is the identical IEEE sequence in both
    engines (min/max of the same floats, one ROUND half-away, one
    multiply-divide), cosines fold in index order on both sides (the
    proven ``semantic_doc_search`` contract), and the error mean uses the
    split-long stable machinery — every output cell integer.

    Scale shape: per-dim stats are one posexplode + 64-group aggregate
    (map-combinable); quantization is a broadcast join of those 64 rows
    back onto the dims; ranking mirrors ``semantic_doc_search`` (the
    audit queries broadcast against the corpus — at production scale the
    quantized side would route through the IVF path instead; this
    operator AUDITS the quantizer, so the exact scan is the point)."""
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    dims = emb.select("vec_id", F.posexplode("e").alias("pos", "x"))
    stats = dims.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    dq_cell = F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
        F.col("mn")
        + F.round((F.col("x") - F.col("mn")) * 255 / (F.col("mx") - F.col("mn")))
        * (F.col("mx") - F.col("mn"))
        / 255
    )
    dq_rows = dims.join(F.broadcast(stats), "pos").select(
        "vec_id", "pos", "x", dq_cell.alias("dq")
    )
    from input_data_pipeline_spark.functions.stable import stable_avg_micros

    err = dq_rows.agg(
        stable_avg_micros(F.abs(F.col("x") - F.col("dq"))).alias(
            "corpus_mae_micros"
        )
    )
    dq_vec = dq_rows.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "dq"))),
            lambda s: s["dq"],
        ).alias("q")
    )

    def ranked(vecs: DataFrame, col: str) -> DataFrame:
        q = vecs.filter(F.col("vec_id") < _SQ_QUERIES).select(
            F.col("vec_id").alias("query_doc"), F.col(col).alias("qv")
        )
        c = vecs.select(F.col("vec_id").alias("n_id"), F.col(col).alias("cv"))
        w = Window.partitionBy("query_doc").orderBy(
            F.desc("cosv"), F.asc("n_id")
        )
        return (
            F.broadcast(q)
            .join(c, F.col("n_id") != F.col("query_doc"))
            .withColumn("cosv", cosine(F.col("qv"), F.col("cv")))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _SQ_TOPK)
            .select("query_doc", "n_id")
        )

    exact = ranked(emb, "e")
    quant = ranked(dq_vec, "q")
    hits = exact.join(quant, ["query_doc", "n_id"], "left_semi")
    return (
        exact.groupBy("query_doc")
        .agg(F.count(F.lit(1)).alias("_n"))
        .join(
            hits.groupBy("query_doc").agg(F.count(F.lit(1)).alias("n_overlap")),
            "query_doc",
            "left",
        )
        .crossJoin(F.broadcast(err))
        .select(
            "query_doc",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.expr(f"coalesce(n_overlap, 0) * 1000000 DIV {_SQ_TOPK}").alias(
                "recall_ppm"
            ),
            "corpus_mae_micros",
        )
        .orderBy("query_doc")
    )


def sq8_quantizer_model(spark: SparkSession, sf_dir: str) -> list[tuple[float, float]]:
    """The publishable quantizer: per-dimension (min, max) bounds from the
    corpus — a fixed DIM-entry table (the bounded ship-the-model state,
    like the BM25 idf table or the capped CCNet LM), consumed by
    ``streaming.pipelines.stream_sq8_codes`` and by any batch re-encode."""
    emb = _emb(spark, sf_dir)
    rows = (
        emb.select(F.posexplode("e").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    return [(r["mn"], r["mx"]) for r in rows]


def sq8_encode(vecs: DataFrame, bounds: list[tuple[float, float]], vec_col: str = "e") -> DataFrame:
    """Map-only uint8 encoding of a vector column against published
    per-dim bounds: the identical quantize arithmetic as
    ``sq8_recall_audit`` (one ROUND half-away per cell; degenerate dims
    pin to code 0; out-of-range values clamp — stream data may exceed the
    training corpus' bounds). Appends ``sq8_codes array<int>``. Works on
    batch and streaming DataFrames alike (no state, no shuffle)."""
    from pyspark.sql.functions import pandas_udf

    sc = vecs.sparkSession.sparkContext
    bc = sc.broadcast(bounds)

    @pandas_udf("array<int>")
    def encode(col: pd.Series) -> pd.Series:
        import numpy as np

        b = np.asarray(bc.value, dtype=np.float64)
        mn, mx = b[:, 0], b[:, 1]
        span = mx - mn
        safe = np.where(span == 0, 1.0, span)
        out = []
        for v in col:
            x = np.asarray(v, dtype=np.float64)
            # Half-AWAY-FROM-ZERO, matching the audit's F.round/ROUND —
            # np.round is banker's (half-to-even) and would emit a code 1
            # lower on exact .5 grid points. Negative q (out-of-range
            # stream values below mn) clamps to 0 below, so floor(q+0.5)
            # is exact on the whole reachable domain.
            q = np.floor((x - mn) * 255 / safe + 0.5)
            q = np.where(span == 0, 0, np.clip(q, 0, 255))
            out.append(q.astype(np.int32))
        return pd.Series(out)

    return vecs.withColumn("sq8_codes", encode(F.col(vec_col)))


# ---------------------------------------------------------------------------
# IVF-PQ with asymmetric distance (ADC) — round 13
# ---------------------------------------------------------------------------
#
# The production 100-TB vector-store query shape (Jegou et al. 2011,
# "Product Quantization for Nearest Neighbor Search"): corpus vectors live
# as PQ CODES (8 bytes here, vs 512 bytes of float64) bucketed into IVF
# cells; a query probes its nearest cells, builds one small
# query-vs-codeword lookup table (M x K distances), and scores every
# candidate by M table fetches — no float vector is touched during the
# scan. This variant quantizes RAW vectors (the no-residual flavor; the
# residual flavor subtracts the cell centroid before encoding, which buys
# accuracy at the cost of per-cell codebooks — same plumbing).
#
# The codebook is TRAINED BY SAMPLING: codeword k of every subspace comes
# from corpus vector vec_id = _IVFPQ_OFF + _IVFPQ_STEP*k (the standard
# k-means init, stopped at init so the oracle can reproduce it from the
# embeddings table alone).

_IVFPQ_OFF = 3
_IVFPQ_STEP = 17
_IVFPQ_RERANK = 50  # ADC shortlist size re-ranked through float vectors


def _pq_sub_dists(E, vs):
    """(n, PQ_M, PQ_K) squared L2 between each row's subvectors and every
    sampled codeword, folded dimension-sequentially (vectorized across
    rows and codewords) — the exact IEEE sequence of the oracle's
    ``list_sum`` over d."""
    import numpy as np

    n = len(E)
    dists = np.zeros((n, PQ_M, PQ_K))
    for m in range(PQ_M):
        for d in range(PQ_SUB):
            col = E[:, m * PQ_SUB + d]
            diff = col[:, None] - vs[:, m * PQ_SUB + d][None, :]
            dists[:, m, :] = dists[:, m, :] + diff * diff
    return dists


def _centroid_cos_order(E):
    """Per-row IVF cell preference order (cosine to the md5 centroids,
    ties to the lower cell), dimension-sequential like ``knn_ivf``."""
    import math

    import numpy as np

    cent = np.array(CENTROIDS, dtype=np.float64)
    cnorm = np.empty(N_CELLS)
    for c in range(N_CELLS):
        acc = 0.0
        for v in CENTROIDS[c]:
            acc += v * v
        cnorm[c] = math.sqrt(acc)
    n = len(E)
    nsq = np.zeros(n)
    dots = np.zeros((n, N_CELLS))
    for d in range(DIM):
        col = E[:, d]
        nsq = nsq + col * col
        dots = dots + col[:, None] * cent[:, d][None, :]
    neg_cos = -(dots / (np.sqrt(nsq)[:, None] * cnorm[None, :]))
    return np.argsort(neg_cos, axis=1, kind="stable")


_DUCK_IVFPQ_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
samp AS (
  SELECT list(e ORDER BY vec_id) AS vs FROM v
  WHERE vec_id % {_IVFPQ_STEP} = {_IVFPQ_OFF}
    AND vec_id <= {_IVFPQ_OFF} + {_IVFPQ_STEP} * ({PQ_K} - 1)),
assign AS (
  SELECT vec_id, e, cell FROM (
    SELECT x.vec_id, x.e, c.cell,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
                              ORDER BY {_DUCK_CELL_COS} DESC, c.cell) AS rn
    FROM v x, {{cent}})
  WHERE rn = 1),
pdist AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(0, {PQ_M}), m ->
           list_transform(range(0, {PQ_K}), k ->
             list_sum(list_transform(range(1, {PQ_SUB} + 1), d ->
               pow(a.e[m * {PQ_SUB} + d] - s.vs[k + 1][m * {PQ_SUB} + d],
                   2))))) AS dists
  FROM assign a CROSS JOIN samp s),
codes AS (
  SELECT vec_id, cell,
         list_transform(dists, ds -> list_position(ds, list_min(ds)) - 1)
           AS codes
  FROM pdist),
probes AS (
  SELECT vec_id AS query_id, e AS qe, cell FROM (
    SELECT x.vec_id, x.e, c.cell,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
                              ORDER BY {_DUCK_CELL_COS} DESC, c.cell) AS rn
    FROM v x, {{cent}}
    WHERE x.vec_id < {N_QUERIES})
  WHERE rn <= {N_PROBE}),
lut AS (
  SELECT p.query_id, p.cell,
         list_transform(range(0, {PQ_M} * {PQ_K}), j ->
           list_sum(list_transform(range(1, {PQ_SUB} + 1), d ->
             pow(p.qe[(j // {PQ_K}) * {PQ_SUB} + d]
                 - s.vs[(j % {PQ_K}) + 1][(j // {PQ_K}) * {PQ_SUB} + d],
                 2)))) AS lut
  FROM probes p CROSS JOIN samp s),
cand AS (
  SELECT l.query_id, c.vec_id AS n_id,
         list_sum(list_transform(range(0, {PQ_M}), m ->
           l.lut[m * {PQ_K} + c.codes[m + 1] + 1])) AS adc
  FROM lut l JOIN codes c ON c.cell = l.cell AND c.vec_id <> l.query_id),
adc_ranked AS (
  SELECT query_id, n_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, n_id) AS rnk
  FROM cand),
rerank AS (
  SELECT a.query_id, a.n_id,
         ROW_NUMBER() OVER (
           PARTITION BY a.query_id
           ORDER BY list_sum(list_transform(range(1, {DIM} + 1), i ->
                      pow(q.e[i] - c.e[i], 2))) ASC,
                    a.n_id) AS rr
  FROM adc_ranked a
  JOIN v q ON q.vec_id = a.query_id
  JOIN v c ON c.vec_id = a.n_id
  WHERE a.rnk <= {_IVFPQ_RERANK}),
exact_ranked AS (
  SELECT qa.vec_id AS query_id, ca.vec_id AS n_id,
         ROW_NUMBER() OVER (
           PARTITION BY qa.vec_id
           ORDER BY list_sum(list_transform(range(1, {DIM} + 1), i ->
                      pow(qa.e[i] - ca.e[i], 2))) ASC,
                    ca.vec_id) AS rnk
  FROM v qa JOIN v ca ON qa.vec_id < {N_QUERIES} AND ca.vec_id <> qa.vec_id),
ncand AS (
  SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY query_id)
SELECT e.query_id,
       CAST(n.n_candidates AS BIGINT) AS n_candidates,
       CAST(COUNT(a.n_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(a.n_id) * 1000000 // {TOP_K} AS BIGINT) AS recall_ppm
FROM exact_ranked e
JOIN ncand n ON n.query_id = e.query_id
LEFT JOIN rerank a
  ON a.query_id = e.query_id AND a.n_id = e.n_id AND a.rr <= {TOP_K}
WHERE e.rnk <= {TOP_K}
GROUP BY e.query_id, n.n_candidates
ORDER BY e.query_id
"""


@register(
    "knn_ivf_pq",
    oracle=_DUCK_IVFPQ_ORACLE.format(cent=_duck_centroid_literal()),
)
def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC search audit: asymmetric-distance scan over PQ codes in
    the {N_PROBE} probed IVF cells, ADC top-{_IVFPQ_RERANK} shortlist
    re-ranked exactly through the float vectors of just those ids, final
    top-{TOP_K} scored against the exact L2 top-{TOP_K} over the full
    corpus — per query the ADC candidate count (the scan-bound the index
    buys), the overlap, and recall in ppm.
    Composes the existing pieces: md5 IVF centroids (``knn_ivf``), the
    PQ subspace layout (``pq_reconstruction_stats``), a corpus-sampled
    codebook both engines derive from the embeddings table.

    Scale shape: the corpus crosses the wire as (cell, 8 int codes) —
    never floats; the per-query state is one broadcast {PQ_M}x{PQ_K}
    lookup table; ADC scoring is a JVM-side ``aggregate`` of {PQ_M}
    array fetches per candidate (whole-stage codegen, no Python in the
    scan); candidates are bounded by the probed cells, not the corpus.
    At production scale the codes table is bucketed by cell so the probe
    join is shuffle-free, and the ADC top-k re-ranks through the float
    vectors of only the surviving {TOP_K} ids.

    Oracle bit-parity: codebook = 16 sampled corpus vectors (k-means
    init, stopped at init, so SQL rebuilds it); every distance folds
    dimension-sequentially (the proven ``knn_ivf``/``pq_*`` contract);
    argmin ties take the first codeword; ADC sums fold subspace-
    sequentially; ranking emits no floats, only overlap counts."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    srows = (
        emb.filter(
            (F.col("vec_id") % _IVFPQ_STEP == _IVFPQ_OFF)
            & (F.col("vec_id") <= _IVFPQ_OFF + _IVFPQ_STEP * (PQ_K - 1))
        )
        .orderBy("vec_id")
        .select("e")
        .collect()
    )
    vs = np.array([r["e"] for r in srows], dtype=np.float64)  # (PQ_K, DIM)
    assert vs.shape == (PQ_K, DIM), "corpus too small for the sampled codebook"
    bvs = spark.sparkContext.broadcast(vs)

    def encode_corpus(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(pdf["e"].tolist(), dtype=np.float64)
            cells = _centroid_cos_order(E)[:, 0]
            codes = np.argmin(_pq_sub_dists(E, bvs.value), axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cells.astype("int32"),
                    "codes": list(codes.astype("int32")),
                }
            )

    def probe_queries(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(pdf["e"].tolist(), dtype=np.float64)
            order = _centroid_cos_order(E)
            lut = _pq_sub_dists(E, bvs.value).reshape(len(E), PQ_M * PQ_K)
            yield pd.DataFrame(
                {
                    "query_id": pdf["vec_id"],
                    "probe_cells": list(order[:, :N_PROBE].astype("int32")),
                    "lut": list(lut),
                }
            )

    codes = emb.mapInPandas(
        encode_corpus, "vec_id bigint, cell int, codes array<int>"
    )
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .mapInPandas(
            probe_queries,
            "query_id bigint, probe_cells array<int>, lut array<double>",
        )
        .select("query_id", F.explode("probe_cells").alias("cell"), "lut")
    )
    cand = (
        F.broadcast(probes)
        .join(codes, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("n_id"),
            F.expr(
                f"aggregate(sequence(0, {PQ_M} - 1), cast(0 as double),"
                f" (acc, m) -> acc + lut[m * {PQ_K} + codes[m]])"
            ).alias("adc"),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("n_id"))
    shortlist = (
        cand.withColumn("rnk", F.row_number().over(w_adc))
        .filter(F.col("rnk") <= _IVFPQ_RERANK)
        .select("query_id", "n_id")
    )
    ncand = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    l2sq = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ce"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # Float vectors are touched ONLY here: the ADC shortlist (5 queries x
    # {_IVFPQ_RERANK} ids) joins back to the corpus for exact re-rank —
    # the id-list join is the production "fetch floats for survivors"
    # step, never a corpus scan.
    w_rr = Window.partitionBy("query_id").orderBy(F.asc("l2"), F.asc("n_id"))
    adc_top = (
        F.broadcast(shortlist)
        .join(
            emb.select(F.col("vec_id").alias("n_id"), F.col("e").alias("ce")),
            "n_id",
        )
        .join(F.broadcast(q), "query_id")
        .withColumn("l2", l2sq)
        .withColumn("rr", F.row_number().over(w_rr))
        .filter(F.col("rr") <= TOP_K)
        .select("query_id", "n_id")
    )
    w_ex = Window.partitionBy("query_id").orderBy(F.asc("l2"), F.asc("n_id"))
    exact_top = (
        F.broadcast(q)
        .join(
            emb.select(F.col("vec_id").alias("n_id"), F.col("e").alias("ce")),
            F.col("n_id") != F.col("query_id"),
        )
        .withColumn("l2", l2sq)
        .withColumn("rnk", F.row_number().over(w_ex))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "n_id")
    )
    hits = exact_top.join(adc_top, ["query_id", "n_id"], "left_semi")
    return (
        exact_top.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .join(F.broadcast(ncand), "query_id")
        .join(
            F.broadcast(
                hits.groupBy("query_id").agg(
                    F.count(F.lit(1)).alias("n_overlap")
                )
            ),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.expr(f"coalesce(n_overlap, 0) * 1000000 DIV {TOP_K}").alias(
                "recall_ppm"
            ),
        )
        .orderBy("query_id")
    )


def ivfpq_codebook_model(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The publishable IVF-PQ model state: the {PQ_K} sampled codebook
    vectors (k-means init stopped at init — the same derivation
    ``knn_ivf_pq`` and its oracle use), a fixed {PQ_K}x{DIM} table like
    the sq8 bounds or the BM25 idf map. Consumed by
    ``streaming.pipelines.stream_ivfpq_codes`` and any batch re-encode;
    the IVF centroids are the md5 constants (``CENTROIDS``), already
    shared by value."""
    rows = (
        _emb(spark, sf_dir)
        .filter(
            (F.col("vec_id") % _IVFPQ_STEP == _IVFPQ_OFF)
            & (F.col("vec_id") <= _IVFPQ_OFF + _IVFPQ_STEP * (PQ_K - 1))
        )
        .orderBy("vec_id")
        .select("e")
        .collect()
    )
    vs = [list(r["e"]) for r in rows]
    if len(vs) != PQ_K:
        raise ValueError("corpus too small for the sampled codebook")
    return vs


def ivfpq_encode(vecs: DataFrame, codebook: list[list[float]], vec_col: str = "e") -> DataFrame:
    """Map-only IVF-PQ encode against a published codebook: appends
    ``ivf_cell int`` (cosine-nearest md5 centroid, ties low) and
    ``pq_codes array<int>`` ({PQ_M} codewords). The identical
    dimension-sequential kernel as ``knn_ivf_pq``'s corpus side, so batch
    and streaming codes agree bit-for-bit. Stateless, no shuffle; works
    on batch and streaming DataFrames alike."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bvs = vecs.sparkSession.sparkContext.broadcast(
        np.array(codebook, dtype=np.float64)
    )

    @pandas_udf("cell int, codes array<int>")
    def enc(col: pd.Series) -> pd.DataFrame:
        E = np.array(col.tolist(), dtype=np.float64)
        if not len(E):
            return pd.DataFrame({"cell": [], "codes": []})
        cells = _centroid_cos_order(E)[:, 0].astype("int32")
        codes = np.argmin(_pq_sub_dists(E, bvs.value), axis=2).astype("int32")
        return pd.DataFrame({"cell": cells, "codes": list(codes)})

    return (
        vecs.withColumn("_ivfpq", enc(F.col(vec_col)))
        .withColumn("ivf_cell", F.col("_ivfpq.cell"))
        .withColumn("pq_codes", F.col("_ivfpq.codes"))
        .drop("_ivfpq")
    )
