"""Seeded sf0.1 tables for the benchmark.

The benchmark may read only files inside its own checkout, so it builds its
input tables here instead of reading a shared test-data directory. The
tables follow the schema and value ranges of the engine's synthetic star
schema (``tables.TABLE_NAMES``): TPC-H-like region/nation/customer/
supplier/part/orders/lineitem, an ``events`` click stream, a ``documents``
corpus over a 30-word vocabulary with 250 planted near-duplicates, and
unit-norm 64-d ``embeddings``. Row counts are those of scale factor 0.1.

The data seed is fixed (``DATA_SEED``): a run's ``--seed`` changes the op
order and the stream split, never the tables, so every run of a workload
reads the same bytes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1
# Bump when the generator changes, so a stale cache is never reused.
GEN_VERSION = 1

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "de", "es", "fr", "zh")
DUP_SHARE = 20  # one document in 20 is a near-duplicate ("<other doc's text> dup")


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_since_epoch.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _days(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype("int64"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float = SF) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(["red", "small", "hot", "cold", "old", "new", "large", "blue"])
    noun = np.array(["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"])
    ptypes = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    s0, s1 = _days(1995, 1, 2), _days(2001, 11, 4)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, n_li)),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + _days(2024, 1, 1) * 86_400_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), i64),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in rng.integers(10, 101, n_docs)]
    n_dup = n_docs // DUP_SHARE
    dup_at = rng.choice(n_docs, n_dup, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dup_at)
    for i, src in zip(dup_at, rng.choice(originals, n_dup)):
        texts[i] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return t


def table_dirs(cache_dir: str, media_docs: int) -> tuple[str, str]:
    """The sf0.1 table directory and the decode-gate directory, whose
    ``documents`` table holds the first ``media_docs`` documents."""
    return (
        os.path.join(cache_dir, f"sf{SF}-v{GEN_VERSION}-s{DATA_SEED}"),
        os.path.join(cache_dir, f"media{media_docs}-v{GEN_VERSION}-s{DATA_SEED}"),
    )


def tables_ready(cache_dir: str, media_docs: int) -> bool:
    return all(os.path.exists(os.path.join(d, "_DONE")) for d in table_dirs(cache_dir, media_docs))


def ensure_tables(cache_dir: str, media_docs: int) -> tuple[str, str]:
    """Write both table directories under ``cache_dir`` once. A finished
    directory carries a ``_DONE`` marker and is built under a temporary
    name first, so an interrupted build is never read."""
    sf_dir, media_dir = table_dirs(cache_dir, media_docs)
    if tables_ready(cache_dir, media_docs):
        return sf_dir, media_dir
    tables = build_tables()
    for out, subset in ((sf_dir, tables), (media_dir, {"documents": tables["documents"].slice(0, media_docs)})):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, tab in subset.items():
            pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"))
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return sf_dir, media_dir


def main(argv: list[str]) -> int:
    """``datagen.py CACHE_DIR``: build the tables and the oracle digests of
    every workload's queries. Run as a child process, so neither the table
    build nor DuckDB counts toward a run's peak RSS."""
    from checks import oracle_digests
    from workloads import MEDIA_DOCS, WORKLOADS

    (cache_dir,) = argv
    dirs = dict(zip(("sf", "media"), ensure_tables(cache_dir, MEDIA_DOCS)))
    for kind, data_dir in dirs.items():
        names = [q for w in WORKLOADS.values() if w.data == kind for q in w.queries]
        oracle_digests(names, data_dir, os.path.join(cache_dir, "oracle.json"))
    return 0


if __name__ == "__main__":
    import sys

    sys.exit(main(sys.argv[1:]))
