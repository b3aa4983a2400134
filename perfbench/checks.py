"""Output checks, run outside every timed window.

Query ops: each query's Spark result digest must equal its DuckDB-oracle
digest (``check_oracle.canon``/``table_digest``, imported from the repo),
and every later repetition must reproduce the checked digest. Stream ops:
the accepted fingerprint set must equal the distinct stage-2 (``f2``)
fingerprint set over the same documents, one document per fingerprint.
"""

from __future__ import annotations

import hashlib
import json
import os


class DigestCheck:
    """Verdicts for one run's query ops. ``observe`` returns False for an op
    whose output is wrong: it differs from the oracle on the first sight of
    the query, or from the checked digest on any later repetition."""

    def __init__(self, oracle: dict[str, str]):
        self.oracle = oracle
        self.checked: dict[str, str] = {}
        self.verdicts: dict[str, str] = {}

    def observe(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        from check_oracle import table_digest

        digest = table_digest(cols, rows)
        if name not in self.checked:
            want = self.oracle.get(name)
            ok = want is not None and digest == want
            self.checked[name] = digest if ok else ""
            self.verdicts[name] = "pass" if ok else f"oracle {want} != spark {digest}"
            return ok
        ok = bool(self.checked[name]) and digest == self.checked[name]
        if not ok and self.verdicts[name] == "pass":
            self.verdicts[name] = f"repetition digest {digest} != checked {self.checked[name]}"
        return ok


def _oracle_key(data_dir: str, sql: str) -> str:
    return hashlib.sha256(f"{os.path.basename(data_dir)}\0{sql}".encode()).hexdigest()[:24]


def oracle_digests(names: list[str], data_dir: str, cache_path: str, compute: bool = True) -> dict[str, str]:
    """DuckDB-oracle digest per query over the parquet tables in
    ``data_dir``. Digests are cached by (data directory, oracle SQL), so a
    changed oracle or regenerated data is recomputed; with ``compute``
    False only cached digests are returned."""
    from check_oracle import table_digest
    from input_data_pipeline_spark.plans.registry import _REGISTRY, _load_all

    _load_all()
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    keys = {n: _oracle_key(data_dir, _REGISTRY[n].oracle or "") for n in names}
    missing = [n for n in names if keys[n] not in cache and _REGISTRY[n].oracle]
    if missing and compute:
        import duckdb

        from input_data_pipeline_spark.tables import TABLE_NAMES

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                path = os.path.join(data_dir, f"{t}.parquet")
                if os.path.exists(path):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for n in missing:
                res = con.execute(_REGISTRY[n].oracle)
                cols = [d[0] for d in res.description]
                cache[keys[n]] = table_digest(cols, [tuple(r) for r in res.fetchall()])
        finally:
            con.close()
        tmp = f"{cache_path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return {n: cache[keys[n]] for n in names if keys[n] in cache}


def stream_gate_ok(spark, accepted_dir: str, docs_df) -> tuple[bool, str]:
    """The ``test_stream_curation_gate_parity_and_replay`` rule over the
    documents streamed so far (``docs_df``)."""
    from input_data_pipeline_spark.operators.curation import funnel_stage_flags
    from input_data_pipeline_spark.streaming.pipelines import accepted_docs

    got = accepted_docs(spark, accepted_dir).select("doc_id", "fp").collect()
    expect = funnel_stage_flags(docs_df).filter("f2").select("doc_id", "fp").collect()
    want_fps = {r.fp for r in expect}
    ok_ids = {r.doc_id for r in expect}
    got_fps = {r.fp for r in got}
    if got_fps != want_fps:
        return False, f"accepted fp set differs: {len(got_fps)} vs {len(want_fps)} expected"
    if len(got) != len(want_fps):
        return False, f"{len(got)} accepted docs for {len(want_fps)} fingerprints"
    if not all(r.doc_id in ok_ids for r in got):
        return False, "an accepted doc fails the stage-2 quality gates"
    return True, "pass"
