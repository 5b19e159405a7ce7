"""Result hashing against the DuckDB oracle.

Every timed op's result is reduced to one hash of its canonical form (the
row/column canonicalisation of scripts/check_parity.py) and compared with
the hash of the query's `oracle_sql()` run on DuckDB over the same files.
Expected hashes are computed before the timed window and cached per dataset
fingerprint, so DuckDB never runs inside a measured interval. Each cached
hash carries a sha of the query's oracle SQL and of check_parity.py, so a
checkout whose oracle or canonicalisation differs recomputes it.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

_CANON = None


def _parity_path() -> str:
    return os.path.join(os.getcwd(), "scripts", "check_parity.py")


def _canon_fn():
    """scripts/check_parity.py's canon(rows, cols), loaded by path."""
    global _CANON
    if _CANON is None:
        path = _parity_path()
        spec = importlib.util.spec_from_file_location("_perfbench_parity", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _CANON = mod.canon
    return _CANON


def _oracle_key(sql: str) -> str:
    """What a cached hash was computed from: the oracle SQL and the source
    of check_parity.py, where canon() and its helpers live."""
    with open(_parity_path(), "rb") as fh:
        src = fh.read()
    return hashlib.sha256(sql.encode() + b"\0" + src).hexdigest()[:16]


def result_hash(rows, cols) -> str:
    body = [sorted(cols), _canon_fn()([tuple(r) for r in rows], list(cols))]
    return hashlib.sha256(json.dumps(body).encode()).hexdigest()


def duckdb_connect(sf_dir: str):
    import duckdb

    from datagen import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    return con


def expected_hashes(sf_dir: str, fp: str, names: list[str], cache_dir: str) -> dict[str, str]:
    """Oracle hash per query, from the cache for this dataset fingerprint
    when it was computed from the same oracle SQL and canon(), else
    computed on DuckDB and stored in the cache."""
    from ophidia_server_spark.registry import ORACLES

    missing = [n for n in names if n not in ORACLES]
    if missing:
        raise SystemExit(f"queries without an oracle cannot be benchmarked: {missing}")
    path = os.path.join(cache_dir, f"oracle-{fp}.json")
    cache: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as fh:
            cache = json.load(fh)
    keys = {n: _oracle_key(ORACLES[n]) for n in names}
    todo = [n for n in names if cache.get(n, {}).get("key") != keys[n]]
    if todo:
        con = duckdb_connect(sf_dir)
        for n in todo:
            res = con.execute(ORACLES[n])
            cols = [d[0] for d in res.description]
            cache[n] = {"key": keys[n], "hash": result_hash(res.fetchall(), cols)}
        con.close()
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: cache[n]["hash"] for n in names}
