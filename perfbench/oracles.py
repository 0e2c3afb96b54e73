"""Expected outputs for the benchmark's output checks.

Extraction: ``oracle.extract_serial`` (the program's single-process
reference) run over the generated pages, spread over a spawn pool so the
check does not dominate a run. Only each url's sha256 checksum is kept:
the program's ``extracted_text`` is hashed the same way when checked.

Corpus queries: each registry query's DuckDB oracle SQL, reduced to a
digest of its normalised rows. DuckDB needs minutes on the pair-join
oracles at sf0.1, so digests are looked up in ``oracle_digests.json``
(shipped with the benchmark, rebuilt by running this file), then in the
run cache, and only then computed. A stored digest is only used when the
SQL text, the input parquet bytes, the DuckDB version and the
normalisation version all match the ones it was computed from.
"""

from __future__ import annotations

import gc
import hashlib
import json
import math
import multiprocessing
import os
from decimal import Decimal
from pathlib import Path

import numpy as np
import pandas as pd

import procs

HERE = Path(__file__).resolve().parent
SHIPPED_DIGESTS = HERE / "oracle_digests.json"

NORM_VERSION = 1
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


# ---------------------------------------------------------------- extraction


def _oracle_chunk(chunk):
    from onnxocr_ray_spark.oracle import extract_serial

    return {url: r.checksum for url, r in extract_serial(chunk).items()}


def extraction_oracle(pages, workers: int) -> dict:
    """[(url, html)] -> {url: sha256 hex of the oracle's extracted text}."""
    # stride the pages over the chunks so the giant pages spread out
    n_chunks = max(1, workers * 8)
    chunks = [pages[i::n_chunks] for i in range(n_chunks)]
    out: dict = {}
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers) as pool:
        for part in pool.imap_unordered(_oracle_chunk, chunks):
            out.update(part)
    # the pool's semaphores unregister from the resource tracker when they
    # are collected; then the tracker can stop instead of outliving the run
    del pool
    gc.collect()
    procs.stop_resource_tracker()
    return out


# ------------------------------------------------------------ corpus queries


def _norm_cell(v):
    """``tests/oracle_check.py`` normalisation, made exact for hashing:
    values that compare equal there (3 == 3.0, Decimal vs float) must
    hash equal here."""
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return _num(round(v + 0.0, 9))
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None).isoformat() if hasattr(v, "tzinfo") else v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "tolist"):  # numpy scalar or array cell
        return _norm_cell(v.tolist())
    return v


def _num(v: float):
    if v != v:
        return None
    return int(v) if v.is_integer() else v


def _canon_column(col: pd.Series) -> list:
    """One column -> the repr of each normalised cell, vectorised for the
    numeric dtypes the queries return."""
    kind = col.dtype.kind
    if kind in "iub" and not col.hasnans:
        return [repr(v) for v in col.tolist()]
    if kind == "f":
        x = np.round(col.to_numpy(dtype="float64"), 9) + 0.0
        return [repr(_num(v)) for v in x.tolist()]
    return [repr(_norm_cell(v)) for v in col.tolist()]


def rows_digest(df: pd.DataFrame) -> tuple:
    """(row count, sha256) over sorted column names and the sorted
    multiset of normalised rows."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(r) for r in zip(*(_canon_column(df[c]) for c in cols)))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(b"\n")
        h.update(r.encode())
    return len(rows), h.hexdigest()


def _sha256_file(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def oracle_key(sf_dir: str) -> dict:
    """What a stored digest must have been computed from."""
    import duckdb

    data = {}
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            data[t] = _sha256_file(p)
    return {"duckdb": duckdb.__version__, "norm": NORM_VERSION, "data": data}


def _sql_sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def _load(path: Path) -> dict:
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def compute_digests(sf_dir: str, queries: dict) -> dict:
    """Run each query's DuckDB oracle -> {name: {sql_sha256, rows, digest}}."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        out = {}
        for name, sql in queries.items():
            n, digest = rows_digest(con.sql(sql).df())
            out[name] = {"sql_sha256": _sql_sha(sql), "rows": n, "digest": digest}
    finally:
        con.close()
    return out


def corpus_oracle(sf_dir: str, queries: dict, cache_dir: Path) -> dict:
    """{name: sql} -> {name: (rows, digest)}: from the shipped digests,
    else the run cache, else DuckDB (whose answer is then cached)."""
    key = oracle_key(sf_dir)
    cache_path = cache_dir / "oracle_digests.json"
    stores = [_load(SHIPPED_DIGESTS), _load(cache_path)]
    stores = [st.get("queries", {}) if st.get("key") == key else {} for st in stores]
    found, missing = {}, {}
    for name, sql in queries.items():
        rec = next((st[name] for st in stores
                    if name in st and st[name]["sql_sha256"] == _sql_sha(sql)), None)
        if rec is None:
            missing[name] = sql
        else:
            found[name] = (rec["rows"], rec["digest"])
    if missing:
        fresh = compute_digests(sf_dir, missing)
        cached = {"key": key, "queries": {**stores[1], **fresh}}
        cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = cache_dir / f"oracle_digests.json.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cached, fh, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
        found.update({n: (r["rows"], r["digest"]) for n, r in fresh.items()})
    return found


if __name__ == "__main__":
    # Recompute oracle_digests.json with DuckDB (minutes at sf0.1):
    #   python3 perfbench/oracles.py
    import sys

    sys.path.insert(0, str(HERE.parent))
    from onnxocr_ray_spark.registry import load_all

    from corpus import CORPUS_QUERIES, SF_DIR

    registry = load_all()
    doc = {
        "key": oracle_key(SF_DIR),
        "queries": compute_digests(SF_DIR, {n: registry[n].sql for n in CORPUS_QUERIES}),
    }
    with open(SHIPPED_DIGESTS, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
