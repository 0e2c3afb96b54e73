#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py

1. A fixed seed gives byte-identical inputs; another seed gives others.
2. The extraction check passes on real ``run_extraction`` output, and a
   planted one-byte change to one extracted text makes it fail.
3. The corpus digest ignores row order and int/float spelling, and a
   planted one-byte change to one cell changes it.

Exits 0 when all pass. Files go under ``.perfbench_work/selftest``.
"""

from __future__ import annotations

import hashlib
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

SMALL = {"n_pages": 300, "giant_frac": 0.0, "null_frac": 0.05}


def _sha(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def check_inputs(work: Path, docs) -> None:
    import gen

    shas = []
    for k, seed in enumerate((7, 7, 8)):
        path = work / f"pages{k}.parquet"
        gen.write_pages(gen.make_pages(docs, seed, **SMALL), str(path))
        shas.append(_sha(path))
    assert shas[0] == shas[1], "seed 7 twice gave different bytes"
    assert shas[0] != shas[2], "seeds 7 and 8 gave the same bytes"


def check_extraction(work: Path, docs) -> None:
    import pyarrow.parquet as pq

    import gen
    import run
    from oracles import extraction_oracle

    table = gen.make_pages(docs, 9, **SMALL)
    pages_path = work / "pages.parquet"
    gen.write_pages(table, str(pages_path))
    pages = list(zip(table.column("url").to_pylist(), table.column("html").to_pylist()))

    workload = run.ExtractHeavytail()
    workload.oracle = extraction_oracle(pages, 2)
    workload.pages_path = str(pages_path)
    workload.out_root = work / "out"

    run._configure_env(work / "run")
    tracer = run.tr.Tracer("selftest", enabled=False)
    spark, _ = run.setup_session(work / "run", 0, tracer)
    try:
        res = workload.run_pass(spark, 0, tracer)
    finally:
        run.stop_session(spark)
    attempted, failed = workload.check(res)
    assert attempted == len(pages) and failed == 0, f"clean output failed {failed}/{attempted}"

    # plant a one-byte change in one non-empty extracted text
    for part in sorted((res["out"] / "data").rglob("*.parquet")):
        t = pq.read_table(part)
        texts = t.column("extracted_text").to_pylist()
        hit = next((i for i, x in enumerate(texts) if x), None)
        if hit is None:
            continue
        texts[hit] = ("X" if texts[hit][0] != "X" else "Y") + texts[hit][1:]
        idx = t.schema.get_field_index("extracted_text")
        t = t.set_column(idx, t.schema.field(idx), [texts])
        pq.write_table(t, part)
        break
    attempted, failed = workload.check(res)
    assert failed > 0, "a planted one-byte change went unnoticed"


def check_corpus_digest() -> None:
    import pandas as pd

    from oracles import rows_digest

    df = pd.DataFrame({"b": ["x", "y", None], "a": [1.0, 2.5, 3.0]})
    shuffled = df.iloc[[2, 0, 1]][["a", "b"]].reset_index(drop=True)
    assert rows_digest(df) == rows_digest(shuffled), "row or column order changed the digest"
    ints = pd.DataFrame({"b": ["x", "y"], "a": [1, 2]})
    floats = pd.DataFrame({"b": ["x", "y"], "a": [1.0, 2.0]})
    assert rows_digest(ints) == rows_digest(floats), "1 and 1.0 hashed differently"
    planted = df.copy()
    planted.loc[0, "b"] = "z"
    assert rows_digest(df) != rows_digest(planted), "a planted change kept the digest"


def main() -> int:
    import gen
    from corpus import SF_DIR

    work = ROOT / ".perfbench_work" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    docs = gen.read_documents(SF_DIR)
    failures = 0
    for name, fn in (
        ("inputs are a function of the seed", lambda: check_inputs(work, docs)),
        ("extraction check catches a one-byte change", lambda: check_extraction(work, docs)),
        ("corpus digest is order-free and catches a change", check_corpus_digest),
    ):
        try:
            fn()
            print(f"PASS {name}")
        except AssertionError as exc:
            failures += 1
            print(f"FAIL {name}: {exc}")
    shutil.rmtree(work, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
