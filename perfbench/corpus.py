"""The ``corpus_curate`` workload: registry queries over the sf0.1 tables.

Six queries: every blocked-pair kernel and per-row Python mirror, each a
chain of Python stages. Each query adds a fixed cost to every pass and
the benchmark's time budget is tight, so the other queries are left out
(see NOTES.md).
"""

from __future__ import annotations

import os
import random

# the same knob and default as bench.py
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# query -> the operators module that registers it (per-layer metric names)
CORPUS_QUERIES = {
    # the four blocked-pair kernels
    "dedup_minhash_lsh": "dedup",
    "dedup_ngram_jaccard": "dedup",
    "dedup_simhash_pairs": "dedup",
    "dedup_semantic": "similarity",
    # the two per-row Python mirrors
    "lm_fluency_score": "textstats",
    "decontaminate": "dedup",
}


def query_order(seed: int) -> list:
    order = sorted(CORPUS_QUERIES)
    random.Random(seed).shuffle(order)
    return order


def layer_name(query: str) -> str:
    return f"operators.{CORPUS_QUERIES[query]}.{query}_s"
