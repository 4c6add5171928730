"""Measure the traffic statistics that ``gen.py`` reproduces.

    python3 perfbench/fit.py DIR        # DIR holds the ten fixture tables

Run from the repository root. Prints one JSON object with, for the tables
in ``DIR``:

* ``user_skew`` / ``cust_skew`` -- Zipf exponent of ``events.user_id`` /
  ``orders.o_custkey``: ids are ranked by their counts in one half of the
  rows and the exponent is minus the log-log slope of their counts in the
  other half, so sampling noise alone does not read as skew;
* ``date_skew`` / ``order_date_skew`` -- rows per day fitted by a line over
  the days; the fitted latest day over the fitted first day;
* ``token_skew`` -- the split-half Zipf exponent of document tokens,
  ``vocab`` the distinct tokens; ``rare_tokens`` (under a tenth of an
  even share, such as a tail marker of planted copies) are listed apart
  and left out of both; ``doc_tokens`` min and max tokens per document
  that is not the later one of a pair;
* ``near_dup_share`` -- documents that the registry's MinHash-LSH oracle
  (run in DuckDB) pairs with an earlier document, over all documents;
  ``dup_edits`` how the later document of each pair differs from the
  earlier one (tokens appended or dropped at the tail, or none);
* ``lang`` -- each language's share of the documents.

``gen.py``'s constants were set from this script's output over the
repository's fixture; ``test_perfbench.py`` checks that the output over
generated tables reproduces them.
"""

from __future__ import annotations

import collections
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq


def split_half_zipf(keys: np.ndarray) -> float:
    """Zipf exponent of ``keys``' frequencies: rank by the even-position
    half, fit log count against log rank on the odd-position half."""
    a, b = keys[0::2], keys[1::2]
    ids, ca = np.unique(a, return_counts=True)
    cb = collections.Counter(b.tolist())
    order = np.argsort(-ca, kind="stable")
    counts = np.array([cb.get(k, 0) for k in ids[order].tolist()], dtype=float)
    ranks = np.arange(1, len(counts) + 1, dtype=float)
    keep = counts > 0
    slope = np.polyfit(np.log(ranks[keep]), np.log(counts[keep]), 1)[0]
    return float(-slope)


def day_skew(day_index: np.ndarray) -> float:
    """Fitted rows on the latest day over fitted rows on the first day."""
    days, counts = np.unique(day_index, return_counts=True)
    k, c = np.polyfit(days.astype(float), counts.astype(float), 1)
    return float((k * days[-1] + c) / (k * days[0] + c))


def _days(col) -> np.ndarray:
    return col.cast("date32").cast("int32").to_numpy()


def dup_pairs(data_dir: str) -> list[tuple[int, int]]:
    """(earlier doc, later doc) pairs found by the registry's MinHash-LSH
    oracle SQL, run in DuckDB over ``data_dir``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    from flink_gmall_spark.registry import oracle_sql
    from tests.oracle import duck_connection

    con = duck_connection(data_dir)
    try:
        rows = con.execute(oracle_sql()["dedup_minhash_lsh"]).fetchall()
    finally:
        con.close()
    return [(int(a), int(b)) for a, b, _ in rows]


def tail_edit(a: list[str], b: list[str]) -> str:
    """How ``b`` differs from ``a``: ``same``, ``append`` (b extends a),
    ``drop`` (a extends b) or ``other``."""
    if a == b:
        return "same"
    if b[: len(a)] == a:
        return "append"
    if a[: len(b)] == b:
        return "drop"
    return "other"


def measure(data_dir: str) -> dict:
    def read(name: str):
        return pq.read_table(os.path.join(data_dir, f"{name}.parquet"))

    events, orders, docs = read("events"), read("orders"), read("documents")
    texts = docs["text"].to_pylist()
    ids = docs["doc_id"].to_pylist()
    toks = [t.split() for t in texts]
    pairs = dup_pairs(data_dir)
    by_id = dict(zip(ids, toks))
    later = {b for _, b in pairs}
    edits = collections.Counter(tail_edit(by_id[a], by_id[b]) for a, b in pairs)
    plain = [t for i, t in zip(ids, toks) if i not in later]
    words, counts = np.unique(np.array([w for t in toks for w in t]), return_counts=True)
    rare = set(words[counts < counts.sum() / len(words) / 10].tolist())
    flat = np.array([w for t in toks for w in t if w not in rare])
    langs = collections.Counter(docs["lang"].to_pylist())
    return {
        "rows": {n: read(n).num_rows for n in ("events", "orders", "lineitem", "documents")},
        "users": int(len(np.unique(events["user_id"].to_numpy()))),
        "user_skew": round(split_half_zipf(events["user_id"].to_numpy()), 4),
        "cust_skew": round(split_half_zipf(orders["o_custkey"].to_numpy()), 4),
        "date_skew": round(day_skew(_days(events["ts"])), 4),
        "order_date_skew": round(day_skew(_days(orders["o_orderdate"])), 4),
        "vocab": int(len(np.unique(flat))),
        "token_skew": round(split_half_zipf(flat), 4),
        "rare_tokens": sorted(rare),
        "doc_tokens": [min(map(len, plain)), max(map(len, plain))],
        "near_dup_share": round(len(later) / len(texts), 4),
        "dup_edits": {k: round(v / max(len(pairs), 1), 4) for k, v in sorted(edits.items())},
        "lang": {k: round(v / len(texts), 4) for k, v in sorted(langs.items())},
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.split("\n\n")[1])
    print(json.dumps(measure(sys.argv[1]), indent=1))
