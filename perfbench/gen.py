"""Seeded input generator for the benchmark.

Writes the same ten tables, with the same column names, Arrow types and
one-row-group-per-file layout, as the repository's fixture directories
(``region nation customer supplier part orders lineitem events documents
embeddings``). Every value derives from ``numpy.random.default_rng(seed)``,
so one seed gives byte-identical files and another seed gives other files.

Traffic knobs, recorded with every run by ``run.py``. Their values are
measured from the repository's sf0.01 and sf0.1 fixtures by ``fit.py``
(``FIXTURE_FIT``); ``test_perfbench.py`` checks that ``fit.py`` reads the
same statistics back from generated tables:

* ``user_skew``   -- Zipf exponent of ``events.user_id`` and ``orders.o_custkey``
  (the fixture's ids are uniform);
* ``date_skew``   -- weight of the latest day over the first day, for event
  days and order dates (the fixture's days are flat);
* ``token_skew``  -- Zipf exponent over ``VOCAB``, the fixture's 30 words
  (uniform in the fixture);
* ``near_dup_share`` -- share of documents planted as copies of an earlier
  document, whose tail is edited as ``DUP_EDITS`` says: ``DUP_MARK``
  appended, the last token dropped, or left as it is.

Foreign keys are checked by :func:`check_foreign_keys` before the files
are written, so a join over generated data always measures real work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Rows per table: the sf0.01 fixture's sizes, used by both workloads.
BASE_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "users": 150,
    "documents": 500, "embeddings": 500,
}

KNOBS = {"user_skew": 0.0, "date_skew": 1.0, "token_skew": 0.0, "near_dup_share": 0.05}

#: ``fit.py`` over the sf0.1 fixture (the sf0.01 fixture agrees within
#: sampling noise: near_dup_share 0.048, doc_tokens 10-99).
FIXTURE_FIT = {
    "user_skew": 0.0055, "cust_skew": -0.0017, "date_skew": 0.9992,
    "order_date_skew": 0.995, "vocab": 30, "token_skew": -0.0016,
    "rare_tokens": ["dup"], "doc_tokens": [10, 100], "near_dup_share": 0.0488,
    "dup_edits": {"append": 0.5078, "drop": 0.4609, "same": 0.0312},
    "lang": {"de": 0.1404, "en": 0.4118, "es": 0.1488, "fr": 0.1484, "zh": 0.1506},
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_MARK = "dup"
DUP_EDITS = {"append": 0.51, "drop": 0.46, "same": 0.03}
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
EVENT_TYPES = ("view", "click", "purchase", "error", "signup")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # through 2001-08-01
EMBED_DIM = 64

TS = pa.timestamp("us")


def _zipf_choice(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    """``size`` draws from ``0..n-1`` with P(rank r) proportional to
    1/(r+1)^s, ranks shuffled over ids so hot ids are not the low ids."""
    w = 1.0 / np.arange(1, n + 1) ** s
    ranks = rng.choice(n, size=size, p=w / w.sum())
    return rng.permutation(n)[ranks]


def _skewed_days(rng: np.random.Generator, n_days: int, size: int, skew: float) -> np.ndarray:
    """Day offsets whose weight grows linearly from 1 (first day) to
    ``skew`` (latest day)."""
    w = np.linspace(1.0, skew, n_days)
    return rng.choice(n_days, size=size, p=w / w.sum())


def _days_to_ts(start: dt.datetime, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"), TS)


def _money(rng, lo, hi, size) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def gen_dims(rng: np.random.Generator, n: dict[str, int]) -> dict[str, pa.Table]:
    nations = 25
    c, s, p = n["customer"], n["supplier"], n["part"]
    pk = np.arange(p, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(nations, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(nations)]),
            "n_regionkey": pa.array(np.arange(nations, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": pa.array(rng.integers(0, nations, c, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, c)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": pa.array(rng.integers(0, nations, s, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(pk),
            "p_name": pa.array(np.array(names)[rng.integers(0, len(names), p)]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, p)]),
            "p_size": pa.array(rng.integers(1, 51, p, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
        }),
    }


def gen_orders(rng: np.random.Generator, n: dict[str, int]) -> dict[str, pa.Table]:
    o, li = n["orders"], n["lineitem"]
    days = _skewed_days(rng, ORDER_DAYS + 1, o, KNOBS["date_skew"])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(
            _zipf_choice(rng, n["customer"], o, KNOBS["user_skew"]).astype(np.int64)
        ),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
        "o_orderdate": _days_to_ts(ORDER_START, days),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, o)]),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, li)]),
        "l_shipdate": _days_to_ts(ORDER_START, rng.integers(1, ORDER_DAYS + 96, li)),
    })
    return {"orders": orders, "lineitem": lineitem}


def gen_events(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    """Events in event-time order with strictly increasing microsecond
    timestamps, so per-user order is total and the stream split at the
    median day delivers each user's events in order."""
    e = n["events"]
    days = np.sort(_skewed_days(rng, EVENT_DAYS, e, KNOBS["date_skew"]))
    us = days * 86_400_000_000 + rng.integers(0, 86_400_000_000, e)
    us.sort()
    ramp = np.arange(e, dtype=np.int64)
    us = np.maximum.accumulate(us - ramp) + ramp  # strictly increasing
    if us[-1] >= EVENT_DAYS * 86_400_000_000:
        raise ValueError("event timestamps overflow the window")
    base = np.datetime64(EVENT_START, "us")
    return pa.table({
        "event_id": pa.array(ramp),
        "ts": pa.array(base + us.astype("timedelta64[us]"), TS),
        "user_id": pa.array(
            _zipf_choice(rng, n["users"], e, KNOBS["user_skew"]).astype(np.int64)
        ),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, e)]),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })


def gen_documents(rng: np.random.Generator, n_docs: int) -> tuple[pa.Table, int]:
    """Documents of 10-99 tokens drawn from ``VOCAB``; ``near_dup_share``
    of them, at seeded positions, copy an earlier document with a
    ``DUP_EDITS`` tail edit. Returns the table and the planted count."""
    w = 1.0 / np.arange(1, len(VOCAB) + 1) ** KNOBS["token_skew"]
    p = w / w.sum()
    edits, edit_p = list(DUP_EDITS), np.array(list(DUP_EDITS.values()))
    n_copies = min(int(round(KNOBS["near_dup_share"] * n_docs)), n_docs - 1)
    copies = set(rng.choice(np.arange(1, n_docs), size=n_copies, replace=False).tolist())
    texts: list[str] = []
    for i in range(n_docs):
        if i in copies:
            src = texts[int(rng.integers(0, i))].split()
            edit = edits[int(rng.choice(len(edits), p=edit_p / edit_p.sum()))]
            if edit == "append":
                src.append(DUP_MARK)
            elif edit == "drop":
                src.pop()
            texts.append(" ".join(src))
        else:
            toks = rng.choice(len(VOCAB), size=int(rng.integers(10, 100)), p=p)
            texts.append(" ".join(VOCAB[t] for t in toks))
    ids = np.arange(n_docs, dtype=np.int64)
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, size=n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return table, n_copies


def gen_embeddings(rng: np.random.Generator, n_vec: int) -> pa.Table:
    """Unit vectors scattered around 10 label centroids."""
    centers = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    v = centers[labels] + rng.normal(scale=1.5, size=(n_vec, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMBED_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def check_foreign_keys(t: dict[str, pa.Table], n_users: int) -> None:
    """Raise ValueError unless every foreign key resolves."""

    def keys(name: str, col: str) -> np.ndarray:
        return t[name][col].to_numpy()

    refs = [
        ("nation", "n_regionkey", "region", "r_regionkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ]
    for child, fk, parent, pk in refs:
        missing = ~np.isin(keys(child, fk), keys(parent, pk))
        if missing.any():
            raise ValueError(f"{child}.{fk}: {int(missing.sum())} keys missing from {parent}.{pk}")
    users = keys("events", "user_id")
    if users.min() < 0 or users.max() >= n_users:
        raise ValueError("events.user_id outside the generated user range")


def generate(seed: int, n: dict[str, int]) -> tuple[dict[str, pa.Table], dict]:
    """All ten tables for ``seed`` plus a summary of what was planted."""
    rng = np.random.default_rng(seed)
    tables = gen_dims(rng, n)
    tables.update(gen_orders(rng, n))
    tables["events"] = gen_events(rng, n)
    tables["documents"], planted = gen_documents(rng, n["documents"])
    tables["embeddings"] = gen_embeddings(rng, n["embeddings"])
    check_foreign_keys(tables, n["users"])
    info = {"rows": {k: v.num_rows for k, v in tables.items()},
            "near_dups_planted": planted, "knobs": dict(KNOBS)}
    return tables, info


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file, one row group, per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        t = tables[name]
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
