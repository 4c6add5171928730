"""The benchmark's workloads: inputs, one op, and the output check.

An op's results are pandas frames, materialized by ``toPandas()`` inside
the timed op. The check compares the last measured op's results with
DuckDB over the same generated files through ``tests.oracle.compare``,
and every other op's results with the checked ones.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.compute as pc

import gen

#: panel dates are drawn from the latest days with these weights,
#: latest first (a "today" panel).
RECENT_WEIGHTS = (0.5, 0.2, 0.1, 0.08, 0.06, 0.04, 0.02)


@dataclass
class Inputs:
    dir: str
    info: dict
    params: dict = field(default_factory=dict)


class _Frame:
    """What ``tests.oracle.compare`` reads from a Spark DataFrame: the
    rows as pandas. Wraps results already materialized by the op."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


def _recent_day(rng: np.random.Generator, ts) -> str:
    """A day that holds rows, drawn with most weight on the latest days."""
    days = sorted({str(d) for d in pc.unique(pc.cast(ts, "date32")).to_pylist()})
    recent = days[::-1][: len(RECENT_WEIGHTS)]
    w = np.array(RECENT_WEIGHTS[: len(recent)])
    day = recent[int(rng.choice(len(recent), p=w / w.sum()))]
    if not pc.any(pc.equal(pc.strftime(ts, "%Y-%m-%d"), day)).as_py():
        raise ValueError(f"sampled day {day} holds no rows")
    return day


@contextlib.contextmanager
def timed(calls: dict[str, float], name: str):
    """Record the wall seconds of one top-level call and its action."""
    t = time.perf_counter()
    try:
        yield
    finally:
        calls[name] = time.perf_counter() - t


def _same(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    from tests.oracle import normalize

    return normalize(a).equals(normalize(b))


class Workload:
    name = ""
    why = ""
    #: top-level calls whose stream drains the guard checks
    drains: tuple[str, ...] = ()

    def inputs(self, seed: int, work: str) -> Inputs:
        """Generate the tables for ``seed`` at the fixture's sizes and
        write them under ``work``."""
        tables, info = gen.generate(seed, gen.BASE_ROWS)
        d = os.path.join(work, "inputs", self.name)
        gen.write(tables, d)
        return Inputs(d, info, self.params(seed, tables))

    def params(self, seed: int, tables) -> dict:
        """Request parameters drawn from the generated tables."""
        return {}

    def op(self, spark, tracer, drains, inp: Inputs, scratch: str,
           calls: dict[str, float]) -> dict[str, pd.DataFrame]:
        """One op; fills ``calls`` with each top-level call's wall seconds."""
        raise NotImplementedError

    def oracles(self, inp: Inputs) -> dict[str, str]:
        raise NotImplementedError

    def check(self, inp: Inputs, results: list[dict[str, pd.DataFrame]]) -> list[tuple[int, str]]:
        """(op index, failure message) pairs; [] when every op is correct."""
        import duckdb

        from tests.oracle import compare, duck_connection

        con = duck_connection(inp.dir)
        failures = []
        last = results[-1]
        try:
            for name, sql in self.oracles(inp).items():
                try:
                    compare(_Frame(last[name]), con, sql, name=name)
                except (AssertionError, duckdb.Error) as e:
                    failures.append((len(results) - 1, f"{name}: {e}"))
        finally:
            con.close()
        for i, res in enumerate(results[:-1]):
            bad = [k for k in last if not _same(res[k], last[k])]
            if bad:
                failures.append((i, f"results differ from the checked op: {bad}"))
        return failures


class WarehouseRefresh(Workload):
    name = "warehouse_refresh"
    why = ("write path: ODS files through DWD, DWM, DWS and the T2/T3 keyed-state "
           "streams to the ADS hourly rollup")
    drains = ("build_warehouse", "daily_uv_stream", "jump_out_stream")

    def op(self, spark, tracer, drains, inp, scratch, calls):
        from flink_gmall_spark import pipeline
        from flink_gmall_spark.streaming import state

        sf, out = inp.dir, {}
        drains.current = "build_warehouse"
        with timed(calls, "build_warehouse"):
            tables = pipeline.build_warehouse(spark, sf, scratch)
        drains.current = "daily_uv_stream"
        with timed(calls, "daily_uv_stream"):
            out["t2_daily_uv"] = tracer.to_pandas(state.daily_uv_stream(spark, sf))
        drains.current = "jump_out_stream"
        with timed(calls, "jump_out_stream"):
            out["t3_jump_out"] = tracer.to_pandas(state.jump_out_stream(spark, sf))
        drains.current = "?"
        with timed(calls, "ads_hourly_from_stats"):
            out["ads_hourly"] = tracer.to_pandas(
                pipeline.ads_hourly_from_stats(spark, tables["visitor_stats"]))
        return out

    def oracles(self, inp):
        from flink_gmall_spark.pipeline import ORACLE_PIPELINE_E2E_HOURLY
        from flink_gmall_spark.plans.dwm import ORACLE_DAILY_UV
        from flink_gmall_spark.streaming.state import ORACLE_JUMP_OUT_STREAM

        return {
            "ads_hourly": ORACLE_PIPELINE_E2E_HOURLY,
            "t2_daily_uv": ORACLE_DAILY_UV,
            "t3_jump_out": ORACLE_JUMP_OUT_STREAM,
        }


#: corpus pass: (registry name, operator module, function name)
CORPUS_CALLS = (
    ("dedup_exact", "dedup", "exact_dedup"),
    ("dedup_minhash_lsh", "dedup", "minhash_lsh_pairs"),
    ("dedup_winnowing_pairs", "dedup", "winnowing_pairs"),
    ("text_bm25_topk", "retrieval", "bm25_topk"),
    ("text_phrase_search", "retrieval", "phrase_search"),
    ("curation_tfidf_top_terms", "curation", "tfidf_top_terms"),
    ("sim_ivf_topk", "ann", "ivf_topk"),
)


class DashboardCorpus(Workload):
    name = "dashboard_corpus"
    why = ("read path: a publisher panel of the 7 API endpoints on recent days, then "
           "dedup, retrieval, curation and ANN over a corpus with planted near-duplicates")

    def params(self, seed, tables):
        rng = np.random.default_rng([seed, 1])
        return {
            "order_day": _recent_day(rng, tables["orders"]["o_orderdate"]),
            "event_day": _recent_day(rng, tables["events"]["ts"]),
        }

    def op(self, spark, tracer, drains, inp, scratch, calls):
        from flink_gmall_spark.operators import ann, curation, dedup, retrieval
        from flink_gmall_spark.plans import api

        sf, od, ed = inp.dir, inp.params["order_day"], inp.params["event_day"]
        panel = {
            "api.gmv": lambda: api.gmv(spark, sf, od),
            "api.trademark": lambda: api.product_stats_by_trademark(spark, sf),
            "api.sku": lambda: api.product_stats_by_sku(spark, sf),
            "api.visitor_hour": lambda: api.visitor_stats_by_hour(spark, sf, ed),
            "api.visitor_new": lambda: api.visitor_stats_by_new_flag(spark, sf, ed),
            "api.keyword": lambda: api.keyword_stats(spark, sf),
            "api.province": lambda: api.province_stats(spark, sf, od),
        }
        mods = {"dedup": dedup, "retrieval": retrieval, "curation": curation, "ann": ann}
        for name, m, fn in CORPUS_CALLS:
            panel[name] = functools.partial(getattr(mods[m], fn), spark, sf)
        out = {}
        for name, call in panel.items():
            with timed(calls, name):
                out[name] = tracer.to_pandas(call())
        return out

    def oracles(self, inp):
        from flink_gmall_spark.plans.ads import ORACLE_TOP_BRANDS
        from flink_gmall_spark.registry import oracle_sql

        od, ed = inp.params["order_day"], inp.params["event_day"]
        sql = oracle_sql()
        return {
            "api.gmv": f"""
                SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gmv
                FROM orders WHERE strftime(o_orderdate, '%Y-%m-%d') = '{od}'
                HAVING count(*) > 0""",
            "api.trademark": f"SELECT * FROM ({ORACLE_TOP_BRANDS}) t "
                             "ORDER BY order_amount DESC, tm_name ASC LIMIT 5",
            "api.sku": """
                SELECT l.l_partkey AS sku_id,
                       any_value(p.p_name) AS sku_name,
                       any_value(p.p_brand) AS tm_name,
                       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS order_sku_num,
                       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
                       count(DISTINCT l.l_orderkey) AS order_ct,
                       CAST(count(*) AS BIGINT) AS item_ct
                FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
                GROUP BY 1 ORDER BY order_amount DESC, sku_id ASC LIMIT 10""",
            "api.visitor_hour": f"""
                SELECT CAST(hour(ts) AS BIGINT) AS hr,
                       CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
                       count(DISTINCT user_id) AS uv_ct
                FROM events WHERE strftime(ts, '%Y-%m-%d') = '{ed}'
                GROUP BY 1""",
            "api.visitor_new": f"""
                WITH flagged AS (
                    SELECT event_id, user_id, ts,
                           CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                                THEN '1' ELSE '0' END AS is_new
                    FROM events
                )
                SELECT is_new, CAST(count(*) AS BIGINT) AS pv_ct,
                       count(DISTINCT user_id) AS uv_ct
                FROM flagged WHERE strftime(ts, '%Y-%m-%d') = '{ed}'
                GROUP BY 1""",
            "api.keyword": """
                SELECT keyword, CAST(count(*) AS BIGINT) AS ct
                FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                                t -> t <> '')) AS keyword
                      FROM documents)
                GROUP BY 1 ORDER BY ct DESC, keyword ASC LIMIT 10""",
            "api.province": f"""
                SELECT n.n_name AS province_name,
                       count(DISTINCT o.o_orderkey) AS order_ct,
                       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
                FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN nation n ON c.c_nationkey = n.n_nationkey
                WHERE strftime(o.o_orderdate, '%Y-%m-%d') = '{od}'
                GROUP BY 1""",
            **{name: sql[name] for name, _, _ in CORPUS_CALLS},
        }


WORKLOADS = {w.name: w for w in (WarehouseRefresh(), DashboardCorpus())}


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
