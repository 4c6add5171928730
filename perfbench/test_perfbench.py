"""Tests of the benchmark's own parts; no Spark session is started.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import fit  # noqa: E402
import gen  # noqa: E402
import spec  # noqa: E402
from spans import Span, self_times  # noqa: E402

SMALL = {
    "customer": 300, "supplier": 20, "part": 400, "orders": 3000, "lineitem": 12000,
    "events": 2000, "users": 30, "documents": 120, "embeddings": 120,
}
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _digests(seed: int, out_dir: str) -> dict[str, str]:
    tables, _ = gen.generate(seed, SMALL)
    gen.write(tables, out_dir)
    out = {}
    for name in gen.TABLES:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_gives_identical_files(tmp_path):
    assert _digests(3, str(tmp_path / "a")) == _digests(3, str(tmp_path / "b"))


def test_other_seed_gives_other_files(tmp_path):
    a, b = _digests(3, str(tmp_path / "a")), _digests(4, str(tmp_path / "b"))
    # region and nation are fixed reference tables; every other table varies
    assert {n for n in gen.TABLES if a[n] != b[n]} == set(gen.TABLES) - {"region", "nation"}


def test_files_are_single_row_group_with_fixture_types(tmp_path):
    import pyarrow.parquet as pq

    tables, _ = gen.generate(5, SMALL)
    gen.write(tables, str(tmp_path))
    for name in gen.TABLES:
        f = pq.ParquetFile(str(tmp_path / f"{name}.parquet"))
        assert f.metadata.num_row_groups == 1
    schema = pq.read_schema(str(tmp_path / "events.parquet"))
    assert [(f.name, str(f.type)) for f in schema] == [
        ("event_id", "int64"), ("ts", "timestamp[us]"), ("user_id", "int64"),
        ("event_type", "string"), ("value", "double"), ("props", "string"),
    ]


def test_foreign_keys_resolve_and_a_dangling_key_is_caught():
    import pyarrow as pa

    tables, info = gen.generate(7, SMALL)
    gen.check_foreign_keys(tables, SMALL["users"])
    assert info["near_dups_planted"] > 0
    li = tables["lineitem"]
    bad = li.set_column(
        li.schema.get_field_index("l_orderkey"), "l_orderkey",
        pa.array([SMALL["orders"]] * li.num_rows, pa.int64()),
    )
    with pytest.raises(ValueError, match="l_orderkey"):
        gen.check_foreign_keys({**tables, "lineitem": bad}, SMALL["users"])


def test_events_are_in_strict_time_order():
    tables, _ = gen.generate(9, SMALL)
    ts = tables["events"]["ts"].cast("int64").to_numpy()
    assert (ts[1:] > ts[:-1]).all()


def test_metric_names_are_well_formed():
    names = [*spec.END_TO_END, *spec.per_layer()]
    assert len(spec.per_layer()) <= 128
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    units = [u for u, _ in spec.END_TO_END.values()] + [u for u, _, _ in spec.per_layer().values()]
    for unit in units:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit


def test_benchmark_json_and_notes_are_the_spec():
    for path, build in spec.FILES.items():
        with open(path) as f:
            assert json.load(f) == json.loads(spec.render(build)), path


def test_every_per_layer_metric_says_what_it_should_move():
    moves = spec.notes()["per_layer_moves"]
    assert set(moves) == set(spec.per_layer())
    assert all(moves.values())


def _span(i, parent, start, end, kind="build"):
    return Span(i, f"s{i}", "L", kind, 0, parent, start, end)


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),  # grandchild: charged to span 1, not span 0
        _span(3, 0, 6.0, 8.0),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(5000.0)
    assert own[1] == pytest.approx(2000.0)
    assert own[2] == pytest.approx(1000.0)
    assert own[3] == pytest.approx(2000.0)
    assert sum(own.values()) == pytest.approx(spans[0].ms)


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 5.0),
        _span(2, 0, 3.0, 7.0),  # overlaps span 1 (another thread)
        _span(3, 0, 9.0, 12.0),  # runs past its parent's end
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(3000.0)  # 10 - [1, 7] - [9, 10]


def test_generated_tables_read_back_as_the_fixture(tmp_path):
    """fit.py finds in generated tables the statistics it measured in the
    fixture (gen.FIXTURE_FIT), within sampling noise at the fixture's sizes."""
    tables, _ = gen.generate(11, gen.BASE_ROWS)
    gen.write(tables, str(tmp_path))
    got, want = fit.measure(str(tmp_path)), gen.FIXTURE_FIT
    for k in ("user_skew", "cust_skew", "token_skew"):
        assert got[k] == pytest.approx(want[k], abs=0.05), k
    for k in ("date_skew", "order_date_skew"):
        assert got[k] == pytest.approx(want[k], abs=0.1), k
    assert got["vocab"] == want["vocab"] and got["rare_tokens"] == want["rare_tokens"]
    assert got["doc_tokens"][0] == want["doc_tokens"][0]
    assert got["near_dup_share"] == pytest.approx(want["near_dup_share"], abs=0.02)
    for k, v in want["dup_edits"].items():
        assert got["dup_edits"].get(k, 0.0) == pytest.approx(v, abs=0.2), k
    for k, v in want["lang"].items():
        assert got["lang"][k] == pytest.approx(v, abs=0.06), k


def test_memory_sampler_without_a_jvm_reads_the_process_tree_only():
    """Untraced runs sample no heap (no py4j calls); the tree still counts."""
    import time

    from run import MemPeak

    mem = MemPeak(interval=0.01)
    mem.start()
    time.sleep(0.1)
    assert mem.stop() > 0
    assert mem.heap_peak == 0 and mem.at_peak
