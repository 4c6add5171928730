"""The benchmark's metric set, and the files built from it.

    python3 perfbench/spec.py      # rewrites BENCHMARK.json and perfbench/notes.json

``BENCHMARK.json`` holds only the keys the benchmark runner reads. What
it has no key for goes to ``perfbench/notes.json`` (:func:`notes`): which
end-to-end metric each per-layer metric should move and on which
workload, recorded before any optimization is measured, and the input
sizes and traffic knobs (the same for both workloads). ``test_perfbench.py`` keeps
both files equal to what this module builds.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import LAYERS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RUN_SECONDS = 1

#: name -> (unit, bound): the share of the parent's median by which the
#: metric may worsen before a change counts as a regression.
END_TO_END = {
    "setup_s": ("s", 0.25),
    "op_p50_s": ("s", 0.25),
    "peak_mem_mb": ("MB", 0.1),
}

#: layers whose results the benchmark materializes itself, so their
#: Catalyst phase times are read from the materialized DataFrame.
PLANNED_LAYERS = (
    "plans.api", "pipeline", "streaming.state",
    "operators.dedup", "operators.retrieval", "operators.curation", "operators.ann",
)

#: per-layer metric suffix -> (unit, better, what it should move where)
PER_LAYER_KINDS = {
    "build_ms": ("ms", "lower", "op_p50_s on dashboard_corpus most (small requests, "
                 "plan-building eager work), then on warehouse_refresh"),
    "exec_ms": ("ms", "lower", "op_p50_s on both workloads"),
    "one_task_share": ("ratio", "lower", "op_p50_s on dashboard_corpus (operators) and "
                       "warehouse_refresh; the publisher endpoints should not move"),
    "shuffle_bytes": ("B", "lower", "op_p50_s, with one_task_share"),
    "spill_bytes": ("B", "lower", "op_p50_s, with one_task_share"),
    "plan_ms": ("ms", "lower", "op_p50_s on dashboard_corpus (per-request fixed cost)"),
}
STREAM_KINDS = {
    "batches": ("count", "lower", "op_p50_s on warehouse_refresh only"),
    "batch_ms": ("ms", "lower", "op_p50_s on warehouse_refresh only"),
    "state_rows": ("count", "lower", "no end-to-end metric: state lives in the JVM heap, "
                   "which peak_mem_mb counts whole (2 GiB, pre-touched); it moves "
                   "warehouse_refresh.heap_after_gc_mb"),
    "source_scans": ("count", "lower", "op_p50_s on warehouse_refresh only"),
}
WORKLOAD_KINDS = {
    "core_ratio": ("ratio", "higher", "op_p50_s of that workload: a higher ratio "
                   "means the op uses the cores it is given"),
    "trace_overhead_ms": ("ms", "lower", "none: the cost of tracing, kept small"),
    "heap_after_gc_mb": ("MB", "lower", "no end-to-end metric: the peak heap in use after a "
                         "collection, which peak_mem_mb cannot see below the 2 GiB heap"),
}


def per_layer() -> dict[str, tuple[str, str, str]]:
    """Every per-layer metric name -> (unit, better, what it should move)."""
    out: dict[str, tuple[str, str, str]] = {}
    for layer in LAYERS:
        for kind in ("build_ms", "exec_ms", "one_task_share", "shuffle_bytes", "spill_bytes"):
            out[f"{layer}.{kind}"] = PER_LAYER_KINDS[kind]
    for layer in PLANNED_LAYERS:
        out[f"{layer}.plan_ms"] = PER_LAYER_KINDS["plan_ms"]
    for w in WORKLOADS.values():
        for d in w.drains:
            for kind, v in STREAM_KINDS.items():
                out[f"stream.{d}.{kind}"] = v
    for w in WORKLOADS:
        for kind, v in WORKLOAD_KINDS.items():
            out[f"{w}.{kind}"] = v
    return out


def spec() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [
            {"name": n, "unit": u, "better": "lower", "bound": b}
            for n, (u, b) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b, _) in per_layer().items()
        ],
    }


def notes() -> dict:
    return {
        "inputs": {"workloads": list(WORKLOADS), "sizes": gen.BASE_ROWS, "knobs": gen.KNOBS,
                   "dup_edits": gen.DUP_EDITS, "vocab": len(gen.VOCAB),
                   "fixture_fit": gen.FIXTURE_FIT},
        "per_layer_moves": {n: moves for n, (_, _, moves) in per_layer().items()},
    }


FILES = {os.path.join(os.path.dirname(HERE), "BENCHMARK.json"): spec,
         os.path.join(HERE, "notes.json"): notes}


def render(build) -> str:
    return json.dumps(build(), indent=2) + "\n"


if __name__ == "__main__":
    for path, build in FILES.items():
        with open(path, "w") as f:
            f.write(render(build))
