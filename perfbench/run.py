"""Seeded end-to-end benchmark of the warehouse chain and the corpus operators.

    python3 perfbench/run.py --workload warehouse_refresh --seed 7 --seconds 1 --trace 0

Run from the repository root (any checkout of it). One run:

1. generates the workload's inputs from ``--seed`` (``gen.py``; not timed);
2. starts a ``local[nproc]`` session with the package's own ``get_spark``:
   ``setup_s`` is the time until it is ready;
3. runs ops until ``--seconds`` have passed (at least one; the first is
   the first in the fresh session, warm-up included) and reports their
   median wall time as ``op_p50_s``, and the peak resident memory of the
   process tree (Spark JVM plus Python processes) as ``peak_mem_mb``;
4. with ``--trace 1``, also runs one traced op (per-layer spans, stages,
   stream progress), the same op untraced (tracing overhead) and one at
   ``local[1]`` (core ratio), and reports the per-layer metrics instead of
   the end-to-end ones;
5. checks the last op's results against DuckDB (``tests/oracle.py``)
   and every other op's results against those.

Everything is written under ``.perfbench_work/`` (scratch, removed at the
end) and ``.perfbench_out/`` (one JSON record per run, with spans, host
stamps and the generator's knobs). The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. The exit
code is 1 when any output check or op failed, 2 when the package is not
there to run, and 3 when the run overran ``DEADLINE_S``.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _tree() -> dict[int, int]:
    """This process and all its descendants (Spark JVM, Python workers),
    each mapped to its parent."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, todo = {}, [os.getpid()]
    while todo:
        p = todo.pop()
        tree[p] = parent.get(p, 0)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children
    included (user + system; hypervisor steal is not counted)."""
    total = 0
    for p in _tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return total / _TICK


class MemPeak:
    """Peak resident memory of the process tree, sampled every
    ``interval`` seconds: the sum of each Python process's proportional
    set size, so pages shared after a fork (Python workers forked from
    their daemon) count once, and the Spark JVM's resident set size.
    ``at_peak`` splits the peak by process name.

    The JVM is read from ``statm``, not ``smaps_rollup``: the JVM shares
    no pages with the other processes beyond a few libraries, so its RSS
    is its PSS, and ``smaps_rollup`` walks every page table of the 2 GiB
    heap while holding the JVM's memory-map lock. Read every 0.2 s, that
    walk took 60-70 ms and stalled the JVM enough to lengthen the
    measured op by 8 % (five interleaved pairs of ``dashboard_corpus``
    runs on a 4-core host, every pair).

    The JVM heap is committed and touched at start (:func:`_env`), so the
    peak does not see what the program holds inside it. With ``jvm``
    given (traced runs only: each read is several py4j calls), that is
    sampled apart, as the heap in use after the latest garbage collection
    (what survived it: state stores, broadcast tables, collected rows,
    and what was promoted and not yet collected); ``heap_peak`` is its
    maximum."""

    def __init__(self, jvm=None, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self.heap_peak = 0
        self.at_peak: dict[str, int] = {}
        self._gcs = []
        if jvm is not None:
            self._gcs = list(jvm.java.lang.management.ManagementFactory
                             .getGarbageCollectorMXBeans())
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _heap_after_gc(self) -> int:
        """Heap in use after the latest collection (0 before the first)."""
        latest, used = -1, 0
        for gc in self._gcs:
            info = gc.getLastGcInfo()
            if info is not None and info.getEndTime() > latest:
                latest = info.getEndTime()
                used = sum(u.getUsed() for u in info.getMemoryUsageAfterGc().values())
        return used

    @staticmethod
    def _sample() -> dict[str, int]:
        tree = _tree()
        statm: dict[int, str] = {}
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    statm[p] = f.read()
            except OSError:
                continue
        by_name: dict[str, int] = {}
        for p, line in statm.items():
            # A child started with vfork shares its parent's memory until
            # it execs (the JVM launches helper commands that way), so its
            # counters are its parent's: count that memory once, there.
            # Without this a run read 5.2 GB, the JVM's 2.5 GB twice.
            if statm.get(tree[p]) == line:
                continue
            try:
                with open(f"/proc/{p}/comm") as f:
                    name = f.read().strip()
                if name == "java":
                    kb = int(line.split()[1]) * _PAGE_KB
                else:
                    with open(f"/proc/{p}/smaps_rollup") as f:
                        kb = next(int(row.split()[1]) for row in f if row.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                continue
            by_name[name] = by_name.get(name, 0) + kb * 1024
        return by_name

    def _run(self) -> None:
        while not self._stop.is_set():
            sample = self._sample()
            total = sum(sample.values())
            if total > self.peak:
                self.peak, self.at_peak = total, sample
            if self._gcs:
                try:
                    self.heap_peak = max(self.heap_peak, self._heap_after_gc())
                except Exception:  # the gateway is closing
                    break
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


def _env(ncpu: int) -> None:
    """Keep every file the run writes inside the checkout, and put the
    package on the Python workers' path (the pandas-UDF state streams
    import it there)."""
    tmp = os.path.join(WORK, "tmp")
    jtmp = os.path.join(WORK, "jvm_tmp")
    for d in (tmp, jtmp):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # The heap is committed and touched at start (-Xms = -Xmx, pre-touch):
    # how far G1 grows a lazily committed heap varies from run to run, and
    # so does the heap in use, whether read between collections or after
    # them (its peak after collections spread by 11 % over ten seeds of
    # dashboard_corpus on a 4-core host). With the heap fixed, peak_mem_mb moves only with
    # what the program holds outside it; MemPeak reports the heap apart.
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{HEAP} -XX:+AlwaysPreTouch" pyspark-shell')
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


HEAP = "2g"


def _stop_spark(spark) -> None:
    """Stop the session and wait for the Spark JVM (and with it the
    Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


#: a run that has not finished by then is stopped: it exits 3 and prints
#: no result, inside the 180 s a run may take.
DEADLINE_S = 170.0


def _abort() -> None:
    print(f"perfbench: run exceeded {DEADLINE_S:.0f} s; stopping", file=sys.stderr)
    faulthandler.dump_traceback(file=sys.stderr, all_threads=True)
    for p in _tree().keys() - {os.getpid()}:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    os._exit(3)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "flink_gmall_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle.py")
    ):
        print(f"perfbench: no flink_gmall_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    sys.path[:0] = [HERE, ROOT]
    import spec
    from workloads import WORKLOADS, clean

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    watchdog = threading.Timer(DEADLINE_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    clean(WORK)
    ncpu = len(os.sched_getaffinity(0))  # what `nproc` reports
    _env(ncpu)

    from bench import _host_fingerprint, _host_snapshot, _steal_probe

    steal: dict = {}
    probe = threading.Thread(target=lambda: steal.update(pre=_steal_probe(3.0)), daemon=True)
    probe.start()
    host_before = _host_snapshot()
    wall0 = time.perf_counter()

    t = time.perf_counter()
    inp = wl.inputs(args.seed, WORK)
    gen_s = time.perf_counter() - t

    from flink_gmall_spark.session import get_spark
    from spans import Drains, Tracer, completed_stages, max_stage_id

    tracer, drains = Tracer(), Drains()
    results: list[dict] = []
    op_times: list[float] = []
    op_cpu: list[float] = []
    op_calls: list[tuple[str, dict]] = []
    errors: list[str] = []
    attempted = 0
    n_events = inp.info["rows"]["events"]

    def run_op(spark, tag: str) -> float | None:
        nonlocal attempted
        attempted += 1
        scratch = os.path.join(WORK, "ops", f"{tag}_{attempted}")
        drains.reset()
        span = tracer.op_span(f"{wl.name}.op")
        calls: dict[str, float] = {}
        op_calls.append((tag, calls))
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            res = wl.op(spark, tracer, drains, inp, scratch, calls)
        except Exception:
            errors.append(f"{tag} op {attempted}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            tracer.close(span)
        dt = time.perf_counter() - t0
        op_cpu.append(tree_cpu_s() - c0)
        # drain guard: every stream ran at least one batch and read every event
        try:
            drains.settle()
            summ = drains.summary()
            for d in wl.drains:
                got = summ.get(d)
                # a plan that scans the source k times reads k * events rows
                if (not got or got["batches"] < 1 or got["input_rows"] < n_events
                        or got["input_rows"] % n_events):
                    raise AssertionError(
                        f"drain {d}: {got}; every source scan must read all {n_events} events")
        except (AssertionError, TimeoutError) as e:
            errors.append(f"{tag} op {attempted}: {e}")
            return None
        results.append(res)
        clean(scratch)
        return dt

    t_session = time.perf_counter()
    spark = get_spark("perfbench", str(ncpu))
    spark.sparkContext.setLogLevel("ERROR")
    drains.install(spark)
    setup_s = time.perf_counter() - t_session
    mem = MemPeak(spark._jvm if args.trace else None)
    mem.start()

    record: dict = {
        "workload": wl.name, "why": wl.why, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "ncpu": ncpu, "inputs": inp.info, "params": inp.params,
        "gen_s": gen_s,
    }
    # The window's first op is the first in a fresh session: a refresh or
    # a pass run as its own application pays the JVM and Python-worker
    # warm-up every time, so the warm-up is part of the measured op.
    t_measure = time.perf_counter()
    while not op_times or time.perf_counter() - t_measure < args.seconds:
        dt = run_op(spark, "measure")
        if dt is None:
            break
        op_times.append(dt)
    peak_mem_mb = mem.stop()

    per_layer: dict[str, float] = {}
    if args.trace and op_times:
        # the traced op, then the same op untraced: the difference is the
        # tracing overhead (an upper bound, as the later op is warmer)
        first_stage = max_stage_id(spark)
        tracer.install()
        tracer.op = 1
        traced = run_op(spark, "traced")
        tracer.uninstall()
        stages = completed_stages(spark, first_stage)
        traced_drains = drains.summary()
        warm = run_op(spark, "warm")
        if traced is not None and warm is not None:
            tracer.attach_stages(stages, 1)
            per_layer.update(tracer.layer_metrics(1))
            for d, got in traced_drains.items():
                for k in ("batches", "batch_ms", "state_rows"):
                    per_layer[f"stream.{d}.{k}"] = float(got[k])
                per_layer[f"stream.{d}.source_scans"] = got["input_rows"] / n_events
            per_layer[f"{wl.name}.trace_overhead_ms"] = (traced - warm) * 1000.0
            per_layer[f"{wl.name}.heap_after_gc_mb"] = mem.heap_peak / 2**20
            record.update(warm_op_s=warm, traced_op_s=traced, spans=_span_report(tracer))
            # same JVM, new context with one core; shuffle partitions unchanged
            drains.uninstall(spark)
            spark.stop()
            spark = get_spark("perfbench", "1")
            spark.sparkContext.setLogLevel("ERROR")
            drains.install(spark)
            one = run_op(spark, "local1")
            if one is not None:
                per_layer[f"{wl.name}.core_ratio"] = one / warm
                record["local1_op_s"] = one

    drains.uninstall(spark)
    _stop_spark(spark)

    checked = wl.check(inp, results) if results else []
    failures = errors + [f"checked op {i}: {msg}" for i, msg in checked]
    failed = len(errors) + len({i for i, _ in checked})
    if not results:
        failures.append("no op completed")
    correct = not failures

    metrics: dict[str, dict] = {}
    if args.trace:
        for name, (unit, _, _) in spec.per_layer().items():
            metrics[name] = {"value": float(per_layer.get(name, 0.0)), "unit": unit}
    elif op_times:
        values = {"setup_s": setup_s, "op_p50_s": statistics.median(op_times),
                  "peak_mem_mb": peak_mem_mb}
        metrics = {k: {"value": values[k], "unit": u} for k, (u, _) in spec.END_TO_END.items()}

    record.update({
        "setup_s": setup_s, "op_s": op_times, "op_cpu_s": op_cpu,
        "op_calls_s": op_calls,
        "mem_at_peak_mb": {k: v / 2**20 for k, v in mem.at_peak.items()},
        "peak_mem_mb": peak_mem_mb, "heap_after_gc_mb": mem.heap_peak / 2**20,
        "attempted": attempted, "failed": failed, "failures": failures,
        "failed_frac": failed / max(attempted, 1), "metrics": metrics,
        "host": {**_host_fingerprint(host_before, _host_snapshot(), time.perf_counter() - wall0),
                 "steal_pre": steal.get("pre")},
    })
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{wl.name}_seed{args.seed}_trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    clean(WORK)

    for msg in failures:
        print(f"FAIL {msg}", file=sys.stderr)
    print(f"workload {wl.name} seed {args.seed}: {len(op_times)} measured ops, "
          f"inputs generated in {gen_s:.2f} s, failed_frac {record['failed_frac']:.3f}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct and metrics else 1


def _span_report(tracer) -> list[dict]:
    from spans import self_times

    own = self_times(tracer.spans)
    return [{"id": s.id, "name": s.name, "layer": s.layer, "kind": s.kind, "op": s.op,
             "parent": s.parent, "start": s.start, "end": s.end, "ms": s.ms,
             "self_ms": own[s.id], "plan_ms": s.plan_ms, "stages": len(s.stages)}
            for s in tracer.spans]


if __name__ == "__main__":
    sys.exit(main())
