#!/usr/bin/env python3
"""ytspark benchmark: one workload, one seed, every metric by name.

Usage:
    python3 perfbench/run.py --workload elt_ticks --seed 1 --seconds 20 --trace 0

One driver process runs a closed loop with one client: each op starts
after the previous one ends. Spark runs ``local[n]`` with ``n <= nproc``
(``SPARK_GRAFT_CPUS``). Every run is hermetic: inputs, bronze, streaming
checkpoints, the warehouse, event logs, ``TMPDIR`` and the working
directory live in a per-run directory under ``.perfbench/runs/`` that
is removed at exit. A receipt (host facts, seed, the ordered op list,
every op's latency and verdict, all metrics) is kept under
``.perfbench/receipts/``.

Phases of a run:

1. set-up, repeated five times in one JVM: start (or restart) the
   session and import the query registry. ``setup_s`` is the median
   repetition; the first one also launches the JVM.
2. warm-up ops, untimed (``elt_ticks`` only; the curation batch is cold).
3. the timed window: whole passes over the workload's op list until
   ``--seconds`` have passed (at least one pass). Each op's output is
   verified after its clock stops; a raise or a wrong output counts as
   failed and the run goes on.

With ``--trace 1`` the session also writes a Spark event log, every
module call is recorded as a span, and the per-layer metrics are
printed instead of the end-to-end ones (op-level ones per pass).
``trace.overhead_ratio`` compares a probe op timed in untraced, traced
and untraced blocks of the same process. ``perfbench/WORKLOADS.md``
defines every metric.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

START = time.perf_counter()
sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_geomean_s": "s",
    "stored_mb": "MB",
}
CPUS = min(4, os.cpu_count() or 1)
SETUP_REPS = 5
FAMILIES = ("dedup", "similarity", "graph", "search", "streaming")
SPAN_LAYERS = (
    "session.load_tables", "queries.build", "queries.force", "plans.finish",
    "plans.release", "ingest.ingest", "staging.views", "facts.build_mart",
    "analytics.refresh", "checks.run", "storage.append", "storage.read",
    "storage.compact",
)
PER_LAYER = {
    "session.get_spark_s": "s",
    "queries.registry_s": "s",
    "warmup_s": "s",
    **{f"{n}_s": "s" for n in SPAN_LAYERS},
    "session.load_tables_calls": "count",
    "plans.finish_calls": "count",
    **{f"family.{f}_s": "s" for f in FAMILIES},
    "storage.files": "count",
    "storage.bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.stage_span_s": "s",
    "spark.task_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.driver_gap_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.plan_chars": "count",
    "memory.jvm_peak_rss_mb": "MB",
    "memory.python_peak_rss_mb": "MB",
    "memory.jvm_heap_committed_mb": "MB",
    "trace.overhead_ratio": "1",
}


def steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def reset_hwm(pid: int | str) -> None:
    """Reset a process's peak RSS (``VmHWM``) to its current RSS."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Harness:
    """One run's Spark session, tracer and per-run directories."""

    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.event_dir = os.path.join(run_dir, "events")
        self.tmp_dir = os.path.join(run_dir, "tmp")
        self.spark = None
        self.registry = None
        self.jvm_pid = None
        self.catalyst: dict[str, dict] = {}
        self.removed_bytes = 0  # program dirs under TMPDIR, sized as removed
        self.hook_s = 0.0  # time spent sizing them, kept off the op clock
        from tracing import Tracer

        self.tracer = Tracer(False)

    # -- environment -------------------------------------------------
    def hermetic_env(self) -> None:
        tmp = self.tmp_dir
        for d in (tmp, self.data_dir, self.event_dir):
            os.makedirs(d, exist_ok=True)
        os.chdir(self.run_dir)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        # every JVM (the launcher too): no /tmp/hsperfdata; JVM temp files
        # (native libraries) apart from the program's TMPDIR
        jtmp = os.path.join(self.run_dir, "jvm-tmp")
        os.makedirs(jtmp, exist_ok=True)
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}"
        self.base_conf = ";".join([
            f"spark.local.dir={os.path.join(self.run_dir, 'local')}",
            f"spark.sql.warehouse.dir={os.path.join(self.run_dir, 'spark-warehouse')}",
            "spark.ui.showConsoleProgress=false",
        ])
        sys.addaudithook(self._audit)

    def _audit(self, event: str, args: tuple) -> None:
        """Size every directory the program removes under ``TMPDIR``
        (stores, stream stages) just before ``shutil.rmtree`` runs."""
        if event != "shutil.rmtree":
            return
        path = args[0]
        if isinstance(path, str) and path.startswith(self.tmp_dir + os.sep):
            from workloads import dir_bytes

            t = time.perf_counter()
            try:
                self.removed_bytes += dir_bytes(path)[1]
            except OSError:
                pass
            self.hook_s += time.perf_counter() - t

    # -- session -----------------------------------------------------
    def start_session(self, traced: bool) -> tuple[float, float]:
        """(Re)start the session and import the registry with fresh
        modules; return (get_spark seconds, registry seconds)."""
        if self.spark is not None:
            self.spark.stop()
        for mod in [m for m in sys.modules if m == "ytspark" or m.startswith("ytspark.")]:
            del sys.modules[mod]
        self.tracer.enabled = traced
        conf = [self.base_conf]
        if traced:
            conf += [
                "spark.eventLog.enabled=true",
                "spark.eventLog.compress=false",
                f"spark.eventLog.dir={self.event_dir}",
            ]
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)
        t0 = time.perf_counter()
        import ytspark.session

        self.spark = ytspark.session.get_spark("perfbench")
        t1 = time.perf_counter()
        if traced:
            # query modules bind these names at import: wrap first
            import ytspark.plans.scale

            self.tracer.wrap(ytspark.session, "load_tables", "session.load_tables")
            self.tracer.wrap(ytspark.plans.scale, "finish", "plans.finish")
        from ytspark.queries import registry

        self.registry = registry()
        t2 = time.perf_counter()
        self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        return t1 - t0, t2 - t1

    def release(self) -> None:
        from ytspark.plans.scale import release_all_cached

        with self.tracer.span("plans.release"):
            release_all_cached(self.spark)

    def stop_streams(self) -> None:
        for q in self.spark.streams.active:
            try:
                q.stop()
            except Exception:  # noqa: BLE001
                pass

    def note_catalyst(self, df) -> None:
        if self.tracer.enabled and self.tracer.op is not None:
            from tracing import catalyst_phases

            self.catalyst[self.tracer.op] = catalyst_phases(df)

    def shutdown(self) -> None:
        """Stop the session and wait for the gateway JVM to exit, also
        when a signal arrived before the session was up."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()

    # -- ops ---------------------------------------------------------
    def run_op(self, op, op_id: str) -> dict:
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, op.name)
        self.tracer.op = op_id
        err, out = None, None
        w0 = time.time()
        h0 = self.hook_s
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                out = op.run()
        except Exception as e:  # noqa: BLE001
            err = f"raised {type(e).__name__}: {str(e)[:200]}"
        latency = time.perf_counter() - t0 - (self.hook_s - h0)
        w1 = time.time()
        if err is not None:
            self.stop_streams()
        else:
            try:
                err = op.check(out)
            except Exception as e:  # noqa: BLE001
                err = f"check raised {type(e).__name__}: {str(e)[:200]}"
        if op.family:  # a registry query: sweep its cached blocks, off the clock
            self.release()
        self.tracer.op = None
        sc.setJobGroup("perfbench", "between ops")
        return {"id": op_id, "name": op.name, "family": op.family, "latency_s": latency,
                "window": [w0, w1], "ok": err is None, "error": err}


def per_layer(h: Harness, wl, ops: list[dict], passes: int, setup: list[tuple],
              warmup_s: float, overhead: float) -> dict[str, float]:
    """Per-layer metrics; the op-level ones are per pass (run sum over
    ``passes``), so runs that fit different numbers of passes compare."""
    from tracing import read_event_log, spark_by_op

    ids = {o["id"] for o in ops}
    secs, calls = h.tracer.self_times(ids)
    m = {k: 0.0 for k in PER_LAYER}
    for n in SPAN_LAYERS:
        m[f"{n}_s"] = secs.get(n, 0.0)
    m["session.load_tables_calls"] = calls.get("session.load_tables", 0)
    m["plans.finish_calls"] = calls.get("plans.finish", 0)
    for o in ops:
        if o["family"] in FAMILIES:
            m[f"family.{o['family']}_s"] += o["latency_s"]
    by_op = spark_by_op(read_event_log(h.event_dir), {o["id"]: tuple(o["window"]) for o in ops})
    for o in ops:
        rec = by_op[o["id"]]
        o["spark"] = rec
        for k in ("jobs", "stages", "tasks", "stage_span_s", "task_s",
                  "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.{k}"] += rec[k]
        m["spark.driver_gap_s"] += max(0.0, o["latency_s"] - rec["stage_span_s"])
        cat = h.catalyst.get(o["id"])
        if cat:
            o["catalyst"] = cat
            for k in ("analysis", "optimization", "planning"):
                m[f"catalyst.{k}_s"] += cat[k]
            m["catalyst.plan_chars"] += cat["plan_chars"]
    m = {k: v / passes for k, v in m.items()}
    m["session.get_spark_s"] = statistics.median(s[0] for s in setup)
    m["queries.registry_s"] = statistics.median(s[1] for s in setup)
    m["warmup_s"] = warmup_s
    m.update(wl.layer_extras())
    m["trace.overhead_ratio"] = overhead
    return m


def host_facts(h: Harness) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpus": CPUS,
        "pyspark": pyspark.__version__,
        "java": h.spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "loadavg_start": list(os.getloadavg()),
        "steal_s_start": steal_s(),
    }


def run(args, run_dir: str) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    h = Harness(args, run_dir)
    h.hermetic_env()
    wl = WORKLOADS[args.workload](h)
    receipt: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                     "trace": args.trace}
    try:
        wl.prepare()
        setup = [h.start_session(traced=False) for _ in range(SETUP_REPS)]
        receipt["host"] = host_facts(h)
        t0 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t0
        overhead = 0.0
        if args.trace:
            # untraced, traced, untraced blocks of a probe op, each block
            # after a session restart, so JIT warm-up and restart cost
            # fall on both sides alike
            def block(traced: bool) -> float:
                h.start_session(traced)
                times = []
                for _ in range(2):
                    t = time.perf_counter()
                    wl.probe()
                    times.append(time.perf_counter() - t)
                return min(times)

            plain1, traced, plain2 = block(False), block(True), block(False)
            overhead = traced / ((plain1 + plain2) / 2)
            h.start_session(traced=True)
        ops: list[dict] = []
        passes = 0
        # peak RSS and removed store bytes are taken over the window only;
        # the heap is the program's default (growable), not pre-sized
        reset_hwm(h.jvm_pid)
        reset_hwm("self")
        h.removed_bytes = 0
        t_start = time.perf_counter()
        while True:
            for i, op in enumerate(wl.pass_ops(passes)):
                ops.append(h.run_op(op, f"p{passes}.{i}.{op.name}"))
            wl.after_pass(passes)
            passes += 1
            if time.perf_counter() - t_start >= args.seconds:
                break
        heap = h.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
            .getHeapMemoryUsage().getCommitted()
        memory = {
            "memory.jvm_peak_rss_mb": vm_hwm_kb(h.jvm_pid) / 1024.0,
            "memory.python_peak_rss_mb": vm_hwm_kb("self") / 1024.0,
            "memory.jvm_heap_committed_mb": heap / 2**20,
        }
        stored = wl.stored_bytes(passes)
        injected = [h.run_op(op, f"inject.{i}") for i, op in enumerate(wl.injected_ops())] \
            if args.inject else []
    finally:
        h.shutdown()
    lat = [o["latency_s"] for o in ops]
    metrics = {
        "setup_s": statistics.median(a + b for a, b in setup),
        "wall_s": sum(lat) / passes,
        "op_geomean_s": statistics.geometric_mean(lat),
        "stored_mb": stored / 2**20,
    }
    all_ops = ops + injected
    failed = sum(not o["ok"] for o in all_ops)
    receipt["host"]["loadavg_end"] = list(os.getloadavg())
    receipt["host"]["steal_s"] = steal_s() - receipt["host"].pop("steal_s_start")
    receipt.update({
        "setup_reps": [{"get_spark_s": a, "registry_s": b} for a, b in setup],
        "warmup_s": warmup_s,
        "passes": passes,
        "memory": memory,
        "inputs": wl.describe(),
        "end_to_end": metrics,
        "failed_ratio": failed / len(all_ops),
    })
    if args.trace:
        receipt["per_layer"] = per_layer(h, wl, ops, passes, setup, warmup_s, overhead)
        receipt["per_layer"].update(memory)
        receipt["spans"] = h.tracer.spans
    receipt["ops"] = all_ops
    chosen = receipt["per_layer"] if args.trace else metrics
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }
    return result, receipt


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="curation_batch scale factor")
    ap.add_argument("--channels", type=int, default=7, help="elt_ticks channels per tick")
    ap.add_argument("--cycle", type=int, default=5, help="elt_ticks: compact every N-th tick")
    ap.add_argument("--inject", action="store_true",
                    help="append one raising and one wrong-result op (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ytspark", "session.py")):
        print(f"perfbench: no ytspark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runs = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    cwd = os.getcwd()
    try:
        result, receipt = run(args, run_dir)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    receipt["process_s"] = time.perf_counter() - START
    out = os.path.join(ROOT, ".perfbench", "receipts")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}")
    with open(stem + ".json", "w") as fh:
        json.dump(receipt, fh, indent=1, default=str)
    print(f"receipt: {os.path.relpath(stem + '.json', ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
