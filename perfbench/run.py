"""The ER engine's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload er_grid --seed 1 --seconds 10 --trace 0

Run from the repository root. The command generates the workload's inputs
from ``--seed``, starts a Spark session sized for the host, runs a declared
warm-up, then runs the workload's operation in a closed loop for
``--seconds`` (at least once) and checks each operation's outputs against
their oracles outside its timed window. The last stdout line is one JSON
object:

- ``--trace 0``: the end-to-end metrics (see ``perfbench/README.md``);
- ``--trace 1``: the per-layer metrics of one extra, traced operation
  that follows the timed ones, plus the tracing overhead. The spans are
  written to ``.perfbench/traces/``.

The line before it carries the host (cores, RAM, heap, Spark version),
input properties, set-up phases, output digests, peak memory and
``error_rate``. The exit code is 0
only when every correctness gate passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "neural_entity_matching_spark", "__init__.py")


def host_conf(work: str) -> tuple[int, float, str, dict]:
    """Cores, RAM (GiB), driver heap and Spark conf for this host.

    Local mode runs every task in the driver JVM, so the heap is a share of
    physical RAM (a fifth, between 1g and 4g) rather than the library's
    48g default, which this size of host cannot back. Shuffle and spill
    files stay inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap = f"{min(4, max(1, int(ram_gib / 5)))}g"
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": heap,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage back from the status
        # store; keep them all
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    return cores, ram_gib, heap, conf


class MemSampler:
    """Peak resident memory of the program while the timed operations run,
    sampled every 200 ms on a daemon thread: the driver JVM's RSS plus the
    proportional set size of each of its descendants (the Python workers,
    forked from one daemon; plain RSS would count their shared pages once
    per worker).

    The heap is not committed or touched up front, so the JVM's RSS is
    the heap it has touched so far plus its native memory: caching,
    broadcasting or buffering more raises it. For diagnosis, the sample
    at the peak also records the JVM's used heap and non-heap memory and
    the peak of Spark's managed (execution + storage) memory."""

    def __init__(self, spark, pid: int):
        sc = spark.sparkContext
        mf = sc._jvm.java.lang.management.ManagementFactory
        self.mx, self.mm = mf.getMemoryMXBean(), sc._jsc.sc().env().memoryManager()
        self.pid, self.peak, self.at_peak, self.managed = pid, 0, {}, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _descendants(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], list(kids.get(self.pid, []))
        while todo:
            p = todo.pop()
            out.append(p)
            todo += kids.get(p, [])
        return out

    def _sample(self) -> tuple[int, int, int]:
        """(JVM RSS, workers' PSS, worker count), in bytes."""
        jvm = workers = 0
        try:
            with open(f"/proc/{self.pid}/statm") as f:
                jvm = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
        kids = self._descendants()
        for p in kids:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            workers += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return jvm, workers, len(kids)

    def _run(self) -> None:
        while not self._stop.is_set():
            jvm, workers, n = self._sample()
            self.managed = max(self.managed, self.mm.storageMemoryUsed()
                               + self.mm.executionMemoryUsed())
            if jvm + workers > self.peak:
                self.peak = jvm + workers
                self.at_peak = {
                    "jvm_rss_mb": round(jvm / 2**20),
                    "jvm_heap_used_mb": round(
                        self.mx.getHeapMemoryUsage().getUsed() / 2**20),
                    "jvm_non_heap_used_mb": round(
                        self.mx.getNonHeapMemoryUsage().getUsed() / 2**20),
                    "workers_pss_mb": round(workers / 2**20),
                    "worker_processes": n}
            self._stop.wait(0.2)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.at_peak["spark_managed_peak_mb"] = round(self.managed / 2**20)


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; the
    maximum when there are too few samples for one."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], f"max of {n}"
    return s[n - 11], f"p{100 * (n - 10) / n:.1f} of {n}"


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(PACKAGE):
        print(f"perfbench: the engine package is missing under {ROOT}; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores, ram_gib, heap, conf = host_conf(work)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": conf["spark.local.dir"],
    })

    import pyspark

    from neural_entity_matching_spark.session import get_spark

    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=conf)
    jvm = spark.sparkContext._gateway.proc
    try:
        return run(args, spark, jvm, work, t_setup, {
            "cores": cores, "ram_gib": round(ram_gib, 1),
            "driver_heap": heap, "spark": pyspark.__version__,
        })
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)


def traced_op(wl, tr, i: int):
    wl.patch(tr)
    try:
        op = wl.traced_op(tr, i)
    finally:
        tr.unpatch()
    tr.attach_jobs()
    return op


def run(args, spark, jvm, work: str, t_setup: float, host: dict) -> int:
    from perfbench import trace as trace_mod
    from perfbench.workloads import WORKLOADS

    t_session = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, args.seed, work)
    wl.generate()
    t_generated = time.perf_counter()
    wl.warmup()
    setup_s = time.perf_counter() - t_setup
    phases = {"session_s": round(t_session - t_setup, 2),
              "generate_s": round(t_generated - t_session, 2),
              "warmup_s": round(setup_s - (t_generated - t_setup), 2)}

    ops, errors, failed = [], [], 0
    with MemSampler(spark, jvm.pid) as rss:
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < args.seconds:
            try:
                ops.append(wl.op(len(ops)))
            except Exception as e:  # a failed operation is a result
                errors.append(f"op {len(ops)}: {type(e).__name__}: {e}")
                failed += 1
                break
    attempted = sum(o.units for o in ops) + failed

    traced = tr = None
    if args.trace and not errors:
        # one traced operation under Spark's perf UDF profiler: the spans
        # give the layer times, jobs and bytes, the profiler *.udf_s. A
        # second operation, profiled apart from the spans, read -10% to
        # +12% against the traced one, within the host's run-to-run noise,
        # and cost a run 15-25 s.
        tr = trace_mod.Tracer(spark)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            traced = traced_op(wl, tr, len(ops))
        finally:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        ops.append(traced)
        attempted += traced.units

    for k, o in enumerate(ops):
        if o.errors:
            errors += [f"op {k}: {e}" for e in o.errors]
            failed += o.units
    digests = sorted({o.digest for o in ops})
    if len(digests) > 1:
        errors.append(f"output digests differ across operations: {digests}")
        failed = max(failed, sum(o.units for o in ops
                                 if o.digest != ops[0].digest))
    correct = not errors

    timed = ops[:-1] if tr is not None else ops
    walls = [o.wall_s for o in timed]
    epochs = [e for o in timed for e in o.epochs_s]
    info = {
        "workload": args.workload, "seed": args.seed, "host": host,
        "loop": wl.loop, "inputs": wl.props, "setup": phases,
        "digests": digests,
        "operations": len(timed),
        # not a compared metric: the JVM's share follows G1's heap sizing,
        # which varied by a third across runs of the same work
        "peak_rss_mb": metric(rss.peak / 2**20, "MB"),
        "memory_at_peak": rss.at_peak,
        "error_rate": metric(failed / max(attempted, 1), "ratio"),
        "errors": errors,
    }
    if tr is None:
        metrics = {
            "wall_s": metric(statistics.median(walls) if walls else 0.0, "s"),
            "pairs_per_s": metric(
                sum(o.pairs for o in timed) / sum(walls) if walls else 0.0,
                "1/s"),
            "setup_s": metric(setup_s, "s"),
        }
        if wl.epochs and epochs:
            tail_s, info["epoch_tail_percentile"] = tail(epochs)
            info["epochs"] = len(epochs)
            metrics.update(epoch_p50_s=metric(statistics.median(epochs), "s"),
                           epoch_tail_s=metric(tail_s, "s"))
    else:
        layers = trace_mod.layer_metrics(tr)
        layers["trace.overhead_s"] = traced.wall_s - statistics.median(walls)
        units = {"rows_out": "count", "candidates": "count", "pairs": "count",
                 "matches": "count", "clusters": "count", "jobs": "count",
                 "oversized_blocks": "count", "dropped_memberships": "count",
                 "stages_resumed": "count", "touched_convs": "count",
                 "jobs_per_epoch": "count", "shuffle_bytes": "bytes",
                 "spill_bytes": "bytes", "snapshot_bytes": "bytes"}
        metrics = {k: metric(v, units.get(k.split(".", 1)[1],
                                          "ratio" if "ratio" in k
                                          or "yield" in k else "s"))
                   for k, v in layers.items()}
        dom, share = trace_mod.dominant_layer(layers, traced.wall_s)
        info.update(untraced_walls_s=walls, traced_wall_s=traced.wall_s,
                    dominant_layer=dom,
                    dominant_share=round(share, 3))
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({**info, "metrics": metrics, "spans": tr.dump()}, f,
                      indent=1)
    print(json.dumps(info))
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
