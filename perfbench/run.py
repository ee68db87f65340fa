"""Tier-store benchmark: bulk ingest and dashboard reads.

Usage, from the repository root::

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 10 \\
        --trace 0

One client process drives ``local[N]`` (N = usable cores) in a closed loop.
The launcher pins the run environment before Spark starts: the repository
on ``PYTHONPATH`` (Python workers need it), ``SPARK_GRAFT_CPUS``, a driver
heap well below physical memory, and every scratch directory (Spark local
dirs, JVM and Python temp files, stores) under ``.perfbench_work/`` in the
repository root, which is removed at the end. Traces of ``--trace 1`` runs
are kept in ``.perfbench_work/traces/``.

The human-readable report goes to stdout; the last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). See ``perfbench/README.md`` for what each metric means and
which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: metric names and units come from BENCHMARK.json, the one list of them
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
SELF_LAYERS = [k.split(".", 1)[1] for k in PER_LAYER
               if k.startswith("self_s.")]


def process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def proc_stat(pid: int) -> tuple[str, int] | None:
    """(state, start time in clock ticks since boot) of a live pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0], int(fields[19])


class Engine:
    """The processes this one started: the driver JVM and its Python
    workers. Peak resident memory is each process's VmHWM, sampled after
    every operation (workers come and go) and summed. A process is keyed
    by pid and start time, so a pid the system reuses is not mistaken for
    one of ours."""

    def __init__(self) -> None:
        self.peak_kb: dict[tuple[int, int], int] = {}

    @staticmethod
    def descendants(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [root]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def sample(self) -> list[tuple[int, int]]:
        """Sample every live descendant; returns their (pid, start)."""
        live = []
        for pid in self.descendants(os.getpid()):
            st = proc_stat(pid)
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = next(int(line.split()[1]) for line in f
                              if line.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue
            if st is None:
                continue
            key = (pid, st[1])
            live.append(key)
            self.peak_kb[key] = max(kb, self.peak_kb.get(key, 0))
        return live

    @property
    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


def running(procs) -> list[tuple[int, int]]:
    """The (pid, start) pairs still running: same pid, same start time,
    not a zombie."""
    out = []
    for pid, start in procs:
        st = proc_stat(pid)
        if st is not None and st[1] == start and st[0] != "Z":
            out.append((pid, start))
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def pin_environment(work: Path) -> dict:
    cpus = len(os.sched_getaffinity(0))
    phys_gb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
               / 2**30)
    mem_gb = max(1, min(3, int(phys_gb // 4)))
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        # the session's collector; a fixed initial heap, so resident
        # memory does not swing with the collector's heap resizing; no
        # hsperfdata files in /tmp
        "SPARK_GRAFT_GC_OPTS": (f"-XX:+UseParallelGC -Xms{mem_gb}g "
                                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
        # the short-lived JVM spark-submit runs to build the driver command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": str(tmp),
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    sys.path.insert(0, str(ROOT))
    return env


def stop_spark(spark, procs) -> None:
    """Stop Spark, end the gateway JVM and wait for every process it
    started (Python workers are reparented when the JVM exits, so they are
    waited for by pid and start time); what is still running after 20 s
    is killed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    left = running(procs)
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = running(left)
    for pid, _ in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while running(left) and time.monotonic() < deadline:
        time.sleep(0.05)


def fmt(v) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def main() -> int:
    t_proc = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "gensor_spark" / "plans" / "incremental.py").is_file():
        print(f"perfbench: no gensor_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench_work"
    work = base / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)

    from perfbench.trace import Tracer
    from gensor_spark.session import get_spark

    tracer = Tracer(bool(args.trace), int(env["SPARK_GRAFT_CPUS"]))
    engine = Engine()
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": str(work / "warehouse"),
                    "spark.hadoop.hadoop.tmp.dir": str(work / "tmp"),
                })
        session_s = time.perf_counter() - t0
        tracer.attach(spark)
        from perfbench.workloads import WORKLOADS

        wl = WORKLOADS[args.workload](SimpleNamespace(
            spark=spark, tracer=tracer, engine=engine, work=work,
            seed=args.seed))
        wl.setup()
        engine.sample()
        setup_s = time.time() - t_proc
        phases = {"setup": setup_s}
        t = time.perf_counter()
        j0 = cpu_jiffies()
        wl.measure(t + args.seconds)
        j1 = cpu_jiffies()
        wl.steal_pct = 100.0 * (j1[1] - j0[1]) / max(1, j1[0] - j0[0])
        engine.sample()
        phases["measure"], t = time.perf_counter() - t, time.perf_counter()
        wl.check()
        phases["check"], t = time.perf_counter() - t, time.perf_counter()
        if args.trace:
            wl.run_probes()
            phases["probes"] = time.perf_counter() - t
        engine.sample()
        print("phases: " + " ".join(f"{k}={v:.1f}s" for k, v in
                                    phases.items()), file=sys.stderr)
        gc_s = tracer.jvm_gc_s() if args.trace else None
        result = summarize(wl, tracer, engine, setup_s, session_s, gc_s,
                           args, env)
    finally:
        if spark is not None:
            stop_spark(spark, set(engine.peak_kb) | set(engine.sample()))
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        traces = base / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        path = traces / f"{args.workload}-seed{args.seed}.json"
        tracer.dump(str(path), {"workload": args.workload,
                                "seed": args.seed, "env": env})
        print(f"trace: {len(tracer.spans)} spans, {len(tracer.ops)} "
              f"operations -> {path.relative_to(ROOT)}")
    print(json.dumps(result))
    return 0


def summarize(wl, tracer, engine, setup_s, session_s, gc_s, args,
              env) -> dict:
    import numpy as np
    import pyspark

    print(f"perfbench workload={wl.name} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print(f"env: local[{env['SPARK_GRAFT_CPUS']}] closed loop, 1 client; "
          f"driver_mem={env['SPARK_GRAFT_DRIVER_MEM']} "
          f"pyspark={pyspark.__version__} numpy={np.__version__} "
          f"python={sys.version.split()[0]}")
    print(f"inputs: {wl.inputs_line}")
    # CPU time the hypervisor gave to other guests while operations ran:
    # timings taken at high steal are slow for reasons outside the program
    print(f"host_steal = {wl.steal_pct:.3g} % of CPU time during the timed "
          "loop")
    attempted, failed = wl.attempted, wl.failed
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": float(np.median(wl.op_s)) if wl.op_s else None,
        "points_per_s": (float(np.median(np.divide(wl.op_points, wl.op_s)))
                         if wl.op_s else None),
        "ops_per_s": len(wl.op_s) / wl.phase_s if wl.phase_s else None,
        "store_bytes_per_point": (wl.layout["store_bytes"] / wl.store_points),
        "peak_rss_mb": engine.peak_mb,
    }
    print(f"-- end-to-end ({wl.op_kind} operations: {len(wl.op_s)} timed "
          f"in {wl.phase_s:.2f} s: "
          + " ".join(f"{x:.3f}" for x in wl.op_s) + ")")
    for k, unit in E2E.items():
        print(f"{k} = {fmt(e2e[k])} {unit}")
    for k, (v, unit) in wl.report().items():
        print(f"{k} = {fmt(v)} {unit}")
    print(f"failed_ratio = {failed / max(1, attempted):.6g} "
          f"({failed} of {attempted} operations)")
    for p in wl.problems:
        print(f"FAILED: {p}")
    correct = failed == 0 and all(e2e[k] is not None for k in E2E)
    print(f"correct = {str(correct).lower()}")
    if not args.trace:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
        return {"correct": correct, "attempted": attempted,
                "failed": failed, "metrics": metrics}

    layer = {"session.start_s": session_s}
    layer.update(wl.layer)
    layer.update({k: v for k, v in wl.layout.items() if k in PER_LAYER})
    layer.update({f"incremental.route.{t}": n for t, n in wl.routes.items()})
    timed_ops = [o for o in tracer.ops if o["kind"] == wl.op_kind]
    for c in ("jobs", "tasks", "failed_tasks", "executor_run_s",
              "shuffle_write_bytes", "spill_bytes", "busy_ratio"):
        layer[f"spark.{c}"] = (statistics.fmean(o[c] for o in timed_ops)
                               if timed_ops else None)
    # task-level GC time per operation is in the trace file; short reads
    # often see none, so the figure here is the JVM's total over the run
    layer["spark.gc_s"] = gc_s
    selfs = tracer.self_times()
    for lay in SELF_LAYERS:
        layer[f"self_s.{lay}"] = selfs.get(lay, 0.0)
    # each traced operation against its untraced neighbours: pairs in
    # both orders, so the warm-up trend of a run cancels out of the median
    ops = list(zip(wl.op_s, wl.traced))
    pairs = [(x if tx else y) / (y if tx else x) - 1.0
             for (x, tx), (y, ty) in zip(ops, ops[1:]) if tx != ty]
    layer["trace.overhead_ratio"] = (statistics.median(pairs)
                                     if pairs else None)
    layer["trace.bookkeeping_s"] = tracer.bookkeeping_s / max(
        1, len(tracer.ops))
    print("-- per layer (traced run; spark.* are means per timed "
          "operation except spark.gc_s, which like self_s.* is a total "
          "over the run)")
    for k, unit in PER_LAYER.items():
        print(f"{k} = {fmt(layer.get(k))} {unit}")
    if any(layer.get(k) is None for k in PER_LAYER):
        correct = False
    metrics = {k: {"value": layer.get(k), "unit": u}
               for k, u in PER_LAYER.items()}
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
