"""Benchmark entry point: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run builds its own seeded inputs,
sets up Spark through ``session.get_spark`` (``local[nproc]``, shipped
settings), runs timed operations of the workload until ``--seconds`` of
operation time have passed, checks every output outside the timed
region, removes its scratch directories and prints, as the last line,
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones, from spans recorded around the program's public entry points.
The exit code is 0 only when every output is correct; without the
program in the checkout it is 2 and nothing is printed on stdout.
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
import threading
import time
import traceback

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: set-ups per run; setup_s is their median
SETUPS = 3

# --------------------------------------------------------------------------
# host and memory
# --------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyspark

    return {"nproc": nproc(), "ram_gb": round(mem_kb / 2**20, 1),
            "spark": pyspark.__version__, "python": platform.python_version(),
            "machine": platform.machine()}


def cpu_steal() -> tuple[int, int]:
    """Host-wide (steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and every descendant (driver JVM,
    Python workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, own and reaped children) used so far
    by ``pid`` and every live descendant."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick


def jvm_gc_jit_s(sc) -> tuple[float, float]:
    """Driver JVM (which runs the local executors too): total GC pause
    seconds and total JIT compilation seconds, summed over compiler
    threads, so far."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    gc = sum(beans.get(k).getCollectionTime() for k in range(beans.size()))
    return gc / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


class RssSampler(threading.Thread):
    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=10)
        self.peak = max(self.peak, tree_rss_mb(os.getpid()))
        return self.peak


# --------------------------------------------------------------------------
# run isolation
# --------------------------------------------------------------------------

def isolate(run_dir: str) -> None:
    """Point every scratch location of this run, and of the JVM and the
    Python workers it starts, into ``run_dir``; put the repo on the
    workers' import path."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    tempfile.tempdir = None
    os.chdir(run_dir)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    try:
        sc._gateway.shutdown()
    except Exception:  # noqa: BLE001 — the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        left = descendants(os.getpid())
        if not left:
            return
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in descendants(os.getpid()):
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def end_to_end(ops: list[dict], setups: list[float]) -> dict:
    """The gated end-to-end metrics, over the measured (post-warm-up)
    ops."""
    measured = [o for o in ops if o["phase"] == "measured"]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "op_cpu_ex_jit_ms": (
            statistics.median(o["cpu_s"] - o["jit_s"] for o in measured) * 1000, "ms"),
    }


def reported(workload: str, ops: list[dict], peak_rss: float) -> dict:
    """Numbers printed by name but not gated, because they vary more
    between runs on a shared host than a regression bound could hold,
    are single samples, or have fewer than ten samples beyond them.
    Each comes with its sample count."""
    measured = [o for o in ops if o["phase"] == "measured"]
    secs = [o["secs"] for o in measured]
    n = len(secs)
    p50 = statistics.median(secs)
    p90 = float(np.percentile(secs, 90))
    rate = sum(o["items"] for o in measured) / sum(secs)
    out = {"op_p50_ms": (p50 * 1000, "ms", n), "op_p90_ms": (p90 * 1000, "ms", n),
           "throughput_per_s": (rate, "1/s", n),
           "op_cpu_ms": (statistics.median(o["cpu_s"] for o in measured) * 1000, "ms", n),
           "op_jit_ms": (statistics.median(o["jit_s"] for o in measured) * 1000, "ms", n),
           "peak_rss_mb": (peak_rss, "MB", 1)}
    cold = ops[0]["secs"]
    if workload == "etl_nightly":
        out.update({"etl.full_load_s": (cold, "s", 1),
                    "etl.incr_cycle_s": (p50, "s", n),
                    "etl.raw_rows_per_s": (rate, "rows/s", n)})
    elif workload == "query_page":
        out.update({"query.cold_question_s": (cold, "s", 1),
                    "query.latency_p50_ms": (p50 * 1000, "ms", n),
                    "query.latency_p90_ms": (p90 * 1000, "ms", n),
                    "query.qps": (rate, "1/s", n)})
    else:
        out.update({"corpus.cold_pass_s": (cold, "s", 1),
                    "corpus.docs_per_s": (rate, "docs/s", n)})
    return out


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_zero_spark", "__init__.py")):
        print(f"etl_zero_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.layers import per_layer
    from perfbench.trace import Tracer, spark_counters_by_group
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{time.time_ns()}"
    run_dir = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(run_dir)
    cwd = os.getcwd()
    isolate(run_dir)
    spark = None
    try:
        wl = WORKLOADS[args.workload](run_dir, args.seed)
        t0 = time.perf_counter()
        stated = wl.prepare()
        gen_s = time.perf_counter() - t0

        tracer = Tracer(run_id)
        tracer.active = bool(args.trace)
        if args.trace:
            tracer.install()
        from etl_zero_spark import session

        sampler = RssSampler()
        sampler.start()
        setups = []
        master = f"local[{nproc()}]"
        for k in range(SETUPS):
            t0 = time.perf_counter()
            with tracer.span("session.setup"):
                spark = session.get_spark(master=master)
                spark.range(1).count()
            setups.append(time.perf_counter() - t0)
            if k < SETUPS - 1:
                spark.stop()
        settings = {k: v for k, v in spark.sparkContext.getConf().getAll()
                    if k.startswith(("spark.sql.", "spark.driver.memory", "spark.master"))}

        ops: list[dict] = []
        sc = spark.sparkContext
        steal0 = cpu_steal()
        busy, i, measured = 0.0, 0, 0
        # the traced run needs a traced and an untraced measured op
        while (busy < args.seconds or measured < 2) and i < 10_000:
            phase = ("cold" if i == 0 else "warmup" if i < wl.warmup_ops
                     else "measured")
            # traced run: measured ops alternate traced / untraced, so the
            # overhead is measured inside the same run
            traced = bool(args.trace) and phase == "measured" and measured % 2 == 0
            tracer.active = traced
            if args.trace and not traced:
                sc.setJobGroup(f"untraced-{phase}", "untraced op")
            rec = {"i": i, "phase": phase, "traced": traced, "failed": False,
                   "items": 0.0, "span": None}
            gj0 = jvm_gc_jit_s(sc)
            cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            try:
                with tracer.span(f"op.{wl.name}") as root:
                    rec["span"] = root.id if root else None
                    rec["items"] = wl.op(spark, i, tracer)
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                rec["failed"] = True
                traceback.print_exc(file=sys.stderr)
            rec["secs"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            gj1 = jvm_gc_jit_s(sc)
            rec["gc_s"], rec["jit_s"] = gj1[0] - gj0[0], gj1[1] - gj0[1]
            tracer.active = False
            if args.trace and not traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if phase == "measured":
                busy += rec["secs"]
                measured += 1
            if not rec["failed"]:
                problems = wl.check_op(i)
                if problems:
                    rec["failed"] = True
                    for p in problems:
                        print(f"check failed, op {i}: {p}", file=sys.stderr)
            ops.append(rec)
            i += 1
        for j, problems in wl.check_end().items():
            ops[j]["failed"] = True
            for p in problems:
                print(f"check failed, op {j}: {p}", file=sys.stderr)
        peak = sampler.stop()
        steal1 = cpu_steal()
        # share of host CPU time taken by other guests: context for timings
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

        failed = sum(o["failed"] for o in ops)
        if args.trace:
            counters = spark_counters_by_group(sc)
            metrics = per_layer(tracer, ops, wl, counters)
            spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.dump(os.path.join(spans_dir, f"{run_id}.jsonl"))
            tracer.uninstall()
        else:
            metrics = end_to_end(ops, setups)
        info = {"workload": wl.name, "seed": args.seed, "host": host_facts(),
                "session": settings, "stated": stated, "inputs_s": round(gen_s, 3),
                "setups_s": setups, "cpu_steal_frac": round(steal, 4),
                "ops_s": [round(o["secs"], 3) for o in ops],
                "ops_cpu_s": [round(o["cpu_s"], 3) for o in ops],
                "ops_gc_s": [round(o["gc_s"], 3) for o in ops],
                "ops_jit_s": [round(o["jit_s"], 3) for o in ops]}
        print("run " + json.dumps(info, default=str))
        for name, (v, unit, n) in reported(wl.name, ops, peak).items():
            print(f"metric {name} = {v:.6g} {unit} (n={n}, not gated)")
        for name, (v, unit) in metrics.items():
            print(f"metric {name} = {v:.6g} {unit}")
        result = {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_descendants()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
