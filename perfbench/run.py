#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload spatial_sql --seed 1 --seconds 20 --trace 0
    for w in spatial_sql llm_pipeline spatial_ingest_knn; do
        python3 perfbench/run.py --workload $w --seed 1 --seconds 20 || break; done

Run from the repository root. Starts the session and builds every input
from ``--seed`` once (``setup_s``: process start to the end of input
registration, cold, as a user pays it), warms the engine, then runs whole
cycles of the workload's op templates back to back until ``--seconds``
have passed: the next op starts when the previous one returns. The
interactive workload models a long-lived session and runs every template
twice on its own inputs before timing; the batch and iterative
workloads run one pass over a smoke-size copy of their inputs first, so
JIT, code generation and Python workers are warm, and start every pass
with Spark's cache cleared, so no pass reuses another's intermediate
results. Every op's output is checked against values computed without the
library.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced cycles, prints the per-layer metrics of the traced
ones (plus the tracing overhead, traced minus untraced inside the same
run) and writes every span as JSONL under ``.perfbench_work/``. The last
stdout line is always one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it records the run
environment. Exit status is 0 only when every output
check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench_work")
WORKLOADS = {
    "spatial_sql": ("perfbench.spatial_sql", "SpatialSQLWorkload"),
    "llm_pipeline": ("perfbench.llm_pipeline", "LLMPipelineWorkload"),
    "spatial_ingest_knn": ("perfbench.spatial_ingest_knn", "SpatialIngestKNNWorkload"),
}
WARM_PASSES = 2
# heap and young generation have fixed sizes (not pre-touched, so the JVM's
# peak RSS still follows the pages the program touches): G1 grows both on
# GC timing, and each growth step moved peak RSS by up to 500 MB between
# runs of the same code
DRIVER_MEM = "2g"
JVM_OPTS = f"-XX:-UsePerfData -Xms{DRIVER_MEM} -Xmn512m"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Fix the engine settings through the library's own variables and
    keep every scratch file inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # the JVM's many threads otherwise get a malloc arena each, and how
        # far those grow moved its peak RSS by hundreds of MB between runs
        "MALLOC_ARENA_MAX": "2",
    })
    os.environ.pop("SPARK_GRAFT_NO_RELATION_CACHE", None)
    os.environ.pop("SPARK_GRAFT_NO_EXPR_CACHE", None)
    import tempfile

    tempfile.tempdir = tmp
    return {"nproc": nproc, "tmp": tmp}


def git_commit() -> str:
    head = os.path.join(REPO, ".git")
    if not os.path.isdir(head):
        return "unknown (not a git checkout)"
    out = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return out.stdout.strip() or "unknown"


def code_version() -> str:
    """Digest of the library and benchmark sources. Plan fingerprints are
    kept per code version, so a deliberate plan change starts a new
    reference instead of reading as a mismatch, and two versions measured
    in one checkout never judge each other."""
    h = hashlib.sha1()
    for top in ("datafusion_spatial_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(REPO, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, REPO).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:12]


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def percentile(values, q: float, per: int = 2000) -> float:
    """Harrell-Davis estimate of the q-quantile: a Beta((n+1)q, (n+1)(1-q))
    weighted mean of every order statistic. A single order statistic jumps
    between template clusters from run to run (the nearest-rank p90 of ~45
    ops is the fastest kNN op); the weighted mean moves smoothly. The Beta
    mass of each rank interval is integrated with the midpoint rule."""
    import numpy as np

    x = np.sort(np.asarray(values, float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    t = (np.arange(n * per) + 0.5) / (n * per)
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    w = np.exp(log_pdf - log_pdf.max()).reshape(n, per).sum(axis=1)
    return float(w @ x / w.sum())


def make_workload(name, spark, work, sf, seed):
    module, cls = WORKLOADS[name]
    return getattr(importlib.import_module(module), cls)(spark, work, sf, seed)


class Loop:
    """Closed loop over a workload's templates with per-op accounting."""

    def __init__(self, workload, seed: int):
        import numpy as np

        self.w = workload
        self.templates = workload.templates()
        self.rng = np.random.default_rng([seed, 7])
        self.samples: list[tuple[str, float, int, bool]] = []  # (template, s, rows, traced)
        self.cycle_starts = [0]  # index of each cycle's first sample
        self.attempted = self.failed = self.wrong = 0
        self.errors: list[str] = []

    def cycle(self):
        if self.w.interactive:
            order = self.rng.permutation(len(self.templates))
            return [self.templates[i] for i in order]
        return list(self.templates)

    def end_cycle(self) -> None:
        self.cycle_starts.append(len(self.samples))

    def cycle_rates(self) -> list[tuple[float, float]]:
        """(ops/s, rows/s) of every untraced cycle."""
        out = []
        for a, b in zip(self.cycle_starts, self.cycle_starts[1:]):
            cyc = self.samples[a:b]
            if cyc and not cyc[0][3]:
                busy = sum(s for _, s, _, _ in cyc)
                out.append((len(cyc) / busy, sum(r for _, _, r, _ in cyc) / busy))
        return out

    def run_op(self, tr, t, record: bool = True) -> None:
        lits = t.draw(self.rng)
        ok = False
        t0 = time.perf_counter()
        try:
            with tr.op(t.name):
                result = t.run(tr, lits)
            elapsed = time.perf_counter() - t0
            try:
                ok = bool(t.check(lits, result))
            except Exception as e:  # a crashing check is a wrong result
                self.errors.append(f"{t.name} check: {type(e).__name__}: {e}")
            if not ok and len(self.errors) < 20:
                self.errors.append(f"{t.name}: wrong result for {lits}")
            failed = False
        except Exception as e:  # keep running: a failed op counts, it does not stop the loop
            elapsed = time.perf_counter() - t0
            failed = True
            self.errors.append(f"{t.name}: {type(e).__name__}: {str(e)[:300]}")
        if not record:
            if failed or not ok:
                raise RuntimeError(f"warm-up op failed: {self.errors[-1]}")
            return
        self.attempted += 1
        self.failed += failed
        self.wrong += (not failed) and (not ok)
        if not failed:
            self.samples.append((t.name, elapsed, t.rows(lits), tr.enabled))


def warm_up(args, spark, work: str, w, loop: Loop, null) -> None:
    """JIT, code generation, Python workers, expression caches, file listings."""
    from perfbench.workload import SIZES

    if w.interactive:
        for _ in range(WARM_PASSES):
            for t in loop.templates:
                loop.run_op(null, t, record=False)
        return
    path = os.path.join(work, "warm")
    smoke = make_workload(args.workload, spark, path, SIZES["smoke"], args.seed)
    smoke.setup(null)
    warm = Loop(smoke, args.seed)
    for t in warm.templates:
        warm.run_op(null, t, record=False)
    shutil.rmtree(path, ignore_errors=True)


def end_to_end(loop: Loop, setup_s: float, rss_mb: float) -> dict:
    """Latency percentiles (Harrell-Davis) over every untraced op;
    throughputs are the median over whole cycles, so one slow cycle moves
    them little."""
    lat = [s for _, s, _, traced in loop.samples if not traced]
    rates = loop.cycle_rates()
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (percentile(lat, 0.5), "s"),
        "op_p90_s": (percentile(lat, 0.9), "s"),
        "ops_per_s": (statistics.median(r[0] for r in rates), "1/s"),
        "rows_per_s": (statistics.median(r[1] for r in rates), "rows/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    sys.path.insert(0, REPO)
    t_start = time.perf_counter()

    import numpy as np  # noqa: F401  (fail early, before the JVM starts)
    from datafusion_spatial_spark.session import get_spark

    from perfbench import layers
    from perfbench.tracer import NullTracer, Tracer

    from perfbench.workload import SIZES

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_confs={
            "spark.local.dir": env["tmp"],
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={env['tmp']}",
        },
    )
    session_s = time.perf_counter() - t_start
    sc = spark.sparkContext
    jvm = sc._gateway.proc
    status = 1
    try:
        record = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "seconds": args.seconds, "trace": args.trace,
            "master": sc.master, "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "nproc": env["nproc"], "git_commit": git_commit(),
            "pyspark": spark.version, "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "code_version": code_version(),
        }
        null = NullTracer()
        tracer = Tracer(spark) if args.trace else None
        w = make_workload(args.workload, spark, work, SIZES[args.size], args.seed)
        with (tracer or null).op("setup"):
            w.setup(tracer or null)
        setup_s = time.perf_counter() - t_start

        loop = Loop(w, args.seed)
        warm_up(args, spark, work, w, loop, null)
        t_meas = time.perf_counter()
        print(f"# phases: session {session_s:.1f} s, setup {setup_s - session_s:.1f} s, "
              f"warm-up {t_meas - t_start - setup_s:.1f} s", file=sys.stderr)
        cycles = []
        # a traced run alternates untraced and traced cycles and has an
        # untraced cycle on each side of its first traced one, so the tracing
        # overhead is measured inside the run and no pass-order effect
        # reads as overhead; whole cycles only, so every run weighs the
        # templates alike
        while time.perf_counter() - t_meas < args.seconds or len(cycles) < 1 + 2 * args.trace:
            tr = tracer if tracer is not None and len(cycles) % 2 == 1 else null
            if not w.interactive:
                spark.catalog.clearCache()
            t0 = time.perf_counter()
            for t in loop.cycle():
                loop.run_op(tr, t)
            cycles.append(time.perf_counter() - t0)
            loop.end_cycle()
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm.pid)
        print(f"# phases: measured {time.perf_counter() - t_meas:.1f} s, cycles "
              f"{[round(c, 2) for c in cycles]} s", file=sys.stderr)

        correct = loop.failed == 0 and loop.wrong == 0
        attempted = loop.attempted
        error_rate = (loop.failed + loop.wrong) / attempted
        if args.trace:
            metrics = layers.per_layer(tracer, loop, w, session_s, os.path.join(
                WORK, f"fingerprints-{args.workload}-{args.size}-{record['code_version']}.json"))
            path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.jsonl")
            layers.dump(tracer.records, path)
            record["trace_file"] = os.path.relpath(path, REPO)
            tracer.close()
        else:
            metrics = end_to_end(loop, setup_s, rss)
        lat = [s for _, s, _, traced in loop.samples if not traced]
        above = sum(1 for s in lat if s > percentile(lat, 0.9)) if lat else 0
        print(f"# {args.workload}: {attempted} ops attempted, {loop.failed} failed, "
              f"{loop.wrong} wrong, error_rate={error_rate:.4f} ratio, "
              f"{len(lat)} untraced latency samples, {above} above p90")
        by_t: dict[str, list] = {}
        for t, s, _, traced in loop.samples:
            by_t.setdefault(t, []).append(s)
        print("# op medians (s): " + ", ".join(
            f"{t} {statistics.median(v):.3f}x{len(v)}" for t, v in sorted(by_t.items())))
        for err in loop.errors[:20]:
            print(f"# error: {err}")
        for name, (value, unit) in metrics.items():
            print(f"# {name} = {value:.6g} {unit}")
        print(json.dumps({"env": record}))
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": loop.failed + loop.wrong,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        sys.stdout.flush()
        status = 0 if correct else 1
    finally:
        spark.stop()
        sc._gateway.shutdown()
        if jvm.stdin is not None:
            jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
    return status


if __name__ == "__main__":
    sys.exit(main())
