#!/usr/bin/env python3
"""docstrange_spark benchmark: one workload per process.

    python3 perfbench/run.py --workload extract --seed 3 --seconds 8 --trace 0

Run from the repository root. Prints progress on stderr and, as the last
line of stdout, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Exits 1 when any output is wrong, 2 when the engine
is missing. ``--record-goldens 0-15`` rewrites the stored digests for
those seed variants instead of measuring. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402
import probes  # noqa: E402
import workloads  # noqa: E402

MAX_CORES = 4


class Ctx:
    def __init__(self, args, variant: int):
        self.variant = variant
        self.mode = "smoke" if args.smoke else "full"
        self.sizes = workloads.SIZES[self.mode]
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.cache = os.path.join(self.work, "inputs")
        self.run_dir = os.path.join(self.work, f"run-{os.getpid()}")
        self.out = os.path.join(self.run_dir, "out")


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def isolate(ctx: Ctx) -> dict:
    """Pin this process (and so the JVM and Python workers it starts) to
    at most MAX_CORES cores, keep every file the engine writes inside the
    run directory, and send the engine's stdout/stderr to a log file.
    Returns the Spark settings that place the session's files."""
    cores = sorted(os.sched_getaffinity(0))[:MAX_CORES]
    os.sched_setaffinity(0, cores)
    ctx.cores = len(cores)
    tmp = os.path.join(ctx.run_dir, "tmp")
    local = os.path.join(ctx.run_dir, "spark-local")
    for d in (tmp, local, ctx.out, ctx.cache):
        os.makedirs(d, exist_ok=True)
    # the CLI's own master and driver heap (local[N], 8g)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_PYTHON": sys.executable,
        # no JVM performance-data file under /tmp
        "JAVA_TOOL_OPTIONS": " ".join(
            o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    ctx.engine_log = os.path.join(ctx.run_dir, "engine.log")
    fd = os.open(ctx.engine_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    real_out, real_err = os.dup(1), os.dup(2)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)
    sys.stdout = os.fdopen(real_out, "w")
    sys.stderr = os.fdopen(real_err, "w")
    return {
        "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


class Session:
    """The engine session, built as the CLI builds it."""

    def __init__(self, ctx: Ctx, conf: dict):
        self.ctx, self.conf = ctx, conf
        self.spark = None

    def start(self, extra: dict | None = None) -> float:
        """get_spark plus one warm-up job that spawns every Python worker
        and imports the extraction and rendition kernels; returns its
        wall time."""
        import numpy as np

        from docstrange_spark import datagen
        from docstrange_spark.operators import extract
        from docstrange_spark.session import get_spark

        self.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="docstrange_spark_cli", cores=self.ctx.cores,
            extra={**self.conf, **(extra or {})},
        )
        warm = self.spark.createDataFrame(
            datagen.scale_pdf(np.arange(64), seed=7), schema=datagen.SPAN_SCHEMA_DDL)
        workloads.noop(extract.extract(warm, formats=checks.EXTRACT_FORMATS))
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, the JVM and every process they started, and
        wait for each to end."""
        import signal

        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        me = os.getpid()
        deadline = time.time() + 30
        while True:
            left = [p for p in probes.process_tree(me) if p != me and not _zombie(p)]
            if not left or time.time() > deadline:
                break
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


def _zombie(pid: int) -> bool:
    st = probes.proc_stat(pid)
    return st is None or st[0] == "Z"


def measure(seconds: float, step: int, op) -> list[float]:
    """Closed loop: run ``op(i)`` back to back, in whole steps of
    ``step`` operations, until another step would overrun ``seconds`` (at
    least one step); returns each operation's wall time."""
    times: list[float] = []
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        op(len(times))
        times.append(time.perf_counter() - t0)
        if len(times) % step:
            continue
        elapsed = time.perf_counter() - t_start
        if elapsed + step * statistics.fmean(times) > seconds:
            return times


class Runner:
    """Runs one workload's operations and checks every output."""

    def __init__(self, wl, golden):
        self.wl, self.golden = wl, golden
        self.attempted = self.failed = 0
        self.pending: list = []  # (operation index, output) not yet checked

    def op(self, spark, i: int) -> None:
        self.pending.append((i, self.wl.op(spark, i)))

    def check(self) -> None:
        """Digest the outputs produced so far (outside any timing).
        Operation ``i`` is compared with golden ``i % len(golden)``."""
        for i, out in self.pending:
            got = self.wl.digest(out)
            want = self.golden[i % len(self.golden)] if self.golden else None
            self.attempted += 1
            if got != want:
                self.failed += 1
                log(f"{self.wl.name}: output digest {got} != golden {want}")
        self.pending = []

    def prime(self, spark) -> int:
        """One untimed step; its output is checked like any other.
        Returns the index of the first operation after it."""
        for i in range(self.wl.STEP):
            self.op(spark, i)
        return self.wl.STEP


def kernel_check(runner: Runner) -> float:
    """Span invariant on a sample of the first extract output's docs;
    returns the pure kernels' single-threaded time."""
    bad, kernel_s = checks.span_invariant(runner.wl.sample(), runner.pending[0][1])
    runner.attempted += 1
    if bad:
        runner.failed += 1
        log(f"extract: {bad} sampled docs differ from the pure kernels")
    return kernel_s


def run(args, ctx: Ctx, goldens: dict) -> dict:
    conf = isolate(ctx)
    wl = workloads.WORKLOADS[args.workload](ctx)
    golden = goldens.get(ctx.mode, {}).get(args.workload, {}).get(str(ctx.variant))
    if golden is None:
        log(f"no golden for {ctx.mode}/{args.workload}/variant {ctx.variant}")
    runner = Runner(wl, golden)
    log("inputs ready")
    sess = Session(ctx, conf)
    me = os.getpid()
    try:
        if not args.trace:
            # cold: the first set-up launches the JVM and the py4j gateway
            setup = sess.start()
            log(f"setup {setup:.2f}")
            # timed from the first operation after set-up, as a CLI
            # process or a freshly started server pays it
            with probes.RssSampler(me) as rss:
                times = measure(args.seconds, wl.STEP,
                                lambda i: runner.op(sess.spark, i))
            if wl.name == "extract":
                kernel_check(runner)
            runner.check()
            wall = statistics.fmean(times)
            log(f"{len(times)} ops {[round(t, 2) for t in times]}")
            values = {
                "setup_s": setup,
                "wall_s": wall,
                "docs_per_s": wl.n_docs / wall,
                "peak_rss_mb": rss.peak_mb,
            }
        else:
            values = traced(args, ctx, sess, runner)
    finally:
        sess.shutdown()
    return {"correct": runner.failed == 0 and golden is not None,
            "attempted": runner.attempted, "failed": runner.failed,
            "metrics": values}


def traced(args, ctx: Ctx, sess: Session, runner: Runner) -> dict:
    """One untimed step, then a session with the event log on, in which
    each layer's public calls run under their own job group, then
    untraced operations for 30% of ``--seconds`` in a session without the
    log. Run after the traced calls, the untraced ones are as warm as
    they are: the baseline for the overhead and the per-call latencies."""
    wl = runner.wl
    sess.start()
    first = runner.prime(sess.spark)
    events = os.path.join(ctx.run_dir, "events")
    os.makedirs(events)
    sess.start({"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"})
    tr = workloads.Tracer(sess.spark, os.getpid())
    wl.traced(sess.spark, tr, time.perf_counter() + args.seconds * 0.7)
    sess.start()
    times = measure(args.seconds * 0.3, wl.STEP,
                    lambda i: runner.op(sess.spark, first + i))
    kernel_s = kernel_check(runner) if wl.name == "extract" else 0.0
    runner.check()
    ev = probes.parse_event_log(events)
    m, traced_wall = wl.layer_metrics(tr, ev)
    untraced = statistics.fmean(times)
    out = {name: 0.0 for name, _, _ in metrics.PER_LAYER}
    out.update(m)
    if wl.name == "extract":
        out["extract.py_kernel_s"] = kernel_s
    elif wl.name == "corpus_query":
        # p50 per call type, from the untraced calls
        kinds = [wl.kind(first + i) for i in range(len(times))]
        for kind in workloads.QUERY_KINDS:
            ts = [t for t, k in zip(times, kinds) if k == kind]
            out[f"{kind}.p50_s"] = statistics.median(ts) if ts else 0.0
        out["query.calls"] = len(times)
    out.update({
        "spark.gc_s": ev.gc_s,
        "spark.failed_tasks": ev.failed_tasks,
        "trace.untraced_wall_s": untraced,
        "trace.overhead_s": traced_wall - untraced,
    })
    return out


def record(args, goldens: dict, variants: list[int]) -> None:
    """Run each variant's operations once and store their digests."""
    ctx = Ctx(args, variants[0])
    conf = isolate(ctx)
    sess = Session(ctx, conf)
    try:
        sess.start()
        for v in variants:
            ctx.variant = v
            wl = workloads.WORKLOADS[args.workload](ctx)
            runner = Runner(wl, None)
            for i in range(wl.golden_ops):
                runner.op(sess.spark, i)
            if wl.name == "extract":
                kernel_check(runner)
                if runner.failed:
                    raise SystemExit(f"variant {v}: engine output breaks the span invariant")
            digests = [wl.digest(out) for _, out in runner.pending]
            goldens.setdefault(ctx.mode, {}).setdefault(args.workload, {})[str(v)] = digests
            log(f"recorded {ctx.mode}/{args.workload}/{v}")
    finally:
        sess.shutdown()
        shutil.rmtree(ctx.run_dir, ignore_errors=True)


def parse_variants(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "build_corpus", "corpus_query"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (smoke test)")
    ap.add_argument("--goldens", default=os.path.join(HERE, "goldens.json"))
    ap.add_argument("--record-goldens", metavar="LO-HI", default=None)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "docstrange_spark", "__init__.py")):
        print("perfbench: docstrange_spark not found next to perfbench/; "
              "run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    goldens = {}
    if os.path.isfile(args.goldens):
        with open(args.goldens) as f:
            goldens = json.load(f)
    if args.record_goldens:
        record(args, goldens, parse_variants(args.record_goldens))
        with open(args.goldens, "w") as f:
            json.dump(goldens, f, indent=1, sort_keys=True)
            f.write("\n")
        return 0

    ctx = Ctx(args, inputs.variant_of(args.seed))
    try:
        result = run(args, ctx, goldens)
    except BaseException:
        if os.path.isfile(getattr(ctx, "engine_log", "")):
            log("engine log tail:")
            with open(ctx.engine_log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        raise
    finally:
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
    result["metrics"] = {
        k: {"value": float(v), "unit": metrics.UNITS[k]} for k, v in result["metrics"].items()
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
