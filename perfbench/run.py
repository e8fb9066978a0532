"""DIRT job benchmark: the CLI job as users run it, on seeded inputs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One run:

1. makes the workload's corpus and phrase-pair files from ``--seed``
   (``perfbench/gen.py``, cached under ``perfbench/.work/inputs``);
2. computes the plain-Python reference for the inputs
   (``perfbench/reference.py``, cached beside them);
3. set-up, timed as ``setup_s``: imports the package, builds the session
   with ``session.get_spark()`` (``local[nproc]``) and runs one cold CLI job
   on a fixed small warm-up corpus — what every one-shot CLI invocation
   pays;
4. with ``--trace 0``: runs ``__main__.main([corpus, --testset POS NEG,
   --out DIR])`` back to back on the warm session (closed loop, one
   client: at least one job, and another only while it is expected to end
   within ``--seconds``), checks every job's outputs against the reference
   and reports the end-to-end metrics;
   with ``--trace 1``: runs one untraced job, scoped in Spark's status
   store, then one traced job whose layer calls are wrapped in spans and
   materialized at each boundary, and reports the per-layer metrics.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  A job whose outputs disagree
with the reference counts as failed.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

sys.path.insert(0, ROOT)

from perfbench import gen, reference  # noqa: E402
from perfbench.trace import EngineCounts, RssSampler, Tracer, children_map  # noqa: E402

PR_SET_CHILD_SUBREAPER = 36


def _log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env() -> None:
    """Keep Spark's scratch files inside the checkout and let the JVM's
    Python workers import the package."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM spark-submit starts, the launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}") if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _adopt_orphans() -> None:
    """Make this process the child subreaper of its tree, so a descendant
    whose parent ends first (a Python worker whose JVM has gone) becomes
    this process's child and ``_reap_children`` waits for it too."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: only direct children are waited for


def _reap_children(grace_s: float = 30.0) -> None:
    """Wait until this process has no child left, killing those still
    running after ``grace_s`` seconds."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in children_map().get(os.getpid(), []):
                _log(f"killing leftover child process {kid}")
                with contextlib.suppress(ProcessLookupError):
                    os.kill(kid, signal.SIGKILL)
        time.sleep(0.05)


class Bench:
    """One benchmark process: a warm session plus its job bookkeeping."""

    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.cpus = os.cpu_count() or 1
        self.inputs = gen.materialize(
            gen.WORKLOADS[workload], seed, os.path.join(WORK, "inputs")
        )
        self.warm_inputs = gen.materialize(
            gen.WARMUP, gen.WARMUP_SEED, os.path.join(WORK, "inputs")
        )
        _log("inputs ready")
        # reference before set-up: its workers import the package, this
        # process does not, so set-up still times a cold import
        self.ref = reference.load_or_compute(self.inputs, self.cpus)
        self.warm_ref = reference.load_or_compute(self.warm_inputs, self.cpus)
        _log("reference ready")
        self.out_root = os.path.join(WORK, f"out-{os.getpid()}")
        self.attempted = self.failed = 0
        self.last_metrics: dict | None = None
        self.spark = self.cli = None

    # -- set-up -----------------------------------------------------------
    def setup(self) -> tuple[float, float]:
        """Import, session, cold warm-up job; returns (setup_s, session_s)."""
        t0 = time.perf_counter()
        import dirt_hadoop_similarity_spark.__main__ as cli
        from dirt_hadoop_similarity_spark.session import get_spark

        t1 = time.perf_counter()
        self.spark = get_spark(master=f"local[{self.cpus}]")
        session_s = time.perf_counter() - t1
        self.cli = cli
        warm_ok = self.run_job(self.warm_inputs, "warmup") is not None
        setup_s = time.perf_counter() - t0
        _log(f"set-up done: {setup_s:.2f}s, session {session_s:.2f}s")
        if warm_ok:
            self.verify(self.out("warmup"), self.warm_ref)
        return setup_s, session_s

    # -- one CLI job -------------------------------------------------------
    def out(self, tag: str) -> str:
        return os.path.join(self.out_root, tag)

    def run_job(self, inputs: dict, tag: str) -> float | None:
        """Run the CLI once into ``self.out(tag)``; returns its wall time,
        or None (counted as a failed job) if it raised or exited non-zero."""
        out = self.out(tag)
        shutil.rmtree(out, ignore_errors=True)
        argv = [inputs["corpus"], "--testset", inputs["pos"], inputs["neg"],
                "--out", out]
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(io.StringIO()):
                rc = self.cli.main(argv)
        except Exception:  # a failing job is a measured outcome, not a crash
            traceback.print_exc()
            rc = None
        dt = time.perf_counter() - t0
        if rc != 0:
            print(f"job {tag}: failed (exit code {rc})", file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            return None
        return dt

    def verify(self, out: str, ref: dict) -> bool:
        """Check one finished job's outputs; a mismatch is a failed job."""
        self.attempted += 1
        metrics = os.path.join(out, "metrics.json")
        if os.path.isfile(metrics):
            with open(metrics, encoding="utf-8") as f:
                self.last_metrics = json.load(f)
        problems = reference.check_outputs(out, ref)
        if problems:
            self.failed += 1
            print(f"{out}: outputs disagree with the reference:", file=sys.stderr)
            for p in problems[:10]:
                print("  " + p, file=sys.stderr)
            return False
        return True

    def close(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        except Exception:  # e.g. a py4j call cut short by SIGTERM
            traceback.print_exc()
        if gateway is not None:
            # the JVM exits when its stdin closes; wait for it to be gone
            with contextlib.suppress(Exception):
                gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()


def end_to_end(b: Bench, seconds: float, setup_s: float) -> dict:
    times: list[float] = []
    with RssSampler() as rss:
        # closed loop, one client: whole jobs back to back, at least one,
        # and another only while it is expected to end inside the window
        t0 = time.perf_counter()
        i = 0
        while True:
            tag = f"job{i % 2}"
            dt = b.run_job(b.inputs, tag)
            i += 1
            if dt is not None:
                times.append(dt)
                b.verify(b.out(tag), b.ref)
            elapsed = time.perf_counter() - t0
            if elapsed + elapsed / i > seconds:
                break
    if not times:
        raise RuntimeError("no job completed")
    job_s = statistics.median(times)
    _log(f"timed jobs: {[round(t, 3) for t in times]}")
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "lines_per_s": (b.ref["counts"]["lines_in"] / job_s, "1/s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "f1": (b.last_metrics["f1"], "ratio"),
        "success_rate": ((b.attempted - b.failed) / b.attempted, "ratio"),
    }


def per_layer(b: Bench, session_s: float, seed: int) -> dict:
    from perfbench.layers import traced_job

    engine = EngineCounts(b.spark)
    engine.mark()
    job_s = b.run_job(b.inputs, "untraced")
    if job_s is None:
        raise RuntimeError("untraced job failed")
    b.verify(b.out("untraced"), b.ref)
    counts = engine.read(b.cpus, job_s)
    _log(f"untraced job: {job_s:.2f}s")

    tracer = Tracer(run=f"{b.workload}-{seed}")
    out = b.out("traced")
    layer = traced_job(b, tracer, out)
    _log(f"traced job: {layer['trace.job_s'][0]:.2f}s")
    b.verify(out, b.ref)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "traces", f"{b.workload}-{seed}.jsonl"))

    metrics = {"session.start_s": (session_s, "s")}
    metrics.update(layer)
    metrics.update(counts)
    metrics["trace.overhead_s"] = (metrics["trace.job_s"][0] - job_s, "s")
    return metrics


def main(argv=None) -> int:
    _adopt_orphans()
    # a terminated run still stops its session and waits for its children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _run(argv)
    finally:
        _reap_children()


def _run(argv) -> int:
    args = _args(argv)
    for mod in ("pyspark", "dirt_hadoop_similarity_spark"):
        if importlib.util.find_spec(mod) is None:
            print(f"cannot import {mod}: run from the repository root",
                  file=sys.stderr)
            return 2
    _prepare_env()
    b = Bench(args.workload, args.seed)
    try:
        setup_s, session_s = b.setup()
        if args.trace:
            metrics = per_layer(b, session_s, args.seed)
        else:
            metrics = end_to_end(b, args.seconds, setup_s)
    finally:
        b.close()
        _log("session closed")
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
