#!/usr/bin/env python3
"""Benchmark of the parquet_cpp_spark engine on the seeded token table.

    python3 perfbench/run.py --workload decode --seed 1 --seconds 8 --trace 0

Runs one workload (encode, decode, shuffle_encode or parquet_roundtrip)
at local[nproc] from this single driver process. ``--trace 0`` reports
the end-to-end metrics with tracing off; ``--trace 1`` is the separate
traced run that reports the per-layer metrics. Every run's output is
checked.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Everything the benchmark writes stays under ``.perfbench_work/`` at the
root of the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import socket
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
ROWS = 100_000          # 4 row groups of 25k rows, ~25.6M tokens
SETUPS = 2              # set-ups per run; setup_s is their median
MIN_RUNS = 3            # timed runs per run, even past --seconds
RUN_TIMEOUT_S = 60      # a run still going after this is cancelled, failed
TRACED_PASSES = 2       # in-process passes each way in the traced run
CHILD_EXIT_S = 60       # after this, processes still left at exit are killed
CODECS = ("PLAIN", "RLE", "RLE_DICTIONARY", "DELTA_BINARY_PACKED",
          "DELTA_LENGTH_BYTE_ARRAY", "DELTA_BYTE_ARRAY", "FSST")
UNITS = {"setup_s": "s", "wall_vs_jvm": "ratio",
         "bytes_per_token": "B/token", "size_vs_reference": "ratio",
         "worker_peak_rss_mb": "MB"}


def _isolate_env() -> None:
    """Keep every file Spark, the JVM and the engine write inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    import tempfile
    tempfile.tempdir = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _descendants() -> set[int]:
    """PIDs of every live process under this one, read from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    mine = {os.getpid()}
    grew = True
    while grew:
        new = {p for p, pp in parent.items() if pp in mine} - mine
        grew = bool(new)
        mine |= new
    return mine - {os.getpid()}


def _become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts, so
    that a process orphaned by the JVM's exit (a Python worker, a
    shutdown hook's ``rm``) is re-parented here and can be waited for."""
    import ctypes
    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _raise_on_sigterm(signum, _frame) -> None:
    raise SystemExit(128 + signum)


def end_children() -> None:
    """Stop the Spark JVM this process launched, then wait until every
    process under this one has ended; any still running after
    CHILD_EXIT_S is killed and waited for."""
    import signal

    from pyspark import SparkContext
    signal.signal(signal.SIGTERM, signal.SIG_IGN)   # finish the wait first
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()   # py4j's sockets and callback server
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()   # the gateway JVM exits when its stdin closes
    deadline = time.monotonic() + CHILD_EXIT_S
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return   # no child left, orphaned descendants included
        if pid:
            continue
        if time.monotonic() > deadline:
            for left in _descendants():
                try:
                    os.kill(left, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def worker_peak_rss_mb() -> float:
    """Largest VmHWM over the PySpark worker processes under this one
    (the daemon's forked workers keep its ``-m pyspark.daemon`` command
    line; the JVM's does not match)."""
    peak = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():   # daemon and workers
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            pass
    return peak / 1024.0


def provenance(args, inputs) -> dict:
    import numpy
    import pyarrow
    import pyspark

    def git(*cmd):
        try:
            return subprocess.run(["git", "-C", ROOT, *cmd], check=True,
                                  capture_output=True, text=True,
                                  timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return None

    commit = git("rev-parse", "HEAD") if os.path.isdir(
        os.path.join(ROOT, ".git")) else None
    dirty = None if commit is None else bool(
        git("status", "--porcelain", "--untracked-files=no"))
    h = hashlib.sha256()
    for top in ("parquet_cpp_spark", "perfbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    p = os.path.join(dirpath, name)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return {
        "host": socket.gethostname(), "nproc": len(os.sched_getaffinity(0)),
        "commit": commit, "dirty": dirty, "source_sha256": h.hexdigest(),
        "date": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "workload": args.workload, "seed": args.seed, "rows": inputs.rows,
        "tokens": inputs.n_tokens, "seconds": args.seconds,
        "trace": args.trace,
    }


class Bench:
    """One benchmark process: set-ups, then the timed runs."""

    def __init__(self, args, inputs, workload_cls):
        self.args, self.inputs = args, inputs
        self.cores = len(os.sched_getaffinity(0))
        self.run_dir = os.path.join(WORK, "run")
        self.wl = workload_cls(None, inputs, self.run_dir)
        self.spark = None
        self.setups: list[dict] = []
        self.warmups: list = []
        self.runs: list = []
        self.rss = 0.0

    def _session(self):
        from parquet_cpp_spark.session import get_spark
        conf = {"spark.ui.enabled": "true"} if self.args.trace else None
        return get_spark(master=f"local[{self.cores}]",
                         shuffle_partitions=4 * self.cores,
                         app_name="perfbench", extra_conf=conf)

    def setup(self) -> None:
        """Session start, shipping, workload set-up and one warm-up run."""
        from parquet_cpp_spark.shipping import ensure_shipped
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self.wl.spark = self._session()
        t1 = time.perf_counter()
        ensure_shipped(self.spark)
        t2 = time.perf_counter()
        self.wl.prepare()
        t3 = time.perf_counter()
        warm = self.wl.run()
        t4 = time.perf_counter()
        if warm.error:
            raise RuntimeError(f"warm-up run failed: {warm.error}")
        self.warmups.append(warm)
        self.setups.append({"session_s": t1 - t0, "ship_s": t2 - t1,
                            "chunk_write_s": t3 - t2, "warmup_s": t4 - t3,
                            "total_s": t4 - t0})

    def measure(self) -> None:
        """Set up SETUPS times, then take the timed runs. Each set-up stops
        the previous session; the runs follow the last one, because the
        first jobs after the JVM starts run up to 40% slower."""
        for _ in range(SETUPS):
            self.setup()
        self.timed_runs()

    def check(self) -> None:
        """Compute the reference and check every run's output against it,
        warm-ups included; a warm-up that fails its check stops the
        benchmark with no result."""
        self.wl.reference()
        for r in self.warmups + self.runs:
            if r.error is None:
                r.error = self.wl.check(r.got)
        bad = [r.error for r in self.warmups if r.error]
        if bad:
            raise RuntimeError(f"warm-up run failed its check: {bad[0]}")

    def timed_runs(self) -> None:
        """Runs until ``--seconds`` have passed and MIN_RUNS exist. In the
        traced run, the runs' stage metrics are read before the session
        stops."""
        sc = self.spark.sparkContext
        t_end = time.perf_counter() + self.args.seconds
        while len(self.runs) < MIN_RUNS or time.perf_counter() < t_end:
            group = f"perfbench-run-{len(self.runs)}"
            sc.setJobGroup(group, group)
            timer = threading.Timer(RUN_TIMEOUT_S, sc.cancelJobGroup,
                                    [group])
            timer.start()
            try:
                r = self.wl.run()
            finally:
                timer.cancel()
            r.group = group
            self.runs.append(r)
            self.rss = max(self.rss, worker_peak_rss_mb())
        if self.args.trace:
            from perfbench import sparkui
            ok = self.ok_runs
            for r, m in zip(ok, sparkui.run_metrics(
                    self.spark, [r.group for r in ok])):
                r.stages = m

    @property
    def ok_runs(self) -> list:
        return [r for r in self.runs if r.error is None]

    def end_to_end(self) -> dict:
        n_tok = self.inputs.n_tokens
        bpt = self.wl.encoded_bytes() / n_tok
        ref_bpt = self.inputs.ref["reference_file_bytes"] / n_tok
        return {
            "setup_s": _median([s["total_s"] for s in self.setups]),
            "wall_vs_jvm": _median([r.wall_s / r.jvm_s
                                    for r in self.ok_runs]),
            "bytes_per_token": bpt,
            "size_vs_reference": bpt / ref_bpt,
            "worker_peak_rss_mb": self.rss,
        }

    def walls(self) -> dict:
        """The timed runs' own walls, which move with the host's speed."""
        wall = _median([r.wall_s for r in self.ok_runs])
        return {
            "wall_s": wall,
            "mtok_s": self.inputs.n_tokens / wall / 1e6 if wall else 0.0,
            "jvm_wall_s": _median([r.jvm_s for r in self.ok_runs]),
        }

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def layer_unit(name: str) -> str:
    if name in ("spark.tasks", "trace.spans") or \
            name.startswith("selector.chunks."):
        return "count"
    if name.endswith("_mb"):
        return "MB"
    if name == "mtok_s":
        return "Mtok/s"
    return "s" if name.endswith("_s") else "ratio"


def per_layer(bench: Bench) -> tuple[dict, dict, "str | None"]:
    """Traced run: Spark stage metrics of the timed runs, then the
    in-process passes untraced and traced. Returns (metrics, spans
    summary, coverage error)."""
    from perfbench import inprocess, sparkui, trace

    m: dict[str, float] = bench.walls()
    for key in ("session_s", "ship_s", "warmup_s"):
        m[f"setup.{key}"] = _median([s[key] for s in bench.setups])
    # decode writes its chunk files in the first set-up only
    m["setup.chunk_write_s"] = bench.setups[0]["chunk_write_s"]
    ok = bench.ok_runs
    ui = [r.stages for r in ok]
    for metric, _scale in sparkui.STAGE_FIELDS.values():
        m[metric] = _median([u[metric] for u in ui])
    m["spark.job_s"] = m["wall_s"]
    m["spark.idle_share"] = _median([
        1.0 - u["spark.executor_run_s"] / (bench.cores * r.wall_s)
        for u, r in zip(ui, ok)])
    parts = [r.parts for r in ok if r.parts]
    m["sink_s"] = _median([p["sink_s"] for p in parts])
    m["scan_s"] = _median([p["scan_s"] for p in parts])
    m["scan_vs_jvm"] = _median([p["scan_s"] / p["jvm_s"] for p in parts])

    wl = bench.args.workload
    chunks_dir = os.path.join(bench.run_dir, "chunks")
    scratch = os.path.join(bench.run_dir, "inproc_sink")
    # After one warm-up pass (the driver's first-call costs), untraced and
    # traced passes alternate, so host drift hits both sides alike.
    # Per-layer times are means over the traced passes.
    def one_pass(tracer):
        return inprocess.run_pass(wl, bench.inputs, chunks_dir, scratch,
                                  tracer)[0]

    one_pass(inprocess.NullTracer())
    tr = trace.Tracer()
    plain_walls, traced_walls = [], []
    for _ in range(TRACED_PASSES):
        plain_walls.append(one_pass(inprocess.NullTracer()))
        tr.install(keep_results={"selector.encode_best_self": "codec_name"})
        try:
            traced_walls.append(one_pass(tr))
        finally:
            tr.uninstall()
    plain_wall = _median(plain_walls)
    m["spark.outside_python_s"] = m["spark.executor_run_s"] - plain_wall

    self_s, calls = trace.self_times(tr.spans)
    for layer in trace.LAYERS:
        m[f"{layer}_s"] = self_s.get(layer, 0.0) / TRACED_PASSES
    kept = tr.results.get("selector.encode_best_self", [])
    names = [s[0] for s in tr.spans]
    attempts = sum(1 for s in tr.spans if s[0] == "chunk.encode_self"
                   and s[3] >= 0 and names[s[3]] == "selector.encode_best_self")
    m["selector.attempts_per_chunk"] = attempts / len(kept) if kept else 0.0
    for codec in CODECS:
        m[f"selector.chunks.{codec}"] = kept.count(codec) / TRACED_PASSES
    m["trace.coverage"] = trace.coverage(tr.spans)
    m["trace.overhead_share"] = _median(traced_walls) / plain_wall - 1.0
    m["trace.spans"] = len(tr.spans) / TRACED_PASSES

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tr.write(os.path.join(WORK, "results",
                          f"spans-{wl}-s{bench.args.seed}.jsonl"))
    err = None
    if wl != "parquet_roundtrip" and m["trace.coverage"] < 0.9:
        err = (f"named layers cover {m['trace.coverage']:.3f} of the "
               "traced wall (< 0.9)")
    summary = {"traced_walls_s": traced_walls, "untraced_walls_s": plain_walls,
               "calls": calls}
    return m, summary, err


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import parquet_cpp_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not found next to {HERE}: {exc}",
              file=sys.stderr)
        return 2
    import signal
    _become_subreaper()
    signal.signal(signal.SIGTERM, _raise_on_sigterm)
    try:
        return _measure(args)
    finally:
        end_children()


def _measure(args) -> int:
    from perfbench.workloads import WORKLOADS

    _isolate_env()
    from perfbench.inputs import Inputs

    inputs = Inputs(WORK, ROWS, args.seed)
    inputs.prepare()
    prov = provenance(args, inputs)
    print(json.dumps({"provenance": prov}), flush=True)

    bench = Bench(args, inputs, WORKLOADS[args.workload])
    try:
        bench.measure()
        bench.check()
        errors = [r.error for r in bench.runs if r.error]
        detail: dict = {}
        if args.trace:
            metrics, detail, cov_err = per_layer(bench)
            units = {k: layer_unit(k) for k in metrics}
            if cov_err:
                errors.append(cov_err)
        else:
            metrics, units = bench.end_to_end(), UNITS
            detail = bench.walls()
    finally:
        bench.stop()

    failed = sum(1 for r in bench.runs if r.error)
    correct = not errors
    for e in errors:
        print(f"perfbench: FAILED CHECK: {e}", file=sys.stderr)
    walls = [r.wall_s for r in bench.ok_runs]
    artifact = {"provenance": prov, "metrics": metrics, "setups": bench.setups,
                "run_walls_s": [r.wall_s for r in bench.runs],
                "run_parts": [r.parts for r in bench.runs],
                "errors": errors, "detail": detail}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"{args.workload}: {len(walls)} timed runs ok of {len(bench.runs)},"
          f" {len(bench.setups)} set-ups (timings are medians)")
    for k in sorted(metrics):
        print(f"  {k:36s} {metrics[k]:14.6g} {units[k]}")
    if not args.trace:
        print("also measured (per-layer metrics of the traced run):")
        for k in sorted(detail):
            print(f"  {k:36s} {detail[k]:14.6g} {layer_unit(k)}")
    print(json.dumps({
        "correct": correct, "attempted": len(bench.runs), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
