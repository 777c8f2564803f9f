"""Self-tests of the benchmark: ``python -m pytest perfbench -q``.

The tiny-input runs start Spark once per workload and mode (a few
minutes in total); the other tests run in-process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inprocess, trace  # noqa: E402
from perfbench.inputs import Inputs  # noqa: E402
from perfbench.workloads import WORKLOADS as WORKLOAD_CLASSES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(*args, cwd=ROOT, timeout=300):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


def _run_tiny(tmp_path, *args, rows=25_000, timeout=300):
    """run.main on a one-row-group table, in a child process. Its output
    goes to files, not pipes, so this returns when the child exits, not
    when the last process that inherited its pipes does."""
    code = ("import sys; sys.path.insert(0, 'perfbench'); import run; "
            f"run.ROWS = {rows}; sys.exit(run.main({list(args)!r}))")
    out, err = tmp_path / "stdout", tmp_path / "stderr"
    with open(out, "w") as o, open(err, "w") as e:
        rc = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                            stdout=o, stderr=e, timeout=timeout).returncode
    return rc, out.read_text(), err.read_text()


def test_self_times_on_hand_built_tree():
    # root [0,100): a [10,50) holds b [20,30); c [60,90) holds c [65,75)
    spans = [
        ["root", 0, 100, -1, None],
        ["a", 10, 50, 0, "rg0"],
        ["b", 20, 30, 1, "rg0"],
        ["c", 60, 90, 0, "rg1"],
        ["c", 65, 75, 3, "rg1"],
    ]
    self_s, calls = trace.self_times(spans)
    assert self_s == pytest.approx({"root": 30e-9, "a": 30e-9, "b": 10e-9,
                                    "c": 30e-9})
    assert calls == {"root": 1, "a": 1, "b": 1, "c": 2}
    assert sum(self_s.values()) == pytest.approx(trace.root_wall(spans))


def test_tracer_reaches_the_kernels_and_uninstalls(tmp_path):
    from parquet_cpp_spark import selector
    from parquet_cpp_spark.kernels import delta

    inputs = Inputs(str(tmp_path), 2_000, 5)
    inputs.prepare()
    originals = (selector.encode_best, delta.encode)
    tr = trace.Tracer()
    tr.install(keep_results={"selector.encode_best_self": "codec_name"})
    try:
        wall, batches = inprocess.run_pass("encode", inputs, "", "", tr)
    finally:
        tr.uninstall()
    assert (selector.encode_best, delta.encode) == originals
    self_s, calls = trace.self_times(tr.spans)
    assert calls["selector.encode_best_self"] == 4   # one per column
    assert "kernels.delta.encode" in calls
    assert sorted(tr.results["selector.encode_best_self"]) == sorted(
        b.column("codec")[i].as_py() for b in batches
        for i in range(b.num_rows))
    assert self_s[trace.ROOT] < 0.1 * trace.root_wall(tr.spans)
    assert trace.coverage(tr.spans) >= 0.9
    assert inprocess.encode_summary(batches) == inputs.encode_ref()


def test_coverage_drops_when_wrappers_are_lost(tmp_path, monkeypatch):
    inputs = Inputs(str(tmp_path), 2_000, 5)
    inputs.prepare()
    # only the kernels wrapped: selector and chunk time falls to the
    # closure's catch-all span
    monkeypatch.setattr(trace, "WRAPPED", [
        w for w in trace.WRAPPED if w[0].startswith("kernels.")])
    tr = trace.Tracer()
    tr.install()
    try:
        inprocess.run_pass("encode", inputs, "", "", tr)
    finally:
        tr.uninstall()
    self_s, _calls = trace.self_times(tr.spans)
    assert self_s["encode_arrow.other"] > 0.1 * trace.root_wall(tr.spans)
    assert trace.coverage(tr.spans) < 0.9


def test_fixed_seed_reproduces_enc_bytes_and_seed_changes_input(tmp_path):
    import pyarrow.parquet as pq

    a = Inputs(str(tmp_path / "a"), 2_000, 7)
    b = Inputs(str(tmp_path / "b"), 2_000, 7)
    c = Inputs(str(tmp_path / "c"), 2_000, 8)
    for x in (a, b, c):
        x.prepare()
    assert a.encode_ref()["enc_bytes"] == b.encode_ref()["enc_bytes"]
    assert a.ref == b.ref
    assert pq.read_table(a.path).equals(pq.read_table(b.path))
    assert not pq.read_table(a.path).equals(pq.read_table(c.path))
    assert a.encode_ref()["enc_bytes"] != c.encode_ref()["enc_bytes"]


# every workload, including encode, which BENCHMARK.json does not list
WORKLOADS = sorted(WORKLOAD_CLASSES)


@pytest.mark.parametrize("trace_flag", ["0", "1"])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_input_run(workload, trace_flag, tmp_path):
    rc, stdout, stderr = _run_tiny(tmp_path, "--workload", workload,
                                   "--seed", "1", "--seconds", "0.1",
                                   "--trace", trace_flag)
    assert _left_behind() == []
    assert rc == 0, stderr[-3000:]
    out = json.loads(stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    kind = "per_layer" if trace_flag == "1" else "end_to_end"
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if trace_flag == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())


def _left_behind() -> list[str]:
    """Command lines of live processes that inherited the benchmark's
    environment (its TMPDIR): the JVM, Python workers, their children."""
    mark = f"TMPDIR={os.path.join(ROOT, '.perfbench_work', 'tmp')}".encode()
    left = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if mark not in f.read().split(b"\0"):
                    continue
            with open(f"/proc/{d}/cmdline", "rb") as f:
                left.append(f.read().replace(b"\0", b" ").decode())
        except (OSError, ValueError):
            pass
    return left


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "encode", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path), timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
