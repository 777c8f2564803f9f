"""Stage metrics of the traced run's Spark jobs, read from the local UI's
REST API (``/api/v1/applications/<id>/{jobs,stages}``).

Each timed run sets its own job group; a run's stages are the stages of
the jobs in that group.
"""

from __future__ import annotations

import json
import time
import urllib.request

# REST field -> (per-layer metric, scale to the metric's unit)
STAGE_FIELDS = {
    "numCompleteTasks": ("spark.tasks", 1.0),
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "executorDeserializeTime": ("spark.deserialize_s", 1e-3),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "shuffleWriteBytes": ("exchange.shuffle_write_mb", 1e-6),
    "shuffleWriteTime": ("exchange.shuffle_write_s", 1e-9),
    "shuffleReadBytes": ("exchange.shuffle_read_mb", 1e-6),
    "shuffleFetchWaitTime": ("exchange.fetch_wait_s", 1e-3),
    "inputBytes": ("jvm_scan.input_mb", 1e-6),
}


def _base(spark) -> str:
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    return f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def run_metrics(spark, groups: list[str], timeout_s: float = 20.0) \
        -> list[dict]:
    """Summed stage metrics per job group, in ``groups`` order. Waits for
    the UI's listener to record every job of every group as finished."""
    base = _base(spark)
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [j for j in _get(base + "/jobs") if j.get("jobGroup") in groups]
        done = {j.get("jobGroup") for j in jobs}
        if (set(groups) <= done
                and all(j["status"] != "RUNNING" for j in jobs)):
            break
        if time.monotonic() > deadline:
            raise TimeoutError("Spark UI did not record every run's jobs")
        time.sleep(0.2)
    stage_ids: dict[str, set] = {g: set() for g in groups}
    for j in jobs:
        stage_ids[j["jobGroup"]].update(j["stageIds"])
    stages = _get(base + "/stages")
    out = []
    for g in groups:
        m = {metric: 0.0 for metric, _scale in STAGE_FIELDS.values()}
        for st in stages:
            if st["stageId"] in stage_ids[g] and st["status"] == "COMPLETE":
                for fld, (metric, scale) in STAGE_FIELDS.items():
                    m[metric] += st.get(fld, 0) * scale
        out.append(m)
    return out
