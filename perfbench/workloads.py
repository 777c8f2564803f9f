"""The workloads: one Spark job each, drained and checked.

Every run returns a ``Run`` with its wall time and its output; once the
timed runs are over, each output is checked and a ``Run`` keeps the reason
its check failed (``None`` when it passed). A run that raises or fails its
check counts as failed; it is never dropped.

| name              | job                                               |
|-------------------|---------------------------------------------------|
| encode            | sources.parquet_direct.encode_parquet_direct      |
| decode            | operators.decode_arrow.decode_parquet_direct      |
| shuffle_encode    | plans.encode_job.encode_pipeline over a JVM scan  |
| parquet_roundtrip | parquet_sink.write_parquet_dataset, then          |
|                   | record_assembly.read_parquet_dataset; the JVM     |
|                   | reader on the same files is timed as a reference  |
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from .inputs import content_digest


@dataclass
class Run:
    wall_s: float
    error: "str | None" = None
    got: object = None                           # the output the check reads
    jvm_s: float = 0.0                           # the JVM reference's wall
    parts: dict = field(default_factory=dict)   # sink_s, scan_s, jvm_s
    group: str = ""                              # Spark job group
    stages: dict = field(default_factory=dict)   # traced run: stage metrics


def _chunk_summary(chunks_df) -> dict:
    """Drain a chunk DataFrame into enc_bytes, token values and the
    (col, codec) histogram."""
    from pyspark.sql import functions as F

    rows = chunks_df.groupBy("col", "codec").agg(
        F.count("*").alias("n"), F.sum("enc_bytes").alias("b"),
        F.sum("n_values").alias("v")).collect()
    return {"enc_bytes": sum(int(r.b) for r in rows),
            "tokens": sum(int(r.v) for r in rows if r.col == "tokens"),
            "hist": {f"{r.col}|{r.codec}": int(r.n)
                     for r in sorted(rows, key=lambda r: (r.col, r.codec))}}


@contextmanager
def _jvm_group(spark):
    """Run a JVM reference job outside the run's job group, whose stage
    metrics the traced run reads."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    if group:
        sc.setJobGroup(group + "-jvm", "JVM reference")
    try:
        yield
    finally:
        if group:
            sc.setJobGroup(group, group)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class Workload:
    """A job, drained and timed by ``run``, then a JVM reference job that
    does comparable work with Spark's own reader and exchange, timed right
    after it. Host speed drifts by up to 2x over minutes on a
    shared machine; the ratio of the two walls cancels most of it.

    ``check`` compares a run's output with the values ``reference``
    computes once, after the timed runs, so that no reference job warms
    the JVM before the first set-up is timed."""

    name = ""

    def __init__(self, spark, inputs, work: str):
        self.spark, self.inputs, self.work = spark, inputs, work
        self.state: dict = {}
        self.want = None

    def reference(self) -> None:
        """The source table's content digest, as Spark's reader sees it."""
        self.want = content_digest(self.spark.read.parquet(self.inputs.path))

    def check(self, got) -> "str | None":
        return None if got == self.want else \
            f"{self.name} output {got} != {self.want}"

    def prepare(self) -> None:
        """Set-up work beyond the session and the warm-up run."""

    def job(self) -> Run:
        raise NotImplementedError

    def jvm_job(self, run: Run) -> float:
        """Wall of the JVM reference: Spark's reader scans the table."""
        return _timed(lambda: content_digest(
            self.spark.read.parquet(self.inputs.path)))

    def encoded_bytes(self) -> int:
        """Encoded bytes this workload produces or consumes."""
        raise NotImplementedError

    def run(self) -> Run:
        try:
            r = self.job()
            with _jvm_group(self.spark):
                r.jvm_s = self.jvm_job(r)
            return r
        except Exception as exc:   # a failed run is counted, not dropped
            traceback.print_exc()
            return Run(0.0, f"{type(exc).__name__}: {exc}")


class Encode(Workload):
    name = "encode"

    def reference(self) -> None:
        self.want = self.inputs.encode_ref()

    def job(self) -> Run:
        from parquet_cpp_spark.sources.parquet_direct import \
            encode_parquet_direct
        t0 = time.perf_counter()
        got = _chunk_summary(encode_parquet_direct(self.spark,
                                                   self.inputs.path))
        wall = time.perf_counter() - t0
        self.state["enc_bytes"] = got["enc_bytes"]
        return Run(wall, got=got)

    def encoded_bytes(self) -> int:
        return self.state["enc_bytes"]


class Decode(Workload):
    name = "decode"

    @property
    def chunks_dir(self) -> str:
        return os.path.join(self.work, "chunks")

    def prepare(self) -> None:
        """Write the chunk files from the encode path, once per process:
        in the first set-up."""
        from parquet_cpp_spark.sources.parquet_direct import \
            encode_parquet_direct
        if self.state.get("chunks_written"):
            return
        shutil.rmtree(self.chunks_dir, ignore_errors=True)
        encode_parquet_direct(self.spark, self.inputs.path) \
            .write.parquet(self.chunks_dir)
        self.state["chunks_written"] = True

    def encoded_bytes(self) -> int:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from .inprocess import chunk_files
        return sum(int(pc.sum(pq.read_table(f, columns=["enc_bytes"])
                              .column(0)).as_py())
                   for f in chunk_files(self.chunks_dir))

    def job(self) -> Run:
        from parquet_cpp_spark.operators.decode_arrow import \
            decode_parquet_direct
        t0 = time.perf_counter()
        got = content_digest(decode_parquet_direct(self.spark,
                                                   self.chunks_dir))
        return Run(time.perf_counter() - t0, got=got)


class ShuffleEncode(Workload):
    name = "shuffle_encode"

    def reference(self) -> None:
        """The check needs only the token count."""

    def check(self, got) -> "str | None":
        # the first run checked fixes enc_bytes; every later one repeats it
        first = self.state.setdefault("enc_bytes", got["enc_bytes"])
        if got["tokens"] != self.inputs.n_tokens:
            return f"token values {got['tokens']} != {self.inputs.n_tokens}"
        if got["enc_bytes"] != first:
            return f"enc_bytes {got['enc_bytes']} != first run's {first}"
        return None

    @property
    def n_parts(self) -> int:
        return 4 * self.spark.sparkContext.defaultParallelism

    def job(self) -> Run:
        from parquet_cpp_spark.plans.encode_job import encode_pipeline
        t0 = time.perf_counter()
        got = _chunk_summary(encode_pipeline(
            self.spark.read.parquet(self.inputs.path), self.n_parts))
        return Run(time.perf_counter() - t0, got=got)

    def jvm_job(self, run: Run) -> float:
        """Spark scans the table and moves every row through an exchange
        into as many partitions."""
        return _timed(lambda: content_digest(
            self.spark.read.parquet(self.inputs.path)
            .repartition(self.n_parts)))

    def encoded_bytes(self) -> int:
        return self.state["enc_bytes"]


class ParquetRoundtrip(Workload):
    name = "parquet_roundtrip"

    @property
    def out_dir(self) -> str:
        return os.path.join(self.work, "sink")

    def check(self, got) -> "str | None":
        want_rows = self.inputs.ref["n_rows"]
        if got["rows"] != want_rows:
            return f"sink rows {got['rows']} != {want_rows}"
        if not got["engine"] == got["jvm"] == self.want:
            return (f"digests engine {got['engine']} jvm {got['jvm']} "
                    f"source {self.want}")
        return None

    def job(self) -> Run:
        from pyspark.sql import functions as F

        from parquet_cpp_spark.sources.parquet_sink import \
            write_parquet_dataset
        from parquet_cpp_spark.sources.record_assembly import \
            read_parquet_dataset
        shutil.rmtree(self.out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        m = write_parquet_dataset(
            self.spark, self.inputs.path, self.out_dir, encodings="auto",
            compression=None).agg(F.sum("bytes").alias("b"),
                                  F.sum("n_rows").alias("n")).collect()[0]
        t1 = time.perf_counter()
        engine = content_digest(read_parquet_dataset(self.spark,
                                                     self.out_dir))
        t2 = time.perf_counter()
        with _jvm_group(self.spark):
            jvm = content_digest(self.spark.read.parquet(self.out_dir))
        t3 = time.perf_counter()
        self.state["file_bytes"] = int(m.b)
        return Run(t2 - t0, got={"rows": int(m.n), "engine": engine,
                                 "jvm": jvm},
                   parts={"sink_s": t1 - t0, "scan_s": t2 - t1,
                          "jvm_s": t3 - t2})

    def jvm_job(self, run: Run) -> float:
        """The JVM scan of the engine's files, which the run timed for
        ``scan_vs_jvm``."""
        return run.parts["jvm_s"]

    def encoded_bytes(self) -> int:
        return self.state["file_bytes"]


WORKLOADS = {w.name: w for w in (Encode, Decode, ShuffleEncode,
                                 ParquetRoundtrip)}
