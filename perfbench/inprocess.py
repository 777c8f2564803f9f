"""Single-core, in-process passes over a workload's whole input.

Each pass calls the engine's real per-task entry points: the closure from
``operators.encode_arrow.make_arrow_encode_fn()``, ``decode_arrow.
_decode_table``, ``parquet_sink._write_one_file`` and ``record_assembly.
assemble_file``. The only loop re-implemented here is the pyarrow read
that feeds them. The same code runs untraced (``NullTracer``) and traced
(``trace.Tracer``), so the two walls differ only by the tracing.
"""

from __future__ import annotations

import os
import shutil
import time

from .trace import ROOT


class NullTracer:
    """The ``Tracer`` interface with no recording."""

    request = None

    def call(self, _name: str, fn, *args, **kwargs):
        out = fn(*args, **kwargs)
        if hasattr(out, "__next__"):
            out = list(out)
        return out


def _timed(tr, body):
    t0 = time.perf_counter()
    out = tr.call(ROOT, body)
    return time.perf_counter() - t0, out


def encode_pass(path: str, tr) -> list:
    """Encode every row group of ``path`` as a ``sources.parquet_direct``
    task does; returns the chunk record batches."""
    import pyarrow.parquet as pq

    from parquet_cpp_spark.operators.encode_arrow import make_arrow_encode_fn

    encode_fn = make_arrow_encode_fn()
    pf = pq.ParquetFile(path, memory_map=True)
    md = pf.metadata
    sizes = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
    it = pf.iter_batches(batch_size=max(sizes), use_threads=False)
    out = []
    for rg in range(len(sizes)):
        tr.request = f"rg{rg}"
        batch = tr.call("parquet_direct.read", next, it)
        out.extend(tr.call("encode_arrow.other", encode_fn, [batch]))
    return out


def encode_summary(batches: list) -> dict:
    """Total enc_bytes, token values and the (col, codec) histogram."""
    hist: dict[str, int] = {}
    enc_bytes = tokens = 0
    for b in batches:
        for col, codec, nb, nv in zip(b.column("col").to_pylist(),
                                      b.column("codec").to_pylist(),
                                      b.column("enc_bytes").to_pylist(),
                                      b.column("n_values").to_pylist()):
            key = f"{col}|{codec}"
            hist[key] = hist.get(key, 0) + 1
            enc_bytes += nb
            if col == "tokens":
                tokens += nv
    return {"enc_bytes": enc_bytes, "tokens": tokens,
            "hist": dict(sorted(hist.items()))}


def chunk_files(chunks_dir: str) -> list[str]:
    return sorted(os.path.join(chunks_dir, f) for f in os.listdir(chunks_dir)
                  if f.endswith(".parquet"))


def decode_pass(chunks_dir: str, tr) -> int:
    """Decode every chunk file as a ``decode_parquet_direct`` task does;
    returns the decoded row count."""
    import pyarrow.parquet as pq

    from parquet_cpp_spark.operators import decode_arrow

    rows = 0
    for f in chunk_files(chunks_dir):
        tr.request = os.path.basename(f)
        tbl = tr.call("decode_arrow.read", pq.ParquetFile(f).read,
                      columns=["part_id", "col", "blob"], use_threads=False)
        for b in tr.call("decode_arrow.other", decode_arrow._decode_table,
                         tbl):
            rows += b.num_rows
    return rows


def roundtrip_pass(path: str, out_dir: str, tr) -> int:
    """Write each source row group as one engine PAR1 file the way
    ``write_parquet_dataset(encodings="auto", compression=None)`` does,
    then assemble every file back; returns the assembled row count."""
    import pyarrow.parquet as pq

    from parquet_cpp_spark.sources import parquet_sink, record_assembly

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    pf = pq.ParquetFile(path)
    written = []
    for rg in range(pf.metadata.num_row_groups):
        tr.request = f"rg{rg}"
        tbl = tr.call("parquet_sink.read", pf.read_row_group, rg,
                      use_threads=False)
        dest = os.path.join(out_dir, f"part-{rg:05d}.parquet")
        row = tr.call("parquet_sink.other",
                      parquet_sink._write_one_file, tbl,
                      os.path.join(out_dir, f".part-{rg:05d}.inprogress"),
                      dest, None, 2048, None, frozenset(), "auto", 1,
                      frozenset())
        written.append(row[0])
    rows = 0
    for p in written:
        tr.request = os.path.basename(p)
        rows += tr.call("record_assembly.other",
                        record_assembly.assemble_file, p).num_rows
    return rows


def run_pass(workload: str, inputs, chunks_dir: str, scratch: str, tr):
    """(wall seconds, result) of the pass that matches ``workload``.
    ``shuffle_encode`` runs the same encode closure as ``encode``: its
    kernels are identical, only the Spark side differs."""
    if workload in ("encode", "shuffle_encode"):
        return _timed(tr, lambda: encode_pass(inputs.path, tr))
    if workload == "decode":
        return _timed(tr, lambda: decode_pass(chunks_dir, tr))
    return _timed(tr, lambda: roundtrip_pass(inputs.path, scratch, tr))
