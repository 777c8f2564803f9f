"""In-process span tracing for the traced benchmark run.

Timing wrappers are installed on module attributes, not inside the engine:
``chunk.py``, ``selector.py`` and the sources call the kernels and each
other through module lookups (``delta.encode``, ``selector.candidates``,
``chunk.encode_chunk``), so replacing the attribute reaches every call made
during the traced pass. Each span records name, start, end, parent and the
request id (the row group or file being worked on); spans stay in memory
and are written out once, at the end. An attribute may be dotted
(``hashlib.sha256``): the module the engine module imported is then
replaced, in that engine module only, by a copy whose function is wrapped.

A layer's self time is its span's duration minus its child spans'
durations. Recursive calls (``record_assembly._build``) nest under
themselves and still add up exactly. The root span is the traced pass
itself; its self time is the time no span saw (``bench.other_s``).

Coverage counts only the self time of the wrapped engine functions and of
the benchmark's pyarrow reads, which enclose no engine code. The benchmark's
own span around each whole per-task call (``CATCH_ALL``) is reported as
that module's ``<module>.other_s`` and counts as unattributed, so a
function that loses its wrapper lowers the coverage.
"""

from __future__ import annotations

import importlib
import json
import time
import types

PKG = "parquet_cpp_spark"

# (module, attribute, layer metric). Several functions may share a metric;
# their self times add. A kernel called from inside another kernel is
# charged to the callee, so kernel metrics are self times too.
WRAPPED = [
    # encode side
    ("operators.encode_arrow", "_arrow_column_values", "encode_arrow.extract"),
    ("operators.encode_arrow", "hashlib.sha256", "encode_arrow.task_self"),
    ("selector", "encode_best", "selector.encode_best_self"),
    ("selector", "candidates", "selector.candidates"),
    ("chunk", "encode_chunk", "chunk.encode_self"),
    ("chunk", "build_levels_sections", "kernels.rle.levels_encode"),
    ("kernels.delta", "encode", "kernels.delta.encode"),
    ("kernels.fsst", "encode", "kernels.fsst.encode"),
    ("kernels.dictionary", "encode", "kernels.dictionary.encode"),
    ("kernels.rle", "encode", "kernels.rle.encode"),
    ("kernels.rle", "encode_bit1_ones_with_zeros", "kernels.rle.levels_encode"),
    ("kernels.rle", "encode_length_prefixed", "kernels.rle.levels_encode"),
    ("kernels.plain", "encode_fixed", "kernels.plain.encode"),
    ("kernels.plain", "encode_byte_array", "kernels.plain.encode"),
    ("kernels.plain", "encode_boolean", "kernels.plain.encode"),
    ("kernels.plain", "encode_flba", "kernels.plain.encode"),
    ("kernels.bytearray_codecs", "encode_delta_length",
     "kernels.bytearray.encode"),
    ("kernels.bytearray_codecs", "encode_delta_byte_array",
     "kernels.bytearray.encode"),
    # decode side
    ("chunk", "decode_chunk", "chunk.decode_self"),
    ("kernels.delta", "decode", "kernels.delta.decode"),
    ("kernels.fsst", "decode_view", "kernels.fsst.decode"),
    ("kernels.fsst", "decode", "kernels.fsst.decode"),
    ("kernels.dictionary", "decode", "kernels.dictionary.decode"),
    ("kernels.rle", "decode", "kernels.rle.decode"),
    ("kernels.rle", "decode_length_prefixed", "kernels.rle.decode"),
    ("kernels.plain", "decode_fixed", "kernels.plain.decode"),
    ("kernels.plain", "decode_byte_array_view", "kernels.plain.decode"),
    ("kernels.plain", "decode_byte_array", "kernels.plain.decode"),
    ("kernels.plain", "decode_boolean", "kernels.plain.decode"),
    ("kernels.plain", "decode_flba", "kernels.plain.decode"),
    ("kernels.bytearray_codecs", "decode_delta_length_view",
     "kernels.bytearray.decode"),
    ("kernels.bytearray_codecs", "decode_delta_byte_array_view",
     "kernels.bytearray.decode"),
    ("levels", "lengths_from_bit1_streams", "levels.decode"),
    ("levels", "nested_from_levels", "levels.decode"),
    ("levels", "nullable_from_levels", "levels.decode"),
    ("operators.decode_arrow", "_decode_part", "decode_arrow.assemble_self"),
    # PAR1 sink and engine scan
    ("sources.parquet_sink", "specs_from_arrow", "parquet_sink.specs"),
    ("sources.parquet_sink", "auto_encodings", "parquet_sink.auto_encodings"),
    ("sources.parquet_sink", "file_stats_json", "parquet_sink.task_self"),
    ("sources.parquet_writer", "write_file", "parquet_writer.write_file"),
    ("sources.parquet_format", "read_footer", "parquet_format.read_footer"),
    ("sources.parquet_format", "read_column", "parquet_format.read_column"),
    ("sources.record_assembly", "_build", "record_assembly.build"),
    ("sources.record_assembly", "_assemble_mv", "record_assembly.task_self"),
]

# Spans the benchmark opens itself around its pyarrow reads.
READ_SPANS = [
    "parquet_direct.read",       # row group of the table (encode input)
    "decode_arrow.read",         # one chunk file
    "parquet_sink.read",         # row group of the table (sink input)
]
# Spans the benchmark opens itself around each whole per-task call.
CATCH_ALL = [
    "encode_arrow.other",        # make_arrow_encode_fn() closure, per rg
    "decode_arrow.other",        # decode_arrow._decode_table, per file
    "parquet_sink.other",        # parquet_sink._write_one_file, per split
    "record_assembly.other",     # record_assembly.assemble_file, per file
]
ROOT = "bench.other"

NAMED = {m for _mod, _attr, m in WRAPPED} | set(READ_SPANS)
LAYERS = sorted(NAMED | set(CATCH_ALL) | {ROOT})


class Tracer:
    """Span recorder. ``spans`` rows are [name, start_ns, end_ns,
    parent_index, request_id]; parent -1 marks a root."""

    def __init__(self):
        self.spans: list[list] = []
        self.request = None
        self._stack: list[int] = []
        self._installed: list[tuple] = []
        self.results: dict[str, list] = {}

    def open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter_ns(), 0, parent,
                           self.request])
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter_ns()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span nesting broken: {popped} != {idx}")

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` under a span; generators are drained inside it."""
        idx = self.open(name)
        try:
            out = fn(*args, **kwargs)
            if hasattr(out, "__next__"):
                out = list(out)
            return out
        finally:
            self.close(idx)

    def install(self, keep_results: "dict[str, str] | None" = None) -> None:
        """Wrap every function in ``WRAPPED``. ``keep_results`` maps a
        metric to an attribute of its return value to record (the codec
        each ``selector.encode_best`` call kept)."""
        keep_results = keep_results or {}
        for mod_name, attr, metric in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, _, name = attr.rpartition(".")
            if owner:   # a function of a module the engine module imported
                real = getattr(mod, owner)
                target = types.ModuleType(real.__name__)
                target.__dict__.update(real.__dict__)
                self._installed.append((mod, owner, real))
                setattr(mod, owner, target)
            else:
                target = mod
                self._installed.append((mod, name, getattr(mod, name)))
            setattr(target, name, self._wrapper(
                getattr(target, name), metric, keep_results.get(metric)))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._installed):
            setattr(mod, attr, orig)
        self._installed.clear()

    def _wrapper(self, fn, metric: str, keep: "str | None"):
        tracer = self

        def wrapped(*args, **kwargs):
            idx = tracer.open(metric)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(idx)
            if keep is not None:
                tracer.results.setdefault(metric, []).append(
                    getattr(out, keep))
            return out

        wrapped.__wrapped__ = fn
        return wrapped

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, req in self.spans:
                f.write(json.dumps({"name": name, "start_ns": start,
                                    "end_ns": end, "parent": parent,
                                    "request": req}) + "\n")


def self_times(spans: list) -> tuple[dict[str, float], dict[str, int]]:
    """Per-name self seconds and call counts over a span list. A span's
    self time is its duration minus the durations of its direct
    children."""
    child_ns = [0] * len(spans)
    for name, start, end, parent, _req in spans:
        if parent >= 0:
            child_ns[parent] += end - start
    total: dict[str, float] = {}
    calls: dict[str, int] = {}
    for i, (name, start, end, _parent, _req) in enumerate(spans):
        total[name] = total.get(name, 0.0) + (end - start - child_ns[i]) / 1e9
        calls[name] = calls.get(name, 0) + 1
    return total, calls


def root_wall(spans: list) -> float:
    """Summed duration of the root spans, in seconds."""
    return sum(end - start for _n, start, end, parent, _r in spans
               if parent < 0) / 1e9


def coverage(spans: list) -> float:
    """Share of the traced wall spent in named layers: the wrapped engine
    functions and the pyarrow reads, self times only."""
    self_s, _calls = self_times(spans)
    wall = root_wall(spans)
    return sum(self_s.get(n, 0.0) for n in NAMED) / wall if wall else 0.0
