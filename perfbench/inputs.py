"""Seeded benchmark inputs, made outside every timed region.

One directory per (rows, seed, synthesizer source) under the work dir
holds the synthesized token table and ``ref.json`` with the values that
pyarrow computes from it: token and row counts and the reference writer's
file size. Nothing the engine under test or Spark computes is cached: the
encode reference is computed in-process once per run, and the content
digest by each run's own session.
"""

from __future__ import annotations

import hashlib
import json
import os

from . import inprocess

ROW_GROUP = 25_000


class Inputs:
    def __init__(self, work: str, rows: int, seed: int):
        from parquet_cpp_spark.sources import tokens

        with open(tokens.__file__, "rb") as f:
            synth = hashlib.sha256(f.read()).hexdigest()[:12]
        self.rows, self.seed = rows, seed
        self.dir = os.path.join(work, "inputs", f"r{rows}_s{seed}_{synth}")
        self.path = os.path.join(self.dir, "tokens.parquet")
        self._ref_path = os.path.join(self.dir, "ref.json")
        self.ref: dict = {}
        self._encode_ref: "dict | None" = None

    @property
    def n_tokens(self) -> int:
        return self.ref["n_tokens"]

    def prepare(self) -> None:
        """Synthesize the table and compute the reference values once."""
        from parquet_cpp_spark.sources.tokens import synthesize_tokens_parquet

        os.makedirs(self.dir, exist_ok=True)
        synthesize_tokens_parquet(self.path, self.rows, self.seed,
                                  row_group_size=ROW_GROUP)
        if os.path.exists(self._ref_path):
            with open(self._ref_path) as f:
                self.ref = json.load(f)
            return
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        table = pq.read_table(self.path)
        ref_file = os.path.join(self.dir, "reference.parquet")
        # the reference writer's defaults: dictionary on, uncompressed
        pq.write_table(table, ref_file, compression="NONE",
                       use_dictionary=True)
        ref_bytes = os.path.getsize(ref_file)
        os.remove(ref_file)
        self.ref = {
            "rows": self.rows, "seed": self.seed,
            "n_rows": table.num_rows,
            "n_tokens": int(pc.sum(table.column("n_tok")).as_py()),
            "reference_file_bytes": ref_bytes,
        }
        self._save()

    def encode_ref(self) -> dict:
        """enc_bytes, token values and (col, codec) histogram of the encode
        closure run in-process over every row group (once per process)."""
        if self._encode_ref is None:
            self._encode_ref = inprocess.encode_summary(
                inprocess.encode_pass(self.path, inprocess.NullTracer()))
        return self._encode_ref

    def _save(self) -> None:
        tmp = self._ref_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.ref, f, sort_keys=True)
        os.replace(tmp, self._ref_path)


def content_digest(df) -> dict:
    """Exact, order-insensitive digest of the token-table rows: the
    decimal sum of Spark's xxhash64 over every column, plus the row
    count."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.sum(F.xxhash64("doc_id", "tokens", "n_tok", "source")
              .cast("decimal(38,0)")).alias("h"),
        F.count("*").alias("n")).collect()[0]
    return {"hash": str(row.h), "rows": int(row.n)}
