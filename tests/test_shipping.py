"""Per-task fixed cost: the stat-checked zip re-reads installed on engine
import, and the one JVM-native descriptor source (``map_descriptors``)
that every descriptor job runs on."""
import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

# importing the package installs the zip stat check
from parquet_cpp_spark.shipping import (install_stat_checked_zip_reads,
                                        slice_items)

needs_311 = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 defers zip re-reads itself; no replacement")


def _write_zip(path, modname: str, source: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{modname}.py", source)


@pytest.fixture
def zip_module(tmp_path, monkeypatch):
    """(zip path, module name, read counter) for a one-module zip on
    sys.path; the counter holds how many times zipimport read the zip's
    directory."""
    modname = f"pcs_zipprobe_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / "probe.zip")
    _write_zip(path, modname, "VALUE = 1\n")
    reads = {"n": 0}
    real = zipimport._read_directory

    def spy(archive):
        if archive == path:
            reads["n"] += 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    monkeypatch.syspath_prepend(path)
    yield path, modname, reads
    sys.modules.pop(modname, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _import_fresh(modname: str):
    sys.modules.pop(modname, None)
    return importlib.import_module(modname)


@needs_311
def test_unchanged_zip_is_not_reread(zip_module):
    _path, modname, reads = zip_module
    assert _import_fresh(modname).VALUE == 1
    importlib.invalidate_caches()   # first call: no recorded stamp yet
    after_first = reads["n"]
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads["n"] == after_first
    assert _import_fresh(modname).VALUE == 1


@needs_311
@pytest.mark.parametrize("source", ["VALUE = 2\n", "VALUE = 222\n"],
                         ids=["same_size", "new_size"])
def test_rewritten_zip_is_reread(zip_module, source):
    path, modname, reads = zip_module
    assert _import_fresh(modname).VALUE == 1
    importlib.invalidate_caches()
    before = reads["n"]
    ino = os.stat(path).st_ino
    mtime = os.stat(path).st_mtime_ns
    _write_zip(path, modname, source)            # in place: same inode
    assert os.stat(path).st_ino == ino
    # a rewrite lands on a later clock tick; pin that so a same-size
    # rewrite inside one coarse filesystem tick cannot make this flaky
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))
    importlib.invalidate_caches()
    assert reads["n"] > before
    assert _import_fresh(modname).VALUE == int(source.split("=")[1])
    settled = reads["n"]
    importlib.invalidate_caches()
    assert reads["n"] == settled


@needs_311
def test_removed_zip_drops_its_directory(zip_module):
    path, modname, _reads = zip_module
    _import_fresh(modname)
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[path]
    os.remove(path)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache


@needs_311
def test_second_install_is_noop(zip_module):
    _path, modname, reads = zip_module
    installed = zipimport.zipimporter.invalidate_caches
    assert installed._pcs_stat_checked
    install_stat_checked_zip_reads()
    assert zipimport.zipimporter.invalidate_caches is installed
    _import_fresh(modname)
    importlib.invalidate_caches()
    after_first = reads["n"]
    importlib.invalidate_caches()
    assert reads["n"] == after_first


def test_empty_slice_yields_nothing():
    import pyarrow as pa

    items = [("a.parquet", 0), ("a.parquet", 1)]
    empty = pa.RecordBatch.from_pydict({"id": pa.array([], pa.int64())})
    assert list(slice_items([], items)) == []
    assert list(slice_items([empty], items)) == []
    ids = pa.RecordBatch.from_pydict({"id": pa.array([1], pa.int64())})
    assert list(slice_items([empty, ids], items)) == [items[1]]


# --- the descriptor source, under Spark --------------------------------

pyspark = pytest.importorskip("pyspark")

CORES = 4


@pytest.fixture(scope="module")
def spark():
    from parquet_cpp_spark.session import get_spark
    return get_spark(master=f"local[{CORES}]", app_name="pcs-shipping",
                     shuffle_partitions=CORES)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_range_source(df, n_items: int, n_slices: int) -> None:
    plan = _plan(df)
    assert f"Range (0, {n_items}, step=1, splits={n_slices})" in plan, plan
    assert "MapInArrow" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_task_items_match_parallelize_slices(spark):
    import pyarrow as pa

    from parquet_cpp_spark.shipping import ensure_shipped, map_descriptors
    ensure_shipped(spark)
    items = [(f"/d/part-{i % 3}.parquet", i) for i in range(7)]

    def fn(descs):
        from pyspark import TaskContext
        task = TaskContext.get().partitionId()
        for pos, (f, rg) in enumerate(descs):
            yield pa.RecordBatch.from_pydict(
                {"task": [task], "pos": [pos], "file": [f], "rg": [rg]})

    for n in (1, 3, len(items), len(items) + 2):
        df = map_descriptors(spark, items, n, fn,
                             "task long, pos long, file string, rg long")
        _assert_range_source(df, len(items), n)
        got = [[] for _ in range(n)]
        for r in sorted(df.collect(), key=lambda r: (r.task, r.pos)):
            got[r.task].append((r.file, r.rg))
        want = [[tuple(x) for x in s] for s in
                spark.sparkContext.parallelize(items, n).glom().collect()]
        assert got == want, n
        # empty slices (n > len(items)) produced no rows at all
        assert {r.task for r in df.collect()} == \
            {i for i, s in enumerate(want) if s}


@pytest.fixture(scope="module")
def token_dir(tmp_path_factory):
    """A 400-row token table in 20 row groups."""
    from parquet_cpp_spark.sources.tokens import synthesize_tokens_parquet
    d = tmp_path_factory.mktemp("tok")
    synthesize_tokens_parquet(str(d / "tok.parquet"), 400, 7,
                              row_group_size=20)
    return str(d)


def test_descriptor_jobs_run_on_range_source(spark, token_dir, tmp_path):
    """Pins the source and slice count of each of the five descriptor
    jobs: a ``Range`` leaf, never a parallelized ``ExistingRDD``."""
    from parquet_cpp_spark.operators.decode_arrow import \
        decode_parquet_direct
    from parquet_cpp_spark.sources.chunk_sink import \
        encode_parquet_direct_sink
    from parquet_cpp_spark.sources.parquet_direct import (
        encode_parquet_direct, list_row_groups, plan_slices)
    from parquet_cpp_spark.sources.parquet_sink import write_parquet_dataset
    from parquet_cpp_spark.sources.record_assembly import \
        read_parquet_dataset

    n_rg = len(list_row_groups(token_dir))
    assert n_rg == 20

    enc = encode_parquet_direct(spark, token_dir)
    _assert_range_source(enc, n_rg, plan_slices(n_rg, CORES, 4))
    chunks = str(tmp_path / "chunks")
    enc.write.parquet(chunks)
    n_files = len([f for f in os.listdir(chunks) if f.endswith(".parquet")])
    dec = decode_parquet_direct(spark, chunks)
    _assert_range_source(dec, n_files, min(n_files, CORES * 2))
    assert dec.count() == 400

    _assert_range_source(
        encode_parquet_direct_sink(spark, token_dir, str(tmp_path / "cs")),
        n_rg, min(n_rg, CORES * 4))
    _assert_range_source(
        write_parquet_dataset(spark, token_dir, str(tmp_path / "pq")),
        n_rg, min(n_rg, CORES * 4))
    _assert_range_source(read_parquet_dataset(spark, token_dir),
                         n_rg, min(n_rg, CORES * 2))
