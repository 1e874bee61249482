"""The per-task zip re-read stays gone: Python workers run the daemon
whose zip importers skip re-reading unchanged archives."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa

from spatialgraft import pydaemon


def test_workers_run_the_zip_guard(spark):
    def probe(batches):
        import zipimport
        mod = zipimport.zipimporter.invalidate_caches.__module__
        for b in batches:
            yield pa.RecordBatch.from_pydict({"m": [mod] * b.num_rows})

    rows = spark.range(8, numPartitions=2).mapInArrow(
        probe, "m string").collect()
    assert {r.m for r in rows} == {"spatialgraft.pydaemon"}


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_guard_skips_unchanged_and_rereads_rewritten(tmp_path,
                                                         monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"sg_zipguard_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("sg_zipguard_a").X == 1
        importlib.invalidate_caches()  # primes every importer's signature
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"sg_zipguard_a": "X = 1\n",
                             "sg_zipguard_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("sg_zipguard_b").Y == 2
    finally:
        for name in ("sg_zipguard_a", "sg_zipguard_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)

