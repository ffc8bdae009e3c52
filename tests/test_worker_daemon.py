"""The engine's Python worker daemon (`worker_daemon.py`): an unchanged
archive is not re-read at each task start, a rewritten one still is, the
session's workers fork from the daemon, and workers import the package
whatever the driver's working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from elastik_nearest_neighbors_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"enn_zip_one": "X = 1\n"})
    reads = []
    real_read = worker_daemon._read_directory

    def counting_read(self):
        if self.archive == archive:
            reads.append(self.archive)
        return real_read(self)

    monkeypatch.setattr(worker_daemon, "_read_directory", counting_read)
    monkeypatch.setattr(worker_daemon, "_directories", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("enn_zip_one").X == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1, reads

        # a rewritten archive has a new (st_mtime_ns, st_size): re-read
        _write_zip(archive, {"enn_zip_one": "X = 1\n", "enn_zip_two": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 2, reads
        assert importlib.import_module("enn_zip_two").Y == 2
    finally:
        for name in ("enn_zip_one", "enn_zip_two"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_session_workers_fork_from_the_engine_daemon(spark):
    """get_spark sets spark.python.daemon.module, and it reaches the
    workers: a task's zipimporter.invalidate_caches is the engine's."""
    import pyarrow as pa

    def where(batches):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"file": [fn.__code__.co_filename] * b.num_rows, "name": [fn.__qualname__] * b.num_rows}
            )

    rows = spark.range(0, 2, numPartitions=2).mapInArrow(where, "file string, name string").collect()
    assert len(rows) == 2
    for r in rows:
        assert r.name == "invalidate_caches", r
        assert os.path.samefile(r.file, worker_daemon.__file__), r


def test_workers_import_the_package_from_any_working_directory(tmp_path):
    """A driver whose working directory does not hold the package (it is
    only on the driver's sys.path) still runs the engine's UDFs, and a
    caller's spark.executorEnv.PYTHONPATH still reaches the workers."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "enn_caller_mod.py").write_text("VALUE = 7\n")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from elastik_nearest_neighbors_spark import api
        from elastik_nearest_neighbors_spark.session import get_spark

        spark = get_spark(app_name="enn-cwd", cpus=2, shuffle_partitions=2)
        docs = spark.createDataFrame(
            [(i, [float((i * 7 + j) % 5) for j in range(4)]) for i in range(40)],
            "_id bigint, _aknn_vector array<double>",
        )
        indexed = api.aknn_index(docs, api.aknn_create(docs, nb_tables=2, nb_bits_per_table=2))
        indexed.write.parquet({str(tmp_path / "index")!r})
        rows = api.aknn_search(spark.read.parquet({str(tmp_path / "index")!r}), [0, 1], 10, 3).collect()
        print("ROWS", len(rows))

        import pyarrow as pa

        def caller_mod(batches):
            import enn_caller_mod
            for b in batches:
                yield b.set_column(0, "id", pa.array([enn_caller_mod.VALUE] * b.num_rows, pa.int64()))

        print("CALLER", spark.range(1).mapInArrow(caller_mod, "id bigint").collect()[0].id)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    env["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.executorEnv.PYTHONPATH={extra} pyspark-shell"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ROWS 6" in out.stdout and "CALLER 7" in out.stdout, (out.stdout, out.stderr[-4000:])
