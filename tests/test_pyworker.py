"""The engine's PySpark daemon (flockdb_spark/pyworker.py): workers skip the
per-task re-read of unchanged zip/jar directories, still see what
``addPyFile`` ships and what changes on disk, and import the engine from
any working directory."""

import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def _one_row(spark, fn):
    """Run ``fn()`` in one Python worker task and return its string result."""
    def task(it):
        import pyarrow as pa

        for _ in it:
            yield pa.RecordBatch.from_pydict({"out": [str(fn())]})

    return spark.range(1).coalesce(1).mapInArrow(task, "out string").collect()[0]["out"]


def test_worker_runs_the_engine_invalidate(spark):
    def where():
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__code__.co_filename

    assert _one_row(spark, where).endswith(os.path.join("flockdb_spark", "pyworker.py"))


def test_unchanged_archive_is_not_reread_and_a_rewritten_zip_is(spark, tmp_path):
    archive = str(tmp_path / "flock_rewrite.zip")
    _write_zip(archive, {"flock_rw_a": "X = 1\n"})

    def probe():
        import importlib
        import sys

        spark_zips = [
            imp for imp in list(sys.path_importer_cache.values())
            if type(imp).__name__ == "zipimporter" and imp.archive.endswith("pyspark.zip")
        ]
        before = [imp._files for imp in spark_zips]
        sys.path.append(archive)
        try:
            a = importlib.import_module("flock_rw_a").X
            with zipfile.ZipFile(archive, "w") as zf:  # rewritten in place
                zf.writestr("flock_rw_a.py", "X = 1\n")
                zf.writestr("flock_rw_b.py", "Y = 2\n")
            importlib.invalidate_caches()
            b = importlib.import_module("flock_rw_b").Y
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop("flock_rw_a", None)
            sys.modules.pop("flock_rw_b", None)
        same = all(imp._files is f for imp, f in zip(spark_zips, before))
        return f"{len(spark_zips)} {same} {a} {b}"

    n, same, a, b = _one_row(spark, probe).split()
    assert int(n) > 0 and same == "True"
    assert (a, b) == ("1", "2")


def test_add_py_file_after_a_first_python_job(spark, tmp_path):
    name = f"flock_addpy_{os.getpid()}"

    def value():
        import importlib

        try:
            return importlib.import_module(name).VALUE
        except ImportError:
            return -1

    assert _one_row(spark, value) == "-1"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 41\n"})
    spark.sparkContext.addPyFile(str(archive))
    try:
        assert _one_row(spark, value) == "41"
    finally:
        sys.modules.pop(name, None)


def test_engine_udfs_run_outside_the_repo_cwd(tmp_path):
    """From another cwd with PYTHONPATH unset, workers import the engine,
    and a configured ``spark.executorEnv.PYTHONPATH`` still reaches them."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "flock_probe_path.py").write_text("VALUE = 7\n")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from flockdb_spark.session import get_spark
        from flockdb_spark.functions import similarity
        spark = get_spark(master="local[2]", shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        emb = spark.createDataFrame(
            [(i, [1.0, float(i % 3), float(i % 5)]) for i in range(20)],
            "vec_id long, embedding array<float>")
        print("ROWS", len(similarity.brute_force_topk(emb, [0, 1], k=3).collect()))
        probe = spark.sparkContext.parallelize([0], 1)
        print("CONFIGURED", probe.map(lambda _: __import__("flock_probe_path").VALUE).collect())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_DRIVER_MEMORY", "1g")
    env["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.executorEnv.PYTHONPATH={extra} pyspark-shell"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS 6" in out.stdout, out.stderr[-3000:]
    assert "CONFIGURED [7]" in out.stdout, out.stderr[-3000:]
