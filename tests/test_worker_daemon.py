"""The Python worker daemon that ``get_spark`` starts (``pqs_daemon``).

It is the stock ``pyspark.daemon`` except that a task's import-cache
flush re-reads a zip archive only when the archive's stamp changed.  The
patch itself is checked in fresh interpreters, without a JVM; the rest
runs on the engine's session."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

from pandasqlite_spark.session import _DAEMON_DIR, _with_worker_daemon


def _python(code: str, tmp_path) -> str:
    """Run ``code`` in a fresh interpreter with only the daemon directory
    added to its path; returns its stdout."""
    proc = subprocess.run(
        [sys.executable, "-c", f"import sys\nsys.path.insert(0, {_DAEMON_DIR!r})\n" + code],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_daemon_directory_holds_only_the_daemon():
    """The directory goes on the workers' path: it must expose nothing
    but the daemon."""
    assert set(os.listdir(_DAEMON_DIR)) - {"__pycache__"} == {"pqs_daemon.py"}


def test_importing_the_daemon_runs_nothing(tmp_path):
    """Importing the module neither starts the manager nor imports
    pyspark or the engine, and leaves ``zipimport`` as it was."""
    out = _python(
        textwrap.dedent(
            """
            import zipimport
            stock = zipimport.zipimporter.invalidate_caches
            import pqs_daemon
            assert zipimport.zipimporter.invalidate_caches is stock
            print(sorted(m for m in sys.modules if m.split(".")[0] in ("pyspark", "pandasqlite_spark")))
            """
        ),
        tmp_path,
    )
    assert out.strip() == "[]"


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path):
    _write_zip(tmp_path / "mods.zip", {"zmod_a": "VALUE = 1\n"})
    out = _python(
        textwrap.dedent(
            """
            import importlib, os, zipfile, zipimport
            import pqs_daemon
            assert pqs_daemon.install()
            archive = os.path.abspath("mods.zip")
            sys.path.insert(0, archive)
            import zmod_a
            assert zmod_a.VALUE == 1

            reads = []
            read_directory = zipimport._read_directory
            def counted(path):
                reads.append(path == archive)
                return read_directory(path)
            zipimport._read_directory = counted

            importlib.invalidate_caches()  # not stamped yet: one read
            first = sum(reads)
            importlib.invalidate_caches()  # unchanged: no read
            importlib.invalidate_caches()
            unchanged = sum(reads) - first

            with zipfile.ZipFile(archive, "w") as z:
                z.writestr("zmod_a.py", "VALUE = 1\\n")
                z.writestr("zmod_b.py", "VALUE = 2\\n")
            importlib.invalidate_caches()  # new stamp: one read
            rewritten = sum(reads) - first - unchanged
            import zmod_b
            print(first, unchanged, rewritten, zmod_b.VALUE)
            """
        ),
        tmp_path,
    )
    assert out.split() == ["1", "0", "1", "2"]


def test_nothing_is_patched_without_the_zipimport_internals(tmp_path):
    for attr in ("_zip_directory_cache", "_read_directory"):
        out = _python(
            textwrap.dedent(
                f"""
                import zipimport
                stock = zipimport.zipimporter.invalidate_caches
                delattr(zipimport, {attr!r})
                import pqs_daemon
                print(pqs_daemon.install(), zipimport.zipimporter.invalidate_caches is stock)
                """
            ),
            tmp_path,
        )
        assert out.split() == ["False", "True"], attr


def test_daemon_conf_is_for_local_masters_and_merges_pythonpath():
    conf = _with_worker_daemon("local[4]", {"spark.executorEnv.PYTHONPATH": "/a" + os.pathsep + "/b"})
    assert conf["spark.python.daemon.module"] == "pqs_daemon"
    assert conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep) == [_DAEMON_DIR, "/a", "/b"]
    assert _with_worker_daemon("local", {})["spark.executorEnv.PYTHONPATH"] == _DAEMON_DIR
    assert _with_worker_daemon("spark://host:7077", {"x": "1"}) == {"x": "1"}


def test_workers_run_the_patched_daemon_without_the_engine(spark):
    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame(
            {
                "patched_by": [os.path.basename(code.co_filename)],
                "engine_loaded": ["pandasqlite_spark" in sys.modules],
            }
        )

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInPandas(probe, "patched_by string, engine_loaded boolean")
        .collect()
    )
    assert len(rows) == 4
    assert {(r.patched_by, r.engine_loaded) for r in rows} == {("pqs_daemon.py", False)}


def test_files_added_mid_session_import_in_a_udf(spark, tmp_path):
    from pyspark.sql.functions import udf

    tag = uuid.uuid4().hex[:8]
    py_mod, zip_mod = f"pqs_added_py_{tag}", f"pqs_added_zip_{tag}"
    (tmp_path / f"{py_mod}.py").write_text("VALUE = 3\n")
    _write_zip(tmp_path / f"{zip_mod}.zip", {zip_mod: "VALUE = 4\n"})
    # a worker that has already run tasks before the files are added
    spark.range(4).rdd.map(lambda x: x).count()
    sc = spark.sparkContext
    sc.addPyFile(str(tmp_path / f"{py_mod}.py"))
    sc.addPyFile(str(tmp_path / f"{zip_mod}.zip"))

    @udf("long")
    def added(x):
        import importlib

        return x * importlib.import_module(py_mod).VALUE + importlib.import_module(zip_mod).VALUE

    got = sorted(r[0] for r in spark.range(4).select(added("id")).collect())
    assert got == [4, 7, 10, 13]
