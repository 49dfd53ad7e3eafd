"""Scratch output of the round-trip keys lives in one ``pqs_`` root per
process (``operators.common.scratch_dir``), which is removed when the
process exits."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pandas as pd

from tests.util import compare_frames

REPO = str(Path(__file__).resolve().parents[1])

# a stable per-sf path (scan-json), the former fixed shared dir
# (scan-csv), and a fresh per-call dir (write-roundtrip-parquet)
KEYS = ("scan-json", "scan-csv", "write-roundtrip-parquet")


def test_concurrent_processes_keep_scratch_apart_and_remove_it(spark, sf_dir, tmp_path):
    """Two engine processes started together with the same temp dir
    each return the in-process rows, and leave no scratch entry behind
    once they exit."""
    import __spark_entry__ as entrymod

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            import __spark_entry__ as entrymod
            from pyspark.sql import SparkSession

            spark = (
                SparkSession.builder.master("local[2]")
                .appName("scratch_output")
                .config("spark.ui.enabled", "false")
                .config("spark.driver.memory", "1g")
                .getOrCreate()
            )
            queries = entrymod.queries()
            for key in {KEYS!r}:
                queries[key](spark, {sf_dir!r}).toPandas().to_pickle(key + ".pkl")
            """
        )
    )
    env = dict(os.environ, TMPDIR=str(tmp))
    procs = []
    for name in ("a", "b"):
        cwd = tmp_path / name
        cwd.mkdir()
        procs.append(
            (
                cwd,
                subprocess.Popen(
                    [sys.executable, str(script)],
                    cwd=cwd,
                    env=env,
                    stdout=subprocess.PIPE,
                    stderr=subprocess.PIPE,
                    text=True,
                ),
            )
        )
    outs = [(cwd, *p.communicate(timeout=600), p.returncode) for cwd, p in procs]
    for cwd, _out, err, code in outs:
        assert code == 0, f"{cwd.name}: {err[-4000:]}"
        assert "could not remove scratch" not in err, err[-4000:]

    left = sorted(
        e.name for e in tmp.iterdir() if e.name.startswith(("pqs_", "pandasqlite_spark_"))
    )
    assert left == []

    queries = entrymod.queries()
    for key in KEYS:
        want = queries[key](spark, sf_dir).toPandas()
        assert len(want), key
        for cwd, *_ in outs:
            got = pd.read_pickle(cwd / f"{key}.pkl")
            assert compare_frames(got, want) == [], (cwd.name, key)


def test_scratch_dir_stable_and_fresh_paths(tmp_path):
    """With an sf dir the path is stable within the process and keyed
    by the dir's absolute path; without one each call is a new, empty
    directory.  Both sit under the same per-process root."""
    from pandasqlite_spark.operators.common import scratch_dir

    a, b = tmp_path / "x" / "sf1", tmp_path / "y" / "sf1"
    assert scratch_dir("out", str(a)) == scratch_dir("out", str(a) + "/")
    assert scratch_dir("out", str(a)) != scratch_dir("out", str(b))
    fresh = [scratch_dir("rt") for _ in range(2)]
    assert fresh[0] != fresh[1]
    assert all(os.path.isdir(p) and not os.listdir(p) for p in fresh)
    roots = {Path(p).parent for p in fresh} | {
        Path(scratch_dir("out", str(a))).parents[1]
    }
    assert len(roots) == 1
    assert roots.pop().name.startswith("pqs_")
