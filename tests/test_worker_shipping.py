"""Engine code reaches Spark's Python workers by value.

The package registers itself with cloudpickle on import, so every
function or class Spark ships (UDF bodies, Arrow kernels, UDTFs,
stateful processors, Python data sources) travels inside its pickled
command and no worker ever imports ``pandasqlite_spark``."""

from __future__ import annotations

import inspect
import os
import pickle
import subprocess
import sys
import textwrap
from pathlib import Path

import numpy as np
import pandas as pd

from tests.util import compare_frames

REPO = str(Path(__file__).resolve().parents[1])

# one key per Python surface, plus the five multimodal decode keys
SURFACE_KEYS = (
    "pandas-udf-score",  # scalar pandas_udf
    "pandas-udf-grouped-agg",  # grouped-agg pandas_udf
    "grouped-pandas-rank",  # applyInPandas
    "simsearch-pq-adc",  # mapInPandas (_arrow_map)
    "simsearch-ivf-knn-join",  # mapInPandas (_arrow_map)
    "embedding-pca-ok",  # mapInPandas (clustering.py)
    "sketch-heavy-hitters",  # mapInPandas (sketches.py)
    "arrow-batch-quantize",  # mapInArrow
    "udtf-split-sentences",  # UDTF
    "scan-python-datasource",  # batch Python data source, read
    "write-python-datasource",  # batch Python data source, write
    "scan-python-stream-source",  # streaming Python data source
    "events-stateful-profiles",  # applyInPandasWithState
    "events-stateful-profiles-tws",  # transformWithStateInPandas
    "events-streaming-pattern-tws",  # transformWithStateInPandas
    "multimodal-audio-decode",
    "multimodal-decode-image",
    "multimodal-decode-jpeg",
    "multimodal-resize-real",
    "multimodal-video-decode",
)


def _env_without_repo() -> dict[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    )
    return env


def test_python_surfaces_run_outside_repo_on_plain_sessions(spark, sf_dir, tmp_path):
    """Two engine processes started together, each in its own working
    directory outside the checkout with the repo off ``PYTHONPATH``,
    each on a session built with the plain ``SparkSession.builder`` (as
    the external driver builds it, not ``get_spark``): every Python
    surface returns the in-process rows.  In the second process
    ``get_spark`` is called on the already-active session: it reuses
    it, and its workers keep the stock daemon."""
    import __spark_entry__ as entrymod

    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            # before the JVM starts: the package prepares the environment
            # the transformWithStateInPandas runner inherits
            import pandasqlite_spark
            import __spark_entry__ as entrymod
            from pyspark.sql import SparkSession

            spark = (
                SparkSession.builder.master("local[2]")
                .appName("plain_session_outside_repo")
                .config("spark.ui.enabled", "false")
                .config("spark.driver.memory", "1g")
                .getOrCreate()
            )
            if sys.argv[1] == "b":
                assert pandasqlite_spark.get_spark() is spark

            def daemon(batches):
                import zipimport
                import pandas as pd

                for _ in batches:
                    pass
                f = zipimport.zipimporter.invalidate_caches
                yield pd.DataFrame({{"flush": [f.__qualname__]}})

            print(spark.range(1).mapInPandas(daemon, "flush string").first()[0])
            queries = entrymod.queries()
            for key in {SURFACE_KEYS!r}:
                queries[key](spark, {sf_dir!r}).toPandas().to_pickle(key + ".pkl")
            """
        )
    )
    procs = []
    for name in ("a", "b"):
        cwd = tmp_path / name
        cwd.mkdir()
        procs.append(
            (
                cwd,
                subprocess.Popen(
                    [sys.executable, str(script), name],
                    cwd=cwd,
                    env=_env_without_repo(),
                    stdout=subprocess.PIPE,
                    stderr=subprocess.PIPE,
                    text=True,
                ),
            )
        )
    outs = [(cwd, *p.communicate(timeout=900), p.returncode) for cwd, p in procs]
    for cwd, out, err, code in outs:
        assert code == 0, f"{cwd.name}: {err[-4000:]}"
        # a plain session, reused or not, runs the stock worker daemon
        assert out.strip().splitlines()[0] == "zipimporter.invalidate_caches", out

    queries = entrymod.queries()
    for key in SURFACE_KEYS:
        want = queries[key](spark, sf_dir).toPandas()
        assert len(want), key
        for cwd, *_ in outs:
            got = pd.read_pickle(cwd / f"{key}.pkl")
            assert compare_frames(got, want) == [], (cwd.name, key)


def _shipped_calls() -> dict:
    """A few objects Spark ships to workers, each with arguments for one
    call on a tiny input."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from pandasqlite_spark.functions import imaging, multimodal, udfs
    from pandasqlite_spark.functions import similarity as sim
    from pandasqlite_spark.sources import generator
    from pandasqlite_spark.streaming import stateful

    C = np.array([[1e6, 0.0], [0.0, 1e6]])
    cids = np.array([10, 20])
    Q = np.array([[2e6, 1e5], [1e5, 3e6]])
    nq = (Q**2).sum(axis=1)
    op = (cids, C, np.array([100, 200]), cids[sim._ivf_cells(Q, C)], Q, nq)
    X, lens, nulls = sim._scaled_matrix(
        [[3000000, 200000], [100000, 4000000], [None, 3500000]], "scan", 2
    )
    scan = pd.DataFrame({"vec_id": [1, 2, 3], "nn": [9.04e12, 1.601e13, 1.225e13]})
    customers = pd.DataFrame(
        {
            "c_custkey": [1, 2, 3, 4],
            "c_mktsegment": ["A"] * 4,
            "c_acctbal": [5.0, 1.0, 5.0, 3.0],
        }
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
            StructField("last_ms", LongType()),
        ]
    )
    state = GroupState(
        None, 0, -1, GroupStateTimeout.NoTimeout, False, False, False, False,
        False, -1, b"", state_schema,
    )
    events = pd.DataFrame({"value": [1.5, 2.5], "ms": [7, 9]})
    png = imaging.encode_png(np.arange(16, dtype=np.uint8).reshape(4, 4))
    reader = generator.DetGenDataSource({"n": "5", "parts": "2"}).reader(None)
    return {
        "ivf_score_kernel": (sim._ivf_score_kernel, (scan, X, lens, nulls, op)),
        "pct_rank": (udfs._pct_rank, (customers,)),
        "split_sentences": (udfs._SplitSentences().eval, ("One. Two! Three",)),
        "update_profile": (stateful._update_profile, ((7,), iter([events]), state)),
        "decode_image": (multimodal.decode_image, (png,)),
        "detgen_read": (reader.read, (reader.partitions()[1],)),
    }


def _run(calls: dict) -> dict:
    out = {}
    for name, (fn, args) in calls.items():
        r = fn(*args)
        out[name] = list(r) if inspect.isgenerator(r) else r
    return out


def _same(a, b) -> bool:
    if isinstance(a, pd.DataFrame):
        return a.equals(b)
    if isinstance(a, np.ndarray):
        return a.dtype == b.dtype and np.array_equal(a, b)
    if isinstance(a, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def test_engine_functions_pickle_by_value(tmp_path):
    """Shipped engine objects pickle with their code: they load and run
    in ``python -I`` (no ``PYTHONPATH``, no script or working directory
    on ``sys.path``), where the package cannot be imported, and return
    what the in-process objects return.  No JVM is involved."""
    from pyspark import cloudpickle

    (tmp_path / "calls.pkl").write_bytes(cloudpickle.dumps(_shipped_calls()))
    script = tmp_path / "run.py"
    script.write_text(
        "import importlib.util, inspect, pickle, sys\n\n"
        + inspect.getsource(_run)
        + textwrap.dedent(
            """
            assert importlib.util.find_spec("pandasqlite_spark") is None
            with open("calls.pkl", "rb") as f:
                out = _run(pickle.load(f))
            assert not any(m.startswith("pandasqlite_spark") for m in sys.modules)
            with open("out.pkl", "wb") as f:
                pickle.dump(out, f)
            """
        )
    )
    proc = subprocess.run(
        [sys.executable, "-I", str(script)],
        cwd=tmp_path,
        env=_env_without_repo(),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    with open(tmp_path / "out.pkl", "rb") as f:
        got = pickle.load(f)
    want = _run(_shipped_calls())
    assert got.keys() == want.keys()
    for name in want:
        assert _same(got[name], want[name]), name
    assert len(want["ivf_score_kernel"]) == 3
    assert want["split_sentences"] == [(0, "One"), (1, "Two"), (2, "Three")]
    assert want["update_profile"][0]["n_events"].tolist() == [2]
    assert want["decode_image"].shape == (4, 4)
