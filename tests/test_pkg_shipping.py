"""The package must be shipped to Python workers (sc.addPyFile) so that
executor-side `import ophidia_server_spark` — the mapInPandas codec closures in
io_ops/multimodal and registry's to_png — resolves on a real cluster, not just
when the local-mode worker inherits the driver's cwd of /root/repo.

Reference parity: the reference ships its engine to compute nodes via its
resource manager (oph_rmanager.c:564-632); our equivalent is Spark pyFiles.
"""

import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pkg_zip_contents():
    from ophidia_server_spark.session import _build_pkg_zip

    path = _build_pkg_zip()
    with zipfile.ZipFile(path) as zf:
        names = set(zf.namelist())
    assert "ophidia_server_spark/__init__.py" in names
    assert "ophidia_server_spark/sources/hdf5.py" in names
    assert "ophidia_server_spark/pipeline/multimodal.py" in names
    assert not any("__pycache__" in n for n in names)


def test_session_registers_pyfile(spark):
    assert getattr(spark.sparkContext, "_ophidia_pkg_shipped", False)
    # the zip must be visible in the context's registered files
    listed = [f for f in spark.sparkContext.listFiles if "ophidia_server_spark_pkg.zip" in f]
    assert listed, f"pkg zip not in sc files: {spark.sparkContext.listFiles}"


def test_registry_ships_on_foreign_session(spark):
    """Queries must ship the package even on a session the caller built."""
    spark.sparkContext._ophidia_pkg_shipped = False  # simulate a fresh foreign context
    from ophidia_server_spark.registry import QUERIES

    QUERIES["tpch_q6_forecast_revenue"](spark, "/root/testdata/sf0.001").limit(1).collect()
    assert spark.sparkContext._ophidia_pkg_shipped


_WORKER_IMPORT_SCRIPT = r"""
import os, sys
assert os.getcwd() != {repo!r}, "test must run from a non-repo cwd"
# driver-side import resolves via sys.path (as spark-submit --py-files would);
# the Python *workers* must resolve it via the shipped pyFiles zip.
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "2"
from ophidia_server_spark.session import get_spark
spark = get_spark("pkg-ship-proof")


def probe(it):
    import ophidia_server_spark  # executor-side import
    from ophidia_server_spark.sources import hdf5  # submodule too
    for pdf in it:
        yield pdf

df = spark.range(4).toDF("id")
out = df.mapInPandas(probe, "id long").count()
assert out == 4, out
spark.stop()
print("WORKER_IMPORT_OK")
"""


def test_worker_import_from_foreign_cwd(tmp_path):
    """End-to-end proof: driver launched from a non-repo cwd, PYTHONPATH scrubbed,
    and an executor task still imports the package (via the shipped zip)."""
    script = tmp_path / "probe.py"
    script.write_text(_WORKER_IMPORT_SCRIPT.format(repo=REPO))
    env = dict(os.environ)
    # scrub every env channel that could mask the fix in local mode
    env.pop("PYTHONPATH", None)
    env.pop("SPARK_HOME", None)
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "WORKER_IMPORT_OK" in proc.stdout


def test_advise_shuffle_partitions(spark, tables):
    from ophidia_server_spark.session import advise_shuffle_partitions

    # file-backed plan: scales with bytes, clamped below
    n = advise_shuffle_partitions(tables["lineitem"], target_partition_mb=1)
    assert n >= 8
    tiny = advise_shuffle_partitions(tables["region"], target_partition_mb=128)
    assert tiny == 8  # clamped to the floor
    # a filtered projection still sees the parquet leaves
    m = advise_shuffle_partitions(
        tables["lineitem"].filter("l_orderkey < 10").select("l_orderkey"),
        target_partition_mb=1,
    )
    assert m == n
    # non-file-backed: falls back to the session conf
    mem = spark.range(10)
    assert advise_shuffle_partitions(mem) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


@pytest.mark.parametrize("raw, want", [
    (None, "false"), ("true", "true"), ("1", "true"), ("Yes", "true"), (" on ", "true"),
    ("0", "false"), ("off", "false"), ("FALSE", "false"),
])
def test_df_debugging_env_normalized(monkeypatch, raw, want):
    from ophidia_server_spark.session import _df_debugging

    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_DF_DEBUGGING", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_DF_DEBUGGING", raw)
    assert _df_debugging() == want


def test_df_debugging_env_rejects_unknown(monkeypatch):
    from ophidia_server_spark.session import _df_debugging

    monkeypatch.setenv("SPARK_GRAFT_DF_DEBUGGING", "maybe")
    with pytest.raises(ValueError, match="SPARK_GRAFT_DF_DEBUGGING"):
        _df_debugging()
