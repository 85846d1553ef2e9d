"""Session knobs, the one partition-sizing rule and the worker daemon's
zipimport guard; the last tests start Spark sessions."""

import importlib.util
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

from osm2streets_spark import worker_daemon
from osm2streets_spark.session import _env_int, partition_count

# (cores, n_docs) -> partitions per use, as the three sizing rules the
# one rule replaced (load_documents' doc spread, kernel_partitions,
# docs_partitions) computed them; the benchmark's task counts follow
# from these
N_DOCS = (1, 21, 210, 2100, 9600)
EXPECTED = {
    ("docs", 4): (1, 4, 4, 8, 8),
    ("docs", 32): (1, 21, 32, 33, 64),
    ("kernel", 4): (1, 4, 4, 16, 16),
    ("kernel", 32): (1, 21, 32, 33, 128),
    ("text", 4): (1, 1, 2, 16, 16),
    ("text", 32): (1, 1, 2, 17, 75),
}


@pytest.mark.parametrize("use,cores", list(EXPECTED))
def test_partition_count_table(use, cores):
    got = tuple(partition_count(use, n, cores) for n in N_DOCS)
    assert got == EXPECTED[(use, cores)]


@pytest.mark.parametrize("use,cap", [("docs", 2), ("kernel", 4),
                                     ("text", 4)])
def test_partition_count_unknown_n_is_cap(use, cap):
    for cores in (1, 4, 32):
        assert partition_count(use, None, cores) == cap * cores
        assert partition_count(use, 0, cores) == cap * cores


@pytest.mark.parametrize("raw", ["", "abc", "4x", "1.5", "0", "-3", " "])
def test_env_int_falls_back_on_garbage(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", raw)
    assert _env_int("SPARK_GRAFT_TEST_KNOB", 7) == 7


def test_env_int_reads_positive_int(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", " 12 ")
    assert _env_int("SPARK_GRAFT_TEST_KNOB", 7) == 12
    monkeypatch.delenv("SPARK_GRAFT_TEST_KNOB")
    assert _env_int("SPARK_GRAFT_TEST_KNOB", 7) == 7


# --- worker_daemon: the stat-guarded zipimport --------------------------

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A temp zip with one module, and a counter of directory reads."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zmod_a": 1})
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield path, reads
    zipimport._zip_directory_cache.pop(path, None)


def _import_from(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("method,rereads", [
    (worker_daemon.guarded_invalidate_caches, 0),
    (worker_daemon._stock_invalidate_caches, 5),
])
def test_unchanged_archive_is_not_reread(archive, method, rereads):
    """After the first invalidation, the guard reads an unchanged
    archive's directory no more; the stock method (the parametrized
    control) reads it on every call, eagerly (3.11/3.12) or at the next
    lookup (3.13+)."""
    path, reads = archive
    imp = zipimport.zipimporter(path)
    method(imp)
    assert _import_from(imp, "zmod_a").VALUE == 1
    reads.clear()
    for _ in range(5):
        method(imp)
        assert _import_from(imp, "zmod_a").VALUE == 1
    assert len(reads) == rereads


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    imp = zipimport.zipimporter(path)
    worker_daemon.guarded_invalidate_caches(imp)
    assert imp.find_spec("zmod_b") is None
    _write_zip(path, {"zmod_a": 1, "zmod_b": 2})
    reads.clear()
    worker_daemon.guarded_invalidate_caches(imp)
    assert _import_from(imp, "zmod_b").VALUE == 2
    assert reads == [path]


def test_import_does_not_install():
    """Only running the module as __main__ (the daemon) patches
    zipimport; importing it, as this test process did, does not."""
    assert zipimport.zipimporter.invalidate_caches \
        is worker_daemon._stock_invalidate_caches
    assert zipimport.zipimporter.invalidate_caches.__name__ \
        == "invalidate_caches"


def test_every_udf_task_runs_guarded(spark):
    """get_spark's sessions fork Python workers from worker_daemon: a
    pandas UDF sees the guarded method in every task. Checked by
    __name__, since the daemon module runs as __main__, not as
    osm2streets_spark.worker_daemon."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def method_name(ids: pd.Series) -> pd.Series:
        import zipimport
        from pyspark import TaskContext
        tag = (f"{TaskContext.get().partitionId()}:"
               f"{zipimport.zipimporter.invalidate_caches.__name__}")
        return pd.Series([tag] * len(ids))

    n = 8
    got = {r[0] for r in spark.range(0, 4 * n, 1, n)
           .select(method_name("id")).distinct().collect()}
    assert got == {f"{i}:guarded_invalidate_caches" for i in range(n)}


SUBMIT_SMOKE = '''
import pandas as pd
from pyspark.sql.functions import pandas_udf

from osm2streets_spark.session import get_spark

spark = get_spark("submit-smoke", cores=2)


@pandas_udf("string")
def method_name(ids: pd.Series) -> pd.Series:
    import zipimport
    from osm2streets_spark import worker_daemon
    return pd.Series([worker_daemon.guarded_invalidate_caches.__name__
                      + "/" + zipimport.zipimporter.invalidate_caches.__name__]
                     * len(ids))


rows = spark.range(0, 8, 1, 4).select(method_name("id")).distinct().collect()
print("SMOKE", sorted(r[0] for r in rows))
spark.stop()
'''


def test_submit_py_files_from_other_cwd(tmp_path):
    """scripts/submit.sh's shape: the package shipped as a --py-files
    zip, run from a cwd outside the checkout with PYTHONPATH unset. The
    workers' daemon imports the package from that zip before Spark
    ships any --py-files, through the PYTHONPATH get_spark gives them."""
    spark_home = os.environ.get("SPARK_HOME", "")
    submit = os.path.join(spark_home, "bin", "spark-submit")
    if not spark_home or not os.access(submit, os.X_OK):
        submit = shutil.which("spark-submit")
    if not submit:
        pytest.skip("spark-submit not found")
    zpath = tmp_path / "osm2streets_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(os.path.join(REPO, "osm2streets_spark")):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
    script = tmp_path / "smoke.py"
    script.write_text(SUBMIT_SMOKE)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    out = subprocess.run(
        [submit, "--master", "local[2]", "--conf", "spark.ui.enabled=false",
         "--py-files", str(zpath), str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "SMOKE ['guarded_invalidate_caches/guarded_invalidate_caches']" \
        in out.stdout, out.stdout[-2000:]
