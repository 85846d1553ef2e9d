"""Session knobs and the one partition-sizing rule — pure Python, no
Spark session."""

import pytest

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
