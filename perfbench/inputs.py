"""Seeded benchmark inputs and their expected outputs.

The program only ever sees the files written here. Everything is cached
under the benchmark's work directory, keyed by workload, seed, the
fixture generator's GEN_VERSION, this module's INPUT_VERSION and a hash
of the program's source (expected outputs come from the program's own
sequential replay and DuckDB oracle SQL, so a program change rebuilds
them), so a repeated seed costs nothing and generation never lands in a
timed or set-up figure.

street_mixed
    A pool of POOL_PER_TOPOLOGY documents of each of the 21 light
    topologies from ``sources.fixtures.build_document`` (which cycles
    topologies by index and jitters every node), replayed once through
    the zero-Spark ``plans.sequential`` twin of the flagship for the
    expected features. A seed picks PER_TOPOLOGY documents of every
    topology from the pool, so each seed has the same mix as the sf0.x
    corpora but its own documents; one of each topology, first, is split
    into STREAM_FILES parquet files for the traced streaming drain.

text_side
    The sf0.1 documents / embeddings / events tables bench.py's side
    queries run on, copied unchanged into the benchmark's sf0.1
    directory. A seed only permutes the rows, so the content, and with
    it every DuckDB oracle answer, is seed-independent and is computed
    once per checkout.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import pickle
import random
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from osm2streets_spark.sources.fixtures import (
    GEN_VERSION, SPAN_TYPE, TOPOLOGIES, build_document,
)
from osm2streets_spark.xxh import xxhash64

INPUT_VERSION = "8"

N_TOPOLOGIES = len(TOPOLOGIES)
PER_TOPOLOGY = 10
N_STREET_DOCS = PER_TOPOLOGY * N_TOPOLOGIES
POOL_PER_TOPOLOGY = 50
_STREET_POOL_SEED = 42
STREAM_FILES = 4  # one micro-batch: stream_street_network takes 4 per trigger

TEXT_QUERIES = ("dd_minhash_lsh", "sim_ann_topk", "ta_fingerprint",
                "ta_quality", "ev_window", "dd_exact")
TEXT_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "sf0.1")
TEXT_TABLES = ("documents", "embeddings", "events")

FEATURE_COLS = ("doc_id", "feature_type", "feature_id", "feature_json",
                "tile_z", "tile_x", "tile_y", "quadkey")
FEATURE_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("feature_type", pa.string()),
    ("feature_id", pa.int64()), ("feature_json", pa.string()),
    ("tile_z", pa.int32()), ("tile_x", pa.int64()), ("tile_y", pa.int64()),
    ("quadkey", pa.string()),
])


def _cached_dir(root: str, name: str, build) -> str:
    """Return root/name, building it through a temporary sibling and an
    atomic rename so an interrupted build never leaves a half cache."""
    out = os.path.join(root, name)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, out)
    return out


def _docs_table(docs: list[dict]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
        "spans": pa.array([d["spans"] for d in docs], SPAN_TYPE),
    })


def expected_features(docs: list[dict], timer=None) -> list[dict]:
    """Replay the documents through the sequential twin of the flagship.
    ``timer`` (a probes.KernelTimer) wraps the kernels while it runs."""
    from osm2streets_spark.plans import sequential as seq

    render = timer.wrap("render", seq.feature_rows) if timer \
        else seq.feature_rows
    rows: list[dict] = []
    for d in docs:
        roads, ints, *_ = seq.convert_document(d["doc_id"], d["spans"])
        rows.extend(render(d["doc_id"], roads, ints))
    return rows


def _row_hash(row: dict) -> int:
    return xxhash64(*(str(row[c]) for c in FEATURE_COLS))


def feature_digest(rows) -> list[int]:
    """[row count, xor, sum of low 31 bits] of Spark's xxhash64 over the
    string form of every feature column: the digest run.digest computes
    in Spark."""
    n = x = low = 0
    for r in rows:
        h = _row_hash(r)
        n, x, low = n + 1, x ^ h, low + (h & 0x7FFFFFFF)
    return [n, x, low]


@functools.cache
def program_key() -> str:
    """Hash of the program's source and of the contract test's
    normalization, the code every expected output depends on."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha1()
    files = [os.path.join(repo, "tests", "test_contract.py")]
    for d, _, names in os.walk(os.path.join(repo, "osm2streets_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, repo).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()[:12]


def _key() -> str:
    return f"{GEN_VERSION}-i{INPUT_VERSION}-p{program_key()}"


def street_indices(seed: int) -> list[int]:
    """Pool indices of the seed's documents: the stream corpus (one of
    each topology) first, then the rest in a seeded order."""
    rng = random.Random(f"street:{seed}")
    picks = [[t + N_TOPOLOGIES * k
              for k in rng.sample(range(POOL_PER_TOPOLOGY), PER_TOPOLOGY)]
             for t in range(N_TOPOLOGIES)]
    rest = [i for p in picks for i in p[1:]]
    rng.shuffle(rest)
    return [p[0] for p in picks] + rest


def street_docs(seed: int) -> list[dict]:
    return [build_document(i, _STREET_POOL_SEED)[0]
            for i in street_indices(seed)]


def _street_pool(out: str) -> None:
    docs = [build_document(i, _STREET_POOL_SEED)[0]
            for i in range(POOL_PER_TOPOLOGY * N_TOPOLOGIES)]
    pq.write_table(pa.Table.from_pylist(expected_features(docs),
                                        FEATURE_SCHEMA),
                   os.path.join(out, "expected.parquet"))


def street_inputs(work: str, seed: int) -> str:
    """Directory holding the seed's documents.parquet, its expected
    features (expected.parquet), the stream/ split of its first
    N_TOPOLOGIES documents, and digest.json with the expected digest of
    both corpora."""
    root = os.path.join(work, "data")
    pool = _cached_dir(root, f"street-pool-{_key()}", _street_pool)

    def build(out):
        docs = street_docs(seed)
        stream = docs[:N_TOPOLOGIES]
        pq.write_table(_docs_table(docs),
                       os.path.join(out, "documents.parquet"))
        os.makedirs(os.path.join(out, "stream"))
        for k in range(STREAM_FILES):
            pq.write_table(_docs_table(stream[k::STREAM_FILES]),
                           os.path.join(out, "stream",
                                        f"part-{k:03d}.parquet"))
        expected = pq.read_table(os.path.join(pool, "expected.parquet"))
        expected = expected.filter(pc.is_in(
            expected["doc_id"], pa.array([d["doc_id"] for d in docs])))
        pq.write_table(expected, os.path.join(out, "expected.parquet"))
        rows = expected.to_pylist()
        stream_ids = {d["doc_id"] for d in stream}
        with open(os.path.join(out, "digest.json"), "w") as fh:
            json.dump({"full": feature_digest(rows),
                       "stream": feature_digest(
                           r for r in rows if r["doc_id"] in stream_ids)},
                      fh)
    return _cached_dir(root, f"street-s{seed}-{_key()}", build)


def load_normalize(repo: str):
    """tests/test_contract.py's type-strict row normalization."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_contract", os.path.join(repo, "tests",
                                           "test_contract.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._normalize


def normalized(pdf, normalize) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    return cols, normalize([tuple(row[c] for c in cols)
                            for row in pdf.to_dict(orient="records")])


def _oracle_answers(tables: str, normalize) -> dict:
    import duckdb

    from osm2streets_spark.plans import registry

    sql = registry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TEXT_TABLES:
            con.execute(f"create view {t} as select * from "
                        f"read_parquet('{tables}/{t}.parquet')")
        return {q: normalized(con.execute(sql[q]).df(), normalize)
                for q in TEXT_QUERIES}
    finally:
        con.close()


def _text_oracle(out: str, normalize) -> None:
    with open(os.path.join(out, "oracle.pkl"), "wb") as fh:
        pickle.dump(_oracle_answers(TEXT_SOURCE, normalize), fh)


def text_inputs(work: str, seed: int, normalize) -> tuple[str, dict]:
    """(directory of the seed's permuted tables, oracle answers by
    query)."""
    root = os.path.join(work, "data")
    base = _cached_dir(root, f"text-oracle-i{INPUT_VERSION}-p{program_key()}",
                       lambda out: _text_oracle(out, normalize))

    def build(out):
        for t in TEXT_TABLES:
            tab = pq.read_table(os.path.join(TEXT_SOURCE, f"{t}.parquet"))
            perm = list(range(tab.num_rows))
            random.Random(f"{seed}:{t}").shuffle(perm)
            pq.write_table(tab.take(pa.array(perm)),
                           os.path.join(out, f"{t}.parquet"))
    data = _cached_dir(root, f"text-s{seed}-i{INPUT_VERSION}", build)
    with open(os.path.join(base, "oracle.pkl"), "rb") as fh:
        return data, pickle.load(fh)
