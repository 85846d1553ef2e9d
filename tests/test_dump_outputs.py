"""scripts/dump_outputs.py: the byte-identity check between two
checkouts. Two dumps of the same code must diff clean, and a dump
missing one row must not."""

from __future__ import annotations

import importlib.util
import os
import shutil

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUTPUTS = ["flagship_query", "s_debug_cw_order"]


def _script():
    spec = importlib.util.spec_from_file_location(
        "dump_outputs", os.path.join(ROOT, "scripts", "dump_outputs.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_dump_diff(spark, fixture_dir, tmp_path, capsys):
    dump_outputs = _script()
    a, b, c = (str(tmp_path / d) for d in "abc")
    assert dump_outputs.dump(spark, a, fixture_dir, OUTPUTS) == OUTPUTS
    dump_outputs.dump(spark, b, fixture_dir, OUTPUTS)
    assert dump_outputs.main(["diff", a, b]) == 0
    assert "0 differing" in capsys.readouterr().out

    shutil.copytree(a, c)
    table = pq.read_table(os.path.join(a, OUTPUTS[0]))
    assert table.num_rows > 1
    shutil.rmtree(os.path.join(c, OUTPUTS[0]))
    os.makedirs(os.path.join(c, OUTPUTS[0]))
    pq.write_table(table.slice(1),
                   os.path.join(c, OUTPUTS[0], "part-0.parquet"))
    assert dump_outputs.diff(a, c) == 1
    assert f"{OUTPUTS[0]}: {table.num_rows} / {table.num_rows - 1} rows, " \
        "1 only in A, 0 only in B" in capsys.readouterr().out
