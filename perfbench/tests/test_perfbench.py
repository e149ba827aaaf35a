"""Self-tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

from bench import HEADLINE  # noqa: E402
from checks import check_replay, check_result, check_sink_counts, digest  # noqa: E402
from inputs import make_block_files, op_order  # noqa: E402
from run import pick_metrics  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_every_metric_name_is_well_formed():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n


def test_a_missing_exercised_metric_is_refused():
    values = {m["name"]: 1.0 for m in SPEC["per_layer"]
              if not m["name"].startswith(("operators.", "op.", "readback.collect_s"))}
    got = pick_metrics(SPEC["per_layer"], values, "backfill")
    assert got.keys() == {m["name"] for m in SPEC["per_layer"]}
    assert got["operators.build_s"]["value"] == 0.0   # not exercised there
    del values["spark.tasks"]
    with pytest.raises(KeyError, match="spark.tasks"):
        pick_metrics(SPEC["per_layer"], values, "backfill")
    with pytest.raises(KeyError, match="op."):
        pick_metrics(SPEC["per_layer"], {}, "headline")


def _frame():
    return pd.DataFrame({"k": [3, 1, 2], "v": [0.5, -0.0, 2.25], "s": ["c", "a", "b"]})


def test_digest_ignores_row_and_column_order():
    a = _frame()
    b = a.iloc[[2, 0, 1]][["s", "v", "k"]]
    assert digest(a) == digest(b)


@pytest.mark.parametrize("col,value", [("k", 4), ("v", 0.0), ("v", 0.5000000000000001), ("s", "d")])
def test_digest_check_rejects_one_perturbed_row(col, value):
    good = _frame()
    rows, dig = digest(good)
    want = {"rows": rows, "digest": dig}
    assert check_result(good, want) is None
    bad = good.copy()
    bad.loc[1, col] = value
    assert check_result(bad, want) is not None


def test_digest_check_rejects_a_missing_row():
    good = _frame()
    rows, dig = digest(good)
    assert check_result(good.iloc[:2], {"rows": rows, "digest": dig})


def _replay(heights):
    return [json.dumps({"block": {"header": {"hash": f"h{h}"}}}) for h in heights]


def test_backfill_check_accepts_the_exact_stream():
    expected = {h: f"h{h}" for h in range(10, 20)}
    hs = sorted(expected)
    assert check_replay(hs, _replay(hs), expected) is None
    assert check_sink_counts(10, 10, 10) is None


def test_backfill_check_rejects_a_dropped_height():
    expected = {h: f"h{h}" for h in range(10, 20)}
    hs = [h for h in sorted(expected) if h != 15]
    assert check_replay(hs, _replay(hs), expected) is not None
    assert check_sink_counts(9, 9, 10) is not None


def test_backfill_check_rejects_a_duplicated_height():
    expected = {h: f"h{h}" for h in range(10, 20)}
    hs = sorted(list(expected) + [15])
    assert check_replay(hs, _replay(hs), expected) is not None
    assert check_sink_counts(11, 10, 10) is not None


def test_backfill_check_rejects_a_foreign_payload():
    expected = {h: f"h{h}" for h in range(10, 20)}
    hs = sorted(expected)
    payloads = _replay(hs)
    payloads[3] = payloads[4]
    assert check_replay(hs, payloads, expected) is not None


def test_one_seed_gives_one_op_order():
    assert op_order(HEADLINE, 7) == op_order(HEADLINE, 7)
    assert sorted(op_order(HEADLINE, 7)) == sorted(HEADLINE)
    assert any(op_order(HEADLINE, 7) != op_order(HEADLINE, s) for s in (8, 9, 10))


def test_one_seed_gives_one_block_set():
    a = make_block_files(7, n_blocks=40, n_files=4)
    assert a == make_block_files(7, n_blocks=40, n_files=4)
    assert a["hashes"] != make_block_files(8, n_blocks=40, n_files=4)["hashes"]


def test_redeliveries_land_in_later_files():
    s = make_block_files(3, n_blocks=101, n_files=4)
    first_file: dict[int, int] = {}
    n_lines = 0
    for i, lines in enumerate(s["files"]):
        for line in lines:
            n_lines += 1
            h = json.loads(line)["block"]["header"]["height"]
            if h in first_file:
                assert first_file[h] < i
            first_file[h] = i
    assert n_lines - len(s["heights"]) == s["redelivered"] > 0
    assert sorted(first_file) == s["heights"]
