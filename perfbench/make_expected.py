#!/usr/bin/env python3
"""Regenerate ``expected/headline.json``: row count and content digest of
each headline op's output on ``data/sf0.01``.

    python3 perfbench/make_expected.py

The repository's strict DuckDB differential (``tools/diffcheck.py``)
must pass for every headline op on the same tables first; the digests are
then taken from the same engine in the same session. Needs ``duckdb``;
the benchmark itself does not.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SF_DIR = str(HERE / "data" / "sf0.01")
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
    from bench import HEADLINE
    from checks import digest
    from tools.diffcheck import connect_oracle, run_ops

    from australis_indexer_spark.registry import load_all
    from australis_indexer_spark.session import get_session

    ops = load_all()
    spark = get_session("perfbench-expected")
    n_pass, n_fail, n_rowsonly, failures = run_ops(
        spark, connect_oracle(SF_DIR), ops, SF_DIR, only=set(HEADLINE))
    if n_fail or n_rowsonly or n_pass != len(HEADLINE):
        print(f"refusing to store: {n_fail} failed ({failures}), {n_rowsonly} rows-only")
        return 1
    out = {}
    for name in HEADLINE:
        rows, dig = digest(ops[name].fn(spark, SF_DIR).toPandas())
        out[name] = {"rows": rows, "digest": dig}
    (HERE / "expected" / "headline.json").write_text(json.dumps(
        {"data": "data/sf0.01", "checked_by": "tools/diffcheck.py strict DuckDB comparison",
         "ops": out}, indent=1) + "\n")
    print(f"stored {len(out)} digests")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
