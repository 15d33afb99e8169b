"""Self-test of the correctness gates: each must pass on a faithful
output and fail on a deliberately corrupted one.

    python3 perfbench/selftest.py

Needs no Spark: the "engine outputs" are the oracles' own results,
corrupted in one place each. Exits 0 when every gate behaves. Writes
only under perfbench/.work/.
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb
import numpy as np
from pyspark.sql import Row

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import query_suite  # noqa: E402


def _docs(events):
    from ml_data_pipeline_spark.cdc.oracle import expected_state_with_patches

    return expected_state_with_patches(events.to_pandas())


def main() -> int:
    from ml_data_pipeline_spark.cdc.oracle import expected_state

    results = []

    def gate(name, faithful, corrupted):
        ok = faithful is None and corrupted is not None
        results.append(ok)
        print(f"{'ok  ' if ok else 'FAIL'} {name}: faithful={faithful!r} corrupted={str(corrupted)[:70]!r}")

    rng = np.random.default_rng(0)
    ev = gen.change_events(rng, n_docs=200, n_events=2000, hot_fraction=0.01)
    want = expected_state(ev.to_pandas())

    # cdc_serve ingest: read() must equal the oracle's max-seq reduce
    bad = want.copy()
    bad.at[0, "tokens"] = np.append(bad.at[0, "tokens"], 7)
    gate("replayed table (token)", check.diff_docs(want.copy(), want), check.diff_docs(bad, want))
    gate("replayed table (row dropped)", None, check.diff_docs(want.iloc[1:], want))
    bad = want.copy()
    bad.at[3, "source"] = "nowhere"
    gate("replayed table (source)", None, check.diff_docs(bad, want))

    # cdc_serve serving: lookups, absent keys, replica == table
    pev = gen.change_events(rng, n_docs=200, n_events=2000, patch_fraction=0.2)
    state = _docs(pev)
    row = state.iloc[0].to_dict()
    good = [Row(doc_id=row["doc_id"], tokens=list(row["tokens"]), n_tok=int(row["n_tok"]), source=row["source"])]
    wrong = [Row(doc_id=row["doc_id"], tokens=list(row["tokens"])[1:], n_tok=int(row["n_tok"]), source=row["source"])]
    gate("lookup", check.diff_lookup(good, row, row["doc_id"]), check.diff_lookup(wrong, row, row["doc_id"]))
    gate("absent key", check.diff_lookup([], None, "doc-99999999"), check.diff_lookup(good, None, "doc-99999999"))
    gate("replica", check.diff_docs(state.copy(), state), check.diff_docs(state.iloc[:-1], state))

    # query_suite: Spark result == DuckDB oracle, values and row count
    con = duckdb.connect()
    sql = (
        "SELECT l_returnflag, SUM(l_quantity) AS q "
        f"FROM '{query_suite.DATA}/lineitem.parquet' GROUP BY 1"
    )
    oracle = con.sql(sql).df()
    con.close()
    bad = oracle.copy()
    bad.loc[0, "q"] += 1.0
    gate("query_suite value", check.diff_frames(oracle.copy(), oracle), check.diff_frames(bad, oracle))
    gate("query_suite rows", None, check.diff_frames(oracle.iloc[1:], oracle))

    # query_suite: the test data must match its checksums
    d = os.path.join(HERE, ".work", "selftest")
    try:
        shutil.copytree(query_suite.DATA, d)
        path = os.path.join(d, "orders.parquet")
        with open(path, "r+b") as f:
            f.seek(100)
            byte = f.read(1)
            f.seek(100)
            f.write(bytes([byte[0] ^ 1]))
        gate("test data checksum", query_suite.verify_data() or None, query_suite.verify_data(d) or None)
    finally:
        shutil.rmtree(d, ignore_errors=True)

    print("all gates catch corruption" if all(results) else "SELF-TEST FAILED")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
