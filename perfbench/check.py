"""Correctness gates: engine output against an independent reference.

Every gate returns ``None`` when the output matches and a short
description of the first difference otherwise; none of them relies on
``assert``, so they hold under ``python -O`` too.
"""

from __future__ import annotations

import math

import pandas as pd
import pyarrow as pa

DOC_ARROW = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


def canon_docs(df: pd.DataFrame) -> pa.Table:
    """Document rows as an Arrow table sorted by ``doc_id``."""
    df = df[DOC_ARROW.names].copy()
    df["tokens"] = [None if v is None else [int(x) for x in v] for v in df["tokens"]]
    df["n_tok"] = df["n_tok"].astype("Int32")
    t = pa.Table.from_pandas(df, schema=DOC_ARROW, preserve_index=False)
    return t.sort_by("doc_id")


def diff_docs(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    a, e = canon_docs(actual), canon_docs(expected)
    if a.equals(e):
        return None
    if a.num_rows != e.num_rows:
        return f"{a.num_rows} rows, expected {e.num_rows}"
    for name in DOC_ARROW.names:
        ca, ce = a.column(name), e.column(name)
        if not ca.equals(ce):
            for i in range(a.num_rows):
                if ca[i] != ce[i]:
                    return (
                        f"{name} differs at doc_id={a.column('doc_id')[i]}: "
                        f"{ca[i]} vs {ce[i]}"
                    )
    return "tables differ"


def diff_lookup(rows: list, expected: dict | None, key: str) -> str | None:
    """One ``lookup()`` result against the oracle's row (None = absent)."""
    if expected is None:
        return None if not rows else f"{key}: {len(rows)} rows for an absent key"
    if len(rows) != 1:
        return f"{key}: {len(rows)} rows, expected 1"
    r = rows[0].asDict()
    got = (list(r["tokens"]) if r["tokens"] is not None else None, r["n_tok"], r["source"])
    if got != expected_tuple(expected):
        return f"{key}: {got} vs {expected_tuple(expected)}"
    return None


def expected_tuple(row: dict) -> tuple:
    tokens = row["tokens"]
    tokens = None if _missing(tokens) else [int(x) for x in tokens]
    n_tok = None if _missing(row["n_tok"]) else int(row["n_tok"])
    source = None if _missing(row["source"]) else row["source"]
    return (tokens, n_tok, source)


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def diff_frames(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """A query result against its DuckDB oracle, compared as the
    repository's oracle gate compares them (``validate_oracles.canon``:
    columns sorted by name, rows sorted by every column, doubles
    rounded to 9 places)."""
    from scripts.validate_oracles import canon

    sc, sr = canon(spark_df)
    oc, orows = canon(oracle_df)
    if sc != oc:
        return f"columns {sc} vs {oc}"
    if len(sr) != len(orows):
        return f"{len(sr)} rows vs {len(orows)}"
    for i, (a, b) in enumerate(zip(sr, orows)):
        if a != b:
            return f"row {i}: {a} vs {b}"
    return None
