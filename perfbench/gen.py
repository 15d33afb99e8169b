"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow and runs before the engine sees any
data: the engine receives only the files these functions write. The
same seed gives byte-identical rows; file modification times are set
explicitly so the streaming file source admits files in a fixed order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = np.array(["web", "books", "code", "wiki"])

CHANGE_ARROW = pa.schema(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def doc_ids(idx: np.ndarray) -> np.ndarray:
    return np.char.add("doc-", np.char.zfill(idx.astype(str), 8))


def change_events(
    rng: np.random.Generator,
    *,
    n_docs: int,
    n_events: int,
    seq_start: int = 0,
    delete_fraction: float = 0.05,
    hot_fraction: float = 0.01,
    patch_fraction: float = 0.0,
    max_tokens: int = 64,
) -> pa.Table:
    """``n_events`` change events (CHANGE_SCHEMA) over ``n_docs`` keys.

    ``hot_fraction`` of the events go to ``doc-00000000`` (the hot
    key). ``patch_fraction`` of the non-delete events become 'P'
    patches that set either ``source`` alone or ``tokens``+``n_tok``.
    """
    n = n_events
    seq = np.arange(seq_start, seq_start + n, dtype=np.int64)
    idx = rng.integers(0, n_docs, n)
    idx[rng.random(n) < hot_fraction] = 0
    roll = rng.random(n)
    op = np.full(n, "U", dtype=object)
    _, first = np.unique(idx, return_index=True)
    op[first] = "I"
    patch = roll < patch_fraction
    op[patch] = "P"
    delete = roll > 1.0 - delete_fraction
    op[delete] = "D"
    # A patch sets tokens+n_tok (kind 0) or source only (kind 1).
    pkind = rng.integers(0, 2, n)
    has_tokens = ~delete & ~(patch & (pkind == 1))
    has_source = ~delete & ~(patch & (pkind == 0))

    lens = rng.integers(1, max_tokens + 1, n).astype(np.int32)
    lens[~has_tokens] = 0
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    flat = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(flat), mask=pa.array(~has_tokens)
    )
    n_tok = pa.array(lens, mask=~has_tokens)
    source = pa.array(SOURCES[rng.integers(0, 4, n)], mask=~has_source)
    jitter = rng.integers(-60, 61, n)
    ts = (np.datetime64("2026-01-01T00:00:00", "us")
          + (seq + jitter).astype("timedelta64[s]"))
    return pa.Table.from_arrays(
        [
            pa.array(seq),
            pa.array(op.astype(str)),
            pa.array(doc_ids(idx)),
            tokens,
            n_tok,
            source,
            pa.array(ts),
        ],
        schema=CHANGE_ARROW,
    )


def write_change_log(
    out_dir: str,
    events: pa.Table,
    rng: np.random.Generator,
    *,
    n_chunks: int,
    files_per_chunk: int,
    dup_fraction: float = 0.0,
    shuffle_window: int = 0,
) -> list[str]:
    """Write ``events`` as ``n_chunks`` delivery chunks of exactly
    ``files_per_chunk`` parquet files each (``chunk=K/part-F.parquet``,
    one row group per file).

    ``shuffle_window`` moves each event up to that many positions
    across chunk boundaries (out-of-order delivery); ``dup_fraction``
    re-delivers a slice of events in the next chunk. The layout is a
    property of these parameters only, never of the host's cores.
    Returns the file paths in admission order.
    """
    n = events.num_rows
    pos = np.arange(n)
    if shuffle_window:
        pos = pos + rng.integers(-shuffle_window, shuffle_window + 1, n)
    per = max(1, n // n_chunks)
    chunk = np.clip(pos // per, 0, n_chunks - 1)
    rows = np.arange(n)
    dup = rng.random(n) < dup_fraction
    rows = np.concatenate([rows, rows[dup]])
    chunk = np.concatenate([chunk, np.minimum(chunk[dup] + 1, n_chunks - 1)])
    part = rng.integers(0, files_per_chunk, len(rows))
    t0 = 1_700_000_000
    paths = []
    for c in range(n_chunks):
        cdir = os.path.join(out_dir, f"chunk={c}")
        os.makedirs(cdir, exist_ok=True)
        for f in range(files_per_chunk):
            sel = rows[(chunk == c) & (part == f)]
            path = os.path.join(cdir, f"part-{f:05d}.parquet")
            pq.write_table(events.take(pa.array(sel)), path)
            k = c * files_per_chunk + f
            os.utime(path, (t0 + k, t0 + k))
            paths.append(path)
    return paths

