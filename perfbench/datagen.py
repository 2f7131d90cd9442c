"""Seeded benchmark inputs, written with pyarrow so that no product code runs
while they are made.

Every function is a pure function of its arguments: the same seed writes
byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ["github", "gitlab", "azuredevops", "webhook"]
# payload tokens are drawn above every marker range (severity 10-14,
# resource 100-119, scope 200-207), so a row's markers are exactly the ones
# the generator placed
PAYLOAD_LO, PAYLOAD_HI = 1_000, 50_021
SEQ_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("id", pa.int64()),
    ]
)


def sequence_table(
    rng: np.random.Generator,
    ids: np.ndarray,
    hot_share: float,
    off_layout_share: float = 0.0,
    empty_share: float = 0.0,
    null_share: float = 0.0,
) -> pa.Table:
    """Rows in the sequences schema.  A row's three markers sit at positions
    0-2, except for `off_layout_share` of the rows, which carry one to three
    payload tokens in front of them; `empty_share` / `null_share` of the rows
    have an empty / null token array.  `hot_share` of the rows carry the
    source "github", the rest spread evenly over the other three."""
    n = len(ids)
    n_payload = rng.integers(5, 40, n)
    shift = np.where(rng.random(n) < off_layout_share, rng.integers(1, 4, n), 0)
    kind = rng.random(n)
    empty = kind < empty_share
    null = (kind >= empty_share) & (kind < empty_share + null_share)
    sev = 10 + rng.integers(0, 5, n)
    res = 100 + rng.integers(0, 20, n)
    scp = 200 + rng.integers(0, 8, n)
    lengths = np.where(empty | null, 0, 3 + n_payload)
    flat = rng.integers(PAYLOAD_LO, PAYLOAD_HI, int(lengths.sum())).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    body = ~(empty | null)
    start = offsets[:-1][body] + shift[body]
    flat[start] = sev[body]
    flat[start + 1] = res[body]
    flat[start + 2] = scp[body]
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(flat), mask=pa.array(null)
    )
    hot = rng.random(n) < hot_share
    cold = np.array(SOURCES[1:])[rng.integers(0, 3, n)]
    return pa.table(
        {
            "doc_id": pa.array([f"d{i}" for i in ids]),
            "tokens": tokens,
            "n_tok": pa.array(lengths.astype(np.int32)),
            "source": pa.array(np.where(hot, SOURCES[0], cold)),
            "id": pa.array(ids.astype(np.int64)),
        },
        schema=SEQ_SCHEMA,
    )


def write_skewed_table(path: str, seed: int, rows: int) -> None:
    """The `table_sinks` input: 90% of rows on one source key, one row in ten
    with its markers moved off positions 0-2, 1% empty and 0.5% null token
    arrays."""
    rng = np.random.default_rng([seed, 1])
    table = sequence_table(
        rng, np.arange(rows), hot_share=0.9, off_layout_share=0.1,
        empty_share=0.01, null_share=0.005,
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"), row_group_size=rows // 8 + 1)


def write_stream_files(path: str, seed: int, files: int, rows: int) -> None:
    """`files` parquet files of `rows` on-layout rows; file k holds ids
    [k*rows, (k+1)*rows).  Modification times increase with k, so a file
    stream with maxFilesPerTrigger=1 reads file k in batch k."""
    os.makedirs(path, exist_ok=True)
    for k in range(files):
        rng = np.random.default_rng([seed, 2, k])
        table = sequence_table(rng, np.arange(k * rows, (k + 1) * rows), hot_share=0.5)
        f = os.path.join(path, f"part-{k:03d}.parquet")
        pq.write_table(table, f, row_group_size=rows // 4 + 1)
        os.utime(f, (1_700_000_000 + k, 1_700_000_000 + k))


VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
DAY_US = 86_400_000_000


def write_leaf_tables(sf_dir: str, seed: int, sf: float) -> dict[str, int]:
    """The three tables the heavy leaves read (events, documents, embeddings),
    in the layout of the sf0.01 test tables: documents are word salads with a
    5% near-duplicate tail, embeddings are random unit vectors, events are
    uniform over January 2024, in time order.  Returns the row count per table."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(sf_dir, exist_ok=True)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    ev_lo = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        # as in the sf0.01 test tables, ts rises with event_id
        "ts": pa.array(ev_lo + np.sort(rng.integers(0, 30 * DAY_US, n_ev)),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(int(150_000 * sf) // 10, 1), n_ev),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n_doc)]
    for i in rng.choice(n_doc, size=n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    documents = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "zh", "es", "fr", "de"])[
            rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })

    tables = {"events": events, "documents": documents, "embeddings": embeddings}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
