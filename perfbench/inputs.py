"""Seeded input generators: the only thing the program under test sees.

Everything here is a pure function of ``seed`` (and the scale or file
index): the same seed gives byte-identical parquet tables, SGRF logger
files and query orders, and a different seed changes all three.

Tables mirror the shape of the repository's harness tables (TESTDATA.md)
for the four that the benchmarked queries read: ``events``, ``orders``,
``documents`` and ``embeddings``.  Row counts follow the harness scale
factor: ``sf=0.01`` gives 10 000 events, 15 000 orders, 500 documents
and 500 embeddings.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("events", "orders", "documents", "embeddings")

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
ORDER_STATUS = ("F", "O", "P")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.43, 0.14, 0.15, 0.14, 0.14)
EMBED_DIM = 64

# SGRF logger files: 16 channels x 3 000 rows at 100 Hz (30 s segments),
# 408 KB each -- within the reference's 447.2 KB +-10 % envelope
# (BASELINE.md).  One file in CORRUPT_EVERY is not SGRF.
SGRF_CHANNELS = 16
SGRF_ROWS = 3000
SGRF_RATE_HZ = 100.0
CORRUPT_EVERY = 20
TRANSIENT_S = 10  # the P3 restart-transient cut of the E1 transform
OLE_EPOCH_UNIX = -2209161600.0  # 1899-12-30, the UDBF time base
FILE0_UNIX = 1_718_799_600  # 2024-06-19 12:20:00 UTC

_US = pa.timestamp("us")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def table_rows(sf: float) -> dict[str, int]:
    return {
        "events": max(100, round(1_000_000 * sf)),
        "orders": max(150, round(1_500_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def make_events(seed: int, n: int, n_users: int) -> pa.Table:
    r = _rng(seed, 1)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + r.integers(0, span, n))
    value = np.maximum(np.round(r.exponential(50.0, n), 2), 0.01)
    props = [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": pa.array(ts, _US),
            "user_id": pa.array(r.integers(0, n_users, n).astype("int64")),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


def make_orders(seed: int, n: int, n_customers: int) -> pa.Table:
    r = _rng(seed, 2)
    day0 = np.datetime64("1995-01-01", "D").astype("int64")
    days = day0 + r.integers(0, 2404, n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype="int64")),
            "o_custkey": pa.array(r.integers(0, n_customers, n).astype("int64")),
            "o_orderstatus": pa.array(
                np.asarray(ORDER_STATUS)[r.integers(0, 3, n)]
            ),
            "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500_000.0, n), 2)),
            "o_orderdate": pa.array(days * 86_400_000_000, _US),
            "o_orderpriority": pa.array(
                np.asarray(ORDER_PRIORITY)[r.integers(0, 5, n)]
            ),
        }
    )


def make_documents(seed: int, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary; 5 % are exact
    copies of another document with a trailing ``dup`` token, the
    near-duplicates the dedup queries are there to find."""
    r = _rng(seed, 3)
    vocab = np.asarray(VOCAB)
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)]) for k in r.integers(10, 100, n)]
    for i in np.flatnonzero(r.random(n) < 0.05):
        texts[i] = texts[int(r.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS)[r.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def make_embeddings(seed: int, n: int) -> pa.Table:
    r = _rng(seed, 4)
    x = r.standard_normal((n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n).astype("int32")),
        }
    )


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the four tables as single-row-group parquet files
    ``<out_dir>/<table>.parquet``; returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = table_rows(sf)
    n_users = max(10, round(15_000 * sf))
    tables = {
        "events": make_events(seed, rows["events"], n_users),
        "orders": make_orders(seed, rows["orders"], max(10, round(150_000 * sf))),
        "documents": make_documents(seed, rows["documents"]),
        "embeddings": make_embeddings(seed, rows["embeddings"]),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return rows


def query_order(seed: int, names: list[str], pass_no: int) -> list[str]:
    """The query order of one pass: a seeded permutation per pass."""
    perm = _rng(seed, 5, pass_no).permutation(len(names))
    return [names[i] for i in perm]


# -- SGRF logger files ------------------------------------------------------


def sgrf_channels() -> list[str]:
    # '-' in a raw channel name becomes '_' on decode (DataConverterUDBF).
    return [f"T-T{1 + i // 4}_L{i % 4}" for i in range(SGRF_CHANNELS)]


def sgrf_name(index: int) -> str:
    t = np.datetime64(FILE0_UNIX + 30 * index, "s").astype(object)
    return f"Logger1_{t:%Y-%m-%d_%H-%M-%S}.dat"


def is_corrupt(index: int) -> bool:
    """File 1 of every CORRUPT_EVERY is corrupt, so the untimed warm-up
    drain (files 0 and 1) always routes one healthy and one corrupt
    file, and the timed drain rounds of a run hold healthy files."""
    return index % CORRUPT_EVERY == 1


def sgrf_matrix(seed: int, index: int) -> np.ndarray:
    """(rows x (1 + channels)) float64 matrix; column 0 is the OLE date.
    Values carry 3 decimals (logger resolution).  Every third file
    starts with a 10 s run of zeros, the restart transient the E1
    transform cuts."""
    r = _rng(seed, 7, index)
    t_unix = FILE0_UNIX + 30 * index + np.arange(SGRF_ROWS) / SGRF_RATE_HZ
    ole = (t_unix - OLE_EPOCH_UNIX) / 86_400.0
    base = r.uniform(-50.0, 150.0, SGRF_CHANNELS)
    amp = r.uniform(0.5, 20.0, SGRF_CHANNELS)
    phase = np.arange(SGRF_ROWS)[:, None] * r.uniform(0.001, 0.05, SGRF_CHANNELS)
    vals = base + amp * np.sin(phase) + r.normal(0.0, 0.5, (SGRF_ROWS, SGRF_CHANNELS))
    vals = np.round(vals, 3)
    if index % 3 == 0:
        vals[: TRANSIENT_S * int(SGRF_RATE_HZ)] = 0.0
    return np.column_stack([ole, vals])


def sgrf_bytes(seed: int, index: int) -> bytes:
    """File ``index`` of the backlog: an SGRF container (the layout of
    ``sparkgraft.operators.multimodal.encode_sample_matrix``), or for a
    corrupt file the same number of random bytes behind a UDBF magic."""
    names = "\x00".join(sgrf_channels()).encode()
    head = struct.pack("<IdII", SGRF_CHANNELS, SGRF_RATE_HZ, SGRF_ROWS, len(names))
    body = sgrf_matrix(seed, index).astype("<f8").tobytes()
    if is_corrupt(index):
        noise = _rng(seed, 8, index).bytes(len(head) + len(names) + len(body))
        return b"UDBF" + noise
    return b"SGRF" + head + names + body


def write_sgrf(seed: int, index: int, out_dir: str) -> str:
    path = os.path.join(out_dir, sgrf_name(index))
    with open(path, "wb") as fh:
        fh.write(sgrf_bytes(seed, index))
    return path
