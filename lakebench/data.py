"""Deterministic inputs for the lake benchmark.

The relational tables are seed-independent: the scripted COW and MOR
fixtures built from them are the same for every seed, so they are built
once per checkout and copied per run. The seed chooses only what the
workloads ask of them (delete batches, scan ranges, request order) and the
dedup corpus (salt, texts, increment).

Shapes follow the repository's TPC-H-ish test tables (uniform keys, three
return flags, two line statuses) at a reduced scale; see BENCHMARK.md for
sizes. Record keys are unique by construction, so the fixture's ingest
dedup is a no-op and a pandas replay of the scripted commits is an exact
oracle for the table state.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_ROWS = 150_000
ORDERS_ROWS = LINEITEM_ROWS // 4
KEY_COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]

# dedup corpus: base documents per replica, replicas, and the duplicate mass
DOCS_PER_REPLICA = 500
DOC_REPLICAS = 2
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.02
DOC_ID_STRIDE = 100_000_000  # tools/make_scaled_sf.py replica key stride
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def record_key(df: pd.DataFrame) -> pd.Series:
    """The lake's ``_hoodie_record_key`` for lineitem rows."""
    return df[KEY_COLS].astype(str).agg(":".join, axis=1)


def key_digest(keys) -> tuple[int, int]:
    """(count, sum of crc32) of a key collection: order-independent, and
    computable identically in Spark with ``crc32``."""
    keys = list(keys)
    return len(keys), sum(zlib.crc32(k.encode()) for k in keys)


def write_relational(out_dir: str) -> None:
    """lineitem.parquet and orders.parquet, fixed generator seed."""
    rng = np.random.default_rng(20260101)
    n, no = LINEITEM_ROWS, ORDERS_ROWS
    li = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": (
            np.datetime64("1995-01-02") + rng.integers(0, 2_500, n).astype("timedelta64[D]")
        ).astype("datetime64[us]"),
    }).drop_duplicates(KEY_COLS, ignore_index=True)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, 15_000, no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, no), 2),
        "o_orderdate": (
            np.datetime64("1995-01-01") + rng.integers(0, 2_400, no).astype("timedelta64[D]")
        ).astype("datetime64[us]"),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, no)],
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, df in (("lineitem", li), ("orders", orders)):
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(out_dir, f"{name}.parquet"))


def lineitem_states(sf_dir: str) -> dict[str, pd.DataFrame]:
    """Pandas replay of the scripted lineitem COW timeline (fixtures.py):
    C1 insert, C2 quantity += 100 where partkey % 10 = 0, C3 delete
    suppkey % 17 = 0, C4 delete suppkey % 23 = 0. Returns the rows each
    delete commit removed and the live table after C4."""
    li = pd.read_parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.loc[li.l_partkey % 10 == 0, "l_quantity"] += 100.0
    c3 = li.l_suppkey % 17 == 0
    c4 = ~c3 & (li.l_suppkey % 23 == 0)
    return {
        "c3_deleted": li[c3],
        "c4_deleted": li[c4],
        "live": li[~c3 & ~c4].reset_index(drop=True),
    }


def orders_states(sf_dir: str) -> dict[str, pd.DataFrame]:
    """Pandas replay of the scripted orders MOR timeline: M2 price x 2
    where orderkey % 7 = 0, M3 delete orderkey % 11 = 0."""
    o = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))
    dead = o.o_orderkey % 11 == 0
    return {"m3_deleted": o[dead], "live": o[~dead]}


def _salt(text: str, replica: int, salt: int) -> str:
    """make_scaled_sf.py's word salting: every 7th token replaced with a
    replica-tagged token, at a seed-chosen phase."""
    if replica == 0:
        return text
    return " ".join(
        f"r{replica}s{salt}w{j}" if j % 7 == (replica + salt) % 7 else w
        for j, w in enumerate(text.split(" "))
    )


def write_corpus(path: str, seed: int, per_replica: int | None = None) -> pd.DataFrame:
    """The dedup corpus: ``DOC_REPLICAS`` word-salted replicas of a seeded
    base corpus. The base holds near-duplicates (an earlier document plus
    one token, as in the test data's documents table) and exact-duplicate
    clusters; salting keeps both within each replica and decorrelates
    replicas from one another."""
    rng = np.random.default_rng(seed)
    n = per_replica or DOCS_PER_REPLICA
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < NEAR_DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and kind[i] < NEAR_DUP_FRAC + EXACT_DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    salt = int(rng.integers(0, 7))
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)]
    rows = []
    for r in range(DOC_REPLICAS):
        for i, t in enumerate(texts):
            s = _salt(t, r, salt)
            rows.append((r * DOC_ID_STRIDE + i, s, langs[i], f"src{i % 20}", len(s)))
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return df
