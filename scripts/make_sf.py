"""Rebuild the sf1.0 measurement corpus from sf0.1 (measurement-only).

The driver's round-end bench may run at an escalated, driver-generated
scale (BENCH_r06 recorded sf=1.0); /root/testdata ships only up to
sf0.1. For local large-scale A/Bs we scale sf0.1 up 10x
deterministically (seed fixed):

- documents: 50k rows sampled from the sf0.1 empirical word
  distribution (31-word vocab, 10-100 words/doc): 49,920 distinct
  texts plus 80 planted duplicate texts (x2) — the 10x scale-up of
  sf0.1's 8-dups-per-5000 rate. The bench queries double this corpus
  in-query (_doubled_docs), giving the 2x-duplicated 100k-doc stream
  every sf1.0 number in OPTIMIZATION_r07.md describes.
- lineitem/orders/customer/supplier/part: replicated 10x with
  consistent key offsets so referential integrity holds.
- events: replicated 10x; event_id/user_id offset per copy, timestamps
  unchanged (10x rows per window, same session shapes per user).
- embeddings: replicated 10x with vec_id offsets.
- region/nation: copied as-is.

This is a measurement fixture only — nothing in the query paths reads
it unless $SPARK_GRAFT_SF_DIR points at it.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SRC = Path("/root/testdata/sf0.1")
DEFAULT_DEST = Path("/root/testdata/sf1.0")
COPIES = 10
SEED = 20260822


def _read(name: str) -> pd.DataFrame:
    return pq.read_table(SRC / f"{name}.parquet").to_pandas()


def _write(df: pd.DataFrame, dest: Path, name: str) -> None:
    # one file, one row group — the same layout the driver ships (the
    # spread gate of queries.load(spread=True), i.e.
    # extraction.load_documents, is what handles it at query time)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        dest / f"{name}.parquet",
        row_group_size=len(df) or 1,
    )


def _replicate(df: pd.DataFrame, key_offsets: dict[str, int]) -> pd.DataFrame:
    out = []
    for i in range(COPIES):
        c = df.copy()
        for col, span in key_offsets.items():
            c[col] = c[col] + i * span
        out.append(c)
    return pd.concat(out, ignore_index=True)


def make_documents(rng: np.random.RandomState) -> pd.DataFrame:
    base = _read("documents")
    words = pd.Series([w for t in base.text.str.split() for w in t])
    vocab = words.value_counts()
    vprob = (vocab / vocab.sum()).to_numpy()
    vwords = vocab.index.to_numpy()
    langs = base.lang.value_counts(normalize=True)
    sources = base.source.value_counts(normalize=True)

    n_distinct = 49_920
    lens = rng.randint(10, 101, size=n_distinct)
    texts = [
        " ".join(rng.choice(vwords, size=n, p=vprob)) for n in lens
    ]
    # plant 80 duplicate texts (x2 each) — 10x sf0.1's planted-dup rate
    texts2 = texts + texts[:80]
    rng.shuffle(texts2)
    lang = rng.choice(langs.index.to_numpy(), size=len(texts2), p=langs.to_numpy())
    source = rng.choice(
        sources.index.to_numpy(), size=len(texts2), p=sources.to_numpy()
    )
    df = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts2), dtype=np.int64),
            "text": texts2,
            "lang": lang,
            "source": source,
        }
    )
    df["n_chars"] = df.text.str.len().astype("int64")
    return df


def main() -> None:
    dest = Path(sys.argv[1]) if len(sys.argv) > 1 else DEFAULT_DEST
    dest.mkdir(parents=True, exist_ok=True)
    rng = np.random.RandomState(SEED)

    for name in ("region", "nation"):
        _write(_read(name), dest, name)

    customer = _read("customer")
    orders = _read("orders")
    lineitem = _read("lineitem")
    supplier = _read("supplier")
    part = _read("part")
    n_cust = int(customer.c_custkey.max()) + 1
    n_ord = int(orders.o_orderkey.max()) + 1
    n_supp = int(supplier.s_suppkey.max()) + 1
    n_part = int(part.p_partkey.max()) + 1

    _write(_replicate(customer, {"c_custkey": n_cust}), dest, "customer")
    _write(
        _replicate(orders, {"o_orderkey": n_ord, "o_custkey": n_cust}),
        dest,
        "orders",
    )
    _write(
        _replicate(
            lineitem,
            {"l_orderkey": n_ord, "l_partkey": n_part, "l_suppkey": n_supp},
        ),
        dest,
        "lineitem",
    )
    _write(_replicate(supplier, {"s_suppkey": n_supp}), dest, "supplier")
    _write(_replicate(part, {"p_partkey": n_part}), dest, "part")

    events = _read("events")
    n_ev = int(events.event_id.max()) + 1
    n_users = int(events.user_id.max()) + 1
    _write(
        _replicate(events, {"event_id": n_ev, "user_id": n_users}),
        dest,
        "events",
    )

    emb = _read("embeddings")
    n_vec = int(emb.vec_id.max()) + 1
    _write(_replicate(emb, {"vec_id": n_vec}), dest, "embeddings")

    _write(make_documents(rng), dest, "documents")
    (dest / "_DONE").write_text("ok\n")
    print(f"wrote {dest}")


if __name__ == "__main__":
    main()
