"""Extrapolate a larger scale factor from a driver testdata dir (local
measurement tool only — bench.py is FROZEN and the driver generates its own
escalated SF; this replica exists so optimization A/Bs can run at the
driver's measured scale, guide §1).

Usage: python scripts/make_sf_scale.py SRC_DIR DST_DIR FACTOR

Replication strategy (FACTOR integer replicas of the source tables, keys
offset per replica so joins stay intact and dense):

- region/nation: copied (dimensions).
- customer/orders/lineitem/part/supplier/events: replicated with per-domain
  key offsets (custkey, orderkey, partkey, suppkey, event_id, user_id).
- documents: doc_id offset; every whitespace token in replica r>0 gets an
  alphanumeric suffix ("x<r>"), which preserves within-replica token
  equality (and therefore the planted duplicate/cluster structure) exactly
  while making cross-replica shingle overlap zero — without this, replicas
  would weld into FACTOR-sized exact-dup clusters and distort the dedup
  workload. n_chars is recomputed to keep the n_chars == len(text)
  invariant the retrieval queries rely on.
- embeddings: vec_id/label offset; replica r>0 vectors are rotated by a
  seeded random orthogonal matrix Q_r — cosine geometry within a replica is
  exactly preserved, cross-replica similarity collapses to ~0 so near-dup
  pair counts scale linearly like a real corpus.

Output: one parquet file per table with ONE row group, matching the
driver's file layout (this is what makes scans single-task locally and is
exactly the shape __spark_entry__._spread exists to handle).
"""

from __future__ import annotations

import os
import re
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_WS = re.compile(r"(\S+)")


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False, schema=schema)
    pq.write_table(table, path, row_group_size=1 << 30)


def _offset(df: pd.DataFrame, reps: int, cols: dict[str, int]) -> pd.DataFrame:
    out = []
    for r in range(reps):
        part = df.copy()
        for c, domain in cols.items():
            part[c] = part[c] + r * domain
        out.append(part)
    return pd.concat(out, ignore_index=True)


def main(src: str, dst: str, factor: int) -> None:
    os.makedirs(dst, exist_ok=True)
    rd = lambda t: pd.read_parquet(f"{src}/{t}.parquet")
    src_schema = lambda t: pq.ParquetFile(f"{src}/{t}.parquet").schema_arrow

    for t in ("region", "nation"):
        _write(rd(t), f"{dst}/{t}.parquet", src_schema(t))

    cust = rd("customer")
    n_cust = int(cust.c_custkey.max()) + 1
    _write(_offset(cust, factor, {"c_custkey": n_cust}), f"{dst}/customer.parquet", src_schema("customer"))

    sup = rd("supplier")
    n_sup = int(sup.s_suppkey.max()) + 1
    _write(_offset(sup, factor, {"s_suppkey": n_sup}), f"{dst}/supplier.parquet", src_schema("supplier"))

    part = rd("part")
    n_part = int(part.p_partkey.max()) + 1
    _write(_offset(part, factor, {"p_partkey": n_part}), f"{dst}/part.parquet", src_schema("part"))

    orders = rd("orders")
    n_ord = int(orders.o_orderkey.max()) + 1
    _write(
        _offset(orders, factor, {"o_orderkey": n_ord, "o_custkey": n_cust}),
        f"{dst}/orders.parquet", src_schema("orders"),
    )

    li = rd("lineitem")
    _write(
        _offset(li, factor, {"l_orderkey": n_ord, "l_partkey": n_part, "l_suppkey": n_sup}),
        f"{dst}/lineitem.parquet", src_schema("lineitem"),
    )

    ev = rd("events")
    n_evt = int(ev.event_id.max()) + 1
    n_user = int(ev.user_id.max()) + 1
    _write(
        _offset(ev, factor, {"event_id": n_evt, "user_id": n_user}),
        f"{dst}/events.parquet", src_schema("events"),
    )

    docs = rd("documents")
    n_doc = int(docs.doc_id.max()) + 1
    reps = []
    for r in range(factor):
        part_df = docs.copy()
        part_df["doc_id"] = part_df["doc_id"] + r * n_doc
        if r:
            suf = f"x{r}"
            part_df["text"] = part_df["text"].map(
                lambda t: _WS.sub(lambda m: m.group(1) + suf, t)
            )
            part_df["n_chars"] = part_df["text"].str.len().astype("int64")
        reps.append(part_df)
    _write(pd.concat(reps, ignore_index=True), f"{dst}/documents.parquet", src_schema("documents"))

    emb = rd("embeddings")
    n_vec = int(emb.vec_id.max()) + 1
    n_lab = int(emb.label.max()) + 1
    # label is an int32 grouping column: refuse a factor whose shifted
    # labels would silently wrap instead of casting past the range
    if (factor - 1) * n_lab + int(emb.label.max()) > np.iinfo(np.int32).max:
        raise ValueError(f"factor {factor} x {n_lab} labels overflows the int32 label column")
    dim = len(emb.embedding.iloc[0])
    mat = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    reps = []
    for r in range(factor):
        part_df = emb.copy()
        part_df["vec_id"] = part_df["vec_id"] + r * n_vec
        part_df["label"] = (part_df["label"] + r * n_lab).astype("int32")
        if r:
            q, _ = np.linalg.qr(np.random.default_rng(1000 + r).standard_normal((dim, dim)))
            rot = (mat @ q).astype(np.float32)
            part_df["embedding"] = [row for row in rot]
        reps.append(part_df)
    _write(pd.concat(reps, ignore_index=True), f"{dst}/embeddings.parquet", src_schema("embeddings"))

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        pf = pq.ParquetFile(f"{dst}/{t}.parquet")
        print(t, pf.metadata.num_rows, "rows,", pf.metadata.num_row_groups, "row group(s)")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], int(sys.argv[3]))
