"""Deterministic replica-scaled dataset builder (scale rehearsal only).

The driver's own large-SF dataset is generated by the driver harness with
a per-(sf, id) seed and is NOT reconstructible from the shipped tiers
(verified: sf0.01 ids overlap sf0.1 ids but carry different texts). When
a large tier is needed locally — e.g. to rehearse the driver's sf
escalation after the testdata reset removed its sf1.0 — this tool builds
a K-fold replica of an existing tier with deterministic per-replica
perturbations:

  * documents: doc_id += N*k; the first word of each text is replaced by
    a replica-unique token, so exact-dedup does NOT collapse replicas
    (each replica family instead becomes a near-dup clique — HEAVIER than
    the driver's generator for the dedup family, i.e. a conservative
    stress, not a comparable benchmark).
  * embeddings: vec_id += N*k; one dimension gets a +0.002*k nudge
    (replica families become tight near-dup cliques — same caveat).
  * events: event_id / user_id offset per replica, timestamps unchanged.
  * lineitem + orders: order keys offset per replica; customer/supplier/
    part/nation/region kept fixed (per-customer order counts scale by K).

Numbers from a replica tier are for "does the plan/memory behavior hold
at ~K× rows" checks only and are labeled as such in BENCH/ evidence —
they are NOT comparable to driver-generated tiers of the same size.

Usage: python tools/make_scaled_sf.py SRC_DIR DEST_DIR K
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def main() -> None:
    src, dst, k = Path(sys.argv[1]), Path(sys.argv[2]), int(sys.argv[3])
    dst.mkdir(parents=True, exist_ok=True)

    import pandas as pd

    # documents
    d = pq.read_table(src / "documents.parquet").to_pandas()
    n = len(d)
    outs = []
    for r in range(k):
        c = d.copy()
        c["doc_id"] = c["doc_id"] + n * r
        if r > 0:
            toks = c["text"].fillna("").str.split(" ", n=1)
            c["text"] = [
                f"r{r}x{i} " + (t[1] if len(t) > 1 else "")
                for i, t in zip(c["doc_id"], toks)
            ]
            c["n_chars"] = c["text"].str.len()
        outs.append(c)
    pq.write_table(
        pa.Table.from_pandas(pd.concat(outs, ignore_index=True), preserve_index=False),
        dst / "documents.parquet",
    )

    # embeddings
    e = pq.read_table(src / "embeddings.parquet").to_pandas()
    ne = len(e)
    outs = []
    for r in range(k):
        c = e.copy()
        c["vec_id"] = c["vec_id"] + ne * r
        if r > 0:
            def nudge(row_vec, vid, rr=r):
                v = np.asarray(row_vec, dtype=np.float32).copy()
                v[int(vid) % len(v)] += np.float32(0.002 * rr)
                return v.tolist()
            c["embedding"] = [nudge(v, i) for v, i in zip(c["embedding"], c["vec_id"])]
        outs.append(c)
    pq.write_table(
        pa.Table.from_pandas(pd.concat(outs, ignore_index=True), preserve_index=False),
        dst / "embeddings.parquet",
    )

    # events
    ev = pq.read_table(src / "events.parquet").to_pandas()
    nev, nu = len(ev), int(ev["user_id"].max()) + 1
    outs = []
    for r in range(k):
        c = ev.copy()
        c["event_id"] = c["event_id"] + nev * r
        c["user_id"] = c["user_id"] + nu * r
        outs.append(c)
    pq.write_table(
        pa.Table.from_pandas(pd.concat(outs, ignore_index=True), preserve_index=False),
        dst / "events.parquet",
    )

    # lineitem + orders, keyed consistently
    li = pq.read_table(src / "lineitem.parquet").to_pandas()
    od = pq.read_table(src / "orders.parquet").to_pandas()
    okey = int(max(li["l_orderkey"].max(), od["o_orderkey"].max())) + 1
    outs_l, outs_o = [], []
    for r in range(k):
        cl = li.copy()
        cl["l_orderkey"] = cl["l_orderkey"] + okey * r
        outs_l.append(cl)
        co = od.copy()
        co["o_orderkey"] = co["o_orderkey"] + okey * r
        outs_o.append(co)
    pq.write_table(
        pa.Table.from_pandas(pd.concat(outs_l, ignore_index=True), preserve_index=False),
        dst / "lineitem.parquet",
    )
    pq.write_table(
        pa.Table.from_pandas(pd.concat(outs_o, ignore_index=True), preserve_index=False),
        dst / "orders.parquet",
    )

    for name in ("customer", "part", "supplier", "nation", "region"):
        shutil.copy(src / f"{name}.parquet", dst / f"{name}.parquet")
    (dst / "_DONE").touch()
    print(f"wrote {dst} = {k}x {src}")


if __name__ == "__main__":
    main()
