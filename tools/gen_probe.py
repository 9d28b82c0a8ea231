#!/usr/bin/env python3
"""Generate the 100x scale-probe tables under /tmp/probe100x.

The committed test tables top out at sf0.1; graft.Bench runs the gated
queries against this synthetic set to check the 100x scaling story
(SURVEY.md par.6 records the numbers):

  - events:     10M rows / 50k users / 30 days, JSON props
  - embeddings: 50k x 64 float32
  - documents:  sf0.1 documents x10 with fresh doc_ids (dup-dense)

Usage: python3 tools/gen_probe.py [outdir] [sfdir]
Then:  SPARK_GRAFT_SF_DIR=/tmp/probe100x sbt "runMain graft.Bench q_retention q_funnel ..."
"""
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def gen_sf1(out, sfdir):
    """sf1-equivalent set: every sf0.1 table x10 with key-remapped
    replicas (joins stay consistent, results scale ~10x) written as
    MULTI-row-group parquet so scans genuinely fan out.  Usage:
      python3 tools/gen_probe.py sf1 [outdir] [sfdir]
    Then: SPARK_GRAFT_SF_DIR=<outdir> sbt "runMain graft.Bench ..."
    """
    os.makedirs(out, exist_ok=True)
    reps = 10

    def base(df, col):
        return int(df[col].max()) + 1

    def rep(df, offsets, rg, n_reps):
        # dimension tables with NO key offsets must be written once:
        # verbatim copies would duplicate join keys and explode every
        # join through them (nation/region fan out x100)
        parts = []
        for i in range(n_reps):
            p = df.copy()
            for col, b in offsets.items():
                p[col] = p[col] + i * b
            parts.append(p)
        big = pd.concat(parts, ignore_index=True)
        return big, rg

    t = {}
    for name in ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]:
        t[name] = pd.read_parquet(f"{sfdir}/{name}.parquet")
    ck, pk, sk, ok = (base(t["customer"], "c_custkey"),
                      base(t["part"], "p_partkey"),
                      base(t["supplier"], "s_suppkey"),
                      base(t["orders"], "o_orderkey"))
    ek, uk = base(t["events"], "event_id"), base(t["events"], "user_id")
    dk, vk = base(t["documents"], "doc_id"), base(t["embeddings"], "vec_id")
    plan = {
        "region": ({}, 1), "nation": ({}, 4),
        "customer": ({"c_custkey": ck}, 20_000),
        "supplier": ({"s_suppkey": sk}, 2_000),
        "part": ({"p_partkey": pk}, 25_000),
        "orders": ({"o_orderkey": ok, "o_custkey": ck}, 150_000),
        "lineitem": ({"l_orderkey": ok, "l_partkey": pk, "l_suppkey": sk},
                     500_000),
        "events": ({"event_id": ek, "user_id": uk}, 100_000),
        "documents": ({"doc_id": dk}, 5_000),
        "embeddings": ({"vec_id": vk}, 2_000),
    }
    for name, (offsets, rg) in plan.items():
        big, rg = rep(t[name], offsets, rg, 1 if not offsets else reps)
        # keep the driver set's physical types (events ts is ns)
        schema = pq.read_schema(f"{sfdir}/{name}.parquet")
        table = pa.Table.from_pandas(big, schema=schema,
                                     preserve_index=False)
        pq.write_table(table, f"{out}/{name}.parquet", row_group_size=rg)
        print(f"{name}: {len(big)} rows, "
              f"{pq.ParquetFile(f'{out}/{name}.parquet').metadata.num_row_groups} row groups")
    print("generated sf1-equivalent set at", out)


def gen_sf10(out, sf1dir):
    """sf10 subset for the superlinear-risk probe (VERDICT r12 item 5):
    only the tables the five answer-/density-driven heads read.

      - documents x10: doc_id-offset replicas with per-replica TOKEN
        SALTING (every non-empty token of replica i>0 gets a "~i"
        suffix).  Within a replica all pairwise similarities are
        EXACTLY the base corpus's (one global token renaming); across
        replicas jaccard/containment drop to ~0 — so dedup answers
        scale ~linearly in data instead of the x100 identical-replica
        clique blowup, which would measure output materialization,
        not the operator.
      - embeddings x10: vec_id-offset replicas (no probed head reads
        them; kept for completeness).
      - lineitem/part x3: key-offset replicas SHARING the 1000-pos
        interval space, so q_range_join's pair count grows x9 at x3
        data — the superlinear regime the probe is for, at a wall
        cost that stays probe-sized (x10 would be x100 pairs).

    Usage: python3 tools/gen_probe.py sf10 [outdir] [sf1dir]
    """
    os.makedirs(out, exist_ok=True)
    t = {n: pd.read_parquet(f"{sf1dir}/{n}.parquet")
         for n in ["documents", "embeddings", "lineitem", "part"]}

    def salt(text, i):
        return " ".join(tok + f"~{i}" if tok else tok
                        for tok in text.split(" "))

    dk = int(t["documents"].doc_id.max()) + 1
    doc_parts = [t["documents"]]
    for i in range(1, 10):
        p = t["documents"].copy()
        p["doc_id"] = p["doc_id"] + i * dk
        p["text"] = [salt(s, i) for s in p["text"]]
        doc_parts.append(p)
        print(f"documents replica {i} salted", flush=True)
    vk = int(t["embeddings"].vec_id.max()) + 1
    emb_parts = [t["embeddings"]]
    for i in range(1, 10):
        p = t["embeddings"].copy()
        p["vec_id"] = p["vec_id"] + i * vk
        emb_parts.append(p)
    ok = int(t["lineitem"].l_orderkey.max()) + 1
    pk = int(t["part"].p_partkey.max()) + 1
    sk = int(t["lineitem"].l_suppkey.max()) + 1
    li_parts, pt_parts = [], []
    for i in range(3):
        li = t["lineitem"].copy()
        li["l_orderkey"] = li["l_orderkey"] + i * ok
        li["l_partkey"] = li["l_partkey"] + i * pk
        li["l_suppkey"] = li["l_suppkey"] + i * sk
        li_parts.append(li)
        pt = t["part"].copy()
        pt["p_partkey"] = pt["p_partkey"] + i * pk
        pt_parts.append(pt)
    plan = {
        "documents": (doc_parts, 5_000),
        "embeddings": (emb_parts, 2_000),
        "lineitem": (li_parts, 500_000),
        "part": (pt_parts, 25_000),
    }
    for name, (parts, rg) in plan.items():
        big = pd.concat(parts, ignore_index=True)
        schema = pq.read_schema(f"{sf1dir}/{name}.parquet")
        table = pa.Table.from_pandas(big, schema=schema, preserve_index=False)
        pq.write_table(table, f"{out}/{name}.parquet", row_group_size=rg)
        print(f"{name}: {len(big)} rows, "
              f"{pq.ParquetFile(f'{out}/{name}.parquet').metadata.num_row_groups}"
              " row groups", flush=True)
    print("generated sf10 probe subset at", out)


if len(sys.argv) > 1 and sys.argv[1] == "sf1":
    gen_sf1(sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_sf1",
            sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1")
    sys.exit(0)

if len(sys.argv) > 1 and sys.argv[1] == "sf10":
    gen_sf10(sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_sf10",
             sys.argv[3] if len(sys.argv) > 3 else "/tmp/graft_sf1")
    sys.exit(0)

out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/probe100x"
sfdir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
os.makedirs(out, exist_ok=True)
rng = np.random.default_rng(42)

n = 10_000_000
users = rng.integers(0, 50_000, n)
ts = (np.datetime64("2024-01-01")
      + rng.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]")
      ).astype("datetime64[ns]")
types = np.array(["view", "click", "purchase", "signup", "error"])[
    rng.integers(0, 5, n)]
k = rng.integers(0, 100, n)
pq.write_table(pa.table({
    "event_id": pa.array(np.arange(n), pa.int64()),
    "ts": pa.array(ts, pa.timestamp("ns")),
    "user_id": pa.array(users, pa.int64()),
    "event_type": pa.array(types),
    "value": pa.array(rng.random(n) * 100),
    "props": pa.array(np.char.add(np.char.add('{"k": ', k.astype(str)), "}")),
}), f"{out}/events.parquet", row_group_size=500_000)

m = 50_000
emb = (rng.random((m, 64), dtype=np.float32) - 0.5) * 2
pq.write_table(pa.table({
    "vec_id": pa.array(np.arange(m), pa.int64()),
    "embedding": pa.array(list(emb), pa.list_(pa.float32())),
    "label": pa.array(rng.integers(0, 10, m), pa.int32()),
}), f"{out}/embeddings.parquet", row_group_size=5_000)

d = pd.read_parquet(f"{sfdir}/documents.parquet")
big = pd.concat([d.assign(doc_id=d.doc_id + i * 1_000_000) for i in range(10)],
                ignore_index=True)
big.to_parquet(f"{out}/documents.parquet", row_group_size=5_000)
print("generated", out, ":", n, "events,", m, "embeddings,", len(big), "docs")
