"""The `tpch_x16` input: a 16x scale-up of the sf0.1 star schema.

`orders` and `lineitem` are replicated 16 times. Replica r adds
r * (max o_orderkey + 1) to every order key, so each replica is a
disjoint copy of the source orders with their line items. The seed
permutes the row order inside each replica and nothing else: keys, row
multisets and therefore every oracle answer are the same for all seeds.
The dimensions (region, nation, customer, supplier, part) are copied
unchanged. Each table is one parquet file, like the fixtures; the fact
tables get one row group per replica so that a scan can be split.

A stamp file records the seed and the size and mtime of every source
file. The tables are rewritten when the stamp differs.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPLICAS = 16
FACTS = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
DIMENSIONS = ("region", "nation", "customer", "supplier", "part")
TABLES = (*DIMENSIONS, *FACTS)
_STAMP = "STAMP.json"


def _stamp(src_dir: str, seed: int) -> dict:
    files = {}
    for name in TABLES:
        st = os.stat(os.path.join(src_dir, f"{name}.parquet"))
        files[name] = [st.st_size, st.st_mtime_ns]
    return {"replicas": REPLICAS, "seed": seed, "source": files}


def _scale_fact(table: pa.Table, key: str, offset: int, seed: int, out: str) -> None:
    rng = np.random.default_rng(seed)
    n = table.num_rows
    keys = table.column(key)
    idx = table.schema.get_field_index(key)
    with pq.ParquetWriter(out, table.schema) as writer:
        for r in range(REPLICAS):
            part = table.take(pa.array(rng.permutation(n)))
            shifted = pc.add(part.column(key), pa.scalar(r * offset, keys.type))
            writer.write_table(part.set_column(idx, key, shifted), row_group_size=n)


def ensure(src_dir: str, out_dir: str, seed: int) -> float:
    """Make `out_dir` hold the scale-up for `seed`; returns the seconds
    spent writing (0.0 when the existing files were current)."""
    want = _stamp(src_dir, seed)
    stamp_path = os.path.join(out_dir, _STAMP)
    try:
        with open(stamp_path) as fh:
            if json.load(fh) == want:
                return 0.0
    except (OSError, ValueError):
        pass
    t0 = time.perf_counter()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name in DIMENSIONS:
        shutil.copyfile(
            os.path.join(src_dir, f"{name}.parquet"),
            os.path.join(out_dir, f"{name}.parquet"),
        )
    orders = pq.read_table(os.path.join(src_dir, "orders.parquet"))
    offset = pc.max(orders.column("o_orderkey")).as_py() + 1
    for i, (name, key) in enumerate(FACTS.items()):
        table = orders if name == "orders" else pq.read_table(
            os.path.join(src_dir, f"{name}.parquet")
        )
        _scale_fact(table, key, offset, seed * len(FACTS) + i,
                    os.path.join(out_dir, f"{name}.parquet"))
    with open(stamp_path, "w") as fh:
        json.dump(want, fh)
    return time.perf_counter() - t0
