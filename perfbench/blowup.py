"""The 10x input set of the `scan_10x` workload.

Applies `graft.tools.ScaleCheck`'s deterministic key-offset blow-up to the
fixed input tables and writes the result as one single-row-group parquet
file per table, like the fixed tables themselves. Column types, timestamp
units included, are those of the source files.

    python3 perfbench/blowup.py <src_dir> <out_dir> [copies]
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# table -> [(key column, key domain)]; as in graft.tools.ScaleCheck
KEY_DOMAINS = {
    "lineitem": [("l_orderkey", "order"), ("l_partkey", "part"), ("l_suppkey", "supp")],
    "orders": [("o_orderkey", "order"), ("o_custkey", "cust")],
    "customer": [("c_custkey", "cust")],
    "part": [("p_partkey", "part")],
    "supplier": [("s_suppkey", "supp")],
    "events": [("event_id", "event"), ("user_id", "user")],
    "documents": [("doc_id", "doc")],
    "embeddings": [("vec_id", "vec")],
}


def blow_up(tabs, copies):
    """Every keyed table is repeated `copies` times and copy c adds
    c * (max + 1) to each key of a domain, so copies stay join-consistent
    with each other and disjoint across copies; values, text and timestamps
    are unchanged. Row order is the one ScaleCheck's explode leaves: each
    row, then its copies."""
    base = {}
    for t, cols in KEY_DOMAINS.items():
        for c, d in cols:
            base[d] = max(base.get(d, 0), pc.max(tabs[t][c]).as_py() + 1)
    out = dict(tabs)
    for t, cols in KEY_DOMAINS.items():
        n = tabs[t].num_rows
        rep = tabs[t].take(np.repeat(np.arange(n), copies))
        copy = np.tile(np.arange(copies, dtype=np.int64), n)
        for c, d in cols:
            i = rep.schema.get_field_index(c)
            keys = rep[c].to_numpy() + copy * base[d]
            rep = rep.set_column(i, rep.schema.field(i), pa.array(keys, rep.schema.field(i).type))
        out[t] = rep
    return out


def write(src_dir, out_dir, copies):
    os.makedirs(out_dir, exist_ok=True)
    names = sorted(f[:-len(".parquet")] for f in os.listdir(src_dir) if f.endswith(".parquet"))
    tabs = {n: pq.read_table(os.path.join(src_dir, f"{n}.parquet")) for n in names}
    for name, table in blow_up(tabs, copies).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in KEY_DOMAINS:
            pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        else:
            shutil.copyfile(os.path.join(src_dir, f"{name}.parquet"), path)


if __name__ == "__main__":
    write(sys.argv[1], sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 10)
