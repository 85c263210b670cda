"""Seeded benchmark inputs.

The base tables under perfbench/data/<scale>/ are the project's synthetic
test tables (TPC-H-like star schema plus events, documents and
embeddings). Seed 42 reproduces them byte for byte. Any other seed changes
every literal input but keeps each workload's work structure:

- ids (order, customer, part, supplier, event, user, document and vector
  keys) are relabelled through a seeded permutation of the ids present,
  the same permutation in every table that holds them, so joins, group
  sizes and range-predicate cardinalities are unchanged;
- row order is shuffled within each table (the file layout is kept: one
  file per table, since the file count sets the scan task count);
- event timestamps move by a seeded whole number of days;
- embeddings are multiplied by a seeded +-1 diagonal mask, which keeps
  every cosine.

Generation runs once per seed, outside any timed window; the result is
cached under the given output directory.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# key domain -> the (table, column) pairs that hold it
KEYS = {
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "event_id": [("events", "event_id")],
    "user_id": [("events", "user_id")],
    "doc_id": [("documents", "doc_id")],
    "vec_id": [("embeddings", "vec_id")],
}

BASE_SEED = 42
DAY_US = 86_400 * 1_000_000


def exact_dup_groups(docs):
    """Number of document texts that occur more than once."""
    counts = pc.value_counts(docs.column("text"))
    return int(pc.sum(pc.greater(counts.field("counts"), 1)).as_py() or 0)


def shape(tables):
    """What a seed may not change: row counts and exact-duplicate groups."""
    return {"rows": {t: tables[t].num_rows for t in TABLES},
            "exact_dup_groups": exact_dup_groups(tables["documents"])}


def _relabel(tables, rng):
    for domain, cols in KEYS.items():
        ids = np.unique(np.concatenate(
            [tables[t].column(c).to_numpy() for t, c in cols]))
        perm = rng.permutation(ids)
        for t, c in cols:
            col = tables[t].column(c)
            new = perm[np.searchsorted(ids, col.to_numpy())]
            i = tables[t].schema.get_field_index(c)
            tables[t] = tables[t].set_column(i, tables[t].schema.field(i),
                                             pa.array(new, type=col.type))


def _shift_events(tables, rng):
    ev = tables["events"]
    i = ev.schema.get_field_index("ts")
    ts = ev.column(i)
    unit = ts.type.unit
    per_us = {"us": 1, "ns": 1000, "ms": None, "s": None}[unit]
    if per_us is None:
        raise ValueError(f"unexpected events.ts unit {unit}")
    days = int(rng.integers(1, 3650))
    raw = pc.cast(ts, pa.int64()).to_numpy(zero_copy_only=False)
    shifted = pa.array(raw + days * DAY_US * per_us, type=pa.int64()).cast(ts.type)
    tables["events"] = ev.set_column(i, ev.schema.field(i), shifted)


def _mask_embeddings(tables, rng):
    emb = tables["embeddings"]
    i = emb.schema.get_field_index("embedding")
    col = emb.column(i).combine_chunks()
    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    dim = int(lengths[0])
    if not (lengths == dim).all():
        raise ValueError("embeddings have mixed dimensions")
    values = col.values.to_numpy(zero_copy_only=False).reshape(-1, dim)
    mask = rng.choice(np.array([-1, 1], dtype=values.dtype), size=dim)
    masked = pa.ListArray.from_arrays(col.offsets, pa.array((values * mask).ravel(),
                                                            type=col.type.value_type))
    tables["embeddings"] = emb.set_column(i, emb.schema.field(i), masked.cast(col.type))


def generate(base_dir, out_dir, seed):
    """Write the seed's tables to out_dir (once) and return out_dir."""
    done = os.path.join(out_dir, "DONE")
    if os.path.exists(done):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if seed == BASE_SEED:
        for t in TABLES:
            shutil.copyfile(os.path.join(base_dir, f"{t}.parquet"),
                            os.path.join(tmp, f"{t}.parquet"))
    else:
        base = {t: pq.read_table(os.path.join(base_dir, f"{t}.parquet")) for t in TABLES}
        tables = dict(base)
        rng = np.random.default_rng(seed)
        _relabel(tables, rng)
        _shift_events(tables, rng)
        _mask_embeddings(tables, rng)
        for t in TABLES:
            tables[t] = tables[t].take(rng.permutation(tables[t].num_rows))
        if shape(tables) != shape(base):
            raise AssertionError(f"seed {seed} changed the inputs' shape: "
                                 f"{shape(tables)} vs {shape(base)}")
        for t in TABLES:
            pq.write_table(tables[t], os.path.join(tmp, f"{t}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    open(done, "w").close()
    return out_dir

