"""Benchmark inputs. The engine's own generator (`graft.GenData`) writes
one base data set per checkout at a fixed scale factor; each seed's inputs
are that base with one row in twenty of every keyed table dropped by a hash
of (seed, table, key). The seed changes which rows exist, and so every
result, but not the table sizes or value domains the engine's costs depend
on. Lines are dropped with their order, so `lineitem` never refers to an
order the seed removed. Deriving a seed takes about a second."""
import hashlib
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

KEYS = {
    "customer": ("customer", "c_custkey"),
    "supplier": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "orders": ("orders", "o_orderkey"),
    "lineitem": ("orders", "l_orderkey"),
    "events": ("events", "event_id"),
    "documents": ("documents", "doc_id"),
    "embeddings": ("embeddings", "vec_id"),
}


def events_ts_to_timestamp(path):
    """GenData writes events.ts as raw epoch nanoseconds; the DuckDB oracle
    reads it as a parquet TIMESTAMP(NANOS), the type of the engine's own
    test data. The engine reads either form."""
    import pyarrow as pa
    t = pq.read_table(path)
    ts = t.column("ts")
    if not pa.types.is_timestamp(ts.type):
        t = t.set_column(t.schema.get_field_index("ts"), "ts", ts.cast(pa.timestamp("ns")))
        pq.write_table(t, path)


def keep(keys, seed, tag):
    """True for the rows a seed keeps: a splitmix64 hash of the key, salted
    by (seed, table), is not 0 modulo 20."""
    salt = int.from_bytes(hashlib.sha256(f"{seed}:{tag}".encode()).digest()[:8], "big")
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(salt)
        z ^= z >> np.uint64(30)
        z *= np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return z % np.uint64(20) != 0


def derive(base, out, seed):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for f in sorted(os.listdir(base)):
        if not f.endswith(".parquet"):
            continue
        name = f[: -len(".parquet")]
        t = pq.read_table(os.path.join(base, f))
        if name in KEYS:
            tag, key = KEYS[name]
            t = t.filter(keep(t.column(key).to_numpy(), seed, tag))
        pq.write_table(t, os.path.join(tmp, f))
    os.replace(tmp, out)
