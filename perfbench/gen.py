"""Seeded input generation for the benchmark.

A workload's input is k perturbed replicas of the committed base fixture
(`fixtures/sf0.001`, the TPC-H-ish star schema plus events, documents and
embeddings). The replica rule is the engine's scale-probe rule
(graft.ScaleProbe.replica), restated here so the benchmark does not
depend on engine internals:

  - fact ids get r * 10_000_000 added (doc_id, vec_id, event_id, user_id,
    o_orderkey, l_orderkey), so replicas are disjoint key spaces;
  - documents.text is Caesar-shifted by r*7 mod 26; tier r//26 = 1
    reverses the text, tiers >= 2 also apply a fixed letter scramble
    (tier - 1) times, so every replica's text differs;
  - embeddings are rotated by r mod 64 positions, with a sign-flip
    pattern per tier r//64;
  - dimension tables (region, nation, customer, supplier, part) are
    copied once; events.ts is unchanged.

The seed picks which replicas: r_i = 1 + (seed * k + i) mod 255 for
i in 0..k-1. r = 0 (the fixture itself) is never used, so the engine
never sees the committed file verbatim. Arrow types and encodings of the
base files are kept, so the engine and the DuckDB oracle read the same
schema as the fixtures.
"""
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STRIDE = 10_000_000
FACT_IDS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
}
DIMS = ["region", "nation", "customer", "supplier", "part"]
TABLES = DIMS + list(FACT_IDS)

LOWER = "abcdefghijklmnopqrstuvwxyz"
SCRAMBLE = "qwertyuiopasdfghjklzxcvbnm"


def replica_ids(seed: int, k: int) -> list:
    if not 1 <= k <= 255:
        raise ValueError(f"replicas must be in 1..255, got {k}")
    return [1 + (seed * k + i) % 255 for i in range(k)]


def _scramble_pow(p: int) -> str:
    out = LOWER
    for _ in range(p):
        out = "".join(SCRAMBLE[ord(c) - ord("a")] for c in out)
    return out


def _text_cipher(r: int):
    """str -> str for replica r (identity at r = 0)."""
    sh, tier = (r * 7) % 26, r // 26
    shifted = LOWER[sh:] + LOWER[:sh]
    caesar = str.maketrans(LOWER + LOWER.upper(), shifted + shifted.upper())
    scramble = None
    if tier >= 2:
        a = _scramble_pow(tier - 1)
        scramble = str.maketrans(LOWER + LOWER.upper(), a + a.upper())

    def f(s):
        if s is None:
            return None
        s = s.translate(caesar)
        if scramble is not None:
            s = s.translate(scramble)
        return s[::-1] if tier >= 1 else s
    return f


def _rotate_embeddings(col: pa.ChunkedArray, r: int) -> pa.Array:
    arr = col.combine_chunks()
    dim = 64
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    if pc.any(pc.not_equal(pc.list_value_length(arr), dim)).as_py():
        raise ValueError("embeddings must all have 64 dimensions")
    m = flat.reshape(-1, dim)
    sh = r % dim
    m = np.concatenate([m[:, sh:], m[:, :sh]], axis=1)
    tier = r // dim
    idx = np.arange(dim)
    if tier == 1:
        m = np.where(idx % 2 == 1, -m, m)
    elif tier == 2:
        m = np.where(idx % 2 == 0, -m, m)
    elif tier == 3:
        m = -m
    values = pa.array(m.reshape(-1).astype(flat.dtype), type=arr.type.value_type)
    offsets = pa.array(np.arange(0, len(m) * dim + 1, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, values, type=arr.type)


def replica(name: str, base: pa.Table, r: int) -> pa.Table:
    t = base
    off = r * STRIDE
    for c in FACT_IDS.get(name, []):
        i = t.schema.get_field_index(c)
        t = t.set_column(i, t.schema.field(i), pc.add(t[c], pa.scalar(off, t[c].type)))
    if name == "documents":
        i = t.schema.get_field_index("text")
        f = _text_cipher(r)
        text = pa.array([f(s) for s in t["text"].to_pylist()], type=t.schema.field(i).type)
        t = t.set_column(i, t.schema.field(i), text)
    elif name == "embeddings":
        i = t.schema.get_field_index("embedding")
        t = t.set_column(i, t.schema.field(i), _rotate_embeddings(t["embedding"], r))
    return t


def input_digest(base_dir: str, seed: int, k: int) -> str:
    """sha256 of everything that makes a workload's input: this generator's
    source, the base fixture files and the replica list."""
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    for name in TABLES:
        h.update(name.encode())
        with open(os.path.join(base_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    h.update(json.dumps(replica_ids(seed, k)).encode())
    return h.hexdigest()


def generate(base_dir: str, out_dir: str, seed: int, k: int) -> dict:
    """Writes one parquet file per table into out_dir (atomically, via a
    temp dir) unless a complete set is already there. Returns the manifest:
    replicas, per-table rows and bytes, the generation time, and whether
    the set came from the cache."""
    manifest_path = os.path.join(out_dir, "_input.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            m = json.load(f)
        m["cached"] = True
        return m
    t0 = time.perf_counter()
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rs = replica_ids(seed, k)
    tables = {}
    for name in TABLES:
        src = os.path.join(base_dir, f"{name}.parquet")
        base = pq.read_table(src)
        if name in FACT_IDS:
            out = pa.concat_tables([replica(name, base, r) for r in rs])
        else:
            out = base
        dst = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(out, dst)
        tables[name] = {"rows": out.num_rows, "bytes": os.path.getsize(dst)}
    m = {"seed": seed, "replicas": rs, "tables": tables,
         "rows": sum(v["rows"] for v in tables.values()),
         "bytes": sum(v["bytes"] for v in tables.values()),
         "gen_s": time.perf_counter() - t0}
    with open(os.path.join(tmp, "_input.json"), "w") as f:
        json.dump(m, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    m["cached"] = False
    return m
