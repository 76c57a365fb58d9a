"""Seeded input generator for the graft benchmark.

Every value is a pure function of (seed, row id, salt) through a
splitmix64 hash -- no RNG state -- so the same (workload, seed, scale) gives
byte-identical parquet files. Outputs are cached under
<root>/<workload>-s<seed>-x<scale>-<generator digest>/; `_MANIFEST` (written
last) carries each file's sha256 and row count and the planted rates.

    python3 perfbench/gen.py WORKLOAD SEED [SCALE]   # prints the input directory
"""
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Planted rates, recorded next to the metrics.
NULL_RATE = 0.03      # per nullable column (quantity, price, shipmode)
BAD_CAT_RATE = 0.01   # l_returnflag outside the whitelist
MISCASE_RATE = 0.05   # l_shipmode lower-cased and padded
OUTLIER_RATE = 0.005  # l_extendedprice x50
DUP_RATE = 0.02       # whole-row duplicates appended
EXACT_DOC_RATE = 0.03  # documents copied verbatim
NEAR_DOC_RATE = 0.10   # documents copied with about 1 token in 40 replaced
PII_RATE = 0.05        # documents carrying an e-mail address

LINEITEM_ROWS = 25000
VECTORS = 1500
APPEND_VECTORS = 400
QUERIES = 64
DIM = 64
CLUSTERS = 32

PLANTED = {
    "tabular_qa": {"null_rate": NULL_RATE, "bad_category_rate": BAD_CAT_RATE,
                   "miscased_rate": MISCASE_RATE, "outlier_rate": OUTLIER_RATE,
                   "dup_rate": DUP_RATE},
    "vector_index": {"clusters": CLUSTERS, "dim": DIM, "exact_dup_rate": EXACT_DOC_RATE,
                     "near_dup_rate": NEAR_DOC_RATE, "pii_rate": PII_RATE},
}

_U = np.uint64


def _splitmix(x):
    x = x + _U(0x9E3779B97F4A7C15)
    x = (x ^ (x >> _U(30))) * _U(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> _U(27))) * _U(0x94D049BB133111EB)
    return x ^ (x >> _U(31))


def h(*parts):
    """64-bit hash of the parts (ints or integer arrays, broadcast)."""
    with np.errstate(over="ignore"):
        x = _U(0)
        for p in parts:
            x = _splitmix(x ^ np.asarray(p).astype(np.uint64))
        return x


def u(*parts):
    """Uniform [0, 1) from the parts."""
    return (h(*parts) >> _U(11)).astype(np.float64) / 2.0 ** 53


def lineitem(seed, n):
    ids = np.arange(n)
    qty = np.floor(u(seed, ids, 3) * 50) + 1
    price = np.floor(qty * (900.0 + u(seed, ids, 4) * 1100) * 100) / 100
    flags = np.array(["A", "N", "R"])[np.floor(u(seed, ids, 7) * 3).astype(int)]
    modes = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
    mode = modes[np.floor(u(seed, ids, 9) * 7).astype(int)]
    cols = {
        "l_orderkey": pa.array(ids // 4 + 1, pa.int64()),
        "l_partkey": pa.array(np.floor(u(seed, ids, 1) * 20000).astype(np.int64) + 1),
        "l_suppkey": pa.array(np.floor(u(seed, ids, 2) * 1000).astype(np.int64) + 1),
        "l_linenumber": pa.array((ids % 4 + 1).astype(np.int32)),
    }
    tail = {
        "l_discount": pa.array(np.floor(u(seed, ids, 5) * 11) / 100),
        "l_tax": pa.array(np.floor(u(seed, ids, 6) * 9) / 100),
    }
    ship = pa.array((8035 + np.floor(u(seed, ids, 8) * 2500)).astype(np.int32), pa.date32())
    clean = pa.table({**cols, "l_quantity": pa.array(qty), "l_extendedprice": pa.array(price),
                      **tail, "l_returnflag": pa.array(flags), "l_shipmode": pa.array(mode),
                      "l_shipdate": ship})
    dirty_price = np.where(u(seed, ids, 16) < OUTLIER_RATE, price * 50, price)
    dirty_mode = np.where(u(seed, ids, 15) < MISCASE_RATE,
                          np.char.add(np.char.add("  ", np.char.lower(mode)), " "), mode)
    dirty = pa.table({
        **cols,
        "l_quantity": pa.array(qty, mask=u(seed, ids, 11) < NULL_RATE),
        "l_extendedprice": pa.array(dirty_price, mask=u(seed, ids, 12) < NULL_RATE),
        **tail,
        "l_returnflag": pa.array(np.where(u(seed, ids, 14) < BAD_CAT_RATE, "X", flags)),
        "l_shipmode": pa.array(dirty_mode.tolist(), mask=u(seed, ids, 13) < NULL_RATE),
        "l_shipdate": ship})
    dups = np.nonzero(u(seed, ids, 17) < DUP_RATE)[0]
    dirty = pa.concat_tables([dirty, dirty.take(dups)])
    return {"lineitem_clean": clean, "lineitem_dirty": dirty}


STOP = ["the", "and", "of", "to", "in", "is", "a", "that",
        "with", "have", "be", "for", "on", "as", "it", "this"]
SYLLABLES = ["ka", "lo", "mi", "ra", "te", "su", "no", "vi", "de", "pa",
             "ri", "fo", "lu", "ze", "ba", "ho", "ne", "sta", "gor", "quin"]


def _word(x):
    """Pseudo-word of 2-4 syllables; Zipf-ish skew over about 4000 words."""
    w = int(((x % 1000003) / 1000003.0) ** 2 * 4000)
    s = [SYLLABLES[(w // 20 ** i) % 20] for i in range(4)]
    return s[0] + s[1] + (s[2] if w > 400 else "") + (s[3] if w > 2000 else "")


def _tokens(seed, doc, positions, salt):
    hs = h(seed, doc, positions, salt)
    return [STOP[int(x // 10) % len(STOP)] if x % 10 < 3 else _word(int(x // 10))
            for x in hs.tolist()]


def documents(seed, n):
    """English-shaped text for ids 0..n-1. The first half of the ids are
    originals; in the second half, planted shares are verbatim or near
    copies of a random original."""
    half = max(1, n // 2)
    texts, sources = [], []
    for d in range(n):
        kind = u(seed, d, 21)
        copy = d >= half and kind < EXACT_DOC_RATE + NEAR_DOC_RATE
        near = copy and kind >= EXACT_DOC_RATE
        src = int(u(seed, d, 22) * half) if copy else d
        ntok = 40 + int(u(seed, src, 23) * 120)
        pos = np.arange(ntok)
        toks = _tokens(seed, src, pos, 26)
        if near:
            edits = np.nonzero(u(seed, d, pos, 24) < 0.025)[0]
            fresh = _tokens(seed, d, edits, 25)
            for i, t in zip(edits.tolist(), fresh):
                toks[i] = t
        text = " ".join(toks) + "."
        if u(seed, d, 27) < PII_RATE:
            text += f" contact user{d}@example.com for the details"
        texts.append(text)
        sources.append(f"src{int(h(seed, d, 28) % _U(8))}")
    return texts, sources


def vectors(seed, first, n, with_text=True):
    """`CLUSTERS` centers per seed; each vector a center plus uniform jitter.
    Corpus rows also carry their document's text and source."""
    ids = np.arange(first, first + n)
    center = np.floor(u(seed, ids, 31) * CLUSTERS).astype(np.int64)
    j = np.arange(DIM)
    emb = ((u(seed - 1, center[:, None] * 1000 + j, 32) * 2 - 1) +
           (u(seed, ids[:, None] * 1000 + j, 33) * 2 - 1) * 0.35).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * DIM, DIM), pa.int32())
    cols = {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(emb.reshape(-1))),
        "label": pa.array(center.astype(np.int32))}
    if with_text:
        texts, sources = documents(seed, first + n)
        cols["text"] = pa.array(texts[first:])
        cols["source"] = pa.array(sources[first:])
    return pa.table(cols)


def tables(workload, seed, scale):
    def n(base):
        return max(1, int(base * scale))
    if workload == "tabular_qa":
        return lineitem(seed, n(LINEITEM_ROWS))
    if workload == "vector_index":
        nv = n(VECTORS)
        return {"embeddings": vectors(seed, 0, nv),
                "embeddings_append": vectors(seed, nv, n(APPEND_VECTORS)),
                "queries": vectors(seed, 10000000, n(QUERIES), with_text=False)}
    raise SystemExit(f"perfbench: unknown workload {workload}")


def sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def ensure(workload, seed, scale, root):
    """Generate (or reuse) the inputs; return their directory."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    out = os.path.join(root, f"{workload}-s{seed}-x{scale}-{version}")
    if os.path.isfile(os.path.join(out, "_MANIFEST")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    lines = []
    for name, table in sorted(tables(workload, seed, scale).items()):
        path = os.path.join(tmp, name + ".parquet")
        pq.write_table(table, path, compression="snappy")
        lines.append(f"table {name} {sha256(path)} {table.num_rows}")
    lines += [f"planted {k} {v}" for k, v in PLANTED[workload].items()]
    with open(os.path.join(tmp, "_MANIFEST"), "w") as f:
        f.write("\n".join(lines) + "\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure(sys.argv[1], int(sys.argv[2]),
                 float(sys.argv[3]) if len(sys.argv) > 3 else 1.0,
                 os.path.join(os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "data")))
