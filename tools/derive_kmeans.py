#!/usr/bin/env python3
"""Independently re-derive the trained k-means snapshot (centroids after
iters-1 Lloyd updates) used by the e07/e08/e09/t05 oracles: a line-by-line
plain-Python port of graft's deterministic k-means training loop
(Similarity.scala kmeansTrain) — first-k init over the deterministic
vec_id-ordered training sample, sequential-double cosine (dot/na/nb
accumulated in one pass, CosineExpr order), per-dimension decimal(28,10)
half-up sums — run over any corpus directory. Every float op used
(+,-,*,/, sqrt) is exactly rounded in both CPython and the JVM, and the
decimal sums are order-independent, so the result is bit-identical to the
engine's snapshot while being produced by a different implementation.

Training sample (mirrors the engine's web-scale contract, kmeansTrain's
one sampler, an xxhash64 threshold): with bound = max(4096, 8*k), all
rows when n <= bound, else rows where
pmod(xxhash64(vec_id), 1e6) < bound*1e6 // n — a bit-exact replica of
Spark's XxHash64 long path (seed 42; a public, fixed algorithm, ported
below and verified value-for-value against the engine). At the sf0.01
gate corpus (n=500 <= bound) the sample is the whole corpus.

Usage: python3 tools/derive_kmeans.py <sfDir> <k> [iters=3]
Prints the `(cluster, [centroid...])` VALUES rows the oracle embeds.
"""
import sys
from decimal import Decimal, ROUND_HALF_UP

import duckdb

Q10 = Decimal("1E-10")

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl64(x, r):
    return ((x << r) | (x >> (64 - r))) & _M64


def xxhash64_long(l, seed=42):
    """Spark XxHash64 of one LongType value (signed result)."""
    h = (seed + _P5 + 8) & _M64
    k1 = ((l & _M64) * _P2) & _M64
    k1 = (_rotl64(k1, 31) * _P1) & _M64
    h ^= k1
    h = (_rotl64(h, 27) * _P1 + _P4) & _M64
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def in_hash_sample(vec_id, bound, n):
    """kmeansTrain's hash sampler: pmod(xxhash64(id), 1e6) < bound*1e6/n
    (Long integer division, like the engine's `bound * 1000000L / n`)."""
    if n <= bound:
        return True
    return xxhash64_long(vec_id) % 1000000 < bound * 1000000 // n


def sample_rows(con, sf_dir, k):
    """The engine's training sample for (corpus, k), vec_id-ordered."""
    bound = max(4096, 8 * k)
    n = con.execute(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'").fetchone()[0]
    rows = con.execute(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id").fetchall()
    return [r[1] for r in rows if in_hash_sample(r[0], bound, n)], n


def dec(x):
    # Spark Cast(double -> decimal(28,10)): BigDecimal.valueOf(d)
    # (Double.toString shortest form) then setScale(10, HALF_UP).
    # CPython repr() is the same shortest-roundtrip string.
    return Decimal(repr(x)).quantize(Q10, rounding=ROUND_HALF_UP)


def cosine(a, b):
    # CosineSimilarity.compute: one fused sequential pass
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    import math
    denom = math.sqrt(na) * math.sqrt(nb)
    return 0.0 if denom == 0.0 else dot / denom


def assign(vs, cents):
    # row_number over (score desc, cluster asc): first strict max wins.
    # cents is a list of (cluster_id, centroid) in cluster_id order —
    # ids survive empty-cluster drops, mirroring the engine's groupBy.
    out = []
    for v in vs:
        best_c, best_s = None, None
        for c, cent in cents:
            s = cosine(v, cent)
            if best_s is None or s > best_s:
                best_c, best_s = c, s
        out.append(best_c)
    return out


def update(vs, labels, d):
    # keyed by cluster id; clusters that receive NO members this round
    # simply do not appear — exactly the engine's groupBy over
    # assignments (kmeansTrain), whose book drops empty clusters. An
    # all-zero placeholder centroid would instead WIN assignments
    # (cosine 0 beats all-negative scores) and silently desync the
    # embedded oracle VALUES.
    sums = {}
    for v, c in zip(vs, labels):
        row = sums.setdefault(c, [Decimal(0)] * d)
        for i, x in enumerate(v):
            row[i] += dec(x)
    # decimal -> double cast is correctly rounded on both engines
    return [(c, [float(s) for s in row]) for c, row in sorted(sums.items())]


def train(vs, k, iters):
    # returns [(cluster_id, centroid)] — ids are stable across rounds
    cents = [(i, list(vs[i])) for i in range(k)]
    d = len(vs[0])
    for _ in range(iters - 1):
        labels = assign(vs, cents)
        cents = update(vs, labels, d)
    return cents


def fmt(x):
    # the oracle embeds the decimal(28,10) value, trailing zeros stripped
    return format(dec(x).normalize(), "f")


def main():
    sf_dir = sys.argv[1]
    k = int(sys.argv[2])
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    con = duckdb.connect()
    vs, _ = sample_rows(con, sf_dir, k)
    cents = train(vs, k, iters)
    lines = []
    for c, cent in cents:
        lines.append(f"  ({c}, [" + ", ".join(fmt(x) for x in cent) + "])")
    print(",\n".join(lines))


if __name__ == "__main__":
    main()
