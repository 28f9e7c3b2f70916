#!/usr/bin/env python3
"""Re-target the trained-constant oracles to another corpus scale.

The committed oracle SQL for e07/e08/e09/t05 embeds GATE-corpus (sf0.01)
snapshots: the k=8 IVF k-means book, the adaptiveK dedup book (k=8 at the
gate, where both coincide), and the m=16/24/32 PCA rotations. For an
oracle run at another scale those constants must be re-derived for THAT
corpus — same training replicas (tools/derive_kmeans.py /
tools/derive_rot.py), bigger input. This tool loads a Verify dump's
oracle_sql.json, re-derives every trained constant for the target corpus,
and substitutes them block by block:

  e07, t05 : the k=8 VALUES block
  e09      : the adaptiveK(n) VALUES block
  e08      : `cents` block -> k=8, `dcents` block -> adaptiveK(n),
             the three [list_dot_product...] rotation projections

Usage:
  python3 tools/patch_oracle_scale.py <sfDir> <verifyOutDir> [outJson]
Writes <verifyOutDir>/oracle_sql_patched.json by default; run the checker
against it with: check_oracle.py (point it at a dir containing the
patched file renamed to oracle_sql.json, or pass outJson accordingly).
"""
import json
import re
import sys

sys.path.insert(0, __file__.rsplit("/", 1)[0])
import derive_kmeans
import derive_rot

import duckdb


def kmeans_rows(sf_dir, k, iters=3):
    # hash-sampled training rows, kmeansTrain's sampler (bit-exact
    # XxHash64 replica in derive_kmeans)
    con = duckdb.connect()
    vs, n = derive_kmeans.sample_rows(con, sf_dir, k)
    cents = derive_kmeans.train(vs, k, iters)
    return "\n".join(
        f"  ({c}, [" + ", ".join(derive_kmeans.fmt(x) for x in cent) + "])"
        + ("," if i < len(cents) - 1 else "")
        for i, (c, cent) in enumerate(cents)), n


def rot_sql(sf_dir, m):
    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        "WHERE vec_id < 4096 ORDER BY vec_id").fetchall()
    sample = [[float(x) for x in r[0]] for r in rows]
    rot = derive_rot.trained_rotation(sample, m)
    # stripMargin form as it appears in the final SQL text
    return "[" + ",\n      ".join(
        "list_dot_product(v, [%s])" % ", ".join(repr(x) for x in row)
        for row in rot) + "]"


class JavaRandom:
    """java.util.Random LCG — what scala.util.Random(seed) wraps."""
    M48 = (1 << 48) - 1

    def __init__(self, seed):
        self.seed = (seed ^ 0x5DEECE66D) & self.M48

    def _next(self, bits):
        self.seed = (self.seed * 0x5DEECE66D + 0xB) & self.M48
        return self.seed >> (48 - bits)

    def next_int(self, bound):
        if bound & (bound - 1) == 0:  # power of two
            return (bound * self._next(31)) >> 31
        while True:
            bits = self._next(31)
            val = bits % bound
            if bits - val + (bound - 1) < (1 << 31):
                return val


def scala_shuffle(xs, rnd):
    """scala.util.Random.shuffle: Fisher-Yates from the tail."""
    buf = list(xs)
    for n in range(len(buf), 1, -1):
        k = rnd.next_int(n)
        buf[n - 1], buf[k] = buf[k], buf[n - 1]
    return buf


def simhash_perms(tables=8, seed=20260815):
    """Mirror of Dedup.simhashPerms — one RNG stream across tables."""
    rnd = JavaRandom(seed)
    return [scala_shuffle(range(64), rnd) for _ in range(tables)]


def d26_tail(bits, cap=1024):
    """Byte-for-byte mirror of the tail of Dedup.d26OracleSql from
    `keys AS (` on — the per-table permuted-prefix buckets, the hot-
    bucket star contraction at `cap`, the exact Hamming verify. The
    gate rendering (bits=4) is asserted against the committed SQL, so
    RNG or text drift fails loudly before any substitution."""
    selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, sim, {t} AS tbl, "
        + " | ".join(f"(((sim >> {p[j]}) & 1) << {j})" for j in range(bits))
        + " AS bk FROM sims"
        for t, p in enumerate(simhash_perms()))
    return (
        "keys AS (\n"
        f"{selects}),\n"
        "bkt AS (SELECT tbl, bk, min(doc_id) AS rep, count(*) AS n\n"
        "        FROM keys GROUP BY tbl, bk),\n"
        "cand AS (\n"
        "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
        "  FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.bk = b.bk\n"
        "    AND a.doc_id < b.doc_id\n"
        "  JOIN bkt k ON k.tbl = a.tbl AND k.bk = a.bk\n"
        f"  WHERE k.n <= {cap}\n"
        "  UNION\n"
        "  SELECT k.rep AS doc_a, x.doc_id AS doc_b\n"
        "  FROM keys x JOIN bkt k ON k.tbl = x.tbl AND k.bk = x.bk\n"
        f"  WHERE k.n > {cap} AND x.doc_id <> k.rep),\n"
        "verified AS (\n"
        "  SELECT DISTINCT c.doc_a, c.doc_b, xor(sa.sim, sb.sim) AS x\n"
        "  FROM cand c JOIN sims sa ON sa.doc_id = c.doc_a\n"
        "              JOIN sims sb ON sb.doc_id = c.doc_b)\n"
        "SELECT doc_a, doc_b, CAST(bit_count(x) AS INT) AS hamming\n"
        "FROM verified WHERE bit_count(x) <= 6\n"
        "ORDER BY doc_a, doc_b")


def bpe_merges(sf_dir, n_merges):
    """Plain-Python mirror of Curation.bpeTrain (itself bit-identical to
    the batched trainer per CurationSpec): word histogram over
    split(trim(text), '\\s+'), per-round adjacent-pair counts weighted
    by word frequency, argmax by (freq DESC, left ASC, right ASC), one
    left-to-right non-overlapping fold per merge. Deterministic; the
    gate rendering is asserted against the committed d21/d27 SQL."""
    import re as _re
    from collections import Counter
    con = duckdb.connect()
    texts = con.execute(
        f"SELECT text FROM '{sf_dir}/documents.parquet'").fetchall()
    hist = Counter()
    for (t,) in texts:
        for w in _re.split(r"\s+", t.strip()):
            hist[w] += 1
    vocab = [[list(w), c] for w, c in hist.items()]
    out = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for syms, c in vocab:
            for i in range(1, len(syms)):
                pc[(syms[i - 1], syms[i])] += c
        if not pc:
            break
        (a, b), f = min(pc.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        out.append((rank, a, b, f))
        m = a + b
        for entry in vocab:
            syms = entry[0]
            acc = []
            for s in syms:
                if acc and acc[-1] == a and s == b:
                    acc[-1] = m
                else:
                    acc.append(s)
            entry[0] = acc
    return out


def sq(s):
    return s.replace("'", "''")


def d21_values(merges):
    """The d21 VALUES rows in the committed layout: 3 tuples per line,
    two-space indent."""
    tuples = [f"({r}, '{sq(a)}', '{sq(b)}', {f})" for r, a, b, f in merges]
    lines = [", ".join(tuples[i:i + 3]) for i in range(0, len(tuples), 3)]
    return ",\n".join("  " + ln for ln in lines)


def d27_expr(merges8):
    """The d27 chained-replace encode expression for a merge table."""
    e = "array_to_string(string_split(w, ''), chr(31))"
    for _, a, b, _f in merges8:
        e = f"replace({e}, '{sq(a)}'||chr(31)||'{sq(b)}', '{sq(a)}{sq(b)}')"
    return e


def adaptive_prefix_bits(n_docs):
    import math
    return min(28, max(4, math.ceil(math.log2(n_docs / 128.0))))


CENTS = re.compile(
    r"(?<![a-z])cents AS \(SELECT \* FROM \(VALUES\n.*?\n\) "
    r"t\(cluster, centroid\)\)", re.S)
DCENTS = re.compile(
    r"dcents AS \(SELECT \* FROM \(VALUES\n.*?\n\) "
    r"t\(cluster, centroid\)\)", re.S)


def sub_block(sql, pat, rows, name):
    def repl(m):
        head = m.group(0).split("VALUES\n", 1)[0] + "VALUES\n"
        return head + rows + "\n) t(cluster, centroid))"
    out, cnt = pat.subn(repl, sql, count=1)
    assert cnt == 1, f"{name}: snapshot block not found"
    return out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    out_json = sys.argv[3] if len(sys.argv) > 3 \
        else f"{out_dir}/oracle_sql_patched.json"
    gate = "/root/testdata/sf0.01"
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

    k8_rows, n = kmeans_rows(sf_dir, 8)
    kd = max(8, n // 256)
    kd_rows, _ = kmeans_rows(sf_dir, kd)
    print(f"target corpus n={n}, adaptiveK={kd}")

    # d26: the oracle embeds per-table permuted-prefix bucket keys AND
    # the hot-bucket star contraction; the engine adapts prefixBits to
    # the corpus (n/128 occupancy), the committed SQL hardcodes the
    # gate's 4. Regenerate the whole tail (validated byte-for-byte
    # against the gate SQL) at the target corpus's adaptive width — the
    # cap stays 1024, so the re-derived oracle REPLAYS the engine's
    # over-cap contraction instead of listing uncapped pairs (the r13
    # d26 sf0.1 divergence).
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'").fetchone()[0]
    d26 = oracle["d26_simhash_permuted"]
    gate_tail = d26_tail(4)
    assert d26.endswith(gate_tail), \
        "d26: gate bucket/cap tail not found (RNG or text replica drifted?)"
    tgt_bits = adaptive_prefix_bits(n_docs)
    oracle["d26_simhash_permuted"] = \
        d26[: len(d26) - len(gate_tail)] + d26_tail(tgt_bits)
    print(f"d26 prefixBits {4} -> {tgt_bits} (n_docs={n_docs})")

    # d21/d27: re-derive the BPE merge table on the target corpus (r13
    # verdict item 3) — the committed oracles embed the GATE corpus's
    # merges. The gate rendering of both blocks is asserted against the
    # committed SQL first, validating the python replica.
    gate_merges = bpe_merges(gate, 12)
    tgt_merges = bpe_merges(sf_dir, 12)
    d21 = oracle["d21_bpe_merges"]
    gate_vals = d21_values(gate_merges)
    assert d21.count(gate_vals) == 1, \
        "d21: gate merge VALUES not found (BPE replica drifted?)"
    oracle["d21_bpe_merges"] = d21.replace(gate_vals,
                                           d21_values(tgt_merges))
    d27 = oracle["d27_bpe_encode"]
    gate_expr = d27_expr(gate_merges[:8])
    assert d27.count(gate_expr) == 1, \
        "d27: gate encode expression not found (BPE replica drifted?)"
    oracle["d27_bpe_encode"] = d27.replace(gate_expr,
                                           d27_expr(tgt_merges[:8]))
    print(f"d21/d27 merges re-derived: gate {gate_merges[:2]}... -> "
          f"target {tgt_merges[:2]}...")

    for q in ("e07_ann_ivf_kmeans", "t05_hybrid_ivf"):
        oracle[q] = sub_block(oracle[q], CENTS, k8_rows, q)
    oracle["e09_semantic_dedup"] = sub_block(
        oracle["e09_semantic_dedup"], CENTS, kd_rows, "e09")

    e08 = oracle["e08_ann_recall"]
    e08 = sub_block(e08, DCENTS, kd_rows, "e08/dcents")
    e08 = sub_block(e08, CENTS, k8_rows, "e08/cents")
    for m in (32, 24, 16):  # longest first: 16 is a textual near-prefix
        old = rot_sql(gate, m)
        new = rot_sql(sf_dir, m)
        assert e08.count(old) == 1, f"e08 rot{m}: gate projection not found"
        e08 = e08.replace(old, new)
    oracle["e08_ann_recall"] = e08

    json.dump(oracle, open(out_json, "w"))
    print(f"wrote {out_json}")


if __name__ == "__main__":
    main()
