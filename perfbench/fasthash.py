"""Vectorized replays of the two hash-heavy curation oracles.

The ported SQL of `near_dedup` (MinHash LSH) and of the learned language id
inside `lang_quality` emulates 64-bit wrapping multiplication with 32-bit
limbs in HUGEINT arithmetic, which makes DuckDB take tens of seconds per
run. These functions compute the same values with numpy's wrapping uint64
arithmetic. tests/test_check.py pins them to the SQL, which stays the
reference, on a corpus with planted near duplicates.
"""
import itertools
import os
import re
from collections import defaultdict

import numpy as np
import pandas as pd

U = np.uint64
FNV_OFFSET = U(14695981039346656037)
FNV_PRIME = U(0x100000001B3)
GOLDEN = U(0x9E3779B97F4A7C15)
MIX1 = U(0xBF58476D1CE4E5B9)
MIX2 = U(0x94D049BB133111EB)
LANG_SEED = U(13942075065423867993)
# RE2 `\s`, as in the oracles' string_split_regex(lower(text), '\s+')
WS = re.compile(r"[\t\n\f\r ]+")

LANG_SQL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracles", "lang_quality.sql")


def _splitmix(z):
    z = (z ^ (z >> U(30))) * MIX1
    z = (z ^ (z >> U(27))) * MIX2
    return z ^ (z >> U(31))


def _codes(strings):
    """(n, width) code-point matrix, zero padded, and the lengths."""
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=len(strings))
    width = int(lens.max()) if len(strings) else 0
    flat = "".join(s.ljust(width, "\0") for s in strings).encode("utf-32-le")
    return np.frombuffer(flat, dtype=np.uint32).reshape(len(strings), width).astype(U), lens


def fnv1a(strings):
    """FNV-1a 64 over the code points of each string."""
    codes, lens = _codes(strings)
    h = np.full(len(strings), FNV_OFFSET, dtype=U)
    with np.errstate(over="ignore"):
        for j in range(codes.shape[1]):
            act = lens > j
            h[act] = (h[act] ^ codes[act, j]) * FNV_PRIME
    return h


def tokens(text):
    return [t for t in WS.split(text.lower()) if t]


def minhash_pairs(docs, shingle_len=3, num_hashes=32, bands=8, threshold=0.5):
    """Pairs (id_a < id_b) sharing a band bucket whose estimated Jaccard
    over `num_hashes` min-hashes of distinct word 3-shingles is >= threshold."""
    ids, shingles = [], []
    for d, t in zip(docs["doc_id"], docs["text"]):
        tk = tokens(t)
        if len(tk) < shingle_len:
            continue
        sh = {" ".join(tk[i:i + shingle_len]) for i in range(len(tk) - shingle_len + 1)}
        ids.extend([d] * len(sh))
        shingles.extend(sh)
    empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
                          "est_jaccard": pd.Series(dtype="float64")})
    if not ids:
        return empty
    ids = np.asarray(ids, dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids, h = ids[order], fnv1a([shingles[i] for i in order])
    with np.errstate(over="ignore"):
        z = h[:, None] + np.arange(num_hashes, dtype=U)[None, :] * GOLDEN
        v = _splitmix(z).view(np.int64)
    uniq, start = np.unique(ids, return_index=True)
    sig = np.minimum.reduceat(v, start, axis=0)
    rows = num_hashes // bands
    buckets = defaultdict(list)
    for k in range(len(uniq)):
        for b in range(bands):
            buckets[(b, sig[k, b * rows:(b + 1) * rows].tobytes())].append(k)
    cand = {p for ks in buckets.values() if len(ks) > 1 for p in itertools.combinations(ks, 2)}
    out = []
    for a, b in sorted(cand):
        est = float((sig[a] == sig[b]).sum()) / num_hashes
        if est >= threshold:
            out.append((int(uniq[a]), int(uniq[b]), est))
    return pd.DataFrame(out, columns=["id_a", "id_b", "est_jaccard"]) if out else empty


def lang_weights():
    """The four 256-bucket class weight vectors, read from the oracle SQL."""
    with open(LANG_SQL, encoding="utf-8") as fh:
        sql = fh.read()
    found = re.findall(r"sum\(\(\[([-0-9, ]+)\]\)\[bk\]\) AS s(\d)", sql)
    w = {int(k): np.array([int(x) for x in v.split(",")], dtype=np.int64) for v, k in found}
    assert sorted(w) == [0, 1, 2, 3] and all(len(x) == 256 for x in w.values())
    return [w[k] for k in range(4)]


def lang_ml(docs):
    """Learned language id: hashed character trigrams of the lowercased
    text into 256 buckets, one weight sum per class, argmax of
    0.05 x the mean weight (ties to the earlier class)."""
    weights = np.stack(lang_weights())
    texts = [t.lower() for t in docs["text"]]
    n = np.array([max(len(t) - 2, 0) for t in texts], dtype=np.int64)
    # every doc's trigram start positions within the concatenated text
    c = np.frombuffer("".join(texts).encode("utf-32-le"), dtype=np.uint32).astype(U)
    starts = np.cumsum([0] + [len(t) for t in texts[:-1]])
    pos = np.concatenate([np.arange(s0, s0 + k) for s0, k in zip(starts, n)] + [np.zeros(0, np.int64)])
    with np.errstate(over="ignore"):
        h = np.full(len(pos), FNV_OFFSET, dtype=U)
        for j in range(3):
            h = (h ^ c[pos + j]) * FNV_PRIME
        bk = (_splitmix(h + LANG_SEED) % U(256)).astype(np.int64)
    seg = np.repeat(np.arange(len(texts)), n)
    sums = np.zeros((len(texts), 4), dtype=np.int64)
    for k in range(4):
        np.add.at(sums[:, k], seg, weights[k][bk])
    out = []
    for d, nk, sk in zip(docs["doc_id"], n, sums):
        lg = [0.0 + 0.05 * (float(x) / float(max(nk, 1))) for x in sk]
        if lg[0] >= lg[1] and lg[0] >= lg[2] and lg[0] >= lg[3]:
            lang = "en"
        elif lg[1] >= lg[2] and lg[1] >= lg[3]:
            lang = "de"
        elif lg[2] >= lg[3]:
            lang = "fr"
        else:
            lang = "es"
        out.append((d, lang))
    return pd.DataFrame(out, columns=["doc_id", "lang"])


def lang_quality_sql_without_ml():
    """The lang_quality oracle with its learned-language CTEs removed; it
    then reads `mlpred(doc_id, lang)` from a view that lang_ml() fills."""
    with open(LANG_SQL, encoding="utf-8") as fh:
        sql = fh.read()
    return sql[:sql.index("mlt AS (")] + sql[sql.index("ch AS ("):]
