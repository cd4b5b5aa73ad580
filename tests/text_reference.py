"""Pure-Python references for the text featurizers and the BM25/RRF
scores, written from the documented Spark semantics, plus the edge-case
texts the value tests share. Not a test module: imported by test_text,
test_dedup and test_hybrid."""

import hashlib
import math
import re
from collections import Counter

# empty and NULL text, tabs and newlines, SQL-special characters, unicode,
# a repeating doc, whitespace only, a leading tab
EDGE_TEXTS = [
    "",
    None,
    "a",
    "  x\t y\nz  ",
    "one two three four five six",
    "`backtick` 'quote' \\ slash % percent _ under",
    "éü unicode tökens",
    "a b a b a b a b",
    "   ",
    "\tlead tab",
]

# Java's \s is ASCII-only: [ \t\n\x0B\f\r]
_WS = re.compile(r"\s+", re.ASCII)


def tokens(text):
    """``split(lower(trim(text)), '\\s+')``: trim strips spaces only, so a
    leading tab leaves an empty first token; NULL stays NULL."""
    if text is None:
        return None
    return _WS.split(text.strip(" ").lower())


def token_hash(s):
    """First 15 hex digits of md5, read as an integer."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def shingles(text, n):
    """Distinct n-token windows in first-seen order; fewer than n tokens
    give one window of all of them. NULL text: the one window slices a
    NULL array, which ``concat_ws`` skips, so the shingle is ''."""
    t = tokens(text)
    if t is None:
        return [""]
    out = []
    for i in range(max(len(t) - n + 1, 1)):
        g = " ".join(t[i : i + n])
        if g not in out:
            out.append(g)
    return out


def token_ngrams(text, n):
    """All n-token windows (repeats kept); none below n tokens or for NULL."""
    t = tokens(text)
    if t is None or len(t) < n:
        return []
    return [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]


def token_ngrams_upto(text, n_max):
    return [g for n in range(1, n_max + 1) for g in token_ngrams(text, n)]


def minhash(text, n, num_hashes, seed):
    """Per coefficient pair (a, b): min over shingle hashes x = token_hash
    mod M of (a·x + b) mod P, starting from P."""
    from pq_vector_spark.operators.dedup import MINHASH_M, MINHASH_P, _minhash_coeffs

    xs = [token_hash(s) % MINHASH_M for s in shingles(text, n)]
    return [
        min([MINHASH_P] + [(a * x + b) % MINHASH_P for x in xs])
        for a, b in _minhash_coeffs(num_hashes, seed)
    ]


def band_keys(sig, bands, rows_per_band):
    """(band, comma-joined slice of the signature) per band."""
    return [
        (i, ",".join(str(v) for v in sig[i * rows_per_band : (i + 1) * rows_per_band]))
        for i in range(bands)
    ]


def bm25(docs, terms, k1, b):
    """{id: score} over docs {id: text} with a query-term match:
    Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) · tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl)); N counts every doc, avgdl averages dl
    over N with NULL texts contributing no length."""
    toks = {i: tokens(t) for i, t in docs.items()}
    n_docs = len(docs)
    avgdl = sum(len(t) for t in toks.values() if t is not None) / n_docs
    q = {str(t).lower() for t in terms}
    tf = {i: Counter(x for x in t if x in q) for i, t in toks.items() if t is not None}
    df = Counter(term for c in tf.values() for term in c)
    out = {}
    for i, c in tf.items():
        if c:
            dl = len(toks[i])
            out[i] = sum(
                math.log(1 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                * f * (k1 + 1) / (f + k1 * (1 - b + b * dl / avgdl))
                for t, f in c.items()
            )
    return out


def top(scores, k):
    """ids of the top-k by (score desc, id asc)."""
    return sorted(scores, key=lambda i: (-scores[i], i))[:k]


def rrf(ranked_ids, k_rrf):
    """({id: Σ 1/(k_rrf + rank)}, {id: number of lists}) over id lists in
    rank order."""
    score, count = {}, Counter()
    for ids in ranked_ids:
        for rank, i in enumerate(ids, 1):
            score[i] = score.get(i, 0.0) + 1.0 / (k_rrf + rank)
            count[i] += 1
    return score, count
