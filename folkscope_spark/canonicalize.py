"""Surface-form canonicalization: MinHash-LSH + one union-find closure (O7).

north_rule requirement: cluster near-duplicate surface forms and resolve each
cluster to one canonical representative before materializing triples.

One definition, run by two execution tiers:

* tokens: the set of ``str.lower().split()`` (Python's Unicode whitespace,
  so leading/trailing spaces, tabs and NBSP never make a token);
* MinHash (:func:`_minhash_bands`): one md5 per distinct token, then
  ``N_HASHES`` md5-derived multiply-add permutations mod 2^64, minimized per
  form in numpy;
* LSH bands: ``N_BANDS`` exact keys of ``N_HASHES // N_BANDS`` signature
  values each, never re-hashed, so a bucket holds exactly the forms whose
  band agrees.  Buckets above ``MAX_BUCKET`` forms are dropped (a skew guard
  against the k^2 pair blowup of a degenerate band);
* verification (:func:`_verified_pairs`): the pairs within each bucket,
  kept at exact token-set Jaccard >= ``JACCARD_THRESHOLD``; a form with no
  tokens matches nothing;
* closure (:func:`_union_find`): verified pairs closed transitively,
  canonical member = the lexicographic-min text of each cluster.

Both tiers emit the same rewrite table; ``driver_threshold`` picks only
where it runs.  The driver tier collects the distinct forms and runs the
kernel, the verify and the closure once over all of them.  The distributed
tier runs the kernel in one ``mapInPandas``, builds the buckets with one
window count and one ``groupBy`` on (band, key), and verifies them in a
second ``mapInPandas`` that emits only each batch's spanning forest (every
clustered member -> its cluster minimum).  The driver collects that forest
and closes it with the same union-find: no iterative global pass.  Each
form sits in ``N_BANDS`` buckets, so the forest holds at most ``N_BANDS``
edges per clustered form, the size class of the rewrite table that
``materialize.build_triples`` broadcasts; the collect is capped by
``spark.driver.maxResultSize`` and raises when it exceeds it.
Deterministic end to end: hash constants are fixed.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

JACCARD_THRESHOLD = 0.9
N_HASHES = 16
N_BANDS = 4
MAX_BUCKET = 256

_BAND_COLS = ["b%d" % b for b in range(N_BANDS)]
_PERMS = [hashlib.md5(b"perm-%d" % s).digest() for s in range(N_HASHES)]
_A = np.array([int.from_bytes(c[:8], "big") | 1 for c in _PERMS], dtype=np.uint64)
_B = np.array([int.from_bytes(c[8:16], "big") for c in _PERMS], dtype=np.uint64)


def _token_csr(texts: list[str]):
    """Each text's token set as token ids in CSR layout: ``(offs, flat,
    vocab)``, text i owning ``flat[offs[i]:offs[i + 1]]``."""
    tok_sets = [frozenset((t or "").lower().split()) for t in texts]
    vocab: dict[str, int] = {}
    for s in tok_sets:
        for tok in s:
            if tok not in vocab:
                vocab[tok] = len(vocab)
    n = len(texts)
    sizes = np.fromiter((len(s) for s in tok_sets), dtype=np.int64, count=n)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sizes, out=offs[1:])
    flat = np.fromiter(
        (vocab[t] for s in tok_sets for t in s), dtype=np.int64, count=int(offs[-1])
    )
    return offs, flat, vocab


def _minhash_bands(texts: list[str]):
    """The MinHash-LSH kernel both tiers run.

    Returns ``(offs, flat, bands)``: the texts' :func:`_token_csr` layout and
    ``N_BANDS`` contiguous ``(len(texts), N_HASHES // N_BANDS)`` uint64
    arrays of exact band keys.  A text with no tokens gets all-zero keys."""
    offs, flat, vocab = _token_csr(texts)
    # one md5 per distinct token, then the permutations applied in numpy
    base = np.empty(max(len(vocab), 1), dtype=np.uint64)
    for tok, i in vocab.items():
        base[i] = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
    with np.errstate(over="ignore"):
        mixed = _A[:, None] * base[None, :] + _B[:, None]  # (N_HASHES, V), mod 2^64

    # one minimum.reduceat per hash row over the CSR layout
    nonempty = np.flatnonzero(np.diff(offs))
    sigs = np.zeros((N_HASHES, len(texts)), dtype=np.uint64)
    if nonempty.size:
        sigs[:, nonempty] = np.minimum.reduceat(
            mixed[:, flat], offs[nonempty], axis=1
        )
    rows = N_HASHES // N_BANDS
    bands = [
        np.ascontiguousarray(sigs[b * rows : (b + 1) * rows].T) for b in range(N_BANDS)
    ]
    return offs, flat, bands


def _verified_pairs(offs, flat, groups) -> tuple[list[int], list[int]]:
    """Candidate pairs within each group of 2..``MAX_BUCKET`` form ids,
    kept at exact token-set Jaccard >= ``JACCARD_THRESHOLD``.  ``offs`` and
    ``flat`` are the forms' :func:`_token_csr` layout.  Returns the unique
    verified pairs as two index lists, ``a[i] < b[i]``."""
    n = len(offs) - 1
    sizes = np.diff(offs)
    # pair expansion in numpy, batched by bucket size (one triu index
    # template per distinct size instead of one allocation per bucket),
    # deduped once with np.unique over packed (a * n + b) keys: a per-pair
    # Python loop costs ~2 s per 1.1M raw pairs at 40k forms
    by_size: dict[int, list] = {}
    for members in groups:
        k = len(members)
        if 2 <= k <= MAX_BUCKET:  # hot-bucket cap
            by_size.setdefault(k, []).append(np.sort(members))
    pair_chunks = []
    for k, grouped in by_size.items():
        mat = np.stack(grouped).astype(np.int64)  # (m, k)
        ia, ib = np.triu_indices(k, 1)
        pair_chunks.append((mat[:, ia] * n + mat[:, ib]).ravel())
    packed = (
        np.unique(np.concatenate(pair_chunks))
        if pair_chunks
        else np.empty(0, dtype=np.int64)
    )

    # exact-Jaccard verify over the unique candidate pairs, vectorized for
    # any vocabulary size: each of a's tokens is looked up among b's in the
    # sorted (form * V + token) keys, the hits per pair are |A∩B|,
    # |A∪B| = |A|+|B|-|A∩B|, and one float division decides.  Pairs are
    # chunked so one chunk expands to at most ~4M (pair, token) lookups.
    n_vocab = int(flat.max(initial=0)) + 1
    keys = np.sort(np.repeat(np.arange(n, dtype=np.int64), sizes) * n_vocab + flat)
    step = max(1, 4_000_000 // max(int(sizes.max(initial=0)), 1))
    a: list[int] = []
    b: list[int] = []
    for lo_i in range(0, packed.size, step):
        chunk = packed[lo_i : lo_i + step]
        pa = chunk // n
        pb = chunk % n
        la = sizes[pa]
        pair = np.repeat(np.arange(chunk.size), la)
        # position of each expanded lookup in flat: a's token run, in order
        pos = np.arange(int(la.sum())) + np.repeat(offs[pa] - (np.cumsum(la) - la), la)
        q = pb[pair] * n_vocab + flat[pos]
        idx = np.minimum(np.searchsorted(keys, q), keys.size - 1)
        hit = keys[idx] == q
        inter = np.bincount(pair[hit], minlength=chunk.size)
        union = la + sizes[pb] - inter
        ok = (union > 0) & ((inter / np.maximum(union, 1)) >= JACCARD_THRESHOLD)
        a += pa[ok].tolist()
        b += pb[ok].tolist()
    return a, b


def _union_find(texts: list[str], a, b) -> list[tuple[str, str]]:
    """Close the index pairs ``(a[i], b[i])`` over ``texts`` transitively.
    Every root is its cluster's lexicographically smallest text, so the
    result does not depend on pair order.  Returns the non-identity
    ``(text, canonical_text)`` rewrites."""
    parent = list(range(len(texts)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(a, b):
        rx, ry = find(x), find(y)
        if rx != ry:
            lo, hi = (rx, ry) if texts[rx] < texts[ry] else (ry, rx)
            parent[hi] = lo
    out = []
    for i, t in enumerate(texts):
        canon = texts[find(i)]
        if canon != t:
            out.append((t, canon))
    return out


def _lsh_cc_driver(texts: list[str]) -> list[tuple[str, str]]:
    """Driver tier: the kernel over all forms at once, numpy bucket
    grouping, then :func:`_verified_pairs` and :func:`_union_find`.
    Exists because the distributed tier's fixed job latency dominates at
    dimension scale; here it is one collect."""
    offs, flat, bands = _minhash_bands(texts)
    n = len(texts)

    # group forms by exact band key via np.unique over a structured view
    def band_groups():
        for band in bands:
            view = band.view([("", band.dtype)] * band.shape[1]).reshape(n)
            _, inv = np.unique(view, return_inverse=True)
            order = np.argsort(inv, kind="stable")
            bounds = np.flatnonzero(np.diff(inv[order])) + 1
            yield from np.split(order, bounds)

    return _union_find(texts, *_verified_pairs(offs, flat, band_groups()))


def _band_keys(batches):
    """``mapInPandas`` body of the distributed tier's first pass: the kernel
    per batch, one row per form with one binary column per band (the raw
    bytes of the band's uint64 values, an exact key)."""
    for pdf in batches:
        texts = pdf["text"].tolist()
        _, _, bands = _minhash_bands(texts)
        cols = {"text": texts}
        for col, keys in zip(_BAND_COLS, bands):
            raw, w = keys.tobytes(), keys.shape[1] * 8
            cols[col] = [raw[i * w : (i + 1) * w] for i in range(len(texts))]
        yield pd.DataFrame(cols)


def _bucket_forest(batches):
    """``mapInPandas`` body of the distributed tier's second pass: verify
    each bucket of a batch with :func:`_verified_pairs` and emit the batch's
    spanning forest, every clustered member -> its cluster minimum (at most
    k - 1 edges per bucket of k forms)."""
    for pdf in batches:
        buckets = pdf["texts"].tolist()
        texts = list(dict.fromkeys(t for members in buckets for t in members))
        ids = {t: i for i, t in enumerate(texts)}
        offs, flat, _ = _token_csr(texts)
        groups = (np.array([ids[t] for t in members]) for members in buckets)
        yield pd.DataFrame(
            _union_find(texts, *_verified_pairs(offs, flat, groups)),
            columns=["text", "canonical_text"],
        )


def _lsh_cc_distributed(forms: DataFrame) -> list[tuple[str, str]]:
    """Distributed tier: band keys, buckets and their verified spanning
    forests in Spark; the forest is collected and closed on the driver."""
    keyed = forms.mapInPandas(
        _band_keys, "text string, " + ", ".join("%s binary" % c for c in _BAND_COLS)
    )
    buckets = (
        keyed.select("text", F.posexplode(F.array(*_BAND_COLS)).alias("band", "key"))
        .withColumn("n", F.count("*").over(Window.partitionBy("band", "key")))
        .filter(F.col("n").between(2, MAX_BUCKET))
        .groupBy("band", "key")
        .agg(F.collect_list("text").alias("texts"))
    )
    edges = (
        buckets.select("texts")
        .mapInPandas(_bucket_forest, "text string, canonical_text string")
        .collect()
    )
    texts = list(dict.fromkeys(t for edge in edges for t in edge))
    ids = {t: i for i, t in enumerate(texts)}
    return _union_find(texts, [ids[t] for t, _ in edges], [ids[c] for _, c in edges])


def canonicalize_surface_forms(
    df: DataFrame, text_col: str = "obj", driver_threshold: int = 200_000
) -> DataFrame:
    """Return (text, canonical_text) — the LSH rewrite table for a column
    of surface forms, containing **only non-identity rewrites**
    (text != canonical_text).  Forms with no near-duplicate simply don't
    appear; consumers rewrite with a left join + ``coalesce`` (see
    ``materialize.build_triples``).  This keeps the table dimension-sized —
    one row per *rewritten* form, not per distinct form — so broadcasting it
    stays viable at web scale (ADVICE r1).

    Form sets up to ``driver_threshold`` distinct values run the driver tier
    (one distinct + collect instead of the distributed tier's jobs, whose
    fixed scheduling latency dominates at dimension scale); larger sets run
    the distributed tier.  Both give the same table."""
    forms = df.select(F.col(text_col).alias("text")).distinct().cache()
    try:
        # one job instead of count + collect: a (threshold+1)-limited collect
        # both sizes the form set and, when it fits, IS the form set (the
        # cache serves the distributed tier otherwise)
        head = forms.limit(driver_threshold + 1).collect()
        if len(head) <= driver_threshold:
            rewrites = _lsh_cc_driver([r["text"] for r in head])
        else:
            rewrites = _lsh_cc_distributed(forms)
    finally:
        forms.unpersist()
    return df.sparkSession.createDataFrame(
        rewrites, "text string, canonical_text string"
    )
