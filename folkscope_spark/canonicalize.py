"""Surface-form canonicalization: MinHash-LSH + connected components (O7).

north_rule requirement: cluster near-duplicate surface forms and resolve each
cluster to one canonical representative before materializing triples.

Implemented with **relational primitives only** (no GraphFrames jar, no ml
pipeline state):

* MinHash signatures: ``explode(tokens) -> xxhash64(seed, token) ->
  groupBy(id, seed).min`` — one shuffle, vectorized JVM hashing, any number of
  permutations;
* LSH banding: signatures folded into ``n_bands`` band keys; candidate pairs
  come from a self-equi-join on (band, band_hash) — never an all-pairs
  crossJoin.  Hot buckets are capped (``max_bucket``) to bound the join blowup
  a degenerate band would cause at web scale;
* verification: exact token-set Jaccard via ``array_intersect``/``array_union``;
* connected components: alternating small-star / large-star DataFrame joins
  (Kiveris et al.), iterated to fixpoint with a convergence check — each
  iteration is two shuffles on the edge list, the standard scale-out CC.

Deterministic end to end: hash seeds fixed, canonical member = lexicographic
min of each component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def tokenize_col(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn(
        "_tokens", F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, n_hashes: int = 16
) -> DataFrame:
    """(id, _tokens) -> (id, sig array<long>) via per-seed min of xxhash64."""
    tok = df.select(id_col, F.explode("_tokens").alias("tok"))
    seeds = F.array(*[F.lit(i) for i in range(n_hashes)])
    hashed = tok.select(
        id_col,
        F.explode(seeds).alias("seed"),
        F.col("tok"),
    ).withColumn("h", F.xxhash64(F.concat(F.col("seed").cast("string"), F.lit("\x1f"), "tok")))
    return (
        hashed.groupBy(id_col, "seed")
        .agg(F.min("h").alias("mh"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("seed", "mh"))).alias("s"))
        .withColumn("sig", F.expr("transform(s, x -> x.mh)"))
        .drop("s")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    n_bands: int = 4,
    max_bucket: int = 256,
    n_hashes: int = 16,
) -> DataFrame:
    """Band the signatures and self-join within buckets -> (id_a, id_b).

    ``n_hashes`` must match the signature length (callers pass it through);
    a mismatch would silently mis-band via null ``element_at`` reads."""
    if n_hashes % n_bands != 0:
        raise ValueError("n_hashes (%d) must be divisible by n_bands (%d)" % (n_hashes, n_bands))
    rows = n_hashes // n_bands
    banded = sigs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",", *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                        )
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bhash"),
    )
    # cap degenerate buckets (skew guard): drop buckets larger than max_bucket
    sized = banded.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band", "bhash"))
    ).filter(F.col("bucket_n") <= max_bucket)
    a = sized.select("band", "bhash", F.col("id").alias("id_a"))
    b = sized.select("band", "bhash", F.col("id").alias("id_b"))
    return (
        a.join(b, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_jaccard(
    pairs: DataFrame, toks: DataFrame, id_col: str, threshold: float = 0.9
) -> DataFrame:
    """Exact token Jaccard filter over candidate pairs."""
    ta = toks.select(F.col(id_col).alias("id_a"), F.col("_tokens").alias("t_a"))
    tb = toks.select(F.col(id_col).alias("id_b"), F.col("_tokens").alias("t_b"))
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("t_a", "t_b"))
            / F.size(F.array_union("t_a", "t_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b")
    )


def connected_components(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components over an (id_a, id_b) edge list -> (id, comp) with
    comp = min reachable id.  Its caller is the distributed path of
    :func:`canonicalize_surface_forms` (form sets above its
    ``driver_threshold``), whose edge list is not bounded by driver memory,
    so the edges are never collected.

    The algorithm is **min-label star contraction with edge rewriting**
    (the property the round-1 version lacked): each round every current node
    adopts the minimum of its neighborhood (including itself), the edge list
    is rewritten through the new labels (contracting each star to its
    representative), and the id->representative mapping is composed with the
    round's labels.  Because whole neighborhoods collapse into their minima
    each round, long chains halve in length per round — O(log n) rounds, not
    O(diameter) — and convergence is exact: the loop ends when the contracted
    edge list is empty.  Hitting ``max_iter`` with edges left raises instead
    of silently splitting clusters (ADVICE r1)."""
    edges = edges.cache()
    # size the loop's shuffles to the data, not the session default
    n_part = max(4, edges.count() // 500_000)
    e = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .distinct()
        .repartition(n_part, "u")
        .localCheckpoint(eager=True)
    )
    # mapping: original id -> current representative (composed every round)
    mapping = (
        e.select(F.col("u").alias("id")).distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    def _resolve(m: DataFrame) -> DataFrame:
        # contraction can finish while mapping rows still hold multi-hop
        # pointer chains (a node whose representative was itself contracted
        # in a later round); halve pointers to fixpoint — chains shrink
        # geometrically, so this is O(log n) tiny self-joins
        for _ in range(max_iter):
            hop = m.select(F.col("id").alias("comp"), F.col("comp").alias("comp2"))
            nxt = (
                m.join(hop, "comp", "left")
                .select("id", F.coalesce("comp2", "comp").alias("comp"))
                .localCheckpoint(eager=True)
            )
            moved = (
                nxt.alias("n")
                .join(m.alias("o"), "id")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .limit(1)
                .count()
            )
            m = nxt
            if moved == 0:
                return m
        raise RuntimeError("component mapping did not resolve in %d hops" % max_iter)

    for _ in range(max_iter):
        if e.limit(1).count() == 0:
            return _resolve(mapping)
        # star step: node -> min(neighborhood + self)
        labels = (
            e.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select(F.col("u").alias("node"), F.least("mn", "u").alias("new"))
        )
        # compose mapping through this round's labels...
        mapping = (
            mapping.join(labels, mapping["comp"] == labels["node"], "left")
            .select("id", F.coalesce("new", "comp").alias("comp"))
        )
        # ...then pointer-halve (comp := comp's comp): without this, a
        # descending id chain moves the minimum one hop per round (O(n));
        # halving makes representative chains collapse in O(log n) rounds
        hop = mapping.select(F.col("id").alias("comp"), F.col("comp").alias("comp2"))
        mapping = (
            mapping.join(hop, "comp", "left")
            .select("id", F.coalesce("comp2", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        # contract: rewrite both edge endpoints through the halved mapping
        # (edge endpoints are representative ids, all present in mapping.id),
        # drop self-loops, dedupe - the graph of representatives
        lu = mapping.select(F.col("id").alias("u"), F.col("comp").alias("nu"))
        lv = mapping.select(F.col("id").alias("v"), F.col("comp").alias("nv"))
        e = (
            e.join(lu, "u")
            .join(lv, "v")
            .select(F.col("nu").alias("u"), F.col("nv").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # keep the contracted graph symmetric for the next star step
        e = (
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
    if e.limit(1).count() != 0:
        raise RuntimeError(
            "connected_components did not converge in %d rounds" % max_iter
        )
    return _resolve(mapping)


def _lsh_cc_driver(
    texts: list[str],
    jaccard_threshold: float,
    n_hashes: int,
    n_bands: int,
    max_bucket: int = 256,
) -> list[tuple[str, str]]:
    """Single-process MinHash-LSH + union-find for dimension-sized form sets.

    Same candidate->verify->cluster semantics as the distributed path; the
    minhash permutations are md5-derived here (deterministic) while the
    distributed path uses xxhash64 — band assignment can differ between the
    two, but membership of a >= threshold Jaccard cluster is decided by the
    exact verify step either way.  Exists because the distributed chain is
    ~8 small jobs whose fixed scheduling latency dominates at dimension scale
    (the round-1 scaling bottleneck); here it is one collect."""
    import hashlib

    import numpy as np

    tok_sets = []
    for t in texts:
        tok_sets.append(frozenset((t or "").lower().split()))
    rows = n_hashes // n_bands

    # vectorized minhash: one md5 per distinct token, then n_hashes
    # multiply-add permutations (md5-derived constants) applied in numpy —
    # the per-(seed, token) hashing loop was itself a fixed driver cost
    vocab: dict[str, int] = {}
    for s in tok_sets:
        for tok in s:
            if tok not in vocab:
                vocab[tok] = len(vocab)
    base = np.empty(max(len(vocab), 1), dtype=np.uint64)
    for tok, i in vocab.items():
        base[i] = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
    consts = [
        hashlib.md5(b"perm-%d" % s).digest() for s in range(n_hashes)
    ]
    A = np.array(
        [int.from_bytes(c[:8], "big") | 1 for c in consts], dtype=np.uint64
    )
    B = np.array([int.from_bytes(c[8:16], "big") for c in consts], dtype=np.uint64)
    with np.errstate(over="ignore"):
        mixed = A[:, None] * base[None, :] + B[:, None]  # (n_hashes, V), mod 2^64

    # fully vectorized signatures: CSR layout of token indices (form i owns
    # flat[offs[i]:offs[i + 1]]) + one minimum.reduceat per hash row (the
    # per-form numpy-call loop was the residual fixed driver cost at
    # dimension scale).  The verify below reads the same layout.
    n = len(texts)
    sizes = np.fromiter((len(s) for s in tok_sets), dtype=np.int64, count=n)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sizes, out=offs[1:])
    flat = np.fromiter(
        (vocab[t] for s in tok_sets for t in s), dtype=np.int64, count=int(offs[-1])
    )
    nonempty = np.flatnonzero(sizes)
    sigs = np.zeros((n_hashes, n), dtype=np.uint64)
    if nonempty.size:
        sigs[:, nonempty] = np.minimum.reduceat(
            mixed[:, flat], offs[nonempty], axis=1
        )

    # vectorized banding: group forms by exact band signature via np.unique
    # over a structured view (exact keys — no mixing collisions; candidate
    # groups are what the tuple-keyed dict produced, without the Python loop)
    def band_groups():
        for b in range(n_bands):
            band = np.ascontiguousarray(sigs[b * rows : (b + 1) * rows, :].T)
            view = band.view([("", band.dtype)] * rows).reshape(n)
            _, inv = np.unique(view, return_inverse=True)
            order = np.argsort(inv, kind="stable")
            bounds = np.flatnonzero(np.diff(inv[order])) + 1
            yield from np.split(order, bounds)

    parent = list(range(len(texts)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # candidate pairs: bucket pair expansion in numpy, batched by bucket size
    # (one triu index template per distinct size instead of one allocation
    # per bucket), deduped once with np.unique over packed (a * n + b) keys —
    # the per-pair Python loop with a seen-set was the dominant driver cost
    # (profiled ~2s / 1.1M raw pairs at 40k forms).  The verified union-find
    # is unchanged: its min-text root invariant makes the result independent
    # of pair order.
    by_size: dict[int, list] = {}
    for members in band_groups():
        k = len(members)
        if k < 2 or k > max_bucket:  # hot-bucket cap
            continue
        by_size.setdefault(k, []).append(np.sort(members))
    pair_chunks = []
    for k, groups in by_size.items():
        mat = np.stack(groups).astype(np.int64)  # (m, k)
        ia, ib = np.triu_indices(k, 1)
        pair_chunks.append((mat[:, ia] * n + mat[:, ib]).ravel())
    packed = (
        np.unique(np.concatenate(pair_chunks))
        if pair_chunks
        else np.empty(0, dtype=np.int64)
    )

    def unite(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if texts[ra] < texts[rb] else (rb, ra)
            parent[hi] = lo

    # exact-Jaccard verify over the unique candidate pairs, vectorized for
    # any vocabulary size: each of a's tokens is looked up among b's in the
    # sorted (form * V + token) keys, the hits per pair are |A∩B|,
    # |A∪B| = |A|+|B|-|A∩B|, and one float division decides — only the few
    # surviving pairs reach the Python union-find.  Pairs are chunked so one
    # chunk expands to at most ~4M (pair, token) lookups.
    n_vocab = max(len(vocab), 1)
    keys = np.sort(np.repeat(np.arange(n, dtype=np.int64), sizes) * n_vocab + flat)
    step = max(1, 4_000_000 // max(int(sizes.max(initial=0)), 1))
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
        ok = (union > 0) & ((inter / np.maximum(union, 1)) >= jaccard_threshold)
        for a, b in zip(pa[ok].tolist(), pb[ok].tolist()):
            unite(a, b)
    out = []
    for i, t in enumerate(texts):
        canon = texts[find(i)]
        if canon != t:
            out.append((t, canon))
    return out


def canonicalize_surface_forms(
    df: DataFrame,
    text_col: str = "obj",
    jaccard_threshold: float = 0.9,
    n_hashes: int = 16,
    n_bands: int = 4,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Return (text, canonical_text) — the LSH+CC rewrite table for a column
    of surface forms, containing **only non-identity rewrites**
    (text != canonical_text).  Forms with no near-duplicate simply don't
    appear; consumers rewrite with a left join + ``coalesce`` (see
    ``materialize.build_triples``).  This keeps the table dimension-sized —
    one row per *rewritten* form, not per distinct form — so broadcasting it
    stays viable at web scale (ADVICE r1).

    Form sets up to ``driver_threshold`` distinct values run the
    single-process LSH+union-find fast path (one distinct + collect instead
    of the ~8-job distributed chain — the chain's fixed scheduling latency
    was the round-1 scaling bottleneck); larger sets take the fully
    distributed path."""
    spark = df.sparkSession
    forms = df.select(F.col(text_col).alias("text")).distinct().cache()
    # one job instead of count + collect: a (threshold+1)-limited collect both
    # sizes the form set and, when it fits, IS the form set (the cache serves
    # the distributed path otherwise)
    head = forms.limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        pairs = _lsh_cc_driver(
            [r["text"] for r in head],
            jaccard_threshold, n_hashes, n_bands,
        )
        return spark.createDataFrame(pairs, "text string, canonical_text string")
    toks = tokenize_col(forms, "text").withColumn("id", F.col("text"))
    sigs = minhash_signatures(toks, "id", n_hashes)
    pairs = lsh_candidate_pairs(sigs, "id", n_bands, n_hashes=n_hashes)
    verified = verify_jaccard(pairs, toks, "id", jaccard_threshold).cache()
    if not verified.limit(1).count():
        # no near-duplicates at all: empty rewrite table, skip the CC loop
        return spark.createDataFrame([], "text string, canonical_text string")
    comps = connected_components(verified)
    # canonical member per component = lexicographic min id (== min text)
    canon = comps.groupBy("comp").agg(F.min("id").alias("canonical_text"))
    return (
        comps.join(canon, "comp")
        .select(F.col("id").alias("text"), "canonical_text")
        .filter(F.col("text") != F.col("canonical_text"))
    )
