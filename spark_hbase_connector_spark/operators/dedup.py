"""Deduplication operators (north-star, SURVEY.md §2.3).

Four strategies, all pure-DataFrame (no collect, no driver-side state):

- ``dedup_exact``: hash-groupBy on a key expression; one shuffle.
- ``shingle_jaccard_pairs`` / ``shingle_containment_pairs``: *exact*
  near-dup pairs over word shingles via a rarest-first prefix-filter
  self-join (PPJoin family) plus exact verification — never a cross join,
  and hot (boilerplate) shingles never enter a prefix, so candidate volume
  stays bounded without dropping any shingle from the measure.
- ``minhash_lsh_pairs``: MinHash signatures + banded LSH candidate
  generation + exact-Jaccard verification. The scale path: candidate volume
  is tunable via (num_hashes, bands) and verification touches only
  candidates. Deterministic (fixed permutation seed) so results replay.
- ``simhash_pairs``: 64-bit SimHash + Manku combination banding +
  Hamming-distance verification via bit_count(xor).

Performance architecture (measured, not guessed): Spark's higher-order
array lambdas (transform/aggregate) are *interpreted* — and nested lambdas
re-evaluate subexpressions (a per-position ``element_at(split(text))``
re-splits the text every call). So shingling runs as ONE Arrow
``mapInPandas`` pass producing a *postings* relation (doc_id, shingle),
persisted whenever it has multiple consumers (Spark re-executes Python
stages per consumer otherwise — measured 4x re-shingling, 110s -> ~5s at
sf0.1). MinHash signatures + LSH band keys are likewise one Arrow pass
over the documents (vectorized numpy, zero shuffle, zero explode); only
the bucket self-join and the exact-Jaccard verification shuffle, and both
touch candidate pairs only.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# MinHash affine permutations h_j(x) = (a_j * x + b_j) mod P32 over 32-bit
# hashes; constants are deterministic (seed 42) so every run and the test
# oracle agree. P32 is the smallest prime > 2^32. a < 2^31 keeps
# a*x + b < 2^63 for x < 2^32 — no long overflow under Spark 4 ANSI mode.
_P32 = 4294967311
_rng = random.Random(42)
_MINHASH_AB = [(_rng.randrange(1, 2**31), _rng.randrange(0, _P32)) for _ in range(256)]


def dedup_exact(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact key; returns
    (id_col, copies). Scale: single hash-shuffle on the key."""
    return (
        df.groupBy(key.alias("__key"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("copies"))
        .drop("__key")
    )


def shingle_postings(
    df: DataFrame, text_col: str, id_col: str, w: int = 3
) -> DataFrame:
    """(id, s): the distinct word w-shingles of each document.

    Formulation chosen by measurement (sf0.1, 5k docs / 800k tokens):

    - pure-expression variants are all FRAGILE: Spark's higher-order array
      lambdas run interpreted, and CollapseProject re-inlines a separately
      projected token array back into per-position element accesses when the
      postings subtree is consumed by joins/broadcast builds — re-splitting
      the text per shingle position (observed: a 0.8s subtree ballooning to
      260 CPU-seconds inside a broadcast build);
    - window ``lead`` over posexplode'd tokens is codegen'd but pays a
      per-doc shuffle + sort + dedup shuffle on every re-execution;
    - an Arrow-batched ``mapInPandas`` is a hard optimizer barrier (Python
      eval cannot be collapsed into), vectorized, shuffle-free, and costs
      ~1s at sf0.1 regardless of what consumes it.
    """
    import pandas as pd

    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids: list = []
            shs: list[str] = []
            for i, t in zip(pdf["id"], pdf["__text"]):
                if t is None:
                    continue
                toks = t.split(" ")
                if len(toks) < w:
                    continue
                seen = set()
                for p in range(len(toks) - w + 1):
                    s = " ".join(toks[p : p + w])
                    if s not in seen:
                        seen.add(s)
                        ids.append(i)
                        shs.append(s)
            yield pd.DataFrame({"id": ids, "s": shs})

    return src.mapInPandas(gen, schema=f"id {id_type}, s string")


# splitmix64 finalizer constants for the vectorized shingle hasher
_MX1 = 0x9E3779B97F4A7C15
_MX2 = 0xBF58476D1CE4E5B9
_MX3 = 0x94D049BB133111EB


def _mix64(x):
    """splitmix64 finalizer over a numpy uint64 array (full avalanche)."""
    import numpy as np

    x = (x ^ (x >> np.uint64(30))) * np.uint64(_MX2)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(_MX3)
    return x ^ (x >> np.uint64(31))


def _batch_shingle_hashes(pdf, w: int):
    """Vectorized core of the hashed shinglers: for one Arrow batch of
    (id, __text), returns (ids_valid, doc_idx, pos, h) numpy views where
    ``h[k]`` is a 64-bit hash of the w-token shingle starting at token
    position ``pos[k]`` of document ``doc_idx[k]`` (an index into
    ``ids_valid``). Hash = splitmix64 fold of the per-token keyed-siphash
    values (``pandas.util.hash_array``, fixed key — deterministic across
    workers, runs and sessions), so distinct shingle STRINGS map to
    distinct 64-bit values w.h.p. (same 2^-64 birthday regime as the
    xxhash64(shingle) formulation this replaces). Everything after the
    per-document ``str.split`` is C-speed: one keyed hash over the
    factorized token vocabulary, numpy shift-and-mix for the w-fold, and
    boundary masking — no per-shingle Python, no shingle strings in the
    Arrow stream (8 bytes/posting instead of ~w words)."""
    import numpy as np
    import pandas as pd
    from itertools import chain

    texts = pdf["__text"]
    mask = texts.notna().to_numpy()
    ids = pdf["id"].to_numpy()[mask]
    splits = [t.split(" ") for t in texts[mask]]
    lens = np.fromiter((len(s) for s in splits), dtype=np.int64, count=len(splits))
    n = int(lens.sum())
    empty = (
        ids[:0],
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.empty(0, np.uint64),
    )
    if n < w:
        return empty
    flat = np.array(list(chain.from_iterable(splits)), dtype=object)
    th = pd.util.hash_array(flat, categorize=True)  # uint64 token hashes
    doc_idx = np.repeat(np.arange(len(splits)), lens)
    h = th[: n - w + 1].copy()
    for j in range(1, w):
        h = _mix64(h * np.uint64(_MX1) + th[j : n - w + 1 + j])
    # a shingle is valid iff all w tokens fall inside one document
    valid = doc_idx[: n - w + 1] == doc_idx[w - 1 :]
    if not valid.any():
        return empty
    d = doc_idx[: n - w + 1][valid]
    starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
    pos = np.flatnonzero(valid) - starts[d]
    return ids, d, pos, h[valid]


def _distinct_doc_hashes(d, h):
    """The distinct (doc, hash) pairs of :func:`_batch_shingle_hashes`
    output, sorted by doc then hash: a C-level lexsort plus
    consecutive-dedup."""
    import numpy as np

    if not len(d):
        return d, h
    order = np.lexsort((h, d))
    d, h = d[order], h[order]
    keep = np.empty(len(d), dtype=bool)
    keep[0] = True
    keep[1:] = (d[1:] != d[:-1]) | (h[1:] != h[:-1])
    return d[keep], h[keep]


def shingle_posting_hashes(
    df: DataFrame, text_col: str, id_col: str, w: int = 3
) -> DataFrame:
    """(id, s: long): 64-bit hashes of the distinct word w-shingles of each
    document — the hashed twin of :func:`shingle_postings` for consumers
    that only ever join/group on the shingle IDENTITY (every exact-pair
    operator does: Jaccard/containment counts, span detection, MinHash
    verification). The hash moves into the vectorized Arrow pass (see
    :func:`_batch_shingle_hashes`), so the shingle string never crosses
    the Python->JVM boundary at all and the downstream ``xxhash64``
    projection disappears; per-doc distinctness is a C-level lexsort
    dedup. Identical pair/count results w.h.p. (64-bit collision regime
    unchanged from the xxhash64-keyed formulation it replaces)."""
    import numpy as np
    import pandas as pd

    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids, d, _, h = _batch_shingle_hashes(pdf, w)
            d, h = _distinct_doc_hashes(d, h)
            yield pd.DataFrame({"id": ids[d], "s": h.view(np.int64)})

    return src.mapInPandas(gen, schema=f"id {id_type}, s long")


def shingle_posting_hashes_pos(
    df: DataFrame, text_col: str, id_col: str, w: int = 8
) -> DataFrame:
    """(id, p, h): EVERY w-shingle occurrence as (0-based token position,
    64-bit shingle hash) — NOT distinct, unlike
    :func:`shingle_posting_hashes`, because span detection needs each
    position (and only position + identity, never the string). Same
    vectorized single-pass core as :func:`shingle_posting_hashes`."""
    import numpy as np
    import pandas as pd

    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids, d, pos, h = _batch_shingle_hashes(pdf, w)
            yield pd.DataFrame(
                {
                    "id": ids[d],
                    "p": pos.astype(np.int32),
                    "h": h.view(np.int64),
                }
            )

    return src.mapInPandas(gen, schema=f"id {id_type}, p int, h long")


def paragraph_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    passthrough: tuple[str, ...] = (),
    w: int = 8,
) -> DataFrame:
    """(id, *passthrough, ord, seg): NON-overlapping ``w``-token chunks of
    each document, in order — the "paragraph" unit for CCNet-style
    sub-document dedup (the corpus text carries no newline structure, so
    fixed-width token windows stand in for paragraphs, the same stand-in
    ``dedup_sentence_exact`` uses for sentences). Unlike
    :func:`shingle_postings` the chunks tile the document (len/w rows per
    doc, not len rows), and ``ord`` preserves reconstruction order. Same
    single Arrow-pass architecture (see the module docstring for why the
    pure-expression formulation loses). r10: the per-chunk Python loop
    (scalar ``.iloc`` per passthrough value per chunk dominated) is
    replaced by ``np.repeat`` gathers for every fixed-width column; only
    the unavoidable per-chunk ``" ".join`` remains Python-level."""
    import numpy as np
    import pandas as pd

    cols = [F.col(id_col).alias("id"), *passthrough, F.col(text_col).alias("__text")]
    src = df.select(*cols)
    id_type = df.schema[id_col].dataType.simpleString()
    pt_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in passthrough
    )

    def gen(batches):
        for pdf in batches:
            texts = pdf["__text"]
            mask = texts.notna().to_numpy()
            ids = pdf["id"].to_numpy()[mask]
            pt_vals = {c: pdf[c].to_numpy()[mask] for c in passthrough}
            splits = [t.split(" ") for t in texts[mask]]
            nck = np.fromiter(
                ((len(s) + w - 1) // w for s in splits),
                dtype=np.int64,
                count=len(splits),
            )
            d = np.repeat(np.arange(len(splits)), nck)
            total = int(nck.sum())
            starts = np.concatenate(([0], np.cumsum(nck)))[:-1]
            ords = np.arange(total, dtype=np.int64) - starts[d]
            segs = [
                " ".join(s[j * w : (j + 1) * w])
                for s, n in zip(splits, nck)
                for j in range(n)
            ]
            out = {"id": ids[d]}
            for c in passthrough:
                out[c] = pt_vals[c][d]
            out["ord"] = ords.astype(np.int32)
            out["seg"] = segs
            yield pd.DataFrame(out)

    return src.mapInPandas(
        gen, schema=f"id {id_type}{pt_schema}, ord int, seg string"
    )


def duplicated_span_stats(
    df: DataFrame, text_col: str, id_col: str, w: int = 8
) -> DataFrame:
    """Per-document duplicated-substring coverage: (id, n_spans,
    dup_tokens), where spans are the maximal token intervals covered by
    w-shingles that occur in >= 2 distinct documents — the scalable
    relational analogue of suffix-array substring dedup over a corpus.

    Plan: positional postings (one Arrow pass, persisted — two consumers),
    duplicated-shingle set via one groupBy on the 64-bit shingle hash
    (8-byte keys computed inside the Arrow pass — r10: the string never
    even leaves Python), then per-document interval union as
    two same-sort windows (running max + island cumsum) — gaps-and-islands
    where overlapping-or-touching shingle intervals [p, p+w) merge, so
    ``dup_tokens`` is the exact union coverage, never double-counted.

    Scale: posting volume is O(total tokens); the groupBy and the window
    both shuffle by doc — bounded per-doc state, no all-pairs anything.
    """
    posts = shingle_posting_hashes_pos(df, text_col, id_col, w).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dup = (
        posts.groupBy("h")
        .agg(F.count_distinct("id").alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("h")
    )
    hits = posts.join(dup, "h").select("id", "p")
    w_prev = (
        Window.partitionBy("id").orderBy("p").rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max("p").over(w_prev)
    new_island = F.when(
        prev_max.isNull() | (F.col("p") > prev_max + w), F.lit(1)
    ).otherwise(F.lit(0))
    w_run = (
        Window.partitionBy("id").orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = hits.select("id", "p", F.sum(new_island).over(w_run).alias("g"))
    spans = islands.groupBy("id", "g").agg(
        (F.max("p") - F.min("p") + w).alias("span_tokens")
    )
    return spans.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
    )


def _rarity_ranked_docs(posts: DataFrame) -> DataFrame:
    """(id, ss, n): each document's shingle hashes as an array sorted by
    global rarity (document frequency asc, hash asc — one shared total
    order), plus the set size — the scaffolding both prefix-filter
    operators build their prefixes and verification arrays from.

    r11 (guide §3.1, §2.3; measured at sf10, where this build was the
    single largest stage of the prefix operators):

    - the df join runs as a SHUFFLED HASH join (hint) instead of the
      planner's default sort-merge: sorting ~26M postings + ~20M distinct
      shingles by ``s`` only to throw the order away in the next
      groupBy(id) exchange was the wall (docs build 42 s -> 6 s in the
      quiet-box run; consistently fastest under load). The build side is
      the per-partition slice of the (s, df) relation — a few MB per
      partition at any scale once AQE sizes the exchange.
    - ``df`` is carried as a saturating int32 instead of int64: the sort
      key only needs A shared total order biased to rarity, and halving
      the struct halves what the groupBy(id) exchange moves per posting.
      (least(count, 2^31-1) keeps ANSI mode overflow-free if a planetary
      boilerplate shingle ever exceeds 2.1B documents; saturated ties
      still sort deterministically by the hash tiebreaker.)
    """
    dfreq = posts.groupBy("s").agg(
        F.least(F.count(F.lit(1)), F.lit(2**31 - 1)).cast("int").alias("df")
    )
    return (
        posts.join(dfreq.hint("shuffle_hash"), "s")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "s"))).alias("arr"))
        .select(
            "id",
            F.transform("arr", lambda x: x["s"]).alias("ss"),
            F.size("arr").alias("n"),
        )
    )


def shingle_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.9,
    w: int = 3,
) -> DataFrame:
    """Exact asymmetric containment pairs: C(A in B) = |A ∩ B| / |A| >=
    threshold over distinct word w-shingles — catches a short document
    embedded in a longer one, which symmetric Jaccard misses (the union
    term dilutes it). Candidates come from a rarest-first PREFIX-FILTER
    index, which is lossless, unlike an LSH candidate stage:
    Jaccard-banding misses exactly the low-Jaccard short-in-long pairs
    containment exists to catch.

    Output: (id1, id2, containment) = id1's shingles covered by id2,
    rounded to 4 places; both directions of a pair are reported when each
    qualifies.

    Completeness (pigeonhole): order every document's shingles by global
    rarity (document frequency asc, hash asc). If C(A in B) = |A∩B|/|A|
    >= t, then |A \\ B| <= (1-t)|A|; so if B missed ALL of A's
    floor((1-t)|A|)+1 rarest shingles, |A \\ B| > (1-t)|A| — contradiction.
    Hence joining only A's prefix against full postings generates every
    qualifying directional pair. (+1 extra prefix element absorbs any
    float-rounding of (1-t)*n — a longer prefix only adds candidates,
    never drops pairs. The prefix length k is capped at |A|: the count
    filter below must use the prefix's real length, or at low t, and for
    one-shingle documents at any t, it asks for more matches than the
    prefix holds and drops qualifying pairs.)

    Two further SOUND prunes keep the verify stage tiny:
    - count filter: |A∩B| >= t|A| and at most |A|-k matches can fall
      outside A's k-element prefix, so a qualifying pair must share
      >= k - (1-t)|A| PREFIX shingles (~2 at t=0.9) — the candidate
      groupBy already counts prefix matches, so this is a free filter
      that kills the one-rare-shingle-in-common long tail (measured
      14.3M -> 568k candidates at the 50k stress).
    - size filter is implied by it (k - (1-t)n1 <= pi <= n2).
    Verification then joins each surviving pair to the two docs' shingle
    ARRAYS and intersects JVM-side (``array_intersect``) — no row
    explosion, no (id2, shingle) shuffle of candidate x shingle rows.

    Scale shape: candidate volume falls from Σ_s df(s)² (every shared
    shingle) to Σ_{s in prefixes} df(s)·df_full(s) — prefixes are both
    ~(1-t) of each doc's shingles AND biased to the rarest shingles, so
    hot boilerplate shingles never generate candidates from the prefix
    side. Measured at the 50k 10x-replication stress: ~28 s vs >600 s
    for a plain inverted-index self-join, identical 492,910 pairs
    (SCALE.md). At low thresholds the prefix covers most of each
    document (floor(0.9n)+2 of n shingles at t=0.1), so the candidate
    join does that plain join's work plus the ranking and verification.
    """
    # persisted: the ranking's df count and join both read the postings,
    # and Spark would re-run the Python shingler for each consumer
    posts = shingle_posting_hashes(df, text_col, id_col, w).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # one groupBy(id) produces rank (sort_array), size, prefix slice and
    # the verification array — same fusion as the jaccard twin (r6);
    # r11: shared _rarity_ranked_docs scaffolding (shuffled-hash df join,
    # int32 df sort key — see its docstring). No positional filter here:
    # for the one-sided prefix×full-postings join the positional bound
    # pi >= mp1 - (1-t)·n1 is implied by the existing pigeonhole count
    # filter pi >= k1 - (1-t)·n1 (mp1 <= k1), so it would prune nothing.
    docs = (
        _rarity_ranked_docs(posts)
        .withColumn(
            "k",
            F.least(
                F.col("n"), F.floor((1.0 - threshold) * F.col("n")) + 2
            ).cast("int"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prefix = docs.select(
        "id", "n", "k", F.explode(F.slice("ss", F.lit(1), F.col("k"))).alias("s")
    )
    # prefix-match count per directional pair; the count doubles as the
    # pigeonhole filter (see docstring) before any verification work.
    # n/k ride on the prefix postings so the filter fuses into this
    # aggregation — no separate size join (r6 plan flattening).
    survivors = (
        prefix.alias("a")
        .join(
            posts.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") != F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(
            F.count(F.lit(1)).alias("pi"),
            F.first(F.col("a.n")).alias("n1"),
            F.first(F.col("a.k")).alias("k1"),
        )
        .where(
            F.col("pi")
            >= F.col("k1") - (1.0 - threshold) * F.col("n1") - F.lit(1e-9)
        )
        .select("id1", "id2", "n1")
    )
    s1 = docs.select(F.col("id").alias("id1"), F.col("ss").alias("ss1"))
    s2 = docs.select(F.col("id").alias("id2"), F.col("ss").alias("ss2"))
    cont = F.size(F.array_intersect("ss1", "ss2")) / F.col("n1")
    return (
        survivors.join(s1, "id1")
        .join(s2, "id2")
        .where(cont >= threshold)  # filter on the UNROUNDED value
        .select("id1", "id2", F.round(cont, 4).alias("containment"))
    )


def shingle_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.85,
    w: int = 3,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs over distinct word w-shingles, via
    a rarest-first PREFIX-FILTER self-join (PPJoin family, Xiao et al.,
    WWW 2008) plus exact verification. MinHash-LSH
    (:func:`minhash_lsh_pairs`) stays the probabilistic alternative; this
    one is a theorem, not an s-curve, so exactness is the contract.

    Output columns: (id1, id2, jaccard), id1 < id2, jaccard unrounded.

    Completeness: order every document's shingles by global rarity
    (document frequency asc, hash asc — one shared total order). If
    J(A,B) >= t then the overlap alpha = |A∩B| satisfies
    alpha >= t/(1+t)(|A|+|B|) >= ceil(t·max(|A|,|B|)) (using the size
    bound |A| >= t|B|), and the prefix lemma gives: two ordered sets with
    overlap >= alpha must share an element within their
    (n - alpha + 1)-prefixes. Each side's own alpha_x = ceil(t·n_x) is
    <= alpha, and a smaller alpha only LENGTHENS the prefix, so joining
    the per-doc (n - ceil(t·n) + 1)-prefixes generates every qualifying
    pair. (+1 extra element absorbs float rounding of ceil(t·n) — longer
    prefixes add candidates, never drop pairs.)

    Plan shape (flattened r6, VERDICT r5 item 5): candidate volume falls
    from Σ_s df(s)² (every shared shingle — a plain inverted-index
    self-join's wall) to Σ_s pf(s)² over PREFIX postings only (~(1-t)
    of each doc's shingles, biased to the rarest, so hot boilerplate
    shingles never reach the join). The per-doc set size ``n`` RIDES ON the prefix postings (one
    extra long per row), so the size-ratio filter
    (min(n1,n2) >= t·max(n1,n2)) fuses into the candidate aggregation
    itself — no separate s1/s2 size joins, and survivors go straight to
    verification: one ``array_intersect`` per pair against the two doc
    shingle arrays. The prefix relation is persisted: its subtree
    (dfreq join + rank window) feeds BOTH sides of the self-join, and
    without the persist Spark plans the chain twice. Every shuffle is
    prefix-postings- or candidate-sized.
    """
    # persisted: the ranking's df count and join both read the postings,
    # and Spark would re-run the Python shingler for each consumer
    posts = shingle_posting_hashes(df, text_col, id_col, w).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # df via groupBy+join, NOT a count-over-window by s: a boilerplate
    # shingle's window group would buffer df(s) rows in ONE task
    # (unsplittable skew), while the aggregate is map-side partial and AQE
    # can split join skew. Everything per-doc then fuses into ONE
    # groupBy(id): sort_array(collect_list(struct(df,s))) IS the rarity
    # rank (no window exec), its size IS n, its head slice IS the prefix,
    # and the shingle projection IS the verification array — one exchange
    # where the r5 plan used three (rank window, sizes agg, sets agg).
    docs = (
        _rarity_ranked_docs(posts)
        .withColumn(
            "k",
            (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 2).cast("int"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # positions ride the prefix (1-based rank in the doc's rarity order)
    # to power the PPJoin positional filter below
    prefix = docs.select(
        "id",
        "n",
        F.posexplode(F.slice("ss", F.lit(1), F.col("k"))).alias("p", "s"),
    ).withColumn("p", F.col("p") + 1)
    # Positional filter (PPJoin, Xiao et al. — sound upper bound): let the
    # pair's prefix matches be m_1 < ... < m_pi in the shared rarity
    # order, with m_pi at positions (mp1, mp2). Any common element
    # x < m_pi lies in BOTH prefixes (x precedes a prefix member in each
    # doc's order) and is therefore itself one of the pi matches; so
    # everything else in A∩B is ordered >= m_pi and
    # |A∩B| <= pi + min(n1 - mp1, n2 - mp2). J >= t needs
    # |A∩B| >= t/(1+t)·(n1+n2); pairs whose bound can't reach that are
    # dropped BEFORE verification — lossless (measured sf10: candidates
    # 2.54M -> 657k, identical 25,500 output pairs). Late-prefix-only
    # matches are exactly the hot boilerplate tail, so this kills the
    # candidates the rarest-first ordering couldn't.
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(
            F.first(F.col("a.n")).alias("n1"),
            F.first(F.col("b.n")).alias("n2"),
            F.max(F.col("a.p")).alias("mp1"),
            F.max(F.col("b.p")).alias("mp2"),
            F.count(F.lit(1)).alias("pi"),
        )
        .where(
            F.least("n1", "n2")
            >= threshold * F.greatest("n1", "n2") - F.lit(1e-9)
        )
        .where(
            F.col("pi")
            + F.least(F.col("n1") - F.col("mp1"), F.col("n2") - F.col("mp2"))
            >= F.lit(threshold)
            / (1.0 + threshold)
            * (F.col("n1") + F.col("n2"))
            - F.lit(1e-9)
        )
    )
    g1 = docs.select(F.col("id").alias("id1"), F.col("ss").alias("ss1"))
    g2 = docs.select(F.col("id").alias("id2"), F.col("ss").alias("ss2"))
    i = F.size(F.array_intersect("ss1", "ss2"))
    jac = i / (F.col("n1") + F.col("n2") - i)
    return (
        cand.select("id1", "id2", "n1", "n2")
        .join(g1, "id1")
        .join(g2, "id2")
        .select("id1", "id2", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_band_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    w: int = 3,
) -> DataFrame:
    """(id, band, bkey): LSH band bucket keys straight from the documents.

    One Arrow ``mapInPandas`` pass, vectorized across the WHOLE batch
    (r10 — the per-document numpy loop paid ~50 us of small-array
    overhead per doc): the shared vectorized shingler
    (:func:`_batch_shingle_hashes`) produces all (doc, shingle-hash)
    occurrences, a C-level lexsort dedups them per doc, each affine
    permutation h_j(x) = (a_j x + b_j) mod P32 is evaluated over the
    entire batch's postings at once with the per-doc minimum taken by
    ``np.minimum.reduceat``, and band keys are a splitmix64 fold of each
    band's signature rows. Zero shuffles and zero row explosion before
    the bucket join — the JVM alternative (explode each shingle hash x
    num_hashes, groupBy min) moves docs x num_hashes rows through two
    shuffles and re-executes upstream Python stages per consumer.
    Signatures are internal (candidates are exact-verified), so the hash
    only needs determinism — the permutation input is the low 32 bits of
    the deterministic 64-bit shingle hash (duplicates introduced by the
    masking are absorbed by the min).
    """
    import numpy as np
    import pandas as pd

    rows = num_hashes // bands
    A = np.array([a for a, _ in _MINHASH_AB[:num_hashes]], dtype=np.uint64)
    B = np.array([b for _, b in _MINHASH_AB[:num_hashes]], dtype=np.uint64)
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids, d, _, h = _batch_shingle_hashes(pdf, w)
            if not len(d):
                yield pd.DataFrame(
                    {
                        "id": ids[:0],
                        "band": pd.array([], dtype="int32"),
                        "bkey": pd.array([], dtype="int64"),
                    }
                )
                continue
            # distinct (doc, shingle) then mask to the 32-bit affine domain
            d, h = _distinct_doc_hashes(d, h)
            x = h & np.uint64(0xFFFFFFFF)
            docs, starts = np.unique(d, return_index=True)
            n_docs = len(docs)
            sig = np.empty((num_hashes, n_docs), dtype=np.uint64)
            for j in range(num_hashes):
                sig[j] = np.minimum.reduceat(
                    (A[j] * x + B[j]) % np.uint64(_P32), starts
                )
            bnd = np.repeat(np.arange(bands, dtype=np.int32), n_docs)
            keys = np.empty((bands, n_docs), dtype=np.uint64)
            for jb in range(bands):
                k = sig[jb * rows] + np.uint64(jb)
                for r in range(1, rows):
                    k = _mix64(k * np.uint64(_MX1) + sig[jb * rows + r])
                keys[jb] = _mix64(k)
            yield pd.DataFrame(
                {
                    "id": np.tile(ids[docs], bands),
                    "band": bnd,
                    "bkey": keys.reshape(-1).view(np.int64),
                }
            )

    return src.mapInPandas(gen, schema=f"id {id_type}, band int, bkey long")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.85,
    num_hashes: int = 64,
    bands: int = 16,
    w: int = 3,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified.

    Pipeline: band bucket keys (single Arrow pass, no shuffle — see
    ``minhash_band_buckets``) -> self-join per band bucket -> distinct
    candidate pairs -> verify exact Jaccard against the (persisted)
    postings. With (64, 16) the LSH s-curve threshold is (1/16)^(1/4) =
    0.5: a 0.9-similar pair is missed with p < 1e-7, and everything
    reported is exact-verified, so at these parameters the output equals
    the exact :func:`shingle_jaccard_pairs` result with near-certainty while
    only ever comparing candidate pairs.

    Output columns: (id1, id2, jaccard).
    """
    # persisted: consumed by sizes and both verification sides (3x).
    # r10: hashed postings — the verification join keys on the 8-byte
    # shingle hash computed inside the Arrow pass (same pairs w.h.p.),
    # so shingle strings never cross the Python->JVM boundary or shuffle.
    posts = shingle_posting_hashes(df, text_col, id_col, w).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    # persisted: the bucket relation is self-joined (both sides)
    buckets = minhash_band_buckets(df, text_col, id_col, num_hashes, bands, w).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    # verification: count common shingles only for candidate pairs
    p1 = posts.select(F.col("id").alias("id1"), "s")
    p2 = posts.select(F.col("id").alias("id2"), "s")
    inter = (
        cand.join(p1, "id1")
        .join(p2, ["id2", "s"])
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("id").alias("id1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("id").alias("id2"), F.col("n").alias("n2"))
    jac = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
    return (
        inter.join(sa, "id1")
        .join(sb, "id2")
        .select("id1", "id2", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash_words(
    df: DataFrame, text_col: str, id_col: str, w: int = 3
) -> DataFrame:
    """(id, h: long): 64-bit SimHash word per document, one Arrow pass.

    Bit b of the result is 1 iff the majority of the document's distinct
    shingle hashes have bit b set. Shingle hash = first 8 bytes of md5,
    big-endian — exactly replayable in DuckDB as
    ``('0x' || substr(md5(s),1,16))::UBIGINT``, which is what makes SimHash
    driver-checkable end-to-end. Everything (shingling, hashing, the 64
    majority votes, word assembly) happens in one vectorized ``mapInPandas``
    pass — the JVM alternative (a groupBy with 64 sum aggregates plus a
    64-term word expression) costs ~4s of Catalyst/Janino compile per run
    before touching a row, and an extra shuffle.

    r11: REVERTED to the per-document formulation below. The r10
    batch-wide rewrite (``pd.factorize`` + md5 per batch-unique shingle +
    one ``np.unpackbits``/``np.add.reduceat`` vote pass) won a
    single-threaded microbenchmark but LOST end to end with a heavy right
    tail — committed interleaved fresh-process A/B (`ab/r11/ab_simhash_*`,
    5 pairs, per-row load sentinels): r9 per-doc code steady at
    1.38-1.56 s while the batch-wide code's clean rows spanned
    1.32-3.59 s (median ratio 1.20x, and an 8.99 s median-of-3 row in
    this round's opening bench). The batch-wide pass allocates
    object-array + 64-bytes-per-posting temporaries that interact badly
    with worker memory state; the per-doc pass touches only
    (doc-shingles x 64) blocks that stay cache-sized. Guide §1.1: the
    empirical loop beats the first-principles rewrite here.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    id_type = df.schema[id_col].dataType.simpleString()
    shifts = np.arange(64, dtype=np.uint64)[None, :]

    def gen(batches):
        for pdf in batches:
            ids: list = []
            words: list[int] = []
            for i, t in zip(pdf["id"], pdf["__text"]):
                if t is None:
                    continue
                toks = t.split(" ")
                if len(toks) < w:
                    continue
                shs = {" ".join(toks[p : p + w]) for p in range(len(toks) - w + 1)}
                h = np.fromiter(
                    (
                        int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
                        for s in shs
                    ),
                    dtype=np.uint64,
                    count=len(shs),
                )
                votes = ((h[:, None] >> shifts) & 1).sum(axis=0)
                word = int(((votes * 2 > len(h)).astype(np.uint64) << shifts[0]).sum())
                if word >= 2**63:
                    word -= 2**64
                ids.append(i)
                words.append(word)
            yield pd.DataFrame({"id": ids, "h": pd.array(words, dtype="int64")})

    return src.mapInPandas(gen, schema=f"id {id_type}, h long")


def edit_distance_pairs(
    strings: DataFrame,
    col: str = "s",
    max_dist: int = 2,
) -> DataFrame:
    """(s1, s2, dist): distinct string pairs with Levenshtein <= max_dist.

    Segment-pigeonhole blocking (the published PassJoin scheme — Li,
    Deng & Feng, "PassJoin: a partition-based method for similarity
    joins", VLDB 2011 — public algorithm): split every indexed string
    into d+1 contiguous segments; if ed(s,t) <= d then at least one of
    s's segments survives unedited in t, at a start shifted by at most d.
    The probe side therefore enumerates, for each candidate source
    length l in [|t|-d, |t|+d] and each segment index, the <= 2d+1
    substrings of t in that segment's position window — O(d^2) probe
    rows per string joined on (seg_idx, source_len, segment_text), an
    EXACT-substring equi-join that stays selective no matter how many
    strings share a LENGTH. (The r5 length-bucket join collapsed into
    one quadratic hot bucket at sf1: every title has ~the same length,
    so |bucket|^2 candidates landed in a single task. Segment equality
    replaces the length bucket as the join key; the length constraint is
    implied by l's range.) Strings shorter than 2d+1 chars can't carry
    d+1 non-empty segments — every pair involving one routes through the
    old length-bucket join, which is tiny at that length (both sides
    <= 3d chars). Union of the two paths is lossless; verification is
    the built-in JVM ``levenshtein`` on deduplicated candidate pairs.

    Output is ordered pairs s1 < s2.
    """
    k = max_dist + 1
    d = max_dist
    # the distinct relation feeds FOUR consumers (short path x2, index,
    # probe); without the persist the upstream distinct (a full shuffle,
    # plus whatever produced the strings) re-executes per consumer —
    # measured 153 s -> ~30 s at sf1 on the registry entry
    s = (
        strings.select(F.col(col).alias("s"))
        .where(F.col("s").isNotNull())
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    short_max = k - 1 + d  # any pair whose min length < k has BOTH sides <= this
    s_short = s.where(F.length("s") <= short_max)

    # --- short path: length-bucket join over the (tiny) short-string set
    a = s_short.select(F.col("s").alias("s1"), F.length("s1").alias("__len"))
    offsets = F.array(*[F.lit(i) for i in range(-d, d + 1)])
    b = (
        s_short.select(F.col("s").alias("s2"), F.explode(offsets).alias("__off"))
        .select("s2", (F.col("__off") + F.length("s2")).alias("__len"))
    )
    short_pairs = a.join(b, "__len").where(F.col("s1") < F.col("s2")).select("s1", "s2")

    # --- segment path: covers every pair with min length >= k
    # index side: the d+1 canonical segments of s (first k-rem of length
    # base, then rem of length base+1; start_i = i*base + max(0, i-(k-rem)))
    seg_idx_expr = F.expr(
        f"""
        transform(sequence(0, {d}), i -> struct(
          CAST(i AS INT) AS seg_idx,
          substring(s,
            CAST(i * (length(s) DIV {k})
                 + greatest(0, i - ({k} - length(s) % {k})) + 1 AS INT),
            CAST((length(s) DIV {k})
                 + IF(i >= {k} - length(s) % {k}, 1, 0) AS INT)) AS seg
        ))
        """
    )
    idx = (
        s.where(F.length("s") >= k)
        .select(
            F.col("s").alias("sA"),
            F.length("s").cast("int").alias("l1"),
            F.explode(seg_idx_expr).alias("g"),
        )
        .select("sA", "l1", "g.seg_idx", "g.seg")
    )
    # probe side: for each source length l and segment i, every substring
    # of t with the segment's width, starting within +-d of its canonical
    # start (empty ranges guarded — Spark's sequence() runs BACKWARDS when
    # lo > hi, it is not empty)
    probe_expr = F.expr(
        f"""
        flatten(transform(sequence(greatest(length(s) - {d}, {k}), length(s) + {d}), l ->
          flatten(transform(sequence(0, {d}), i ->
            transform(
              IF(greatest(0, CAST(i * (l DIV {k}) + greatest(0, i - ({k} - l % {k})) AS INT) - {d})
                   <= least(length(s) - CAST((l DIV {k}) + IF(i >= {k} - l % {k}, 1, 0) AS INT),
                            CAST(i * (l DIV {k}) + greatest(0, i - ({k} - l % {k})) AS INT) + {d}),
                 sequence(greatest(0, CAST(i * (l DIV {k}) + greatest(0, i - ({k} - l % {k})) AS INT) - {d}),
                          least(length(s) - CAST((l DIV {k}) + IF(i >= {k} - l % {k}, 1, 0) AS INT),
                                CAST(i * (l DIV {k}) + greatest(0, i - ({k} - l % {k})) AS INT) + {d})),
                 array()),
              st -> struct(
                CAST(l AS INT) AS l1,
                CAST(i AS INT) AS seg_idx,
                substring(s, CAST(st + 1 AS INT),
                  CAST((l DIV {k}) + IF(i >= {k} - l % {k}, 1, 0) AS INT)) AS seg)
            )
          ))
        ))
        """
    )
    probe = (
        s.where(F.length("s") >= k)  # pairs with a < k side are short-path
        .select(F.col("s").alias("sB"), F.explode(probe_expr).alias("g"))
        .select("sB", "g.l1", "g.seg_idx", "g.seg")
    )
    seg_pairs = (
        probe.join(idx, ["l1", "seg_idx", "seg"])
        .where(F.col("sA") != F.col("sB"))
        .select(
            F.least("sA", "sB").alias("s1"),
            F.greatest("sA", "sB").alias("s2"),
        )
    )
    cand = short_pairs.unionByName(seg_pairs).distinct()
    return cand.select(
        "s1", "s2", F.levenshtein("s1", "s2").alias("dist")
    ).where(F.col("dist") <= max_dist)


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    w: int = 3,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    Combination banding (Manku/Jain/Sarma, "Detecting near-duplicates
    for web crawling", WWW 2007 — public algorithm): split the 64-bit
    word into B = max_hamming + 3 blocks; a pair within Hamming distance
    k differs in at most k blocks, so it agrees EXACTLY on some
    (B - k)-subset of blocks. Enumerating every C(B, B-k) subset as a
    concatenated bucket key (k=3: C(6,3) = 20 keys of ~33 bits) makes
    candidates equality-join matches on those keys — recall stays
    *guaranteed* (exact) while buckets stay tiny: the naive k+1-way
    split (4 x 16-bit chunks) saturates once n >> 2^16 — at 5M docs
    every 16-bit bucket holds ~76 docs and the self-join emits ~760M
    quadratic candidates (measured 335 s at sf100); 33-bit combination
    keys keep expected random collisions ~n^2/2^34 per combo (~linear
    total), only true near-dups collide, and the same corpus takes the
    verify-join path in seconds. Each doc carries C(B, B-k) keys instead
    of k+1 — index volume grows 5x, candidate volume collapses ~10^4x.

    Output columns: (id1, id2, hamming).
    """
    # persisted inside hamming_band_pairs: the bucket relation is
    # self-joined, which would otherwise re-execute the whole
    # shingle+simhash Arrow pass per side
    return hamming_band_pairs(
        simhash_words(df, text_col, id_col, w), max_hamming=max_hamming
    )


def hamming_band_pairs(words: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(id1, id2, hamming) pairs within `max_hamming` over an (id, h)
    frame of 64-bit signature words — the signature-agnostic core of
    `simhash_pairs` (same Manku WWW'07 combination banding, same
    guaranteed-recall argument), reused by the perceptual image-hash
    dedup (`operators/multimodal.py:image_dhash_words`) and the audio
    fingerprint dedup. The input subtree is persisted here because the
    bucket relation is self-joined; the verified pair set (small by
    construction: only true near-dups plus ~n^2/2^34-per-combo random
    collisions survive) is eagerly localCheckpointed so the persisted
    words frame can be released before returning — without that,
    every call leaked one cached relation for the session (ADVICE r8)."""
    import itertools

    base = words.persist(StorageLevel.MEMORY_AND_DISK)
    n_blocks = max_hamming + 3
    match_blocks = n_blocks - max_hamming
    base_w, rem = divmod(64, n_blocks)
    widths = [base_w + (1 if j < rem else 0) for j in range(n_blocks)]
    offsets = [sum(widths[:j]) for j in range(n_blocks)]
    blocks = [
        F.shiftrightunsigned(F.col("h"), offsets[j]).bitwiseAND(
            F.lit((1 << widths[j]) - 1)
        )
        for j in range(n_blocks)
    ]
    keys = []
    for combo in itertools.combinations(range(n_blocks), match_blocks):
        key = F.lit(0).cast("long")
        for j in combo:
            key = F.shiftleft(key, widths[j]).bitwiseOR(blocks[j])
        keys.append(key)
    buckets = base.select(
        "id", "h", F.posexplode(F.array(*keys)).alias("combo", "ckey")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.combo") == F.col("b.combo"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.h").alias("h1"),
            F.col("b.h").alias("h2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    out = (
        cand.select("id1", "id2", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .localCheckpoint()
    )
    base.unpersist()
    return out


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.85,
    num_hashes: int = 64,
    bands: int = 16,
    w: int = 3,
) -> DataFrame:
    """Delta-vs-corpus near-dup pairs — the continuous-ingest shape of
    :func:`minhash_lsh_pairs`: candidates come from joining the NEW
    batch's LSH band buckets against the CORPUS buckets, so candidate
    volume is delta-sized × bucket collision rate — never corpus×corpus,
    and the corpus is never self-compared (a re-ingested id is excluded
    from pairing with itself). Same recall argument as the symmetric
    variant; every reported pair is exact-Jaccard verified.

    Cost honesty: as written each side pays TWO Arrow passes (postings
    for verification + band buckets for candidates), and the corpus side
    recomputes both per call — fine at test scale. The 100 TB deployment
    persists the corpus postings and buckets as maintained tables
    (append the delta's after each ingest) and derives signatures from
    the stored postings, so a batch pays one Arrow pass over the delta
    plus the bucket join — this function is the semantics contract those
    artifacts must reproduce.

    Output columns: (new_id, corpus_id, jaccard).
    """
    new_posts = shingle_posting_hashes(new_df, text_col, id_col, w).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    corpus_posts = shingle_posting_hashes(corpus_df, text_col, id_col, w).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_sizes = new_posts.groupBy("id").agg(F.count(F.lit(1)).alias("n1"))
    c_sizes = corpus_posts.groupBy("id").agg(F.count(F.lit(1)).alias("n2"))
    nb = minhash_band_buckets(new_df, text_col, id_col, num_hashes, bands, w)
    cb = minhash_band_buckets(corpus_df, text_col, id_col, num_hashes, bands, w)
    cand = (
        nb.alias("a")
        .join(
            cb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            # a re-ingested doc (same id in delta AND corpus) must not be
            # reported as a near-duplicate of itself
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(F.col("a.id").alias("new_id"), F.col("b.id").alias("corpus_id"))
        .dropDuplicates(["new_id", "corpus_id"])
    )
    p1 = new_posts.select(F.col("id").alias("new_id"), "s")
    p2 = corpus_posts.select(F.col("id").alias("corpus_id"), "s")
    inter = (
        cand.join(p1, "new_id")
        .join(p2, ["corpus_id", "s"])
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
    return (
        inter.join(n_sizes.withColumnRenamed("id", "new_id"), "new_id")
        .join(c_sizes.withColumnRenamed("id", "corpus_id"), "corpus_id")
        .where(jac >= threshold)
        .select("new_id", "corpus_id", F.round(jac, 4).alias("jaccard"))
    )


# --------------------------------------------------------------- bloom ----
# Explicit distributed bloom filter for incremental-ingest dedup. Spark's
# runtime bloom injection (spark.sql.optimizer.runtime.bloomFilter.*) only
# fires for selective equi-joins it can prove eligible — a LEFT ANTI
# delta-vs-corpus join is not one of them, and the bloom_filter_agg /
# might_contain expressions are internal-only (not SQL-registered). So the
# standard 100 TB accelerant is built from mergeable built-ins instead:
# k hash positions per key (xxhash64 with k seeds), OR-folded into a
# word-indexed bitmap with one map-side-combinable bit_or aggregation,
# collected as m/64 longs (the ONLY driver-side state: ~1.9 MB for 10M
# batch keys at 10 bits/key), and probed by a whole-stage-codegen
# conjunction of bit tests against the broadcast literal word array.

_BLOOM_K = 5  # probes/key; with m = 10 bits/key -> ~0.9% false positives

# single-bit masks as a 64-long literal (bit 63 is the sign bit — its mask
# must be the signed value -2^63 to fit LongType); shiftleft/shiftright
# take only literal shift amounts in the Column API, so bit tests run as
# mask AND instead of shifts
_BIT_MASKS = [1 << i for i in range(63)] + [-(1 << 63)]


def _bloom_positions(col: str | Column, num_bits: int) -> list[Column]:
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.pmod(F.xxhash64(c, F.lit(i)), F.lit(num_bits))
        for i in range(_BLOOM_K)
    ]


def _bit_mask(p: Column) -> Column:
    """2^(p mod 64) as a signed long, via the 64-entry mask literal."""
    masks = F.lit(_BIT_MASKS).cast("array<long>")
    return F.element_at(masks, (p % 64).cast("int") + 1)


def bloom_build_words(df: DataFrame, col: str, num_bits: int) -> list[int]:
    """Aggregate ``df[col]`` into a bloom bitmap, returned as the dense
    ``num_bits/64`` word list. Distributed: the only driver-side material
    is the word array itself (fixed-size, mergeable bit_or partials —
    never the keys)."""
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    pos = df.select(
        F.explode(F.array(*_bloom_positions(col, num_bits))).alias("p")
    )
    words = (
        pos.groupBy((F.col("p") / 64).cast("long").alias("w"))
        .agg(F.bit_or(_bit_mask(F.col("p"))).alias("bits"))
        .collect()
    )
    dense = [0] * (num_bits // 64)
    for r in words:
        dense[int(r.w)] = int(r.bits)
    return dense


def bloom_might_contain(words: list[int], col: str | Column, num_bits: int) -> Column:
    """Codegen-friendly membership probe: AND of ``_BLOOM_K`` mask tests
    against the broadcast literal word array. False positives pass (by
    bloom construction), false negatives are impossible — so using this
    as a PREFILTER before an exact join never changes results."""
    arr = F.lit(words).cast("array<long>")
    cond = F.lit(True)
    for p in _bloom_positions(col, num_bits):
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        cond = cond & (word.bitwiseAND(_bit_mask(p)) != 0)
    return cond


def incremental_new_fingerprints(
    batch: DataFrame,
    corpus: DataFrame,
    fp_col: str = "fingerprint",
    bits_per_key: int = 10,
) -> DataFrame:
    """Batch rows whose ``fp_col`` is absent from ``corpus`` — the
    incremental-ingest anti join, with the corpus-side scan pruned by a
    bloom filter built over the (delta-sized) batch keys:

    1. bloom over BATCH fingerprints (small side — one pass, m/64 longs
       to the driver);
    2. corpus scan filtered by ``bloom_might_contain`` BEFORE the anti
       join's exchange: a corpus row whose fingerprint cannot equal any
       batch fingerprint is irrelevant to a LEFT ANTI join, so dropping
       it is semantics-free; false positives merely ride along into the
       exact join. At 100 TB this is the difference between shuffling
       the full corpus fingerprint relation and shuffling ~|batch| rows
       of it (stress-measured in tests/test_operators.py);
    3. the EXACT anti join on the survivors — output identical to the
       unfiltered plan by construction.

    Two eager jobs run at call time (batch count for sizing; bloom
    build); both touch only the delta, which is persisted across its
    three consumers (count, bloom build, anti join) so any upstream
    fingerprint computation runs once.

    Caching contract: the returned plan references the persisted batch,
    so the cache is NOT released here — in a long-lived session the
    caller should ``result.unpersist()``-equivalent by calling
    ``batch.unpersist()`` on the INPUT frame after materializing the
    result (ContextCleaner reclaims it eventually either way; the
    persisted material is delta-sized, never the corpus).
    """
    batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
    n = max(batch.count(), 1)
    num_bits = ((n * bits_per_key + 63) // 64) * 64
    words = bloom_build_words(batch, fp_col, num_bits)
    pruned = corpus.where(bloom_might_contain(words, fp_col, num_bits))
    return batch.join(pruned, fp_col, "left_anti")
