"""North-star queries: dedup, similarity search, text analysis, multimodal
(SURVEY.md §2.3 / BASELINE.json). Each oracle replays the exact contract:
tokens = split on single space; shingles = word 3-grams; vector math =
double-precision sequential folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_hbase_connector_spark.catalogs import load
from spark_hbase_connector_spark.functions.text import canonical_fingerprint, tokens
from spark_hbase_connector_spark.operators.dedup import (
    dedup_exact,
    duplicated_span_stats,
    edit_distance_pairs,
    minhash_lsh_pairs,
    shingle_containment_pairs,
    shingle_jaccard_pairs,
    simhash_pairs,
)
from spark_hbase_connector_spark.operators.graph import connected_components
from spark_hbase_connector_spark.operators.multimodal import (
    attach_payload,
    extract_features,
    extract_media_meta,
    sample_frames,
)
from spark_hbase_connector_spark.operators.similarity import (
    brute_force_topk,
    cosine_pairs,
    cosine_pairs_lsh,
    filtered_topk,
    ivf_topk,
)
from spark_hbase_connector_spark.queries.registry import query

# ---------------------------------------------------------------- dedup ----

# DuckDB fragment: distinct word-3-gram shingles per doc (1-based lists).
_DUCK_SHINGLES = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(l) - 1),
                           i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shs
      FROM toks WHERE len(l) >= 3
    )
"""

def duck_cc_min_label(nodes_cte: str, n_rounds: int = 32) -> str:
    """DuckDB SQL fragment computing exact connected components with
    BOUNDED memory: from CTEs ``edges(a, b)`` (both directions) and
    ``{nodes_cte}(id)``, defines ``comp(id, component)`` = the minimum
    node id reachable from ``id``, via ``n_rounds`` alternations of
    neighbor-min propagation and pointer jumping (label <- label of
    label). Every round materializes only node- and edge-sized
    relations, unlike the recursive reachability closure
    (``reach(id, r)``) whose working set is the SUM OF COMPONENT SIZES
    SQUARED — that closure hit 92 GB on the r6 sf1 embedding graph
    (20k nodes, 52k dense near-dup edges) and had to be replaced. The
    substitution is SOUND for a differential oracle even in the
    (astronomically unlikely) event ``n_rounds`` is too small for some
    adversarial diameter: labels only decrease toward the true minimum,
    so a non-converged oracle MISMATCHES the exact engine and the
    differential fails loudly; it can never false-pass. Every CTE is
    MATERIALIZED: DuckDB inlines multiply-referenced CTEs by default,
    and each round references the previous one three times — unhinted,
    the expansion is a 3^n_rounds plan tree ("Too many open files"
    before the planner even finishes)."""
    parts = [
        f"lbl0 AS MATERIALIZED (SELECT id, id AS lbl FROM {nodes_cte})"
    ]
    for i in range(n_rounds):
        parts.append(
            f"""nm{i} AS MATERIALIZED (
      SELECT n.id, least(n.lbl, coalesce(min(l.lbl), n.lbl)) AS lbl
      FROM lbl{i} n
      LEFT JOIN edges e ON e.a = n.id
      LEFT JOIN lbl{i} l ON l.id = e.b
      GROUP BY n.id, n.lbl
    )"""
        )
        parts.append(
            f"""lbl{i + 1} AS MATERIALIZED (
      SELECT c.id, j.lbl FROM nm{i} c JOIN nm{i} j ON j.id = c.lbl
    )"""
        )
    parts.append(
        f"comp AS (SELECT id, lbl AS component FROM lbl{n_rounds})"
    )
    return ",\n    ".join(parts)


_DUCK_JACCARD_PAIRS = f"""
    WITH {_DUCK_SHINGLES},
    post AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    sizes AS (SELECT doc_id, len(shs) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
      FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id1, id2,
           round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON id1 = sa.doc_id
    JOIN sizes sb ON id2 = sb.doc_id
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.85
"""

# The full exact directional containment relation at t=0.9.
_DUCK_CONTAINMENT = f"""
    WITH {_DUCK_SHINGLES},
    post AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    sizes AS (SELECT doc_id, len(shs) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
      FROM post a JOIN post b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id1, id2, round(i * 1.0 / sa.n, 4) AS containment
    FROM inter JOIN sizes sa ON id1 = sa.doc_id
    WHERE i * 1.0 / sa.n >= 0.9
"""


@query(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS copies
    FROM documents GROUP BY text
    """,
    tags=("dedup",),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative (min id) per identical text."""
    d = load(spark, sf_dir, "documents")
    return dedup_exact(d, F.col("text"), "doc_id")


@query(
    "dedup_fingerprint",
    oracle="""
    SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS fingerprint,
           min(doc_id) AS doc_id, count(*) AS copies
    FROM documents GROUP BY 1
    """,
    tags=("dedup", "text"),
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-fingerprint dedup: md5 over the sorted distinct token set
    (order/duplication-insensitive document identity)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(canonical_fingerprint("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("copies"))
    )


@query(
    "dedup_ngram_jaccard",
    oracle=_DUCK_JACCARD_PAIRS,
    tags=("dedup",),
    bench=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: word-3-gram Jaccard >= 0.85 (never a cross
    join). Kept for the `__spark_entry__` contract, which lists every
    registry entry; it runs the same code as `dedup_ngram_jaccard_prefix`
    (`operators/dedup.py:shingle_jaccard_pairs`)."""
    return dedup_ngram_jaccard_prefix(spark, sf_dir)


@query(
    "dedup_ngram_jaccard_prefix",
    oracle=_DUCK_JACCARD_PAIRS,
    tags=("dedup", "prefix-filter"),
    bench=True,
)
def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard dedup: rarest-first prefix-filter self-join (PPJoin
    family) + size-ratio and positional filters + `array_intersect`
    verification. Lossless, so the oracle is the FULL exact relation;
    candidate volume is Σ prefix-frequency² instead of Σ document-
    frequency², which is what survives boilerplate-heavy corpora at
    100 TB. MinHash-LSH remains the probabilistic alternative when even
    exact verification is too expensive
    (`operators/dedup.py:shingle_jaccard_pairs`)."""
    d = load(spark, sf_dir, "documents")
    pairs = shingle_jaccard_pairs(d, "text", "doc_id", threshold=0.85)
    return pairs.select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))


@query(
    "dedup_containment",
    oracle=_DUCK_CONTAINMENT,
    tags=("dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment pairs: >= 90% of id1's word-3-gram shingles
    appear in id2 — the doc-embedded-in-doc case symmetric Jaccard
    dilutes away. Kept for the `__spark_entry__` contract, which lists
    every registry entry; it runs the same code as
    `dedup_containment_prefix`."""
    return dedup_containment_prefix(spark, sf_dir)


@query(
    "dedup_containment_prefix",
    oracle=_DUCK_CONTAINMENT,
    tags=("dedup", "containment", "prefix-filter"),
    bench=True,
)
def dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact containment dedup: rarest-first prefix-filter candidates
    (PPJoin family) + per-candidate exact verification —
    lossless, so the oracle is the FULL exact containment relation, not a
    candidate-restricted weakening. Candidate volume drops from
    Σdf(shingle)² to Σ over prefix shingles only (~(1-t) of each doc,
    biased to the rarest), which is what survives boilerplate-heavy
    corpora at 100 TB. The round-3 audit suggested MinHash-LSH candidates
    here; prefix filtering is strictly better for CONTAINMENT because
    Jaccard banding systematically misses short-doc-inside-long-doc pairs
    (the union term dilutes their Jaccard below any band threshold) while
    the prefix bound is a theorem, not an s-curve
    (`operators/dedup.py:shingle_containment_pairs`)."""
    d = load(spark, sf_dir, "documents")
    return shingle_containment_pairs(d, "text", "doc_id", threshold=0.9)


@query(
    "dedup_duplicated_spans",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(range(1, len(l) - 6)) - 1 AS p,
             unnest(list_transform(range(1, len(l) - 6),
                                   i -> array_to_string(l[i:i+7], ' '))) AS s
      FROM toks WHERE len(l) >= 8
    ),
    freq AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
    hit AS (SELECT doc_id, p FROM sh JOIN freq USING (s)),
    isl AS (
      SELECT doc_id, p,
             CASE WHEN max(p) OVER w1 IS NULL OR p > max(p) OVER w1 + 8
                  THEN 1 ELSE 0 END AS ni
      FROM hit
      WINDOW w1 AS (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    grp AS (
      SELECT doc_id, p,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM isl
    ),
    spans AS (
      SELECT doc_id, g, max(p) - min(p) + 8 AS span_tokens
      FROM grp GROUP BY doc_id, g
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT a.doc_id, a.n_spans, a.dup_tokens,
           CAST(len(t.l) AS INT) AS n_toks,
           round(a.dup_tokens * 1.0 / len(t.l), 4) AS dup_frac
    FROM agg a JOIN toks t USING (doc_id)
    """,
    tags=("dedup", "spans"),
    bench=True,
)
def dedup_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring coverage per document: maximal token spans
    covered by word-8-grams occurring in >= 2 distinct docs — the
    corpus-scale relational stand-in for suffix-array exact-substring
    dedup (flags boilerplate shared across documents, with the exact
    union token coverage, never double-counted across overlapping
    shingles)."""
    d = load(spark, sf_dir, "documents")
    stats = duplicated_span_stats(d, "text", "doc_id", w=8)
    ntoks = d.select(
        F.col("doc_id").alias("id"), F.size(F.split("text", " ")).alias("n_toks")
    )
    return stats.join(ntoks, "id").select(
        F.col("id").alias("doc_id"),
        "n_spans",
        "dup_tokens",
        "n_toks",
        F.round(F.col("dup_tokens") / F.col("n_toks"), 4).alias("dup_frac"),
    )


@query(
    "dedup_incremental_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fingerprint
      FROM documents
    ),
    corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE source <> 'src0'),
    batch AS (SELECT doc_id, fingerprint FROM fp WHERE source = 'src0')
    SELECT b.doc_id, b.fingerprint
    FROM batch b LEFT JOIN corpus c USING (fingerprint)
    WHERE c.fingerprint IS NULL
    """,
    tags=("dedup", "incremental"),
)
def dedup_incremental_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: documents of the NEW batch (source src0)
    whose canonical fingerprint does not already exist in the corpus (all
    other sources) — a left-anti join on the fingerprint. At 100 TB the
    corpus side stays a distinct-fingerprint relation (tiny vs the texts);
    Spark's AQE turns the anti join into a broadcast when it fits, and a
    bloom filter over corpus fingerprints is the standard prefilter — the
    anti join keeps the semantics exact either way."""
    d = load(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", "source", canonical_fingerprint("text").alias("fingerprint")
    )
    batch = fp.where(F.col("source") == "src0").select("doc_id", "fingerprint")
    corpus = fp.where(F.col("source") != "src0").select("fingerprint").distinct()
    return batch.join(corpus, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


@query(
    "dedup_incremental_bloom",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fingerprint
      FROM documents
    ),
    corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE source <> 'src0'),
    batch AS (SELECT doc_id, fingerprint FROM fp WHERE source = 'src0')
    SELECT b.doc_id, b.fingerprint
    FROM batch b LEFT JOIN corpus c USING (fingerprint)
    WHERE c.fingerprint IS NULL
    """,
    tags=("dedup", "incremental", "bloom"),
)
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_incremental_fingerprint`'s SCALE path (r5, VERDICT ask #5):
    identical anti-join semantics — and the identical oracle — but the
    corpus-side scan is pruned by an explicit bloom filter built over the
    delta's fingerprints BEFORE the anti join
    (`operators/dedup.incremental_new_fingerprints`): a corpus row whose
    fingerprint cannot match any batch key is irrelevant to a LEFT ANTI
    join, so at 100 TB the corpus shuffle shrinks from corpus-sized to
    ~delta-sized (false positives ride along into the exact join; false
    negatives are impossible). Spark's own runtime bloom injection does
    not fire for anti joins, hence the explicit build: one mergeable
    bit_or bitmap aggregation over the delta, m/64 longs broadcast back,
    whole-stage-codegen bit-test conjunction as the corpus filter
    (10x-corpus prune ratio stress-asserted in tests/test_bloom.py)."""
    from spark_hbase_connector_spark.operators.dedup import (
        incremental_new_fingerprints,
    )

    d = load(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", "source", canonical_fingerprint("text").alias("fingerprint")
    )
    batch = fp.where(F.col("source") == "src0").select("doc_id", "fingerprint")
    corpus = fp.where(F.col("source") != "src0").select("fingerprint").distinct()
    return incremental_new_fingerprints(batch, corpus).select(
        "doc_id", "fingerprint"
    )


@query(
    "dedup_minhash_lsh",
    oracle=_DUCK_JACCARD_PAIRS,
    tags=("dedup", "lsh"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified. With 64 hashes / 16 bands
    the candidate recall at jaccard>=0.85 is ~1-1e-7, so the verified output
    equals the exact oracle (same pairs, same jaccard values)."""
    d = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "text", "doc_id", threshold=0.85)
    return pairs.select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))


# SimHash words, bit-exact in DuckDB: md5-derived 64-bit shingle hashes
# (same bits as operators.dedup.hash64_md5), 64 majority-vote sums, word
# assembled from per-bit UBIGINT constants.
_DUCK_SIMHASH_SUMS = ", ".join(f"sum(((h >> {b}) & 1)) AS b{b}" for b in range(64))
_DUCK_SIMHASH_WORD = " + ".join(
    f"CASE WHEN 2 * b{b} > n THEN {2**b}::UBIGINT ELSE 0::UBIGINT END"
    for b in range(64)
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    post AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    hashed AS (SELECT doc_id,
                      ('0x' || substr(md5(s), 1, 16))::UBIGINT AS h
               FROM post),
    votes AS (SELECT doc_id, count(*) AS n, {_DUCK_SIMHASH_SUMS}
              FROM hashed GROUP BY doc_id),
    words AS (SELECT doc_id, ({_DUCK_SIMHASH_WORD}) AS w FROM votes)
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(bit_count(xor(a.w, b.w)) AS INTEGER) AS hamming
    FROM words a JOIN words b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.w, b.w)) <= 3
    """,
    tags=("dedup", "simhash"),
    bench=True,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming<=3 on 64-bit signatures). The
    C(6,3)-combination banding (Manku WWW'07) has GUARANTEED recall: a
    pair within hamming 3 differs in <=3 of 6 blocks, so it matches some
    3-block key exactly — the banded plan equals the oracle's brute-force
    all-pairs scan (tests/test_operators.py proves banded == brute force;
    33-bit keys keep buckets collision-free where 16-bit chunks went
    quadratic at sf100)."""
    d = load(spark, sf_dir, "documents")
    return simhash_pairs(d, "text", "doc_id", max_hamming=3)


# Exact Jaccard>=0.85 near-dup pairs, then components via the bounded
# min-label closure; shared by both duplicate-cluster entries.
_DUCK_COMPONENTS = f"""
    WITH RECURSIVE {_DUCK_SHINGLES},
    post AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    sizes AS (SELECT doc_id, len(shs) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
      FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT id1, id2 FROM inter
      JOIN sizes sa ON id1 = sa.doc_id
      JOIN sizes sb ON id2 = sb.doc_id
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.85
    ),
    edges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM prs
              UNION ALL SELECT id2, id1 FROM prs),
    nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM edges),
    {duck_cc_min_label('nodes')}
    SELECT id AS doc_id, component FROM comp
    """


@query(
    "dedup_components",
    oracle=_DUCK_COMPONENTS,
    tags=("dedup", "graph"),
    bench=True,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components (min-label
    propagation over DataFrame joins) on the exact Jaccard>=0.85 near-dup
    pair graph; component id = smallest doc_id in the cluster. The pair
    source is the exact prefix-filter join (candidate volume Σpf(s)² not
    Σdf(s)²). The oracle replays the pairs plus a bounded min-label
    closure."""
    d = load(spark, sf_dir, "documents")
    pairs = shingle_jaccard_pairs(d, "text", "doc_id", threshold=0.85)
    comp = connected_components(pairs)
    return comp.select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))


@query(
    "dedup_components_star",
    oracle=_DUCK_COMPONENTS,
    tags=("dedup", "graph"),
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept for the `__spark_entry__` contract, which lists every registry
    entry; it runs the same code as `dedup_components`. The name is historical
    (SCALE.md, "Connected components: one algorithm")."""
    return dedup_components(spark, sf_dir)


@query(
    "dedup_edit_distance",
    oracle="""
    WITH titles AS (
      SELECT DISTINCT array_to_string(string_split(text, ' ')[1:3], ' ') AS t
      FROM documents
    ),
    shorts AS (SELECT t FROM titles WHERE length(t) <= 4),
    short_pairs AS (
      SELECT a.t AS s1, b.t AS s2 FROM shorts a JOIN shorts b ON a.t < b.t
    ),
    longs AS (SELECT t, CAST(length(t) AS BIGINT) AS l FROM titles WHERE length(t) >= 3),
    idx AS (
      SELECT t AS sA, l AS l1, i AS seg_idx,
             substring(t,
               CAST(i * (l // 3) + greatest(0, i - (3 - l % 3)) + 1 AS INT),
               CAST((l // 3) + CASE WHEN i >= 3 - l % 3 THEN 1 ELSE 0 END AS INT)) AS seg
      FROM longs, (SELECT unnest(range(0, 3)) AS i)
    ),
    probe_g AS (
      SELECT t AS sB,
             unnest(flatten(list_transform(range(greatest(l - 2, 3), l + 3), l1 ->
               flatten(list_transform(range(0, 3), i ->
                 list_transform(
                   CASE WHEN greatest(0, (i * (l1 // 3) + greatest(0, i - (3 - l1 % 3))) - 2)
                             <= least(l - ((l1 // 3) + CASE WHEN i >= 3 - l1 % 3 THEN 1 ELSE 0 END),
                                      (i * (l1 // 3) + greatest(0, i - (3 - l1 % 3))) + 2)
                        THEN range(greatest(0, (i * (l1 // 3) + greatest(0, i - (3 - l1 % 3))) - 2),
                                   least(l - ((l1 // 3) + CASE WHEN i >= 3 - l1 % 3 THEN 1 ELSE 0 END),
                                         (i * (l1 // 3) + greatest(0, i - (3 - l1 % 3))) + 2) + 1)
                        ELSE []
                   END,
                   st -> struct_pack(l1 := l1, seg_idx := i,
                                     seg := substring(t, CAST(st + 1 AS INT),
                                            CAST((l1 // 3) + CASE WHEN i >= 3 - l1 % 3 THEN 1 ELSE 0 END AS INT))))
               ))
             ))) AS g
      FROM longs
    ),
    probe AS (SELECT sB, g.l1 AS l1, g.seg_idx AS seg_idx, g.seg AS seg FROM probe_g),
    seg_pairs AS (
      SELECT least(sA, sB) AS s1, greatest(sA, sB) AS s2
      FROM probe JOIN idx USING (l1, seg_idx, seg)
      WHERE sA <> sB
    ),
    cand AS (
      SELECT DISTINCT s1, s2 FROM (
        SELECT s1, s2 FROM short_pairs UNION ALL SELECT s1, s2 FROM seg_pairs)
    )
    SELECT s1, s2, CAST(levenshtein(s1, s2) AS INTEGER) AS dist
    FROM cand WHERE levenshtein(s1, s2) <= 2
    """,
    tags=("dedup", "string-similarity"),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join over document title prefixes (first 3
    tokens): PassJoin segment-pigeonhole blocking (operators/dedup.py
    `edit_distance_pairs`) + built-in levenshtein verification — the
    prefix/length-filter string-join family, never all-pairs.

    The ORACLE replays the same segment blocking as an EQUI-join
    (r9, VERDICT r8 ask 4): the r8 oracle was a length-banded THETA join
    that DuckDB executes as a nested-loop cross product — correct but
    superlinear, which kept this entry out of the sf10 sweep. Pigeonhole
    completeness (any pair with ed <= 2 shares an aligned segment, or
    both sides are <= 4 chars and go through the short path) makes the
    blocked oracle exactly equal to the theta form — verified
    row-identical at sf0.01 and sf0.1 before the swap."""
    d = load(spark, sf_dir, "documents")
    titles = d.select(
        F.concat_ws(" ", F.slice(tokens("text"), 1, 3)).alias("t")
    )
    pairs = edit_distance_pairs(titles, "t", max_dist=2)
    return pairs.select("s1", "s2", F.col("dist").cast("int").alias("dist"))


# ----------------------------------------------------------- similarity ----

# DuckDB fragment: embeddings in double precision + L2 norms.
_DUCK_VECS = """
    v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
          FROM v)
"""

# DuckDB fragment: the shared IVF candidate structure (assumes _DUCK_VECS).
# Derives per-vector top-2 coarse cells (proportional cell count, the same
# formula as the Spark side) and attaches each vector's (e, nrm) to its
# assignment rows, so downstream pair generation + cosine verification is a
# SINGLE self-join of the small `av` relation (2n rows) on cell_id with the
# threshold applied in the probe stream.
#
# Shape matters, not just ops: the r8 formulation materialized the DISTINCT
# candidate-pair set (200M rows at sf10) and then joined vectors onto it —
# DuckDB 1.0 does not propagate cardinality stats out of materialized CTEs,
# so the scoring join built its hash table on the 200M-row side (42-54 GB
# temp spill at sf10, the one oracle-superlinear exclusion). With vectors
# pre-attached the only join is av ⋈ av: build side is 2n rows (~200 MB at
# sf10), candidates stream through the cosine filter without ever
# materializing, and the full pipeline oracle completes sf10 in ~114 s.
# list_inner_product is bit-identical to the unrolled
# list_sum(list_transform(range...)) fold (verified over 98,725 pairs) and
# ~3x faster.
_DUCK_IVF_AV = """
    cent AS (SELECT vec_id AS cell_id, e AS ce, nrm AS cnrm FROM n
             WHERE vec_id < greatest(16, (SELECT count(*) FROM embeddings) // 500)),
    sims AS (
      SELECT x.vec_id, cent.cell_id,
             list_inner_product(x.e, cent.ce) / (x.nrm * cent.cnrm) AS sim
      FROM n x CROSS JOIN cent
    ),
    asgn AS MATERIALIZED (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
        FROM sims) WHERE r <= 2
    ),
    av AS MATERIALIZED (
      SELECT a.vec_id, a.cell_id, x.e, x.nrm
      FROM asgn a JOIN n x ON x.vec_id = a.vec_id
    )
"""


@query(
    "embedding_cosine_pairs",
    oracle=f"""
    WITH {_DUCK_VECS},
    p AS (SELECT * FROM n WHERE vec_id < 200)
    SELECT id1, id2, round(score, 4) AS score FROM (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             list_sum(list_transform(range(1, len(a.e) + 1),
                      i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) AS score
      FROM p a JOIN n b ON b.vec_id > a.vec_id
      UNION ALL
      SELECT a.vec_id, b.vec_id,
             list_sum(list_transform(range(1, len(a.e) + 1),
                      i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm)
      FROM n a JOIN p b ON a.vec_id < b.vec_id AND a.vec_id >= 200
    ) WHERE score >= 0.4
    """,
    tags=("similarity", "dedup"),
)
def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via the EXACT all-pairs operator
    (`operators/similarity.cosine_pairs` — block-pair gram matmuls, the
    graded oracle anchor for the LSH twin), reported on a FIXED
    verification panel: pairs with at least one endpoint in vec_id < 200.

    The panel bounds the ORACLE, not the operator (r9, VERDICT r8 ask 4
    — the knn_label_qa fixed-panel recipe): Spark still scores every
    pair (the panel filter sits above the Arrow matmul stage), while
    DuckDB computes only panel x corpus cosines — linear in n instead of
    the r8 full cross join whose 1117 s at sf10 kept this entry out of
    the sweep. At sf0.01 the panel covers 40% of vectors, at sf10 200 of
    200k — every panel pair must match bit-exactly, so a scoring or
    recall defect that touches any panel vector is caught; the full pair
    set's scale evidence lives in `embedding_cosine_pairs_lsh` (sf10:
    1.13M pairs strict-green)."""
    e = load(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(e, threshold=0.4)
    return pairs.where((F.col("id1") < 200) | (F.col("id2") < 200)).select(
        "id1", "id2", F.round("score", 4).alias("score")
    )


@query(
    "embedding_cosine_pairs_lsh",
    oracle=f"""
    WITH {_DUCK_VECS},
    {_DUCK_IVF_AV},
    scored AS (
      SELECT DISTINCT id1, id2, score FROM (
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               list_inner_product(a.e, b.e) / (a.nrm * b.nrm) AS score
        FROM av a JOIN av b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      ) WHERE score >= 0.4
    )
    SELECT id1, id2, round(score, 4) AS score FROM scored
    """,
    tags=("similarity", "dedup", "lsh"),
    bench=True,
)
def embedding_cosine_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed embedding near-dup: only pairs sharing one of each
    vector's 2 nearest coarse cells are exact-verified at cosine >= 0.4.
    The 100 TB scale path — candidate volume is ~sum of squared cell
    sizes, never all pairs; the exact `embedding_cosine_pairs` stays as
    the graded baseline.

    The cell count GROWS WITH THE CORPUS: max(16, n/500) deterministic
    centroids (the first vec_ids), identically derived in the oracle.
    A fixed 16 cells made per-cell size — and the quadratic per-cell
    gram — linear in n (the r6 sf10 bench caught it at 118 s: 100x data,
    ~12.5k-vector cells); proportional cells keep the expected cell size
    constant, which is the actual IVF scaling contract. The n-count is
    one driver-side scalar job."""
    e = load(spark, sf_dir, "embeddings")
    ncells = max(16, e.count() // 500)
    centroids = e.where(F.col("vec_id") < ncells).select(
        F.col("vec_id").alias("cell_id"), "embedding"
    )
    pairs = cosine_pairs_lsh(e, threshold=0.4, centroids=centroids, nprobe=2)
    return pairs.select("id1", "id2", F.round("score", 4).alias("score"))


@query(
    "embedding_norm_stats",
    oracle=f"""
    WITH {_DUCK_VECS}
    SELECT vec_id, CAST(len(e) AS INTEGER) AS dim, round(nrm, 4) AS l2_norm,
           round(list_sum(e) / len(e), 4) + 0.0 AS mean_component
    FROM n
    """,
    tags=("similarity", "stats"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene stats (dim, L2 norm, mean component) — the sanity
    pass a pipeline runs before indexing; sequential-fold array aggregates
    so the DuckDB oracle replays the exact summation order."""
    e = load(spark, sf_dir, "embeddings")
    d = F.col("embedding").cast("array<double>")
    sq = F.aggregate(d, F.lit(0.0), lambda a, x: a + x * x)
    s = F.aggregate(d, F.lit(0.0), lambda a, x: a + x)
    return e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.sqrt(sq), 4).alias("l2_norm"),
        # + 0.0 folds -0.0 to +0.0 (a mean rounding to zero from below
        # would otherwise hash differently between engines)
        (F.round(s / F.size("embedding"), 4) + F.lit(0.0)).alias("mean_component"),
    )


@query(
    "ann_topk_cosine",
    oracle=f"""
    WITH {_DUCK_VECS},
    q AS (SELECT * FROM n WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(q.e) + 1),
                      i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS score
      FROM q JOIN n c ON c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(score, 4) AS score, rank
    FROM ranked WHERE rank <= 5
    """,
    tags=("similarity", "ann"),
    bench=True,
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-5 cosine neighbors for the first 10 vectors.
    Corpus is scanned once; queries are broadcast."""
    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    out = brute_force_topk(q, e, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("score", 4).alias("score"), "rank"
    )


@query(
    "ann_topk_filtered",
    oracle=f"""
    WITH {_DUCK_VECS},
    lab AS (SELECT vec_id, label FROM embeddings),
    q AS (SELECT n.vec_id, n.e, n.nrm, lab.label
          FROM n JOIN lab USING (vec_id) WHERE n.vec_id < 10),
    c AS (SELECT n.vec_id, n.e, n.nrm, lab.label FROM n JOIN lab USING (vec_id)),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(q.e) + 1),
                      i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS score
      FROM q JOIN c ON c.label = q.label AND c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(score, 4) AS score, rank
    FROM ranked WHERE rank <= 5
    """,
    tags=("similarity", "ann", "filtered"),
    bench=True,
)
def ann_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: exact top-5 cosine neighbors of each query
    RESTRICTED to corpus vectors sharing the query's label — the
    metadata-constrained retrieval shape ("nearest docs WHERE lang = ..."),
    via `operators/similarity.filtered_topk`. Pre-filter, not post-filter:
    the query set's distinct labels compile to an ``isin`` predicate pushed
    into the parquet scan (row-group pruning — at 100 TB with
    label-partitioned layout this becomes partition pruning and the scan
    touches only matching data), and inside each Arrow batch an equality
    mask limits which score-matrix columns a query ranks, so k results are
    guaranteed (rank-then-discard post-filtering can return < k and loses
    recall). Exactness argument inherited from brute_force_topk: per-batch
    top-k under the final total order contains the global top-k."""
    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    out = filtered_topk(q, e, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("score", 4).alias("score"), "rank"
    )


@query(
    "ann_topk_ivf",
    oracle=f"""
    WITH {_DUCK_VECS},
    cent AS (SELECT vec_id AS cell_id, e AS ce, nrm AS cnrm FROM n WHERE vec_id < 16),
    sims AS (
      SELECT x.vec_id, cent.cell_id,
             list_sum(list_transform(range(1, len(x.e) + 1),
                      i -> x.e[i] * cent.ce[i])) / (x.nrm * cent.cnrm) AS sim
      FROM n x CROSS JOIN cent
    ),
    asgn AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
        FROM sims) WHERE r = 1
    ),
    qasgn AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
        FROM sims WHERE vec_id < 10) WHERE r <= 2
    ),
    cand AS (
      SELECT DISTINCT qa.vec_id AS query_id, ca.vec_id AS neighbor_id
      FROM qasgn qa JOIN asgn ca ON qa.cell_id = ca.cell_id
      WHERE qa.vec_id != ca.vec_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             list_sum(list_transform(range(1, len(q.e) + 1),
                      i -> q.e[i] * x.e[i])) / (q.nrm * x.nrm) AS score
      FROM cand c JOIN n q ON q.vec_id = c.query_id
                  JOIN n x ON x.vec_id = c.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(score, 4) AS score, rank
    FROM ranked WHERE rank <= 5
    """,
    tags=("similarity", "ann", "ivf"),
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: coarse cells = vectors 0..15 as centroids,
    corpus probes 1 cell, queries probe 2. The 100 TB scale path — scans
    ~nprobe/n_cells of the corpus instead of all of it."""
    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    centroids = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell_id"), "embedding"
    )
    out = ivf_topk(q, e, centroids, k=5, nprobe=2, include_self=False)
    return out.select(
        "query_id", "neighbor_id", F.round("score", 4).alias("score"), "rank"
    )


@query(
    "ann_topk_pq",
    oracle=f"""
    WITH {_DUCK_VECS},
    cb AS (SELECT vec_id AS code, e AS ce FROM n WHERE vec_id < 16),
    subs AS (SELECT j FROM range(8) t(j)),
    dists AS (
      SELECT x.vec_id, s.j, cb.code,
             list_sum(list_transform(range(1, 9),
                      i -> (x.e[s.j*8 + i] - cb.ce[s.j*8 + i])
                         * (x.e[s.j*8 + i] - cb.ce[s.j*8 + i]))) AS d2
      FROM n x CROSS JOIN subs s CROSS JOIN cb
    ),
    enc AS (
      SELECT vec_id, j, code FROM (
        SELECT vec_id, j, code,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS r
        FROM dists) WHERE r = 1
    ),
    contrib AS (
      SELECT q.vec_id AS query_id, ex.vec_id AS neighbor_id, ex.j,
             list_sum(list_transform(range(1, 9),
                      i -> q.e[ex.j*8 + i] * cb.ce[ex.j*8 + i])) AS ipj,
             list_sum(list_transform(range(1, 9),
                      i -> cb.ce[ex.j*8 + i] * cb.ce[ex.j*8 + i])) AS n2j
      FROM (SELECT * FROM n WHERE vec_id < 10) q
      JOIN enc ex ON ex.vec_id != q.vec_id
      JOIN cb ON cb.code = ex.code
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(sum(ipj) / (any_value(q.nrm) * sqrt(sum(n2j))), 4) + 0.0
               AS score
      FROM contrib c JOIN n q ON q.vec_id = c.query_id
      GROUP BY c.query_id, c.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 5
    """,
    tags=("similarity", "ann", "pq"),
)
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (IVF-PQ's memory half): the corpus is
    encoded as m=8 codebook indices (codebooks = sub-vectors of vectors
    0..15 — the deterministic, SQL-replayable sampling; Lloyd-trained
    codebooks are the quality path, `train_pq_codebooks`), and queries
    score candidates by Asymmetric Distance Computation — per-query
    lookup tables broadcast, ONE Arrow pass over the CODE rows (never
    the float vectors), per-batch top-k. At 100 TB this is what makes
    embedding search memory-feasible: the scorer ships ~m bytes per
    vector instead of 4·d. Ranks use the 4dp-rounded score (tie-break
    neighbor_id) so both engines rank identical values
    (`operators/similarity.py:pq_adc_topk`)."""
    from spark_hbase_connector_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_sampled_codebooks,
    )

    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    cb = pq_sampled_codebooks(e, n_codes=16, m=8)
    codes = pq_encode(e, cb)
    return pq_adc_topk(q, codes, cb, k=5)


@query(
    "ann_topk_ivf_pq",
    oracle=f"""
    WITH {_DUCK_VECS},
    cb AS (SELECT vec_id AS code, e AS ce FROM n WHERE vec_id < 16),
    subs AS (SELECT j FROM range(8) t(j)),
    dists AS (
      SELECT x.vec_id, s.j, cb.code,
             list_sum(list_transform(range(1, 9),
                      i -> (x.e[s.j*8 + i] - cb.ce[s.j*8 + i])
                         * (x.e[s.j*8 + i] - cb.ce[s.j*8 + i]))) AS d2
      FROM n x CROSS JOIN subs s CROSS JOIN cb
    ),
    enc AS (
      SELECT vec_id, j, code FROM (
        SELECT vec_id, j, code,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS r
        FROM dists) WHERE r = 1
    ),
    cent AS (SELECT vec_id AS cell_id, e AS ce2, nrm AS cnrm
             FROM n WHERE vec_id < 16),
    sims AS (
      SELECT x.vec_id, cent.cell_id,
             list_sum(list_transform(range(1, len(x.e) + 1),
                      i -> x.e[i] * cent.ce2[i])) / (x.nrm * cent.cnrm) AS sim
      FROM n x CROSS JOIN cent
    ),
    asgn AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
        FROM sims) WHERE r = 1
    ),
    qasgn AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
        FROM sims WHERE vec_id < 10) WHERE r <= 2
    ),
    cand AS (
      SELECT DISTINCT qa.vec_id AS query_id, ca.vec_id AS neighbor_id
      FROM qasgn qa JOIN asgn ca ON qa.cell_id = ca.cell_id
      WHERE qa.vec_id != ca.vec_id
    ),
    contrib AS (
      SELECT c.query_id, c.neighbor_id, ex.j,
             list_sum(list_transform(range(1, 9),
                      i -> q.e[ex.j*8 + i] * cb.ce[ex.j*8 + i])) AS ipj,
             list_sum(list_transform(range(1, 9),
                      i -> cb.ce[ex.j*8 + i] * cb.ce[ex.j*8 + i])) AS n2j
      FROM cand c
      JOIN n q ON q.vec_id = c.query_id
      JOIN enc ex ON ex.vec_id = c.neighbor_id
      JOIN cb ON cb.code = ex.code
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(sum(ipj) / (any_value(q2.nrm) * sqrt(sum(n2j))), 4) + 0.0
               AS score
      FROM contrib c JOIN n q2 ON q2.vec_id = c.query_id
      GROUP BY c.query_id, c.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 5
    """,
    tags=("similarity", "ann", "ivf", "pq"),
    bench=True,
)
def ann_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ composition — cells bound the SCAN (queries probe
    2 of 16 cells), codes bound the MEMORY (the scorer reads m=8 code
    ints per vector, never floats): the canonical production ANN at
    100 TB. The (id, cell, codes) relation built here is exactly the
    persistent index a deployment would store. Oracle replays coarse
    assignment, PQ encoding and ADC scoring end-to-end
    (`operators/similarity.py:ivf_pq_topk`)."""
    from spark_hbase_connector_spark.operators.similarity import (
        ivf_pq_topk,
        pq_sampled_codebooks,
    )

    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    centroids = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell_id"), "embedding"
    )
    cb = pq_sampled_codebooks(e, n_codes=16, m=8)
    return ivf_pq_topk(q, e, centroids, cb, k=5, nprobe=2)


@query(
    "ann_recall_ivf",
    oracle=f"""
    WITH {_DUCK_VECS},
    q AS (SELECT * FROM n WHERE vec_id < 10),
    bscored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(q.e) + 1),
                      i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS score
      FROM q JOIN n c ON c.vec_id != q.vec_id
    ),
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS rank
        FROM bscored) WHERE rank <= 5
    ),
    cent AS (SELECT vec_id AS cell_id, e AS ce, nrm AS cnrm FROM n WHERE vec_id < 16),
    sims AS (
      SELECT x.vec_id, cent.cell_id,
             list_sum(list_transform(range(1, len(x.e) + 1),
                      i -> x.e[i] * cent.ce[i])) / (x.nrm * cent.cnrm) AS sim
      FROM n x CROSS JOIN cent
    ),
    asgn AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
        FROM sims) WHERE r = 1
    ),
    qasgn AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
        FROM sims WHERE vec_id < 10) WHERE r <= 2
    ),
    cand AS (
      SELECT DISTINCT qa.vec_id AS query_id, ca.vec_id AS neighbor_id
      FROM qasgn qa JOIN asgn ca ON qa.cell_id = ca.cell_id
      WHERE qa.vec_id != ca.vec_id
    ),
    iscored AS (
      SELECT c.query_id, c.neighbor_id,
             list_sum(list_transform(range(1, len(qq.e) + 1),
                      i -> qq.e[i] * x.e[i])) / (qq.nrm * x.nrm) AS score
      FROM cand c JOIN n qq ON qq.vec_id = c.query_id
                  JOIN n x ON x.vec_id = c.neighbor_id
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS rank
        FROM iscored) WHERE rank <= 5
    )
    SELECT b.query_id,
           round(count(i.neighbor_id) * 1.0 / count(*), 4) AS recall_at_5
    FROM brute b
    LEFT JOIN ivf i ON b.query_id = i.query_id
                   AND b.neighbor_id = i.neighbor_id
    GROUP BY b.query_id
    """,
    tags=("similarity", "ann", "eval"),
)
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the IVF approximate index
    against the exact brute-force ground truth, per query — the QA gate a
    production pipeline runs before trusting an approximate index. Both
    sides are deterministic, so the recall values themselves are
    oracle-checkable."""
    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    centroids = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell_id"), "embedding"
    )
    brute = brute_force_topk(q, e, k=5).select("query_id", "neighbor_id")
    ivf = ivf_topk(q, e, centroids, k=5, nprobe=2).select(
        F.col("query_id").alias("iq"), F.col("neighbor_id").alias("inb")
    )
    return (
        brute.join(
            ivf,
            (F.col("query_id") == F.col("iq")) & (F.col("neighbor_id") == F.col("inb")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.round(F.count("inb") / F.count(F.lit(1)), 4).alias("recall_at_5")
        )
    )


# ------------------------------------------------------------------ text ----

_EN_STOP = "'the','a','of','and','to','in','is','it'"


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
           round((length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
                 / len(string_split(text, ' ')), 4) AS avg_token_len
    FROM documents
    """,
    tags=("text",),
    bench=True,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, mean token length."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    return d.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct"),
        F.round((F.length("text") - (n - 1)) / n, 4).alias("avg_token_len"),
    )


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           round(len(list_filter(string_split(text, ' '),
                 t -> t IN ({_EN_STOP}))) * 1.0
                 / len(string_split(text, ' ')), 4) AS stopword_ratio,
           CAST(len(list_filter(string_split(text, ' '),
                 t -> length(t) <= 2)) AS INTEGER) AS n_short_tokens,
           round(CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
                 THEN 1.0 ELSE 0.0 END
                 * (1.0 - len(list_filter(string_split(text, ' '),
                      t -> length(t) <= 2)) * 1.0 / len(string_split(text, ' ')))
                 , 4) AS quality_score
    FROM documents
    """,
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: stopword ratio, short-token ratio, and a
    composite score gated on document length."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    stops = F.expr(f"size(filter(split(text, ' '), t -> t IN ({_EN_STOP})))")
    shorts = F.expr("size(filter(split(text, ' '), t -> length(t) <= 2))")
    len_ok = F.when((n >= 20) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        F.round(stops / n, 4).alias("stopword_ratio"),
        shorts.cast("int").alias("n_short_tokens"),
        F.round(len_ok * (1.0 - shorts / n), 4).alias("quality_score"),
    )


# Rabin-Karp-style rolling hash parameters: token hash = first 7 md5 hex
# chars (< 2^28, replayable in DuckDB), Horner fold with B=31 mod the
# Mersenne prime 2^31-1. acc*31 + th < 2^36 — exact in int64 on both sides.
_RH_P = 2_147_483_647
_RH_B = 31


@query(
    "text_rolling_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             [0::BIGINT] || list_transform(string_split(text, ' '),
                            t -> ('0x' || substr(md5(t), 1, 7))::BIGINT),
             (acc, th) -> (acc * {_RH_B} + th) % {_RH_P}
           ) AS rolling_fp
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-SENSITIVE document fingerprint: polynomial rolling hash over
    the token stream (Horner fold, exact int64 arithmetic) — complements the
    order-insensitive ``dedup_fingerprint``. Token hashes are md5-derived so
    the DuckDB oracle replays the exact same integers."""
    d = load(spark, sf_dir, "documents")
    th = "CAST(conv(substring(md5(t), 1, 7), 16, 10) AS BIGINT)"
    fold = (
        f"aggregate(split(text, ' '), CAST(0 AS BIGINT),"
        f" (acc, t) -> (acc * {_RH_B} + {th}) % {_RH_P})"
    )
    return d.select("doc_id", F.expr(fold).alias("rolling_fp"))


# BPE-ish pre-tokenization: runs of letters | runs of digits | runs of
# other non-space chars — the classic byte-level BPE split shape. The
# alternatives are disjoint character classes, so Java-regex (Spark) and
# RE2 (DuckDB) agree exactly.
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


@query(
    "text_regex_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS INTEGER) AS n_pieces,
           CAST(len(list_filter(regexp_extract_all(text, '{_BPE_RE}'),
                p -> regexp_matches(p, '^[A-Za-z]+$'))) AS INTEGER) AS n_alpha,
           CAST(len(list_filter(regexp_extract_all(text, '{_BPE_RE}'),
                p -> regexp_matches(p, '^[0-9]+$'))) AS INTEGER) AS n_num
    FROM documents
    """,
    tags=("text", "tokenize"),
)
def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (letter runs / digit runs / punctuation
    runs), alongside the whitespace counts of ``text_token_stats``."""
    d = load(spark, sf_dir, "documents")
    pieces = F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)")
    n_alpha = F.expr(
        f"size(filter(regexp_extract_all(text, '{_BPE_RE}', 0),"
        f" p -> p rlike '^[A-Za-z]+$'))"
    )
    n_num = F.expr(
        f"size(filter(regexp_extract_all(text, '{_BPE_RE}', 0),"
        f" p -> p rlike '^[0-9]+$'))"
    )
    return d.select(
        "doc_id",
        F.size(pieces).cast("int").alias("n_pieces"),
        n_alpha.cast("int").alias("n_alpha"),
        n_num.cast("int").alias("n_num"),
    )


_LANG_STOPS = {
    "en": "'the','a','of','and','to'",
    "de": "'der','die','das','und','ist'",
    "es": "'el','la','y','que','los'",
    "fr": "'le','et','les','des','une'",
}


def _duck_langid() -> str:
    scores = ",\n           ".join(
        f"CAST(len(list_filter(string_split(text, ' '), t -> t IN ({lits}))) AS INTEGER)"
        f" AS score_{lang}"
        for lang, lits in _LANG_STOPS.items()
    )
    return f"""
    WITH s AS (SELECT doc_id, lang, {scores} FROM documents)
    SELECT doc_id, lang AS label, score_en, score_de, score_es, score_fr,
           CASE
             WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
             WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
             WHEN score_es >= score_fr THEN 'es'
             ELSE 'fr'
           END AS predicted
    FROM s
    """


@query("text_langid", oracle=_duck_langid(), tags=("text", "langid"))
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (n-gram heuristic family): score each
    language by stopword hits, argmax with a fixed tie order."""
    d = load(spark, sf_dir, "documents")
    score_cols = {
        lang: F.expr(f"size(filter(split(text, ' '), t -> t IN ({lits})))").cast("int")
        for lang, lits in _LANG_STOPS.items()
    }
    s = d.select("doc_id", F.col("lang").alias("label"), *[c.alias(f"score_{lang}") for lang, c in score_cols.items()])
    en, de, es, fr = (F.col(f"score_{x}") for x in ("en", "de", "es", "fr"))
    predicted = (
        F.when((en >= de) & (en >= es) & (en >= fr), "en")
        .when((de >= es) & (de >= fr), "de")
        .when(es >= fr, "es")
        .otherwise("fr")
    )
    return s.select(
        "doc_id", "label", "score_en", "score_de", "score_es", "score_fr",
        predicted.alias("predicted"),
    )


@query(
    "text_tfidf_topterms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
    dfc AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    ndocs AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tfc.doc_id, tfc.term,
             tfc.tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS score
      FROM tfc JOIN dfc USING (term) CROSS JOIN ndocs
    ),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, term) AS r
      FROM scored
    )
    SELECT doc_id, term, round(score, 4) AS score,
           CAST(r AS INTEGER) AS rank
    FROM ranked WHERE r <= 3
    """,
    tags=("text", "tfidf"),
    bench=True,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (smoothed idf = ln((N+1)/(df+1))+1).
    All JVM-side: one explode + two partial-aggregated groupBys; the
    document-frequency relation joins back via broadcast (vocabulary <<
    corpus at scale after a min-df cut); top-3 via window. The tf
    relation is persisted (r10): it feeds BOTH the df aggregation and
    the scoring join, and Catalyst planned the explode+groupBy subtree
    twice (two parquet scans, two shuffles — the before-plan shows no
    ReusedExchange because the consuming aggregates differ)."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    df_rel = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.count()
    scored = tf.join(F.broadcast(df_rel), "term").select(
        "doc_id",
        "term",
        (F.col("tf") * (F.log((n + 1.0) / (F.col("df") + 1.0)) + 1.0)).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", F.round("score", 4).alias("score"), "rank")
    )


# 8 md5-digest bytes as doubles in [0,1], 6dp — the deterministic stand-in
# feature vector (see operators.multimodal.extract_features)
_DUCK_FEAT_TERMS = ", ".join(
    f"round(('0x' || substr(md5(text), {2 * j + 1}, 2))::BIGINT / 255.0, 6)"
    for j in range(8)
)


@query(
    "multimodal_feature_ann",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, [{_DUCK_FEAT_TERMS}] AS e FROM documents
    ),
    n AS (SELECT doc_id, e,
                 sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
          FROM feat),
    q AS (SELECT * FROM n WHERE doc_id < 5),
    scored AS (
      SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
             list_sum(list_transform(range(1, 9),
                      i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS score
      FROM q JOIN n c ON c.doc_id != q.doc_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(score, 4) AS score, rank
    FROM ranked WHERE rank <= 3
    """,
    tags=("multimodal", "similarity"),
)
def multimodal_feature_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal -> embedding -> ANN pipeline: binary payloads ->
    feature vectors (extract_features, deterministic encoder stub) ->
    exact top-3 cosine neighbors of the first 5 docs via the broadcast
    matmul operator. Proves the multimodal output plugs straight into the
    similarity surface."""
    d = load(spark, sf_dir, "documents")
    feats = extract_features(attach_payload(d, "text", "doc_id"))
    q = feats.where(F.col("id") < 5)
    out = brute_force_topk(
        q, feats, k=3, q_id="id", q_vec="feature", c_id="id", c_vec="feature"
    )
    return out.select(
        "query_id", "neighbor_id", F.round("score", 4).alias("score"), "rank"
    )


# deterministic per-row hash in [0, 100): first 8 md5 hex chars of a
# salted doc key — identical integer arithmetic in Spark and DuckDB
_SPARK_H100 = (
    "CAST(conv(substring(md5(concat('{salt}', doc_id)), 1, 8), 16, 10) AS BIGINT) % 100"
)
_DUCK_H100 = "(('0x' || substr(md5('{salt}' || doc_id), 1, 8))::BIGINT % 100)"


@query(
    "sample_stratified",
    oracle=f"""
    SELECT lang, doc_id
    FROM documents
    WHERE {_DUCK_H100.format(salt='smp:')} < 20
    """,
    tags=("pipeline", "sampling"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% sample: membership is a pure function of the
    document id (salted md5 bucket), so the sample is reproducible across
    runs/clusters, composable with any filter, and needs no shuffle or
    state — unlike rand()-based sampling, which changes under retries and
    task reordering. Stratification is implicit: a uniform hash samples
    every stratum at the same rate."""
    d = load(spark, sf_dir, "documents")
    return d.where(F.expr(_SPARK_H100.format(salt="smp:")) < 20).select(
        "lang", "doc_id"
    )


@query(
    "split_train_val_test",
    oracle=f"""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN {_DUCK_H100.format(salt='split:')} < 80 THEN 'train'
                  WHEN {_DUCK_H100.format(salt='split:')} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
    FROM assigned GROUP BY lang, split
    """,
    tags=("pipeline", "sampling"),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment from a salted hash
    bucket — a different salt than the sampler so the two partitions are
    independent. Per-language counts verify the split is uniform."""
    d = load(spark, sf_dir, "documents")
    h = F.expr(_SPARK_H100.format(salt="split:"))
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return d.select("lang", split.alias("split")).groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "pack_token_bins",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT lang, n_tokens,
             (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens) // 4096 AS bin
      FROM t
    )
    SELECT lang, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY lang, bin
    """,
    tags=("pipeline", "packing"),
)
def pack_token_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: documents are packed (per
    language, in stable doc_id order) into ~4096-token bins by cumulative
    token count — bin id = tokens-before-this-doc div budget. One window
    per stratum; integer arithmetic, so the packing is bit-reproducible
    anywhere. Output: per-bin document and token counts."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    n = F.size(tokens("text")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select("doc_id", "lang", n.alias("n_tokens"))
    packed = t.select(
        "lang",
        "n_tokens",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 4096)
        .cast("long")
        .alias("bin"),
    )
    return packed.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )


@query(
    "pipeline_curation",
    oracle=f"""
    WITH reps AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
    ),
    kept AS (
      SELECT d.doc_id, d.lang, string_split(d.text, ' ') AS toks
      FROM documents d JOIN reps USING (doc_id)
    ),
    scored AS (
      SELECT doc_id, lang,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             len(list_filter(toks, t -> length(t) <= 2)) * 1.0 / len(toks)
               AS short_ratio
      FROM kept
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 4) AS avg_tokens
    FROM scored
    WHERE n_tokens BETWEEN 20 AND 1000 AND short_ratio < 0.4
    GROUP BY lang
    """,
    tags=("pipeline", "dedup", "text"),
    bench=True,
)
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation pipeline in one plan: fingerprint
    dedup (keep min-id representative) -> quality gate (length window +
    short-token ratio) -> per-language corpus stats. r10: ONE corpus
    scan — per-doc quality metrics are computed inline and the
    representative per fingerprint is picked by min(struct(doc_id, ...))
    in the SAME aggregation (struct order = doc_id primary, unique, so
    exactly the old min-doc_id row survives); the previous shape scanned
    documents twice (the min-id aggregate, then the semi-join's probe
    side). Two partial-aggregated shuffles total (fp, then lang); at
    100 TB this whole flow is the nightly curation job, and each stage
    is individually oracle-verified elsewhere — this entry proves they
    compose."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    shorts = F.expr("size(filter(split(text, ' '), t -> length(t) <= 2))")
    per_doc = d.select(
        canonical_fingerprint("text").alias("fp"),
        F.struct(
            "doc_id",
            "lang",
            n.cast("int").alias("n_tokens"),
            (shorts / n).alias("short_ratio"),
        ).alias("r"),
    )
    rep = per_doc.groupBy("fp").agg(F.min("r").alias("r")).select(
        "r.lang", "r.n_tokens", "r.short_ratio"
    )
    return (
        rep.where(
            (F.col("n_tokens") >= 20)
            & (F.col("n_tokens") <= 1000)
            & (F.col("short_ratio") < 0.4)
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
    )


# ------------------------------------------------------------ multimodal ----


@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id AS id,
           CAST(strlen(text) AS INTEGER) AS n_bytes,
           CAST(strlen(text) % 640 + 1 AS INTEGER) AS width,
           CAST((strlen(text) * 7) % 480 + 1 AS INTEGER) AS height,
           md5(text) AS content_hash,
           CAST(NULL AS VARCHAR) AS fmt
    FROM documents
    """,
    tags=("multimodal",),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata extraction via Arrow-batched mapInPandas.
    Text payloads are not images, so every row exercises the documented
    pseudo-metadata fallback (fmt NULL); real header decode is certified
    by `multimodal_meta_images` on known-dimension binary payloads."""
    d = load(spark, sf_dir, "documents")
    assets = attach_payload(d, "text", "doc_id")
    return extract_media_meta(assets)


@query(
    "multimodal_meta_images",
    oracle="""
    WITH ids AS (SELECT unnest(range(0, 240)) AS id)
    SELECT CAST(id AS BIGINT) AS id,
           CAST(CASE id % 4 WHEN 0 THEN 33 WHEN 1 THEN 35 WHEN 2 THEN 14
                ELSE 16 + id % 7 END AS INTEGER) AS n_bytes,
           CAST(CASE WHEN id % 4 = 3 THEN (16 + id % 7) % 640 + 1
                ELSE id % 300 + 1 END AS INTEGER) AS width,
           CAST(CASE WHEN id % 4 = 3 THEN ((16 + id % 7) * 7) % 480 + 1
                ELSE (id * 3) % 200 + 1 END AS INTEGER) AS height,
           CASE id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                WHEN 2 THEN 'gif' ELSE NULL END AS fmt
    FROM ids
    """,
    tags=("multimodal",),
)
def multimodal_meta_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image header decode, certified: workers synthesize 240
    deterministic binary payloads cycling actual PNG / JPEG / GIF headers
    plus a non-image case (`synth_image_payload`), then
    `extract_media_meta` parses dimensions back out of the BYTES with the
    dependency-free header parser (`parse_image_dims` — a true JPEG
    marker-segment scan, not a fixed-offset peek). The oracle predicts
    width/height arithmetically from the generator formula, so any parser
    or payload-construction defect is a hash mismatch. Payloads are built
    AND parsed inside one Arrow pass per partition — bytes never leave
    the workers."""
    from spark_hbase_connector_spark.operators.multimodal import (
        synth_image_payload,
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = [int(v) for v in pdf["id"]]
            yield pd.DataFrame(
                {"id": ids, "payload": [synth_image_payload(i) for i in ids]}
            )

    assets = spark.range(0, 240).mapInPandas(build, schema="id long, payload binary")
    return extract_media_meta(assets).drop("content_hash")


@query(
    "dedup_image_phash",
    oracle="""
    WITH ids AS (SELECT unnest(range(0, 400)) AS i),
    px AS (
      SELECT i, x, y,
             CASE WHEN (i % 4) > 0 AND x = 2 * (i % 4) AND y = (i % 4)
                  THEN ((i // 4) * 37 + x * 11 + y * 5
                        + x * y * ((i // 4) + 1) + 100) % 251
                  ELSE ((i // 4) * 37 + x * 11 + y * 5
                        + x * y * ((i // 4) + 1)) % 251
             END AS g
      FROM ids
      CROSS JOIN (SELECT unnest(range(0, 9)) AS x) xs
      CROSS JOIN (SELECT unnest(range(0, 8)) AS y) ys
    ),
    bits AS (
      SELECT a.i, a.y * 8 + a.x AS bit,
             CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS v
      FROM px a JOIN px b ON b.i = a.i AND b.y = a.y AND b.x = a.x + 1
      WHERE a.x < 8
    ),
    ham AS (
      SELECT a.i AS id1, b.i AS id2,
             CAST(sum(CASE WHEN a.v <> b.v THEN 1 ELSE 0 END) AS INTEGER)
               AS hamming
      FROM bits a JOIN bits b ON a.bit = b.bit AND a.i < b.i
      GROUP BY 1, 2
    )
    SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2, hamming
    FROM ham WHERE hamming <= 3
    """,
    tags=("multimodal", "dedup", "phash"),
)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup, end-to-end on REAL pixel bytes:
    workers synthesize 400 deterministic 9x8 24-bit BMPs
    (`synth_bmp_payload` — 100 groups of 4, each group a base pattern
    plus three single-pixel perturbations), `image_dhash_words` decodes
    the actual BMP pixel array back out of the BYTES (bottom-up rows,
    4-byte padding, BGR — `decode_bmp_gray`) and computes the 64-bit
    dHash (adjacent-column comparisons on the mean-pooled gray grid),
    and `operators.dedup.hamming_band_pairs` — the SAME Manku-banding
    machinery as `dedup_simhash` — emits pairs within Hamming 3 with
    guaranteed recall. The oracle replays the hash arithmetically from
    the pixel-generator formula (exactly the `multimodal_meta_images` /
    `dedup_simhash` certification recipe), so ANY defect in BMP
    construction, pixel decode, hashing, or banding is a hash mismatch;
    brute-force == banded is additionally unit-proven
    (tests/test_multimodal.py). The float-DCT pHash twin
    (`phash64_from_gray`) plugs into the same words->bands pipeline but
    is unit-test-verified only (libm cos() is not SQL-replayable).

    Scale shape: payload bytes never leave the worker — only (id, 8-byte
    word) rows shuffle into the banded equality join, so the pair search
    is independent of image size; candidate volume follows the SimHash
    Σ-per-33-bit-bucket argument (`SCALE.md`)."""
    from spark_hbase_connector_spark.operators.dedup import hamming_band_pairs
    from spark_hbase_connector_spark.operators.multimodal import (
        image_dhash_words,
        synth_bmp_payload,
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = [int(v) for v in pdf["id"]]
            yield pd.DataFrame(
                {"id": ids, "payload": [synth_bmp_payload(i) for i in ids]}
            )

    assets = spark.range(0, 400).mapInPandas(build, schema="id long, payload binary")
    return hamming_band_pairs(image_dhash_words(assets), max_hamming=3)


@query(
    "dedup_audio_fingerprint",
    oracle="""
    WITH ids AS (SELECT unnest(range(0, 400)) AS i),
    smp AS (
      SELECT i, t,
             CASE WHEN (i % 4) > 0 AND t // 4 = 13 * (i % 4)
                  THEN 3500 - (t % 4) * 700
                  ELSE ((i // 4) * 97 + t * 11
                        + ((t * t + (i // 4) * t) % 193) * ((i // 4) % 7 + 3))
                       % 4001 - 2000
             END AS s
      FROM ids CROSS JOIN (SELECT unnest(range(0, 260)) AS t) ts
    ),
    nrg AS (SELECT i, t // 4 AS w, sum(abs(s)) AS e FROM smp GROUP BY 1, 2),
    bits AS (
      SELECT a.i, a.w AS bit, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS v
      FROM nrg a JOIN nrg b ON b.i = a.i AND b.w = a.w + 1
      WHERE a.w < 64
    ),
    ham AS (
      SELECT a.i AS id1, b.i AS id2,
             CAST(sum(CASE WHEN a.v <> b.v THEN 1 ELSE 0 END) AS INTEGER)
               AS hamming
      FROM bits a JOIN bits b ON a.bit = b.bit AND a.i < b.i
      GROUP BY 1, 2
    )
    SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2, hamming
    FROM ham WHERE hamming <= 3
    """,
    tags=("multimodal", "dedup", "audio"),
)
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup, end-to-end on REAL PCM bytes — completes the
    multimodal dedup family next to `dedup_image_phash` (VERDICT r8
    ask 6): workers synthesize 400 deterministic mono-16-bit PCM WAVs
    (`synth_wav_fp_payload` — 100 groups of 4, each group a base
    waveform plus three one-window loudness perturbations),
    `audio_fingerprint_words` decodes the actual RIFF data chunk back
    out of the BYTES (`decode_wav_pcm16`: word-aligned chunk walk,
    signed little-endian samples), computes the 64-bit energy-envelope
    difference fingerprint (`audio_energy_hash64` — the integer-exact
    member of the Haitsma-Kalker energy-difference family: bit k =
    [E(window k+1) > E(window k)] over 65 four-sample loudness windows),
    and `operators.dedup.hamming_band_pairs` — the SAME signature-
    agnostic Manku banding as SimHash and the image dHash — emits pairs
    within Hamming 3 with guaranteed recall. The oracle replays the
    fingerprint arithmetically from the sample-generator formula (the
    `dedup_image_phash` certification recipe), so ANY defect in WAV
    construction, PCM decode, energy hashing, or banding is a hash
    mismatch; banded == brute-force is additionally unit-proven
    (tests/test_multimodal.py).

    Scale shape: payload bytes never leave the worker — only (id, 8-byte
    word) rows shuffle into the banded equality join; the fixture is
    constant-size, so the oracle's pair replay is O(1) in sf and the
    entry sweeps at every scale."""
    from spark_hbase_connector_spark.operators.dedup import hamming_band_pairs
    from spark_hbase_connector_spark.operators.multimodal import (
        audio_fingerprint_words,
        synth_wav_fp_payload,
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = [int(v) for v in pdf["id"]]
            yield pd.DataFrame(
                {"id": ids, "payload": [synth_wav_fp_payload(i) for i in ids]}
            )

    assets = spark.range(0, 400).mapInPandas(build, schema="id long, payload binary")
    return hamming_band_pairs(audio_fingerprint_words(assets), max_hamming=3)


@query(
    "dedup_image_phash_dct",
    oracle="""
    WITH w(id, h) AS (VALUES
      (0, -6173965826724550060), (1, 4340410370327044800), (2, -7234581561798649200), (3, -7595767819294840220),
      (4, -6172839876721224024), (5, -5020042178841651544), (6, -5019918853150714200), (7, 2978491883420538536),
      (8, 5383724758564498768), (9, 5347634386746928592), (10, 5343192366481567056), (11, 7725526202487041488),
      (12, 4200269238047152482), (13, 4200269229457267010), (14, 2472012863880649058), (15, 3623827177441401186),
      (16, -7163057375206084338), (17, -7145060564721897202), (18, -5992965825079185138), (19, -7019082920457834226),
      (20, 5154466641042606046), (21, -4068500260137073058), (22, -4352350682595851298), (23, -4064419388370844706),
      (24, 6979352787448680190), (25, 6978807429681303294), (26, 2511781957097393918), (27, 7555268592154103550),
      (28, -7127739868101829536), (29, -7127739868101829536), (30, -7127599199332950944), (31, -8280520635220321184),
      (32, 7974708178464815296), (33, 7942901506096527552), (34, 7992440831411501248), (35, 7974690586279819456),
      (36, -7326699468899094134), (37, -7036218942201138806), (38, -7038470192242237046), (39, -7290671230217227896),
      (40, 2483072522266603782), (41, 7081247741811880206), (42, 2546122917049790726), (43, 2483072522266603782),
      (44, 5374251866319325046), (45, -4353387058078611586), (46, 5446309391637776246), (47, 5446305062443911030),
      (48, 1524840772162225150), (49, 1524842146531312382), (50, 1524841047023354878), (51, 1524849568238470142),
      (52, -6178206181433655682), (53, -6178206181467209986), (54, -6177924706490499458), (55, -5889993397467988354),
      (56, 8852025620257617984), (57, 8853151511574526016), (58, 7700792956048686144), (59, 8852588561495275584),
      (60, 6248294540531003424), (61, 6248309933692743840), (62, 6248294523351199776), (63, 6248312126007275680),
      (64, 3851962843150205202), (65, 3847731922406527250), (66, 3834229919617433874), (67, 2694819282612175122),
      (68, -5952407366960348232), (69, -5916378570008493128), (70, -5952407366960348232), (71, -5916378569941907544),
      (72, 7676694741997652974), (73, 7677251026158160878), (74, 8685501058528644078), (75, 8829616177880959982),
      (76, 5969699923686724350), (77, 5915656728162538238), (78, 5942678051044659966), (79, -3271686511677533442),
      (80, -7046437924568564192), (81, -7046420332416074208), (82, -7046367555857940960), (83, -7046420332416074208),
      (84, -5209408517876058112), (85, -5209410716899280896), (86, -5353525904907798528), (87, 3869848330902894720),
      (88, 3343268875184419008), (89, 3343268875167658176), (90, 3379297672220160128), (91, 3379297672220160064),
      (92, -3509244029677009998), (93, -4373407383960872526), (94, -3797474405829764174), (95, -3509244029677007966),
      (96, -2730292182092806284), (97, -2694052347560786636), (98, -2694263385073842256), (99, 6349105404307638260),
      (100, -7366925948617553474), (101, -8515343819270846018), (102, -9096308102430914242), (103, -6214013171367605826),
      (104, -7614577329329786114), (105, -7614718066818125058), (106, -6461655825796664578), (107, -7614716967306513666),
      (108, 3758125926366246912), (109, 3757865342118848512), (110, 1452282917156747264), (111, 1596398105236793344),
      (112, 7739057403581854848), (113, 8825979623219819648), (114, 8895919555715167360), (115, 6518449963169117312),
      (116, 5178132538843731600), (117, 5178265785909122576), (118, 4872028776347473552), (119, 5754725232274052752),
      (120, -7436256979997882028), (121, -7436186641318540972), (122, -7436538454957815468), (123, -7436256980249540268),
      (124, -8416460307097614934), (125, -8420891407677061702), (126, -8419979843549690450), (127, -8416601113035962966),
      (128, 7382377028572121518), (129, 7364362630331074990), (130, 7382377028840556718), (131, -1859026998709745234),
      (132, 7440692068845976158), (133, 7440692068845972094), (134, 7422959145313204830), (135, 7440973541675203166),
      (136, 8380885769714981952), (137, 8362317217345101120), (138, 8398900168224447808), (139, 8452379314422078528),
      (140, -2466573956133300576), (141, -2464462893807970656), (142, -7364238549824727392), (143, -7078399612529027424),
      (144, -7153390928413256028), (145, -7153390988542798172), (146, -7153391203291146588), (147, -7153390997132716380),
      (148, -8416884293646185098), (149, -8993344556323336842), (150, -8128649536627831450), (151, -8416884156207231642),
      (152, 2850199897704317214), (153, 2818674700312724238), (154, 2564221596244197662), (155, 2850164713324364574),
      (156, 3558637117210514042), (157, 3563703666791301754), (158, 3562578041762353786), (159, 7018527771455017594),
      (160, -8915114404190556194), (161, -8338653651887140898), (162, -8915114404190556194), (163, -8915114404190556194),
      (164, -3536473505913333632), (165, -8148511333701870912), (166, -6995237813575444352), (167, -6995519254192416640),
      (168, -6000459591999277984), (169, -3694614383762328544), (170, -3694616582785584032), (171, -8306267416840883104),
      (172, 8303603441337017612), (173, 8301633666255825932), (174, 8231545847315866892), (175, 8879993824900392196),
      (176, 8434381983056873766), (177, 8434645831487801654), (178, 3826355139393833250), (179, 3827203962302843174),
      (180, 6156884585958969694), (181, 2121659319835005278), (182, 2121659319835005278), (183, 1545198569679065438),
      (184, -5861670184142335238), (185, -5861652523773685030), (186, -5862795809171270918), (187, -8167512781576039686),
      (188, -9111285557960753226), (189, -9111311946239819850), (190, -8805040783366652122), (191, -6517247356968484938),
      (192, -2928944907521824768), (193, -2928927328220681728), (194, -2928944908595566560), (195, 6150470816392341504),
      (196, 7664456494958293056), (197, 7662187107253531712), (198, 8799363601055658240), (199, 8817078936563134784),
      (200, -7340492490335067448), (201, -7304320791701132216), (202, -7340492489798196536), (203, -7304463693852974392),
      (204, -5917112203754419882), (205, 3310762882971912662), (206, -5912327129150469804), (207, -5912556377324730020),
      (208, -5420319433320461394), (209, -5366557678408987730), (210, -5366276306511488082), (211, -6501183343897769026),
      (212, 5443835465007600254), (213, 5443835460712633086), (214, 5389792270817137278), (215, 4867374712712565374),
      (216, 4708676236895764032), (217, 4708676234748280512), (218, 4848287859636878912), (219, 4852791424904511040),
      (220, -5107426824914308064), (221, -5110804520339866592), (222, -5108552724821148640), (223, -5108552724821148640),
      (224, 1635204655576893760), (225, 1635206854600362052), (226, 1635204655576107328), (227, 1635206854599100608),
      (228, 1416722349685057990), (229, 1416704723676674500), (230, 1416722349685062082), (231, 1849067880056730054),
      (232, -2275738160566020804), (233, -2274673841896042212), (234, -1988633691837344452), (235, -1988650183440116420),
      (236, 7190922642392762878), (237, 7158834495047748606), (238, 7443124223673059454), (239, 7190922644540246398),
      (240, 5157405603282675454), (241, 5157269263840831230), (242, 5157410001060751102), (243, 5085207276052408062),
      (244, -5474532662603448768), (245, -5469448520836614592), (246, -7777279447069131200), (247, -4899743159381166528),
      (248, 8852431679599429696), (249, 8850461286043240512), (250, 8852713081561958464), (251, 8708334079414913088),
      (252, 2682569745767261776), (253, 2682852285895861328), (254, 2682851220743964240), (255, 2682569745767261776),
      (256, -3952838397545065064), (257, -3950588796754635368), (258, -4223056574210550376), (259, -3376307276497988200),
      (260, -4326594724861998602), (261, -4396400519086241290), (262, -4110421942748214794), (263, -2021877065807721994),
      (264, 1063801755050674494), (265, 1068314146475051374), (266, 780074978529478974), (267, 1063801755053820222),
      (268, 6686585430713988830), (269, 6650574225881069278), (270, 2074899413360342750), (271, 6686585430713988830),
      (272, 4428889362121120256), (273, 4140659535725222400), (274, 4140659003149277696), (275, 4428889362121120256),
      (276, -5895519009003240000), (277, -6183748285643320000), (278, -5895519009002191552), (279, -4751604153894271680),
      (280, 7357395785638845824), (281, 7388903395148274816), (282, 7354000498043755652), (283, 7424949780057267584),
      (284, -7797573393738165076), (285, -7793069802700732756), (286, -4338808879649192788), (287, -4338808914276968788),
      (288, 5293374599556604238), (289, 6446014629186740558), (290, 5293374874434503002), (291, 5293093124580942158),
      (292, 6744566582391100282), (293, 6708405843974837242), (294, 6456336206239388666), (295, -2481189195800489094),
      (296, 3902517096835481382), (297, -5293270186147676378), (298, 3893510104812912422), (299, 3902517096835743526),
      (300, -5904649894641627936), (301, -6480687880697639904), (302, -5904649890883515296), (303, -5904227132689183616),
      (304, -6122858689592193404), (305, -6086768319926264316), (306, -1511181475633852732), (307, -4933838027816334656),
      (308, 6760576266961498508), (309, 6762828066774659468), (310, 6760857741937684876), (311, 6760576266960974284),
      (312, 4235041840591102238), (313, 4235041840591102362), (314, 4239545371482223002), (315, -7870632926988508898),
      (316, -6477157347271546500), (317, -6477157347267354244), (318, -6478001842997335684), (319, -5900696597119800964),
      (320, 7939428065347801722), (321, 7939427584311464570), (322, 8802993293963203194), (323, 7651197757915566714),
      (324, 2271835389484285852), (325, -4069237275309949028), (326, 5730599903304826780), (327, -7527997399673913444),
      (328, -6479698384353699712), (329, -6461683985844250496), (330, -1848872077240772480), (331, -5326776888336787328),
      (332, 1678669752554923016), (333, 1678397073675420680), (334, 1678669752290935816), (335, -7508954962259696632),
      (336, 7702537540885724256), (337, 7702555133071242338), (338, 5396694806549937248), (339, 7702555133063378018),
      (340, 7257977245018164594), (341, 8410898749624487282), (342, 7257977246091382130), (343, 8410898749624487282),
      (344, -6261965098684145154), (345, -6333987783225794050), (346, -6045757407076179458), (347, -6333987508349984258),
      (348, 8239093794878981854), (349, 8233465669734306526), (350, 8234590263971088094), (351, 8239094894390608606),
      (352, 4766585440826228360), (353, 4766585715699941000), (354, 5910500022109011592), (355, 5343046193129651840),
      (356, -5810918699590907840), (357, -8116760609293038528), (358, -8116761708804601536), (359, -5810949485916485568),
      (360, -1913778485222149976), (361, -6523203907759607640), (362, -6525182805292584792), (363, -6525454674633527256),
      (364, -5138286176279906948), (365, -5136062963768531092), (366, -5138286176279906948), (367, -5138277380185840276),
      (368, 8716758626768458070), (369, 8716767422860968278), (370, 8716899364256809302), (371, 8716767422860958036),
      (372, -8049607022348219462), (373, -7491160677144081478), (374, -3436795121193890886), (375, -2789402692208702534),
      (376, 7351952902443156222), (377, 7387981698388347646), (378, 7351952902443156222), (379, 7207855306553344766),
      (380, 5705414588582733376), (381, -3517957448272042496), (382, 5705414620795019840), (383, 5633357028904543808),
      (384, -8794149751123977948), (385, -8791970484717989468), (386, -8795275651030820444), (387, -8795282213471364828),
      (388, -7786450333299815040), (389, 1436921703554960770), (390, 6048590129796304068), (391, 6048609894967364738),
      (392, -5712741580023172774), (393, -5748831812254342694), (394, -812825203429252786), (395, 8122316475258991058),
      (396, -3743162785368034856), (397, -3743163888906193960), (398, -3745415684424912420), (399, -3889529772989140520)
    )
    SELECT CAST(a.id AS BIGINT) AS id1, CAST(b.id AS BIGINT) AS id2,
           CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
    FROM w a JOIN w b ON a.id < b.id
    WHERE bit_count(xor(a.h, b.h)) <= 3
    """,
    tags=("multimodal", "dedup", "phash"),
)
def dedup_image_phash_dct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The float-DCT pHash path, oracle-checked end-to-end (VERDICT r8
    ask 8 — closes the one "unit-verified only" asterisk in the
    multimodal table): the same 400 synthesized BMPs as
    `dedup_image_phash`, but hashed with `phash64_from_gray` (32x32
    orthonormal DCT-II, top-left 8x8 block thresholded at the non-DC
    median) and banded through the same `hamming_band_pairs`. libm cos()
    is not SQL-replayable, so the oracle verifies the BANDING from a
    PINNED SNAPSHOT of the 400 worker-computed words (embedded as a
    VALUES relation; numpy float64 DCT on a fixed integer grid is
    deterministic on a given platform) — an exact pair replay via
    bit_count(xor). A libm/numpy change that moved any coefficient
    across its median threshold would surface as a loud hash mismatch,
    never silently; the hash FORMULA itself stays certified by the unit
    suite (brightness-shift invariance, banded == brute-force,
    tests/test_multimodal.py). 168 pairs at Hamming <= 3 — every one
    within a perturbation group, zero cross-group collisions."""
    from spark_hbase_connector_spark.operators.dedup import hamming_band_pairs
    from spark_hbase_connector_spark.operators.multimodal import (
        image_dhash_words,
        phash64_from_gray,
        synth_bmp_payload,
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = [int(v) for v in pdf["id"]]
            yield pd.DataFrame(
                {"id": ids, "payload": [synth_bmp_payload(i) for i in ids]}
            )

    assets = spark.range(0, 400).mapInPandas(build, schema="id long, payload binary")
    words = image_dhash_words(assets, hasher=phash64_from_gray)
    return hamming_band_pairs(words, max_hamming=3)


@query(
    "multimodal_audio_meta",
    oracle="""
    WITH ids AS (SELECT unnest(range(0, 240)) AS id),
    p AS (
      SELECT id, id % 3 AS m, id % 2 + 1 AS ch, 8000 * (id % 4 + 1) AS rate,
             id % 50 + 1 AS nf, 16 + id % 7 AS rawlen
      FROM ids
    )
    SELECT CAST(id AS BIGINT) AS id,
           CAST(CASE WHEN m = 2 THEN rawlen
                ELSE 44 + nf * ch * 2 END AS INTEGER) AS n_bytes,
           CAST(CASE WHEN m = 2 THEN rawlen % 2 + 1
                ELSE ch END AS INTEGER) AS n_channels,
           CAST(CASE WHEN m = 2 THEN rawlen * 97 % 48000 + 1
                ELSE rate END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN m = 2 THEN 8 ELSE 16 END AS INTEGER) AS bits,
           CAST(CASE WHEN m = 2 THEN rawlen % 1000
                ELSE nf * 1000 // rate END AS INTEGER) AS duration_ms,
           CASE WHEN m = 2 THEN NULL ELSE 'wav' END AS fmt
    FROM p
    """,
    tags=("multimodal", "audio"),
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio header decode, certified — the audio twin of
    `multimodal_meta_images`: workers synthesize 240 deterministic
    payloads cycling actual minimal PCM WAVs (varying channel count,
    sample rate, frame count — `synth_wav_payload`) plus a non-audio
    case, then `extract_audio_meta` walks the RIFF chunks back out of
    the BYTES (`parse_wav_meta`: order-independent, word-aligned chunk
    traversal — channels / rate / bit depth / duration, sample data
    never touched). The oracle predicts every field arithmetically from
    the generator formula, so a parser or construction defect is a hash
    mismatch. Payloads are built AND parsed inside one Arrow pass —
    bytes never leave the workers; at 100 TB only the fixed-width
    metadata ever shuffles."""
    from spark_hbase_connector_spark.operators.multimodal import (
        extract_audio_meta,
        synth_wav_payload,
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = [int(v) for v in pdf["id"]]
            yield pd.DataFrame(
                {"id": ids, "payload": [synth_wav_payload(i) for i in ids]}
            )

    assets = spark.range(0, 240).mapInPandas(build, schema="id long, payload binary")
    return extract_audio_meta(assets)


@query(
    "multimodal_video_meta",
    oracle="""
    WITH ids AS (SELECT unnest(range(0, 240)) AS id),
    p AS (
      SELECT id, id % 3 AS m, 248 + id % 9 AS vbytes, 16 + id % 5 AS rawlen
      FROM ids
    )
    SELECT CAST(id AS BIGINT) AS id,
           CAST(CASE WHEN m = 2 THEN rawlen ELSE vbytes END AS INTEGER) AS n_bytes,
           CAST(CASE WHEN m = 2 THEN rawlen % 640 + 1
                ELSE 16 * (id % 60 + 1) END AS INTEGER) AS width,
           CAST(CASE WHEN m = 2 THEN rawlen * 7 % 480 + 1
                ELSE 16 * (id % 34 + 1) END AS INTEGER) AS height,
           CAST(CASE WHEN m = 2 THEN rawlen % 1000
                ELSE 500 * (id % 20 + 1) END AS INTEGER) AS duration_ms,
           CASE WHEN m = 2 THEN NULL ELSE 'mp4' END AS fmt
    FROM p
    """,
    tags=("multimodal", "video"),
)
def multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video header decode, certified — completes the image/audio/
    video trio: workers synthesize 240 deterministic payloads cycling
    actual minimal ISO-BMFF MP4s (`synth_mp4_payload`: ftyp + a
    variable-size free box + moov[mvhd + trak[tkhd]]), then
    `extract_video_meta` walks the NESTED boxes back out of the bytes
    (`parse_mp4_meta`: real box traversal — the free box between ftyp
    and moov forces a walk, not a fixed-offset peek; 16.16 fixed-point
    tkhd dimensions; mvhd timescale-normalized duration). The oracle
    predicts every field arithmetically; sample data never exists and
    only fixed-width metadata leaves the workers."""
    from spark_hbase_connector_spark.operators.multimodal import (
        extract_video_meta,
        synth_mp4_payload,
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = [int(v) for v in pdf["id"]]
            yield pd.DataFrame(
                {"id": ids, "payload": [synth_mp4_payload(i) for i in ids]}
            )

    assets = spark.range(0, 240).mapInPandas(build, schema="id long, payload binary")
    return extract_video_meta(assets)


@query(
    "multimodal_framesample",
    oracle="""
    WITH f AS (
      SELECT doc_id, text, length(text) // 256 AS n_frames FROM documents
    ),
    idx AS (
      SELECT doc_id, text,
             unnest(range(0, n_frames, 4)) AS i
      FROM f WHERE n_frames > 0
    )
    SELECT doc_id AS id, CAST(i AS INTEGER) AS frame_index,
           md5(substr(text, i * 256 + 1, 256)) AS frame_hash
    FROM idx
    """,
    tags=("multimodal",),
)
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe-style sampling over binary payloads: 256-byte frames, every
    4th kept, hashed in-worker (only hashes leave the task). Payloads are
    the UTF-8 text bytes (all-ASCII testdata, verified), so the oracle can
    replay the byte windows with string slicing."""
    d = load(spark, sf_dir, "documents")
    assets = attach_payload(d, "text", "doc_id")
    return sample_frames(assets, frame_size=256, stride=4)


@query(
    "chunk_sliding_windows",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    ex AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, len(toks) - 1, 24)) AS start
      FROM t
    )
    SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_id,
           CAST(len(toks[start + 1 : start + 32]) AS BIGINT) AS n_tokens,
           array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
    FROM ex
    """,
    tags=("pipeline", "chunking"),
    bench=True,
)
def chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking for training/RAG pipelines: each document is
    split into 32-token chunks with an 8-token overlap (stride 24). Chunk
    starts come from `sequence(0, n-1, stride)` exploded JVM-side; the
    chunk itself is an array slice + join — no Python in the path, and the
    explode multiplies rows by ceil(n_tokens/stride) only (bounded fan-out,
    partition-local, no shuffle at all until a downstream consumer groups)."""
    size, stride = 32, 24
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    ex = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(stride))
        ).alias("start"),
    )
    chunk = F.slice("toks", F.col("start") + 1, F.lit(size))
    return ex.select(
        "doc_id",
        (F.col("start") / stride).cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@query(
    "approx_distinct_qa",
    oracle="""
    SELECT 'o_custkey' AS col,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           true AS approx_within_5pct
    FROM orders
    UNION ALL
    SELECT 'l_partkey',
           CAST(count(DISTINCT l_partkey) AS BIGINT),
           true
    FROM lineitem
    """,
    tags=("sketch", "agg", "qa"),
)
def approx_distinct_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-aggregate QA gate: HyperLogLog++ (`approx_count_distinct`,
    rsd 2%) next to the exact distinct count, per column, emitting the
    exact count and a within-5% acceptance flag — the check a pipeline
    runs before trusting sketches for cardinality decisions. At 100 TB the
    sketch is the only viable path (fixed-size partial state, map-side
    merged, no shuffle of distinct values); the exact count here is the
    small-scale ground truth that certifies it. The sketch is
    deterministic for fixed data, so the flag is oracle-stable."""

    def one(table: str, col: str) -> DataFrame:
        t = load(spark, sf_dir, table)
        return t.agg(
            F.lit(col).alias("col"),
            F.count_distinct(F.col(col)).alias("exact_distinct"),
            (
                F.abs(F.approx_count_distinct(col, 0.02) - F.count_distinct(F.col(col)))
                <= 0.05 * F.count_distinct(F.col(col))
            ).alias("approx_within_5pct"),
        )

    return one("orders", "o_custkey").unionAll(one("lineitem", "l_partkey"))


@query(
    "approx_quantiles_qa",
    oracle="""
    SELECT CAST(0.5 AS DOUBLE) AS quantile,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_value,
           true AS approx_within_1pct
    FROM lineitem
    UNION ALL
    SELECT CAST(0.9 AS DOUBLE),
           round(quantile_cont(l_extendedprice, 0.9), 4), true
    FROM lineitem
    UNION ALL
    SELECT CAST(0.99 AS DOUBLE),
           round(quantile_cont(l_extendedprice, 0.99), 4), true
    FROM lineitem
    """,
    tags=("sketch", "quantile", "qa"),
)
def approx_quantiles_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch QA gate, the percentile twin of
    ``approx_distinct_qa``: Greenwald-Khanna `approx_percentile`
    (accuracy 10000) next to the exact interpolated percentile, per
    quantile, emitting the exact value and a within-1% acceptance flag.
    At 100 TB only the sketch survives (mergeable fixed-size partials, no
    global sort); the exact percentile is the QA-scale ground truth that
    certifies it. One aggregation pass computes both arrays; the
    per-quantile rows come from a 3-element zip explode — constant-sized,
    driver-free."""
    li = load(spark, sf_dir, "lineitem")
    a = li.agg(
        F.expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").alias("ex"),
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D), 10000)"
        ).alias("ap"),
    )
    z = a.select(
        F.explode(
            F.arrays_zip(
                F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)).alias("q"),
                F.col("ex"),
                F.col("ap"),
            )
        ).alias("s")
    )
    return z.select(
        F.col("s.q").alias("quantile"),
        F.round("s.ex", 4).alias("exact_value"),
        (F.abs(F.col("s.ap") - F.col("s.ex")) <= 0.01 * F.abs(F.col("s.ex"))).alias(
            "approx_within_1pct"
        ),
    )


@query(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE {_DUCK_SHINGLES},
    post AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    sizes AS (SELECT doc_id, len(shs) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
      FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT id1, id2 FROM inter
      JOIN sizes sa ON id1 = sa.doc_id
      JOIN sizes sb ON id2 = sb.doc_id
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.85
    ),
    edges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM prs
              UNION ALL SELECT id2, id1 FROM prs),
    nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM edges),
    {duck_cc_min_label('nodes')},
    jd AS (
      SELECT c.component, c.id AS doc_id, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.id
    )
    SELECT component,
           first(doc_id ORDER BY n_chars DESC, doc_id) AS rep_doc_id,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM jd GROUP BY component
    """,
    tags=("dedup", "graph", "pipeline"),
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup end-step a curation pipeline actually ships: per
    near-duplicate cluster (connected components over the Jaccard>=0.85
    pair graph), keep the best document — longest content, doc_id
    tiebreak. Representative selection is `max_by` over a (n_chars,
    -doc_id) struct inside the same grouped aggregation that counts the
    cluster: one shuffle on the component id, no window, no second pass
    over the corpus."""
    d = load(spark, sf_dir, "documents")
    pairs = shingle_jaccard_pairs(d, "text", "doc_id", threshold=0.85)
    comp = connected_components(pairs)
    jd = comp.join(
        d.select(F.col("doc_id"), F.col("n_chars")),
        comp["id"] == F.col("doc_id"),
    )
    return jd.groupBy(F.col("comp").alias("component")).agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg"))
        ).alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "search_ranked_conjunctive",
    oracle="""
    WITH posts AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM posts WHERE term IN ('scan', 'join')
      GROUP BY doc_id, term
    ),
    idf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT t.doc_id, round(sum(t.tf * ln(n.n_docs * 1.0 / i.df)), 4) AS score
    FROM tf t JOIN idf i USING (term) CROSS JOIN n
    GROUP BY t.doc_id
    HAVING count(*) = 2
    """,
    tags=("text", "search", "join"),
    bench=True,
)
def search_ranked_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search with TF-IDF ranking — the inverted-index
    query a document store serves: documents containing ALL query terms
    ('scan' AND 'join'), scored by sum(tf * ln(N/df)). The term filter
    lands before the explode-aggregate, so posting lists are built only
    for query terms; df is term-sized (broadcasts by stats) and the
    corpus count is a driver-side scalar (computed once, injected as a
    literal — no join at all); conjunction = HAVING count == n_terms on
    the grouped postings — intersection via aggregation, never a
    self-join per term. One corpus-sized shuffle (doc_id, term). r10:
    tf is persisted — the SQL CTE fed both idf and the scoring join, so
    Catalyst scanned + exploded the corpus twice; arithmetic unchanged
    (ln(n*1.0/df) is the same double division, 2-addend sums are
    order-insensitive)."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term").isin("scan", "join"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = float(d.count())
    return (
        tf.join(F.broadcast(idf), "term")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("tf") * F.log(F.lit(n_docs) / F.col("df"))), 4
            ).alias("score"),
            F.count(F.lit(1)).alias("__nt"),
        )
        .where(F.col("__nt") == 2)
        .select("doc_id", "score")
    )


@query(
    "assign_contiguous_ids",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
    FROM documents
    """,
    tags=("pipeline", "ids"),
)
def assign_contiguous_ids_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based global index over doc_id WITHOUT a global sort — the
    shard-addressing primitive for training exports. Rows are bucketed by
    an order-preserving key range, ranked per bucket in parallel windows,
    and shifted by broadcast cumulative bucket offsets
    (`operators/ids.py`): one corpus shuffle on the bucket key; the only
    unpartitioned window runs over the bucket-count relation, which is
    corpus_size/1024 rows, not the corpus."""
    from spark_hbase_connector_spark.operators.ids import assign_contiguous_ids

    d = load(spark, sf_dir, "documents").select("doc_id")
    return assign_contiguous_ids(d, "doc_id", bucket_width=64)


@query(
    "dedup_sentence_exact",
    oracle="""
    WITH s AS (
      SELECT doc_id, unnest(string_split(text, '. ')) AS sentence
      FROM documents
    )
    SELECT md5(sentence) AS sentence_hash,
           CAST(count(*) AS INTEGER) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS INTEGER) AS n_docs
    FROM s
    WHERE length(sentence) > 0
    GROUP BY md5(sentence)
    HAVING count(*) > 1
    """,
    tags=("dedup", "text"),
    bench=True,
)
def dedup_sentence_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (sentence-level) exact dedup: which sentences repeat
    across the corpus, and in how many documents — the fine-grained
    cousin of ``dedup_exact`` (boilerplate/template detection removes
    repeated sentences, not whole documents).

    Scale shape: the explode is partition-local; the groupBy key is
    ``md5(sentence)`` computed BEFORE the exchange, so the shuffle moves
    16-byte digests instead of sentence text, and partial aggregation
    collapses duplicate-heavy corpora map-side. One shuffle total —
    corpus bytes never leave the scan stage."""
    d = load(spark, sf_dir, "documents")
    s = (
        d.select("doc_id", F.explode(F.split("text", "\\. ")).alias("sentence"))
        .where(F.length("sentence") > 0)
        .select("doc_id", F.md5(F.col("sentence").cast("binary")).alias("sentence_hash"))
    )
    return (
        s.groupBy("sentence_hash")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("int").alias("n_docs"),
        )
        .where(F.col("n_occurrences") > 1)
    )


# Lloyd's k-means is a fixpoint loop, but with a FIXED seed (init = k
# smallest vec_ids) and a FIXED iteration count it is oracle-able the same
# way graph_pagerank is: unroll each iteration as a CTE pair — assignment
# (argmax cosine, ties to the smallest cell_id, zero-norm vectors
# excluded) and centroid update (element-wise mean of the raw assigned
# vectors; empty cells keep their previous centroid via COALESCE). The
# final SELECT replays `assign_cells` (nprobe=1) against the trained
# centroids and histograms cell occupancy. Tie-flip risk is float-noise
# only (both sides compute double-precision cosines on the same
# float32-cast values); verified bit-identical at sf0.01 AND sf0.1.
_KMEANS_ITER = """
    s{t} AS (
      SELECT z.vec_id, z.e, z.nrm, c.cell_id,
             list_sum(list_transform(range(1, len(z.e) + 1),
                      i -> z.e[i] * c.c[i]))
               / (z.nrm * sqrt(list_sum(list_transform(c.c, x -> x * x)))) AS sim
      FROM nz z CROSS JOIN c{p} c
    ),
    a{t} AS (
      SELECT vec_id, e, cell_id FROM (
        SELECT vec_id, e, cell_id,
               row_number() OVER (PARTITION BY vec_id
                    ORDER BY sim DESC, cell_id) AS r
        FROM s{t}) WHERE r = 1
    ),
    m{t} AS (
      SELECT cell_id, list(mx ORDER BY i) AS c FROM (
        SELECT cell_id, i, avg(x) AS mx FROM (
          SELECT cell_id, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS i
          FROM a{t}
        ) GROUP BY cell_id, i
      ) GROUP BY cell_id
    ),
    c{t} AS (
      SELECT p.cell_id, COALESCE(m{t}.c, p.c) AS c
      FROM c{p} p LEFT JOIN m{t} ON p.cell_id = m{t}.cell_id
    )"""

_KMEANS_ORACLE = (
    f"""
    WITH {_DUCK_VECS},
    nz AS (SELECT vec_id, e, nrm FROM n WHERE nrm > 0),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell_id,
             e AS c
      FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)
    ),"""
    + ",".join(_KMEANS_ITER.format(t=t, p=t - 1) for t in (1, 2, 3))
    + """,
    sf AS (
      SELECT z.vec_id, c.cell_id,
             list_sum(list_transform(range(1, len(z.e) + 1),
                      i -> z.e[i] * c.c[i]))
               / (z.nrm * sqrt(list_sum(list_transform(c.c, x -> x * x)))) AS sim
      FROM nz z CROSS JOIN c3 c
    ),
    af AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id
                    ORDER BY sim DESC, cell_id) AS r
        FROM sf) WHERE r = 1
    )
    SELECT CAST(cell_id AS INTEGER) AS cell_id,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM af GROUP BY cell_id ORDER BY cell_id
    """
)


@query(
    "kmeans_train_cells",
    oracle=_KMEANS_ORACLE,
    tags=("similarity", "ml"),
)
def kmeans_train_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer training as a first-class pipeline step:
    deterministic Lloyd's k-means (init = k smallest vec_ids, cosine
    assignment, 3 iterations) over the embeddings table, then the cell
    occupancy histogram a capacity planner reads (skewed cells = raise k
    or salt). Each iteration is one map-side-combine Arrow pass — the
    driver reduces k x n_batches partial sums, never vectors; no shuffle
    at any point (`operators/similarity.py:307`). Oracle: the fixed-seed
    Lloyd loop unrolled as 3 CTE iterations (the graph_pagerank recipe),
    so this entry is hash-compared like every other — no exemption."""
    from spark_hbase_connector_spark.operators.similarity import (
        assign_cells,
        train_centroids,
    )

    e = load(spark, sf_dir, "embeddings")
    cents = train_centroids(e, k=8, iters=3)
    assigned = assign_cells(e, cents, nprobe=1)
    return (
        assigned.groupBy("cell_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .select(F.col("cell_id").cast("int").alias("cell_id"), "n_vectors")
    )


@query(
    "corpus_stop_shingles",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    post AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    df AS (SELECT s, count(*) AS doc_freq FROM post GROUP BY s)
    SELECT s, CAST(doc_freq AS INTEGER) AS doc_freq, rnk FROM (
      SELECT s, doc_freq,
             CAST(row_number() OVER (ORDER BY doc_freq DESC, s) AS INTEGER) AS rnk
      FROM df
    ) WHERE rnk <= 20
    """,
    tags=("dedup", "text", "analytics"),
)
def corpus_stop_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-shingle mining: the 20 highest document-frequency word 3-grams.
    These are the shingles whose posting lists would drive the Σdf²
    candidate blow-up of a plain inverted-index pair join, and the ones
    the rarest-first prefix joins keep out of their prefixes (SCALE.md);
    a curation pipeline mines them to see its boilerplate. One Arrow
    shingling pass (each shingle counted once per doc), one
    partial-aggregated groupBy, and a top-k over the df relation
    (shingle-cardinality, not corpus) — the final global sort ranks only
    rows that survive, and at 100 TB a min-df filter keeps that relation
    sketch-sized."""
    from spark_hbase_connector_spark.operators.dedup import shingle_postings
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    post = shingle_postings(d, "text", "doc_id", w=3)
    df_rel = post.groupBy("s").agg(F.count(F.lit(1)).cast("int").alias("doc_freq"))
    w = W.orderBy(F.col("doc_freq").desc(), "s")
    return (
        df_rel.select("s", "doc_freq", F.row_number().over(w).cast("int").alias("rnk"))
        .where(F.col("rnk") <= 20)
    )


@query(
    "pipeline_export_shards",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    gated AS (SELECT * FROM t WHERE n_tokens BETWEEN 20 AND 1000),
    keep AS (
      SELECT doc_id, n_tokens FROM (
        SELECT doc_id, n_tokens,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ),
    pre AS (
      SELECT doc_id, n_tokens,
             COALESCE(sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM keep
    )
    SELECT CAST(prefix // 20000 AS INTEGER) AS shard_id,
           CAST(count(*) AS INTEGER) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM pre GROUP BY 1
    """,
    tags=("pipeline", "export"),
)
def pipeline_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-of-pipeline training export: quality-gate (20-1000 tokens)
    -> exact dedup keep-first -> token-budgeted shard assignment (20k
    tokens/shard) in doc_id order, reported as per-shard manifests
    (doc count, token total, doc-id range) — what a dataloader actually
    consumes.

    Shard assignment needs the EXCLUSIVE global prefix sum of token
    counts; `assign_prefix_sums` (operators/ids.py) computes it with
    per-bucket parallel windows + broadcast cumulative bucket totals —
    one corpus shuffle, no global sort, same scale shape as
    `assign_contiguous_ids`. Dedup is one hash shuffle on md5(text); the
    final groupBy collapses to shard cardinality."""
    from pyspark.sql import Window as W

    from spark_hbase_connector_spark.operators.ids import assign_prefix_sums

    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "text", F.size(F.split("text", " ")).alias("n_tokens")
    ).where(F.col("n_tokens").between(20, 1000))
    w_dup = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    keep = (
        t.withColumn("__rn", F.row_number().over(w_dup))
        .where(F.col("__rn") == 1)
        .select("doc_id", "n_tokens")
    )
    pre = assign_prefix_sums(keep, key="doc_id", value="n_tokens", bucket_width=64)
    return (
        pre.groupBy((F.col("prefix") / 20000).cast("int").alias("shard_id"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "approx_heavy_hitters_qa",
    oracle="""
    WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
               FROM events GROUP BY 1),
    t AS (SELECT CAST(sum(n_exact) AS BIGINT) AS tot FROM c)
    SELECT event_type, n_exact, true AS in_sketch
    FROM c, t WHERE n_exact * 1.0 / tot > 0.15
    """,
    tags=("sketch", "agg", "qa"),
)
def approx_heavy_hitters_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters sketch QA gate, the frequent-items sibling of
    `approx_distinct_qa`: single-pass `freqItems` (Karp-Papadimitriou-
    Shenker misra-gries style, fixed-size state, map-side merged) next to
    the exact frequency computation. The sketch guarantees a SUPERSET of
    every item with frequency > support, so each exact heavy hitter must
    appear in it — the emitted flag. The sketch relation is a single
    O(1/support)-sized row joined in lazily (broadcast), so building this
    DataFrame runs NO job — the registry's plan-only consumers (plan
    hygiene, plan audit) stay plan-only."""
    e = load(spark, sf_dir, "events")
    support = 0.15
    sketch = e.stat.freqItems(["event_type"], support)  # lazy 1-row relation
    c = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    tot = c.agg(F.sum("n_exact").alias("tot"))
    return (
        c.crossJoin(F.broadcast(tot))
        .where(F.col("n_exact") * 1.0 / F.col("tot") > support)
        .crossJoin(F.broadcast(sketch))
        .select(
            "event_type",
            "n_exact",
            F.array_contains(F.col("event_type_freqItems"), F.col("event_type")).alias(
                "in_sketch"
            ),
        )
    )


@query(
    "embedding_quantize_qa",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    mm AS (
      SELECT vec_id, v,
             list_aggregate(v, 'min') AS mn,
             list_aggregate(v, 'max') AS mx
      FROM e
    ),
    q AS (
      SELECT vec_id, v, mn,
             CASE WHEN mx > mn THEN (mx - mn) / 255 ELSE 1.0 END AS sc
      FROM mm
    )
    SELECT vec_id,
           floor(list_aggregate(list_transform(v, x ->
             abs(x - (mn + floor((x - mn) / sc + 0.5) * sc))), 'max')
             * 10000 + 0.5) / 10000 AS max_abs_err,
           list_aggregate(list_transform(v, x ->
             abs(x - (mn + floor((x - mn) / sc + 0.5) * sc))), 'max')
             <= sc * 0.5000001 AS within_half_step
    FROM q
    """,
    tags=("similarity", "quantize", "qa"),
)
def embedding_quantize_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization QA gate: per vector, quantize to 256
    levels over its own [min, max] range, reconstruct, and emit the max
    absolute reconstruction error plus the within-half-step acceptance
    flag (the error bound scalar quantization guarantees). This is the
    memory-scale path for ANN at 100 TB — 4x smaller vectors with a
    certified error bound; the gate is what a pipeline runs before
    switching the index to quantized storage. One Arrow pass (numpy,
    float64 — matching the oracle's explicit DOUBLE lambda arithmetic
    op-for-op); map-only, zero shuffles, payload never leaves the
    worker."""
    import math

    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")

    def gen(batches):
        for pdf in batches:
            ids, errs, flags = [], [], []
            for i, emb in zip(pdf["vec_id"], pdf["embedding"]):
                v = np.asarray(emb, dtype=np.float64)
                if v.size == 0:
                    continue
                mn, mx = v.min(), v.max()
                sc = (mx - mn) / 255 if mx > mn else 1.0
                code = np.floor((v - mn) / sc + 0.5)
                err = float(np.abs(v - (mn + code * sc)).max())
                ids.append(i)
                errs.append(math.floor(err * 10000 + 0.5) / 10000)
                flags.append(bool(err <= sc * 0.5000001))
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "max_abs_err": pd.array(errs, dtype="Float64"),
                    "within_half_step": pd.array(flags, dtype="boolean"),
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        gen, schema="vec_id long, max_abs_err double, within_half_step boolean"
    )


@query(
    "ann_recall_quantized",
    oracle=f"""
    WITH {_DUCK_VECS},
    mm AS (
      SELECT vec_id, e,
             list_aggregate(e, 'min') AS mn,
             CASE WHEN list_aggregate(e, 'max') > list_aggregate(e, 'min')
                  THEN (list_aggregate(e, 'max') - list_aggregate(e, 'min')) / 255
                  ELSE 1.0 END AS sc
      FROM n
    ),
    r AS (
      SELECT vec_id,
             list_transform(e, x -> mn + floor((x - mn) / sc + 0.5) * sc) AS e2
      FROM mm
    ),
    rn AS (
      SELECT vec_id, e2,
             sqrt(list_sum(list_transform(e2, x -> x * x))) AS nrm2
      FROM r
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(range(1, len(q.e) + 1),
                          i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) DESC,
                 c.vec_id) AS rank
        FROM n q JOIN n c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10) WHERE rank <= 5
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(range(1, len(q.e2) + 1),
                          i -> q.e2[i] * c.e2[i])) / (q.nrm2 * c.nrm2) DESC,
                 c.vec_id) AS rank
        FROM rn q JOIN rn c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10) WHERE rank <= 5
    ),
    hits AS (
      SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM exact e JOIN approx a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      GROUP BY 1
    )
    SELECT q.query_id,
           coalesce(h.n_hits, 0) * 1.0 / 5 AS recall_at_5,
           coalesce(h.n_hits, 0) * 1.0 / 5 >= 0.6 AS acceptable
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN hits h ON q.query_id = h.query_id
    """,
    tags=("similarity", "ann", "quantize", "eval"),
)
def ann_recall_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of brute-force search over int8-QUANTIZED vectors against
    the exact float search — the evaluation that pairs with
    `embedding_quantize_qa`: the error bound certifies per-element
    fidelity, this gate certifies the thing that matters downstream
    (neighbor ranking survival). Reconstruction happens in one Arrow pass
    (float64, op-for-op the oracle's DOUBLE lambda); both searches are
    the broadcast-query matmul plan of `ann_topk_cosine`."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")

    def gen(batches):
        for pdf in batches:
            ids, outs = [], []
            for i, emb in zip(pdf["vec_id"], pdf["embedding"]):
                v = np.asarray(emb, dtype=np.float64)
                if v.size == 0:
                    continue
                mn, mx = v.min(), v.max()
                sc = (mx - mn) / 255 if mx > mn else 1.0
                recon = mn + np.floor((v - mn) / sc + 0.5) * sc
                ids.append(i)
                outs.append(recon.tolist())
            yield pd.DataFrame({"vec_id": ids, "embedding": outs})

    recon = e.select("vec_id", "embedding").mapInPandas(
        gen, schema="vec_id long, embedding array<double>"
    ).persist()
    q_exact = e.where(F.col("vec_id") < 10)
    q_recon = recon.where(F.col("vec_id") < 10)
    exact = brute_force_topk(q_exact, e, k=5).select("query_id", "neighbor_id")
    approx = brute_force_topk(q_recon, recon, k=5).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    recall = F.coalesce(F.col("n_hits"), F.lit(0)) * 1.0 / 5
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            recall.alias("recall_at_5"),
            (recall >= 0.6).alias("acceptable"),
        )
    )


@query(
    "ann_recall_truncated",
    oracle=f"""
    WITH {_DUCK_VECS},
    tr AS (
      SELECT vec_id, e[1:32] AS e2,
             sqrt(list_sum(list_transform(e[1:32], x -> x * x))) AS nrm2
      FROM v
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(range(1, len(q.e) + 1),
                          i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) DESC,
                 c.vec_id) AS rank
        FROM n q JOIN n c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10) WHERE rank <= 5
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(range(1, 33),
                          i -> q.e2[i] * c.e2[i])) / (q.nrm2 * c.nrm2) DESC,
                 c.vec_id) AS rank
        FROM tr q JOIN tr c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10) WHERE rank <= 5
    ),
    hits AS (
      SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM exact e JOIN approx a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      GROUP BY 1
    )
    SELECT q.query_id,
           coalesce(h.n_hits, 0) * 1.0 / 5 AS recall_at_5,
           coalesce(h.n_hits, 0) * 1.0 / 5 >= 0.4 AS acceptable
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN hits h ON q.query_id = h.query_id
    """,
    tags=("similarity", "ann", "truncation", "eval"),
)
def ann_recall_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of search over HALF-DIMENSION prefix-truncated vectors
    (the Matryoshka-representation serving trick: store/search d/2 of the
    dims, halve index bytes and matmul FLOPs) against exact full-dim
    search. Truncation is a pure JVM ``slice`` — no Python stage at all;
    cosine renormalization is implicit (both searches normalize their own
    vectors). Completes the embedding-compression QA family:
    `embedding_quantize_qa`/`ann_recall_quantized` certify the
    precision-reduction axis, this certifies the dimension-reduction axis
    — at 100 TB the two compose (PQ = both). Note the honest gate: on
    RANDOM synthetic embeddings half the dims carry half the signal, so
    the bar is recall >= 0.4 per query — the entry's value is the
    measurement being exact and cheap, not a pretrained-embedding claim."""
    e = load(spark, sf_dir, "embeddings")
    trunc = e.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    q_exact = e.where(F.col("vec_id") < 10)
    q_trunc = trunc.where(F.col("vec_id") < 10)
    exact = brute_force_topk(q_exact, e, k=5).select("query_id", "neighbor_id")
    approx = brute_force_topk(q_trunc, trunc, k=5).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    recall = F.coalesce(F.col("n_hits"), F.lit(0)) * 1.0 / 5
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            recall.alias("recall_at_5"),
            (recall >= 0.4).alias("acceptable"),
        )
    )


@query(
    "pipeline_chunk_search",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    ex AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, len(toks) - 1, 24)) AS start
      FROM t
    ),
    ch AS (
      SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_id,
             toks[start + 1 : start + 32] AS ctoks
      FROM ex
    ),
    posts AS (SELECT doc_id, chunk_id, unnest(ctoks) AS term FROM ch),
    tf AS (
      SELECT doc_id, chunk_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM posts WHERE term IN ('scan', 'join')
      GROUP BY 1, 2, 3
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    nch AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks FROM ch)
    SELECT t.doc_id, t.chunk_id,
           round(sum(t.tf * ln(n_chunks * 1.0 / df)), 4) AS score
    FROM tf t JOIN idf USING (term) CROSS JOIN nch
    GROUP BY 1, 2
    HAVING count(*) = 2
    ORDER BY score DESC, doc_id, chunk_id LIMIT 10
    """,
    tags=("pipeline", "chunking", "search"),
)
def pipeline_chunk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage retrieval composition — the RAG indexing path end-to-end in
    one plan: sliding-window chunking (32/24, as `chunk_sliding_windows`)
    -> per-chunk postings for the query terms only -> TF-IDF at CHUNK
    granularity -> conjunctive intersection via grouped aggregation ->
    deterministic top-10. Same scale properties as its parts: the term
    filter lands under the explode so posting lists are query-term-sized,
    df and the chunk count are scalar-sized, and the top-10 is
    TakeOrdered — no global sort."""
    d = load(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents_chunksearch_v")
    return spark.sql(
        """
        WITH t AS (
          SELECT doc_id, split(text, ' ') AS toks FROM documents_chunksearch_v
        ),
        ex AS (
          SELECT doc_id, toks,
                 explode(sequence(0, size(toks) - 1, 24)) AS start
          FROM t
        ),
        ch AS (
          SELECT doc_id, CAST(start div 24 AS BIGINT) AS chunk_id,
                 slice(toks, start + 1, 32) AS ctoks
          FROM ex
        ),
        posts AS (
          SELECT doc_id, chunk_id, explode(ctoks) AS term FROM ch
        ),
        tf AS (
          SELECT doc_id, chunk_id, term, count(*) AS tf
          FROM posts WHERE term IN ('scan', 'join')
          GROUP BY 1, 2, 3
        ),
        idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
        SELECT t.doc_id, t.chunk_id,
               round(sum(t.tf * ln(
                 (SELECT count(*) FROM (SELECT doc_id, explode(sequence(0, size(split(text, ' ')) - 1, 24)) FROM documents_chunksearch_v)) * 1.0 / i.df)), 4)
                 AS score
        FROM tf t JOIN idf i USING (term)
        GROUP BY 1, 2
        HAVING count(*) = 2
        ORDER BY score DESC, doc_id, chunk_id LIMIT 10
        """
    )


@query(
    "dedup_incremental_neardup",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    post AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    sizes AS (SELECT doc_id, len(shs) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS i
      FROM post a
      JOIN post b ON a.s = b.s
      JOIN documents da ON da.doc_id = a.doc_id
      JOIN documents db ON db.doc_id = b.doc_id
      WHERE da.source = 'src0' AND db.source <> 'src0'
      GROUP BY 1, 2
    )
    SELECT new_id, corpus_id,
           round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON new_id = sa.doc_id
    JOIN sizes sb ON corpus_id = sb.doc_id
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.85
    """,
    tags=("dedup", "lsh", "incremental"),
)
def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: new-batch documents (source src0) within
    Jaccard >= 0.85 of any CORPUS document (all other sources), via
    delta-vs-corpus LSH — the fuzzy sibling of
    `dedup_incremental_fingerprint` and the production shape for
    continuous ingest (the corpus is never self-compared; candidates are
    delta-sized). The oracle is the exact cross-partition Jaccard join."""
    from spark_hbase_connector_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
    )

    d = load(spark, sf_dir, "documents")
    new = d.where(F.col("source") == "src0")
    corpus = d.where(F.col("source") != "src0")
    return minhash_lsh_pairs_incremental(new, corpus, "text", "doc_id", threshold=0.85)


@query(
    "multimodal_payload_dedup",
    oracle="""
    WITH h AS (SELECT doc_id, md5(text) AS payload_hash FROM documents)
    SELECT payload_hash, min(doc_id) AS keep_id, count(*) AS copies
    FROM h GROUP BY payload_hash
    ORDER BY keep_id
    """,
    tags=("multimodal", "dedup"),
)
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-exact media dedup: hash the BINARY payload (not a text
    rendering) and keep the lowest id per digest — the first dedup pass
    of any image/audio corpus (identical files dominate crawled media).
    The md5 runs JVM-side on the binary column during the scan, so only
    32-char digests shuffle, never payload bytes — at 100 TB that is the
    entire cost model (the shuffle is digest-sized regardless of asset
    size). The oracle hashes the identical bytes (payloads are the UTF-8
    text in this harness, `attach_payload`)."""
    from spark_hbase_connector_spark.operators.multimodal import attach_payload

    d = load(spark, sf_dir, "documents")
    assets = attach_payload(d, "text", "doc_id")
    return (
        assets.select("id", F.md5("payload").alias("payload_hash"))
        .groupBy("payload_hash")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("copies"))
        .orderBy("keep_id")
    )


@query(
    "search_hybrid_rrf",
    oracle=f"""
    WITH {_DUCK_VECS},
    q AS (SELECT e, nrm FROM n WHERE vec_id = 0),
    vscore AS (
      SELECT c.vec_id AS doc_id,
             list_sum(list_transform(range(1, len(q.e) + 1),
                      i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS vs
      FROM n c, q WHERE c.vec_id <> 0
    ),
    vrank AS (
      SELECT doc_id, vec_rank FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY vs DESC, doc_id) AS INTEGER)
                 AS vec_rank
        FROM vscore)
      WHERE vec_rank <= 100
    ),
    posts AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM posts WHERE term IN ('scan', 'join')
      GROUP BY doc_id, term
    ),
    idf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    lex AS (
      SELECT t.doc_id, sum(t.tf * ln(nn.n_docs * 1.0 / i.df)) AS ls
      FROM tf t JOIN idf i USING (term) CROSS JOIN nn
      GROUP BY t.doc_id
      HAVING count(*) = 2
    ),
    ltop AS (SELECT doc_id, ls FROM lex ORDER BY ls DESC, doc_id LIMIT 100),
    lrank AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY ls DESC, doc_id) AS INTEGER)
               AS lex_rank
      FROM ltop
    ),
    fused AS (
      SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
             l.lex_rank, v.vec_rank,
             coalesce(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0)
               + coalesce(CAST(1 AS DOUBLE) / (60 + v.vec_rank), 0) AS rrf
      FROM lrank l FULL JOIN vrank v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank, round(rrf, 4) AS rrf_score
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    tags=("text", "search", "similarity", "pipeline"),
    bench=True,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the standard RAG
    serving shape: a lexical leg (conjunctive TF-IDF over the inverted
    index, as `search_ranked_conjunctive`) and a vector leg (exact cosine
    top-100 for the query embedding, as `ann_topk_cosine`) fused by
    RRF(k=60): score = sum over legs of 1/(60 + rank), missing leg
    contributes 0; top-10 by (rrf DESC, doc_id).

    Determinism across engines: both legs rank on floats, but every
    ORDER/cut boundary is safe — exact score ties (same tf combination /
    identical vectors) break on doc_id, and distinct scores differ by
    far more than 1 ulp (lexical scores are small-integer combinations of
    two logs), so both engines sort identically. The fused rrf is
    computed from INTEGER ranks only (1.0/(60+r) is exact IEEE division,
    summed in a fixed lex-then-vec order), hence bit-identical across
    engines before the display rounding — the top-10 cut is decided on
    those identical bits.

    Scale shape: the lexical leg is `search_ranked_conjunctive`'s plan
    (posting lists built only for query terms, df/corpus-count
    scalar-sized, ONE corpus shuffle) cut to its top-100 via TakeOrdered
    — the rank window then sorts 100 rows, never the full match set. The
    vector leg broadcasts the single query vector and per-batch-top-k's
    the corpus scan (`brute_force_topk`; swap in `ivf_topk` for the
    sublinear path at 100 TB). Fusion joins two <=100-row lists."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    vec = brute_force_topk(e.where(F.col("vec_id") == 0), e, k=100)
    vrank = vec.select(
        F.col("neighbor_id").alias("v_doc"), F.col("rank").alias("vec_rank")
    )
    # r10: the SQL-CTE formulation planned the tf subtree twice (tf feeds
    # both idf and the scoring join — two full document scans + explodes
    # in the before-plan); tf is tiny (docs x <=2 query terms), so
    # persist it and aggregate once. Arithmetic is unchanged bit-for-bit:
    # ln(n*1.0/df) is the same double division, and each doc's sum has
    # exactly 2 addends (HAVING count = 2), so accumulation order cannot
    # change the value.
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term").isin("scan", "join"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = float(d.count())
    lex_scored = (
        tf.join(F.broadcast(idf), "term")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("tf") * F.log(F.lit(n_docs) / F.col("df"))
            ).alias("ls"),
            F.count(F.lit(1)).alias("__nt"),
        )
        .where(F.col("__nt") == 2)
        .select("doc_id", "ls")
    )
    ltop = lex_scored.orderBy(F.desc("ls"), F.asc("doc_id")).limit(100)
    from pyspark.sql import Window

    w_lex = Window.orderBy(F.desc("ls"), F.asc("doc_id"))
    lex = ltop.select(
        "doc_id", F.row_number().over(w_lex).cast("int").alias("lex_rank")
    )
    fused = lex.join(vrank, lex["doc_id"] == vrank["v_doc"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("vec_rank")), F.lit(0.0))
    return (
        fused.select(
            F.coalesce(F.col("doc_id"), F.col("v_doc")).alias("doc_id"),
            "lex_rank",
            "vec_rank",
            rrf.alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round("rrf", 4).alias("rrf_score"),
        )
    )


@query(
    "search_bm25_topk",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x = 'scan'))
               AS tf_scan,
             len(list_filter(string_split(text, ' '), x -> x = 'join'))
               AS tf_join,
             len(string_split(text, ' ')) AS dl
      FROM documents
    ),
    s AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             sum(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS df_scan,
             sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join
      FROM d
    ),
    scored AS (
      SELECT d.doc_id,
             CASE WHEN d.tf_scan > 0 THEN
               ln(1.0 + (s.n_docs - s.df_scan + 0.5) / (s.df_scan + 0.5))
                 * (d.tf_scan * 2.2)
                 / (d.tf_scan + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
             ELSE 0.0 END
             + CASE WHEN d.tf_join > 0 THEN
               ln(1.0 + (s.n_docs - s.df_join + 0.5) / (s.df_join + 0.5))
                 * (d.tf_join * 2.2)
                 / (d.tf_join + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
             ELSE 0.0 END AS bm25
      FROM d CROSS JOIN s
      WHERE d.tf_scan > 0 OR d.tf_join > 0
    )
    SELECT doc_id, round(bm25 * 10000) / 10000 AS bm25_score
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    tags=("text", "search"),
    bench=True,
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 (Okapi, Lucene idf; k1=1.2, b=0.75) for the disjunctive
    query {scan, join} — the standard lexical ranker next to the TF-IDF
    conjunctive entry and the RRF fusion entry.

    Spark-first plan: for a FIXED query there is no explode and no
    posting-list shuffle at all — per-document tf and dl are vectorized
    array expressions inside the scan projection
    (`size(filter(split(..)))`, whole-stage codegen), the corpus stats
    (N, avgdl, df per term) collapse to ONE single-row partial-aggregated
    pass, and that row is broadcast back over the scoring scan (the
    single-row BroadcastNestedLoopJoin allow-listed in plan hygiene —
    the same shape as graph_pagerank's N broadcast). Top-10 is
    TakeOrdered (per-partition heaps, no global sort). Two corpus scans
    total, zero corpus-sized shuffles at any scale factor.

    Cross-engine determinism: tf/dl/df/N are exact integers; avgdl is one
    exact BIGINT sum cast once to double; each per-doc score is the SAME
    IEEE expression tree evaluated on those identical inputs in both
    engines, and the two term contributions are summed pairwise
    (addition of two doubles is order-free). The one non-guaranteed step
    is ln(): neither java.lang.Math.log nor libm is correctly rounded,
    so the idf values may disagree by ~1 ulp between engines — in
    practice they agree, but the guarantee is ~1-ulp agreement, not bit
    identity. The guards that make the entry deterministic anyway: exact
    score ties (identical tf/dl combinations) break on doc_id, distinct
    scores at the LIMIT 10 boundary differ by far more than an idf ulp
    on this corpus, and display rounding uses the round(x*10000)/10000
    recipe (CLAUDE.md)."""
    d = load(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents_bm25_v")
    # r10: the per-doc (tf_scan, tf_join, dl) relation fed BOTH the
    # corpus-stats aggregate and the scoring projection — Catalyst
    # planned the CTE twice, so the corpus text was scanned AND
    # re-tokenized twice. Persist the doc_id + 3-ints relation (tiny at
    # any scale) so the split/filter projections run once per document.
    per_doc = spark.sql(
        """
        SELECT doc_id,
               size(filter(split(text, ' '), x -> x = 'scan')) AS tf_scan,
               size(filter(split(text, ' '), x -> x = 'join')) AS tf_join,
               size(split(text, ' ')) AS dl
        FROM documents_bm25_v
        """
    ).persist()
    per_doc.createOrReplaceTempView("bm25_per_doc_v")
    return spark.sql(
        """
        WITH d AS (SELECT * FROM bm25_per_doc_v),
        s AS (
          SELECT count(*) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                 sum(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS df_scan,
                 sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join
          FROM d
        ),
        scored AS (
          SELECT d.doc_id,
                 CASE WHEN d.tf_scan > 0 THEN
                   ln(1.0 + (s.n_docs - s.df_scan + 0.5) / (s.df_scan + 0.5))
                     * (d.tf_scan * 2.2)
                     / (d.tf_scan + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
                 ELSE 0.0 END
                 + CASE WHEN d.tf_join > 0 THEN
                   ln(1.0 + (s.n_docs - s.df_join + 0.5) / (s.df_join + 0.5))
                     * (d.tf_join * 2.2)
                     / (d.tf_join + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
                 ELSE 0.0 END AS bm25
          FROM d CROSS JOIN s
          WHERE d.tf_scan > 0 OR d.tf_join > 0
        )
        SELECT doc_id, round(bm25 * 10000) / 10000 AS bm25_score
        FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
        """
    )


@query(
    "search_phrase_positions",
    oracle="""
    WITH s AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    posts AS (
      SELECT doc_id, unnest(toks) AS term,
             unnest(range(0, len(toks))) AS pos
      FROM s
    ),
    qp AS (
      SELECT doc_id, term, pos FROM posts WHERE term IN ('scan', 'join')
    )
    SELECT a.doc_id,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(a.pos) AS BIGINT) AS first_pos
    FROM qp a JOIN qp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.term = 'scan' AND b.term = 'join'
    GROUP BY a.doc_id
    """,
    tags=("text", "search", "join"),
    bench=True,
)
def search_phrase_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("scan join", adjacent tokens) via POSITIONAL
    postings — the inverted-index primitive phrase/proximity queries run
    on: per-term (doc_id, position) lists joined on doc_id + adjacent
    position, counting occurrences and the first match offset per doc.

    Scale shape: postings are filtered to the query terms BEFORE the
    join, so the self-join input is query-term-sized, never
    corpus-sized; the adjacency condition is a pure equi-join
    (doc_id, pos_a + 1 = pos_b — Catalyst extracts the arithmetic key,
    no BNLJ/cartesian), and the per-doc aggregate partial-aggregates
    map-side. On a real deployment the positional index would be
    materialized and bucketed by term (see secondary_index_maintain),
    turning the two scan+explode legs into two slim index lookups;
    deriving it inline keeps the entry self-contained. All outputs are
    integers — zero cross-engine float risk."""
    d = load(spark, sf_dir, "documents")
    # persisted (r10): both phrase legs derive from toks, and without the
    # persist Catalyst planned the scan+posexplode subtree once per leg —
    # two full corpus tokenizations for a query-term-sized relation
    toks = (
        d.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
        )
        .where(F.col("term").isin("scan", "join"))
        .persist()
    )
    a = toks.where(F.col("term") == "scan").select("doc_id", F.col("pos").alias("pos_a"))
    b = toks.where(F.col("term") == "join").select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    pairs = a.join(
        b, (a["doc_id"] == b["doc_b"]) & (a["pos_a"] + F.lit(1) == b["pos_b"])
    )
    return pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("pos_a").cast("bigint").alias("first_pos"),
    )


# MMR is a greedy fixpoint-free loop with a FIXED candidate pool (top-100)
# and a FIXED selection count (10), so it is oracle-able the same way the
# kmeans entry is: unroll each greedy step as a CTE pair — score the
# remaining candidates 0.7*sim(q,c) - 0.3*max(sim(c, s) for selected s),
# pick the argmax (ties to the smallest doc_id), append to the selection.
_MMR_STEP = """
    s{t} AS MATERIALIZED (
      SELECT c.doc_id, c.sq, 0.7 * c.sq - 0.3 * max(p.s) AS mmr
      FROM cand c JOIN pair p ON p.ia = c.doc_id
        AND p.ib IN (SELECT doc_id FROM sel{p})
      WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{p})
      GROUP BY c.doc_id, c.sq
      ORDER BY mmr DESC, c.doc_id LIMIT 1
    ),
    sel{t} AS MATERIALIZED (
      SELECT * FROM sel{p}
      UNION ALL SELECT doc_id, {t} AS mmr_rank, mmr FROM s{t}
    )"""

_MMR_ORACLE = (
    """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
          FROM v),
    q AS (SELECT e, nrm FROM n WHERE vec_id = 0),
    simq AS (
      SELECT c.vec_id AS doc_id,
             list_sum(list_transform(range(1, len(q.e) + 1),
                      i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS sq,
             c.e AS e, c.nrm AS nrm
      FROM n c, q WHERE c.vec_id <> 0 AND c.nrm > 0
    ),
    cand AS MATERIALIZED (SELECT * FROM simq ORDER BY sq DESC, doc_id LIMIT 100),
    pair AS MATERIALIZED (
      SELECT a.doc_id AS ia, b.doc_id AS ib,
             list_sum(list_transform(range(1, len(a.e) + 1),
                      i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) AS s
      FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
    ),
    s1 AS MATERIALIZED (
      SELECT doc_id, sq, 0.7 * sq AS mmr FROM cand
      ORDER BY mmr DESC, doc_id LIMIT 1
    ),
    sel1 AS MATERIALIZED (SELECT doc_id, 1 AS mmr_rank, mmr FROM s1),"""
    + ",".join(_MMR_STEP.format(t=t, p=t - 1) for t in range(2, 11))
    + """
    SELECT CAST(mmr_rank AS INTEGER) AS mmr_rank, doc_id,
           round(mmr * 10000) / 10000 AS mmr_score
    FROM sel10
    """
)


@query(
    "search_mmr_rerank",
    oracle=_MMR_ORACLE,
    tags=("similarity", "search", "pipeline"),
    bench=True,
)
def search_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversity rerank — the serving-side step
    after candidate retrieval: from the exact cosine top-100 of the query
    (vec_id 0), greedily pick 10 results maximizing
    0.7*sim(query, c) - 0.3*max(sim(c, s)) over already-selected s, so
    near-duplicate hits don't crowd the result page.

    Scale shape: ALL corpus-sized work is the candidate pass —
    `brute_force_topk`'s broadcast-query / per-batch-top-k Arrow matmul
    scan (swap in `ivf_topk` for the sublinear path at 100 TB). The
    rerank itself touches exactly 100 candidate vectors — a bounded
    driver-side numpy loop (the same bounded-collect precedent as the
    BPE top-100 vocab and the broadcast query matrices), because greedy
    MMR over k=100/10 is constant work no matter the corpus size; its
    result re-enters Spark as a 10-row local relation.

    Cross-engine determinism: both engines double-cast the float32
    vectors and evaluate the same 0.7/0.3 expression; argmax ties break
    on doc_id; final scores use the round(x*10000)/10000 recipe applied
    ENGINE-side (Spark round / DuckDB round on the same product double —
    never Python's half-to-even). Every similarity entering the greedy
    loop (query-candidate AND candidate-candidate) is recomputed here
    with DIMENSION-ORDERED accumulation — the same left-to-right fold as
    DuckDB's list_sum — rather than a BLAS matmul, whose blocked/FMA
    accumulation is build-dependent and could flip a sub-ulp argmax
    near-tie that then cascades through every later greedy pick. The one
    residual float dependence on the candidate LEG is top-100 SET
    membership (brute_force_topk's Arrow matmul vs the oracle's
    list_sum), which would need a sub-ulp tie exactly at the rank-100
    boundary. Verified strict at sf0.01/0.1/1/10."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0)
    cands = brute_force_topk(q, e, k=100).select(
        F.col("neighbor_id").alias("doc_id"), F.col("score").alias("sq")
    )
    rows = (
        cands.join(e, cands["doc_id"] == e["vec_id"])
        .select("doc_id", "sq", "embedding")
        .collect()
    )  # bounded: exactly |top-100| rows by construction
    ids = np.array([r["doc_id"] for r in rows])
    C = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    qe = np.asarray(
        q.select("embedding").collect()[0]["embedding"], dtype=np.float64
    )
    # Sequential (dimension-ordered) dot products: each += adds one
    # product to the running sum, so every pair's accumulation order is
    # i ascending — bit-identical to list_sum's fold, no BLAS involved.
    n_c, dim = C.shape
    sumsq = np.zeros(n_c)
    dots_q = np.zeros(n_c)
    dots = np.zeros((n_c, n_c))
    q_ss = 0.0
    for i in range(dim):
        ci = C[:, i]
        sumsq += ci * ci
        q_ss += qe[i] * qe[i]
        dots_q += qe[i] * ci
        dots += np.outer(ci, ci)
    nrm = np.sqrt(sumsq)
    sq = dots_q / (float(np.sqrt(q_ss)) * nrm)
    S = dots / (nrm[:, None] * nrm[None, :])
    selected: list[tuple[int, int, float]] = []
    active = np.ones(len(ids), dtype=bool)
    ms = None  # max similarity to the selected set, per candidate
    for rank in range(1, 11):
        mmr = 0.7 * sq if ms is None else 0.7 * sq - 0.3 * ms
        order = sorted(np.flatnonzero(active), key=lambda i: (-mmr[i], ids[i]))
        best = order[0]
        selected.append((int(ids[best]), rank, float(mmr[best])))
        active[best] = False
        ms = S[:, best].copy() if ms is None else np.maximum(ms, S[:, best])
    out = spark.createDataFrame(
        selected, "doc_id long, mmr_rank int, mmr_raw double"
    )
    return out.select(
        "mmr_rank",
        "doc_id",
        (F.round(F.col("mmr_raw") * 10000) / 10000).alias("mmr_score"),
    )
