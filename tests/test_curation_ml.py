"""Semantic tests for the statistical-curation operators (curation_ml.py).

The differential sweep proves oracle equality; these tests prove the
ALGORITHMIC claims the oracles can't see: the degree-oriented triangle
enumeration equals brute force on an adversarial graph, DSIR weights
actually rank target-domain documents up, and tercile assignment is a
per-language 3-way partition of the corpus.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from spark_hbase_connector_spark.queries import REGISTRY


def test_triangle_census_matches_brute_force(spark, sf_dir):
    """Degree-oriented enumeration == brute force on the real edge set
    (includes the hub-and-tie cases: equal degrees fall back to id order)."""
    row = REGISTRY["graph_triangle_count"].fn(spark, sf_dir).collect()[0]

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.collect_list("l_partkey").alias("ps"))
        .collect()
    )
    from collections import Counter

    support: Counter = Counter()
    for r in baskets:
        for u, v in combinations(sorted(r.ps), 2):
            support[(u, v)] += 1
    edges = {e for e, s in support.items() if s >= 2}
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = sum(
        1
        for u, v in edges
        for w in adj[u] & adj[v]
        if v < w  # count each triangle once: u < v < w with (u,v) an edge
    )
    wedges = sum(len(n) * (len(n) - 1) // 2 for n in adj.values())
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(adj)
    assert row.n_wedges == wedges
    assert row.n_triangles == tri


def test_dsir_prefers_target_language_docs(spark, sf_dir):
    """The top-50 importance-weighted docs should be overwhelmingly from
    the target domain (lang='en') — that is the POINT of DSIR."""
    top = REGISTRY["sample_importance_dsir"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    langs = [r.lang for r in top.join(docs, "doc_id").collect()]
    assert len(langs) == 50
    frac_en = sum(1 for g in langs if g == "en") / len(langs)
    base = docs.where(F.col("lang") == "en").count() / docs.count()
    assert frac_en > base, f"top-50 en fraction {frac_en} not above base {base}"


def test_ccnet_terciles_partition_each_language(spark, sf_dir):
    """Every language splits into 3 near-equal buckets (ntile contract),
    and head ppl <= middle ppl <= tail ppl within each language."""
    out = REGISTRY["corpus_ccnet_buckets"].fn(spark, sf_dir).collect()
    by_lang: dict[str, dict[int, list[float]]] = {}
    for r in out:
        by_lang.setdefault(r.lang, {}).setdefault(r.tercile, []).append(r.ppl)
    for lang, terc in by_lang.items():
        sizes = [len(terc.get(t, [])) for t in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        assert max(terc[1]) <= min(terc[2]), lang
        assert max(terc[2]) <= min(terc[3]), lang


def test_nb_classifier_separates_labeled_slice(spark, sf_dir):
    """Training-set separation: the curated sources should score higher
    on average than the crawl sources (NB is fit on exactly this split,
    so failure means the weights are wired backwards)."""
    out = REGISTRY["text_quality_classifier_nb"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    rows = out.join(docs, "doc_id").collect()
    pos = [r.log_odds for r in rows if r.source in ("src0", "src1", "src2")]
    neg = [r.log_odds for r in rows if r.source not in ("src0", "src1", "src2")]
    assert sum(pos) / len(pos) > sum(neg) / len(neg)


def test_leakage_safe_split_never_splits_a_cluster(spark, sf_dir):
    """The leakage invariant itself: every near-dup pair (the same
    Jaccard>=0.85 graph the entry builds on) lands in ONE split, every
    document is assigned exactly once, and all three splits are
    non-degenerate on the corpus. The pairs come from the brute-force
    Python reference, not from the Spark join the entry itself uses."""
    import pyarrow.parquet as pq

    from shingle_reference import reference_pairs

    out = REGISTRY["split_leakage_safe"].fn(spark, sf_dir).persist()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()
    # one split per cluster
    assert (
        out.groupBy("component")
        .agg(F.count_distinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
        == 0
    )
    # directly: no near-dup pair straddles splits
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    pairs = reference_pairs(
        zip(t["doc_id"].to_pylist(), t["text"].to_pylist()), "jaccard", 0.85
    )
    split = {r.doc_id: r.split for r in out.select("doc_id", "split").collect()}
    assert pairs
    assert [p for p in pairs if split[p[0]] != split[p[1]]] == []
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits == {"train", "val", "test"}
    out.unpersist()
