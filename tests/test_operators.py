"""Unit tests for operators without a SQL oracle (plus asof edge cases)."""

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_hbase_connector_spark.catalogs import load
from spark_hbase_connector_spark.operators.asof import asof_join
from spark_hbase_connector_spark.operators.dedup import (
    shingle_containment_pairs,
    shingle_jaccard_pairs,
    simhash_pairs,
)
from shingle_reference import reference_pairs


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [
            Row(k="a", lts=_ts(10), lid=1),
            Row(k="a", lts=_ts(30), lid=2),
            Row(k="b", lts=_ts(5), lid=3),
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k="a", rts=_ts(0), v=1.0, rid=100),
            Row(k="a", rts=_ts(10), v=2.0, rid=101),  # equal ts -> matches lid=1
            Row(k="a", rts=_ts(20), v=3.0, rid=102),
            Row(k="b", rts=_ts(9), v=9.0, rid=103),  # after left -> no match
        ]
    )
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts", value_cols=["v"], tiebreak="rid"
    )
    got = {r.lid: r.v_asof for r in out.collect()}
    assert got == {1: 2.0, 2: 3.0, 3: None}


def test_asof_join_latest_row_wins_even_if_value_null(spark):
    """Backward as-of attaches the latest right ROW; a NULL value in it must
    come through as NULL, not resurrect an older non-NULL value
    (pd.merge_asof semantics)."""
    left = spark.createDataFrame([Row(k="a", lts=_ts(30), lid=1)])
    right = spark.createDataFrame(
        [
            Row(k="a", rts=_ts(0), v=1.0, rid=100),
            Row(k="a", rts=_ts(20), v=None, rid=101),  # latest row, NULL value
        ]
    )
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts", value_cols=["v"], tiebreak="rid"
    )
    assert out.collect()[0].v_asof is None


def test_asof_join_tiebreak_same_ts(spark):
    left = spark.createDataFrame([Row(k="a", lts=_ts(10), lid=1)])
    right = spark.createDataFrame(
        [
            Row(k="a", rts=_ts(10), v=1.0, rid=1),
            Row(k="a", rts=_ts(10), v=2.0, rid=2),  # higher tiebreak wins
        ]
    )
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts", value_cols=["v"], tiebreak="rid"
    )
    assert out.collect()[0].v_asof == 2.0


def test_simhash_banding_completeness(spark, sf_dir):
    """The 4x16-bit pigeonhole banding must find EXACTLY the same pairs as a
    brute-force all-pairs hamming filter at the guaranteed bound (ham<=3)."""
    from pyspark.sql import functions as F

    from spark_hbase_connector_spark.operators.dedup import simhash_words

    d = load(spark, sf_dir, "documents")
    banded = {
        (r.id1, r.id2, r.hamming)
        for r in simhash_pairs(d, "text", "doc_id", max_hamming=3).collect()
    }
    h = simhash_words(d, "text", "doc_id", 3)
    a = h.select(F.col("id").alias("id1"), F.col("h").alias("h1"))
    b = h.select(F.col("id").alias("id2"), F.col("h").alias("h2"))
    brute = {
        (r.id1, r.id2, r.hamming)
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute


def test_train_centroids_recovers_blobs(spark):
    """k-means (map-side-combine partials, no shuffle) must separate three
    well-spaced synthetic blobs and be deterministic across runs."""
    import numpy as np

    from spark_hbase_connector_spark.operators.similarity import (
        assign_cells,
        train_centroids,
    )

    rng = np.random.default_rng(7)
    centers = np.array([[10.0, 0, 0], [0, 10.0, 0], [0, 0, 10.0]])
    rows = []
    for i in range(90):
        c = i % 3
        v = centers[c] + rng.normal(0, 0.3, 3)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_centroids(df, k=3, iters=4)
    got = {tuple(r) for r in cents.select("cell_id").collect()}
    assert got == {(0,), (1,), (2,)}
    # every blob maps to exactly one cell and cells separate the blobs
    asg = assign_cells(df, cents, nprobe=1).collect()
    by_blob = {}
    for r in asg:
        by_blob.setdefault(r.vec_id % 3, set()).add(r.cell_id)
    assert all(len(cells) == 1 for cells in by_blob.values())
    assert len(set.union(*by_blob.values())) == 3
    # deterministic
    again = train_centroids(df, k=3, iters=4).collect()
    first = cents.collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))


def test_dedup_exact_counts(spark):
    df = spark.createDataFrame(
        [Row(id=1, t="x y z"), Row(id=2, t="x y z"), Row(id=3, t="q")]
    )
    from spark_hbase_connector_spark.operators.dedup import dedup_exact

    got = {(r.id, r.copies) for r in dedup_exact(df, F.col("t"), "id").collect()}
    assert got == {(1, 2), (3, 1)}


def test_connected_components_chain_and_cliques(spark):
    from spark_hbase_connector_spark.operators.graph import connected_components

    # a 7-node path (diameter 6 — needs several fused double-hops), a
    # 3-clique, and an isolated pair
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
             (10, 11), (11, 12), (10, 12),
             (20, 21)]
    df = spark.createDataFrame(edges, ["id1", "id2"])
    got = {(r.id, r.comp) for r in connected_components(df).collect()}
    want = {(i, 1) for i in range(1, 8)}
    want |= {(i, 10) for i in (10, 11, 12)}
    want |= {(20, 20), (21, 20)}
    assert got == want


def test_connected_components_reversed_edge_direction(spark):
    from spark_hbase_connector_spark.operators.graph import connected_components

    # min id on the *dst* side: symmetrization must propagate both ways
    df = spark.createDataFrame([(5, 1), (9, 5)], ["id1", "id2"])
    got = {(r.id, r.comp) for r in connected_components(df).collect()}
    assert got == {(1, 1), (5, 1), (9, 1)}


def test_assign_prefix_sums_matches_global_window(spark):
    from pyspark.sql import Window as W

    from spark_hbase_connector_spark.operators.ids import assign_prefix_sums

    df = spark.createDataFrame(
        [(k, (k * 37) % 11 + 1) for k in range(0, 500, 3)], ["k", "v"]
    )
    got = assign_prefix_sums(df, "k", "v", bucket_width=16)
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, -1)
    want = df.withColumn("prefix", F.coalesce(F.sum("v").over(w), F.lit(0)))
    assert sorted(map(tuple, got.select("k", "v", "prefix").collect())) == sorted(
        map(tuple, want.select("k", "v", "prefix").collect())
    )


def test_duplicated_span_stats_merges_overlapping_shingles(spark):
    """Two docs sharing one contiguous 10-token block: three overlapping
    8-shingle hits per doc must merge into ONE span of exactly 10 tokens
    (interval union, not island-of-consecutive double counting)."""
    from spark_hbase_connector_spark.operators.dedup import duplicated_span_stats

    block = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=block + " xxa xxb xxc"),
            Row(doc_id=2, text="yya yyb " + block),
            Row(doc_id=3, text=" ".join(f"z{i}" for i in range(12))),
        ]
    )
    got = {
        r.id: (r.n_spans, r.dup_tokens)
        for r in duplicated_span_stats(docs, "text", "doc_id", w=8).collect()
    }
    # 10-token shared block -> positions 0..2 (doc1) / 2..4 (doc2), one
    # merged span covering max-min+8 = 10 tokens in each.
    assert got == {1: (1, 10), 2: (1, 10)}


def test_duplicated_span_stats_distant_repeats_stay_separate(spark):
    """Duplicated shingles further apart than one shingle width must be
    reported as separate spans."""
    from spark_hbase_connector_spark.operators.dedup import duplicated_span_stats

    blk_a = " ".join(f"a{i}" for i in range(8))
    blk_b = " ".join(f"b{i}" for i in range(8))
    gap = " ".join(f"g{i}" for i in range(9))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=blk_a + " " + gap + " " + blk_b),
            Row(doc_id=2, text=blk_a + " qq1 qq2 qq3 qq4 qq5 qq6 qq7 qq8 " + blk_b),
        ]
    )
    got = {
        r.id: (r.n_spans, r.dup_tokens)
        for r in duplicated_span_stats(docs, "text", "doc_id", w=8).collect()
    }
    assert got == {1: (2, 16), 2: (2, 16)}


def test_shingle_containment_is_directional(spark):
    """A short doc fully inside a long doc: containment(short in long)=1.0;
    the reverse direction is below threshold and absent."""
    short = "the quick brown fox jumps"
    long = short + " " + " ".join(f"pad{i}" for i in range(20))
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=short), Row(doc_id=2, text=long)]
    )
    rows = shingle_containment_pairs(
        docs, "text", "doc_id", threshold=0.9
    ).collect()
    assert [(r.id1, r.id2, r.containment) for r in rows] == [(1, 2, 1.0)]


def _dense_corpus(first_id: int) -> list[tuple]:
    """~40 seeded (doc_id, text) rows: random walks over 12 words, each
    word with 2 successors, so word 3-grams repeat across many documents
    and pairs overlap densely at every threshold. Seven of them are 3
    tokens long (one shingle)."""
    import random

    rng = random.Random(11)
    vocab = [f"v{i}" for i in range(12)]
    succ = {v: rng.sample(vocab, 2) for v in vocab}
    rows = []
    for k in range(40):
        toks = [rng.choice(vocab)]
        for _ in range(rng.randint(2, 14)):
            toks.append(rng.choice(succ[toks[-1]]))
        rows.append((first_id + k, " ".join(toks)))
    return rows


# NULL text, an empty string and a document shorter than w=3 tokens: no
# shingles, so the reference puts them in no pair.
_NO_SHINGLE_DOCS = [(90, None), (91, ""), (92, "two words")]


def _half_up4(x: float) -> float:
    """Spark's ``round(x, 4)`` on a double (HALF_UP on its decimal form)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def test_containment_prefix_equals_exact(spark):
    """The prefix-filter join must be LOSSLESS: equal to a brute-force
    Python reference, pair set AND scores — including the
    short-doc-inside-long-doc pairs an LSH candidate stage would miss
    (their Jaccard is far below any band threshold), one-shingle
    documents, and thresholds down to 0.1, where a prefix spans almost
    the whole document. Containment is directional: the short doc is
    inside the long one, never the reverse."""
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"pad{i}" for i in range(60))
    fox = "the quick brown fox jumps"
    rows = [
        (1, short),
        (2, long),  # (1 in 2): containment 1.0, tiny Jaccard
        (3, long + " tail"),
        (4, " ".join(f"w{i}" for i in range(40))),
        (5, " ".join(f"w{i}" for i in range(40)) + " x"),
        (6, "unrelated words entirely different content here"),
        (7, fox),
        (8, fox + " " + " ".join(f"fill{i}" for i in range(20))),
        *_NO_SHINGLE_DOCS,
        *_dense_corpus(100),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.9, 0.7, 0.1, 1.0):
        ref = {
            (i1, i2, _half_up4(c))
            for (i1, i2), c in reference_pairs(rows, "containment", t).items()
        }
        got = {
            (r.id1, r.id2, r.containment)
            for r in shingle_containment_pairs(docs, "text", "doc_id", t).collect()
        }
        assert got == ref and (1, 2, 1.0) in got
        assert (7, 8, 1.0) in got
        if t >= 0.7:  # the reverse direction scores 3/23
            assert not any(p[:2] == (8, 7) for p in got)
        assert any(p[0] >= 100 and p[1] >= 100 for p in got)


def test_incremental_neardup_excludes_reingested_self(spark):
    """A document present in BOTH the delta and the corpus (re-ingest)
    must not be reported as a near-duplicate of itself."""
    from spark_hbase_connector_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
    )

    text = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"v{i}" for i in range(30))
    new = spark.createDataFrame(
        [Row(doc_id=1, text=text), Row(doc_id=3, text=text + " tail")]
    )
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text=text), Row(doc_id=2, text=other)]
    )
    rows = minhash_lsh_pairs_incremental(
        new, corpus, "text", "doc_id", threshold=0.85
    ).collect()
    got = {(r.new_id, r.corpus_id) for r in rows}
    assert (1, 1) not in got          # self-pair excluded
    assert (3, 1) in got              # genuine cross near-dup still found


def test_pagerank_two_node_cycle(spark):
    """A<->B cycle: uniform rank 0.5 is the fixpoint, every iteration
    preserves it exactly (rank/deg=0.5 in, 0.15/2 + 0.85*0.5 = 0.5)."""
    from spark_hbase_connector_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    got = {r.id: r.rank for r in pagerank(df, iters=3).collect()}
    assert got.keys() == {1, 2}
    for v in got.values():
        assert abs(v - 0.5) < 1e-12


def test_pagerank_star_hand_computed(spark):
    """3 leaves -> 1 hub, one iteration: N=4, base=0.15/4=0.0375;
    hub receives 3 * (0.25/1) -> 0.0375 + 0.85*0.75 = 0.675,
    leaves receive nothing -> 0.0375."""
    from spark_hbase_connector_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 4), (2, 4), (3, 4)], ["src", "dst"])
    got = {r.id: r.rank for r in pagerank(df, iters=1).collect()}
    assert abs(got[4] - 0.675) < 1e-12
    for leaf in (1, 2, 3):
        assert abs(got[leaf] - 0.0375) < 1e-12


def test_asof_join_forward_hand_computed(spark):
    """left at t=5 attaches the EARLIEST right >= 5 (t=6, not t=9);
    equal timestamps are inclusive; no future row -> NULL."""
    from spark_hbase_connector_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 100, "b"), (2, 7, "c")], ["k", "t", "tag"]
    )
    right = spark.createDataFrame(
        [(1, 6, 60.0), (1, 9, 90.0), (2, 7, 70.0)], ["k", "t", "v"]
    )
    got = {
        r.tag: r.v_asof
        for r in asof_join(
            left, right, on="k", left_ts="t", right_ts="t",
            value_cols=["v"], tiebreak="t", direction="forward",
        ).collect()
    }
    assert got == {"a": 60.0, "b": None, "c": 70.0}


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    """Many tiny flush files -> few target-size files, identical content,
    rowkey order preserved; right-sized files untouched."""
    from spark_hbase_connector_spark.operators.compaction import (
        compact_flush_files,
        plan_compaction,
    )

    d = str(tmp_path / "flush")
    import os

    os.makedirs(d)
    # 8 tiny sorted flush files, contiguous key ranges in name order
    for i in range(8):
        spark.range(i * 10, (i + 1) * 10).toDF("k").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "one"))
        part = next(
            f for f in os.listdir(tmp_path / "one") if f.endswith(".parquet")
        )
        os.replace(str(tmp_path / "one" / part), os.path.join(d, f"{i:05d}.parquet"))

    before = spark.read.parquet(d).orderBy("k").collect()
    groups = plan_compaction(d, target_bytes=4 * 1024)
    assert sum(len(g) for g in groups) == 8 and len(groups) < 8

    stats = compact_flush_files(spark, d, target_bytes=4 * 1024)
    assert stats["files_after"] < stats["files_before"]
    after = spark.read.parquet(d).orderBy("k").collect()
    assert after == before
    # re-running converges: counts are monotone non-increasing (rewritten
    # files compress smaller, so a later pass may merge further), content
    # is invariant, and a fixpoint is reached
    prev = stats["files_after"]
    for _ in range(3):
        s = compact_flush_files(spark, d, target_bytes=4 * 1024)
        assert s["files_after"] <= prev
        if s["groups_rewritten"] == 0:
            break
        prev = s["files_after"]
    else:
        raise AssertionError("compaction did not reach a fixpoint")
    assert spark.read.parquet(d).orderBy("k").collect() == before


def test_major_compact_cells_versions_ttl_tombstones(spark):
    """VERSIONS=2 keeps the two newest per coordinate; TTL drops old
    cells against the explicit now; a tombstone hides everything at or
    before it but not a later re-put (HBase delete semantics)."""
    from spark_hbase_connector_spark.operators.upsert import major_compact_cells

    rows = [
        # key a: 3 versions -> keep ts 30, 20
        (b"a", "d", "x", 10, b"v10", False),
        (b"a", "d", "x", 20, b"v20", False),
        (b"a", "d", "x", 30, b"v30", False),
        # key b: delete at 25 hides 10,20; re-put at 40 survives
        (b"b", "d", "x", 10, b"v10", False),
        (b"b", "d", "x", 20, b"v20", False),
        (b"b", "d", "x", 25, None, True),
        (b"b", "d", "x", 40, b"v40", False),
        # key c: expired by TTL (now=100, ttl=90 -> cutoff 10)
        (b"c", "d", "x", 5, b"old", False),
    ]
    df = spark.createDataFrame(
        rows, "rowkey binary, cf string, qualifier string, ts long, value binary, deleted boolean"
    )
    got = {
        (bytes(r.rowkey), r.ts)
        for r in major_compact_cells(
            df, max_versions=2, ttl_micros=90, now_micros=100,
            tombstone_col="deleted",
        ).collect()
    }
    assert got == {(b"a", 30), (b"a", 20), (b"b", 40)}


def test_major_compact_cells_null_tombstone_is_live(spark):
    """A NULL delete-marker means 'not a tombstone' (changefeeds often set
    the flag only on deletes); NULL-flagged cells must survive both the
    newest-tombstone window and the final filter."""
    from spark_hbase_connector_spark.operators.upsert import major_compact_cells

    rows = [
        (b"a", "d", "x", 10, b"v10", None),   # live, NULL flag
        (b"a", "d", "x", 20, b"v20", None),   # live, NULL flag
        (b"b", "d", "x", 10, b"v10", None),
        (b"b", "d", "x", 25, None, True),     # tombstone hides ts<=25
        (b"b", "d", "x", 40, b"v40", None),   # re-put survives
    ]
    df = spark.createDataFrame(
        rows, "rowkey binary, cf string, qualifier string, ts long, value binary, deleted boolean"
    )
    got = {
        (bytes(r.rowkey), r.ts)
        for r in major_compact_cells(
            df, max_versions=2, tombstone_col="deleted"
        ).collect()
    }
    assert got == {(b"a", 10), (b"a", 20), (b"b", 40)}


def test_expectations_empty_rules_raises(spark):
    import pytest as _pytest

    from spark_hbase_connector_spark.operators.expectations import expect

    with _pytest.raises(ValueError, match="no rules"):
        expect(spark.range(3), [])


def test_expectations_fk_broadcast_opt_in(spark):
    """Default FK join carries no broadcast hint (AQE decides — a
    fact-sized reference must be able to shuffle); broadcast=True forces
    the hint for known-small dimensions."""
    from spark_hbase_connector_spark.operators.expectations import (
        expect,
        foreign_key,
    )

    df = spark.range(10).toDF("id")
    dim = spark.range(8).toDF("k")
    default_plan = expect(df, [foreign_key("id", dim, "k")])._jdf.queryExecution().logical().toString()
    hinted_plan = expect(
        df, [foreign_key("id", dim, "k", broadcast=True)]
    )._jdf.queryExecution().logical().toString()
    assert "broadcast" not in default_plan.lower()
    assert "broadcast" in hinted_plan.lower()
    # both still count the 2 orphans
    for rules in ([foreign_key("id", dim, "k")],
                  [foreign_key("id", dim, "k", broadcast=True)]):
        rep = expect(df, rules).collect()[0]
        assert rep.n_violations == 2 and not rep.passed


def test_expectations_each_rule_fires(spark):
    """Each rule kind must actually count its violations (a gate that
    can't fail is not a gate)."""
    from pyspark.sql import Row

    from spark_hbase_connector_spark.operators.expectations import (
        accepted_values,
        expect,
        foreign_key,
        in_range,
        matches,
        not_null,
        unique,
    )

    df = spark.createDataFrame(
        [
            Row(id=1, v=5.0, tag="A", code="OK"),
            Row(id=1, v=50.0, tag="B", code="bad-code"),  # dup id, v out of range, tag not accepted, code not uppercase
            Row(id=3, v=None, tag="A", code="YES"),       # null v
            Row(id=99, v=1.0, tag="A", code="OK"),        # orphan fk
        ]
    )
    dim = spark.createDataFrame([Row(k=1), Row(k=3)])
    rep = {
        r.rule: (r.n_violations, r.passed)
        for r in expect(
            df,
            [
                not_null("v"),
                in_range("v", 0, 10),
                accepted_values("tag", ["A"]),
                matches("code", "^[A-Z]+$"),
                unique("id"),
                foreign_key("id", dim, "k"),
            ],
        ).collect()
    }
    assert rep["not_null(v)"] == (1, False)
    # NULL fails between() -> counted as violation alongside 50.0
    assert rep["in_range(v,0,10)"] == (2, False)
    assert rep["accepted_values(tag)"] == (1, False)
    assert rep["matches(code)"] == (1, False)
    assert rep["unique(id)"] == (1, False)
    assert rep["foreign_key(id)"] == (1, False)


def _staged_flush_file(spark, tmp_path, lo, hi):
    """One rowkey-sorted flush file of keys [lo, hi), staged outside the
    table directory, as a writer would stage it before its commit."""
    from spark_hbase_connector_spark.sources.layout import data_files

    out = str(tmp_path / f"w{lo}_{hi}")
    spark.range(lo, hi).toDF("k").coalesce(1).write.mode("overwrite").parquet(out)
    [part] = data_files(out)
    return part


def _flush_table(spark, tmp_path):
    """A committed flush-file table: 00000.parquet = keys 0-4,
    00001.parquet = keys 5-9."""
    from spark_hbase_connector_spark.sources.layout import commit

    d = str(tmp_path / "flush")
    commit(
        d,
        {
            _staged_flush_file(spark, tmp_path, 0, 5): "00000.parquet",
            _staged_flush_file(spark, tmp_path, 5, 10): "00001.parquet",
        },
    )
    return d


def _live_keys(spark, d):
    from spark_hbase_connector_spark.sources.layout import data_files

    return sorted(r.k for r in spark.read.parquet(*data_files(d)).collect())


def _parquet_on_disk(d):
    import os

    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def test_compaction_recovery_heals_interrupted_publish(spark, tmp_path, monkeypatch):
    """A crash after the group's merged file landed in the directory but
    before the manifest swap published it: readers still see only the
    inputs, and the next compaction run deletes the unlisted merged file
    and compacts again, with no rows lost or duplicated."""
    import os

    import pytest

    from spark_hbase_connector_spark.operators.compaction import compact_flush_files
    from spark_hbase_connector_spark.sources.layout import MANIFEST, data_files

    d = _flush_table(spark, tmp_path)
    real_replace = os.replace

    def replace(src, dst):
        if dst == os.path.join(d, MANIFEST):
            raise OSError("injected crash before the manifest swap")
        return real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", replace)
        with pytest.raises(OSError, match="injected"):
            compact_flush_files(spark, d, target_bytes=1 << 20)
    # the merged file is on disk but unlisted
    assert len(_parquet_on_disk(d)) == 3 and len(data_files(d)) == 2
    assert _live_keys(spark, d) == list(range(10))

    stats = compact_flush_files(spark, d, target_bytes=1 << 20)
    assert stats["files_after"] == 1
    assert _live_keys(spark, d) == list(range(10))
    assert _parquet_on_disk(d) == data_files(d)


def test_compaction_recovery_no_duplicates_pre_removal_crash(spark, tmp_path, monkeypatch):
    """A crash after the manifest swap published the merged file but
    before the group's inputs were all deleted (none, or only one of the
    two): readers see the merged file only, never the inputs' rows twice,
    and the next commit deletes the surviving inputs."""
    import os

    import pytest

    from spark_hbase_connector_spark.operators.compaction import compact_flush_files
    from spark_hbase_connector_spark.sources.layout import commit, data_files

    for survivors in (2, 1):
        case = tmp_path / f"survivors{survivors}"
        case.mkdir()
        d = _flush_table(spark, case)
        real_remove = os.remove
        removed = []

        def remove(p, d=d, survivors=survivors):
            if os.path.dirname(p) == d:
                if len(removed) == 2 - survivors:
                    raise OSError("injected crash while deleting inputs")
                removed.append(p)
            return real_remove(p)

        with monkeypatch.context() as m:
            m.setattr(os, "remove", remove)
            with pytest.raises(OSError, match="injected"):
                compact_flush_files(spark, d, target_bytes=1 << 20)
        assert len(data_files(d)) == 1
        assert len(_parquet_on_disk(d)) == 1 + survivors
        assert _live_keys(spark, d) == list(range(10))

        # the next commit (a flush of keys 10-14) deletes the survivors
        commit(d, {_staged_flush_file(spark, case, 10, 15): "00002.parquet"})
        assert _parquet_on_disk(d) == data_files(d)
        assert _live_keys(spark, d) == list(range(15))
        stats = compact_flush_files(spark, d, target_bytes=1 << 20)
        assert stats["files_after"] == 1
        assert _live_keys(spark, d) == list(range(15))


def test_pca_recovers_planted_axes(spark):
    """Synthetic data with variance 100 along axis0, 25 along axis1, ~0
    elsewhere: PCA must put >0.99 of the variance in the first two
    components, project to (±10-ish, ±5-ish) coords, and be deterministic
    (sign pinned)."""
    import numpy as np

    from spark_hbase_connector_spark.operators.similarity import pca_project

    rng = np.random.default_rng(3)
    rows = []
    for i in range(400):
        x = rng.normal(0, 10)
        y = rng.normal(0, 5)
        v = np.array([x, y, 0.01 * rng.normal(), 0.01 * rng.normal()])
        rows.append((i, [float(t) for t in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    proj, ratios = pca_project(df, k=2)
    assert ratios[0] > ratios[1] > 0
    assert ratios[:2].sum() > 0.99
    got = {r.vec_id: r.proj for r in proj.collect()}
    assert len(got) == 400 and len(got[0]) == 2
    # component 1 ~ axis0: projected coord correlates with original x
    orig = {i: rows[i][1][0] for i in range(400)}
    import statistics

    xs = [orig[i] for i in range(400)]
    ps = [got[i][0] for i in range(400)]
    corr = statistics.correlation(xs, ps)
    assert abs(corr) > 0.99
    # deterministic across runs
    proj2, ratios2 = pca_project(df, k=2)
    got2 = {r.vec_id: r.proj for r in proj2.collect()}
    assert got == got2 and list(ratios) == list(ratios2)


def _union_find_components(edges):
    """Reference labels {(node, min node of its component)} by union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in list(parent)}


def test_components_long_chain_matches_union_find(spark):
    """A 200-node path (diameter 199, propagation's worst case) plus a
    clique and an isolated pair: with enough budget propagation matches
    union-find exactly, and with too little it raises."""
    from spark_hbase_connector_spark.operators.graph import connected_components

    import pytest as _pytest

    edges = [(i, i + 1) for i in range(1, 200)]
    edges += [(500, 501), (501, 502), (500, 502), (900, 901)]
    df = spark.createDataFrame(edges, ["id1", "id2"])
    prop = {(r.id, r.comp) for r in connected_components(df, max_iter=120).collect()}
    assert prop == _union_find_components(edges)
    assert {(i, 1) for i in range(1, 201)} <= prop
    # an insufficient budget must FAIL LOUDLY, never return wrong labels
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=10)


def test_components_random_graph_matches_union_find(spark):
    """Pseudo-random graph (deterministic edge synthesis, no rand()):
    propagation matches union-find exactly."""
    from spark_hbase_connector_spark.operators.graph import connected_components

    edges = [((i * 37) % 150, (i * 91 + 13) % 150) for i in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["id1", "id2"])
    prop = {(r.id, r.comp) for r in connected_components(df).collect()}
    assert prop == _union_find_components(edges)


def test_dense_time_grid_guard(spark):
    """The gapfill grid must densify bounded ranges and FAIL LOUDLY on a
    range that exceeds max_buckets_per_key (the 1970-sentinel-timestamp
    failure mode) — never silently explode a task."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.errors import PySparkRuntimeError
    from pyspark.sql import Row

    from spark_hbase_connector_spark.operators.gapfill import dense_time_grid

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    ok = spark.createDataFrame(
        [Row(user_id=1, lo=t0, hi=t0 + dt.timedelta(minutes=45))]
    )
    rows = dense_time_grid(ok, ["user_id"], step_seconds=900).collect()
    assert [r.bucket for r in rows] == [
        t0 + dt.timedelta(minutes=15 * i) for i in range(4)
    ]

    # one healthy key + one sentinel key: the job must fail, and the
    # message must name the offending key and the cap
    bad = spark.createDataFrame(
        [
            Row(user_id=1, lo=t0, hi=t0 + dt.timedelta(minutes=45)),
            Row(user_id=7, lo=dt.datetime(1970, 1, 1), hi=t0),
        ]
    )
    with _pytest.raises(Exception, match="max_buckets_per_key") as exc:
        dense_time_grid(bad, ["user_id"], step_seconds=900).collect()
    assert "(7)" in str(exc.value)

    # the cap is a parameter: tight cap trips even the healthy key
    with _pytest.raises(Exception, match="max_buckets_per_key=2"):
        dense_time_grid(
            ok, ["user_id"], step_seconds=900, max_buckets_per_key=2
        ).collect()


def test_cosine_pairs_lsh_hot_cell_salting_is_lossless(spark):
    """A 90%-one-cell corpus with a tiny max_rows_per_cell must produce
    EXACTLY the unsalted output (pair set and scores): the block-pair
    decomposition assigns every in-cell pair to one task, and per-pair
    dots are commutative, so salting changes task shape, never results."""
    import math

    from pyspark.sql import Row

    from spark_hbase_connector_spark.operators.similarity import (
        cosine_pairs_lsh,
    )

    # 2-D vectors: angles near 0 land in the hot cell (centroid (1,0)),
    # a 10% tail near (0,1); deterministic synthesis, no rand()
    rows = []
    for i in range(200):
        if i % 10 == 9:
            a = math.pi / 2 - ((i * 29) % 17) * 0.01
        else:
            a = ((i * 37) % 83) * 0.004
        rows.append(
            Row(vec_id=i, embedding=[math.cos(a), math.sin(a)])
        )
    df = spark.createDataFrame(rows)
    cents = spark.createDataFrame(
        [Row(cell_id=0, embedding=[1.0, 0.0]), Row(cell_id=1, embedding=[0.0, 1.0])]
    )

    def run(cap):
        out = cosine_pairs_lsh(
            df, threshold=0.98, centroids=cents, nprobe=1,
            max_rows_per_cell=cap,
        ).collect()
        return {(r.id1, r.id2, round(r.score, 12)) for r in out}

    unsalted = run(100_000)          # every cell under the cap: B=1 path
    salted = run(10)                 # hot cell splits into ~18 blocks
    assert salted == unsalted
    assert len(unsalted) > 500       # the hot cell really is pair-dense


def test_jaccard_prefix_equals_exact(spark):
    """The prefix-filter Jaccard join must be LOSSLESS: equal to a
    brute-force Python reference at thresholds from 0.1 to 1.0 — pair
    set AND scores."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base),                       # exact dup: J=1.0
        (3, base + " extra"),            # near dup
        (4, base.replace("delta", "DELTA")),
        (5, " ".join(f"w{i}" for i in range(30))),
        (6, " ".join(f"w{i}" for i in range(30)) + " tail"),
        (7, "entirely different content with no overlap at all"),
        *_NO_SHINGLE_DOCS,
        *_dense_corpus(100),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.85, 0.6, 0.1, 1.0):
        ref = {
            (i1, i2, round(j, 10))
            for (i1, i2), j in reference_pairs(rows, "jaccard", t).items()
        }
        got = {
            (r.id1, r.id2, round(r.jaccard, 10))
            for r in shingle_jaccard_pairs(docs, "text", "doc_id", t).collect()
        }
        assert got == ref and (1, 2, 1.0) in got
        if t < 1.0:
            assert len(ref) >= 3


def test_pq_trained_codebooks_beat_sampling_and_adc_recall(spark):
    """Quality gates for the PQ operators: (1) Lloyd-trained codebooks
    must strictly reduce mean reconstruction distortion vs the sampled
    init on clustered data; (2) ADC top-k over codes must recover most of
    the brute-force top-k (the whole point of PQ); (3) encode ties break
    to the lowest code."""
    import numpy as np
    from pyspark.sql import Row

    from spark_hbase_connector_spark.operators.similarity import (
        brute_force_topk,
        pq_adc_topk,
        pq_encode,
        pq_sampled_codebooks,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(11)
    # 400 vectors in 8 well-separated gaussian clusters, d=16
    centers = rng.standard_normal((8, 16)) * 5.0
    V = np.vstack([centers[i % 8] + rng.standard_normal(16) * 0.3 for i in range(400)])
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=V[i].tolist()) for i in range(400)]
    )

    m, k_codes = 4, 8
    cb0 = pq_sampled_codebooks(df, n_codes=k_codes, m=m)
    cbT = train_pq_codebooks(df, n_codes=k_codes, m=m, iters=4)

    def distortion(cb):
        codes = {r.id: r.codes for r in pq_encode(df, cb).collect()}
        dsub = 16 // m
        tot = 0.0
        for i in range(400):
            x = V[i].reshape(m, dsub)
            rec = np.vstack([cb[j, codes[i][j]] for j in range(m)])
            tot += float(((x - rec) ** 2).sum())
        return tot / 400

    d0, dT = distortion(cb0), distortion(cbT)
    assert dT < d0 * 0.9, (d0, dT)

    # ADC neighbor quality: quantization collapses same-cluster vectors
    # to identical codes, so exact-neighbor recall is not PQ's contract —
    # retrieving from the RIGHT REGION is. Every ADC top-5 neighbor must
    # come from the query's true cluster (i % 8), as every brute-force
    # neighbor does.
    q = df.where("vec_id < 10")
    adc = [
        (r.query_id, r.neighbor_id)
        for r in pq_adc_topk(q, pq_encode(df, cbT), cbT, k=5).collect()
    ]
    assert len(adc) == 50
    in_cluster = sum(1 for qid, nid in adc if qid % 8 == nid % 8)
    assert in_cluster >= 45, (in_cluster, adc)
    # and brute force agrees on the region (sanity that the gate is fair)
    brute = [
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(q, df, k=5).collect()
    ]
    assert all(qid % 8 == nid % 8 for qid, nid in brute)

    # tie-break: make code 1 an exact duplicate of code 0 — encoding must
    # never pick the higher code of an exactly-tied pair
    cb_dup = cb0.copy()
    cb_dup[:, 1] = cb_dup[:, 0]
    one = spark.createDataFrame([Row(vec_id=0, embedding=V[0].tolist())])
    codes = pq_encode(one, cb_dup).collect()[0].codes
    assert 1 not in codes


def test_edit_distance_pairs_equals_brute_force(spark):
    """The PassJoin segment blocking (r6) must be LOSSLESS: on a corpus
    mixing near-identical clusters, same-length decoys, short strings
    (below the d+1-segment minimum, routed via the length-bucket path)
    and unicode, the operator's pairs equal the brute-force cross-join
    truth exactly — and the blocking actually prunes (candidate volume
    sanity is covered by the sf1 sweep)."""
    import random

    from pyspark.sql import functions as F

    from spark_hbase_connector_spark.operators.dedup import edit_distance_pairs

    rng = random.Random(42)
    base = ["spark engine", "spark engown", "spork engine", "a", "ab", "abc",
            "abcd", "ba", "", "xy", "naïve café", "naive café",
            "delta lake tbl", "delta lake tb", "delta lake tabl"]
    # same-length decoys: 60 random 12-char strings (the old length-bucket
    # hot spot) + a few mutated copies
    alpha = "abcdefgh"
    for _ in range(60):
        t = "".join(rng.choice(alpha) for _ in range(12))
        base.append(t)
        if rng.random() < 0.3:
            i = rng.randrange(12)
            base.append(t[:i] + rng.choice(alpha) + t[i + 1:])
    df = spark.createDataFrame([(x,) for x in set(base)], "s string")
    got = sorted(
        (r.s1, r.s2, r.dist)
        for r in edit_distance_pairs(df, "s", max_dist=2).collect()
    )
    a = df.select(F.col("s").alias("s1"))
    b = df.select(F.col("s").alias("s2"))
    want = sorted(
        (r.s1, r.s2, r.dist)
        for r in a.crossJoin(b)
        .where(F.col("s1") < F.col("s2"))
        .select("s1", "s2", F.levenshtein("s1", "s2").alias("dist"))
        .where(F.col("dist") <= 2)
        .collect()
    )
    assert got == want and len(want) > 10


def test_filtered_topk_equals_label_constrained_brute_force(spark):
    """filtered_topk must be EXACT under the predicate: for every query,
    its top-k equals the brute-force ranking restricted to same-label
    corpus vectors; all neighbors share the query's label; k results are
    returned whenever the label population allows (pre-filter guarantee —
    post-filtering brute-force top-k would return fewer)."""
    import numpy as np
    from pyspark.sql import Row

    from spark_hbase_connector_spark.operators.similarity import filtered_topk

    rng = np.random.default_rng(7)
    V = rng.standard_normal((120, 8))
    labs = [i % 3 for i in range(120)]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=V[i].tolist(), label=labs[i]) for i in range(120)]
    )
    q = df.where("vec_id < 6")
    got = [
        (r.query_id, r.rank, r.neighbor_id, round(r.score, 9))
        for r in filtered_topk(q, df, k=4).collect()
    ]
    # brute force truth
    want = []
    nrm = np.sqrt((V * V).sum(axis=1))
    for qi in range(6):
        scores = sorted(
            (
                (-float(V[qi] @ V[ci]) / float(nrm[qi] * nrm[ci]), ci)
                for ci in range(120)
                if labs[ci] == labs[qi] and ci != qi
            ),
        )[:4]
        for rank, (neg_s, ci) in enumerate(scores, 1):
            want.append((qi, rank, ci, round(-neg_s, 9)))
    assert sorted(got) == sorted(want)
    assert len(got) == 24  # every query got its full k under the predicate
    assert all(labs[nid] == labs[qid] for qid, _, nid, _ in got)


def test_paragraph_chunks_tile_and_reconstruct(spark):
    """paragraph_chunks must tile the document exactly (ord-ordered,
    non-overlapping, remainder chunk kept) so joining the chunks back in
    ord order reproduces the original text byte-for-byte."""
    from pyspark.sql import functions as F

    from spark_hbase_connector_spark.operators.dedup import paragraph_chunks

    docs = [
        (1, "s0", " ".join(f"w{i}" for i in range(19))),  # 2 full + 3-tok tail
        (2, "s0", "a b"),  # shorter than w
        (3, "s1", " ".join(["x"] * 8)),  # exactly one chunk
    ]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    segs = paragraph_chunks(df, "text", "doc_id", passthrough=("source",), w=8)
    rows = sorted((r.id, r.ord, r.seg, r.source) for r in segs.collect())
    assert [r[1] for r in rows if r[0] == 1] == [0, 1, 2]
    rebuilt = {
        r.id: r.text
        for r in segs.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ord", "seg"))),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("text")
        )
        .collect()
    }
    assert rebuilt == {i: t for i, _, t in docs}
    # passthrough column rides along unchanged
    assert {(r[0], r[3]) for r in rows} == {(1, "s0"), (2, "s0"), (3, "s1")}
