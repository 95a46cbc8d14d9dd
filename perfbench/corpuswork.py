"""``corpus_dedup_search``: the registry's corpus entries (near-duplicate
detection, vector and text search, the curation pipeline) over the
``documents`` and ``embeddings`` tables, collected to the client. One op is
one pass over the fixed entry list. Every entry starts from ``clearCache``
so no entry reuses another's persisted state.

The untraced window is cold: its op is each entry's first run in the
session (query compilation and Python-worker start included), as in a
curation job that runs each entry once. A warm-up pass costs as much as a
timed pass, whatever the corpus size, and would not fit the run budget.
The traced run does warm up, so its untraced and traced windows compare
like with like.

Correctness: after the window, every entry's collected result from every
timed op is compared with its DuckDB oracle through
``oracle.compare_frames`` with exact float comparison.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import datagen

CORPUS_ENTRIES = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard_prefix",
    "dedup_components",
    "ann_topk_cosine",
    "ann_topk_ivf_pq",
    "search_bm25_topk",
    "text_tfidf_topterms",
    "pipeline_curation",
]


@dataclass
class Op:
    kind: str


class CorpusWorkload:
    name = "corpus_dedup_search"
    PASS_SECONDS = 10.0  # one pass on a 4-core host
    COLD_WINDOW = True  # untraced windows skip the warm-up (module docstring)
    # a set-up takes about 0.5 s, mostly the session start, whose share of
    # host noise is large: more repetitions for a steady median
    SETUP_REPS = 9
    # the relational tables are not read by these entries; they exist so the
    # DuckDB oracle connection can bind every catalog view
    RELATIONAL_SF = 0.001

    def __init__(self, data_dir: str, n_docs: int, n_vecs: int) -> None:
        self.data_dir = data_dir
        self.entries = CORPUS_ENTRIES
        self.n_docs, self.n_vecs = n_docs, n_vecs
        self.input_rows: dict[str, int] = {}

    def generate(self, seed: int) -> None:
        from spark_hbase_connector_spark.queries import REGISTRY

        counts = datagen.generate(
            self.data_dir, seed, self.RELATIONAL_SF, self.n_docs, self.n_vecs
        )
        for e in self.entries:
            # tables an entry reads = tables its oracle names
            sql = REGISTRY[e].oracle
            self.input_rows[e] = sum(
                n for t, n in counts.items() if re.search(rf"\b{t}\b", sql)
            )

    def layout(self, spark) -> None:
        """Fixture layout: the corpus tables resolved through the catalog
        layer and registered as views."""
        from spark_hbase_connector_spark.catalogs import load

        for t in ("documents", "embeddings"):
            load(spark, self.data_dir, t).createOrReplaceTempView(t)

    def warm_up(self, spark, tracer) -> None:
        from spark_hbase_connector_spark.queries import REGISTRY

        for e in self.entries:
            spark.catalog.clearCache()
            REGISTRY[e].fn(spark, self.data_dir).write.format("noop").mode("overwrite").save()

    def pass_ops(self, i: int) -> list[Op]:
        return [Op("pass")]

    def run_op(self, spark, tracer, op: Op):
        """One op is the whole entry list, the unit a curation job waits
        for; entry latencies are spans (``query.<entry>``)."""
        from spark_hbase_connector_spark.queries import REGISTRY

        out = {}
        for e in self.entries:
            spark.catalog.clearCache()
            with tracer.span(f"query.{e}"):
                df = REGISTRY[e].fn(spark, self.data_dir)
                with tracer.span("table.exec"):
                    out[e] = df.toPandas()
        return out, sum(len(f) for f in out.values())

    def throughput_rows(self, rec) -> int:
        return sum(self.input_rows.values())

    def check(self, records) -> list[str]:
        from spark_hbase_connector_spark.oracle import compare_frames, duckdb_connection
        from spark_hbase_connector_spark.queries import REGISTRY

        errors = []
        con = duckdb_connection(self.data_dir)
        try:
            want = {e: con.execute(REGISTRY[e].oracle).df() for e in self.entries}
        finally:
            con.close()
        for rec in records:
            if not rec.ok:
                continue
            for e, got in rec.result.items():
                res = compare_frames(e, got, want[e])
                if not res.ok:
                    rec.ok = False
                    errors.append(f"op {rec.op_id} {e}: {res.detail}")
        return errors

    def layer_metrics(self, spark, records) -> dict[str, float]:
        return {"dedup.verified_per_candidate": self._verified_per_candidate(spark)}

    def _verified_per_candidate(self, spark) -> float:
        """MinHash-LSH candidate pairs (band-bucket self-join) that survive
        exact Jaccard verification, at the entry's parameters."""
        from pyspark.sql import functions as F

        from spark_hbase_connector_spark.catalogs import load
        from spark_hbase_connector_spark.operators.dedup import (
            minhash_band_buckets,
            minhash_lsh_pairs,
        )

        docs = load(spark, self.data_dir, "documents")
        b = minhash_band_buckets(docs, "text", "doc_id")
        x, y = b.alias("x"), b.alias("y")
        candidates = (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bkey") == F.col("y.bkey"))
                & (F.col("x.id") < F.col("y.id")),
            )
            .select("x.id", "y.id")
            .distinct()
            .count()
        )
        verified = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.85).count()
        spark.catalog.clearCache()
        return verified / candidates if candidates else 0.0
