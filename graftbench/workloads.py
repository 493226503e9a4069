"""The three workloads: how each makes its inputs and expected outputs,
attaches its inputs to a session, runs one iteration through the
engine's public functions, and checks the iteration's outputs.

Input sizes are fixed here and do not depend on the seed, so runs with
different seeds measure the same amount of work.
"""

from __future__ import annotations

import os
import pickle
from collections import Counter

import gen

RELATIONAL_QUERIES = (
    "q1_pricing_summary",
    "revenue_by_region",
    "join_part_lineitem",
    "window_order_seq",
    "sessionization",
    "events_windows",
)
STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events",
)
SHINGLE_TABLE = "graftbench_shingles"

# the change report the refresh step reads before applying the diff; the
# digest is exact_dedup's normalization, as in corpus_snapshot_diff
DIFF_REPORT_SQL = """
    WITH o AS (SELECT doc_id,
                      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                          AS old_hash FROM v1),
         n AS (SELECT doc_id,
                      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                          AS new_hash FROM v2)
    SELECT CASE WHEN o.old_hash IS NULL THEN 'added'
                WHEN n.new_hash IS NULL THEN 'removed'
                WHEN o.old_hash <> n.new_hash THEN 'changed'
                ELSE 'unchanged' END AS status,
           count(*) AS n_docs
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    GROUP BY status
"""


def layer_of(fn) -> str:
    """Layer name of an engine function: its module below the package."""
    return fn.__module__.removeprefix("simplex_mapreduce_spark.")


def _duck(views: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    for name, path in views.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def components(pairs):
    """(doc_id, cluster_id, is_canonical) for every document in a pair:
    the cluster id is the smallest doc id of its connected component.
    This is the contract of the ``neardup_clusters`` oracle, whose
    recursive SQL re-derives the pair set at every recursion step and
    takes tens of seconds where this takes milliseconds."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = sorted(parent)
    roots = [find(x) for x in ids]
    return pd.DataFrame({
        "doc_id": pd.Series(ids, dtype="int64"),
        "cluster_id": pd.Series(roots, dtype="int64"),
        "is_canonical": [x == r for x, r in zip(ids, roots)],
    })


class Workload:
    name = ""
    why = ""
    input_rows = 0  # rows, words or documents generated; set by run.py
    WARMUP_PASSES = 1  # untimed passes between set-up and measurement

    def __init__(self, inputs_dir: str):
        self.dir = inputs_dir

    # -- run in the preparing process ------------------------------------
    def generate(self, seed: int) -> dict:
        raise NotImplementedError

    def expected(self) -> dict:
        raise NotImplementedError

    # -- run in the measuring process ------------------------------------
    def attach(self, spark) -> None:
        pass

    def iteration(self, spark, tracer) -> dict:
        raise NotImplementedError

    def check(self, outputs: dict, expected: dict) -> None:
        """Raise AssertionError when an output differs from the oracle."""
        from tests.oracle_utils import compare_frames

        if set(outputs) != set(expected):
            raise AssertionError(f"outputs {sorted(outputs)} vs {sorted(expected)}")
        for label, frame in outputs.items():
            compare_frames(frame, expected[label], label)

    def save_expected(self, path: str) -> None:
        with open(path, "wb") as f:
            pickle.dump(self.expected(), f)


class RelationalStar(Workload):
    name = "relational_star"
    why = ("scan, join, aggregate, window and shuffle in the JVM; no Python "
           "workers and no stored tables")
    LINEITEM_ROWS = 150_000
    WARMUP_PASSES = 0

    def generate(self, seed):
        return gen.star_schema(self.dir, seed, self.LINEITEM_ROWS)

    def expected(self):
        from simplex_mapreduce_spark import registry

        registry.load_all()
        con = _duck({t: f"{self.dir}/{t}.parquet" for t in STAR_TABLES})
        try:
            return {q: con.sql(registry.ORACLES[q]).df() for q in RELATIONAL_QUERIES}
        finally:
            con.close()

    def attach(self, spark):
        from simplex_mapreduce_spark.sources import tables

        for t in STAR_TABLES:
            tables.load_table(spark, self.dir, t)

    def iteration(self, spark, tracer):
        from simplex_mapreduce_spark import registry

        out = {}
        for q in RELATIONAL_QUERIES:
            fn = registry.QUERIES[q]
            with tracer.span(f"query.{q}", layer_of(fn)):
                out[q] = fn(spark, self.dir).toPandas()
        return out


class MapReduceWordcount(Workload):
    name = "mapreduce_wordcount"
    why = ("Python map/reduce closures and the RDD groupByKey shuffle and "
           "sort; no DataFrame planning and no stored tables")
    N_WORDS = 1_000_000
    WARMUP_PASSES = 2

    @property
    def path(self):
        return f"{self.dir}/words.txt"

    def generate(self, seed):
        return gen.word_text(self.path, seed, self.N_WORDS)

    def expected(self):
        with open(self.path) as f:
            counts = Counter(f.read().split())
        return {"word_count": sorted((k, str(v)) for k, v in counts.items())}

    def attach(self, spark):
        os.stat(self.path)

    def iteration(self, spark, tracer):
        from simplex_mapreduce_spark.mapreduce import (
            MapReduceJob,
            word_count_map,
            word_count_reduce,
        )

        with tracer.span("mapreduce.run", "mapreduce"):
            rows = MapReduceJob(word_count_map, word_count_reduce).run(
                spark, self.path
            ).collect()
        return {"word_count": [(r["key"], r["value"]) for r in rows]}

    def check(self, outputs, expected):
        """The reference's check(): keys in lexicographic order, counts
        exactly those of a Python Counter over the input."""
        got, want = outputs["word_count"], expected["word_count"]
        keys = [k for k, _ in got]
        if keys != sorted(keys):
            raise AssertionError("word_count: keys not in lexicographic order")
        if len(got) != len(want):
            raise AssertionError(f"word_count: {len(got)} keys vs {len(want)}")
        bad = [(g, w) for g, w in zip(got, want) if g != w]
        if bad:
            raise AssertionError(f"word_count: first mismatches {bad[:5]}")


class CorpusDedup(Workload):
    name = "corpus_dedup"
    why = ("writes then reads sources.bucketing stored tables and sidecars; "
           "build, refresh and pair queries share one timed pass")
    N_DOCS = 350

    @property
    def v1(self):
        return f"{self.dir}/v1"

    @property
    def v2(self):
        return f"{self.dir}/v2"

    def generate(self, seed):
        return gen.corpus(self.dir, seed, self.N_DOCS)

    def expected(self):
        from simplex_mapreduce_spark import registry

        registry.load_all()
        old = _duck({"documents": f"{self.v1}/documents.parquet"})
        new = _duck({"documents": f"{self.v2}/documents.parquet"})
        both = _duck({
            "v1": f"{self.v1}/documents.parquet",
            "v2": f"{self.v2}/documents.parquet",
        })
        try:
            pairs = new.sql(registry.ORACLES["ngram_jaccard_neardup"]).df()
            return {
                "exact_dedup": old.sql(registry.ORACLES["exact_dedup"]).df(),
                "diff_report": both.sql(DIFF_REPORT_SQL).df(),
                "jaccard_pairs": pairs,
                "minhash_pairs": new.sql(
                    registry.ORACLES["minhash_lsh_candidates"]
                ).df(),
                "clusters": components(pairs),
            }
        finally:
            for con in (old, new, both):
                con.close()

    def attach(self, spark):
        from simplex_mapreduce_spark.sources import tables

        for d in (self.v1, self.v2):
            tables.load_table(spark, d, "documents")

    def iteration(self, spark, tracer):
        from pyspark.sql import functions as F

        from simplex_mapreduce_spark import registry
        from simplex_mapreduce_spark.operators import clusters, dedup, versioning
        from simplex_mapreduce_spark.sources import tables

        out = {}
        fn = registry.QUERIES["exact_dedup"]
        with tracer.span("query.exact_dedup", layer_of(fn)):
            out["exact_dedup"] = fn(spark, self.v1).toPandas()
        docs = {
            tag: tables.load_table(spark, d, "documents").select("doc_id", "text")
            for tag, d in (("v1", self.v1), ("v2", self.v2))
        }
        with tracer.span("build_shingle_table_from_docs", "operators.dedup"):
            dedup.build_shingle_table_from_docs(spark, docs["v1"], SHINGLE_TABLE)
        with tracer.span("corpus_diff", "operators.versioning"):
            diff = versioning.corpus_diff(docs["v1"], docs["v2"])
            out["diff_report"] = (
                diff.groupBy("status")
                .agg(F.count(F.lit(1)).alias("n_docs"))
                .toPandas()
            )
        with tracer.span("apply_corpus_diff_to_shingle_table", "operators.dedup"):
            dedup.apply_corpus_diff_to_shingle_table(
                spark, diff, docs["v2"], SHINGLE_TABLE
            )
        with tracer.span("jaccard_pairs_from_table", "operators.dedup"):
            pairs = dedup.jaccard_pairs_from_table(spark, SHINGLE_TABLE)
            out["jaccard_pairs"] = pairs.toPandas()
        with tracer.span("minhash_pairs_from_table", "operators.dedup"):
            out["minhash_pairs"] = dedup.minhash_pairs_from_table(
                spark, SHINGLE_TABLE
            ).toPandas()
        with tracer.span("canonical_members", "operators.clusters"):
            out["clusters"] = clusters.canonical_members(pairs).toPandas()
        return out

    def prefix_candidates(self, spark) -> int:
        """PPJoin candidate count over the refreshed stored table (the
        denominator of ``operators.dedup.ppjoin_yield``)."""
        from simplex_mapreduce_spark.operators import dedup
        from simplex_mapreduce_spark.sources.bucketing import read_bucketed

        return dedup.prefix_candidates(read_bucketed(spark, SHINGLE_TABLE)).count()


WORKLOADS = {w.name: w for w in (RelationalStar, MapReduceWordcount, CorpusDedup)}
