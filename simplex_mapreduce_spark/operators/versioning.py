"""Corpus snapshot versioning: the change report between two corpus
versions — which documents were added, removed, changed, or carried
unchanged.  The decision input for every incremental pipeline stage in
this repo (the stored-table ``apply_diff`` lifecycle in sources/bucketing.py,
merge_dedup_state all consume "the delta"; this operator is how a
deployment DERIVES the delta when the upstream feed doesn't label it).

The reference engine has no notion of state between runs (each job is
one Split->Map->Reduce->Merge pass, src/mapreduce.go:344-355); pure
extension.

Scale shape: one full-outer join on the id (both sides hashed to an
8-byte content digest BEFORE the join, so the shuffle carries ids +
digests, never document bodies), statuses decided per row with no
further shuffle.  At 100 TB both snapshots are id-bucketed tables and
the join is co-located.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simplex_mapreduce_spark.registry import register
from simplex_mapreduce_spark.sources.tables import load_table


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Per-document change status between two snapshots:
    (id, status, old_hash, new_hash) with status in
    added | removed | changed | unchanged.

    Content identity is the exact_dedup normalization (md5 over
    whitespace-collapsed lowercased text) so a reflow/whitespace-only
    edit reads as unchanged — the same equivalence every dedup stage in
    the pipeline already uses."""
    digest = F.md5(
        F.regexp_replace(F.lower(F.trim(F.col(content_col))), r"\s+", " ")
    )
    o = old.select(F.col(id_col), digest.alias("old_hash"))
    n = new.select(F.col(id_col), digest.alias("new_hash"))
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, id_col, "full_outer").select(
        id_col, status.alias("status"), "old_hash", "new_hash"
    )


# deterministic snapshot simulation over the one driver corpus: two
# overlapping md5-bucket windows stand in for "yesterday's" and
# "today's" crawl.  [0,5) appears only in the old window (-> removed),
# [95,100) only in the new (-> added), [5,95) in both (-> unchanged;
# same table, so changed is structurally absent here — the changed
# path is pinned on crafted frames in tests/test_versioning.py).
_OLD_LO, _OLD_HI = 0, 95
_NEW_LO, _NEW_HI = 5, 100

_DUCK_BUCKET = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 100"
)


@register(
    "corpus_snapshot_diff",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, text, {_DUCK_BUCKET} AS bucket FROM documents),
    o AS (SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                     AS old_hash
          FROM b WHERE bucket >= {_OLD_LO} AND bucket < {_OLD_HI}),
    n AS (SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                     AS new_hash
          FROM b WHERE bucket >= {_NEW_LO} AND bucket < {_NEW_HI}),
    d AS (
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.old_hash IS NULL THEN 'added'
                    WHEN n.new_hash IS NULL THEN 'removed'
                    WHEN o.old_hash <> n.new_hash THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
    SELECT status, count(*) AS n_docs,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM d GROUP BY status
    """,
)
def corpus_snapshot_diff(spark, sf_dir):
    """Change report between two simulated corpus snapshots (md5-bucket
    windows of the documents table): per status, the document count and
    id range — the summary a scheduler reads to size the incremental
    work (and to alarm on an unexpectedly large removed/changed set).
    The full per-document frame is :func:`corpus_diff`."""
    from simplex_mapreduce_spark.operators.text import _hash_bucket

    d = load_table(spark, sf_dir, "documents").withColumn(
        "_bucket", _hash_bucket()
    )
    old = d.filter((F.col("_bucket") >= _OLD_LO) & (F.col("_bucket") < _OLD_HI))
    new = d.filter((F.col("_bucket") >= _NEW_LO) & (F.col("_bucket") < _NEW_HI))
    return (
        corpus_diff(old, new)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )
