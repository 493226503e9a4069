"""Every registered query with a SQL oracle, checked Spark-vs-DuckDB at
sf0.001 — the local mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from simplex_mapreduce_spark import registry
from tests.conftest import SF_DIR
from tests.oracle_utils import check_query

ORACLE_QUERIES = sorted(registry.ORACLES)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, duck, name):
    check_query(spark, duck, name, SF_DIR)


ROWS_ONLY = sorted(set(registry.QUERIES) - set(registry.ORACLES))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = registry.QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert df.schema is not None


def test_ann_ivf_persisted_matches_inline(spark):
    """The persisted-index ANN path (bucketed assignment table + static
    bucket pruning) must return exactly the inline single-pass plan's
    top-k — same vectors, same rounded similarities, same order."""
    from simplex_mapreduce_spark.operators.similarity import IVF_INDEX

    table = IVF_INDEX.name(SF_DIR)
    try:
        inline = registry.QUERIES["ann_ivf_topk"](spark, SF_DIR).collect()
        persisted = registry.QUERIES["ann_ivf_topk_persisted"](spark, SF_DIR).collect()
        # persisted adds the cell_id provenance column; the ranked
        # (vec_id, cos_sim) sequence must be identical
        assert [(r.vec_id, r.cos_sim) for r in inline] == [
            (r.vec_id, r.cos_sim) for r in persisted
        ]
        # every returned cell_id must be one of the probed cells the
        # inline plan restricted itself to
        assert all(r.cell_id is not None for r in persisted)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ivf_incremental_append_matches_full_rebuild(spark, tmp_path):
    """Epoch-boundary drill for the ANN index (the shingle-table twin,
    VERDICT r6 item 4): building the index over the base corpus and
    APPENDING a delta (assigned against the ORIGINAL centroids read
    back from the stored index) must leave the exact table a full
    rebuild over base+delta produces — same (vec_id, cell_id)
    assignment for every vector, hence identical probe results."""
    import math
    import random

    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.similarity import IVF_INDEX

    rng = random.Random(7)
    dim = 8

    def vec(_):
        return [rng.gauss(0.0, 1.0) for _ in range(dim)]

    rows = [(i, vec(i)) for i in range(70)]
    base, delta = rows[:50], rows[50:]
    schema = "vec_id long, embedding array<double>"
    base_dir, full_dir = str(tmp_path / "base"), str(tmp_path / "full")
    for d, data in ((base_dir, base), (full_dir, rows)):
        spark.createDataFrame(data, schema).write.parquet(f"{d}/embeddings.parquet")

    ta, tb = "ivf_inc_test_a", "ivf_inc_test_b"
    try:
        IVF_INDEX.build(spark, IVF_INDEX.load(spark, base_dir), ta)
        IVF_INDEX.append(
            spark,
            spark.createDataFrame(delta, schema).select(
                "vec_id", F.col("embedding").cast("array<double>").alias("e")
            ),
            ta,
        )
        IVF_INDEX.build(spark, IVF_INDEX.load(spark, full_dir), tb)
        got = {
            r["vec_id"]: r["cell_id"] for r in spark.table(ta).collect()
        }
        want = {
            r["vec_id"]: r["cell_id"] for r in spark.table(tb).collect()
        }
        assert got == want and len(got) == 70
        # the delta really landed in non-seed cells too (drill sanity:
        # the assignment exercised the argmax, not a constant)
        assert len({got[i] for i, _ in delta}) > 1
        # vectors survived byte-exact (probe cosines depend on them)
        ea = {r["vec_id"]: r["e"] for r in spark.table(ta).collect()}
        for i, v in rows:
            assert all(math.isclose(a, b) for a, b in zip(ea[i], v))
    finally:
        for t in (ta, tb):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_approx_count_distinct_within_rsd_bounds(spark):
    """The HLL++ estimates (rsd=0.01) must sit within 5% of the exact
    distinct counts — the accuracy contract behind the rows-only check."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark import registry
    from simplex_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    est = registry.QUERIES["approx_count_distinct"](spark, SF_DIR).collect()[0]
    li = load_table(spark, SF_DIR, "lineitem", convert_ts=False)
    exact = li.agg(
        F.countDistinct("l_partkey").alias("p"),
        F.countDistinct("l_suppkey").alias("s"),
    ).collect()[0]
    assert abs(est["approx_parts"] - exact["p"]) <= 0.05 * exact["p"]
    assert abs(est["approx_supps"] - exact["s"]) <= 0.05 * exact["s"]


def test_events_gapfill_matches_duckdb(spark, duck):
    """events_gapfill was promoted to the driver's oracled window in
    round 4; this local pin uses the registry oracle directly (single
    source of truth — no drift possible) and keeps the is_gap sanity
    assertion the generic sweep doesn't make."""
    from tests.oracle_utils import compare_frames

    spark_pdf = registry.QUERIES["events_gapfill"](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(registry.ORACLES["events_gapfill"]).df()
    assert spark_pdf["is_gap"].any()  # the fill actually fills something
    compare_frames(spark_pdf, duck_pdf, "events_gapfill")


def test_unpivot_roundtrips_pivot(spark):
    """unpivot(pivot(events)) restricted to nonzero cells must equal the
    plain long-form aggregation — the wide->long reshape loses nothing."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.sources.tables import load_table

    long_form = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in registry.QUERIES["unpivot_events"](spark, SF_DIR)
        .filter(F.col("n") > 0)
        .collect()
    }
    e = load_table(spark, SF_DIR, "events", convert_ts=False)
    want = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert long_form == want


def test_table_profile_exact_metrics(spark, duck):
    """table_profile's exact metrics (rows/nulls/min/max/mean) must match
    DuckDB; the HLL++ distinct estimate must sit within 5% of exact."""
    prof = {
        r["column"]: r
        for r in registry.QUERIES["table_profile"](spark, SF_DIR).collect()
    }
    for c in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]:
        d = duck.sql(
            f"""SELECT count(*) AS n_rows,
                       count(*) - count({c}) AS n_nulls,
                       count(DISTINCT {c}) AS nd,
                       CAST(min({c}) AS DOUBLE) AS mn,
                       CAST(max({c}) AS DOUBLE) AS mx,
                       round(avg({c}), 6) AS av
                FROM lineitem"""
        ).fetchone()
        p = prof[c]
        assert p["n_rows"] == d[0] and p["n_nulls"] == d[1], c
        assert abs(p["approx_distinct"] - d[2]) <= max(1, 0.05 * d[2]), c
        assert p["min_val"] == d[3] and p["max_val"] == d[4], c
        assert abs(p["mean_val"] - d[5]) < 1e-6, c


def test_funnel_steps_matches_duckdb(spark, duck):
    """Ordered funnel: rows-only in the driver; DuckDB equivalence and
    the monotone-conversion invariant pinned here."""
    from simplex_mapreduce_spark.operators.events import FUNNEL_SQL
    from tests.oracle_utils import compare_frames

    spark_pdf = registry.QUERIES["funnel_steps"](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(FUNNEL_SQL).df()
    compare_frames(spark_pdf, duck_pdf, "funnel_steps")
    by_step = dict(zip(spark_pdf["step"], spark_pdf["n_users"]))
    assert (
        by_step["view"] >= by_step["view>click"] >= by_step["view>click>purchase"] > 0
    )


def test_weekly_retention_matches_duckdb(spark, duck):
    """Cohort retention: rows-only in the driver; DuckDB equivalence and
    the triangle invariants pinned here."""
    from simplex_mapreduce_spark.operators.events import RETENTION_SQL
    from tests.oracle_utils import compare_frames

    spark_pdf = registry.QUERIES["weekly_retention"](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(RETENTION_SQL).df()
    assert len(spark_pdf) > 0
    compare_frames(spark_pdf, duck_pdf, "weekly_retention")
    # offset-0 must include every user of the cohort (they were active
    # in their own first week by definition): n_users at offset 0 is the
    # max over the cohort's offsets
    for wk, grp in spark_pdf.groupby("cohort_week"):
        base = grp.loc[grp["week_offset"] == 0, "n_users"]
        assert len(base) == 1 and base.iloc[0] == grp["n_users"].max(), wk


def test_embedding_knn_graph_matches_duckdb(spark, duck):
    """SemDeDup-style bucketed k-NN graph: rows-only in the driver;
    DuckDB equivalence (shared RP-LSH signature CTE) pinned here plus
    the graph invariants."""
    from simplex_mapreduce_spark.operators.similarity import (
        KNN_GRAPH_K,
        KNN_GRAPH_SQL,
    )
    from tests.oracle_utils import compare_frames

    spark_pdf = registry.QUERIES["embedding_knn_graph"](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(KNN_GRAPH_SQL).df()
    assert len(spark_pdf) > 0
    compare_frames(spark_pdf, duck_pdf, "embedding_knn_graph")
    per_vec = spark_pdf.groupby("vec_id")
    assert (per_vec.size() <= KNN_GRAPH_K).all()
    # ranks are 1..k without gaps and cos_sim is non-increasing in rank
    for vid, grp in per_vec:
        grp = grp.sort_values("rnk")
        assert list(grp["rnk"]) == list(range(1, len(grp) + 1)), vid
        assert (grp["cos_sim"].diff().dropna() <= 1e-9).all(), vid


def test_part_margin_profile_matches_duckdb(spark, duck):
    from simplex_mapreduce_spark.operators.relational_ext import MARGIN_SQL
    from tests.oracle_utils import compare_frames

    spark_pdf = registry.QUERIES["part_margin_profile"](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(MARGIN_SQL).df()
    assert len(spark_pdf) > 0
    compare_frames(spark_pdf, duck_pdf, "part_margin_profile")
