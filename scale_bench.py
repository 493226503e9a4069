#!/usr/bin/env python
"""Scaling evidence: the headline query set plus the fused pipeline and
the full dedup chain, measured at sf0.1 (driver testdata) AND at
generated larger corpora (sources/scalegen.py): sf1 (10×) always,
sf10 (100×, ~1.7 GB) under ``--sf10``.

For each query and scale factor this records cold wall (first run, the
bench.py measurement), steady wall (second run, codegen amortized), and
— from a collect-backed third run — the executed plan's shuffle bytes
written, shuffle count, and rows scanned, so the sf1/sf0.1 (and
sf10/sf0.1) ratios show HOW the plan scales, not just how long it took.
Also records which join strategy AQE picked for the customer-side join
of revenue_by_region at each scale (the no-hint-on-sf-linear-frames
design lever) and, at sf10, whether Catalyst's runtime bloom-filter
injection fires for q10's selective-orders shape once the probe-side
scan threshold reflects the at-scale regime.

Usage:
    python scale_bench.py             # sf0.1 + sf1, writes SCALING.json
    python scale_bench.py --sf10      # adds the 100× point (merged in)
    python scale_bench.py --oracles   # Spark-vs-DuckDB at sf1, incl. the
                                      # streaming left-outer join and a
                                      # crash-restart drill on 954k events
    python scale_bench.py --spill     # constrained-memory spill drill:
                                      # force external sort/agg spill at
                                      # the largest scale point, strict
                                      # oracle compare (VERDICT r6 item 3)
    python scale_bench.py --sf30      # 300x spot-check of the two
                                      # linear-shuffle queries (orders/
                                      # events only, ~3 GB) — partition-
                                      # count-cliff probe (r6 item 7)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from simplex_mapreduce_spark import get_spark, registry  # noqa: E402
from simplex_mapreduce_spark.plans.explain import (  # noqa: E402
    executed_metrics,
    simple_plan,
)
from simplex_mapreduce_spark.sources.scalegen import ensure_scaled  # noqa: E402

from bench import HEADLINE  # noqa: E402

EXTRA = [
    "pipeline_corpus_to_sequences", "neardup_keep_best",
    # round-5 late additions: the explode-heaviest and the two-pass
    # new text reports, curve-checked like the headline set
    "topgram_repetition", "vocab_coverage", "event_rate_anomalies",
    # late-round-7 operators, curve-checked from birth (semantic_dedup
    # carries the rep-collapsed in-cell pair join — the shape the sf1
    # clone replicas stress)
    "semantic_dedup", "bpe_pair_counts", "mixture_temperature",
    "length_buckets", "duplicate_text_spans", "strip_duplicate_spans",
    "doc_bigram_logprob", "duplicate_text_spans_keep_first",
    # round-8 operators, curve-checked from birth (bpe_train/encode are
    # driver-loop sequential — the curve shows the per-iteration
    # lexicon-aggregate cost; dsir is the doc_logprob join shape)
    "bpe_train", "bpe_encode", "dsir_importance", "dsir_resample",
    "memorization_risk", "vocab_growth", "decontaminate_spans",
    "domain_divergence", "bpe_encode_stored", "nb_source_classifier",
    # late-round-8 quartet (split_leakage rides the PPJoin pair plan —
    # the clone replicas stress its rep-collapse exactly like the
    # jaccard query; pca is the kmeans-shaped driver loop)
    "gopher_quality_rules", "pca_top_component", "split_leakage_report",
    "embedding_outliers", "cross_source_duplication",
    "streaming_quality_gate", "pca_top2_components",
    "streaming_quality_filter", "dup_ngram_coverage",
]
SRC = "/root/testdata/sf0.1"
_HERE = os.path.dirname(os.path.abspath(__file__))
SF1_DIR = os.path.join(_HERE, ".scaledata/sf1")
SF10_DIR = os.path.join(_HERE, ".scaledata/sf10")


def run_noop(spark, name, sf_dir):
    df = registry.QUERIES[name](spark, sf_dir)
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def run_metrics(spark, name, sf_dir):
    """collect-backed run: executed metrics attach to the frame's QE."""
    df = registry.QUERIES[name](spark, sf_dir)
    t0 = time.perf_counter()
    n = len(df.collect())
    wall = time.perf_counter() - t0
    m = executed_metrics(df)
    m["rows_out"] = n
    m["collect_wall"] = round(wall, 3)
    return m, df


ORACLE_CHECK_QUERIES = [
    # round-9 addition: winnowing carried a LATENT within-mirror
    # n_shared overcount (positional vs distinct-value fingerprint
    # counts) that only fires when a doc's windows select the same
    # 32-bit value twice — invisible at sf0.01, caught the first time
    # winnowing ran under the sf1 strict compare.  It stays in this
    # standing gate so the class can't regress silently again.
    "winnowing_overlap",
    # round-10: the capped production entry point, registered this
    # round (VERDICT r9 item 6) against its own CAPPED oracle twin.
    # At sf1 the cap is genuinely ACTIVE (>64-rep boilerplate values
    # exist; 8.41M of 10.31M pairs survive), so this row exercises the
    # df filter end-to-end — the first registration attempt used the
    # uncapped oracle on a cap-inactive assumption and THIS GATE
    # caught it (8,410,900 vs 10,305,300 rows)
    "winnowing_overlap_capped",
    "q1_pricing_summary", "revenue_by_region", "join_part_lineitem",
    "window_ranking", "sessionization", "events_windows", "exact_dedup",
    "funnel_steps", "weekly_retention", "part_margin_profile",
    "quality_histogram", "langid_confusion", "customer_order_stats",
    "grouping_analytics", "q3_shipping_priority", "topk_customer_orders",
    # round-5 additions
    "topgram_repetition", "vocab_coverage", "event_rate_anomalies",
    "q5_local_supplier_volume", "ann_recall_at_k",
    "q6_forecast_revenue", "embedding_quantization",
    "value_winsorization", "streaming_event_rate_anomalies",
    "quality_weighted_sample", "pit_priority_transitions",
    "q8_market_share", "q13_order_count_distribution",
    # round-6 additions: the near-dup pair queries, value-checked at sf1
    # after the identical-set rep-collapse rework (250,600 pairs vs the
    # plain inverted-index DuckDB twin)
    "ngram_jaccard_neardup", "minhash_lsh_candidates",
    # late-round-7 additions: k-means-composed SemDeDup (the scaled
    # corpus plants exact replica vectors, so the drop path fires on
    # cosine-1.0 clones), lexicon-collapsed BPE pair counting, and the
    # temperature mixture report
    "semantic_dedup", "bpe_pair_counts", "mixture_temperature",
    "duplicate_text_spans", "strip_duplicate_spans", "doc_bigram_logprob",
    "duplicate_text_spans_keep_first",
    # round-8 additions: the tokenizer train/encode loop (unrolled-CTE
    # oracle at 10x the lexicon) and both DSIR rungs
    "bpe_train", "bpe_encode", "dsir_importance", "dsir_resample",
    "memorization_risk", "vocab_growth", "decontaminate_spans",
    "domain_divergence", "bpe_encode_stored", "nb_source_classifier",
    # late-round-8 quartet, strict-checked at sf1 from birth
    "gopher_quality_rules", "pca_top_component", "split_leakage_report",
    "embedding_outliers", "cross_source_duplication",
    "streaming_quality_gate", "pca_top2_components",
    "streaming_quality_filter", "dup_ngram_coverage",
]


def check_streaming_left_outer_sf1(spark) -> bool:
    """State-eviction at scale: drain the watermarked LEFT OUTER
    stream-stream join over the sf1 events table (954k rows — clicks
    and purchases both buffered in state until the watermark proves
    them matched or unmatched) and compare against the closed-form
    DuckDB twin.  The local pin runs at sf0.001/sf0.01; this is the
    same contract at 100× the state size."""
    import duckdb

    sys.path.insert(0, os.path.join(_HERE, "tests"))
    from oracle_utils import compare_frames

    from simplex_mapreduce_spark.streaming.joins_stream import (
        CLICK_PURCHASE_LEFT_OUTER_ORACLE,
    )

    duck = duckdb.connect()
    duck.sql(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{SF1_DIR}/events.parquet/*.parquet')"
    )
    t0 = time.perf_counter()
    spdf = registry.QUERIES["streaming_click_purchase_left_outer"](
        spark, SF1_DIR
    ).toPandas()
    wall = time.perf_counter() - t0
    assert spdf["purchase_id"].isna().sum() > 0, "outer path never fired"
    compare_frames(spdf, duck.sql(CLICK_PURCHASE_LEFT_OUTER_ORACLE).df(),
                   "streaming_click_purchase_left_outer@sf1")
    print(f"PASS streaming_click_purchase_left_outer@sf1 "
          f"({len(spdf)} rows, {wall:.1f}s)")
    return True


def crash_restart_drill_sf1(spark) -> bool:
    """Exactly-once fault drill at sf1 scale: stream the 954k-row events
    table (split into micro-batches), crash the foreachBatch sink after
    one mid-stream batch, restart from the checkpoint, and prove the
    idempotent batch_id-keyed sink holds every event exactly once.
    Same recipe as tests/test_streaming.py's drill, at 100× the rows."""
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="sf1_drill_")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    crash_once = {"armed": True}

    # derive the trigger size from the ACTUAL part-file count (round-7
    # advice): a hardcoded maxFilesPerTrigger=8 silently stops forming
    # the second micro-batch — so the injected batch_id==1 crash never
    # fires — if the table ever lands with <= 8 files
    n_files = len(
        [f for f in os.listdir(f"{SF1_DIR}/events.parquet") if f.endswith(".parquet")]
    )
    assert n_files >= 2, f"need >= 2 part files for two micro-batches, got {n_files}"
    files_per_trigger = max(1, n_files // 4)

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(
            os.path.join(sink, f"batch_{batch_id}")
        )
        if crash_once["armed"] and batch_id == 1:
            crash_once["armed"] = False
            raise RuntimeError("injected sink crash after batch 1 write")

    def run():
        q = (
            spark.readStream.schema(
                spark.read.parquet(f"{SF1_DIR}/events.parquet").schema
            )
            .option("maxFilesPerTrigger", str(files_per_trigger))
            .parquet(f"{SF1_DIR}/events.parquet")
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    try:
        try:
            run()
            raise AssertionError("injected crash did not fire")
        except Exception as e:  # noqa: BLE001 — foreachBatch wraps it
            if "injected sink crash" not in str(e):
                raise
        run()  # restart from checkpoint: replay batch 1, drain the rest
        got = spark.read.parquet(os.path.join(sink, "batch_*")).count()
        want = spark.read.parquet(f"{SF1_DIR}/events.parquet").count()
        dup = (
            spark.read.parquet(os.path.join(sink, "batch_*"))
            .groupBy("event_id").count().filter("count > 1").count()
        )
        assert got == want and dup == 0, (got, want, dup)
        print(f"PASS crash_restart_drill@sf1 ({got} rows exactly once)")
        return True
    finally:
        shutil.rmtree(work, ignore_errors=True)


def check_oracles_at_sf1(spark) -> None:
    """Correctness at scale, not just speed: run a representative oracled
    subset Spark-vs-DuckDB on the sf1 data with the driver gate's strict
    compare (29 queries incl. a ~950k-row sessionization frame and every
    late-round-5 addition), plus the watermarked streaming left-outer
    join and an exactly-once crash-restart drill on the same corpus.
    Usage: ``python scale_bench.py --oracles``."""
    import duckdb

    sys.path.insert(0, os.path.join(_HERE, "tests"))
    from oracle_utils import compare_frames
    from simplex_mapreduce_spark.sources.tables import TABLES

    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF1_DIR}/{t}.parquet/*.parquet')"
        )
    fails = []
    for n in ORACLE_CHECK_QUERIES:
        try:
            spdf = registry.QUERIES[n](spark, SF1_DIR).toPandas()
            compare_frames(spdf, duck.sql(registry.ORACLES[n]).df(), n)
            print(f"PASS {n} ({len(spdf)} rows)")
        except Exception as e:  # noqa: BLE001 — report-and-continue harness
            fails.append(n)
            print(f"FAIL {n}: {e}")
    for check in (check_streaming_left_outer_sf1, crash_restart_drill_sf1):
        try:
            check(spark)
        except Exception as e:  # noqa: BLE001
            fails.append(check.__name__)
            print(f"FAIL {check.__name__}: {e}")
    total = len(ORACLE_CHECK_QUERIES) + 2
    print(f"{total - len(fails)}/{total} sf1 checks pass; fails={fails}")


def strict_sweep() -> None:
    """VERDICT r9 item 5 (the winnowing-bug lesson): every oracled
    query must pass SOME large-sf strict gate at least once — the
    standing ORACLE_CHECK_QUERIES list covers ~59; this one-time sweep
    rotates the REMAINDER through the identical sf1 strict compare and
    records the outcome in SCALING.json (``strict_sweep``), so the
    union of {standing gate} ∪ {sweep passes} is the full oracled
    surface.  Usage: ``python scale_bench.py --strict-sweep [names…]``
    (names filter for re-runs)."""
    import duckdb

    sys.path.insert(0, os.path.join(_HERE, "tests"))
    from oracle_utils import compare_frames
    from simplex_mapreduce_spark.sources.tables import TABLES

    spark = get_spark("strict-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_scaled(spark, SRC, SF1_DIR, factor=10)
    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF1_DIR}/{t}.parquet/*.parquet')"
        )
    only = {a for a in sys.argv[2:] if not a.startswith("-")}
    standing = set(ORACLE_CHECK_QUERIES)
    names = [
        n for n in registry.ORACLES
        if n not in standing and (not only or n in only)
    ]
    results: dict = {}
    n_pass = 0
    for n in names:
        t0 = time.perf_counter()
        try:
            spdf = registry.QUERIES[n](spark, SF1_DIR).toPandas()
            compare_frames(spdf, duck.sql(registry.ORACLES[n]).df(), n)
            wall = round(time.perf_counter() - t0, 2)
            results[n] = {"pass": True, "rows": len(spdf), "wall": wall}
            n_pass += 1
            print(f"PASS {n} ({len(spdf)} rows, {wall}s)", flush=True)
        except Exception as e:  # noqa: BLE001 — report-and-continue
            results[n] = {"pass": False, "err": str(e)[:300]}
            print(f"FAIL {n}: {str(e)[:200]}", flush=True)
    spark.stop()
    print(f"{n_pass}/{len(names)} sweep queries pass at sf1 strict")

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    prev = out.get("strict_sweep", {}).get("results", {})
    prev.update(results)
    out["strict_sweep"] = {
        "sf": "sf1",
        "standing_gate_queries": sorted(standing),
        "results": prev,
        "n_pass": sum(1 for r in prev.values() if r.get("pass")),
        "n_total": len(prev),
        "note": (
            "One-time large-sf strict rotation for every oracled query "
            "outside the standing ORACLE_CHECK_QUERIES sf1 gate; "
            "standing-gate members pass on every --oracles run instead."
        ),
    }
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)


def strict_alt_checks() -> None:
    """VERDICT r9 item 5, the documented-exception leg of the strict
    sweep: three oracled queries whose DuckDB twins are INTENTIONALLY
    naive (the loses-nothing-proof idiom) and therefore super-quadratic
    at sf1 — the full sweep measured the cost directly (the
    neardup_keep_best recursive-CC twin exhausted 80 GB of DuckDB temp;
    the unblocked 150k^2 levenshtein twin ran >55 min before being
    stopped).  Each gets an equally-strict alternative reference at sf1:

    - neardup_clusters / neardup_keep_best: the sf1 PAIR SET is already
      hash-strict every round (standing gate, 250,600 pairs); collect
      it and run a driver-side union-find + survivor selection — the
      same independent reference tests/test_dedup_synthetic.py pins at
      small scale — then compare the full (doc_id, cluster_id, ...)
      row sets exactly.
    - fuzzy_name_matches: (a) completeness — DuckDB's UNBLOCKED naive
      twin restricted to a deterministic c_custkey % 4 == 0 subset
      (37.5k names, ~7e8 levenshtein probes) must equal Spark's output
      filtered to the same subset (proves prefix blocking loses no
      pairs on sf1 data); (b) soundness — every full-output Spark pair
      re-verified by DuckDB levenshtein on the joined names.

    Results land in SCALING.json strict_sweep results with
    mode='alternative'.  Usage: ``python scale_bench.py --strict-alt``.
    """
    import duckdb

    from simplex_mapreduce_spark.sources.tables import TABLES

    spark = get_spark("strict-alt")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_scaled(spark, SRC, SF1_DIR, factor=10)
    results: dict = {}

    # ---- near-dup clusters vs driver-side union-find ---------------- #
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in registry.QUERIES["ngram_jaccard_neardup"](
            spark, SF1_DIR
        ).select("doc_a", "doc_b").collect()
    ]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict = {}
    for n in parent:
        comp[n] = find(n)
    expected_clusters = {(n, c, n == c) for n, c in comp.items()}
    t0 = time.perf_counter()
    got = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in registry.QUERIES["neardup_clusters"](spark, SF1_DIR).collect()
    }
    ok = got == expected_clusters
    results["neardup_clusters"] = {
        "pass": bool(ok),
        "rows": len(got),
        "wall": round(time.perf_counter() - t0, 2),
        "mode": "alternative: driver union-find over the sf1-strict "
        "pair set (DuckDB recursive-CC twin exhausts temp disk at sf1)",
    }
    print(f"{'PASS' if ok else 'FAIL'} neardup_clusters (alt, "
          f"{len(got)} rows)", flush=True)

    quality = {
        r["doc_id"]: r["quality"]
        for r in registry.QUERIES["doc_profile"](spark, SF1_DIR)
        .select("doc_id", "quality")
        .collect()
    }
    by_cluster: dict = {}
    for n, c in comp.items():
        by_cluster.setdefault(c, []).append(n)
    expected_best = set()
    for c, members in by_cluster.items():
        keep = min(
            members,
            key=lambda m: (-(quality.get(m, float("-inf"))), m),
        )
        for m in members:
            expected_best.add((m, c, quality.get(m), m == keep))
    t0 = time.perf_counter()
    got_b = {
        (r["doc_id"], r["cluster_id"], r["quality"], r["is_kept"])
        for r in registry.QUERIES["neardup_keep_best"](spark, SF1_DIR).collect()
    }
    ok_b = got_b == expected_best
    results["neardup_keep_best"] = {
        "pass": bool(ok_b),
        "rows": len(got_b),
        "wall": round(time.perf_counter() - t0, 2),
        "mode": "alternative: union-find clusters + python survivor "
        "rule (max quality, min id tie-break) over sf1-strict inputs",
    }
    print(f"{'PASS' if ok_b else 'FAIL'} neardup_keep_best (alt, "
          f"{len(got_b)} rows)", flush=True)

    # ---- supplier_pagerank vs vectorized numpy power iteration ------ #
    import numpy as np

    from simplex_mapreduce_spark.operators.graph_rank import DAMPING, N_ITERS

    o = spark.read.parquet(f"{SF1_DIR}/orders.parquet").selectExpr(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{SF1_DIR}/lineitem.parquet").selectExpr(
        "l_orderkey", "l_suppkey"
    )
    pair_rows = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .collect()
    )
    verts: dict = {}

    def vid(v):
        return verts.setdefault(v, len(verts))

    src = []
    dst = []
    for r in pair_rows:
        c, s = vid(("c", r["o_custkey"])), vid(("s", r["l_suppkey"]))
        src += [c, s]
        dst += [s, c]
    n = len(verts)
    src_a, dst_a = np.asarray(src), np.asarray(dst)
    out_deg = np.bincount(src_a, minlength=n).astype(float)
    r_vec = np.full(n, 1.0 / n)
    for _ in range(N_ITERS):
        contrib = np.zeros(n)
        np.add.at(contrib, dst_a, r_vec[src_a] / out_deg[src_a])
        dangling = r_vec[out_deg == 0].sum()
        r_vec = (1 - DAMPING) / n + DAMPING * (contrib + dangling / n)
    t0 = time.perf_counter()
    got_pr = registry.QUERIES["supplier_pagerank"](spark, SF1_DIR).collect()
    max_err, n_sup = 0.0, 0
    for row in got_pr:
        w = r_vec[verts[("s", int(row["suppkey"]))]]
        max_err = max(max_err, abs(row["rank"] - round(w, 9)))
        n_sup += 1
    ok_pr = n_sup > 0 and max_err < 2e-9
    results["supplier_pagerank"] = {
        "pass": bool(ok_pr),
        "rows": n_sup,
        "max_abs_err": max_err,
        "wall": round(time.perf_counter() - t0, 2),
        "mode": "alternative: vectorized numpy power iteration over the "
        "collected sf1 edge list (the tests/test_graph_rank.py reference "
        "at 100x; the unrolled-CTE DuckDB twin exhausts temp disk at sf1)",
    }
    print(
        f"{'PASS' if ok_pr else 'FAIL'} supplier_pagerank (alt, {n_sup} "
        f"suppliers, max_err={max_err:.2e})",
        flush=True,
    )

    # ---- fuzzy_name_matches: subset-naive + full soundness ---------- #
    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF1_DIR}/{t}.parquet/*.parquet')"
        )
    t0 = time.perf_counter()
    sub_naive = {
        tuple(r)
        for r in duck.sql(
            """
            SELECT a.c_custkey, b.c_custkey,
                   levenshtein(a.c_name, b.c_name)
            FROM customer a JOIN customer b
              ON a.c_custkey < b.c_custkey
             AND a.c_custkey % 4 = 0 AND b.c_custkey % 4 = 0
             AND levenshtein(a.c_name, b.c_name) <= 1
            """
        ).fetchall()
    }
    naive_wall = round(time.perf_counter() - t0, 2)
    full = registry.QUERIES["fuzzy_name_matches"](spark, SF1_DIR).collect()
    sub_spark = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in full
        if r["id_a"] % 4 == 0 and r["id_b"] % 4 == 0
    }
    ok_c = sub_spark == sub_naive
    # soundness: recompute the distance on every emitted pair
    import pandas as pd

    full_pdf = pd.DataFrame(
        [(r["id_a"], r["id_b"], r["name_a"], r["name_b"], r["distance"])
         for r in full],
        columns=["id_a", "id_b", "name_a", "name_b", "distance"],
    )
    duck.register("spark_pairs", full_pdf)
    bad = duck.sql(
        "SELECT count(*) FROM spark_pairs "
        "WHERE levenshtein(name_a, name_b) <> distance OR distance > 1 "
        "OR id_a >= id_b"
    ).fetchone()[0]
    ok_d = bad == 0
    results["fuzzy_name_matches"] = {
        "pass": bool(ok_c and ok_d),
        "rows": len(full),
        "subset_pairs": len(sub_naive),
        "subset_naive_wall": naive_wall,
        "mode": "alternative: unblocked-naive completeness on the "
        "c_custkey%4 subset + levenshtein soundness re-check of every "
        "emitted pair (full unblocked twin is 2.25e10 probes at sf1 "
        "by design)",
    }
    print(
        f"{'PASS' if ok_c and ok_d else 'FAIL'} fuzzy_name_matches "
        f"(alt, {len(full)} rows, subset {len(sub_naive)} pairs, "
        f"naive {naive_wall}s, soundness_bad={bad})",
        flush=True,
    )
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    rec = out.setdefault("strict_sweep", {})
    rec.setdefault("results", {}).update(results)
    rec["n_pass"] = sum(1 for r in rec["results"].values() if r.get("pass"))
    rec["n_total"] = len(rec["results"])
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)


SF10_ORACLE_SPOT = [
    # cheap-by-construction shapes that still cross every engine layer:
    # pushed-scan agg, shuffle join + AQE choice, window sort, dedup
    # digest combine, funnel ordering, percentile interpolation
    "q1_pricing_summary", "revenue_by_region", "q6_forecast_revenue",
    "exact_dedup", "funnel_steps", "value_winsorization",
    # late-round-7: the linear-shaped newborns (their DuckDB twins stay
    # cheap at 100x; the pairwise newborns' naive oracles would not)
    "bpe_pair_counts", "mixture_temperature", "length_buckets",
    # late-round-8: the per-row rule report (regex-heavy DuckDB twin but
    # linear) and the two driver-loop PCA chains whose MATERIALIZED
    # oracles stay cheap at any corpus size
    "gopher_quality_rules", "pca_top_component", "pca_top2_components",
]


def check_oracles_at_sf10(spark) -> list[str]:
    """Correctness spot-check at 100×: a six-query slice of the strict
    Spark-vs-DuckDB gate on the sf10 corpus (60 M lineitem rows), so the
    sf10 point publishes verified-correct walls, not just walls."""
    import duckdb

    sys.path.insert(0, os.path.join(_HERE, "tests"))
    from oracle_utils import compare_frames
    from simplex_mapreduce_spark.sources.tables import TABLES

    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF10_DIR}/{t}.parquet/*.parquet')"
        )
    fails = []
    for n in SF10_ORACLE_SPOT:
        try:
            spdf = registry.QUERIES[n](spark, SF10_DIR).toPandas()
            compare_frames(spdf, duck.sql(registry.ORACLES[n]).df(), n)
            print(f"PASS {n}@sf10 ({len(spdf)} rows)", flush=True)
        except Exception as e:  # noqa: BLE001 — report-and-continue
            fails.append(n)
            print(f"FAIL {n}@sf10: {e}", flush=True)
    return fails


def bloom_injection_at_sf10(spark) -> dict:
    """Runtime bloom-filter injection on REAL sf10 statistics.  Both
    bloom thresholds are budgets that scale with the deployment: the
    probe-side scan gate (default 10 GiB) says "don't bother unless the
    probed scan is huge" and creationSideThreshold (default 10 MB) says
    "only build a bloom the executors can afford to broadcast".  sf10 is
    a 100×-reduced stand-in for that deployment, so the probe runs with
    the gates scaled to the regime (scan gate 0, creation budget
    100 MB ≈ executor-memory-proportional).  What the probe then shows
    is pure Catalyst selectivity discrimination on measured sf10 sizes:
    q10's 6-month orders window estimates under the creation budget →
    bloom injected on the lineitem probe BEFORE its shuffle; q3's
    ~97%-pass orders predicate estimates over it → correctly no bloom
    (measured sweep: q10 flips on at 100 MB, q3 not until 300 MB)."""
    app = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    crt = "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    old = {k: spark.conf.get(k) for k in (app, crt)}
    try:
        spark.conf.set(app, "0")
        spark.conf.set(crt, "100MB")
        q10 = registry.QUERIES["q10_returned_items"](spark, SF10_DIR)
        p10 = q10._jdf.queryExecution().toString()
        q3 = registry.QUERIES["q3_shipping_priority"](spark, SF10_DIR)
        p3 = q3._jdf.queryExecution().toString()
        return {
            "q10_bloom_fired": "might_contain" in p10
            and "bloom_filter_agg" in p10,
            "q3_bloom_fired": "might_contain" in p3,
            "note": (
                "scan gate 0 + creation budget 100MB (the 100x-reduced "
                "deployment regime): q10's selective orders side fits "
                "the budget and injects; q3's non-selective side "
                "exceeds it and correctly does not (sweep: q10 on at "
                "100MB, q3 not until 300MB)"
            ),
        }
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


SPILL_QUERIES = [
    # oracled shapes that buffer real per-task state: window sort,
    # session window, hash agg, digest agg, shuffle join
    "q1_pricing_summary", "window_order_seq", "sessionization",
    "exact_dedup", "revenue_by_region",
]


def spill_drill() -> None:
    """The one 100 TB behavior a 128 GiB box never exercises naturally:
    EXTERNAL SORT / HASH-AGG SPILL.  (The reference's reducer loads its
    whole key range into memory and would simply OOM —
    src/mapreduce.go:220-241 is the anti-model.)  Runs the heaviest
    oracled shapes at the largest generated scale with the unified
    memory pool squeezed to 5% and the window/sort-merge buffers forced
    to spill after 4096 rows, then strict-compares every result against
    DuckDB: proof that results are BYTE-IDENTICAL when operators fall
    back to disk.  Writes a ``spilled_run`` section into SCALING.json.

    Runs at sf1, not sf10: the drill's verdict is the STRICT row-value
    compare, and the pandas-side normalization of a 15M-row
    window_order_seq frame is an hour of driver time at sf10 for no
    extra spill coverage — the 4096-row buffer thresholds force the
    spill path identically at both scales (first attempt confirmed
    363 MB of sf10 spill files before the compare became the
    bottleneck).

    Usage: ``python scale_bench.py --spill`` (own process: the memory
    fraction is read once at SparkEnv creation)."""
    import duckdb

    sys.path.insert(0, os.path.join(_HERE, "tests"))
    from oracle_utils import compare_frames
    from simplex_mapreduce_spark.sources.tables import TABLES

    sf_dir, label = SF1_DIR, "sf1"
    conf = {
        "spark.memory.fraction": "0.05",
        # every UnsafeExternalSorter (SortExec, shuffle writers)
        # force-spills after 64k rows — deterministic spill regardless
        # of how much heap the box happens to have (a 128 GiB box never
        # spills sf-scale sorts naturally, which is exactly the blind
        # spot this drill closes)
        "spark.shuffle.spill.numElementsForceSpillThreshold": "65536",
        "spark.sql.windowExec.buffer.in.memory.threshold": "4096",
        "spark.sql.windowExec.buffer.spill.threshold": "4096",
        "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold": "4096",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold": "4096",
    }
    spark = get_spark(
        "simplex-spill-drill", shuffle_partitions=8, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )
    rec: dict = {"sf": label, "conf": conf, "queries": {}}
    fails: list[str] = []
    for name in SPILL_QUERIES:
        df = registry.QUERIES[name](spark, sf_dir)
        pdf = df.toPandas()
        m = executed_metrics(df)
        spill_mb = round(m["spill_bytes"] / 1e6, 1)
        try:
            compare_frames(pdf, duck.sql(registry.ORACLES[name]).df(), name)
            ok = True
        except AssertionError as e:  # noqa: BLE001 — report-and-continue
            ok = False
            fails.append(name)
            print(f"FAIL {name}: {e}")
        rec["queries"][name] = {"spill_mb": spill_mb, "oracle_match": ok}
        print(f"  spill {name}: {spill_mb} MB spilled, "
              f"oracle_match={ok} ({len(pdf)} rows)", flush=True)
    total_spill = sum(q["spill_mb"] for q in rec["queries"].values())
    rec["total_spill_mb"] = round(total_spill, 1)
    assert total_spill > 0, (
        "constrained run never spilled — the drill proved nothing; "
        "tighten the thresholds or grow the scale point"
    )
    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out["spilled_run"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"spilled_run": rec}))
    spark.stop()
    if fails:
        raise SystemExit(f"spill drill oracle failures: {fails}")


# ------------------------------------------------------------------ #
# Planted hot-key skew drill (round-8, VERDICT r7 item 1).
# ------------------------------------------------------------------ #

SKEW_SMALL_DIR = os.path.join(_HERE, ".scaledata/skew_small")
SKEW_BIG_DIR = os.path.join(_HERE, ".scaledata/skew_big")
SKEW_CELL_DIR = os.path.join(_HERE, ".scaledata/skew_cell")
SKEW_QUERIES = [
    "ngram_jaccard_neardup",
    "winnowing_overlap",
    "duplicate_text_spans",
    "semantic_dedup",
    # round-8 late additions: both ride the PPJoin pair plan whose
    # rep-collapse keys on EXACT digests — precisely the defense a
    # near-identical hot-key corpus bypasses — plus their own slim
    # label joins (split / source) downstream of the skewed exchange
    "split_leakage_report",
    "cross_source_duplication",
]


def _rest_json(spark, path: str):
    """Spark monitoring REST API (requires spark.ui.enabled)."""
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}") as r:
        return _json.load(r)


def _completed_stages(spark) -> dict:
    return {
        (s["stageId"], s["attemptId"]): s
        for s in _rest_json(spark, "stages")
        if s["status"] == "COMPLETE"
    }


def run_with_task_stats(spark, name: str, sf_dir: str) -> dict:
    """Execute a query via the 1-row hash-reduction probe (so AQE's
    FINAL plan and metrics attach to an inspectable QueryExecution) and
    mine the monitoring API for per-task time distributions of every
    stage the run created.  Returns wall, rows_out, shuffle, the
    worst stage's max/median task time, and whether AQE's skew-join
    split engaged (``skew=true`` marks in the executed plan)."""
    from pyspark.sql import functions as F

    # construct the frame BEFORE snapshotting stages: any eager
    # at-ingest work a query triggers on first use (stored shingle /
    # winnow tables) runs at construction time and must not pollute
    # the query's own task statistics
    df = registry.QUERIES[name](spark, sf_dir)
    before = set(_completed_stages(spark))
    probe = df.select(
        F.xxhash64(*df.columns).alias("h"), F.lit(1).alias("one")
    ).agg(F.expr("bit_xor(h)"), F.expr("count(one)").alias("n"))
    t0 = time.perf_counter()
    n_out = int(probe.collect()[0]["n"])
    wall = time.perf_counter() - t0
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = executed_metrics(probe)
    worst = {"max_task_ms": 0, "med_task_ms": 0, "n_tasks": 0, "stage_id": None}
    total_task_ms = 0
    for key, s in _completed_stages(spark).items():
        if key in before or s.get("numCompleteTasks", 0) == 0:
            continue
        try:
            q = _rest_json(
                spark,
                f"stages/{key[0]}/{key[1]}/taskSummary?quantiles=0.0,0.5,1.0",
            )
            med, mx = q["executorRunTime"][1], q["executorRunTime"][2]
        except Exception:
            continue
        total_task_ms += int(s.get("executorRunTime", 0))
        if mx > worst["max_task_ms"]:
            worst = {
                "max_task_ms": int(mx),
                "med_task_ms": int(med),
                "n_tasks": s["numCompleteTasks"],
                "stage_id": key[0],
            }
    return {
        "wall": round(wall, 3),
        "rows_out": n_out,
        "shuffle_mb": round(m["shuffle_bytes_written"] / 1e6, 2),
        "total_task_ms": total_task_ms,
        "worst_stage": worst,
        "max_over_median": (
            round(worst["max_task_ms"] / max(worst["med_task_ms"], 1), 1)
        ),
        "skew_join_split": plan.count("skew=true"),
    }


def skew_drill() -> None:
    """VERDICT r7 item 1 — the 100 TB hazard rep-collapse can't cover:
    a corpus-hot shingle/gram/fingerprint/cell key coming from
    NEAR-identical documents (boilerplate with one varying token), so
    no exact-duplicate collapse applies and the hot key's full row
    population flows into every join keyed on it.

    Three corpora (sources/scalegen.py ensure_hotkey):
    - small  (sf0.01 x1, 50% hot; 500 docs): STRICT DuckDB oracle
      compare of all four skew-prone queries — results must stay exact
      on a skewed corpus.
    - big    (sf0.1 x4, 10% hot; 20k docs/vecs, 2k sharing every
      boilerplate key — a ~500x-df hot key): task-time skew
      measurement for all four queries.  10%, not 50%, because
      winnowing's pair OUTPUT is quadratic in the hot group BY
      SEMANTICS (every hot pair genuinely overlaps); the drill
      measures whether the ENGINE bounds per-task time under a hot
      key, not whether quadratic semantics become linear.
    - cell   (sf0.1 x4, 50% hot; 10k near-identical vectors in ONE
      k-means cell): semantic_dedup's worst case — the hot CELL —
      measured separately because its in-cell join is the heaviest
      skew shape (63M pairs through one cell_id key).

    The big/cell sessions run with the AQE skew-join thresholds scaled
    to the drill's partition sizes (1 MB / factor 2 +
    forceOptimizeSkewedJoin), emulating the at-scale regime where the
    256 MB / 5x defaults fire naturally; the monitoring API then
    reports max/median task time per stage, and the executed plans are
    searched for the ``skew=true`` split marks.  Writes ``skew_run``
    into SCALING.json; exactness failures raise."""
    import duckdb

    sys.path.insert(0, os.path.join(_HERE, "tests"))
    from oracle_utils import compare_frames

    from simplex_mapreduce_spark.sources.scalegen import ensure_hotkey

    rec: dict = {"queries": SKEW_QUERIES}

    # -------- part A: exactness on the skewed corpus (strict) -------- #
    spark = get_spark("simplex-skew-exact", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    small = ensure_hotkey(
        spark, "/root/testdata/sf0.01", SKEW_SMALL_DIR, replicate=1, hot_mod=2
    )
    duck = duckdb.connect()
    for t in ("documents", "embeddings"):
        duck.sql(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{small}/{t}.parquet/*.parquet')"
        )
    rec["small"] = {"corpus": "sf0.01 x1, hot_mod=2 (250/500 docs hot)"}
    fails = []
    for name in SKEW_QUERIES:
        spdf = registry.QUERIES[name](spark, small).toPandas()
        try:
            compare_frames(spdf, duck.sql(registry.ORACLES[name]).df(), name)
            ok = True
        except AssertionError as e:  # noqa: BLE001 — report-and-continue
            ok = False
            fails.append(name)
            print(f"FAIL {name}: {str(e)[:300]}")
        rec["small"][name] = {"rows": len(spdf), "oracle_match": ok}
        print(f"  skew-exact {name}: rows={len(spdf)} match={ok}", flush=True)
    spark.stop()

    # -------- part B: task-skew boundedness at scale ----------------- #
    skew_conf = {
        "spark.ui.enabled": "true",
        "spark.ui.retainedStages": "4000",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    spark = get_spark("simplex-skew-scale", extra_conf=skew_conf)
    spark.sparkContext.setLogLevel("ERROR")
    big = ensure_hotkey(
        spark, "/root/testdata/sf0.1", SKEW_BIG_DIR, replicate=4, hot_mod=10
    )
    rec["big"] = {
        "corpus": "sf0.1 x4, hot_mod=10 (2k/20k docs hot; hot key df ~2000)",
        "conf": skew_conf,
    }
    for name in SKEW_QUERIES:
        spark._jvm.System.gc()
        stats = run_with_task_stats(spark, name, big)
        rec["big"][name] = stats
        print(f"  skew-big {name}: {json.dumps(stats)}", flush=True)
    cell = ensure_hotkey(
        spark, "/root/testdata/sf0.1", SKEW_CELL_DIR, replicate=4, hot_mod=2
    )
    rec["cell"] = {
        "corpus": "sf0.1 x4, hot_mod=2 (10k/20k vectors in ONE k-means cell)",
    }
    spark._jvm.System.gc()
    stats = run_with_task_stats(spark, "semantic_dedup", cell)
    rec["cell"]["semantic_dedup"] = stats
    print(f"  skew-cell semantic_dedup: {json.dumps(stats)}", flush=True)
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    rec["note"] = (
        "All skew-prone queries strict-exact on the hot-key corpus; "
        "task-time distributions bounded (max/median 1.0-1.6 across the "
        "big-corpus runs). Round-8 catch: semantic_dedup's in-cell pair "
        "join ran the 10k-vector hot cell as ONE 46.6 s task (AQE "
        "skew-split never applies to broadcast pair joins); fixed with "
        "the salted triangle join, wall 48 -> ~6 s. Round-9 fix "
        "(VERDICT r8 item 6): winnowing_overlap's hash self-join "
        "inherited every hot fingerprint bucket whole — ~20 boilerplate "
        "fingerprints each fanned the same 2k-doc member set into m^2 "
        "pair rows (532 MB shuffle, 23.0 s wall, max/med 1.5). Replaced "
        "with identical-member-set bucket collapse (128-bit xor-"
        "reduction set digest, one weighted representative hash per "
        "distinct member set) + _capped_groups posexplode expansion: "
        "wall 16.7 s, shuffle 198 MB (-63%), max/med 1.0, pair set "
        "byte-identical (3,651,554 rows). The residual wall is NOT "
        "join skew: ~19 s-equivalent of per-doc fingerprint HOF compute "
        "(paid once at ingest by the stored winnow table in the "
        "production shape — winnowing_overlap_stored) plus the "
        "semantically-quadratic output (every hot pair GENUINELY "
        "overlaps: 3.65M true pairs vs peers' 21-33k, so wall-vs-peers "
        "is an output-size ratio, not an engine hazard)."
    )
    out["skew_run"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"skew_run": rec}))
    if fails:
        raise SystemExit(f"skew drill oracle failures: {fails}")


MIRRORFREE_DIR = os.path.join(_HERE, ".scaledata/mirrorfree_100x")


SF100_DIR = os.path.join(_HERE, ".scaledata/sf100")
SF100_QUERIES = ["topgram_repetition", "ngram_counts", "revenue_by_region"]
SF100_TABLES = (
    "documents", "region", "nation", "customer", "orders", "lineitem",
)


def sf100_probe() -> None:
    """1000x spot-check (VERDICT r7 item 6) of the three highest
    100x-ratio queries — topgram_repetition (12.5), ngram_counts
    (11.6), revenue_by_region (10.9) — confirming the ratios stay
    sub-linear at the next decade and the sf30 partition-sizing rule
    (3x cores) holds.  Generates sf100 as 10x of the existing sf10
    corpus (a 10-way union re-plan instead of a 1000-way one), only
    the six tables these queries scan (~17 GB).  Each query runs
    cold + steady (noop sink) plus a collect-less bit_xor-reduction
    metrics run for shuffle and SPILL bytes (the sf30 recipe).
    Writes sf100 columns + ratios into SCALING.json."""
    from pyspark.sql import functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    spark = get_spark("simplex-sf100", shuffle_partitions=3 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    ensure_scaled(spark, SRC, SF10_DIR, factor=100)
    ensure_scaled(spark, SF10_DIR, SF100_DIR, factor=10, tables=SF100_TABLES)
    print(f"sf100 data ready in {time.perf_counter() - t0:.0f}s", flush=True)
    out: dict = {"queries": {}}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
        out.setdefault("queries", {})
    for name in SF100_QUERIES:
        spark._jvm.System.gc()
        rec = out["queries"].setdefault(name, {})
        rec["sf100_cold"] = round(run_noop(spark, name, SF100_DIR), 3)
        rec["sf100_steady"] = round(run_noop(spark, name, SF100_DIR), 3)
        df = registry.QUERIES[name](spark, SF100_DIR)
        probe = df.select(F.xxhash64(*df.columns).alias("h")).agg(
            F.expr("bit_xor(h)")
        )
        probe.collect()
        m = executed_metrics(probe)
        rec["sf100_shuffle_mb"] = round(m["shuffle_bytes_written"] / 1e6, 2)
        rec["sf100_spill_mb"] = round(m["spill_bytes"] / 1e6, 1)
        if rec.get("sf0.1_steady"):
            rec["steady_ratio_sf100"] = round(
                rec["sf100_steady"] / rec["sf0.1_steady"], 2
            )
        print(
            f"  sf100 {name}: cold={rec['sf100_cold']} "
            f"steady={rec['sf100_steady']} "
            f"shuffleMB={rec['sf100_shuffle_mb']} "
            f"spillMB={rec['sf100_spill_mb']} "
            f"ratio={rec.get('steady_ratio_sf100')}",
            flush=True,
        )
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    spark.stop()


def hashed_gram_measurement() -> None:
    """VERDICT r7 item 4: measure the xxhash64 gram-key variant of
    duplicate_text_spans against the raw-string path on a MIRROR-FREE
    100x corpus (every doc distinct via per-replica marker tokens, no
    planted hot key, ensure_hotkey hot_mod=0) — on the mirror-heavy
    scaled corpora, rep-collapse shrinks the gram stream to the
    distinct-doc slice and hides most of the byte delta this variant
    exists to remove.  Equality of the two paths is asserted here at
    full scale (row count + order-insensitive xxhash64 reduction) and
    pinned at test scale in tests/test_text_extra.py.  Writes
    ``hashed_gram_run`` into SCALING.json."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.text import duplicate_text_spans
    from simplex_mapreduce_spark.sources.scalegen import ensure_hotkey

    spark = get_spark("hashed-grams")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    corpus = ensure_hotkey(
        spark, SRC, MIRRORFREE_DIR, replicate=100, hot_mod=0
    )
    print(f"mirror-free 100x ready in {time.perf_counter() - t0:.0f}s",
          flush=True)
    rec: dict = {"corpus": "sf0.1 x100 mirror-free (500k distinct docs)"}
    sigs = {}
    for label, hashed in (("string_keys", False), ("hashed_keys", True)):
        spark._jvm.System.gc()
        df = duplicate_text_spans(spark, corpus, hashed_gram_keys=hashed)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        cold = round(time.perf_counter() - t0, 3)
        df = duplicate_text_spans(spark, corpus, hashed_gram_keys=hashed)
        probe = df.select(
            F.xxhash64(*df.columns).alias("h"), F.lit(1).alias("one")
        ).agg(
            F.expr("bit_xor(h)").alias("sig"),
            F.expr("count(one)").alias("n"),
        )
        t0 = time.perf_counter()
        row = probe.collect()[0]
        steady = round(time.perf_counter() - t0, 3)
        m = executed_metrics(probe)
        sigs[label] = (row["sig"], row["n"])
        rec[label] = {
            "cold": cold,
            "steady": steady,
            "shuffle_mb": round(m["shuffle_bytes_written"] / 1e6, 2),
            "rows_out": row["n"],
        }
        print(f"  {label}: {json.dumps(rec[label])}", flush=True)
    assert sigs["string_keys"] == sigs["hashed_keys"], (
        "hashed-key path diverged from the string path at 100x: "
        f"{sigs}"
    )
    rec["paths_identical"] = True
    rec["shuffle_delta_mb"] = round(
        rec["string_keys"]["shuffle_mb"] - rec["hashed_keys"]["shuffle_mb"], 2
    )
    spark.stop()
    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out["hashed_gram_run"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"hashed_gram_run": rec}))


def winnow_ingest_timing() -> None:
    """At-ingest winnow table evidence: build wall
    at sf1, fresh-session re-attach wall (must be milliseconds — the
    CREATE TABLE ... LOCATION path, not a rebuild), append wall for a
    10%-of-corpus epoch, and the from-storage query wall vs inline.
    Writes ``winnow_ingest`` into SCALING.json."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.text import (
        WINNOW_FPS,
        winnow_pairs_from_table,
        winnowing_overlap,
    )

    rec: dict = {"sf": "sf1"}
    spark = get_spark("winnow-ingest-a")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_scaled(spark, SRC, SF1_DIR, factor=10)
    table = WINNOW_FPS.name(SF1_DIR)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    t0 = time.perf_counter()
    WINNOW_FPS.ensure(spark, SF1_DIR)
    rec["build_wall"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    winnow_pairs_from_table(spark, table).write.mode("overwrite").format(
        "noop"
    ).save()
    rec["stored_query_wall"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    winnowing_overlap(spark, SF1_DIR).write.mode("overwrite").format(
        "noop"
    ).save()
    rec["inline_query_wall"] = round(time.perf_counter() - t0, 3)
    # epoch append: re-ingest 10% of the corpus under shifted ids
    delta = (
        spark.read.parquet(f"{SF1_DIR}/documents.parquet")
        .filter("doc_id % 10 = 0")
        .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    )
    t0 = time.perf_counter()
    WINNOW_FPS.append(spark, delta, table)
    rec["append_wall_10pct"] = round(time.perf_counter() - t0, 3)
    spark.stop()

    # fresh session: the table must re-attach from the warehouse in
    # milliseconds, not rebuild (the append poisoned the fingerprint,
    # so WINNOW_FPS.ensure would rebuild — measure the ATTACH path
    # itself: WINNOW_FPS.attach + the from-storage query)
    spark = get_spark("winnow-ingest-b")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    assert WINNOW_FPS.attach(spark, table)
    rec["fresh_session_attach_wall"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    n = winnow_pairs_from_table(spark, table).count()
    rec["fresh_session_attach_and_query_wall"] = round(
        time.perf_counter() - t0, 3
    )
    rec["pairs_after_append"] = n
    # leave the table poisoned-clean for later runs: drop so the next
    # ensure rebuilds from the pristine directory
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out["winnow_ingest"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"winnow_ingest": rec}))


U100_DIR = os.path.join(_HERE, ".scaledata/unique_100x")
U1000_DIR = os.path.join(_HERE, ".scaledata/unique_1000x")
PAIR_PROBE_QUERIES = [
    "ngram_jaccard_neardup",
    "minhash_lsh_candidates",
    "duplicate_text_spans",
    "winnowing_overlap",  # 100x point only — see note
]


def sf100_pairs_probe() -> None:
    """VERDICT r8 item 1: the dedup pair-generation family measured at
    1000x on a corpus whose near-dup CLUSTER SIZE does not scale with
    corpus size (sources/scalegen.py unique-token-space mode) — the
    real-crawl shape, where the engine cost (shingling, signatures,
    index build, candidate generation) must be linear in corpus size
    while the pair output stays bounded.  Marker-token replication
    cannot measure this: it gives every doc replicate-1 GENUINE
    near-dups, so the 1000x output alone would be ~2.5B true pairs.

    Measures, per corpus (100x = 500k docs, 1000x = 5M docs): at-ingest
    shingle-table wall, then steady wall + shuffle for each pair query,
    recording the 1000x/100x ratio (near-linear = ~10).
    winnowing_overlap runs at the 100x point only: its per-doc
    fingerprint HOF pass dominates (~1 ms/doc measured standalone) and
    is embarrassingly parallel — the 1000x cost is 10x more of the same
    per-row compute with no join/shuffle term to probe, and the stored
    winnow table pays it once at ingest in production.  Writes
    ``sf100_pairs`` into SCALING.json."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.dedup import SHINGLES
    from simplex_mapreduce_spark.sources.scalegen import ensure_unique

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    spark = get_spark("simplex-sf100-pairs-gen", shuffle_partitions=3 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    ensure_unique(spark, SRC, U100_DIR, replicate=100, tag="r")
    ensure_unique(spark, U100_DIR, U1000_DIR, replicate=10, tag="s")
    print(f"unique corpora ready in {time.perf_counter() - t0:.0f}s",
          flush=True)
    spark.stop()
    rec: dict = {
        "corpus": "unique-token-space replication of sf0.1 documents "
        "(500k docs at 100x, 5M at 1000x; zero cross-replica similarity)",
        "shuffle_partitions": 3 * cpus,
    }

    def run_queries(label, sf_dir, names, crec):
        """One SESSION per phase: the sweep's retained shuffle files,
        checkpointed lineages and broadcasts are freed at session stop
        — a 20+ GB accumulation across the first sweep's five
        workloads hit the box's effective disk ceiling (the ENOSPC
        that killed the first attempt), so each phase pays only its
        own peak footprint."""
        spark = get_spark(
            f"simplex-sf100-pairs-{label}", shuffle_partitions=3 * cpus
        )
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        SHINGLES.ensure(spark, sf_dir)
        crec.setdefault(
            "ingest_wall", round(time.perf_counter() - t0, 3)
        )
        from simplex_mapreduce_spark.operators.text import (
            winnowing_overlap_capped,
        )

        extra = {"winnowing_overlap_capped": winnowing_overlap_capped}
        for name in names:
            spark._jvm.System.gc()
            try:
                # round-13 measurement fix: construction inside the
                # timed window — queries that localCheckpoint (the
                # winnow family) materialize upstream stages at
                # construction under AQE; the at-ingest table build is
                # still excluded (SHINGLES.ensure ran above).
                t0 = time.perf_counter()
                df = (registry.QUERIES.get(name) or extra[name])(
                    spark, sf_dir
                )
                probe = df.select(
                    F.xxhash64(*df.columns).alias("h"), F.lit(1).alias("one")
                ).agg(
                    F.expr("bit_xor(h)"), F.expr("count(one)").alias("n")
                )
                n_out = int(probe.collect()[0]["n"])
                wall = round(time.perf_counter() - t0, 3)
                m = executed_metrics(probe)
                crec[name] = {
                    "wall": wall,
                    "rows_out": n_out,
                    "shuffle_mb": round(m["shuffle_bytes_written"] / 1e6, 2),
                    "spill_mb": round(m["spill_bytes"] / 1e6, 1),
                    # round-14 advisory: the clock methodology is a
                    # per-row FIELD so rows are mechanically comparable
                    # — pre-r13 rows (no field) started the clock after
                    # query construction and under-measure checkpointing
                    # queries by the stages AQE materializes there.
                    "clock": "construction+action",
                }
            except Exception as e:  # noqa: BLE001 — record-and-continue
                crec[name] = {"error": str(e)[:300]}
            print(f"  {label} {name}: {json.dumps(crec[name])}", flush=True)
        spark.stop()

    core = [q for q in PAIR_PROBE_QUERIES if q != "winnowing_overlap"]
    rec["u100"] = {}
    run_queries("u100", U100_DIR, core, rec["u100"])
    rec["u1000"] = {}
    run_queries("u1000", U1000_DIR, core, rec["u1000"])
    # winnowing gets a dedicated session (heaviest per-doc compute) and
    # runs CAPPED (the MOSS boilerplate rule, winnowing_overlap_capped):
    # this corpus's template phrases each span ~1k docs per replica, so
    # the UNCAPPED pair stream is genuinely quadratic in phrase df —
    # measured 45+ GB of intermediate pairs from 500k docs before the
    # run was stopped (recorded in the note); the capped path is what a
    # deployment runs on template-dense data.
    run_queries("u100", U100_DIR, ["winnowing_overlap_capped"], rec["u100"])
    rec["winnowing_uncapped_note"] = (
        "winnowing_overlap (exact, uncapped) was attempted at u100 and "
        "stopped after writing 45+ GB of intermediate pair rows: every "
        "template phrase shared by ~1k docs within a replica generates "
        "df^2/2 TRUE pair rows per fingerprint class under the >= "
        "2-shared semantics. That is the corpus, not the engine — the "
        "same run completes in seconds with the standard MOSS "
        "boilerplate df-cap (max_df=64), and the registered uncapped "
        "query remains the exact verification surface on the driver "
        "corpora, where fingerprint dfs are small."
    )
    for name in PAIR_PROBE_QUERIES:
        a, b = rec["u100"].get(name), rec["u1000"].get(name)
        if a and b and "wall" in a and "wall" in b:
            rec.setdefault("final_decade_ratio", {})[name] = round(
                b["wall"] / max(a["wall"], 1e-9), 2
            )
    if rec["u100"].get("ingest_wall") and rec["u1000"].get("ingest_wall"):
        rec.setdefault("final_decade_ratio", {})["ingest"] = round(
            rec["u1000"]["ingest_wall"] / rec["u100"]["ingest_wall"], 2
        )
    spark.stop()
    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    # MERGE into the existing record: sibling probes (--u1000-sidecar,
    # --ppjoin-spill) file their evidence under sf100_pairs sub-keys,
    # and a full refresh must not clobber them (round-12 lesson — the
    # first refresh silently dropped u1000_ppjoin_posting and had to be
    # restored from git).  The merge is RECURSIVE on dict-valued keys:
    # probes that nest their evidence under sf100_pairs.u100/u1000
    # (e.g. a per-query rerun row) survive a full refresh too — a
    # shallow update here would preserve siblings but still clobber
    # nested sidecar rows (round-12 advisory).
    def _merge_dicts(base: dict, new: dict) -> dict:
        for k, v in new.items():
            if isinstance(v, dict) and isinstance(base.get(k), dict):
                _merge_dicts(base[k], v)
            else:
                base[k] = v
        return base

    out["sf100_pairs"] = _merge_dicts(out.get("sf100_pairs", {}), rec)
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"sf100_pairs": rec}))


def multimodal_measurement() -> None:
    """VERDICT r8 item 7: SCALING rows for the Arrow-batched multimodal
    surfaces — image feature extraction and phash near-dup pairs — at
    sf1 and sf10, measured at two ``spark.sql.execution.arrow.
    maxRecordsPerBatch`` settings.  The knob is the multimodal memory
    lever: each Arrow batch materializes batch_size x blob_size bytes
    on BOTH sides of the Python crossing per core, so with ~KB
    synthetic blobs the 10k default is ~tens of MB per in-flight batch
    per worker (fine), while real multi-MB images need the batch
    capped into the hundreds — this run documents the measured
    sensitivity so the production setting is a computed bound
    (target_batch_bytes / blob_size), not a guess.  Writes
    ``multimodal_run`` into SCALING.json."""
    rec: dict = {"queries": {}}
    for batch in (10000, 512):
        spark = get_spark(
            "simplex-multimodal",
            extra_conf={
                "spark.sql.execution.arrow.maxRecordsPerBatch": str(batch)
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        ensure_scaled(spark, SRC, SF1_DIR, factor=10)
        ensure_scaled(spark, SRC, SF10_DIR, factor=100)
        for label, sf_dir in (("sf1", SF1_DIR), ("sf10", SF10_DIR)):
            for name in (
                "multimodal_image_features",
                "multimodal_image_phash_pairs",
            ):
                spark._jvm.System.gc()
                df = registry.QUERIES[name](spark, sf_dir)
                t0 = time.perf_counter()
                n = df.count()
                wall = round(time.perf_counter() - t0, 3)
                rec["queries"].setdefault(name, {})[
                    f"{label}_batch{batch}"
                ] = {"wall": wall, "rows_out": n}
                print(f"  {name} {label} batch={batch}: {wall}s n={n}",
                      flush=True)
        spark.stop()
    rec["note"] = (
        "Blob sizes here are O(KB) (synthetic BMP/PPM derived from doc "
        "text), so the Arrow batch knob moves little at these sizes — "
        "the measurement pins that the pipeline is compute-bound, not "
        "batch-bound, at KB blobs; the production rule for multi-MB "
        "decode inputs is maxRecordsPerBatch ~= target_batch_bytes / "
        "blob_size (e.g. 64 MB / 4 MB JPEG = 16 records) to bound "
        "per-worker Arrow materialization."
    )
    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out["multimodal_run"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"multimodal_run": rec}))


def bpe_batched_measurement() -> None:
    """VERDICT r8 item 2 evidence: jobs-per-vocab for the batched BPE
    trainer.  At sf1 — the 10x corpus whose lexicon is the realistic
    per-iteration working set — learn 256 rules with m=8 (skip mode)
    and record scans + wall; learn the first 32 rules with the
    SEQUENTIAL loop for the per-rule cost comparison; and run EXACT
    mode for 64 rules to record how much batching provable equivalence
    achieves on real text (batch sizes adapt: early character merges
    interact heavily, later ones decouple).  Also asserts skip-mode
    m=8 and the sequential loop agree on rule 1 of every scan-aligned
    prefix they share by construction (rank-1 rules are always exact).
    Writes ``bpe_batched`` into SCALING.json."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.functions.textfn import tokens_col
    from simplex_mapreduce_spark.operators.text import (
        _learn_bpe_merges,
        _learn_bpe_merges_batched,
    )
    from simplex_mapreduce_spark.sources.tables import load_table

    spark = get_spark("bpe-batched-scale")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_scaled(spark, SRC, SF1_DIR, factor=10)

    def lexicon():
        d = load_table(spark, SF1_DIR, "documents")
        return (
            d.select(F.explode(tokens_col("text")).alias("w"))
            .filter(F.length("w") >= 2)
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("freq"))
            .select(F.split("w", "").alias("seq"), "freq")
            .localCheckpoint(eager=True)
        )

    rec: dict = {"sf": "sf1", "vocab_rules": 256, "m": 8}
    lex = lexicon()
    t0 = time.perf_counter()
    rules, scans = _learn_bpe_merges_batched(lex, n=256, m=8)
    rec["skip_wall"] = round(time.perf_counter() - t0, 3)
    rec["skip_scans"] = scans
    rec["skip_rules_learned"] = len(rules)
    rec["lexicon_exhausted"] = len(rules) < 256
    print(f"  skip m=8: {len(rules)} rules in {scans} scans, "
          f"{rec['skip_wall']}s", flush=True)

    t0 = time.perf_counter()
    seq_rules = _learn_bpe_merges(lex, 32)
    rec["sequential_wall_32"] = round(time.perf_counter() - t0, 3)
    rec["sequential_jobs_per_rule"] = 1
    rec["sequential_extrapolated_wall_256"] = round(
        rec["sequential_wall_32"] * 256 / 32, 1
    )
    print(f"  sequential 32 rules: {rec['sequential_wall_32']}s", flush=True)

    t0 = time.perf_counter()
    exact_rules, exact_scans = _learn_bpe_merges_batched(
        lex, n=64, m=8, exact=True
    )
    rec["exact_wall_64"] = round(time.perf_counter() - t0, 3)
    rec["exact_scans_64"] = exact_scans
    rec["exact_rules_64"] = len(exact_rules)
    # the provable-equivalence pin at scale: exact mode's 64 rules must
    # be the sequential loop's first 64 (prefix covers the 32 above)
    assert [r[1:] for r in exact_rules[:32]] == [r[1:] for r in seq_rules], (
        "exact-mode batched diverged from the sequential loop at sf1"
    )
    rec["exact_equals_sequential_prefix"] = True
    print(f"  exact 64 rules in {exact_scans} scans "
          f"({rec['exact_wall_64']}s)", flush=True)
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    rec["note"] = (
        "Jobs-per-vocab: on this corpus the lexicon EXHAUSTS at 90 "
        "learnable merges (small synthetic vocabulary of short words — "
        "every distinct word collapses to one symbol), so the measured "
        "claim is rules-to-exhaustion: skip m=8 learns all 90 in 14 "
        "scans (ceil(90/8)=12 is the floor; batches under-fill only "
        "near exhaustion) vs 90 sequential jobs, at 0.18 s/rule vs "
        "0.385 s/rule sequential — the scans-per-vocab ratio, not the "
        "wall, is what transfers to a 50k-merge production vocab "
        "(~200 scans at m=256). Exact mode (provably prefix-identical "
        "to the sequential loop, asserted here at sf1) adapts batch "
        "size to real merge interaction; 64 rules in 60 scans is the "
        "honest measure of how little batching exactness permits on "
        "early character-level merges — the skip approximation is the "
        "production path precisely because of this."
    )
    out["bpe_batched"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"bpe_batched": rec}))


def maintenance_timing() -> None:
    """SCALING evidence: refresh-vs-rebuild walls at
    sf1 for the three maintained stored artifacts — shingle table,
    winnow fingerprint table, IVF index.  Each artifact: build from
    'yesterday' (the ingest cost a deployment pays once), apply the
    deterministic diff (the steady-state refresh), rebuild from
    'today' (what the refresh replaces), and record the
    refresh/rebuild ratio plus the compaction stats.  Writes
    ``maintenance_refresh`` into SCALING.json.  Usage:
    ``python scale_bench.py --maintenance``."""
    from simplex_mapreduce_spark.operators.dedup import (
        SHINGLES,
        _maintained_corpus,
    )
    from simplex_mapreduce_spark.operators.similarity import (
        IVF_INDEX,
        _embeddings,
        _maintained_vectors,
        _vector_diff,
    )
    from simplex_mapreduce_spark.operators.text import WINNOW_FPS
    from simplex_mapreduce_spark.operators.versioning import corpus_diff
    from simplex_mapreduce_spark.sources.tables import load_table

    spark = get_spark("maintenance-timing")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_scaled(spark, SRC, SF1_DIR, factor=10)
    docs = load_table(spark, SF1_DIR, "documents").select("doc_id", "text")
    v2 = _maintained_corpus(docs)
    diff = corpus_diff(docs, v2).localCheckpoint(eager=True)
    rec: dict = {"sf": "sf1", "docs": docs.count()}
    scratch: list[str] = []

    def timed(fn):
        t0 = time.perf_counter()
        r = fn()
        return round(time.perf_counter() - t0, 2), r

    try:
        old_v = _embeddings(spark, SF1_DIR)
        new_v = _maintained_vectors(old_v)
        vdiff = _vector_diff(old_v, new_v).localCheckpoint(eager=True)
        for label, spec, old, new, d in (
            ("shingle", SHINGLES, docs, v2, diff),
            ("winnow", WINNOW_FPS, docs, v2, diff),
            ("ivf", IVF_INDEX, old_v, new_v, vdiff),
        ):
            tm, tr = f"maint_probe_{label}", f"maint_probe_{label}_rb"
            scratch += [tm, tr]
            build_wall, _ = timed(lambda: spec.build(spark, old, tm))
            maint_wall, stats = timed(
                lambda: spec.apply_diff(spark, d, new, tm, old=old)
            )
            rebuild_wall, _ = timed(lambda: spec.build(spark, new, tr))
            rec[label] = {
                "build_wall": build_wall,
                "refresh_wall": maint_wall,
                "rebuild_wall": rebuild_wall,
                "refresh_over_rebuild": round(
                    maint_wall / max(rebuild_wall, 1e-9), 3
                ),
                "stats": stats,
            }
            print(f"  {label}: {json.dumps(rec[label])}", flush=True)
    finally:
        for t in scratch:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.stop()

    rec["note"] = (
        "At sf1 the diff itself costs a fixed digest pass over both "
        "snapshots, so refresh/rebuild ratios here UNDERSTATE the "
        "at-scale win: compaction and append are delta-proportional "
        "while rebuild is corpus-proportional, and the delta here is "
        "~3/13 of the corpus by construction.  A 1e-4 delta against a "
        "100 TB corpus makes the ratio the delta fraction, not ~0.5."
    )
    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out["maintenance_refresh"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"maintenance_refresh": rec}))


def u1000_spans_hashed_probe() -> None:
    """VERDICT r9 item 1 re-measure: duplicate_text_spans' final
    decade (u100 -> u1000, the 5M-doc unique-token-space corpus) under
    the round-10 DEFAULT — 128-bit hashed gram keys — against the
    round-9 string-key record (SCALING.json sf100_pairs.u1000: 520.9 s
    wall, 26.6 GB shuffle, 81.4 GB spill, 437,000 rows).  Same probe
    harness as sf100_pairs (xxhash64 bit_xor + count over the output),
    one session per point.  rows_out must stay byte-identical
    (437,000 / 43,700).  Writes ``u1000_spans_hashed`` into
    SCALING.json.  Usage: ``python scale_bench.py --u1000-spans``."""
    from pyspark.sql import functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    rec: dict = {
        "gram_keys": "xxhash64 x2 (128-bit two-column), the round-10 "
        "default",
        "shuffle_partitions": 3 * cpus,
        "string_key_baseline_u1000": {
            "wall": 520.861, "shuffle_mb": 26605.91, "spill_mb": 81384.6,
        },
    }
    for label, sf_dir, want_rows in (
        ("u100", U100_DIR, 43700),
        ("u1000", U1000_DIR, 437000),
    ):
        assert os.path.isdir(sf_dir), (
            f"{sf_dir} missing — run --sf100-pairs first"
        )
        spark = get_spark(
            f"u1000-spans-hashed-{label}", shuffle_partitions=3 * cpus
        )
        spark.sparkContext.setLogLevel("ERROR")
        df = registry.QUERIES["duplicate_text_spans"](spark, sf_dir)
        t0 = time.perf_counter()
        probe = df.select(
            F.xxhash64(*df.columns).alias("h"), F.lit(1).alias("one")
        ).agg(F.expr("bit_xor(h)").alias("sig"), F.count("one").alias("n"))
        row = probe.collect()[0]
        wall = round(time.perf_counter() - t0, 3)
        m = executed_metrics(probe)
        rec[label] = {
            "wall": wall,
            "rows_out": int(row["n"]),
            "sig": int(row["sig"]),
            "shuffle_mb": round(m["shuffle_bytes_written"] / 1e6, 2),
            "spill_mb": round(m["spill_bytes"] / 1e6, 1),
        }
        print(f"  {label}: {json.dumps(rec[label])}", flush=True)
        spark.stop()
        assert rec[label]["rows_out"] == want_rows, (
            f"{label} rows_out {rec[label]['rows_out']} != {want_rows}: "
            "hashed default changed the span set"
        )
    rec["final_decade_ratio"] = round(
        rec["u1000"]["wall"] / max(rec["u100"]["wall"], 1e-9), 2
    )
    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out["u1000_spans_hashed"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"u1000_spans_hashed": rec}))


def cold_attach_measurement() -> None:
    """VERDICT r9 item 7 evidence: the cold-attach I/O lever on the
    stored pair tables.  The u1000 probe read jaccard cold-attach at
    354 s vs 111 s warm — a page-cache-evicted re-read of the 7.7 GB
    5M-doc shingle table.  This probe (a) inventories the table's
    per-COLUMN compressed bytes from parquet footers, (b) records each
    query path's actual ReadSchema (is Catalyst pruning the scan to
    the needed columns?), and (c) times a fresh-session attach of the
    minhash and jaccard pair queries with the page cache explicitly
    dropped vs intact.  The headline: the 'shingles' raw-string column
    (~1/3 of the table) is consumed by NEITHER pair path and the
    minhash path needs only the ~15%-of-bytes mh_*/doc_id slice — so
    pruned cold reads touch a fraction of the table, provided the
    ReadSchema stays pruned.  Writes ``cold_attach`` into
    SCALING.json.  Usage: ``python scale_bench.py --cold-attach``."""
    import collections
    import glob as _glob
    import subprocess

    import pyarrow.parquet as pq

    from simplex_mapreduce_spark.operators.dedup import (
        SHINGLES,
        jaccard_pairs_from_table,
        minhash_pairs_from_table,
    )
    from simplex_mapreduce_spark.plans.explain import scan_read_schema

    table = next(
        (a for a in sys.argv[2:] if not a.startswith("-")),
        "shingle_sets_unique_1000x",
    )
    loc = os.path.join(_HERE, "spark-warehouse", table)
    assert os.path.isdir(loc), (
        f"{loc} missing — build the stored table first (--sf100-pairs "
        "for the u1000 corpus, or pass an existing table name)"
    )

    col_bytes: collections.Counter = collections.Counter()
    for f in _glob.glob(f"{loc}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for c in range(g.num_columns):
                col = g.column(c)
                col_bytes[col.path_in_schema.split(".")[0]] += (
                    col.total_compressed_size
                )
    total_mb = round(sum(col_bytes.values()) / 1e6, 1)
    rec: dict = {
        "table": table,
        "table_mb": total_mb,
        "column_mb": {
            k: round(v / 1e6, 1) for k, v in sorted(col_bytes.items())
        },
    }
    print(f"  table {total_mb} MB; columns: {rec['column_mb']}", flush=True)

    def drop_page_cache() -> bool:
        try:
            subprocess.run(["sync"], check=True)
            with open("/proc/sys/vm/drop_caches", "w") as fh:
                fh.write("3")
            return True
        except Exception:  # noqa: BLE001 — container may forbid it
            return False

    paths = {
        "minhash": lambda spark: minhash_pairs_from_table(spark, table),
        "jaccard": lambda spark: jaccard_pairs_from_table(spark, table),
    }
    for label, fn in paths.items():
        entry: dict = {}
        for mode in ("cold", "warm"):
            dropped = drop_page_cache() if mode == "cold" else False
            spark = get_spark(f"cold-attach-{label}-{mode}")
            spark.sparkContext.setLogLevel("ERROR")
            t0 = time.perf_counter()
            # a fresh session's in-memory catalog has no table entry —
            # re-attachment is part of the cold-attach cost being read
            SHINGLES.attach(spark, table)
            df = fn(spark)
            n = df.count()
            wall = round(time.perf_counter() - t0, 1)
            cols = sorted(set(scan_read_schema(df)))
            spark.stop()
            read_mb = round(
                sum(col_bytes.get(c, 0) for c in cols) / 1e6, 1
            )
            entry[mode] = {
                "wall_sec": wall,
                "pairs": n,
                "page_cache_dropped": dropped,
                "read_schema": cols,
                "pruned_read_mb": read_mb,
            }
            print(f"  {label} {mode}: {wall}s, {n} pairs, reads "
                  f"{read_mb}/{total_mb} MB ({cols})", flush=True)
        rec[label] = entry
    rec["note"] = (
        "Cold-attach cost is proportional to the PRUNED column bytes, "
        "not the table: the ReadSchema lists exactly what each path "
        "touches, and the shingles raw-string column rides along for "
        "neither.  The remaining cold-vs-warm delta is page-cache "
        "I/O on those pruned bytes — a storage-layer knob (zstd "
        "compression, faster disks, locality), not a plan defect."
    )
    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out["cold_attach"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"cold_attach": rec}))


RICHVOCAB_DIR = os.path.join(_HERE, ".scaledata/richvocab")


def bpe_richvocab_measurement() -> None:
    """VERDICT r9 item 4 evidence: batched BPE at a PRODUCTION-shaped
    vocabulary.  The base synthetic corpus exhausts at 90 learnable
    merges, so the ~200-scans-for-50k-merges claim was extrapolation;
    the richvocab corpus (sources/scalegen.py: 60k distinct 4-12-letter
    words over a 16-letter alphabet, quadratic rank skew) makes
    thousands of merges learnable.  Measures skip-mode scans and wall
    for >=1k rules at m=64 and m=256, asserts scans is within a small
    epsilon of ceil(rules/m), and Counter-pins the first two m=64
    scans against the in-memory reference of the same walk
    (tests/test_text_extra._py_bpe_train_batched).  Writes
    ``bpe_richvocab`` into SCALING.json."""
    import sys as _sys

    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.functions.textfn import tokens_col
    from simplex_mapreduce_spark.operators.text import (
        _learn_bpe_merges_batched,
    )
    from simplex_mapreduce_spark.sources.scalegen import ensure_richvocab
    from simplex_mapreduce_spark.sources.tables import load_table

    _sys.path.insert(0, os.path.join(_HERE, "tests"))
    from test_text_extra import _corpus_word_freqs, _py_bpe_train_batched

    spark = get_spark("bpe-richvocab-scale")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_richvocab(spark, RICHVOCAB_DIR, n_docs=20_000)

    def lexicon():
        d = load_table(spark, RICHVOCAB_DIR, "documents")
        return (
            d.select(F.explode(tokens_col("text")).alias("w"))
            .filter(F.length("w") >= 2)
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("freq"))
            .select(F.split("w", "").alias("seq"), "freq")
            .localCheckpoint(eager=True)
        )

    rec: dict = {"corpus": "richvocab", "n_docs": 20_000, "vocab": 60_000}
    lex = lexicon()
    rec["lexicon_rows"] = lex.count()

    # Counter pin: the first two m=64 scans must equal the in-memory
    # reference walk on the exact word-frequency table.
    wf = _corpus_word_freqs(RICHVOCAB_DIR)
    py_rules = _py_bpe_train_batched(wf, scans=2, m=64)
    sp_rules, sp_scans = _learn_bpe_merges_batched(lex, scans=2, m=64)
    assert sp_rules == py_rules, (
        f"richvocab skip-mode diverged from the Counter reference: "
        f"{sp_rules[:3]} vs {py_rules[:3]}"
    )
    rec["counter_pin_rules"] = len(py_rules)
    print(f"  Counter pin: {len(py_rules)} rules over 2 scans match",
          flush=True)

    for m in (64, 256):
        target = 1024
        lex = lexicon()
        t0 = time.perf_counter()
        rules, scans = _learn_bpe_merges_batched(lex, n=target, m=m)
        wall = round(time.perf_counter() - t0, 3)
        floor = math.ceil(len(rules) / m)
        rec[f"m{m}"] = {
            "rules_learned": len(rules),
            "scans": scans,
            "scans_floor": floor,
            "scan_efficiency": round(scans / floor, 3) if floor else None,
            "wall_sec": wall,
            "sec_per_rule": round(wall / max(len(rules), 1), 4),
        }
        print(f"  skip m={m}: {len(rules)} rules in {scans} scans "
              f"(floor {floor}), {wall}s", flush=True)
        assert len(rules) >= 1000, (
            f"richvocab corpus still exhausts early at m={m}: "
            f"{len(rules)} rules"
        )
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    rec["note"] = (
        "Production-vocab evidence for the batched trainer.  m=64: "
        "scans ~= ceil(rules/m) within 1.4x — the scans-per-vocab "
        "claim holds, so a 50k-merge vocab is a few hundred to ~1k "
        "Spark jobs, not 50k.  m=256 under-fills on THIS corpus "
        "(scan_efficiency 5.0): pairwise-symbol-disjoint acceptance "
        "is capped by the 16-letter alphabet early on (each accept "
        "touches l, r, and l||r), so batches start near "
        "alphabet-size/2 and widen only as merged symbols enrich the "
        "symbol space — larger m buys nothing until the symbol "
        "inventory grows; a real byte-level tokenizer (256-symbol "
        "base) fills m=256 batches correspondingly earlier.  The "
        "Counter pin re-proves the walk semantics on this corpus "
        "shape."
    )
    out["bpe_richvocab"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"bpe_richvocab": rec}))


def u1000_sidecar_measurement() -> None:
    """VERDICT r10 item 5: the round-9 u1000 jaccard row (354 s
    cold-attach / 111 s warm over the 5M-doc unique-token-space stored
    table) predates the round-10 mirror-group sidecars.  Re-measure
    the pair family through the SIDECAR read path on a quiet box: one
    fresh session, page cache explicitly dropped before the cold
    sample, then a warm re-run of the identical plan in-session.  The
    ingest is a fingerprint re-attach (the r9 table survived; its
    sidecars were re-stamped under the round-11 epoch discipline), so
    the numbers isolate the QUERY path.  Writes
    ``sf100_pairs.u1000_sidecar`` into SCALING.json.
    Usage: ``python scale_bench.py --u1000-sidecar``."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.dedup import (
        MIRROR_GROUP_CAP,
        SHINGLES,
        _stored_groups,
    )

    def drop_page_cache() -> bool:
        try:
            os.system("sync")
            with open("/proc/sys/vm/drop_caches", "w") as fh:
                fh.write("3\n")
            return True
        except OSError:
            return False

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    spark = get_spark(
        "simplex-u1000-sidecar", shuffle_partitions=3 * cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    table = SHINGLES.ensure(spark, U1000_DIR)
    attach_wall = round(time.perf_counter() - t0, 3)
    sidecar_ok = {
        kind: _stored_groups(spark, table, kind, MIRROR_GROUP_CAP)
        is not None
        for kind in ("dg", "sg")
    }
    rec: dict = {
        "attach_wall": attach_wall,
        "sidecar_valid": sidecar_ok,
        "shuffle_partitions": 3 * cpus,
    }
    assert all(sidecar_ok.values()), f"sidecars not valid: {sidecar_ok}"

    for name in ("ngram_jaccard_neardup", "minhash_lsh_candidates"):
        rec[name] = {}
        for mode in ("cold_attach", "warm"):
            spark._jvm.System.gc()
            dropped = drop_page_cache() if mode == "cold_attach" else False
            df = registry.QUERIES[name](spark, U1000_DIR)
            t0 = time.perf_counter()
            probe = df.select(
                F.xxhash64(*df.columns).alias("h"), F.lit(1).alias("one")
            ).agg(F.expr("bit_xor(h)"), F.expr("count(one)").alias("n"))
            n_out = int(probe.collect()[0]["n"])
            wall = round(time.perf_counter() - t0, 3)
            m = executed_metrics(probe)
            rec[name][mode] = {
                "wall": wall,
                "rows_out": n_out,
                "shuffle_mb": round(m["shuffle_bytes_written"] / 1e6, 2),
                "spill_mb": round(m["spill_bytes"] / 1e6, 1),
                "page_cache_dropped": dropped,
            }
            print(f"  u1000_sidecar {name} {mode}: "
                  f"{json.dumps(rec[name][mode])}", flush=True)
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out.setdefault("sf100_pairs", {})["u1000_sidecar"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"u1000_sidecar": rec}))


def ppjoin_spill_measurement() -> None:
    """VERDICT r11 item 1: the u1000 PPJoin spill (~18.8 GB,
    sf100_pairs.u1000_sidecar).  Per-stage diagnosis (--ppjoin-stages)
    located it in the VERIFY joins — the (pairs x sh_a) intermediate's
    sort-merge sort — not candidate generation; the round-12 fix is
    shuffle_hash builds on those joins (dedup.py ngram_jaccard_pairs).
    This measurement runs the shipped plan (self-join candidates +
    hash-build verify) cold-attach + warm, and the posting-list
    candidate ALTERNATIVE (built for this investigation, rejected on
    measurement) warm, against the SAME 5M-doc stored shingle table in
    fresh-session conditions, asserting the xor-hash of the full pair
    output is IDENTICAL so every delta is attributable to plan shape
    alone.  Writes ``sf100_pairs.u1000_ppjoin_posting`` keyed by heap
    into SCALING.json.  Usage:
    ``SPARK_DRIVER_MEMORY={16g,48g} python scale_bench.py
    --ppjoin-spill``."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators import dedup
    from simplex_mapreduce_spark.operators.dedup import (
        SHINGLES,
        _prefix_candidates_posting,
    )

    def drop_page_cache() -> bool:
        try:
            os.system("sync")
            with open("/proc/sys/vm/drop_caches", "w") as fh:
                fh.write("3\n")
            return True
        except OSError:
            return False

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    rec: dict = {"shuffle_partitions": 3 * cpus, "heap": heap}

    def one_session(label: str, candidates_fn, cold: bool) -> dict:
        """One fresh session per measured point — the
        sf100_pairs/u1000_sidecar discipline (retained JVM state taxes
        in-session reruns unpredictably; session_health_runs)."""
        spark = get_spark(
            f"simplex-ppjoin-{label}", shuffle_partitions=3 * cpus
        )
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        SHINGLES.ensure(spark, U1000_DIR)
        attach = round(time.perf_counter() - t0, 3)
        orig = dedup.prefix_candidates
        dedup.prefix_candidates = candidates_fn
        try:
            out = {}
            for mode in (["cold_attach"] if cold else []) + ["warm"]:
                spark._jvm.System.gc()
                dropped = (
                    drop_page_cache() if mode == "cold_attach" else False
                )
                df = registry.QUERIES["ngram_jaccard_neardup"](
                    spark, U1000_DIR
                )
                t0 = time.perf_counter()
                probe = df.select(
                    F.xxhash64(*df.columns).alias("h"),
                    F.lit(1).alias("one"),
                ).agg(
                    F.expr("bit_xor(h)").alias("xh"),
                    F.expr("count(one)").alias("n"),
                )
                row = probe.collect()[0]
                wall = round(time.perf_counter() - t0, 3)
                m = executed_metrics(probe)
                out[mode] = {
                    "wall": wall,
                    "rows_out": int(row["n"]),
                    "pairs_xor_hash": int(row["xh"]),
                    "shuffle_mb": round(
                        m["shuffle_bytes_written"] / 1e6, 2
                    ),
                    "spill_mb": round(m["spill_bytes"] / 1e6, 1),
                    "page_cache_dropped": dropped,
                    "attach_wall": attach,
                }
                print(
                    f"  ppjoin {label} {mode}: {json.dumps(out[mode])}",
                    flush=True,
                )
        finally:
            dedup.prefix_candidates = orig
            spark.stop()
        return out

    rec["selfjoin_shipped"] = one_session(
        "selfjoin", dedup.prefix_candidates, True
    )
    rec["posting_alternative"] = one_session(
        "posting", _prefix_candidates_posting, False
    )
    ph, lh = (
        rec["posting_alternative"]["warm"]["pairs_xor_hash"],
        rec["selfjoin_shipped"]["warm"]["pairs_xor_hash"],
    )
    assert ph == lh and (
        rec["posting_alternative"]["warm"]["rows_out"]
        == rec["selfjoin_shipped"]["warm"]["rows_out"]
    ), f"output diverged: posting {ph} vs selfjoin {lh}"
    rec["identical_output"] = True

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out.setdefault("sf100_pairs", {}).setdefault(
        "u1000_ppjoin_posting", {}
    )[f"heap_{heap}"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"u1000_ppjoin_posting": {f"heap_{heap}": rec}}))


def ppjoin_stage_diagnosis() -> None:
    """Per-stage spill/shuffle breakdown of the u1000 jaccard run —
    the diagnostic behind the round-12 spill work: WHICH stage spills
    (candidate generation? the verify joins' sort-merge sorts? the
    positional aggregate?), for each candidate formulation, at the
    heap the env provides.  Prints one line per stage with input /
    shuffle-write / disk-spill / run-time; writes nothing to
    SCALING.json (diagnosis, not evidence).
    Usage: ``SPARK_DRIVER_MEMORY=16g python scale_bench.py
    --ppjoin-stages [--selfjoin]``."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators import dedup
    from simplex_mapreduce_spark.operators.dedup import (
        SHINGLES,
        _prefix_candidates_posting,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    spark = get_spark(
        "simplex-ppjoin-stages",
        shuffle_partitions=3 * cpus,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    SHINGLES.ensure(spark, U1000_DIR)
    if "--posting" in sys.argv:
        dedup.prefix_candidates = _prefix_candidates_posting
        print("formulation: posting_alternative", flush=True)
    else:
        print("formulation: selfjoin_shipped", flush=True)
    df = registry.QUERIES["ngram_jaccard_neardup"](spark, U1000_DIR)
    before = set(_completed_stages(spark))
    probe = df.select(
        F.xxhash64(*df.columns).alias("h"), F.lit(1).alias("one")
    ).agg(F.expr("bit_xor(h)"), F.expr("count(one)").alias("n"))
    t0 = time.perf_counter()
    n = int(probe.collect()[0]["n"])
    wall = round(time.perf_counter() - t0, 3)
    print(f"wall {wall}s rows {n}", flush=True)
    rows = []
    for key, s in sorted(_completed_stages(spark).items()):
        if key in before or s.get("numCompleteTasks", 0) == 0:
            continue
        rows.append({
            "stage": key[0],
            "tasks": s["numCompleteTasks"],
            "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
            "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
            "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
            "disk_spill_mb": round(s.get("diskBytesSpilled", 0) / 1e6, 1),
            "mem_spill_mb": round(s.get("memoryBytesSpilled", 0) / 1e6, 1),
            "run_ms": s.get("executorRunTime", 0),
            "name": s.get("name", "")[:80],
        })
    for r in rows:
        print(json.dumps(r), flush=True)
    spark.stop()


def winnow_stage_diagnosis() -> None:
    """Per-stage spill/shuffle breakdown of the u100 capped-winnowing
    run — the round-13 analog of --ppjoin-stages (VERDICT r12 item 1):
    winnowing_overlap_capped reads 504 s / 8.1 GB spill at u100 on the
    16g reference heap, 36x the jaccard wall on the same corpus, and
    the question is WHICH stage pays it — the fingerprint HOF pass,
    the (doc_id, h) distinct shuffles (the stream is derived from fp
    three times), the semi/anti joins of the full hash stream against
    the slim class table (sort-merge would sort the 50M-row stream),
    the _capped_groups window sort, or the pair-expansion joins.
    Prints one line per stage; writes nothing to SCALING.json
    (diagnosis, not evidence).  Usage:
    ``SPARK_DRIVER_MEMORY=16g python scale_bench.py --winnow-stages``."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.text import (
        winnowing_overlap_capped,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    spark = get_spark(
        "simplex-winnow-stages",
        shuffle_partitions=3 * cpus,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = winnowing_overlap_capped(spark, U100_DIR)
    before = set(_completed_stages(spark))
    probe = df.select(
        F.xxhash64(*df.columns).alias("h"), F.lit(1).alias("one")
    ).agg(F.expr("bit_xor(h)"), F.expr("count(one)").alias("n"))
    t0 = time.perf_counter()
    n = int(probe.collect()[0]["n"])
    wall = round(time.perf_counter() - t0, 3)
    print(f"wall {wall}s rows {n}", flush=True)
    for key, s in sorted(_completed_stages(spark).items()):
        if key in before or s.get("numCompleteTasks", 0) == 0:
            continue
        print(
            json.dumps({
                "stage": key[0],
                "tasks": s["numCompleteTasks"],
                "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
                "sh_write_mb": round(
                    s.get("shuffleWriteBytes", 0) / 1e6, 1
                ),
                "disk_spill_mb": round(
                    s.get("diskBytesSpilled", 0) / 1e6, 1
                ),
                "mem_spill_mb": round(
                    s.get("memoryBytesSpilled", 0) / 1e6, 1
                ),
                "run_ms": s.get("executorRunTime", 0),
                "name": s.get("name", "")[:80],
            }),
            flush=True,
        )
    spark.stop()


def ingest_phase_diagnosis() -> None:
    """Per-phase cost breakdown of the stored shingle-table INGEST at
    u100 (500k docs) — VERDICT r13 item 1: the u1000 ingest wall
    (1113.8 s) is the largest unoptimized at-scale cost and needs a
    profile before a fix.  Decomposes the build into (a) the base
    shingling pass (tokenize + n-gram + array_distinct + xxhash64,
    persisted), (b) the heavy-hitter df aggregate, and (c) each stored
    COLUMN FAMILY's incremental projection cost over the cached base
    (ordered_ids map-probe transform, set_digest md5(to_json), the
    MINHASH_K md5 array transforms), then (d) the bucketed write and
    sidecar passes — all noop-sink timed (guide §1.4) except the real
    writes.  Writes ``ingest_stage_profile.u100`` into SCALING.json.
    Usage: ``python scale_bench.py --ingest-stages``."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators import dedup
    from simplex_mapreduce_spark.sources.bucketing import (
        sidecar_path,
        write_bucketed,
    )
    from simplex_mapreduce_spark.sources.tables import load_table

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    spark = get_spark("simplex-ingest-stages", shuffle_partitions=3 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, U100_DIR, "documents")
    phases: dict = {}

    def clock(label, fn):
        spark.sparkContext.setJobDescription(f"ingest: {label}")
        t0 = time.perf_counter()
        r = fn()
        phases[label] = round(time.perf_counter() - t0, 3)
        print(f"  {label}: {phases[label]}s", flush=True)
        spark.sparkContext.setJobDescription(None)
        return r

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    base = dedup.shingle_base(docs)
    clock("base_pass(tokenize+shingle+distinct+xxhash64,persist)", noop(base))
    hot = dedup.hot_df_rows(base)
    clock("hot_df(explode+groupBy+top4096)", noop(hot))
    hot_map = dedup.hot_df_map(hot)
    sets = dedup.shingle_sets(base=base, hot_map=hot_map)
    sets.unpersist()  # measure each projection from the SAME base cache
    # incremental column-family costs (each = cache-read floor + that
    # family's expression work; subtract the floor row to isolate)
    clock("proj_floor(doc_id+sh_ids from cache)",
          noop(sets.select("doc_id", "sh_ids")))
    clock("proj_ordered_ids", noop(sets.select("doc_id", "ordered_ids")))
    clock("proj_set_digest",
          noop(sets.select("doc_id", F.md5(F.to_json("sh_ids")))))
    clock("proj_minhash(8x md5 transforms)",
          noop(sets.select("doc_id", *dedup.minhash_cols())))
    full = dedup.shingle_table_rows(sets)
    clock("proj_full(write input)", noop(full))
    table = "shingle_sets_probe_u100"
    spec = dedup.SHINGLES
    clock("write_bucketed(16)", lambda: write_bucketed(
        full, table, spec.bucket_col, spec.n_buckets, spec.sort_key,
    ))
    clock("hotdf_sidecar_write", lambda: dedup.hot_df_rows(base)
          .write.mode("overwrite").parquet(sidecar_path(spark, table, "hotdf")))
    clock("group_sidecars_refresh",
          lambda: spec.refresh_sidecars(spark, table))
    base.unpersist()
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.stop()

    rec = {
        "corpus": "unique_100x (500k docs)",
        "shuffle_partitions": 3 * cpus,
        "clock": "construction+action",
        "phases_sec": phases,
        "note": "proj_* rows share the proj_floor cache-read cost; the "
        "family's own cost is the delta over proj_floor.",
    }
    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out.setdefault("ingest_stage_profile", {})["u100"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"ingest_stage_profile": rec}))


def fuzzy_u100_measurement() -> None:
    """VERDICT r11 item 2: the symmetric-delete fuzzy join one decade
    past sf1 — >= 1.5M names.  The replica generator is the wrong
    corpus here (replicas keep c_name byte-identical, so every replica
    pair is a distance-0 result and OUTPUT grows quadratically in the
    factor: u100 would be ~2.7B true pairs — corpus cost, not engine
    cost).  Instead: the DENSE distinct-name corpus, 'Customer#' +
    lpad(id, 9, '0') over ids 1..N — every one-digit variant that fits
    the range is present, so this is the worst-case digit-neighbor
    density with output linear in N, and the same family as the
    n-independence unit test (tests/test_entity.py), now at 10x sf1
    scale.  Records, at N=150k and N=1.5M: wall / shuffle / spill /
    rows_out, the max deletion-key block size (the lemma's claimed
    corpus-size-independent structural constant, measured), and a
    DuckDB unblocked-naive completeness + distance soundness check on
    the id%50 subset (30k names = 4.5e8 naive probes — tractable
    cross-engine).  Writes ``fuzzy_symmetric_delete.u100`` (+ a
    re-measured dense_150k twin for the decade ratio) into
    SCALING.json.  Usage: ``python scale_bench.py --fuzzy-u100``."""
    import duckdb
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.entity import (
        _deletion_neighborhood_expr,
        blocked_fuzzy_self_join,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    spark = get_spark("simplex-fuzzy-u100", shuffle_partitions=3 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def corpus(n: int):
        return spark.range(1, n + 1).select(
            F.col("id"),
            F.concat(
                F.lit("Customer#"),
                F.lpad(F.col("id").cast("string"), 9, "0"),
            ).alias("name"),
        )

    def max_block(n: int) -> int:
        return int(
            corpus(n)
            .select(
                F.explode(
                    F.expr(_deletion_neighborhood_expr("name", 1))
                ).alias("v")
            )
            .groupBy(F.xxhash64("v"))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )

    rec: dict = {"shuffle_partitions": 3 * cpus}
    for label, n in (("dense_150k", 150_000), ("u100_dense_1500k", 1_500_000)):
        df = corpus(n)
        pairs = blocked_fuzzy_self_join(df, "id", "name", max_distance=1)
        t0 = time.perf_counter()
        probe = pairs.select(
            F.xxhash64(*pairs.columns).alias("h"), F.lit(1).alias("one")
        ).agg(F.expr("bit_xor(h)"), F.expr("count(one)").alias("cnt"))
        n_out = int(probe.collect()[0]["cnt"])
        wall = round(time.perf_counter() - t0, 3)
        m = executed_metrics(probe)
        rec[label] = {
            "names": n,
            "wall": wall,
            "rows_out": n_out,
            "shuffle_mb": round(m["shuffle_bytes_written"] / 1e6, 2),
            "spill_mb": round(m["spill_bytes"] / 1e6, 1),
            "max_deletion_block": max_block(n),
        }
        print(f"  fuzzy {label}: {json.dumps(rec[label])}", flush=True)

    # completeness + soundness on the id%50 subset of the 1.5M corpus:
    # DuckDB runs the UNBLOCKED naive join (the blocking is an
    # optimization, so the subset equality is a no-lost-pairs proof at
    # this scale), and every emitted pair's distance re-verifies
    sub_pdf = (
        corpus(1_500_000).filter(F.col("id") % 50 == 0).toPandas()
    )
    duck = duckdb.connect()
    duck.register("names", sub_pdf)
    t0 = time.perf_counter()
    naive = {
        tuple(r)
        for r in duck.sql(
            """
            SELECT a.id, b.id, levenshtein(a.name, b.name)
            FROM names a JOIN names b
              ON a.id < b.id AND levenshtein(a.name, b.name) <= 1
            """
        ).fetchall()
    }
    naive_wall = round(time.perf_counter() - t0, 2)
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in blocked_fuzzy_self_join(
            corpus(1_500_000).filter(F.col("id") % 50 == 0),
            "id", "name", max_distance=1,
        ).collect()
    }
    rec["subset_check"] = {
        "names": len(sub_pdf),
        "naive_pairs": len(naive),
        "blocked_pairs": len(got),
        "equal": got == naive,
        "naive_wall": naive_wall,
    }
    print(f"  fuzzy subset: {json.dumps(rec['subset_check'])}", flush=True)
    assert got == naive, "blocked join lost or invented pairs on subset"
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out.setdefault("fuzzy_symmetric_delete", {})["u100"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"fuzzy_u100": rec}))


def winnow_u100_refresh() -> None:
    """VERDICT r12 item 1 evidence row: re-measure
    winnowing_overlap_capped at u100 after the round-13 rework
    (vectorized numpy window selection + (doc_id, h) stream
    checkpoint), in a fresh session with the same probe shape as the
    sf100_pairs sweep, asserting rows_out is byte-count-identical to
    the r12 row (7,721,604) and recording the pair-output xor-hash.
    Merges into ``sf100_pairs.u100.winnowing_overlap_capped``
    (recursive merge — sibling rows survive).  Usage:
    ``SPARK_DRIVER_MEMORY=16g python scale_bench.py --winnow-u100``."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.text import (
        winnowing_overlap_capped,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    spark = get_spark("simplex-winnow-u100", shuffle_partitions=3 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # round-13 measurement fix: time CONSTRUCTION + action.  The winnow
    # entry points localCheckpoint(eager=False), and under AQE the
    # checkpoint's toRdd materializes every upstream exchange AT
    # CONSTRUCTION — the old probe (t0 after construction) silently
    # excluded the fingerprint md5 pass + hs exchange from the wall.
    # Pre-fix rows in SCALING.json under-measure by that amount.
    t0 = time.perf_counter()
    df = winnowing_overlap_capped(spark, U100_DIR)
    probe = df.select(
        F.xxhash64(*df.columns).alias("h"), F.lit(1).alias("one")
    ).agg(F.expr("bit_xor(h)").alias("xh"), F.expr("count(one)").alias("n"))
    row = probe.collect()[0]
    wall = round(time.perf_counter() - t0, 3)
    m = executed_metrics(probe)
    rec = {
        "wall": wall,
        "rows_out": int(row["n"]),
        "pairs_xor_hash": int(row["xh"]),
        "shuffle_mb": round(m["shuffle_bytes_written"] / 1e6, 2),
        "spill_mb": round(m["spill_bytes"] / 1e6, 1),
        "heap": heap,
        "note": (
            "round-13 optimization pass, measured with the fixed "
            "construction-inclusive clock (older rows under-measure: "
            "the t0-after-construction probes let AQE materialize the "
            "fingerprint md5 pass + hs exchange outside the wall).  "
            "_winnow_overlap_pairs rework on top of the vectorized "
            "window selection: per-doc array_distinct before the "
            "explode (kills the global (doc_id,h) distinct), ONE "
            "h-repartition shared by df-aggregate/semi-join/window, "
            "n_hv = size(vals) minus an overcap-subset count, slim "
            "long-array checkpoint instead of pos:hash strings, and "
            "localCheckpoints on the shared group/shared-hash frames "
            "(the executed plan previously re-planned those subtrees "
            "per consumer — zero ReusedExchange).  Same-box full-wall "
            "A/B at 16g: u100 118.4 -> 110.3 s (fingerprinting "
            "dominates here), shuffle 3184 -> 1553 MB, spill 8072 -> "
            "3523 MB, exchanges 14 -> 7; u1000 1212.5 -> 856.7 s, "
            "shuffle 28289 -> 6486 MB, spill 251201 -> 23819 MB, 24 -> "
            "17 exchanges.  Pair output xor-hash identical in every "
            "cell."
        ),
    }
    print(f"  winnow u100 refresh: {json.dumps(rec)}", flush=True)
    assert rec["rows_out"] == 7_721_604, (
        f"rows_out moved: {rec['rows_out']} != 7721604"
    )
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out.setdefault("sf100_pairs", {}).setdefault("u100", {})[
        "winnowing_overlap_capped"
    ] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"winnow_u100": rec}))


def winnow_u1000_probe() -> None:
    """Round-13 stretch evidence: the FIRST u1000 (5M-doc) point for
    capped winnowing — previously skipped because the per-doc HOF
    fingerprint pass dominated (~11 ms/doc x 5M docs); the vectorized
    selection makes the decade measurable.  Fresh session, same probe
    shape as the u100 row; records wall / rows / xor / shuffle / spill
    and the u1000/u100 ratio.  Merges into
    ``sf100_pairs.u1000.winnowing_overlap_capped``.  Usage:
    ``SPARK_DRIVER_MEMORY=16g python scale_bench.py --winnow-u1000``."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.text import (
        winnowing_overlap_capped,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    spark = get_spark("simplex-winnow-u1000", shuffle_partitions=3 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # round-13 measurement fix: construction + action — see
    # winnow_u100_refresh for the AQE/localCheckpoint rationale.
    t0 = time.perf_counter()
    df = winnowing_overlap_capped(spark, U1000_DIR)
    probe = df.select(
        F.xxhash64(*df.columns).alias("h"), F.lit(1).alias("one")
    ).agg(F.expr("bit_xor(h)").alias("xh"), F.expr("count(one)").alias("n"))
    row = probe.collect()[0]
    wall = round(time.perf_counter() - t0, 3)
    m = executed_metrics(probe)
    rec = {
        "wall": wall,
        "rows_out": int(row["n"]),
        "pairs_xor_hash": int(row["xh"]),
        "shuffle_mb": round(m["shuffle_bytes_written"] / 1e6, 2),
        "spill_mb": round(m["spill_bytes"] / 1e6, 1),
        "heap": heap,
    }
    print(f"  winnow u1000: {json.dumps(rec)}", flush=True)
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    sp = out.setdefault("sf100_pairs", {})
    u100 = sp.get("u100", {}).get("winnowing_overlap_capped", {})
    if u100.get("wall"):
        rec["decade_ratio_vs_u100"] = round(rec["wall"] / u100["wall"], 2)
    sp.setdefault("u1000", {})["winnowing_overlap_capped"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"winnow_u1000": rec}))


def minhash_heap_profile() -> None:
    """VERDICT r12 item 2: the minhash u1000 heap-sensitivity watch
    item — wall moved 49.5 s (48g) -> 109.5 s (16g) with ZERO spill
    both ways, and heap sensitivity WITHOUT spill suggests GC pressure
    (the signature path carries 8 x 32-char md5 strings per doc; the
    band explode turns 5M docs into 20M small-string rows through one
    groupBy).  This mode attributes it: runs the u1000 minhash query
    twice in a fresh session at the heap the env provides, recording
    wall, JVM GC time delta (GarbageCollectorMXBeans — in local mode
    the driver JVM IS the executor), spill, and the top stages by run
    time.  Writes ``sf100_pairs.u1000.minhash_heap.heap_<H>`` into
    SCALING.json.  Usage: ``SPARK_DRIVER_MEMORY={16g,48g} python
    scale_bench.py --minhash-heap``."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.dedup import SHINGLES

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    spark = get_spark(
        "simplex-minhash-heap",
        shuffle_partitions=3 * cpus,
        extra_conf={"spark.ui.enabled": "true"},  # stage REST endpoint
    )
    spark.sparkContext.setLogLevel("ERROR")

    def gc_ms() -> int:
        beans = (
            spark._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        return sum(
            beans.get(i).getCollectionTime() for i in range(beans.size())
        )

    t0 = time.perf_counter()
    SHINGLES.ensure(spark, U1000_DIR)
    attach = round(time.perf_counter() - t0, 3)
    rec: dict = {"heap": heap, "attach_wall": attach}
    for run in ("warm1", "warm2"):
        spark._jvm.System.gc()
        gc0 = gc_ms()
        before = set(_completed_stages(spark))
        df = registry.QUERIES["minhash_lsh_candidates"](spark, U1000_DIR)
        probe = df.select(
            F.xxhash64(*df.columns).alias("h"), F.lit(1).alias("one")
        ).agg(F.expr("bit_xor(h)").alias("xh"), F.expr("count(one)").alias("n"))
        t0 = time.perf_counter()
        row = probe.collect()[0]
        wall = round(time.perf_counter() - t0, 3)
        stages = []
        spill = run_ms = 0.0
        for key, s in sorted(_completed_stages(spark).items()):
            if key in before or s.get("numCompleteTasks", 0) == 0:
                continue
            spill += s.get("diskBytesSpilled", 0)
            run_ms += s.get("executorRunTime", 0)
            stages.append({
                "stage": key[0],
                "run_ms": s.get("executorRunTime", 0),
                "sh_write_mb": round(
                    s.get("shuffleWriteBytes", 0) / 1e6, 1
                ),
                "name": s.get("name", "")[:60],
            })
        stages.sort(key=lambda r: -r["run_ms"])
        rec[run] = {
            "wall": wall,
            "rows_out": int(row["n"]),
            "pairs_xor_hash": int(row["xh"]),
            "gc_ms_delta": gc_ms() - gc0,
            "executor_run_ms": run_ms,
            "disk_spill_mb": round(spill / 1e6, 1),
            "top_stages": stages[:6],
        }
        print(f"  minhash {heap} {run}: {json.dumps(rec[run])}", flush=True)
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out.setdefault("sf100_pairs", {}).setdefault("u1000", {}).setdefault(
        "minhash_heap", {}
    )[f"heap_{heap}"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"minhash_heap": {f"heap_{heap}": rec}}))


def cc_u1000_measurement() -> None:
    """VERDICT r12 item 4: a u-scale row for the duplicate-cluster
    resolver — the one pair-family CONSUMER with no u100/u1000
    measurement.  Runs large/small-star connected components +
    survivor marking (clusters.canonical_members) over the u1000
    jaccard pair set (5M-doc corpus), recording round count, wall,
    and per-stage shuffle/spill totals (stage-diff, since the CC loop
    checkpoints eagerly and a single-probe executed_metrics would see
    only the last job), then verifies OUTPUT EQUALITY against a
    driver-side union-find over the same collected pair set — the
    strict-alt reference the sf1 gate already trusts.  The pair set is
    checkpointed first so the row measures the RESOLVER, not a jaccard
    re-run.  Writes ``sf100_pairs.u1000.cluster_resolution`` into
    SCALING.json (recursive merge — nested row survives refreshes).
    Usage: ``python scale_bench.py --cc-u1000``."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.clusters import (
        connected_components_star,
    )
    from simplex_mapreduce_spark.operators.dedup import SHINGLES

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    spark = get_spark(
        "simplex-cc-u1000",
        shuffle_partitions=3 * cpus,
        extra_conf={"spark.ui.enabled": "true"},  # stage REST endpoint
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    SHINGLES.ensure(spark, U1000_DIR)
    attach = round(time.perf_counter() - t0, 3)
    pairs = registry.QUERIES["ngram_jaccard_neardup"](
        spark, U1000_DIR
    ).localCheckpoint(eager=True)
    n_pairs = pairs.count()
    print(f"pair set ready: {n_pairs} pairs, attach {attach}s", flush=True)

    stats: dict = {}
    before = set(_completed_stages(spark))
    t0 = time.perf_counter()
    cc = connected_components_star(pairs, stats=stats)
    out_rows = cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    ).collect()
    wall = round(time.perf_counter() - t0, 3)
    sh_w = spill = 0.0
    for key, s in _completed_stages(spark).items():
        if key in before:
            continue
        sh_w += s.get("shuffleWriteBytes", 0)
        spill += s.get("diskBytesSpilled", 0)
    rec = {
        "input_pairs": int(n_pairs),
        "rounds": stats.get("rounds"),
        "wall": wall,
        "shuffle_mb": round(sh_w / 1e6, 2),
        "spill_mb": round(spill / 1e6, 1),
        "rows_out": len(out_rows),
    }
    print(f"  cc u1000: {json.dumps(rec)}", flush=True)

    # driver-side union-find over the SAME pair set (path compression +
    # union by root id: cluster id = component min, as canonical_members
    # contracts)
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    edge_rows = pairs.select("doc_a", "doc_b").collect()
    for e in edge_rows:
        ra, rb = find(e["doc_a"]), find(e["doc_b"])
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    nodes = {e["doc_a"] for e in edge_rows} | {e["doc_b"] for e in edge_rows}
    expect = {(x, find(x), x == find(x)) for x in nodes}
    got = {(r["doc_id"], r["cluster_id"], r["is_canonical"]) for r in out_rows}
    rec["union_find_equal"] = got == expect
    print(f"  union-find equal: {rec['union_find_equal']}", flush=True)
    assert got == expect, (
        f"CC output diverged from union-find: {len(got ^ expect)} rows differ"
    )
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out.setdefault("sf100_pairs", {}).setdefault("u1000", {})[
        "cluster_resolution"
    ] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"cluster_resolution": rec}))


def fuzzy_d2_measurement() -> None:
    """VERDICT r12 item 5: the symmetric-delete fuzzy join at
    ``max_distance=2`` — the production typo distance for longer
    strings.  The deletion neighborhood grows ~len^2/2 per name
    (C(18,2)+18+1 = 172 keys for the 18-char dense names vs 19 at
    d=1), and on the DENSE digit-neighbor corpus the d=2 OUTPUT is
    itself ~30x the d=1 output (every two-digit variant in range is a
    true pair), so the measured points are N=150k and N=450k — output
    stays linear in N while the 3x step reads the wall/block-size
    scaling — plus a DuckDB unblocked-naive completeness + soundness
    check at d=2 on the id%100 subset of the 1.5M-name corpus (15k
    names, 2.25e8 naive probes).  Records wall / shuffle / spill /
    rows_out and the deletion-key BLOCK-SIZE DISTRIBUTION (max, p99,
    n_keys — the lemma's structural bound, now measured at d=2).
    Writes ``fuzzy_symmetric_delete.d2`` into SCALING.json.  Usage:
    ``python scale_bench.py --fuzzy-d2``."""
    import duckdb
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.entity import (
        _deletion_neighborhood_expr,
        blocked_fuzzy_self_join,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    # Broadcast DISABLED for this mode: the deletion-key frame is an
    # explode over a spark.range corpus, and Catalyst's row estimate
    # for a generate does not multiply by the neighborhood size — the
    # planner saw the 77M-key build side as broadcastable and died in
    # notEnoughMemoryToBuildAndBroadcastTable at N=450k (and silently
    # DID broadcast the 26M-key side at N=150k, which is not the
    # at-scale plan shape these rows claim to measure).  Forcing the
    # shuffle join measures the production plan; a d=1 reference row
    # is taken under the same session so the d2/d1 ratios compare
    # like plans.
    spark = get_spark(
        "simplex-fuzzy-d2",
        shuffle_partitions=3 * cpus,
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def corpus(n: int):
        return spark.range(1, n + 1).select(
            F.col("id"),
            F.concat(
                F.lit("Customer#"),
                F.lpad(F.col("id").cast("string"), 9, "0"),
            ).alias("name"),
        )

    def block_stats(n: int, dist: int = 2) -> dict:
        counts = (
            corpus(n)
            .select(
                F.explode(
                    F.expr(_deletion_neighborhood_expr("name", dist))
                ).alias("v")
            )
            .groupBy(F.xxhash64("v"))
            .count()
        )
        row = counts.agg(
            F.max("count").alias("mx"),
            F.expr("percentile_approx(count, 0.99)").alias("p99"),
            F.count(F.lit(1)).alias("n_keys"),
        ).first()
        return {
            "max_block": int(row["mx"]),
            "p99_block": int(row["p99"]),
            "n_keys": int(row["n_keys"]),
        }

    rec: dict = {"shuffle_partitions": 3 * cpus, "max_distance": 2}
    for label, n, dist in (
        ("dense_150k_d1_ref", 150_000, 1),  # same-plan d1 baseline
        ("dense_150k", 150_000, 2),
        ("dense_450k", 450_000, 2),
    ):
        df = corpus(n)
        pairs = blocked_fuzzy_self_join(df, "id", "name", max_distance=dist)
        t0 = time.perf_counter()
        probe = pairs.select(
            F.xxhash64(*pairs.columns).alias("h"), F.lit(1).alias("one")
        ).agg(F.expr("bit_xor(h)"), F.expr("count(one)").alias("cnt"))
        n_out = int(probe.collect()[0]["cnt"])
        wall = round(time.perf_counter() - t0, 3)
        m = executed_metrics(probe)
        rec[label] = {
            "names": n,
            "wall": wall,
            "rows_out": n_out,
            "shuffle_mb": round(m["shuffle_bytes_written"] / 1e6, 2),
            "spill_mb": round(m["spill_bytes"] / 1e6, 1),
            **block_stats(n, dist),
        }
        print(f"  fuzzy d2 {label}: {json.dumps(rec[label])}", flush=True)

    sub_pdf = corpus(1_500_000).filter(F.col("id") % 100 == 0).toPandas()
    duck = duckdb.connect()
    duck.register("names", sub_pdf)
    t0 = time.perf_counter()
    naive = {
        tuple(r)
        for r in duck.sql(
            """
            SELECT a.id, b.id, levenshtein(a.name, b.name)
            FROM names a JOIN names b
              ON a.id < b.id AND levenshtein(a.name, b.name) <= 2
            """
        ).fetchall()
    }
    naive_wall = round(time.perf_counter() - t0, 2)
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in blocked_fuzzy_self_join(
            corpus(1_500_000).filter(F.col("id") % 100 == 0),
            "id", "name", max_distance=2,
        ).collect()
    }
    rec["subset_check"] = {
        "names": len(sub_pdf),
        "naive_pairs": len(naive),
        "blocked_pairs": len(got),
        "equal": got == naive,
        "naive_wall": naive_wall,
    }
    print(f"  fuzzy d2 subset: {json.dumps(rec['subset_check'])}", flush=True)
    assert got == naive, "d=2 blocked join lost or invented pairs on subset"
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out.setdefault("fuzzy_symmetric_delete", {})["d2"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"fuzzy_d2": rec}))


def bpe_deepvocab_measurement() -> None:
    """VERDICT r10 item 7: push batched BPE one decade past the 1,024-
    rule richvocab run — >=8k learned rules at m=256 — closing the
    remaining extrapolation toward production ~50k vocabularies.  The
    prediction under test: per-scan cost is CONSTANT (each scan applies
    only its own batch of folds to the per-scan-checkpointed lexicon,
    never the cumulative rule list), so an 8x vocab costs ~8x/fill-rate
    scans and linear wall, and scan counts approach ceil(rules/m) as
    the merged-symbol inventory grows past the 16-letter base alphabet
    that starves early batches (the m=256 under-fill note on
    bpe_richvocab).  Counter-pins the first two m=256 scans against
    the in-memory reference walk.  Writes ``bpe_deepvocab`` into
    SCALING.json.  Usage: ``python scale_bench.py --bpe-deepvocab``."""
    import sys as _sys

    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.functions.textfn import tokens_col
    from simplex_mapreduce_spark.operators.text import (
        _learn_bpe_merges_batched,
    )
    from simplex_mapreduce_spark.sources.scalegen import ensure_richvocab
    from simplex_mapreduce_spark.sources.tables import load_table

    _sys.path.insert(0, os.path.join(_HERE, "tests"))
    from test_text_extra import _corpus_word_freqs, _py_bpe_train_batched

    spark = get_spark("bpe-deepvocab-scale")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_richvocab(spark, RICHVOCAB_DIR, n_docs=20_000)

    def lexicon():
        d = load_table(spark, RICHVOCAB_DIR, "documents")
        return (
            d.select(F.explode(tokens_col("text")).alias("w"))
            .filter(F.length("w") >= 2)
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("freq"))
            .select(F.split("w", "").alias("seq"), "freq")
            .localCheckpoint(eager=True)
        )

    rec: dict = {"corpus": "richvocab", "n_docs": 20_000, "m": 256}
    # Counter pin at THIS m: the first two m=256 scans must equal the
    # in-memory reference walk on the exact word-frequency table.
    wf = _corpus_word_freqs(RICHVOCAB_DIR)
    py_rules = _py_bpe_train_batched(wf, scans=2, m=256)
    sp_rules, _ = _learn_bpe_merges_batched(lexicon(), scans=2, m=256)
    assert sp_rules == py_rules, (
        f"deepvocab m=256 diverged from the Counter reference: "
        f"{sp_rules[:3]} vs {py_rules[:3]}"
    )
    rec["counter_pin_rules"] = len(py_rules)
    print(f"  Counter pin: {len(py_rules)} rules over 2 scans match",
          flush=True)

    target = 8192
    lex = lexicon()
    rec["lexicon_rows"] = lex.count()
    t0 = time.perf_counter()
    rules, scans = _learn_bpe_merges_batched(lex, n=target, m=256)
    wall = round(time.perf_counter() - t0, 3)
    floor = math.ceil(len(rules) / 256)
    rec["run"] = {
        "rules_target": target,
        "rules_learned": len(rules),
        "scans": scans,
        "scans_floor": floor,
        "scan_efficiency": round(scans / floor, 3) if floor else None,
        "wall_sec": wall,
        "sec_per_rule": round(wall / max(len(rules), 1), 4),
        "sec_per_scan": round(wall / max(scans, 1), 3),
    }
    print(f"  deepvocab m=256: {len(rules)} rules in {scans} scans "
          f"(floor {floor}), {wall}s", flush=True)
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out["bpe_deepvocab"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"bpe_deepvocab": rec}))


def bpe_vocab32k_measurement() -> None:
    """VERDICT r11 item 3: kill the last BPE extrapolation — 32,768
    learned rules at m=256 (production-adjacent: a 50k vocabulary is
    ~1.5x this, same regime), 4x past the measured 8,192-rule
    deepvocab run.  The property under test is the same: per-scan cost
    constant (each scan folds only its own batch into the per-scan-
    checkpointed lexicon, never the cumulative rule list), so
    sec_per_rule must stay flat vs the 8k run while scans approach the
    ceil(rules/m) floor.  Counter-pins the first two m=256 scans
    against the in-memory reference walk, as every BPE measurement
    does.  Writes ``bpe_vocab32k`` into SCALING.json.
    Usage: ``python scale_bench.py --bpe-vocab32k``."""
    import sys as _sys

    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.functions.textfn import tokens_col
    from simplex_mapreduce_spark.operators.text import (
        _learn_bpe_merges_batched,
    )
    from simplex_mapreduce_spark.sources.scalegen import ensure_richvocab
    from simplex_mapreduce_spark.sources.tables import load_table

    _sys.path.insert(0, os.path.join(_HERE, "tests"))
    from test_text_extra import _corpus_word_freqs, _py_bpe_train_batched

    spark = get_spark("bpe-vocab32k-scale")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_richvocab(spark, RICHVOCAB_DIR, n_docs=20_000)

    def lexicon():
        d = load_table(spark, RICHVOCAB_DIR, "documents")
        return (
            d.select(F.explode(tokens_col("text")).alias("w"))
            .filter(F.length("w") >= 2)
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("freq"))
            .select(F.split("w", "").alias("seq"), "freq")
            .localCheckpoint(eager=True)
        )

    rec: dict = {"corpus": "richvocab", "n_docs": 20_000, "m": 256}
    wf = _corpus_word_freqs(RICHVOCAB_DIR)
    py_rules = _py_bpe_train_batched(wf, scans=2, m=256)
    sp_rules, _ = _learn_bpe_merges_batched(lexicon(), scans=2, m=256)
    assert sp_rules == py_rules, (
        f"vocab32k m=256 diverged from the Counter reference: "
        f"{sp_rules[:3]} vs {py_rules[:3]}"
    )
    rec["counter_pin_rules"] = len(py_rules)
    print(f"  Counter pin: {len(py_rules)} rules over 2 scans match",
          flush=True)

    target = 32_768
    lex = lexicon()
    rec["lexicon_rows"] = lex.count()
    t0 = time.perf_counter()
    rules, scans = _learn_bpe_merges_batched(lex, n=target, m=256)
    wall = round(time.perf_counter() - t0, 3)
    floor = math.ceil(len(rules) / 256)
    rec["run"] = {
        "rules_target": target,
        "rules_learned": len(rules),
        "scans": scans,
        "scans_floor": floor,
        "scan_efficiency": round(scans / floor, 3) if floor else None,
        "wall_sec": wall,
        "sec_per_rule": round(wall / max(len(rules), 1), 4),
        "sec_per_scan": round(wall / max(scans, 1), 3),
    }
    print(f"  vocab32k m=256: {len(rules)} rules in {scans} scans "
          f"(floor {floor}), {wall}s", flush=True)
    spark.stop()

    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out["bpe_vocab32k"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"bpe_vocab32k": rec}))


REPEAT_DIR = os.path.join(_HERE, ".scaledata/repeat_sf1")


def dup_coverage_strict() -> None:
    """VERDICT r8 item 4: make dup_ngram_coverage's strict gate
    NON-vacuous.  On the driver corpus every document passes trivially
    (no within-doc 5-gram repeats), so the hash row verified an
    all-pass constant.  This drill builds an sf1 repetition corpus
    (sources/scalegen.py ensure_repetition: sf0.1 x10, every 5th doc
    gets its own opening 8 tokens appended three times), runs the FULL
    strict DuckDB compare there, and requires a meaningful split of
    flagged vs passing docs.  Writes ``dup_coverage_run`` into
    SCALING.json; a vacuous (zero-flagged) or mismatching run raises."""
    import duckdb

    sys.path.insert(0, os.path.join(_HERE, "tests"))
    from oracle_utils import compare_frames

    from simplex_mapreduce_spark.sources.scalegen import ensure_repetition

    spark = get_spark("dup-coverage-strict")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    corpus = ensure_repetition(
        spark, SRC, REPEAT_DIR, replicate=10, rep_mod=5
    )
    print(f"repetition corpus ready in {time.perf_counter() - t0:.0f}s",
          flush=True)
    duck = duckdb.connect()
    duck.sql(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{corpus}/documents.parquet/*.parquet')"
    )
    t0 = time.perf_counter()
    spdf = registry.QUERIES["dup_ngram_coverage"](spark, corpus).toPandas()
    wall = round(time.perf_counter() - t0, 3)
    compare_frames(
        spdf, duck.sql(registry.ORACLES["dup_ngram_coverage"]).df(),
        "dup_ngram_coverage",
    )
    flagged = int((spdf["keep_repetition"] == 0).sum())
    planted = int((spdf["doc_id"] % 5 == 0).sum())
    nonzero = int((spdf["dup5_frac"] > 0).sum())
    rec = {
        "corpus": "sf0.1 x10 repetition (rep_mod=5: 20% of docs planted)",
        "rows": len(spdf),
        "docs_with_nonzero_dup5": nonzero,
        "docs_flagged": flagged,
        "docs_planted": planted,
        "wall": wall,
        "oracle_match": True,
    }
    spark.stop()
    assert flagged > 0, "repetition corpus produced zero flagged docs"
    assert 0 < flagged < len(spdf), "flagging is constant — still vacuous"
    out: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
    out["dup_coverage_run"] = rec
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"dup_coverage_run": rec}))


SF30_DIR = os.path.join(_HERE, ".scaledata/sf30")


def sf30_spot_check() -> None:
    """Partition-count-cliff probe (VERDICT r6 item 7): the two
    linear-shuffle queries — window_order_seq (45M orders) and
    sessionization (30M events) — at 300x sf0.1, confirming their
    210-375MB sf10 shuffles keep scaling LINEARLY instead of hitting a
    per-partition memory/size cliff.  Only the two fact tables are
    generated (~3 GB); results merge into SCALING.json as sf30 columns
    with steady_ratio_sf30 (healthy = ratio near the 300x data ratio
    divided by the parallelism already saturated at sf10, i.e. about
    3x the sf10 steady).

    Runs with shuffle partitions scaled to 3x cores — the probe's own
    finding: at the cores-count default the 45M-row window sort holds
    ~1.4M rows of state per task and spills 4 GB (first run of this
    probe, kept in SCALING.json's sf30 note); at 3x the spill
    disappears.  This is the per-deployment retune the operator
    docstrings promise (2-3x TOTAL cluster cores at real scale) —
    measured here, not asserted."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    spark = get_spark("simplex-sf30-spot", shuffle_partitions=3 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    ensure_scaled(spark, SRC, SF30_DIR, factor=300, tables=("orders", "events"))
    print(f"sf30 data ready in {time.perf_counter() - t0:.0f}s", flush=True)
    out: dict = {"queries": {}}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
        out.setdefault("queries", {})
    for name in ("window_order_seq", "sessionization"):
        spark._jvm.System.gc()
        rec = out["queries"].setdefault(name, {})
        rec["sf30_cold"] = round(run_noop(spark, name, SF30_DIR), 3)
        rec["sf30_steady"] = round(run_noop(spark, name, SF30_DIR), 3)
        # metrics run: collapse the 45M-row result to ONE row via a
        # full-width hash reduction (collect()-backed run_metrics would
        # materialize tens of millions of Rows on the driver); the
        # window/session exchanges still execute fully underneath and
        # their shuffle metrics attach to this QueryExecution
        from pyspark.sql import functions as F

        df = registry.QUERIES[name](spark, SF30_DIR)
        # bit_xor, not sum: XOR of 45M 64-bit hashes cannot overflow
        # under ANSI arithmetic
        probe = df.select(F.xxhash64(*df.columns).alias("h")).agg(
            F.expr("bit_xor(h)")
        )
        probe.collect()
        m = executed_metrics(probe)
        rec["sf30_shuffle_mb"] = round(m["shuffle_bytes_written"] / 1e6, 2)
        rec["sf30_n_shuffles"] = m["n_shuffles"]
        rec["sf30_spill_mb"] = round(m["spill_bytes"] / 1e6, 1)
        if rec.get("sf0.1_steady"):
            rec["steady_ratio_sf30"] = round(
                rec["sf30_steady"] / rec["sf0.1_steady"], 2
            )
        print(
            f"  sf30 {name}: cold={rec['sf30_cold']} "
            f"steady={rec['sf30_steady']} "
            f"shuffleMB={rec['sf30_shuffle_mb']} "
            f"ratio_sf30={rec.get('steady_ratio_sf30')}",
            flush=True,
        )
    out["sf30_note"] = (
        "300x point runs at 3x-cores shuffle partitions (96): at the "
        "cores-count default the window_order_seq sort spilled 4 GB "
        "(per-task state ~1.4M rows) with 2-5x run-to-run variance; at "
        "96 the spill drops to 1.2 GB on the 16 GiB default heap and "
        "to ZERO at 48 GiB (1.5 GiB/core, the executor sizing a real "
        "deployment uses), with results exact either way (see "
        "spilled_run). The partition count is the knob that must scale "
        "with the deployment (2-3x TOTAL cluster cores at 100 TB) — "
        "the cores default stays correct for sf<=1 on 32 cores (a "
        "blanket 3x default cost 26% steady wall at sf0.1)."
    )
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    spark.stop()


def measure_point(spark, out: dict, label: str, sf_dir: str, names) -> None:
    from simplex_mapreduce_spark.operators.dedup import SHINGLES
    from simplex_mapreduce_spark.sources.tables import TABLES

    # warm the scan path outside any timed region
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    # at-ingest shingling pass (idempotent; see bench.py note)
    t0 = time.perf_counter()
    SHINGLES.ensure(spark, sf_dir)
    out.setdefault("ingest_wall", {})[label] = round(time.perf_counter() - t0, 3)
    for name in names:
        # settle the JVM between queries: a cold wall measured while the
        # previous query's garbage is still being collected reads 2-6x
        # high (observed window_order_seq 19 s cold vs 1 s standalone)
        spark._jvm.System.gc()
        rec = out["queries"].setdefault(name, {})
        rec[f"{label}_cold"] = round(run_noop(spark, name, sf_dir), 3)
        rec[f"{label}_steady"] = round(run_noop(spark, name, sf_dir), 3)
        m, df = run_metrics(spark, name, sf_dir)
        rec[f"{label}_shuffle_mb"] = round(m["shuffle_bytes_written"] / 1e6, 2)
        rec[f"{label}_n_shuffles"] = m["n_shuffles"]
        rec[f"{label}_rows_scanned"] = m["rows_scanned"]
        rec[f"{label}_rows_out"] = m["rows_out"]
        if name == "revenue_by_region":
            plan = simple_plan(df)
            out.setdefault("join_choice", {})[label] = {
                "broadcast_joins": plan.count("BroadcastHashJoin"),
                "sortmerge_joins": plan.count("SortMergeJoin"),
                "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
            }
        print(f"  {label} {name}: cold={rec[f'{label}_cold']} "
              f"steady={rec[f'{label}_steady']} "
              f"shuffleMB={rec[f'{label}_shuffle_mb']}", flush=True)


def main() -> None:
    if {"-h", "--help"} & set(sys.argv):
        print(__doc__)
        return
    registry.load_all()
    if "--spill" in sys.argv:
        spill_drill()
        return
    if "--sf30" in sys.argv:
        sf30_spot_check()
        return
    if "--skew" in sys.argv:
        skew_drill()
        return
    if "--winnow-ingest" in sys.argv:
        winnow_ingest_timing()
        return
    if "--hashed-grams" in sys.argv:
        hashed_gram_measurement()
        return
    if "--sf100" in sys.argv:
        sf100_probe()
        return
    if "--dup-coverage" in sys.argv:
        dup_coverage_strict()
        return
    if "--bpe-batched" in sys.argv:
        bpe_batched_measurement()
        return
    if "--bpe-richvocab" in sys.argv:
        bpe_richvocab_measurement()
        return
    if "--bpe-deepvocab" in sys.argv:
        bpe_deepvocab_measurement()
        return
    if "--bpe-vocab32k" in sys.argv:
        bpe_vocab32k_measurement()
        return
    if "--u1000-sidecar" in sys.argv:
        u1000_sidecar_measurement()
        return
    if "--ppjoin-spill" in sys.argv:
        ppjoin_spill_measurement()
        return
    if "--fuzzy-u100" in sys.argv:
        fuzzy_u100_measurement()
        return
    if "--ingest-stages" in sys.argv:
        ingest_phase_diagnosis()
        return
    if "--fuzzy-d2" in sys.argv:
        fuzzy_d2_measurement()
        return
    if "--cc-u1000" in sys.argv:
        cc_u1000_measurement()
        return
    if "--minhash-heap" in sys.argv:
        minhash_heap_profile()
        return
    if "--winnow-u100" in sys.argv:
        winnow_u100_refresh()
        return
    if "--winnow-u1000" in sys.argv:
        winnow_u1000_probe()
        return
    if "--ppjoin-stages" in sys.argv:
        ppjoin_stage_diagnosis()
        return
    if "--winnow-stages" in sys.argv:
        winnow_stage_diagnosis()
        return
    if "--strict-alt" in sys.argv:
        strict_alt_checks()
        return
    if "--strict-sweep" in sys.argv:
        strict_sweep()
        return
    if "--cold-attach" in sys.argv:
        cold_attach_measurement()
        return
    if "--u1000-spans" in sys.argv:
        u1000_spans_hashed_probe()
        return
    if "--maintenance" in sys.argv:
        maintenance_timing()
        return
    if "--sf100-pairs" in sys.argv:
        sf100_pairs_probe()
        return
    if "--multimodal" in sys.argv:
        multimodal_measurement()
        return
    spark = get_spark("simplex-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_scaled(spark, SRC, SF1_DIR, factor=10)
    if "--oracles" in sys.argv:
        check_oracles_at_sf1(spark)
        spark.stop()
        return

    sf10 = "--sf10" in sys.argv
    names = HEADLINE + EXTRA
    # merge into the existing SCALING.json so the sf10 pass extends the
    # sf0.1/sf1 table instead of clobbering it
    out: dict = {"queries": {}}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            out = json.load(fh)
        out.setdefault("queries", {})

    if sf10:
        t0 = time.perf_counter()
        ensure_scaled(spark, SRC, SF10_DIR, factor=100)
        print(f"sf10 data ready in {time.perf_counter() - t0:.0f}s")
        measure_point(spark, out, "sf10", SF10_DIR, names)
        out["bloom_at_sf10"] = bloom_injection_at_sf10(spark)
        out["sf10_oracle_fails"] = check_oracles_at_sf10(spark)
    else:
        for label, sf_dir in [("sf0.1", SRC), ("sf1", SF1_DIR)]:
            measure_point(spark, out, label, sf_dir, names)

    for name, rec in out["queries"].items():
        c01 = rec.get("sf0.1_steady")
        if not c01:
            continue
        if rec.get("sf1_steady") is not None:
            rec["steady_ratio"] = round(rec["sf1_steady"] / c01, 2)
        if rec.get("sf10_steady") is not None:
            rec["steady_ratio_sf10"] = round(rec["sf10_steady"] / c01, 2)

    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)

    # markdown table for BASELINE.md
    cols = ["sf0.1_cold", "sf0.1_steady", "sf1_cold", "sf1_steady",
            "steady_ratio"]
    if sf10:
        cols += ["sf10_cold", "sf10_steady", "steady_ratio_sf10",
                 "sf10_shuffle_mb", "sf10_rows_out"]
    print("| query | " + " | ".join(cols) + " |")
    print("|" + " --- |" * (len(cols) + 1))
    for name in names:
        r = out["queries"][name]
        print("| " + name + " | "
              + " | ".join(str(r.get(c, "-")) for c in cols) + " |")
    print(json.dumps({k: out[k] for k in ("join_choice", "bloom_at_sf10")
                      if k in out}))
    spark.stop()


if __name__ == "__main__":
    main()
