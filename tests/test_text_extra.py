"""doc_logprob (CCNet-style unigram-LM scoring): DuckDB equivalence
(rows-only in the driver — the 50 oracled slots are full) and the
quality-signal sanity property."""

from __future__ import annotations

from simplex_mapreduce_spark import registry
from tests.conftest import SF_DIR
from tests.oracle_utils import compare_frames



def test_doc_logprob_matches_duckdb(spark, duck):
    spark_pdf = registry.QUERIES["doc_logprob"](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(registry.ORACLES["doc_logprob"]).df()
    assert len(spark_pdf) > 0
    compare_frames(spark_pdf, duck_pdf, "doc_logprob")


def test_doc_logprob_separates_rare_token_spam(spark):
    """The signal works: a doc made of corpus-typical words scores
    strictly higher than one stuffed with hapax tokens."""
    from simplex_mapreduce_spark.operators.text import doc_logprob
    import pandas as pd

    rows = [(i, "the table scans the table fast") for i in range(20)]
    rows.append((100, "zxqv9 kkjw3 bbnm2 qqoz7 rrty8 vvup1"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # run the same plan the registered query builds, on a crafted frame
    import simplex_mapreduce_spark.operators.text as text_mod
    from unittest import mock

    with mock.patch.object(text_mod, "load_table", lambda *a, **k: df):
        out = {r["doc_id"]: r["mean_logprob"] for r in doc_logprob(None, "").collect()}
    assert out[0] > out[100]


def test_tf_idf_matches_duckdb(spark, duck):
    """tf_idf is re-oracled (deprioritized) since round 7 — the
    registry oracle is the single source of truth; its plan is also
    top_terms_per_doc's input, so the driver hash-verifies its values
    transitively.  This test keeps the FULL output pinned (all
    (doc, word) pairs, not just top-3)."""
    spark_pdf = registry.QUERIES["tf_idf"](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(registry.ORACLES["tf_idf"]).df()
    assert len(spark_pdf) > 0
    compare_frames(spark_pdf, duck_pdf, "tf_idf")


def test_quality_histogram_matches_duckdb(spark, duck):
    from simplex_mapreduce_spark.operators.text import QUALITY_HIST_SQL

    spark_pdf = registry.QUERIES["quality_histogram"](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(QUALITY_HIST_SQL).df()
    assert len(spark_pdf) > 0
    compare_frames(spark_pdf, duck_pdf, "quality_histogram")
    # histogram totals must equal the scored-doc count
    assert spark_pdf["n_docs"].sum() == 500


def test_langid_confusion_matches_duckdb(spark, duck):
    from simplex_mapreduce_spark.operators.text import _langid_confusion_sql

    spark_pdf = registry.QUERIES["langid_confusion"](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(_langid_confusion_sql()).df()
    assert len(spark_pdf) > 0
    compare_frames(spark_pdf, duck_pdf, "langid_confusion")
    # the 'zh' blind spot must be VISIBLE: zh-labeled docs exist and
    # none can be detected as zh (no markers)
    zh = spark_pdf[spark_pdf["labeled"] == "zh"]
    assert zh["n_docs"].sum() > 0
    assert not (zh["detected"] == "zh").any()


def test_constraint_checks_matches_duckdb_and_holds(spark, duck):
    from simplex_mapreduce_spark.operators.text import CONSTRAINT_SQL

    spark_pdf = registry.QUERIES["constraint_checks"](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(CONSTRAINT_SQL).df()
    compare_frames(spark_pdf, duck_pdf, "constraint_checks")
    # the synthetic corpus satisfies every constraint
    assert (spark_pdf["n_violations"] == 0).all()
    assert (spark_pdf["n_rows"] == 500).all()


def test_pii_report_counts_planted_pii(spark):
    """The driver corpus contains no PII (rate 0.0 everywhere — the
    oracle match is real but degenerate), so pin the non-degenerate
    behavior on planted rows: a doc counts once no matter how many PII
    hits it contains, clean docs don't count, and the rate rounds as
    documented."""
    from simplex_mapreduce_spark.operators.text import pii_report  # noqa: F401
    from simplex_mapreduce_spark.functions.textfn import redact_pii
    from pyspark.sql import functions as F

    rows = [
        (0, "a", "mail me at x@example.com or call (555) 867-5309"),
        (1, "a", "clean text"),
        (2, "a", "host 10.0.0.1 is up"),
        (3, "b", "nothing sensitive"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    has_pii = (redact_pii("text") != F.col("text")).alias("has_pii")
    got = {
        r["source"]: (r["docs_with_pii"], r["pii_rate"])
        for r in d.select("source", has_pii)
        .groupBy("source")
        .agg(
            F.count_if("has_pii").alias("docs_with_pii"),
            F.round(
                F.count_if("has_pii") / F.count(F.lit(1)).cast("double"), 4
            ).alias("pii_rate"),
        )
        .collect()
    }
    assert got == {"a": (2, 0.6667), "b": (0, 0.0)}


def test_winnowing_guarantee_detects_shared_block(spark):
    """The Schleimer/Wilkerson/Aiken guarantee: any shared substring of
    at least w + k - 1 chars leaves at least one COMMON selected hash
    in both documents' fingerprint sets — so a quoted block is always
    detected, regardless of what surrounds it."""
    from simplex_mapreduce_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog tonight"
    assert len(shared) >= WINNOW_W + WINNOW_K - 1
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {shared} delta epsilon zeta"),
            (2, f"unrelated prefix words here {shared} and a different tail"),
            (3, "completely different text with no overlap at all in it"),
        ],
        "doc_id long, text string",
    )
    fps = {
        r["doc_id"]: {p.split(":")[1] for p in r["fps"]}
        for r in winnow_fingerprints(docs).collect()
    }
    assert fps[1] & fps[2], "shared block left no common selected hash"
    # winnowing density: ~2/(w+1) of gram hashes selected, never zero
    assert all(len(v) > 0 for v in fps.values())


def test_winnow_vectorized_equals_hof(spark):
    """The round-13 vectorized winnow selection (Arrow-batched numpy
    sliding argmin — see _winnow_select_udf for the measured u100
    attribution) must emit BYTE-IDENTICAL fingerprint arrays (same
    strings, same order) as the all-JVM HOF reference path, on the
    real corpus AND on the edge shapes: a doc shorter than w grams
    (one truncated window), a doc with tied window minima (leftmost
    must win), and a doc just at the k-char floor."""
    from simplex_mapreduce_spark.operators.text import (
        WINNOW_K,
        winnow_fingerprints,
    )
    from simplex_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    edge = spark.createDataFrame(
        [
            (9001, "x" * WINNOW_K),  # exactly k chars -> G == 1
            (9002, "abcdefghij klmnop"),  # G < w: one truncated window
            (9003, ("repeat " * 30).strip()),  # periodic text -> ties
        ],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edge)
    vec = {
        r["doc_id"]: (list(r["fps"]), r["n_fp"])
        for r in winnow_fingerprints(both).collect()
    }
    hof = {
        r["doc_id"]: (list(r["fps"]), r["n_fp"])
        for r in winnow_fingerprints(both, engine="hof").collect()
    }
    assert vec == hof


def test_winnowing_overlap_reports_planted_pair(spark):
    """End-to-end: the overlap query surfaces the planted shared-block
    pair with n_shared >= the report threshold, and is deterministic
    across runs."""
    from unittest import mock

    from simplex_mapreduce_spark.operators import text as text_mod

    shared = (
        "one two three four five six seven eight nine ten eleven twelve "
        "thirteen fourteen"
    )
    docs = spark.createDataFrame(
        [
            (1, f"intro paragraph before the quote {shared} closing remarks"),
            (2, f"{shared} stands alone here with other words following it"),
            (3, "nothing in common with either of the documents above"),
        ],
        "doc_id long, text string",
    )
    with mock.patch.object(text_mod, "load_table", lambda *a, **k: docs):
        out1 = sorted(
            (r["doc_a"], r["doc_b"], r["n_shared"])
            for r in text_mod.winnowing_overlap(None, "").collect()
        )
        out2 = sorted(
            (r["doc_a"], r["doc_b"], r["n_shared"])
            for r in text_mod.winnowing_overlap(None, "").collect()
        )
    assert out1 == out2  # deterministic
    pairs = {(a, b) for a, b, _ in out1}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_bpe_pair_counts_matches_python_reference(spark):
    """Corpus-weighted adjacent-pair counts recomputed in plain Python
    (collections.Counter over the raw token stream — NOT via the
    word-frequency table, so the lexicon-collapse optimization is
    pinned to the naive definition)."""
    from collections import Counter

    rows = (
        registry.QUERIES["bpe_pair_counts"](spark, SF_DIR).collect()
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("text")
    counts: Counter = Counter()
    for r in docs.collect():
        for w in r["text"].split():
            for i in range(len(w) - 1):
                counts[(w[i], w[i + 1])] += 1
    top = sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
    )[: len(rows)]
    assert [
        ((r["left_sym"], r["right_sym"]), r["pair_count"]) for r in rows
    ] == top


def test_bpe_pair_counts_plan_shape(spark):
    """The scale contract: word counts partial-aggregate BEFORE their
    exchange (the token stream collapses to the lexicon map-side), the
    top-k is a TakeOrderedAndProject heap (no global sort), and the
    scan reads only the text column."""
    df = registry.QUERIES["bpe_pair_counts"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan and "partial_sum" in plan
    assert "Sort " not in plan  # heap, not sort
    scan = plan[plan.index("FileScan") :]
    assert "ReadSchema: struct<text" in scan


def test_duplicate_text_spans_matches_python_reference(spark):
    """Spans recomputed naively in Python: collect every duplicated
    {L}-gram position per doc, merge overlapping hits, compare the full
    span set.  Also pins maximality (no two output spans of one doc
    overlap or touch within L) and that every span is genuinely
    duplicated text."""
    from collections import Counter

    from simplex_mapreduce_spark.operators.text import PASSAGE_L as L

    rows = registry.QUERIES["duplicate_text_spans"](spark, SF_DIR).collect()
    docs = {
        r["doc_id"]: r["text"].split()
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    counts: Counter = Counter()
    grams: dict[int, list] = {}
    for did, t in docs.items():
        g = [" ".join(t[i : i + L]) for i in range(len(t) - L + 1)]
        grams[did] = g
        counts.update(g)
    expect = []
    for did, g in sorted(grams.items()):
        hits = [i + 1 for i, x in enumerate(g) if counts[x] >= 2]
        span = None
        for p in hits:
            if span and p - span[1] <= L:
                span[1], span[2] = p, span[2] + 1
            else:
                if span:
                    expect.append((did, span[0], span[1] + L - 1, span[2]))
                span = [p, p, 1]
        if span:
            expect.append((did, span[0], span[1] + L - 1, span[2]))
    got = [
        (r["doc_id"], r["start_tok"], r["end_tok"], r["n_grams"])
        for r in rows
    ]
    assert sorted(got) == sorted(expect)
    assert len(got) > 0
    by_doc: dict[int, list] = {}
    for did, s, e, _ in got:
        by_doc.setdefault(did, []).append((s, e))
    for spans in by_doc.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 - (e1 - 14) > 15  # next island starts beyond merge reach
    for r in rows:
        assert r["n_tokens"] == r["end_tok"] - r["start_tok"] + 1


def test_strip_duplicate_spans_conservation(spark):
    """Cutting invariants: one output row per document (including
    fully-stripped mirrors), n_removed equals the summed span lengths
    of that doc, clean_text token count equals n_tokens - n_removed,
    and surviving tokens are a subsequence of the original document."""
    spans = {
        (r["doc_id"]): []
        for r in registry.QUERIES["duplicate_text_spans"](spark, SF_DIR).collect()
    }
    for r in registry.QUERIES["duplicate_text_spans"](spark, SF_DIR).collect():
        spans[r["doc_id"]].append((r["start_tok"], r["end_tok"]))
    rows = registry.QUERIES["strip_duplicate_spans"](spark, SF_DIR).collect()
    docs = {
        r["doc_id"]: r["text"].split()
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    assert len(rows) == len(docs)
    n_stripped = 0
    for r in rows:
        t = docs[r["doc_id"]]
        assert r["n_tokens"] == len(t)
        want_removed = sum(
            e - s + 1 for s, e in spans.get(r["doc_id"], [])
        )
        assert r["n_removed"] == want_removed
        clean = r["clean_text"].split()
        assert len(clean) == r["n_tokens"] - r["n_removed"]
        it = iter(t)
        assert all(tok in it for tok in clean)  # subsequence
        n_stripped += r["n_removed"] > 0
    assert n_stripped > 0


def test_bigram_logprob_matches_python_reference(spark):
    """Bigram MLE scores recomputed naively in Python (Counter over the
    corpus bigram stream, mean ln(c12/c1) per doc).  Also pins the
    contracts: only docs with >= 2 tokens are scored, n_bigrams =
    len - 1, and every score is <= 0 (observed-bigram MLE never
    exceeds probability 1)."""
    import math
    from collections import Counter

    rows = registry.QUERIES["doc_bigram_logprob"](spark, SF_DIR).collect()
    docs = {
        r["doc_id"]: r["text"].split()
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    c12: Counter = Counter()
    c1: Counter = Counter()
    for t in docs.values():
        for a, b in zip(t, t[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
    scored = {d for d, t in docs.items() if len(t) >= 2}
    assert {r["doc_id"] for r in rows} == scored
    for r in rows:
        t = docs[r["doc_id"]]
        assert r["n_bigrams"] == len(t) - 1
        want = sum(
            math.log(c12[(a, b)] / c1[a]) for a, b in zip(t, t[1:])
        ) / (len(t) - 1)
        assert abs(r["mean_logprob"] - want) < 1e-5, (r, want)
        assert r["mean_logprob"] <= 1e-9


def test_keep_first_spans_match_python_reference(spark):
    """Keep-first spans recomputed naively: the minimum (doc_id, pos)
    occurrence of every duplicated gram is exempt, islands merge the
    rest.  Also pins containment: tokens covered by keep-first spans
    are a subset of the remove-all coverage, strictly smaller here."""
    from collections import Counter

    from simplex_mapreduce_spark.operators.text import PASSAGE_L as L

    docs = {
        r["doc_id"]: r["text"].split()
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    counts: Counter = Counter()
    first: dict = {}
    occ: dict[int, list] = {}
    for did in sorted(docs):
        t = docs[did]
        g = [" ".join(t[i : i + L]) for i in range(len(t) - L + 1)]
        occ[did] = g
        for p, x in enumerate(g, start=1):
            counts[x] += 1
            first.setdefault(x, (did, p))
    expect = []
    for did in sorted(occ):
        hits = [
            p
            for p, x in enumerate(occ[did], start=1)
            if counts[x] >= 2 and first[x] != (did, p)
        ]
        span = None
        for p in hits:
            if span and p - span[1] <= L:
                span[1], span[2] = p, span[2] + 1
            else:
                if span:
                    expect.append((did, span[0], span[1] + L - 1, span[2]))
                span = [p, p, 1]
        if span:
            expect.append((did, span[0], span[1] + L - 1, span[2]))
    rows = registry.QUERIES["duplicate_text_spans_keep_first"](
        spark, SF_DIR
    ).collect()
    got = [
        (r["doc_id"], r["start_tok"], r["end_tok"], r["n_grams"])
        for r in rows
    ]
    assert sorted(got) == sorted(expect)

    def coverage(spans):
        cov = set()
        for did, s, e, _ in spans:
            cov.update((did, p) for p in range(s, e + 1))
        return cov

    all_rows = registry.QUERIES["duplicate_text_spans"](spark, SF_DIR).collect()
    cov_all = coverage(
        (r["doc_id"], r["start_tok"], r["end_tok"], 0) for r in all_rows
    )
    cov_kf = coverage(got)
    assert cov_kf < cov_all  # strictly smaller: the exempt copies survive


# ------------------------------------------------------------------ #
# At-ingest winnowing fingerprint table (round-8, VERDICT r7 item 2).
# ------------------------------------------------------------------ #


def _pair_key(pdf):
    return sorted(
        map(
            tuple,
            pdf[["doc_a", "doc_b", "n_shared", "overlap_frac"]]
            .values.tolist(),
        )
    )


def test_winnow_stored_equals_inline(spark):
    """The production (stored-table) overlap path must be
    row-identical to the inline query — same corpus, same pairs."""
    from simplex_mapreduce_spark.operators.text import (
        winnowing_overlap,
        winnowing_overlap_stored,
    )

    inline = winnowing_overlap(spark, SF_DIR).toPandas()
    stored = winnowing_overlap_stored(spark, SF_DIR).toPandas()
    assert len(inline) > 0
    assert _pair_key(inline) == _pair_key(stored)


def test_winnow_epoch_append_equals_full_rebuild(spark):
    """Incremental growth: build the table on epoch 1, append epoch 2,
    and the overlap pairs must equal the inline query over the union —
    including cross-epoch mirror groups (an epoch-2 exact copy of an
    epoch-1 doc) and cross-epoch overlap pairs, both of which the
    sf0.001 corpus splits exercise because the split is by doc_id, not
    by content."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.text import (
        WINNOW_FPS,
        winnow_pairs_from_table,
    )
    from simplex_mapreduce_spark.sources.bucketing import read_table_marker

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    e1 = docs.filter(F.col("doc_id") <= mid)
    # epoch 2 additionally carries an exact mirror of an epoch-1 doc
    # under a new id, pinning cross-epoch group reconstruction
    src = e1.orderBy("doc_id").limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
    )
    e2 = docs.filter(F.col("doc_id") > mid).unionByName(src)
    table = "winnow_epoch_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    WINNOW_FPS.build(spark, e1, table)
    WINNOW_FPS.append(spark, e2, table)
    incremental = winnow_pairs_from_table(spark, table).toPandas()
    # the inline query over the ORIGINAL dir lacks the planted mirror;
    # rebuild the union frame through the same inline pipeline instead
    from simplex_mapreduce_spark.operators.text import (
        _winnow_overlap_pairs,
        _winnow_values,
        winnow_fingerprints,
    )
    from simplex_mapreduce_spark.operators.dedup import (
        _capped_groups,
        _group_representatives,
    )

    union = e1.unionByName(e2)
    dg = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    subs = _capped_groups(union.select("doc_id", dg.alias("dg")), "dg")
    reps = union.join(_group_representatives(subs), "doc_id", "left_semi")
    fp = _winnow_values(winnow_fingerprints(reps)).localCheckpoint(
        eager=False
    )
    expected = _winnow_overlap_pairs(fp, subs).toPandas()
    assert _pair_key(incremental) == _pair_key(expected)
    # the planted cross-epoch mirror must appear as a full-overlap pair
    assert (incremental["doc_b"] >= 1_000_000).any()
    # append poisons the ingest fingerprint so a registered name would
    # rebuild rather than silently serve the superset
    assert read_table_marker(spark, table, "_INGEST_FINGERPRINT") == (
        "incremental-append"
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")


# ------------------------------------------------------------------ #
# BPE merge-training loop (round-8, VERDICT r7 item 3).
# ------------------------------------------------------------------ #


def _py_bpe_train(word_freqs: dict, n: int):
    """Reference BPE trainer (Sennrich et al. 2016): greedy
    left-to-right non-overlapping merge application, argmax by
    (count DESC, left, right)."""
    from collections import Counter

    lex = Counter()
    for w, f in word_freqs.items():
        lex[tuple(w)] += f
    rules = []
    for rank in range(1, n + 1):
        counts = Counter()
        for seq, f in lex.items():
            for i in range(len(seq) - 1):
                counts[(seq[i], seq[i + 1])] += f
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rules.append((rank, left, right, left + right, cnt))
        new_lex = Counter()
        for seq, f in lex.items():
            out, i = [], 0
            while i < len(seq):
                if (
                    i + 1 < len(seq)
                    and seq[i] == left
                    and seq[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            new_lex[tuple(out)] += f
        lex = new_lex
    return rules


def test_bpe_train_matches_python_reference(spark):
    """The distributed trainer's full merge table equals the classic
    in-memory trainer's on the real corpus."""
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    from simplex_mapreduce_spark.operators.text import (
        BPE_TRAIN_MERGES,
        bpe_train,
    )

    texts = pq.read_table(f"{SF_DIR}/documents.parquet").column("text")
    wf = Counter()
    for t in texts.to_pylist():
        for w in re.split(r"\s+", t.strip()):
            if len(w) >= 2:
                wf[w] += 1
    expected = _py_bpe_train(wf, BPE_TRAIN_MERGES)
    got = [
        (r["rank"], r["left_sym"], r["right_sym"], r["merged"],
         r["pair_count"])
        for r in bpe_train(spark, SF_DIR).collect()
    ]
    assert got == expected


def test_bpe_train_merge_application_greedy_nonoverlap(spark):
    """Odd runs pin the greedy rule: merging (a,a) over 'aaaaa' must
    yield [aa, aa, a] — a replace-until-fixpoint implementation would
    differ ([aa, aa, a] vs [aa, a, aa] class bugs), and a just-merged
    symbol must never re-merge as the left partner."""
    from simplex_mapreduce_spark.operators.text import bpe_train

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, "aaaaa aaaaa aaaaa"), (2, "aaaa bb"), (3, "aaaa bb")],
            "doc_id long, text string",
        ).write.parquet(f"{d}/documents.parquet")
        rules = bpe_train(spark, d).collect()
    # the lexicon exhausts after 4 merges — the trainer must stop
    # rather than error on an empty argmax
    assert len(rules) == 4
    # freqs: 'aaaaa' x3 -> (a,a) count 12; 'aaaa' x2 -> 6; 'bb' x2 -> 2
    assert (rules[0]["left_sym"], rules[0]["right_sym"]) == ("a", "a")
    assert rules[0]["pair_count"] == 18
    # after merge 1: aaaaa -> [aa,aa,a] (x3), aaaa -> [aa,aa] (x2),
    # bb -> [b,b] (x2); pair counts: (aa,aa) 5, (aa,a) 3, (b,b) 2
    assert (
        rules[1]["left_sym"], rules[1]["right_sym"], rules[1]["pair_count"]
    ) == ("aa", "aa", 5)
    assert (
        rules[2]["left_sym"], rules[2]["right_sym"], rules[2]["pair_count"]
    ) == ("aaaa", "a", 3)
    assert (
        rules[3]["left_sym"], rules[3]["right_sym"], rules[3]["pair_count"]
    ) == ("b", "b", 2)


# ------------------------------------------------------------------ #
# Batched BPE merge learning (round-9, VERDICT r8 item 2).
# ------------------------------------------------------------------ #


def _py_bpe_apply(lex, left, right):
    from collections import Counter

    new_lex = Counter()
    for seq, f in lex.items():
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == left and seq[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        new_lex[tuple(out)] += f
    return new_lex


def _py_bpe_train_batched(word_freqs: dict, scans: int, m: int):
    """Reference SKIP-mode batched trainer: per scan, walk the full
    (count DESC, l, r)-sorted pair list, skip candidates touching an
    accepted symbol (l, r, or merged l||r), accept up to m; apply the
    batch; rescan."""
    from collections import Counter

    lex = Counter()
    for w, f in word_freqs.items():
        lex[tuple(w)] += f
    rules = []
    for _ in range(scans):
        counts = Counter()
        for seq, f in lex.items():
            for i in range(len(seq) - 1):
                counts[(seq[i], seq[i + 1])] += f
        if not counts:
            break
        cands = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        accepted, touched = [], set()
        for (left, right), cnt in cands:
            if {left, right} & touched:
                continue
            accepted.append((left, right, cnt))
            touched |= {left, right, left + right}
            if len(accepted) >= m:
                break
        for left, right, cnt in accepted:
            rules.append((len(rules) + 1, left, right, left + right, cnt))
            lex = _py_bpe_apply(lex, left, right)
    return rules


def _corpus_word_freqs(sf_dir):
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    texts = pq.read_table(f"{sf_dir}/documents.parquet").column("text")
    wf = Counter()
    for t in texts.to_pylist():
        for w in re.split(r"\s+", t.strip()):
            if len(w) >= 2:
                wf[w] += 1
    return wf


def test_bpe_train_batched_matches_python_reference(spark):
    """The registered skip-mode query equals the in-memory reference of
    the SAME batched algorithm on the real corpus (the honesty pin:
    skip mode is the approximation, so it is pinned against itself in
    a second engine, not against the sequential loop)."""
    from simplex_mapreduce_spark.operators.text import (
        BPE_BATCH_M,
        BPE_BATCH_SCANS,
        bpe_train_batched,
    )

    expected = _py_bpe_train_batched(
        _corpus_word_freqs(SF_DIR), BPE_BATCH_SCANS, BPE_BATCH_M
    )
    got = [
        (r["rank"], r["left_sym"], r["right_sym"], r["merged"],
         r["pair_count"])
        for r in bpe_train_batched(spark, SF_DIR).collect()
    ]
    assert got == expected


def test_bpe_train_batched_exact_mode_equals_sequential(spark):
    """Exact mode (barrier-truncated batches) must be prefix-IDENTICAL
    to the sequential loop — the provable-equivalence path."""
    from simplex_mapreduce_spark.operators.text import (
        _learn_bpe_merges,
        _learn_bpe_merges_batched,
    )

    lex = _spark_lexicon(spark, SF_DIR)
    n = 12
    seq_rules = _learn_bpe_merges(lex, n)
    batched, n_scans = _learn_bpe_merges_batched(lex, n=n, m=4, exact=True)
    assert batched == seq_rules
    assert n_scans <= n  # batching can only reduce scans


def _spark_lexicon(spark, sf_dir):
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.functions.textfn import tokens_col
    from simplex_mapreduce_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens_col("text")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.split("w", "").alias("seq"), "freq")
        .localCheckpoint(eager=False)
    )


def test_bpe_train_batched_m1_equals_sequential(spark):
    """Skip mode with m=1 degenerates to the sequential loop exactly —
    each scan is one argmax + one merge."""
    from simplex_mapreduce_spark.operators.text import (
        _learn_bpe_merges,
        _learn_bpe_merges_batched,
    )

    lex = _spark_lexicon(spark, SF_DIR)
    seq_rules = _learn_bpe_merges(lex, 5)
    batched, n_scans = _learn_bpe_merges_batched(lex, n=5, m=1)
    assert batched == seq_rules
    assert n_scans == 5


def test_bpe_train_batched_planted_divergence_and_exact_selfpair(spark):
    """The planted run-heavy corpus where skip mode HONESTLY diverges
    from the sequential loop (it batches (a,a) with the untouched but
    count-stale-safe (b,b), while the sequential loop's rule 2 is the
    created (aa,aa) pair) — and where exact mode must detect the
    self-pair hazard ((a,a) creates (aa,aa) bounded only by its own
    count), terminate the batch, and still equal the sequential loop."""
    import tempfile

    from simplex_mapreduce_spark.operators.text import (
        _learn_bpe_merges,
        _learn_bpe_merges_batched,
        bpe_train,
    )

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, "aaaaa aaaaa aaaaa"), (2, "aaaa bb"), (3, "aaaa bb")],
            "doc_id long, text string",
        ).write.parquet(f"{d}/documents.parquet")
        seq_rules = [
            (r["rank"], r["left_sym"], r["right_sym"], r["merged"],
             r["pair_count"])
            for r in bpe_train(spark, d).collect()
        ]
        lex = _spark_lexicon(spark, d)
        skip_rules, _ = _learn_bpe_merges_batched(lex, n=4, m=4)
        exact_rules, exact_scans = _learn_bpe_merges_batched(
            lex, n=4, m=4, exact=True
        )
    # sequential: (a,a,18), (aa,aa,5), (aaaa,a,3), (b,b,2)
    assert seq_rules[1][1:] == ("aa", "aa", "aaaa", 5)
    # skip mode batches scan 1 as (a,a) + (b,b) — rank 2 diverges, by
    # design; the reference pin carries its semantics
    assert [(left, right) for _, left, right, _, _ in skip_rules[:2]] == [
        ("a", "a"), ("b", "b")
    ]
    # exact mode: the (a,a) self-pair terminates batch 1, so the
    # created (aa,aa) is learned by scan 2's fresh statistic — output
    # identical to the sequential loop
    assert exact_rules == seq_rules
    # scans 1 and 2 are single-rule (self-pairs terminate each batch);
    # scan 3 legitimately batches the disjoint (aaaa,a) + (b,b)
    assert exact_scans == 3


def test_bpe_train_batched_scan_budget(spark):
    """The scans-per-vocab claim at test scale: 12 rules at m=4 in at
    most ceil(12/4)+1 scans on the real corpus (a scan can under-fill
    only when the candidate list itself runs dry)."""
    from simplex_mapreduce_spark.operators.text import (
        _learn_bpe_merges_batched,
    )

    lex = _spark_lexicon(spark, SF_DIR)
    rules, n_scans = _learn_bpe_merges_batched(lex, n=12, m=4)
    assert len(rules) == 12
    assert n_scans <= 4


def test_duplicate_spans_hashed_keys_equal_string_keys(spark):
    """The 128-bit hashed gram-key shuffle variant (the DEFAULT since
    round 10) must emit exactly the span set of the raw-string path
    (also asserted at 100x inside scale_bench.py --hashed-grams)."""
    from simplex_mapreduce_spark.operators.text import duplicate_text_spans

    a = duplicate_text_spans(
        spark, SF_DIR, hashed_gram_keys=False
    ).toPandas()
    b = duplicate_text_spans(spark, SF_DIR).toPandas()  # hashed default
    assert len(a) > 0
    cols = ["doc_id", "start_tok", "end_tok", "n_tokens", "n_grams"]
    assert sorted(map(tuple, a[cols].values.tolist())) == sorted(
        map(tuple, b[cols].values.tolist())
    )


def test_dup_gram_join_back_streams_not_sorts(spark):
    """The round-12 join-strategy pin for the span machinery's
    join-back (the PPJoin verify-join fix class): the positioned gram
    table must PROBE a shuffle-hash build of the slim duplicated-key
    side, never sort for a sort-merge join — at the 5M-doc point the
    SMJ fallback sorted ~500M gram rows and spilled 33 GB at the 16g
    reference heap (SCALING.json sf100_pairs.u1000 before the fix).
    Pinned on the executed plan so a Spark upgrade or hint-resolution
    change can't silently reintroduce the sorting strategy."""
    from simplex_mapreduce_spark.operators.text import _corpus_dup_gram_hits

    _, _, hits = _corpus_dup_gram_hits(spark, SF_DIR)
    hits.collect()
    plan = hits._jdf.queryExecution().executedPlan().toString()
    # Scope the pin to the GRAM-KEY join nodes (keys g1/g2) rather than
    # the whole lineage: an unrelated upstream join legitimately
    # choosing SMJ under a different config/scale must not fail this
    # test spuriously (round-12 advisory).  Join-node lines in the plan
    # string carry their key lists, e.g. `SortMergeJoin [g1#12L, ...`.
    gram_lines = [
        ln for ln in plan.splitlines() if "g1#" in ln and "Join" in ln
    ]
    assert any("ShuffledHashJoin" in ln for ln in gram_lines), plan
    assert not any("SortMergeJoin" in ln for ln in gram_lines), plan


def test_keep_first_hashed_keys_equal_string_keys(spark):
    """Same string-vs-hashed pin for the keep-first variant, which
    carries its own gram pipeline (the first-occurrence struct-min
    rides the hashed grouping unchanged)."""
    from simplex_mapreduce_spark.operators.text import (
        duplicate_text_spans_keep_first,
    )

    a = duplicate_text_spans_keep_first(
        spark, SF_DIR, hashed_gram_keys=False
    ).toPandas()
    b = duplicate_text_spans_keep_first(spark, SF_DIR).toPandas()
    assert len(a) > 0
    cols = ["doc_id", "start_tok", "end_tok", "n_tokens", "n_grams"]
    assert sorted(map(tuple, a[cols].values.tolist())) == sorted(
        map(tuple, b[cols].values.tolist())
    )


# ------------------------------------------------------------------ #
# BPE encode (round-8): apply stage of the tokenizer story.
# ------------------------------------------------------------------ #


def test_bpe_encode_matches_python_reference(spark):
    """Per-source fertility/compression stats equal a classic
    in-memory BPE train+encode on the real corpus."""
    import math
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    from simplex_mapreduce_spark.operators.text import (
        BPE_TRAIN_MERGES,
        bpe_encode,
    )

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet")
    rows = tbl.select(["source", "text"]).to_pylist()
    wf = Counter()
    per_src_words = Counter()
    n_docs = Counter()
    word_lists: dict[str, list[str]] = {}
    for r in rows:
        n_docs[r["source"]] += 1
        words = [w for w in re.split(r"\s+", r["text"].strip()) if w]
        word_lists.setdefault(r["source"], []).extend(words)
        for w in words:
            per_src_words[r["source"]] += 1
            if len(w) >= 2:
                wf[w] += 1
    rules = _py_bpe_train(wf, BPE_TRAIN_MERGES)

    def encode_len(w: str) -> int:
        seq = list(w)
        for _rank, left, right, merged, _cnt in rules:
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == left and seq[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seq = out
        return len(seq)

    enc_cache = {w: encode_len(w) for ws in word_lists.values() for w in ws}
    got = {r["source"]: r for r in bpe_encode(spark, SF_DIR).collect()}
    assert set(got) == set(n_docs)
    for src, ws in word_lists.items():
        n_words = len(ws)
        n_chars = sum(len(w) for w in ws)
        n_bpe = sum(enc_cache[w] for w in ws)
        g = got[src]
        assert g["n_docs"] == n_docs[src]
        assert g["n_words"] == n_words
        assert g["n_word_chars"] == n_chars
        assert g["n_bpe_tokens"] == n_bpe, src
        assert math.isclose(g["fertility"], round(n_bpe / n_words, 6))
        assert math.isclose(
            g["chars_per_bpe_token"], round(n_chars / n_bpe, 6)
        )


def test_bpe_encode_fertility_sane(spark):
    """Merges only ever shrink: 1 <= fertility <= max word length, and
    every BPE token count is bounded by the char count."""
    from simplex_mapreduce_spark.operators.text import bpe_encode

    for r in bpe_encode(spark, SF_DIR).collect():
        assert r["n_bpe_tokens"] >= r["n_words"]  # >=1 token per word
        assert r["n_bpe_tokens"] <= r["n_word_chars"]
        assert r["fertility"] >= 1.0
        assert r["chars_per_bpe_token"] >= 1.0


# ------------------------------------------------------------------ #
# memorization_risk + vocab_growth (round-8).
# ------------------------------------------------------------------ #


def test_memorization_risk_consistent_with_spans(spark):
    """Cross-operator conservation: a doc has dup_frac > 0 iff it has
    at least one duplicate span, and its n_dup_grams equals the total
    n_grams of its spans (islands partition the hit positions)."""
    from simplex_mapreduce_spark.operators.text import (
        duplicate_text_spans,
        memorization_risk,
    )

    risk = {r["doc_id"]: r for r in memorization_risk(spark, SF_DIR).collect()}
    spans = duplicate_text_spans(spark, SF_DIR).collect()
    span_grams: dict = {}
    for s in spans:
        span_grams[s["doc_id"]] = span_grams.get(s["doc_id"], 0) + s["n_grams"]
    assert len(risk) > 0
    for doc_id, r in risk.items():
        assert r["n_dup_grams"] == span_grams.get(doc_id, 0), doc_id
        assert (r["dup_frac"] > 0) == (doc_id in span_grams)
        assert 0.0 <= r["dup_frac"] <= 1.0


def test_memorization_risk_mirror_docs_equal(spark):
    """Identical texts must report identical fractions (the
    rep-collapse fan-out), and a planted full mirror reports 1.0."""
    import tempfile

    from simplex_mapreduce_spark.operators.text import memorization_risk

    base = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"x{i}" for i in range(30))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, base), (2, base), (3, other)],
            "doc_id long, text string",
        ).write.parquet(f"{d}/documents.parquet")
        rows = {r["doc_id"]: r for r in memorization_risk(spark, d).collect()}
    assert rows[1]["dup_frac"] == rows[2]["dup_frac"] == 1.0
    assert rows[1]["n_grams"] == rows[2]["n_grams"] == 16
    assert rows[3]["dup_frac"] == 0.0


def test_vocab_growth_invariants(spark):
    """Cumulative counts are monotone, final cum_vocab equals the
    corpus distinct-word count, final cum_tokens the corpus token
    count, and per-bucket news sum to the cumulative."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.text import vocab_growth
    from simplex_mapreduce_spark.functions.textfn import tokens_col
    from simplex_mapreduce_spark.sources.tables import load_table

    rows = sorted(
        vocab_growth(spark, SF_DIR).collect(), key=lambda r: r["bucket"]
    )
    toks = load_table(spark, SF_DIR, "documents").select(
        F.explode(tokens_col("text")).alias("w")
    )
    n_tokens = toks.count()
    n_vocab = toks.distinct().count()
    assert rows[-1]["cum_tokens"] == n_tokens
    assert rows[-1]["cum_vocab"] == n_vocab
    prev_t = prev_v = 0
    for r in rows:
        assert r["cum_tokens"] == prev_t + r["n_tokens"]
        assert r["cum_vocab"] == prev_v + r["n_new_words"]
        prev_t, prev_v = r["cum_tokens"], r["cum_vocab"]


# ------------------------------------------------------------------ #
# Property-based pins for the round-8 machinery (hypothesis).
# ------------------------------------------------------------------ #


def _py_greedy_merge(seq, left, right, merged):
    out, i = [], 0
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == left and seq[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def test_bpe_fold_property_random_sequences(spark):
    """The JVM aggregate() fold applies a merge rule with exactly the
    classic greedy left-to-right non-overlap semantics on arbitrary
    symbol sequences — including pathological runs (aaaa...), the
    merged-symbol-as-left-partner case, and empty tails."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.text import _bpe_fold_col

    seqs = st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(seqs, st.sampled_from(["a", "b", "c"]), st.sampled_from(["a", "b", "c"]))
    def run(rows, left, right):
        merged = left + right
        df = spark.createDataFrame(
            [(i, r) for i, r in enumerate(rows)],
            "id long, seq array<string>",
        )
        got = {
            r["id"]: r["folded"]
            for r in df.select(
                "id", _bpe_fold_col(left, right, merged).alias("folded")
            ).collect()
        }
        for i, r in enumerate(rows):
            assert got[i] == _py_greedy_merge(r, left, right, merged), (
                r, left, right,
            )

    run()


def test_gram_islands_property_random_positions(spark):
    """_gram_islands_to_spans merges arbitrary duplicated-gram position
    sets into exactly the maximal spans an interval-union reference
    computes: hits at positions P cover tokens [p, p+L-1]; overlapping
    or adjacent-within-L covers fuse; span token counts and gram counts
    are conserved."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from simplex_mapreduce_spark.operators.text import (
        _gram_islands_to_spans,
    )

    L = 5
    possets = st.lists(
        st.sets(st.integers(min_value=1, max_value=60), min_size=1,
                max_size=20),
        min_size=1,
        max_size=4,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(possets)
    def run(docs):
        rows = [
            (doc_id, pos) for doc_id, ps in enumerate(docs) for pos in ps
        ]
        hits = spark.createDataFrame(rows, "doc_id long, pos long")
        got = sorted(
            (r["rep_id"], r["start_tok"], r["end_tok"], r["n_tokens"],
             r["n_grams"])
            for r in _gram_islands_to_spans(hits, L).collect()
        )
        expect = []
        for doc_id, ps in enumerate(docs):
            sp = sorted(ps)
            start = prev = sp[0]
            n = 1
            for x in sp[1:]:
                if x - prev <= L:
                    prev = x
                    n += 1
                else:
                    expect.append(
                        (doc_id, start, prev + L - 1, prev + L - start, n)
                    )
                    start = prev = x
                    n = 1
            expect.append(
                (doc_id, start, prev + L - 1, prev + L - start, n)
            )
        assert got == sorted(expect)

    run()


def test_bpe_encode_stored_equals_inline_and_rules_match_train(spark):
    """The stored-artifact encode path reproduces the inline path
    exactly, and the persisted rule table IS bpe_train's output."""
    from simplex_mapreduce_spark.operators.text import (
        BPE_RULES,
        bpe_encode,
        bpe_encode_stored,
        bpe_train,
    )

    table = BPE_RULES.ensure(spark, SF_DIR)
    try:
        stored_rules = sorted(
            map(tuple, spark.table(table).collect()),
        )
        train_rules = sorted(
            map(tuple, bpe_train(spark, SF_DIR).collect()),
        )
        assert stored_rules == train_rules
        inline = sorted(map(tuple, bpe_encode(spark, SF_DIR).collect()))
        stored = sorted(
            map(tuple, bpe_encode_stored(spark, SF_DIR).collect())
        )
        assert inline == stored
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_nb_source_classifier_matches_python_reference(spark):
    """The confusion matrix equals an in-memory multinomial NB trained
    on the same md5 split, with identical argmax tie-breaking."""
    import hashlib
    import math
    import re
    from collections import Counter, defaultdict

    import pyarrow.parquet as pq

    from simplex_mapreduce_spark.operators.text import nb_source_classifier

    rows = pq.read_table(f"{SF_DIR}/documents.parquet").to_pylist()

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:6], 16) % 100

    train = [r for r in rows if bucket(r["doc_id"]) < 90]
    ev = [r for r in rows if bucket(r["doc_id"]) >= 90]
    tok = lambda t: [w for w in re.split(r"\s+", t.strip()) if w]  # noqa: E731
    twc: dict = defaultdict(Counter)
    for r in train:
        twc[r["source"]].update(tok(r["text"]))
    vocab = {w for c in twc.values() for w in c}
    v = len(vocab)
    ncls = {s: sum(c.values()) for s, c in twc.items()}
    ndocs = Counter(r["source"] for r in train)
    total = sum(ndocs.values())
    priors = {s: math.log(n / total) for s, n in ndocs.items()}
    classes = sorted(twc)

    expect: Counter = Counter()
    for r in ev:
        words = [w for w in tok(r["text"]) if w in vocab]
        if not words:
            continue  # all-OOV docs drop via the inner join
        scores = {}
        for s in classes:
            scores[s] = priors[s] + sum(
                math.log((twc[s].get(w, 0) + 1) / (ncls[s] + v))
                for w in words
            )
        pred = max(classes, key=lambda s: (round(scores[s], 6), s))
        expect[(r["source"], pred)] += 1

    got = {
        (r["actual_source"], r["predicted_source"]): r["n_docs"]
        for r in nb_source_classifier(spark, SF_DIR).collect()
    }
    assert got == dict(expect)
    # NOTE deliberately NO accuracy floor: the synthetic corpus's
    # sources draw from one shared word-salad vocabulary, so they are
    # genuinely indistinguishable and NB scores near chance here — the
    # pin is the exact matrix equality above, not model quality.
    assert sum(got.values()) == sum(expect.values()) > 0


def test_gopher_rules_flag_planted_violations(spark):
    """Each Gopher rule fires on a crafted violator and ONLY on it:
    a clean 60-token doc passes every rule; each other doc violates
    exactly one rule (plus any arithmetically entailed ones)."""
    from unittest import mock

    import simplex_mapreduce_spark.operators.text as text_mod

    clean = "the a " + " ".join(f"word{i}" for i in range(58))
    # 60 tokens, 58 distinct content words, 2 stopword types, all-alpha
    rows = [
        (0, clean),                                 # passes all
        (1, "the a " + "tok " * 10),                # 12 tokens: word_count
        (2, " ".join(f"the a b{i} c{i}" for i in range(15))),  # 60 toks,
        # mean word len ~(3+1+2.x+2.x)/4 < 3: mean_word_len (word_count ok)
        (4, " ".join(["the", "a"] + ["9"] * 58)),   # digits: alpha_words
        (5, " ".join([f"z{i}" for i in range(60)])),  # no stopwords
        (6, "the a " + " ".join(f"g{i} #" for i in range(29))),  # ~50% '#':
        # symbol_ratio (tokens '#' also fail alpha)
        (7, "the a " + "dup " * 58),                # top_token + dup_bigram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with mock.patch.object(text_mod, "load_table", lambda *a, **k: df):
        out = {
            r["doc_id"]: r.asDict()
            for r in text_mod.gopher_quality_rules(None, "").collect()
        }

    assert out[0]["keep"] == 1, out[0]
    assert out[1]["r_word_count"] == 0 and out[1]["keep"] == 0
    assert out[2]["r_word_count"] == 1 and out[2]["r_mean_word_len"] == 0
    assert out[4]["r_alpha_words"] == 0
    assert out[5]["r_stopwords"] == 0
    assert out[6]["r_symbol_ratio"] == 0
    assert out[7]["r_top_token"] == 0 and out[7]["r_dup_bigram"] == 0
    # per-rule attribution: the clean doc is the only keeper
    assert [d for d, r in out.items() if r["keep"] == 1] == [0]


def test_gopher_rules_matches_duckdb(spark, duck):
    spark_pdf = registry.QUERIES["gopher_quality_rules"](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(registry.ORACLES["gopher_quality_rules"]).df()
    assert len(spark_pdf) > 0
    compare_frames(spark_pdf, duck_pdf, "gopher_quality_rules")


def test_compression_ratio_matches_python_zlib_exactly(spark):
    """Rows-only query, so the local pin is the oracle: same zlib, same
    level, byte-for-byte — plus the two flags firing on planted
    repetitive vs noise-like docs."""
    import zlib

    import pyarrow.parquet as pq

    from simplex_mapreduce_spark.operators.text import (
        _ZLIB_LEVEL,
        ZRATIO_HIGH,
        ZRATIO_LOW,
        compression_ratio_signal,
    )

    def java_round4(x: float) -> float:
        # Spark's round() is BigDecimal.valueOf(double) — the SHORTEST
        # decimal repr — quantized HALF_UP; plain python round() uses
        # the exact binary expansion and half-even, which differs on
        # values like 323/160 (repr "2.01875" -> 2.0188 in Spark,
        # binary 2.018749999... -> 2.0187 in python)
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        )

    rows = compression_ratio_signal(spark, SF_DIR).collect()
    tbl = pq.read_table(f"{SF_DIR}/documents.parquet").to_pydict()
    texts = dict(zip(tbl["doc_id"], tbl["text"]))
    assert len(rows) == len(texts) > 0
    for r in rows:
        b = texts[r["doc_id"]].encode("utf-8")
        z = len(zlib.compress(b, _ZLIB_LEVEL))
        assert r["n_bytes"] == len(b)
        assert r["z_bytes"] == z
        assert r["z_ratio"] == java_round4(len(b) / z)
        assert r["flag_incompressible"] == int(len(b) / z < ZRATIO_LOW)
        assert r["flag_repetitive"] == int(len(b) / z > ZRATIO_HIGH)

    # planted extremes through the same plan
    from unittest import mock

    import simplex_mapreduce_spark.operators.text as text_mod

    crafted = spark.createDataFrame(
        [(0, "spark table scan " * 200),          # boilerplate: repetitive
         (1, "k9#q2!x7@m4$p1%z8&w3*v6^b5(n0)j")],  # noise: incompressible
        "doc_id long, text string",
    )
    with mock.patch.object(text_mod, "load_table", lambda *a, **k: crafted):
        got = {r["doc_id"]: r for r in compression_ratio_signal(None, "").collect()}
    assert got[0]["flag_repetitive"] == 1 and got[0]["flag_incompressible"] == 0
    assert got[1]["flag_incompressible"] == 1 and got[1]["flag_repetitive"] == 0


def test_dup_ngram_coverage_matches_duckdb(spark, duck):
    spark_pdf = registry.QUERIES["dup_ngram_coverage"](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(registry.ORACLES["dup_ngram_coverage"]).df()
    assert len(spark_pdf) > 0
    compare_frames(spark_pdf, duck_pdf, "dup_ngram_coverage")


def test_winnow_df_cap_inactive_equals_exact(spark):
    """winnowing_overlap_capped with a cap above every fingerprint df
    must equal the exact registered query byte-for-byte (the cap is a
    pure pre-filter on pair generation)."""
    from simplex_mapreduce_spark.operators.text import (
        winnowing_overlap,
        winnowing_overlap_capped,
    )

    exact = {
        (r["doc_a"], r["doc_b"]): (r["n_shared"], r["overlap_frac"])
        for r in winnowing_overlap(spark, SF_DIR).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): (r["n_shared"], r["overlap_frac"])
        for r in winnowing_overlap_capped(
            spark, SF_DIR, max_df=10**9
        ).collect()
    }
    assert exact == capped and exact


def test_winnow_df_cap_drops_boilerplate_keeps_signal(spark, tmp_path):
    """The MOSS boilerplate rule: a block shared by MANY docs stops
    generating pairs under the cap, while a rare shared passage between
    two docs survives with its exact n_shared."""
    import tempfile

    from simplex_mapreduce_spark.operators.text import (
        winnowing_overlap,
        winnowing_overlap_capped,
    )

    boiler = (
        "subscribe to our newsletter for updates terms of service "
        "apply contact support for assistance all rights reserved"
    )
    rare = "the seldom seen passage about winnowing fingerprints exactly"
    rows = [
        (i, f"unique{i}a unique{i}b unique{i}c " + boiler)
        for i in range(1, 11)
    ]
    rows.append((100, "opening words here " + rare + " trailing text one"))
    rows.append((101, "different opening tokens " + rare + " other tail"))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.parquet(f"{d}/documents.parquet")
        exact = {
            (r["doc_a"], r["doc_b"])
            for r in winnowing_overlap(spark, d).collect()
        }
        capped = {
            (r["doc_a"], r["doc_b"]): r["n_shared"]
            for r in winnowing_overlap_capped(spark, d, max_df=5).collect()
        }
    # uncapped: the boilerplate block pairs all 10 docs (45 pairs)
    assert sum(1 for a, b in exact if a <= 10 and b <= 10) == 45
    assert (100, 101) in exact
    # capped: boilerplate pairs gone, the rare passage pair intact
    assert all(not (a <= 10 and b <= 10) for a, b in capped)
    assert capped.get((100, 101), 0) >= 2


def test_dup_ngram_coverage_nonvacuous_on_repetition_corpus(spark, tmp_path):
    """The round-9 de-vacuification gate (VERDICT r8 item 4): on a
    scalegen repetition corpus (every 5th doc's opening 8 tokens
    appended 3x) the strict DuckDB compare must hold with a MEANINGFUL
    split — some docs flagged, some passing — so the oracle equivalence
    is exercised on non-zero coverage values, not an all-pass constant.
    The sf1-scale twin runs via scale_bench.py --dup-coverage."""
    import duckdb

    from simplex_mapreduce_spark.sources.scalegen import ensure_repetition
    from tests.oracle_utils import compare_frames

    corpus = ensure_repetition(
        spark, SF_DIR, str(tmp_path / "rep"), replicate=1, rep_mod=5
    )
    duck = duckdb.connect()
    duck.sql(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{corpus}/documents.parquet/*.parquet')"
    )
    spark_pdf = registry.QUERIES["dup_ngram_coverage"](spark, corpus).toPandas()
    duck_pdf = duck.sql(registry.ORACLES["dup_ngram_coverage"]).df()
    compare_frames(spark_pdf, duck_pdf, "dup_ngram_coverage_repetition")
    flagged = int((spark_pdf["keep_repetition"] == 0).sum())
    nonzero = int((spark_pdf["dup5_frac"] > 0).sum())
    assert nonzero > 0, "planted repetition produced zero dup5 coverage"
    assert 0 < flagged < len(spark_pdf), (
        f"flagging must discriminate: {flagged}/{len(spark_pdf)}"
    )
    # unplanted docs on this corpus have no within-doc repeats at all
    clean = spark_pdf[spark_pdf["doc_id"] % 5 != 0]
    assert (clean["keep_repetition"] == 1).all()


def test_dup_ngram_coverage_fires_on_planted_repetition(spark):
    """The corpus has no within-doc repeated 5-grams (flags vacuously
    pass there — verified corpus-wide), so the semantics are pinned on
    planted docs: a doc repeating a 10-token block twice must be
    flagged at every n in 5..10 with the hand-computed coverage; a
    repetition-free doc reads 0.0 everywhere."""
    from unittest import mock

    import simplex_mapreduce_spark.operators.text as text_mod
    from simplex_mapreduce_spark.operators.text import (
        DUP_NGRAM_NS,
        dup_ngram_coverage,
    )

    block = "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"          # 10 tokens, 2ch each
    clean = " ".join(f"w{i}" for i in range(40))       # no repeats
    rows = [
        (0, f"{block} mid1 mid2 mid3 {block}"),        # block twice
        (1, clean),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with mock.patch.object(text_mod, "load_table", lambda *a, **k: df):
        out = {r["doc_id"]: r.asDict() for r in dup_ngram_coverage(None, "").collect()}

    # doc 0: 23 tokens, all 2-char except mid1..mid3 (4 chars) ->
    # chars = 20*2 + 3*4 = 52.  For every n in 5..10 the duplicated
    # n-grams are exactly those inside each block copy, covering all
    # 20 block-token positions and nothing else -> coverage 40/52.
    expect = round(40 / 52, 4)
    for n in DUP_NGRAM_NS:
        assert out[0][f"dup{n}_frac"] == expect, (n, out[0])
        assert out[0][f"r_dup{n}"] == 0
        assert out[1][f"dup{n}_frac"] == 0.0
        assert out[1][f"r_dup{n}"] == 1
    assert out[0]["keep_repetition"] == 0
    assert out[1]["keep_repetition"] == 1


def test_winnow_group_sidecar_lifecycle(spark, tmp_path):
    """The winnow table's mirror-group sidecar (mirroring the shingle
    table's): written by the build, read by the stored
    query path with output identical to the inline-group fallback, and
    dropped by append so stale groups can never be served."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.dedup import (
        MIRROR_GROUP_CAP,
        _stored_groups,
    )
    from simplex_mapreduce_spark.operators.text import (
        WINNOW_FPS,
        winnow_pairs_from_table,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [(1, base), (2, base), (3, base + " tail extra tokens here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    table = "winnow_sidecar_drill"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    WINNOW_FPS.build(spark, docs, table)
    try:
        assert _stored_groups(spark, table, "dg", MIRROR_GROUP_CAP) is not None
        key = lambda df: {  # noqa: E731
            (r["doc_a"], r["doc_b"], r["n_shared"])
            for r in df.collect()
        }
        with_sidecar = key(winnow_pairs_from_table(spark, table))
        assert (1, 2) in {(a, b) for a, b, _ in with_sidecar}  # mirror pair

        # append drops the sidecar; the fallback sees the new mirror
        WINNOW_FPS.append(
            spark,
            spark.createDataFrame([(9, base)], "doc_id long, text string"),
            table,
        )
        assert _stored_groups(spark, table, "dg", MIRROR_GROUP_CAP) is None
        post = key(winnow_pairs_from_table(spark, table))
        assert (2, 9) in {(a, b) for a, b, _ in post}

        # rebuilding the sidecar restores the fast path, same output
        WINNOW_FPS.refresh_sidecars(spark, table)
        assert _stored_groups(spark, table, "dg", MIRROR_GROUP_CAP) is not None
        assert key(winnow_pairs_from_table(spark, table)) == post
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
