"""Seeded input generators for the three benchmark workloads.

The inputs are built here with numpy and pyarrow, never with the engine's
own generators, so a change to the engine cannot change what it is
measured on.  The same seed always gives byte-identical files.

- :func:`star_schema` writes the eight relational tables with the
  column names and parquet types of the repository's test data
  (timestamps are ``timestamp[us]`` without a zone, read by Spark as
  ``TIMESTAMP_NTZ``).
- :func:`word_text` writes one zipf-skewed text file for word count.
- :func:`corpus` writes a document corpus with planted exact and near
  copies, plus a refreshed snapshot of it (removed, edited and added
  documents).

Each returns ``{name: (rows, bytes)}`` for the files it wrote.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> tuple[int, int]:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return table.num_rows, os.path.getsize(path)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _cents(values: np.ndarray) -> np.ndarray:
    """Round to whole cents, so every SUM of the column is an exact
    two-decimal value in both engines."""
    return np.round(values, 2)


def star_schema(out_dir: str, seed: int, lineitem_rows: int) -> dict:
    """TPC-H-shaped star schema plus an ``events`` stream table.

    Row counts scale with ``lineitem_rows`` in the repository test data's
    ratios (orders 1/4, customers 1/40, parts 1/30, suppliers 1/600,
    events 1/6).  Extended prices are whole multiples of 100, so the
    discounted and taxed sums in ``q1_pricing_summary`` are exact
    two-decimal values: a sum that lands exactly half-way between two
    cents would otherwise round differently depending on summation
    order, in Spark and in the DuckDB oracle alike.
    """
    n_li = lineitem_rows
    n_ord = max(n_li // 4, 1)
    n_cust = max(n_li // 40, 1)
    n_part = max(n_li // 30, 1)
    n_supp = max(n_li // 600, 1)
    n_ev = max(n_li // 6, 1)
    out = {}

    out["region"] = _write(
        pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        f"{out_dir}/region.parquet",
    )
    out["nation"] = _write(
        pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        f"{out_dir}/nation.parquet",
    )

    r = _rng(seed, 1)
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    out["customer"] = _write(
        pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(r.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": segments[r.integers(0, 5, n_cust)],
        }),
        f"{out_dir}/customer.parquet",
    )

    r = _rng(seed, 2)
    out["supplier"] = _write(
        pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(r.uniform(-999.99, 9999.99, n_supp)),
        }),
        f"{out_dir}/supplier.parquet",
    )

    r = _rng(seed, 3)
    adjectives = np.array(["large", "small", "hot", "cold", "shiny", "matte"])
    nouns = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "plate"])
    types = np.array(["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO"])
    retail_units = r.integers(9, 21, n_part)  # retail price / 100
    out["part"] = _write(
        pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(
                np.char.add(adjectives[r.integers(0, 6, n_part)], " "),
                nouns[r.integers(0, 7, n_part)],
            ),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
            "p_type": types[r.integers(0, 5, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail_units * 100.0,
        }),
        f"{out_dir}/part.parquet",
    )

    r = _rng(seed, 4)
    order_days = r.integers(0, 2405, n_ord)  # 1992-01-01 .. 1998-08-02
    statuses = np.array(["F", "O", "P"])
    priorities = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )
    out["orders"] = _write(
        pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": statuses[r.integers(0, 3, n_ord)],
            "o_totalprice": _cents(r.uniform(900.0, 450_000.0, n_ord)),
            "o_orderdate": _ts(_EPOCH_1992 + order_days * _DAY_US),
            "o_orderpriority": priorities[r.integers(0, 5, n_ord)],
        }),
        f"{out_dir}/orders.parquet",
    )

    r = _rng(seed, 5)
    partkey = r.integers(0, n_part, n_li)
    quantity = r.integers(1, 51, n_li)
    ship_days = r.integers(1, 2525, n_li)  # 1992-01-02 .. 1998-11-30
    flags = np.array(["A", "N", "R"])
    out["lineitem"] = _write(
        pa.table({
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": quantity.astype(np.float64),
            "l_extendedprice": (quantity * retail_units[partkey] * 100).astype(
                np.float64
            ),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": flags[r.integers(0, 3, n_li)],
            "l_linestatus": np.where(ship_days > 2350, "O", "F"),
            "l_shipdate": _ts(_EPOCH_1992 + ship_days * _DAY_US),
        }),
        f"{out_dir}/lineitem.parquet",
    )

    r = _rng(seed, 6)
    n_users = max(n_ev // 40, 1)
    week_us = 7 * _DAY_US
    event_types = np.array(["view", "click", "add_to_cart", "purchase", "error"])
    out["events"] = _write(
        pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.sort(r.integers(0, week_us, n_ev))),
            "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
            "event_type": event_types[
                r.choice(5, n_ev, p=[0.5, 0.25, 0.12, 0.08, 0.05])
            ],
            "value": _cents(r.uniform(0.0, 500.0, n_ev)),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }),
        f"{out_dir}/events.parquet",
    )
    return out


def _vocabulary(r: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase pseudo-words."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(r.integers(2, 10))
        words.add("".join(letters[r.integers(0, 26, n)]))
    return np.array(sorted(words))


def _zipf_probs(size: int, exponent: float) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** exponent
    return p / p.sum()


def word_text(path: str, seed: int, n_words: int, vocab: int = 20_000) -> dict:
    """One text file of ``n_words`` zipf-skewed words, 12 per line."""
    r = _rng(seed, 7)
    words = _vocabulary(r, vocab)
    picks = words[r.choice(vocab, n_words, p=_zipf_probs(vocab, 1.1))]
    lines = [" ".join(picks[i : i + 12]) for i in range(0, n_words, 12)]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return {"words": (n_words, os.path.getsize(path))}


def _docs_table(ids: list[int], texts: list[str], r) -> pa.Table:
    langs = np.array(["en", "de", "fr", "es", "zh"])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs[r.integers(0, 5, len(ids))],
        "source": [f"src{k}" for k in r.integers(0, 10, len(ids))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _substitute(r, tokens: list[str], words: np.ndarray, m: int) -> list[str]:
    """Replace ``m`` distinct positions with fresh words: each change
    removes up to three word-3-gram shingles, so m = 1..4 on a 40-120
    token document lands the Jaccard score on both sides of 0.8."""
    out = list(tokens)
    for pos in r.choice(len(out), size=min(m, len(out)), replace=False):
        out[pos] = str(words[r.integers(0, len(words))])
    return out


def corpus(out_dir: str, seed: int, n_docs: int, vocab: int = 4000) -> dict:
    """``v1/documents.parquet`` and its refresh ``v2/documents.parquet``.

    v1 holds 70% unique documents, 10% exact copies (half of them with
    doubled spaces, which ``exact_dedup`` normalizes away) and 20% near
    copies with 1, 2, 3, 4 or 6 substituted words.  Every copy is made
    from a unique document and each copied document gets exactly two
    copies, so the duplicate clusters have the same sizes for every seed.
    v2 removes 3% of v1, edits 3% and adds 5% new documents, every other
    one a near copy of a v1 document.
    """
    r = _rng(seed, 8)
    words = _vocabulary(r, vocab)
    probs = _zipf_probs(vocab, 0.9)

    def fresh() -> list[str]:
        n = int(r.integers(40, 121))
        return [str(w) for w in words[r.choice(vocab, n, p=probs)]]

    n_exact, n_near = n_docs // 10, n_docs // 5
    n_unique = n_docs - n_exact - n_near
    docs: list[list[str]] = [fresh() for _ in range(n_unique)]
    spacing: list[str] = [" "] * n_unique
    sources = r.permutation(n_unique)
    for k in range(n_exact + n_near):
        src = docs[int(sources[k // 2])]
        if k < n_exact:
            docs.append(list(src))
            spacing.append("  " if k % 2 else " ")
        else:
            docs.append(_substitute(r, src, words, (1, 2, 3, 4, 6)[k % 5]))
            spacing.append(" ")
    order = r.permutation(n_docs)
    v1 = {int(i): spacing[k].join(docs[k]) for i, k in zip(range(n_docs), order)}

    v2 = dict(v1)
    ids = np.array(sorted(v1))
    touched = r.choice(ids, size=max(2, n_docs * 6 // 100), replace=False)
    half = len(touched) // 2
    for i in touched[:half]:
        del v2[int(i)]
    for i in touched[half:]:
        toks = v2[int(i)].split()
        v2[int(i)] = " ".join(_substitute(r, toks, words, 1) + ["rev2", "edit"])
    next_id = n_docs
    for k in range(max(2, n_docs * 5 // 100)):
        if k % 2 == 0:
            src = v1[int(r.choice(ids))].split()
            v2[next_id] = " ".join(_substitute(r, src, words, int(r.integers(1, 4))))
        else:
            v2[next_id] = " ".join(fresh())
        next_id += 1

    out = {}
    for name, snap in (("v1", v1), ("v2", v2)):
        keys = sorted(snap)
        out[f"documents_{name}"] = _write(
            _docs_table(keys, [snap[k] for k in keys], r),
            f"{out_dir}/{name}/documents.parquet",
        )
    return out
