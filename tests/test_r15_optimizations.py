"""Focused pins for the r15 plan-level optimizations: each one asserts
the EQUIVALENCE the optimization relies on, so a later refactor cannot
silently break the argument the speedup was shipped on.

- tokens() lambda-free form == the old filter-lambda form.
- BM25's tokenize-free stats pass: regexp_count(text, '\\S+') ==
  size(tokens(text)) on every boundary case.
- Hashed shingles == xxhash64 of string shingles, elementwise.
- The q37 shingle-barrier size gate changes the PLAN, never the rows.
- The set-cover greedy's map-only rounds (array_except against a
  driver-held covered literal) pick exactly what the anti-join rounds
  they replaced picked.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"


EDGE_TEXTS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, "one"),
    (5, "  leading and   trailing  "),
    (6, "tab\tsep\nnewline mixed   runs"),
    (7, "a b c d e f g"),
]


def test_tokens_matches_filter_lambda_form(spark):
    from batchprocessingetl_spark.operators.text import tokens

    df = spark.createDataFrame(EDGE_TEXTS, "id int, text string")
    old = F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != F.lit(""))
    rows = df.select(
        "id", tokens(F.col("text")).alias("new"), old.alias("old")
    ).collect()
    for r in rows:
        assert r.new == r.old, f"id={r.id}: {r.new} != {r.old}"


def test_bm25_stats_regexp_count_equals_token_size(spark):
    """dl == size(tokens(text)) must equal the stats pass's
    regexp_count(text, '\\S+') on every edge case, including NULL
    text, where BOTH forms yield NULL (size of a NULL array is NULL
    on this Spark — an earlier coalesce(-1) draft diverged here)."""
    from batchprocessingetl_spark.operators.text import tokens

    df = spark.createDataFrame(EDGE_TEXTS, "id int, text string")
    rows = df.select(
        "id",
        F.size(tokens(F.col("text"))).alias("via_tokens"),
        F.regexp_count("text", F.lit(r"\S+")).alias("via_regexp"),
    ).collect()
    for r in rows:
        assert r.via_tokens == r.via_regexp, r

    # and on real corpus text
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    mismatches = (
        docs.select(
            F.size(tokens(F.col("text"))).alias("a"),
            F.regexp_count("text", F.lit(r"\S+")).alias("b"),
        )
        .filter(~F.col("a").eqNullSafe(F.col("b")))
        .count()
    )
    assert mismatches == 0


def test_hashed_shingles_equal_xxhash_of_string_shingles(spark):
    from batchprocessingetl_spark.operators.dedup import shingle_frame

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(200)
    s = shingle_frame(docs, "doc_id", "text", 3).select(
        "id", F.transform("sh", lambda x: F.xxhash64(x)).alias("expect")
    )
    h = shingle_frame(docs, "doc_id", "text", 3, hashed=True).select(
        "id", F.col("sh").alias("got")
    )
    bad = (
        s.join(h, "id")
        .filter(F.col("expect") != F.col("got"))
        .count()
    )
    assert bad == 0


def test_minhash_barrier_gate_does_not_change_rows(spark, monkeypatch):
    """SPARK_GRAFT_SHINGLE_BARRIER_MIN_BYTES=0 forces the shingle
    barrier on; a huge value forces it off. Same pairs either way."""
    from batchprocessingetl_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    def pairs():
        return sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_dedup_pairs(docs, "doc_id", "text").collect()
        )

    monkeypatch.setenv("SPARK_GRAFT_SHINGLE_BARRIER_MIN_BYTES", "0")
    forced_on = pairs()
    monkeypatch.setenv("SPARK_GRAFT_SHINGLE_BARRIER_MIN_BYTES", "999999999999")
    forced_off = pairs()
    assert forced_on == forced_off
    assert len(forced_on) > 0


SETCOVER_EDGE_TEXTS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, "one two"),
    (5, "a b c d e"),
    (6, "a b c d e"),  # duplicate of 5: ties, then gain 0 once 5/7 win
    (7, "a\tb\nc d\te f"),  # tab/newline-separated; ties with 13
    (8, "x y z w"),  # ties with 9 and 12
    (9, "p q r s"),
    (10, "  leading and   trailing  words here "),
    (11, "x y z"),  # covered entirely by 8
    (12, "e f g h"),
    (13, "a b c d e f"),
]


def _anti_join_greedy(per_doc, pool=None):
    """Reference greedy in the round shape the set-cover queries used
    before: exploded (doc, shingle) rows, the covered shingles removed
    by a left-anti join, gain = count of the remaining rows per doc."""
    from batchprocessingetl_spark.workload.textops import SETCOVER_K

    sh = per_doc.select("doc_id", F.explode(F.array_distinct("sh")).alias("sh"))
    picked, covered_sh, total = [], None, 0
    for r in range(1, SETCOVER_K + 1):
        cand = sh if pool is None else sh.filter(pool(r))
        if covered_sh is not None:
            cand = cand.join(covered_sh, "sh", "left_anti")
        best = (
            cand.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), "doc_id")
            .limit(1)
            .collect()
        )
        if not best:
            if pool is None:
                break
            continue
        b = best[0]
        total += b.gain
        picked.append((r, b.doc_id, b.gain, total))
        new = sh.filter(F.col("doc_id") == b.doc_id).select("sh")
        covered_sh = new if covered_sh is None else covered_sh.union(new)
    return picked


def _per_doc(docs):
    from batchprocessingetl_spark.operators.dedup import shingle_frame

    return (
        shingle_frame(docs, "doc_id", "text", 3)
        .select(F.col("id").alias("doc_id"), "sh")
        .localCheckpoint(eager=True)
    )


def _rows(df):
    return [(r.round, r.doc_id, r.gain, r.covered) for r in df.collect()]


def test_greedy_cover_matches_anti_join_reference_on_corpus(spark):
    from batchprocessingetl_spark.workload.textops import (
        _greedy_cover,
        q275_setcover_selection,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ref = _anti_join_greedy(_per_doc(docs))
    assert len(ref) > 0
    assert _rows(_greedy_cover(spark, _per_doc(docs))) == ref
    assert _rows(q275_setcover_selection(spark, SF_SMOKE)) == ref


def test_greedy_cover_matches_anti_join_reference_on_edge_corpus(spark):
    """Null, empty and whitespace-only texts, tab/newline separators,
    duplicate documents and gain ties; without a pool the corpus is
    covered before round k (the loop must stop, not pick a 0-gain doc),
    and with a pool some rounds find nothing and are skipped."""
    from batchprocessingetl_spark.workload.textops import _greedy_cover

    docs = spark.createDataFrame(SETCOVER_EDGE_TEXTS, "doc_id long, text string")
    per_doc = _per_doc(docs)
    ref = _anti_join_greedy(per_doc)
    assert [p[1] for p in ref] == [7, 10, 8, 9, 12]
    assert _rows(_greedy_cover(spark, per_doc)) == ref

    def pool(r):
        return F.col("doc_id") % 3 == r % 3

    ref_pool = _anti_join_greedy(per_doc, pool)
    assert [p[0] for p in ref_pool] == [1, 2, 3, 4, 6]  # round 5's pool is spent
    assert _rows(_greedy_cover(spark, per_doc, pool)) == ref_pool
