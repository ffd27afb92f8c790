"""Exact-substring dedup (`operators/substr_dedup.py`) — differential
against a brute-force Python oracle (all k-gram occurrences counted,
islands stitched by hand), plus the module's stated guarantees:
full coverage of any planted ≥k duplicate in every occurrence, and
paper-policy removal (cut ALL copies, merged overlaps)."""

from __future__ import annotations

import random
from collections import Counter

from data_pipeline_project_using_telegram_and_aws_spark.operators.substr_dedup import (
    exact_substring_spans,
    remove_spans,
)


def _brute_spans(docs, k, min_count=2):
    c = Counter()
    for _, t in docs:
        for p in range(len(t) - k + 1):
            c[t[p:p + k]] += 1
    spans = []
    for d, t in docs:
        marked = [
            p for p in range(len(t) - k + 1) if c[t[p:p + k]] >= min_count
        ]
        runs = []
        for p in marked:
            if runs and p == runs[-1][1] + 1:
                runs[-1] = (runs[-1][0], p)
            else:
                runs.append((p, p))
        spans.extend((d, a + 1, b - a + k) for a, b in runs)
    return sorted(spans)


def _py_remove(t, spans):
    iv = sorted((s - 1, s - 1 + ln) for _, s, ln in spans)
    merged = []
    for s, e in iv:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    out, cur = "", 0
    for s, e in merged:
        out += t[cur:s]
        cur = e
    return out + t[cur:]


def _fixture_docs():
    rng = random.Random(42)

    def rnd(n):
        return "".join(rng.choice("abcd ") for _ in range(n))

    dup = "the quick brown fox jumps over the lazy dog again and again"
    return [
        ("d1", rnd(40) + dup + rnd(35)),
        ("d2", rnd(25) + dup + rnd(50)),
        ("d3", rnd(90)),
        # within-document repeat plus cross-document prefix overlap
        ("d4", "xyz" + dup[:30] + "qqq" + dup[:30] + "zz"),
        ("d5", "short"),
    ]


def test_spans_match_brute_force(spark):
    docs = _fixture_docs()
    k = 12
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_length)
        for r in exact_substring_spans(df, k=k).collect()
    )
    want = _brute_spans(docs, k)
    assert got == want and len(got) >= 4


def test_planted_duplicate_fully_covered_everywhere(spark):
    """The no-false-negative guarantee: a ≥k string occurring in
    three places (two docs, one twice) is fully inside a reported
    span at every occurrence."""
    k = 20
    dup = "0123456789abcdefghij-SHARED-jihgfedcba9876543210"
    docs = [
        ("a", "AAA" + dup + "BBB"),
        ("b", "CC" + dup + "DD" + dup + "EE"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    spans = {
        (r.doc_id, r.span_start, r.span_length)
        for r in exact_substring_spans(df, k=k).collect()
    }
    for d, t in docs:
        at = 0
        while True:
            p = t.find(dup, at)
            if p < 0:
                break
            assert any(
                sd == d and s <= p + 1 and p + 1 + len(dup) <= s + ln
                for sd, s, ln in spans
            ), (d, p, spans)
            at = p + 1


def test_remove_spans_paper_policy(spark):
    """All occurrences cut (no survivor copy), overlap merge correct,
    span-free documents pass through untouched — against the Python
    removal oracle."""
    docs = _fixture_docs()
    k = 12
    df = spark.createDataFrame(docs, "doc_id string, text string")
    spans_df = exact_substring_spans(df, k=k)
    want_spans = _brute_spans(docs, k)
    cleaned = {
        r.doc_id: r.text for r in remove_spans(df, spans_df).collect()
    }
    for d, t in docs:
        assert cleaned[d] == _py_remove(
            t, [x for x in want_spans if x[0] == d]
        ), d
    # the shared sentence is gone from every doc that carried it
    assert "quick brown fox" not in cleaned["d1"]
    assert "quick brown fox" not in cleaned["d2"]
    # d3/d5 had no spans at k=12 with this seed → identical text
    assert cleaned["d3"] == docs[2][1]
    assert cleaned["d5"] == "short"


def test_randomized_differential(spark):
    """Randomized corpora over a tiny alphabet (dense accidental
    repeats — the hard case for island stitching) stay byte-equal to
    the brute-force oracle, spans and removal both."""
    rng = random.Random(7)
    for trial in range(3):
        docs = [
            (
                f"t{trial}_{i}",
                "".join(rng.choice("ab") for _ in range(rng.randint(0, 60))),
            )
            for i in range(6)
        ]
        k = rng.choice([4, 6])
        df = spark.createDataFrame(docs, "doc_id string, text string")
        got = sorted(
            (r.doc_id, r.span_start, r.span_length)
            for r in exact_substring_spans(df, k=k).collect()
        )
        want = _brute_spans(docs, k)
        assert got == want, (trial, k, got, want)
        cleaned = {
            r.doc_id: r.text
            for r in remove_spans(df, exact_substring_spans(df, k=k)).collect()
        }
        for d, t in docs:
            assert cleaned[d] == _py_remove(
                t, [x for x in want if x[0] == d]
            ), (trial, d)


def test_gram_hash_contract(spark):
    """The r13 xxhash64 gram hash's load-bearing properties (replaces
    the retired md5-prefix/winnowing byte-equality pin — the two
    schemes no longer share a fingerprint space; substr_dedup's hash
    is engine-internal and its registered oracle compares raw gram
    STRINGS, so only these properties matter): (1) equal k-grams hash
    equal regardless of document or position — the dedup's entire
    correctness hangs on this; (2) the 14 distinct grams of a
    15-char pangram-free string hash distinct (collision smoke);
    (3) the hash of a gram is independent of trailing text (substring
    slicing really bounds the input)."""
    from pyspark.sql import functions as F

    from data_pipeline_project_using_telegram_and_aws_spark.operators.substr_dedup import (
        _gram_hash,
    )

    k = 8
    df = spark.createDataFrame(
        [
            ("x", "abcdefghijklmno"),
            # same grams embedded at OTHER positions + different tail
            ("y", "zzabcdefghijklmnoqqqq"),
        ],
        "doc_id string, text string",
    )
    rows = (
        df.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - k + 1)
            ).alias("p"),
            "text",
        )
        .select(
            "doc_id",
            F.substring("text", F.col("p"), k).alias("gram"),
            _gram_hash(F.col("text"), F.col("p"), k).alias("h"),
        )
        .collect()
    )
    by_gram: dict[str, set[int]] = {}
    for r in rows:
        by_gram.setdefault(r.gram, set()).add(r.h)
    # (1)+(3): one hash per distinct gram across docs/positions/tails
    assert all(len(hs) == 1 for hs in by_gram.values())
    # (2): distinct grams → distinct hashes on this fixture
    all_h = [next(iter(hs)) for hs in by_gram.values()]
    assert len(set(all_h)) == len(by_gram) > 0
