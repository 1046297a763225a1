"""Distributed suffix-array substring dedup — `operators/suffix.py`.

Three layers of evidence:
1. python-twin equality of `duplicated_runs` on a crafted corpus
   (planted within-doc, cross-doc, overlapping, and boundary-adjacent
   repeats) at its 12-token run length, a non-power-of-two, with the
   corpus split over several partition counts;
2. cross-ALGORITHM equality with `dedup.duplicate_spans` on the real
   fixture (window hashing vs prefix-doubling ranks — disjoint code
   paths, identical definition; this pair also rides the dedup_exact
   kind='sa' vs kind='span' oracle rows at the driver gate);
3. rank equality classes from `suffix_ranks` vs a brute-force python
   prefix comparison.
"""

import pytest

from amazon_kinesis_replay_spark.functions.xxh import tokens_spark
from amazon_kinesis_replay_spark.operators import dedup
from amazon_kinesis_replay_spark.operators import suffix as sx
from amazon_kinesis_replay_spark.tables import load

CRAFTED = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "a totally unique document with no repeats whatsoever here"),
    (3, "the quick brown fox jumps over the lazy dog again and again"),
    (4, "prefix words then the quick brown fox jumps over the lazy dog"),
    (5, "xx yy xx yy xx yy xx yy"),          # overlapping periodic run
    (6, "the lazy dog again"),               # shares a sub-window run
    (7, " ".join(["xx yy zz"] * 9)),         # periodic, many windows
    (8, "lead " + " ".join(["xx yy zz"] * 5)),   # shares doc 7's runs
]


def _py_runs(docs, min_len):
    toks = {i: tokens_spark(t) for i, t in docs}
    from collections import Counter
    seen = Counter()
    for i, tt in toks.items():
        for p in range(len(tt) - min_len + 1):
            seen[tuple(tt[p:p + min_len])] += 1
    out = []
    for i, tt in toks.items():
        starts = [p for p in range(len(tt) - min_len + 1)
                  if seen[tuple(tt[p:p + min_len])] > 1]
        island = []
        for p in starts:
            if island and p <= island[-1] + min_len:
                island.append(p)
            else:
                if island:
                    out.append((i, island[0], island[-1] + min_len,
                                len(island)))
                island = [p]
        if island:
            out.append((i, island[0], island[-1] + min_len, len(island)))
    return sorted(out)


@pytest.mark.parametrize("n_parts", [2, 3, 4, 8])
def test_duplicated_runs_matches_python_twin(spark, n_parts):
    """Global positions come from a distributed cumsum over input
    partitions, so the runs must not depend on how the corpus is split."""
    df = spark.createDataFrame(CRAFTED, "doc_id long, text string") \
        .repartition(n_parts)
    got = sorted((r["doc_id"], r["span_start"], r["span_end"],
                  r["n_windows"])
                 for r in sx.duplicated_runs(df, "doc_id", "text").collect())
    want = _py_runs(CRAFTED, dedup.SPAN_WINDOW)
    assert got == want and {r[0] for r in want} == {1, 3, 7, 8}


def test_duplicated_runs_equals_window_hash_algorithm(spark, sf_dir):
    """The exactness tier and the window-hash approximation implement
    the SAME definition at the same SPAN_WINDOW: byte-equal spans on the
    real fixture, from disjoint algorithms."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    via_sa = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in sx.duplicated_runs(d, "doc_id", "text").collect())
    via_hash = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in dedup.duplicate_spans(d, "doc_id", "text").collect())
    assert via_sa == via_hash and via_sa  # non-vacuous: fixture has dups


def test_suffix_ranks_equality_classes(spark):
    """Positions share a rank at width w iff their w-token prefixes are
    identical (sentinel-terminated, never crossing doc ends)."""
    docs = [(1, "a b a b x"), (2, "a b a")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    tok = sx.corpus_tokens(df, "doc_id", "text")
    rows = {r["gpos"]: (r["doc_id"], r["pos"], r["token"])
            for r in tok.collect()}
    for width in (1, 2, 4):
        ranks = {r["gpos"]: r["rank"]
                 for r in sx.suffix_ranks(tok, width).collect()}
        # python prefixes over the global stream with per-doc sentinels
        stream = [rows[g][2] if rows[g][2] is not None else ("\x00", g)
                  for g in sorted(rows)]
        pref = {g: tuple(stream[g:g + width]) for g in sorted(rows)}
        for ga in sorted(rows):
            for gb in sorted(rows):
                same = ranks[ga] == ranks[gb]
                assert same == (pref[ga] == pref[gb]), \
                    f"width={width} gpos=({ga},{gb})"


def test_corpus_tokens_positions(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "c")],
                               "doc_id long, text string")
    rows = sorted((r["gpos"], r["doc_id"], r["pos"], r["token"])
                  for r in sx.corpus_tokens(df, "doc_id", "text").collect())
    assert rows == [(0, 1, 0, "a"), (1, 1, 1, "b"), (2, 1, 2, None),
                    (3, 2, 0, "c"), (4, 2, 1, None)]


def test_suffix_args_validated(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="power of two"):
        sx.suffix_ranks(sx.corpus_tokens(df, "doc_id", "text"), 3)
