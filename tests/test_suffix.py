"""Distributed suffix-array substring dedup — `operators/suffix.py`.

Three layers of evidence:
1. python-twin equality of `duplicated_runs` on a crafted corpus
   (planted within-doc, cross-doc, overlapping, and boundary-adjacent
   repeats) at several min_len values incl. non-powers-of-two;
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


@pytest.mark.parametrize("min_len", [2, 3, 4, 8])
def test_duplicated_runs_matches_python_twin(spark, min_len):
    df = spark.createDataFrame(CRAFTED, "doc_id long, text string")
    got = sorted((r["doc_id"], r["span_start"], r["span_end"],
                  r["n_windows"])
                 for r in sx.duplicated_runs(df, "doc_id", "text",
                                             min_len=min_len).collect())
    assert got == _py_runs(CRAFTED, min_len)


def test_duplicated_runs_equals_window_hash_algorithm(spark, sf_dir):
    """The exactness tier and the window-hash approximation implement
    the SAME definition at min_len == window: byte-equal spans on the
    real fixture, from disjoint algorithms."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    via_sa = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in sx.duplicated_runs(d, "doc_id", "text",
                                    min_len=12).collect())
    via_hash = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in dedup.duplicate_spans(d, "doc_id", "text",
                                       window=12).collect())
    assert via_sa == via_hash and via_sa  # non-vacuous: fixture has dups


def test_duplicated_runs_finds_sub_window_repeats(spark):
    """The reason this tier exists: a 3-token duplicated run invisible
    to duplicate_spans(window=12)."""
    docs = [(1, "alpha beta gamma " + "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
            (2, "v1 v2 v3 v4 v5 v6 v7 v8 v9 " + "alpha beta gamma")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in sx.duplicated_runs(df, "doc_id", "text",
                                       min_len=3).collect()}
    assert got == {(1, 0, 3), (2, 9, 12)}
    assert dedup.duplicate_spans(df, "doc_id", "text",
                                 window=12).count() == 0


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
    with pytest.raises(ValueError, match="min_len"):
        sx.duplicated_runs(df, "doc_id", "text", min_len=0)


def test_longest_duplicated_run(spark):
    """Exact longest-duplicated-run length vs a brute-force python scan
    over the same token streams (within + cross doc, periodic overlap,
    duplication-free corpus, and the max_len cap)."""
    def brute(docs):
        toks = {i: tokens_spark(t) for i, t in docs}
        best = 0
        seen = {}
        for i, tt in toks.items():
            for a in range(len(tt)):
                for b in range(a + 1, len(tt) + 1):
                    seen.setdefault(tuple(tt[a:b]), []).append((i, a))
        for run, occ in seen.items():
            if len(occ) > 1:
                best = max(best, len(run))
        return best

    cases = [
        # 7-token phrase repeated across docs (longest)
        [(1, "one two three four five six seven tail1 x"),
         (2, "head one two three four five six seven y")],
        # periodic self-overlap: [xx yy]*4 -> longest dup run = 6
        [(1, "xx yy xx yy xx yy xx yy")],
        # no duplication at all
        [(1, "a b c"), (2, "d e f")],
    ]
    for docs in cases:
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = sx.longest_duplicated_run(df, "doc_id", "text")
        assert got == brute(docs), docs

    # the cap: a 40-token duplicated run reports max_len when capped
    long_docs = [(1, " ".join(f"t{i}" for i in range(40)) + " u1"),
                 (2, " ".join(f"t{i}" for i in range(40)) + " u2")]
    df = spark.createDataFrame(long_docs, "doc_id long, text string")
    assert sx.longest_duplicated_run(df, "doc_id", "text", max_len=8) == 8
    assert sx.longest_duplicated_run(df, "doc_id", "text") == 40
