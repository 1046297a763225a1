"""Distributed suffix-array substring dedup — the EXACTNESS tier above
`dedup.duplicate_spans`' window-hash approximation.

Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
Better") define ExactSubstr over a suffix array of the concatenated
corpus; `duplicate_spans` approximates it with fixed-width window hashes
(one pass, spans snapped to window granularity). This module implements
the paper's actual structure DISTRIBUTED, via prefix doubling (the
classic parallel suffix-array construction — Flick & Aluru 2015 scale it
to thousands of cores with exactly this DataFrame-shaped recurrence):

  rank_{2w}(i)  =  class-id of the pair (rank_w(i), rank_w(i + w))

Each doubling is two hash joins + one equality-class aggregation
(class id = min member gpos + 1, a plain groupBy + join back). Every
consumer of the recurrence — the doubling step itself, the two-rank
trick, duplicated-group detection — uses rank EQUALITY only, so any
injective-per-class id works; the min-gpos id replaces the r8 design's
distributed dense-rank (`with_global_index` over the DISTINCT pair
table), whose per-round approxQuantile bounds job + checkpoint made
plan construction an eager serial driver-job chain (measured at sf0.1
full-bench conditions: the dedup_exact sa leg built in 11.4 s before,
3.7 s after; ORDERED dense ranks, if a suffix-array byproduct ever
needs them, are one `with_global_index` over the final class table).
ceil(log2 L) rounds suffice to group suffixes by their first L tokens,
so the cost to find duplicated runs of length >= L is O(log L)
shuffles of corpus-token-scale rows — NOT the O(log N) of a full
suffix sort, and with no quadratic term anywhere. Per-doc sentinel
rows (unique ranks by construction, no reserved token string) stop
runs from crossing document boundaries.

`duplicated_runs` is definitionally equal to `duplicate_spans` at the
same `SPAN_WINDOW` = w — position p is flagged iff its w-token window
occurs more than once in the corpus — so the two INDEPENDENT
algorithms (hash groupBy vs suffix ranks) witness each other: pinned in
tests/test_suffix.py and cross-engine at the oracle gate (dedup_exact
kind='sa' reuses the gaps-and-islands SQL definition that checks
kind='span').

Scale trade (documented, measured in the window module): window hashes
pay ONE candidate shuffle; prefix doubling pays 2·ceil(log2 L) + 2
shuffles but yields exact equality classes at ANY length (and ordered
suffix ranks for one more global index over the final class table).
Use window hashes as the
default; this tier exists for audits (the run length need not be a
power of two: the two-rank trick below covers any length).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize
from .dedup import SPAN_WINDOW
from .replay_ops import with_global_cumsum
from .text import tokens_expr


def corpus_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tokenize every document (the package tokenizer, `text.tokens_expr`)
    into one row per token with BOTH per-doc and global positions:
    (id, pos, gpos, token), plus one NULL-token sentinel row per doc
    (pos = doc length) terminating it in the global stream. Global
    positions come from the distributed exclusive cumsum of doc lengths
    in id order — no single-task window."""
    t = (df.filter(F.col(text_col).isNotNull())
         .select(F.col(id_col), F.expr(tokens_expr(text_col)).alias("__t")))
    lens = t.select(F.col(id_col),
                    (F.size("__t") + 1).cast("long").alias("__len"))
    # out_col must avoid with_global_cumsum's INTERNAL __off/__local_cum
    # names (they are dropped on return)
    offs = with_global_cumsum(lens, [id_col], "__len", out_col="__doc_off")
    # Join the doc-grain offsets BEFORE exploding: a generate feeding a
    # join trips InferFiltersFromGenerate (the whole token-array
    # expression re-evaluates inside an inferred size()>0 filter pushed
    # below the join — the r6 contamination trap, review finding); with
    # the join at doc grain the explode is the LAST step and nothing is
    # inferred from it.
    joined = t.join(offs.select(id_col, "__doc_off"), id_col)
    return (joined.select(
        F.col(id_col), F.col("__doc_off"),
        F.posexplode(
            F.concat(F.col("__t"),
                     F.array(F.lit(None).cast("string"))))
        .alias("pos", "token"))
        .select(F.col(id_col), F.col("pos").cast("long").alias("pos"),
                (F.col("__doc_off") + F.col("pos")).alias("gpos"),
                "token"))


def _class_ids(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Injective equality-class id `__r` per distinct key: min member
    gpos + 1
    (equal keys -> equal id, distinct keys -> distinct ids — the ids
    are NOT ordered like the keys; every consumer in this module needs
    equality only, see the module docstring). +1 keeps real-position
    ids >= 1, disjoint from the per-doc sentinels' negative ids and
    from the past-corpus-end placeholder 0. One shuffle-side aggregate
    + one join back — no eager driver job, unlike the dense-rank
    formulation it replaced (r13)."""
    cls = df.groupBy(*key_cols).agg((F.min("gpos") + 1).alias("__r"))
    return df.join(cls, key_cols)


def suffix_ranks(tok: DataFrame, upto: int) -> DataFrame:
    """(gpos, rank) where two positions share `rank` iff their suffixes
    agree on the first `upto` tokens (upto = a power of two; sentinel
    and past-corpus-end positions rank uniquely). Rank values carry
    EQUALITY semantics only (min-gpos class ids, not order-dense — see
    `_class_ids`). Prefix doubling: log2(upto) rounds, each = one
    shifted self-join + one class-id aggregation; materializing each
    round cuts the iterative lineage (the k-means convention — plan
    analysis must not grow with round count)."""
    if upto < 1 or upto & (upto - 1):
        raise ValueError(f"upto must be a positive power of two: {upto}")
    real = _class_ids(tok.filter(F.col("token").isNotNull())
                      .select("gpos", "token"), ["token"])
    sent = tok.filter(F.col("token").isNull()).select(
        "gpos", (-(F.col("gpos") + 1)).alias("__r"))
    cur = materialize(real.select("gpos", "__r").unionByName(sent)
                      .withColumnRenamed("__r", "rank"),
                      "suffix_ranks: width 1")
    width = 1
    while width < upto:
        shifted = cur.select((F.col("gpos") - width).alias("gpos"),
                             F.col("rank").alias("rank2"))
        pairs = (cur.join(shifted, "gpos", "left")
                 .select("gpos", "rank",
                         F.coalesce("rank2", F.lit(0)).alias("rank2")))
        width *= 2
        cur = materialize(_class_ids(pairs, ["rank", "rank2"])
                          .select("gpos", F.col("__r").alias("rank")),
                          f"suffix_ranks: width {width}")
    return cur


def duplicated_runs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Maximal per-doc spans of duplicated token runs of EXACTLY the
    window-occurrence definition: position p is flagged iff the
    SPAN_WINDOW-token sequence starting at p occurs more than once in
    the corpus (any doc, including its own); flagged starts <=
    SPAN_WINDOW apart merge into islands. Returns (id, span_start,
    span_end, n_windows) with half-open token spans — byte-compatible
    with `dedup.duplicate_spans`, computed by a disjoint algorithm
    (suffix ranks, no window hashing, no string shuffle).

    Grouping key: with a = 2^floor(log2 SPAN_WINDOW) and
    s = SPAN_WINDOW - a, suffixes share their first SPAN_WINDOW tokens
    iff (rank_a(p), rank_a(p+s)) match — the standard two-rank trick, so
    a non-power-of-2 length costs nothing extra. Sentinels guarantee
    windows never cross doc ends (a window containing a sentinel ranks
    uniquely)."""
    min_len = SPAN_WINDOW
    tok = materialize(corpus_tokens(df, id_col, text_col),
                      "duplicated_runs: corpus tokens")
    a = 1 << (min_len.bit_length() - 1)
    ranks = suffix_ranks(tok, a)
    r2 = ranks.select((F.col("gpos") - (min_len - a)).alias("gpos"),
                      F.col("rank").alias("rank_b"))
    keyed = (ranks.join(r2, "gpos", "left")
             .select("gpos", "rank",
                     F.coalesce("rank_b", F.lit(0)).alias("rank_b")))
    dup_keys = (keyed.groupBy("rank", "rank_b")
                .agg(F.count("*").alias("__n"))
                .filter(F.col("__n") > 1)
                .select("rank", "rank_b"))
    starts = (keyed.join(dup_keys, ["rank", "rank_b"], "left_semi")
              .join(tok.filter(F.col("token").isNotNull())
                    .select(id_col, "pos", "gpos"), "gpos")
              .select(id_col, "pos"))
    w = Window.partitionBy(id_col).orderBy(F.col("pos").asc())
    brk = F.when(
        F.col("pos") > F.coalesce(F.lag("pos").over(w),
                                  F.lit(-min_len - 1)) + min_len,
        F.lit(1)).otherwise(F.lit(0))
    grouped = (starts.withColumn("__b", brk)
               .withColumn("__gid", F.sum("__b").over(
                   w.rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow))))
    return (grouped.groupBy(id_col, "__gid")
            .agg(F.count("*").cast("long").alias("n_windows"),
                 F.min("pos").alias("span_start"),
                 (F.max("pos") + min_len).alias("span_end"))
            .select(id_col, "span_start", "span_end", "n_windows"))


