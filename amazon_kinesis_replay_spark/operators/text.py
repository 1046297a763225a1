"""Text-analysis operators for training-data pipelines.

All pure column expressions (whole-stage codegen, zero Python in the hot
path): language-ID by stopword-ratio heuristic, quality scoring, token
counting (whitespace + BPE-ish estimate), document fingerprinting.

Determinism: ratios are int-count / int-count double divisions; fingerprints
are md5 hex strings — bit-identical across Spark and the DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny English function-word list for the n-gram/stopword heuristic.
EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# -- Expression builders -----------------------------------------------------
#
# Every scalar text feature is a SQL-string builder: it takes its operand's
# SQL text (a column name or a composed sub-expression) and returns ONE
# string the caller parses once (F.expr / selectExpr). A Column tree paid a
# py4j round trip per node (~0.8 ms of driver latency each, r13 cProfile),
# hundreds per profile query, billed to the query by the bench. Literal
# types are spelled out: D-suffixed doubles (a bare 0.02 parses DECIMAL),
# '\\s+' in the SQL text so the parser's escape pass yields the regex \s+.


def tokens_expr(c: str) -> str:
    """The package tokenizer: split(trim(lower(c)), '\\s+') with Java
    semantics (trim strips spaces only; \\s is ASCII-only). Every Spark
    path that tokenizes text (features, shingles, retrieval, suffix
    windows) goes through this string; its Python twin is
    `functions.xxh.tokens_spark`."""
    return f"split(trim(lower({c})), '\\\\s+')"


def _sq(s: str) -> str:
    """Single-quoted SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def token_count_expr(c: str) -> str:
    """Whitespace token count."""
    return f"size({tokens_expr(c)})"


def bpe_token_estimate_expr(c: str) -> str:
    """BPE-ish token-count estimate: the whitespace token count, raised to
    the classic chars/4 bound for long words — all integer arithmetic."""
    return (f"greatest({token_count_expr(c)}, "
            f"CAST(ceil(length({c}) / 4) AS INT))")


#: GPT-2-style pre-tokenizer pattern (public), simplified to constructs
#: Java regex and RE2 share: contractions, letter runs, digit runs, other
#: non-space runs — each optionally space-prefixed.
BPE_PRETOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+$|\s+")


def bpe_pretoken_count(text_col: Column) -> Column:
    """Pre-tokenizer token count with the (public) GPT-2-style split
    regex — the piece count BEFORE byte-pair merges, an upper bound on
    and strong correlate of the true BPE token count. JVM regexp_count,
    whole-stage codegen; the chars/4 `bpe_token_estimate_expr` remains the
    cheap estimate."""
    return F.regexp_count(text_col, F.lit(BPE_PRETOKEN_PATTERN))


def word_piece_counts(df: DataFrame, text_col: str,
                      max_words: int = 1_000_000) -> DataFrame:
    """The capped (piece, cnt) pre-token frequency table both tokenizer
    trainers consume: one JVM-regex explode + map-side-combinable
    groupBy over the corpus, kept to the `max_words` MOST FREQUENT
    pieces (ties by piece — determinism). Factored out (r14, r13 verdict
    item 4) so a caller training BOTH tokenizers over one corpus (the
    doc_pii_redact gate) aggregates the corpus once and persists this
    table across the two trainings instead of re-scanning per trainer."""
    return (df.select(F.explode(F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_PRETOKEN_PATTERN), F.lit(0)))
        .alias("piece"))
        .groupBy("piece").agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("piece"))
        .limit(int(max_words)))


def bpe_train(df: DataFrame, text_col: str, n_merges: int = 200,
              max_words: int = 1_000_000,
              word_counts: DataFrame | None = None) -> list[tuple[str, str]]:
    """Train a BPE merge table on a corpus — distributed where the data
    is big, driver-side where it is small (the aggregate-then-fit shape
    of the IVF k-means trainer): pre-tokenization and piece counting run
    as one explode + map-side-combinable groupBy over the corpus (JVM
    regex, no Python), and only the aggregated piece->count table — at
    most `max_words` rows, vocab-scale not corpus-scale — reaches the
    driver for the classic Sennrich merge loop
    (`functions.bpe.learn_bpe`, cost ∝ vocab × merges, independent of
    corpus size).

    `max_words` caps the driver table by keeping the MOST FREQUENT
    pieces (ties broken by piece for determinism); the frequency mass of
    natural text is heavy-tailed, so the tail's effect on merge ranks is
    negligible — the cap bounds driver memory at 100 TB, it does not
    change the algorithm. Returns the ordered merge list (feed to
    `bpe_encode`).

    `word_counts` (r14): an optional caller-precomputed
    `word_piece_counts` table (persist it when shared) — the merge loop
    collects it directly instead of re-aggregating the corpus."""
    top = (word_counts if word_counts is not None
           else word_piece_counts(df, text_col, max_words)).collect()
    from ..functions import bpe as _bpe
    return _bpe.learn_bpe({r[0]: r[1] for r in top}, n_merges)


def bpe_vocab(df: DataFrame, text_col: str,
              merges: list[tuple[str, str]]) -> dict[str, int]:
    """Deterministic token->id vocabulary for a trained merge table: the
    corpus's distinct CHARACTERS are harvested distributed (explode +
    distinct — the result is alphabet-scale, the only thing collected),
    then ids assigned by `functions.bpe.vocab_from` (0 = <unk>, sorted
    chars, merge products in rank order). Feed to `bpe_encode(vocab=)`
    for id output — what packed training shards actually store."""
    chars = [r["c"] for r in
             df.select(F.explode(F.split(F.col(text_col), ""))
                       .alias("c")).distinct().collect()
             if r["c"]]
    from ..functions import bpe as _bpe
    return _bpe.vocab_from(merges, chars)


def bpe_encode(df: DataFrame, text_col: str,
               merges: list[tuple[str, str]],
               out_col: str = "bpe_tokens",
               vocab: dict[str, int] | None = None) -> DataFrame:
    """Apply a trained BPE merge table: adds `out_col` (array<string> of
    subword tokens, lossless — aggregating them with concat reproduces
    the text exactly) and `{out_col}_count` (long) — the REAL token
    count that `bpe_pretoken_count` upper-bounds.

    Arrow-batched pandas UDF (the merge loop is genuinely imperative —
    rank-ordered pair merging has no Column-expression form), with the
    rank table shipped once per executor via a broadcast variable and a
    per-batch piece cache: pieces are heavy-tailed, so most lookups hit
    the cache and the per-row cost collapses toward a dict probe.

    With `vocab` (from `bpe_vocab`), also adds `{out_col}_ids`
    (array<long>) — tokens mapped through the broadcast table,
    out-of-vocabulary tokens to <unk>=0 (the shard-ready form)."""
    from ..functions import bpe as _bpe
    ranks = _bpe.merge_ranks(merges)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(ranks)

    @F.pandas_udf("array<string>")
    def _enc(s: pd.Series) -> pd.Series:
        r = bc.value
        cache: dict[str, list[str]] = {}
        return s.map(lambda t: _bpe.encode_text(t or "", r, cache))

    out = (df.withColumn(out_col, _enc(F.col(text_col)))
           .withColumn(f"{out_col}_count",
                       F.size(out_col).cast("long")))
    if vocab is not None:
        bcv = sc.broadcast(vocab)

        @F.pandas_udf("array<long>")
        def _ids(s: pd.Series) -> pd.Series:
            v = bcv.value
            return s.map(lambda toks: [v.get(t, 0) for t in toks])

        out = out.withColumn(f"{out_col}_ids", _ids(F.col(out_col)))
    return out


def unigram_train(df: DataFrame, text_col: str, vocab_size: int = 512,
                  n_iters: int = 2, seed_size: int = 4096,
                  max_piece_len: int = 8,
                  max_words: int = 1_000_000,
                  word_counts: DataFrame | None = None) -> dict[str, float]:
    """Train a unigram-LM subword tokenizer (SentencePiece
    `--model_type=unigram`, Kudo 2018) DISTRIBUTED, in the hard-EM
    (Viterbi) form whose corpus-scale aggregates are all exact integers
    (see functions/unigram.py for why soft-EM's fractional expected
    counts cannot be made engine-deterministic). Same aggregate-then-fit
    scale shape as `bpe_train`:

    - pre-token counting is one JVM-regex explode + map-side-combinable
      groupBy (corpus-scale work, vocab-scale result), capped to the
      `max_words` most frequent words (ties by word — the bpe_train cap
      contract);
    - substring SEED counting and every E-step run as Arrow-batched
      mapInPandas over the distinct-WORD table with per-batch
      pre-aggregation, then a vocab-bounded groupBy-sum — the corpus
      never moves, scores travel as a broadcast;
    - only (piece, count) tables at most seed_size + alphabet rows ever
      reach the driver, where functions/unigram.py's prune/rescore
      produce the next score table.

    Returns the piece->log-prob dict (feed to `unigram_encode`); a
    driver-only recompute via `functions.unigram.train_unigram` over the
    same word counts yields the IDENTICAL table (the registry gate's
    twin contract)."""
    from ..functions import unigram as _ug
    # `word_counts` (r14): optional caller-shared word_piece_counts
    # table — identical derivation (same regex, same cap contract), so
    # the trained scores are unchanged; the caller owns its persistence
    # and this function must not unpersist it.
    caller_owned = word_counts is not None
    if caller_owned:
        words = word_counts.selectExpr("piece AS word", "cnt")
    else:
        words = (df.select(F.explode(F.regexp_extract_all(
            F.col(text_col), F.lit(BPE_PRETOKEN_PATTERN), F.lit(0)))
            .alias("word"))
            .groupBy("word").agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("word"))
            .limit(int(max_words)))
        words = words.persist()
    try:
        def _partials(counter_of) -> DataFrame:
            """Run a word->Counter kernel as mapInPandas with per-batch
            pre-aggregation, summed to exact totals per piece."""
            def _kernel(batches):
                from collections import Counter
                for pdf in batches:
                    agg: Counter = Counter()
                    for w, c in zip(pdf["word"], pdf["cnt"]):
                        counter_of(str(w), int(c), agg)
                    yield pd.DataFrame(
                        {"piece": list(agg.keys()),
                         "pcnt": list(agg.values())})
            return (words.mapInPandas(_kernel, "piece string, pcnt long")
                    .groupBy("piece").agg(F.sum("pcnt").alias("cnt")))

        def _seed_kernel(w, c, agg):
            n = len(w)
            for i in range(n):
                for j in range(i + 1, min(i + max_piece_len, n) + 1):
                    agg[w[i:j]] += c

        seed = _partials(_seed_kernel)
        top = seed.orderBy(F.col("cnt").desc(), F.col("piece")) \
            .limit(int(seed_size)).collect()
        singles = seed.filter(F.length("piece") == 1).collect()
        raw = {r["piece"]: r["cnt"] for r in top}
        raw.update({r["piece"]: r["cnt"] for r in singles})
        if not raw:
            return {}
        pieces = sorted(raw)
        scores = _ug.rescore(raw, pieces)

        sc = df.sparkSession.sparkContext
        for _ in range(int(n_iters)):
            bc = sc.broadcast(scores)

            def _em_kernel(w, c, agg, _bc=bc):
                for p in _ug.viterbi(w, _bc.value, max_piece_len):
                    agg[p] += c

            got = _partials(_em_kernel).collect()
            counts = {r["piece"]: r["cnt"] for r in got}
            from collections import Counter as _C
            pieces = _ug.prune(_C(counts), int(vocab_size))
            scores = _ug.rescore(counts, pieces)
            bc.unpersist()
        return scores
    finally:
        if not caller_owned:
            words.unpersist()


def unigram_vocab(scores: dict[str, float]) -> dict[str, int]:
    """Deterministic piece->id vocabulary for a trained unigram score
    table: 0 = <unk>, then pieces in (score DESC, piece ASC) order —
    most probable pieces get the smallest ids (the SentencePiece
    convention). A pure function of the score table, so every engine
    and round derives the same ids."""
    ordered = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return {p: i + 1 for i, (p, _) in enumerate(ordered)}


def unigram_encode(df: DataFrame, text_col: str,
                   scores: dict[str, float],
                   out_col: str = "unigram_tokens",
                   vocab: dict[str, int] | None = None) -> DataFrame:
    """Apply a trained unigram score table: adds `out_col`
    (array<string>, lossless — concat reproduces the text) and
    `{out_col}_count` (long). Arrow-batched pandas UDF with the score
    table shipped once per executor as a broadcast and a per-batch
    pre-token cache (heavy-tailed distribution -> dict probes), the
    `bpe_encode` execution shape.

    With `vocab` (from `unigram_vocab`), also adds `{out_col}_ids`
    (array<long>) — pieces mapped through the broadcast table,
    out-of-vocabulary pieces (unk single-chars from unseen text) to
    <unk>=0, the shard-ready form `pack_sequences` consumes."""
    from ..functions import unigram as _ug
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(scores)

    @F.pandas_udf("array<string>")
    def _enc(s: pd.Series) -> pd.Series:
        sco = bc.value
        cache: dict[str, list[str]] = {}
        return s.map(lambda t: _ug.encode_text(t or "", sco, cache))

    out = (df.withColumn(out_col, _enc(F.col(text_col)))
           .withColumn(f"{out_col}_count",
                       F.size(out_col).cast("long")))
    if vocab is not None:
        bcv = sc.broadcast(vocab)

        @F.pandas_udf("array<long>")
        def _ids(s: pd.Series) -> pd.Series:
            v = bcv.value
            return s.map(lambda toks: [v.get(t, 0) for t in toks])

        out = out.withColumn(f"{out_col}_ids", _ids(F.col(out_col)))
    return out


def _word_ngrams(text_col: str, n: int) -> Column:
    """array<struct<context,token>> of word n-grams: context = the n-1
    preceding words space-joined (empty for unigrams), token = the n-th.
    Pure column expression (transform/slice/array_join — whole-stage
    codegen); documents shorter than n words yield an empty array."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = F.expr(tokens_expr(text_col))
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    grams = F.transform(idx, lambda i: F.struct(
        (F.array_join(F.slice(toks, i, n - 1), " ") if n > 1
         else F.lit("")).alias("context"),
        F.element_at(toks, i + (n - 1)).alias("token")))
    # sequence(1, x) with x < 1 DESCENDS — guard short docs explicitly
    empty = F.array().cast("array<struct<context:string,token:string>>")
    return F.when(F.size(toks) >= n, grams).otherwise(empty)


def ngram_lm_counts(df: DataFrame, text_col: str, n: int = 2) -> DataFrame:
    """Train a word n-gram count model on a corpus, fully distributed:
    one explode + one map-side-combinable groupBy — (context, token,
    cnt) rows, where context is the n-1 preceding words. This is the
    count table behind CCNet-style LM quality filtering (Wenzek et al.
    2020 use a KenLM 5-gram; the smoothing here is add-k rather than
    Kneser-Ney, the Spark plan shape is identical). The model is itself
    a DataFrame — persist it or write it to parquet; it never has to fit
    on the driver."""
    return (df.select(F.explode(_word_ngrams(text_col, n))
                      .alias("g"))
            .groupBy(F.col("g.context").alias("context"),
                     F.col("g.token").alias("token"))
            .agg(F.count("*").alias("cnt")))


def ngram_lm_merge(*lms: DataFrame) -> DataFrame:
    """Merge n-gram count models — the incremental-training shape: count
    a new crawl ALONE (cost ∝ the new data), then merge with the stored
    model instead of recounting 100 TB of history. Pure unionByName +
    one map-side-combinable sum; merging is associative and commutative,
    so daily models fold in any order to the same table."""
    if not lms:
        raise ValueError("ngram_lm_merge needs at least one model")
    out = lms[0]
    for lm in lms[1:]:
        out = out.unionByName(lm)
    return (out.groupBy("context", "token")
            .agg(F.sum("cnt").alias("cnt")))


def ngram_lm_score(df: DataFrame, id_col: str, text_col: str,
                   lm: DataFrame, n: int = 2, k: float = 1.0) -> DataFrame:
    """Score documents against a trained n-gram count model (the
    perplexity-filter step of a CCNet-style curation pipeline): per
    document, the mean add-k-smoothed negative log2 probability of its
    n-grams (bits per token) and the corresponding perplexity — low =
    fluent/in-domain, high = noise/boilerplate/foreign.

    p(token | context) = (cnt + k) / (ctx_cnt + k * V), V = model vocab.

    Plan shape: explode doc n-grams -> LEFT join the count table on
    (context, token) -> LEFT join per-context totals (both hash joins on
    string keys; AQE broadcasts when the model is small) -> one per-doc
    aggregate. The only driver scalar is V (one distinct-count of the
    vocab — metadata-scale). Documents shorter than n words come back
    with n_grams = 0 and NULL scores (no silent drop).

    Output: (id_col, n_grams, bits_per_token, perplexity)."""
    vocab = lm.select("token").distinct().count()
    ctx_tot = lm.groupBy("context").agg(F.sum("cnt").alias("ctx_cnt"))
    g = (df.select(F.col(id_col).alias("__id"),
                   F.explode(_word_ngrams(text_col, n)).alias("g"))
         .select("__id", "g.context", "g.token"))
    p = ((F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(float(k)))
         / (F.coalesce(F.col("ctx_cnt"), F.lit(0))
            + F.lit(float(k) * vocab)))
    scored = (g.join(lm, ["context", "token"], "left")
              .join(ctx_tot, "context", "left")
              .withColumn("__bits", -F.log2(p))
              .groupBy("__id")
              .agg(F.count("*").alias("n_grams"),
                   F.avg("__bits").alias("bits_per_token")))
    return (df.select(F.col(id_col).alias("__id")).distinct()
            .join(scored, "__id", "left")
            .select(F.col("__id").alias(id_col),
                    F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
                    "bits_per_token",
                    F.pow(F.lit(2.0), F.col("bits_per_token"))
                    .alias("perplexity")))


def stopword_ratio_expr(c: str,
                        stopwords: tuple[str, ...] = EN_STOPWORDS) -> str:
    """Fraction of `c`'s tokens that are stopwords (int count / int count
    double division)."""
    toks = tokens_expr(c)
    words = ",".join(_sq(w) for w in stopwords)
    return (f"(CAST(size(filter({toks}, t -> t IN ({words}))) AS DOUBLE)"
            f" / size({toks}))")


def lang_id_expr(c: str, threshold: float = 0.02) -> str:
    """Heuristic language-ID: English iff stopword ratio >= threshold.
    (Real pipelines swap in fastText/CLD3 via a Pandas UDF; the surrounding
    plan — a narrow projection — is identical.)"""
    return (f"CASE WHEN {stopword_ratio_expr(c)} >= {threshold}D "
            f"THEN 'en' ELSE 'unknown' END")


#: Highest-frequency English character trigrams (classic TextCat-style
#: profile over public corpora — space shown as '_' here for readability).
EN_TRIGRAMS = (
    "_th", "the", "he_", "ed_", "_an", "and", "nd_", "ing", "ng_", "_of",
    "of_", "_in", "in_", "ion", "_to", "to_", "er_", "at_", "_a_", "on_",
    "re_", "ent", "_is", "is_", "es_", "ati", "_co", "_he", "ere", "_be",
)


def lang_id_ngram(text_col: Column, threshold: float = 0.05,
                  trigrams: tuple[str, ...] = EN_TRIGRAMS) -> Column:
    """Character-n-gram language ID (TextCat-style, the n-gram heuristic
    proper): the fraction of the PROFILE's trigrams that occur in the
    document (profile coverage — |doc-grams ∩ profile| / |profile|).
    Computed as one `contains` probe per profile trigram over the
    normalized text: O(|profile| * doc_len) scalar expressions in
    whole-stage codegen — never materializing the document's own trigram
    set, whose per-gram construction would re-evaluate the normalization
    per position (the CollapseProject-under-lambda trap). Swap the
    profile tuple for other languages; a multi-language argmax is a
    greatest() over per-profile scores.

    Complements `lang_id_expr` (stopword-ratio): n-gram profiles survive
    texts with few function words (headlines, code-mixed) where the
    stopword heuristic under-triggers."""
    t = F.regexp_replace(F.lower(text_col), r"\s+", " ")
    hits = None
    for g in trigrams:
        hit = F.when(t.contains(g.replace("_", " ")), 1).otherwise(0)
        hits = hit if hits is None else hits + hit
    score = hits.cast("double") / F.lit(float(len(trigrams)))
    return F.when(score >= threshold, F.lit("en")).otherwise(F.lit("unknown"))


#: TextCat-style high-frequency character-trigram profiles for the
#: multi-language argmax ('_' = space). Small by design: profile
#: coverage needs ~30 grams to separate these languages on sentence-
#: scale text; real pipelines extend the dict or swap in fastText via
#: a Pandas UDF — the plan (narrow projection) is identical.
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": EN_TRIGRAMS,
    "de": ("_de", "der", "ie_", "_di", "die", "sch", "ein", "ich",
           "nde", "_un", "und", "cht", "ung", "das", "_da", "ten",
           "_ge", "ver", "gen", "ine", "ber", "_zu", "den", "ist",
           "_ei", "ers", "ach", "sta", "ren", "eit"),
    "fr": ("_de", "de_", "_le", "le_", "ent", "la_", "_la", "es_",
           "que", "ue_", "_qu", "les", "our", "ant", "ion", "ait",
           "ais", "men", "_pa", "par", "ous", "eur", "_pr", "des",
           "ont", "tio", "une", "_un", "eux", "dan"),
    "es": ("_de", "de_", "la_", "_la", "el_", "_el", "que", "ue_",
           "_qu", "ent", "_co", "con", "los", "_lo", "del", "ado",
           "est", "_es", "par", "_pa", "ion", "cio", "nte", "ara",
           "por", "_po", "una", "ien", "cia", "res"),
}


def lang_scores_exprs(c: str, profiles: dict[str, tuple[str, ...]],
                       pre_normalized: bool) -> dict[str, str]:
    r"""Per-language profile-coverage scores (|doc ∩ profile| /
    |profile| — the `lang_id_ngram` term, one per language). Exact
    cross-engine: an integer hit count divided by the profile size, so
    the DuckDB mirror (`lang_scores_sql`, emitted from the SAME profile
    dict) produces bit-identical doubles — ORACLE-GATED as the
    lang_en/de/fr/es columns of doc_text_profile.

    ONE higher-order filter over the literal gram array per language: a
    CASE-WHEN chain per gram (the r8c3 first cut) put ~240 expression
    nodes in the projection and pushed the whole doc_text_profile entry
    out of healthy codegen (0.68 -> 3.3 s measured); 4 HOF nodes keep
    it flat.

    pre_normalized=True treats `c` as ALREADY holding
    regexp_replace(lower(text), \s+, ' '). When probing many profiles,
    materialize the normalized text behind a Generate barrier
    (explode(array(norm)) — the registry query does) and pass it here:
    CollapseProject re-inlines a plain aliased norm into EVERY contains
    probe, re-running the regexp |profiles|x|grams| times per row
    (measured +2 s on the bench entry; the documented MinHash-trap
    class)."""
    t = (c if pre_normalized
         else f"regexp_replace(lower({c}), '\\\\s+', ' ')")
    out = {}
    for lang, grams in profiles.items():
        arr = ",".join(_sq(g.replace("_", " ")) for g in grams)
        out[lang] = (f"(CAST(size(filter(array({arr}), "
                     f"g -> contains({t}, g))) AS DOUBLE)"
                     f" / {float(len(grams))}D)")
    return out


def lang_scores_sql(norm_col: str,
                    profiles: dict[str, tuple[str, ...]] | None = None
                    ) -> dict[str, str]:
    """DuckDB SQL for `lang_scores_exprs`, emitted from the same profile dict
    (the zvalue_sql single-source-of-truth pattern). `norm_col` must
    already hold regexp_replace(lower(text), '\\s+', ' ', 'g')."""
    profiles = profiles or LANG_TRIGRAMS
    out = {}
    for lang, grams in profiles.items():
        terms = "\n                   + ".join(
            f"CASE WHEN contains({norm_col}, '{g.replace('_', ' ')}') "
            "THEN 1 ELSE 0 END"
            for g in grams)
        out[lang] = (f"(CAST({terms} AS DOUBLE) / {float(len(grams))})")
    return out


def lang_id_multi_expr(c: str,
                       profiles: dict[str, tuple[str, ...]] | None = None,
                       min_score: float = 0.05,
                       pre_normalized: bool = False) -> str:
    """Multi-language n-gram language ID: the argmax of `lang_scores_exprs`
    over `profiles` (default: built-in en/de/fr/es). Returns the
    winning language code, or 'unknown' when the best coverage is below
    `min_score`. Deterministic tie-break: the earliest profile in dict
    order wins (greatest() over (score, -index, lang) structs — struct
    comparison is lexicographic, so equal scores fall to the index).
    Pure codegen'd scalar expressions like the single-profile form:
    O(Σ|profiles|) contains-probes per row, no shuffle, no UDF."""
    profiles = profiles or LANG_TRIGRAMS
    scores = lang_scores_exprs(c, profiles, pre_normalized)
    cands = ",".join(
        f"struct({s} AS s, {-i} AS i, {_sq(lang)} AS l)"
        for i, (lang, s) in enumerate(scores.items()))
    best = f"greatest({cands})" if len(scores) > 1 else f"({cands})"
    return (f"CASE WHEN {best}.s >= {min_score}D "
            f"THEN {best}.l ELSE 'unknown' END")


def punct_ratio_expr(c: str) -> str:
    """Fraction of characters that are neither word nor whitespace."""
    return (f"(CAST(length({c}) - length(regexp_replace({c}, "
            f"'[^\\\\w\\\\s]', '')) AS DOUBLE) / length({c}))")


def quality_score_expr(c: str) -> str:
    """Composite quality score
    0.4*len_ok + 0.3*(1-punct_ratio) + 0.3*min(10*stop_ratio, 1) —
    every term a deterministic double from integer counts."""
    n_tok = token_count_expr(c)
    len_ok = (f"(CASE WHEN {n_tok} >= 10 AND {n_tok} <= 100000 "
              "THEN 1.0D ELSE 0.0D END)")
    return (f"(0.4D * {len_ok} + 0.3D * (1.0D - {punct_ratio_expr(c)}) "
            f"+ 0.3D * least({stopword_ratio_expr(c)} * 10, 1.0D))")


def repetition_features_exprs(c: str) -> dict[str, str]:
    """Gopher/RefinedWeb-style repetition + structure quality signals,
    all O(doc length) array/regex expressions (no explode, no shuffle —
    the profile query stays one narrow codegen'd projection):

    - dup_line_frac / dup_para_frac: fraction of lines (newline split) /
      paragraphs (blank-line split) that are exact duplicates of an
      earlier one — the classic boilerplate/spam signal the Gopher rules
      filter at >0.30 / >0.30.
    - bullet_line_frac / ellipsis_line_frac: fraction of lines starting
      with a bullet or ending with an ellipsis (RefinedWeb filters at
      >0.90 / >0.30) — listicle/truncation shapes.
    - mean_word_len: non-whitespace chars per whitespace token; degenerate
      corpora fall far outside the 3..10 band real pipelines keep.

    '\\\\n' in the SQL text parses to the \\n escape, a literal-newline
    split."""
    lines = f"split({c}, '\\\\n')"
    paras = f"split({c}, '\\\\n\\\\s*\\\\n')"

    def dup_frac(arr: str) -> str:
        return (f"(CAST(size({arr}) - size(array_distinct({arr})) "
                f"AS DOUBLE) / size({arr}))")

    bullet = f"size(filter({lines}, ln -> ln rlike '^\\\\s*[-*•]'))"
    ellips = f"size(filter({lines}, ln -> ln rlike '\\\\.\\\\.\\\\.\\\\s*$'))"
    return {
        "dup_line_frac": dup_frac(lines),
        "dup_para_frac": dup_frac(paras),
        "bullet_line_frac": f"(CAST({bullet} AS DOUBLE) / size({lines}))",
        "ellipsis_line_frac": f"(CAST({ellips} AS DOUBLE) / size({lines}))",
        "mean_word_len": (f"(CAST(length(regexp_replace({c}, '\\\\s+', '')) "
                          f"AS DOUBLE) / {token_count_expr(c)})"),
    }


def pack_sequences(df: DataFrame, id_col: str, token_count_col: str,
                   seq_len: int = 512,
                   order_cols: list[str] | None = None,
                   out_col: str = "pack_id") -> DataFrame:
    """Greedy-concat sequence packing — the training-data step that
    concatenates documents in a deterministic order and chunks the token
    stream into fixed context-length windows (GPT-style packing): a
    document's pack is the window its FIRST token lands in,
    pack_id = exclusive-running-token-total div seq_len.

    Distributed via with_global_cumsum (range-bucketed partial sums +
    O(parallelism) offset window) — never a single-partition global
    window, so the assignment scales with the corpus. Integer division
    end to end: exact at any accumulated token count (no double
    rounding)."""
    from .replay_ops import with_global_cumsum
    order = order_cols or [id_col]
    c = with_global_cumsum(df, order, token_count_col, "__cum_excl")
    return (c.withColumn(out_col,
                         F.expr(f"__cum_excl div {int(seq_len)}"))
            .drop("__cum_excl"))


def assemble_sequences(df: DataFrame, id_col: str, ids_col: str,
                       seq_len: int = 512,
                       order_cols: list[str] | None = None) -> DataFrame:
    """Materialize the PACKED TRAINING SEQUENCES that `pack_sequences`
    only assigns ids for: concatenate every document's token ids in a
    deterministic order into one global stream and chunk it into
    EXACTLY-seq_len windows (GPT-style packing — documents SPLIT across
    window boundaries; the final ragged window is emitted with its true
    length).

    Distributed shape: the per-doc exclusive token offset comes from the
    range-bucketed global cumsum (never a single-partition window), each
    token's global position is offset + its index within the doc
    (posexplode), window = position div seq_len, and each window's ids
    are rebuilt with a seq_len-BOUNDED sort inside one aggregate
    (array_sort over (pos_in_seq, token) structs — group size is capped
    by seq_len, so no group ever exceeds one context window regardless
    of corpus size). Cost is one explode + one hash shuffle on seq_id.

    Output: (seq_id, token_ids, n_tokens, n_docs) — flattening the
    windows in seq_id order reproduces the concatenated corpus exactly
    (property-tested)."""
    from .replay_ops import with_global_cumsum
    order = order_cols or [id_col]
    c = with_global_cumsum(
        df.withColumn("__n_tok", F.size(ids_col).cast("long")),
        order, "__n_tok", "__tok_off")
    toks = (c.select("__tok_off",
                     F.posexplode(ids_col).alias("__i", "__tok"))
            .withColumn("__pos", F.col("__tok_off") + F.col("__i"))
            .withColumn("__seq", F.expr(f"__pos div {int(seq_len)}"))
            .withColumn("__slot",
                        (F.col("__pos") % F.lit(int(seq_len)))
                        .cast("int")))
    return (toks.groupBy(F.col("__seq").alias("seq_id"))
            .agg(F.array_sort(F.collect_list(
                     F.struct(F.col("__slot"), F.col("__tok"))))
                 .alias("__sorted"),
                 F.count("*").cast("long").alias("n_tokens"),
                 F.countDistinct("__tok_off").cast("long").alias("n_docs"))
            .select("seq_id",
                    F.transform("__sorted", lambda s: s["__tok"])
                    .alias("token_ids"),
                    "n_tokens", "n_docs"))


def chunk_documents(df: DataFrame, id_col: str, text_col: str,
                    chunk_tokens: int = 256,
                    overlap: int = 32) -> DataFrame:
    """Sliding-window document chunking — the RAG/embedding-pipeline
    primitive: split each document into token windows of `chunk_tokens`
    whitespace tokens, consecutive windows sharing `overlap` tokens.
    Emits (id, chunk_id, start_token, n_tokens, chunk_text); the final
    window may be short (never empty — every doc emits >= 1 chunk, so a
    downstream embed/index join cannot silently drop short docs).

    Tokenization is the canonical split(trim(text), \\s+) family
    (case-PRESERVED — chunks are payload, not features; `tokens_expr` keeps
    lower() for feature paths). Everything is codegen'd array arithmetic
    (split/sequence/explode/slice/array_join) — no UDF, no shuffle: the
    operator is a pure per-row projection that parallelizes with the
    scan at any scale. The geometry (chunk_id/start/n_tokens +
    chunk-text length) is ORACLE-GATED cross-engine via dedup_exact
    kind='chunk' rows (DuckDB rebuilds the windows with range() + list
    slicing); exact chunk-text content is twin-pinned in
    tests/test_chunking.py.

    Note CollapseProject re-inlines the token array into each consumer
    (~3 split() evaluations per row — a constant factor on a projection,
    accepted; the explode-to-rows alternative would shuffle the corpus).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap={overlap} must satisfy 0 <= overlap < "
            f"chunk_tokens={chunk_tokens}")
    step = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # A start s > 0 contributes new tokens iff s <= n - overlap - 1
    # (otherwise its chunk is fully contained in the previous one —
    # review finding: an unbounded sequence emitted a redundant tail
    # chunk for every doc whose size lands in the final stride's
    # overlap zone, duplicating content in downstream embed/RAG
    # tables). greatest(..., 0) keeps the every-doc-emits guarantee.
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - F.lit(overlap) - 1, F.lit(0)),
        F.lit(step))
    ex = (df.filter(F.col(text_col).isNotNull())
          .select(F.col(id_col), toks.alias("__toks"),
                  F.explode(starts).alias("__start")))
    return ex.select(
        F.col(id_col),
        (F.col("__start") / step).cast("long").alias("chunk_id"),
        F.col("__start").cast("long").alias("start_token"),
        F.least(F.lit(chunk_tokens),
                F.size("__toks") - F.col("__start"))
        .cast("long").alias("n_tokens"),
        F.array_join(F.slice("__toks", F.col("__start") + 1,
                             chunk_tokens), " ").alias("chunk_text"))


def fingerprint_expr(c: str) -> str:
    """Document fingerprint: md5 of whitespace-normalized lowercased text.
    (Content-defined rolling-hash chunking reduces to the same normalize+
    hash shape; md5 keeps the oracle cross-engine checkable.)"""
    return f"md5(regexp_replace(trim(lower({c})), '\\\\s+', ' '))"


# --------------------------------------------------------------------------
# PII scrubbing (training-data hygiene)
# --------------------------------------------------------------------------

#: RE2-safe patterns (no lookaround/backrefs) so the DuckDB oracle matches
#: Java regex semantics exactly.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+?\d[\d\s().-]{6,}\d"


def pii_redact(df, id_col: str, text_col: str):
    """Scrub emails, IPv4s, and phone-like digit runs from text, counting
    each kind — the redaction pass a training corpus gets before
    tokenization. Applied in a FIXED order (email, then ip on the
    email-clean text, then phone) so counts are deterministic and
    engine-portable; all pure column expressions (regexp_replace /
    regexp_extract_all), no UDFs."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), 0))
    t1 = F.regexp_replace(t, _PII_EMAIL, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(t1, F.lit(_PII_IPV4), 0))
    t2 = F.regexp_replace(t1, _PII_IPV4, "<IP>")
    n_phones = F.size(F.regexp_extract_all(t2, F.lit(_PII_PHONE), 0))
    t3 = F.regexp_replace(t2, _PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col),
        t3.alias("clean_text"),
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        n_phones.cast("long").alias("n_phones"),
        (n_emails + n_ips + n_phones).cast("long").alias("n_redactions"),
    )


_URL_RE = r"https?://[^\s/$.?#][^\s]*"
_DOMAIN_RE = r"https?://([^\s/:?#]+)"


def url_features(df: DataFrame, text_col: str,
                 blocklist: tuple[str, ...] = ()) -> DataFrame:
    """URL/domain curation signals per document — the source-level filter
    step of web-corpus cleaning: URL count, the distinct lowercased
    domains, and a `blocklisted` flag true iff any domain equals or is a
    subdomain of a blocklist entry. Pure column expressions
    (regexp_extract_all + array HOFs), whole-stage codegen; the blocklist
    is a literal array, so at 100 TB it broadcasts with the plan (swap in
    a broadcast-join against a blocklist TABLE when the list outgrows a
    literal)."""
    t = F.col(text_col)
    domains = F.array_distinct(F.transform(
        F.regexp_extract_all(t, F.lit(_DOMAIN_RE), 1),
        lambda d: F.lower(d)))
    if blocklist:
        bl = F.array(*[F.lit(b.lower()) for b in blocklist])
        blocked = F.exists(
            domains,
            lambda d: F.exists(bl, lambda b: (d == b)
                               | d.endswith(F.concat(F.lit("."), b))))
    else:
        blocked = F.lit(False)
    return df.withColumns({
        "n_urls": F.size(F.regexp_extract_all(t, F.lit(_URL_RE), 0))
        .cast("long"),
        "domains": domains,
        "blocklisted": blocked,
    })
