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

from ..session import drop_zip_finders

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
    path that tokenizes text (features, shingles, retrieval, span
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


#: Cap on the pre-token table the tokenizer trainers collect.
MAX_WORDS = 1_000_000


def word_piece_counts(df: DataFrame, text_col: str) -> DataFrame:
    """The capped (piece, cnt) pre-token frequency table both tokenizer
    trainers consume: one JVM-regex explode + map-side-combinable
    groupBy over the corpus, kept to the `MAX_WORDS` MOST FREQUENT
    pieces (ties by piece — determinism). Factored out (r14, r13 verdict
    item 4) so a caller training BOTH tokenizers over one corpus (the
    doc_pii_redact gate) aggregates the corpus once and materializes this
    table for the two trainings instead of re-scanning per trainer."""
    return (df.select(F.explode(F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_PRETOKEN_PATTERN), F.lit(0)))
        .alias("piece"))
        .groupBy("piece").agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("piece"))
        .limit(MAX_WORDS))


def bpe_train(word_counts: DataFrame) -> list[tuple[str, str]]:
    """Train a 64-merge BPE table on a corpus — distributed where the
    data is big, driver-side where it is small (the aggregate-then-fit
    shape of the IVF k-means trainer): pre-tokenization and piece
    counting run as one explode + map-side-combinable groupBy over the
    corpus (JVM regex, no Python; `word_piece_counts`, whose table the
    caller passes and materializes when shared), and only the aggregated
    piece->count table — at most `MAX_WORDS` rows, vocab-scale not
    corpus-scale — reaches the driver for the classic Sennrich merge
    loop (`functions.bpe.learn_bpe`, cost ∝ vocab × merges, independent
    of corpus size).

    The `MAX_WORDS` cap keeps the MOST FREQUENT pieces (ties broken by
    piece for determinism); the frequency mass of natural text is
    heavy-tailed, so the tail's effect on merge ranks is negligible —
    the cap bounds driver memory at 100 TB, it does not change the
    algorithm. Returns the ordered merge list (feed to `bpe_encode`)."""
    from ..functions import bpe as _bpe
    return _bpe.learn_bpe({r[0]: r[1] for r in word_counts.collect()}, 64)


def bpe_encode(df: DataFrame, text_col: str,
               merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a trained BPE merge table: adds `bpe_tokens` (array<string>
    of subword tokens, lossless — aggregating them with concat
    reproduces the text exactly) and `bpe_tokens_count` (long), the REAL
    token count.

    Arrow-batched pandas UDF (the merge loop is genuinely imperative —
    rank-ordered pair merging has no Column-expression form), with the
    rank table shipped once per executor via a broadcast variable and a
    per-batch piece cache: pieces are heavy-tailed, so most lookups hit
    the cache and the per-row cost collapses toward a dict probe."""
    from ..functions import bpe as _bpe
    bc = df.sparkSession.sparkContext.broadcast(_bpe.merge_ranks(merges))

    @F.pandas_udf("array<string>")
    def _enc(s: pd.Series) -> pd.Series:
        drop_zip_finders()
        r = bc.value
        cache: dict[str, list[str]] = {}
        return s.map(lambda t: _bpe.encode_text(t or "", r, cache))

    return (df.withColumn("bpe_tokens", _enc(F.col(text_col)))
            .withColumn("bpe_tokens_count",
                        F.size("bpe_tokens").cast("long")))


def unigram_train(word_counts: DataFrame) -> dict[str, float]:
    """Train a unigram-LM subword tokenizer (SentencePiece
    `--model_type=unigram`, Kudo 2018) DISTRIBUTED, in the hard-EM
    (Viterbi) form whose corpus-scale aggregates are all exact integers
    (see functions/unigram.py for why soft-EM's fractional expected
    counts cannot be made engine-deterministic). Same aggregate-then-fit
    scale shape as `bpe_train`:

    - pre-token counting is the caller's `word_piece_counts` table (one
      JVM-regex explode + map-side-combinable groupBy, capped to the
      `MAX_WORDS` most frequent words — the bpe_train cap contract);
    - substring SEED counting and every E-step run as Arrow-batched
      mapInPandas over the distinct-WORD table with per-batch
      pre-aggregation, then a vocab-bounded groupBy-sum — the corpus
      never moves, scores travel as a broadcast;
    - only (piece, count) tables at most SEED_SIZE + alphabet rows ever
      reach the driver, where functions/unigram.py's prune/rescore
      produce the next score table.

    Returns the piece->log-prob dict (feed to `unigram_encode`); a
    driver-only recompute via `functions.unigram.train_unigram` over the
    same word counts yields the IDENTICAL table (the registry gate's
    twin contract). The caller materializes `word_counts` when it is
    shared."""
    from ..functions import unigram as _ug
    words = word_counts.selectExpr("piece AS word", "cnt")

    def _partials(counter_of) -> DataFrame:
        """Run a word->Counter kernel as mapInPandas with per-batch
        pre-aggregation, summed to exact totals per piece."""
        def _kernel(batches):
            from collections import Counter
            drop_zip_finders()
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
            for j in range(i + 1, min(i + _ug.MAX_PIECE_LEN, n) + 1):
                agg[w[i:j]] += c

    seed = _partials(_seed_kernel)
    top = seed.orderBy(F.col("cnt").desc(), F.col("piece")) \
        .limit(_ug.SEED_SIZE).collect()
    singles = seed.filter(F.length("piece") == 1).collect()
    raw = {r["piece"]: r["cnt"] for r in top}
    raw.update({r["piece"]: r["cnt"] for r in singles})
    if not raw:
        return {}
    pieces = sorted(raw)
    scores = _ug.rescore(raw, pieces)

    sc = word_counts.sparkSession.sparkContext
    for _ in range(_ug.N_ITERS):
        bc = sc.broadcast(scores)

        def _em_kernel(w, c, agg, _bc=bc):
            for p in _ug.viterbi(w, _bc.value):
                agg[p] += c

        got = _partials(_em_kernel).collect()
        counts = {r["piece"]: r["cnt"] for r in got}
        from collections import Counter as _C
        pieces = _ug.prune(_C(counts), _ug.VOCAB_SIZE)
        scores = _ug.rescore(counts, pieces)
        bc.unpersist()
    return scores


def unigram_encode(df: DataFrame, text_col: str,
                   scores: dict[str, float]) -> DataFrame:
    """Apply a trained unigram score table: adds `unigram_tokens`
    (array<string>, lossless — concat reproduces the text) and
    `unigram_tokens_count` (long). Arrow-batched pandas UDF with the
    score table shipped once per executor as a broadcast and a per-batch
    pre-token cache (heavy-tailed distribution -> dict probes), the
    `bpe_encode` execution shape."""
    from ..functions import unigram as _ug
    bc = df.sparkSession.sparkContext.broadcast(scores)

    @F.pandas_udf("array<string>")
    def _enc(s: pd.Series) -> pd.Series:
        drop_zip_finders()
        sco = bc.value
        cache: dict[str, list[str]] = {}
        return s.map(lambda t: _ug.encode_text(t or "", sco, cache))

    return (df.withColumn("unigram_tokens", _enc(F.col(text_col)))
            .withColumn("unigram_tokens_count",
                        F.size("unigram_tokens").cast("long")))


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


def ngram_lm_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Train a word bigram count model on a corpus, fully distributed:
    one explode + one map-side-combinable groupBy — (context, token,
    cnt) rows, where context is the preceding word. This is the
    count table behind CCNet-style LM quality filtering (Wenzek et al.
    2020 use a KenLM 5-gram; the smoothing here is add-k rather than
    Kneser-Ney, the Spark plan shape is identical). The model is itself
    a DataFrame — persist it or write it to parquet; it never has to fit
    on the driver."""
    return (df.select(F.explode(_word_ngrams(text_col, 2))
                      .alias("g"))
            .groupBy(F.col("g.context").alias("context"),
                     F.col("g.token").alias("token"))
            .agg(F.count("*").alias("cnt")))


def stopword_ratio_expr(c: str,
                        stopwords: tuple[str, ...] = EN_STOPWORDS) -> str:
    """Fraction of `c`'s tokens that are stopwords (int count / int count
    double division)."""
    toks = tokens_expr(c)
    words = ",".join(_sq(w) for w in stopwords)
    return (f"(CAST(size(filter({toks}, t -> t IN ({words}))) AS DOUBLE)"
            f" / size({toks}))")


def lang_id_expr(c: str) -> str:
    """Heuristic language-ID: English iff stopword ratio >= 0.02.
    (Real pipelines swap in fastText/CLD3 via a Pandas UDF; the surrounding
    plan — a narrow projection — is identical.)"""
    return (f"CASE WHEN {stopword_ratio_expr(c)} >= 0.02D "
            f"THEN 'en' ELSE 'unknown' END")


#: Highest-frequency English character trigrams (classic TextCat-style
#: profile over public corpora — space shown as '_' here for readability).
EN_TRIGRAMS = (
    "_th", "the", "he_", "ed_", "_an", "and", "nd_", "ing", "ng_", "_of",
    "of_", "_in", "in_", "ion", "_to", "to_", "er_", "at_", "_a_", "on_",
    "re_", "ent", "_is", "is_", "es_", "ati", "_co", "_he", "ere", "_be",
)


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


def lang_scores_exprs(c: str) -> dict[str, str]:
    r"""Per-language `LANG_TRIGRAMS` profile-coverage scores
    (|doc ∩ profile| / |profile|, one per language). Exact
    cross-engine: an integer hit count divided by the profile size, so
    the DuckDB mirror (`lang_scores_sql`, emitted from the SAME profile
    dict) produces bit-identical doubles — ORACLE-GATED as the
    lang_en/de/fr/es columns of doc_text_profile.

    ONE higher-order filter over the literal gram array per language: a
    CASE-WHEN chain per gram (the r8c3 first cut) put ~240 expression
    nodes in the projection and pushed the whole doc_text_profile entry
    out of healthy codegen (0.68 -> 3.3 s measured); 4 HOF nodes keep
    it flat.

    `c` must ALREADY hold regexp_replace(lower(text), \s+, ' '),
    materialized behind a Generate barrier (explode(array(norm)) — the
    registry query does): CollapseProject re-inlines a plain aliased norm
    into EVERY contains probe, re-running the regexp |profiles|x|grams|
    times per row (measured +2 s on the bench entry; the documented
    MinHash-trap class)."""
    out = {}
    for lang, grams in LANG_TRIGRAMS.items():
        arr = ",".join(_sq(g.replace("_", " ")) for g in grams)
        out[lang] = (f"(CAST(size(filter(array({arr}), "
                     f"g -> contains({c}, g))) AS DOUBLE)"
                     f" / {float(len(grams))}D)")
    return out


def lang_scores_sql(norm_col: str) -> dict[str, str]:
    """DuckDB SQL for `lang_scores_exprs`, emitted from the same profile dict
    (the zvalue_sql single-source-of-truth pattern). `norm_col` must
    already hold regexp_replace(lower(text), '\\s+', ' ', 'g')."""
    out = {}
    for lang, grams in LANG_TRIGRAMS.items():
        terms = "\n                   + ".join(
            f"CASE WHEN contains({norm_col}, '{g.replace('_', ' ')}') "
            "THEN 1 ELSE 0 END"
            for g in grams)
        out[lang] = (f"(CAST({terms} AS DOUBLE) / {float(len(grams))})")
    return out


def lang_id_multi_expr(c: str) -> str:
    """Multi-language n-gram language ID: the argmax of `lang_scores_exprs`
    over the built-in en/de/fr/es profiles, on the already-normalized
    text `c`. Returns the winning language code, or 'unknown' when the
    best coverage is below 0.05. Deterministic tie-break: the earliest
    profile in dict order wins (greatest() over (score, -index, lang)
    structs — struct comparison is lexicographic, so equal scores fall
    to the index).
    Pure codegen'd scalar expressions like the single-profile form:
    O(Σ|profiles|) contains-probes per row, no shuffle, no UDF."""
    cands = ",".join(
        f"struct({s} AS s, {-i} AS i, {_sq(lang)} AS l)"
        for i, (lang, s) in enumerate(lang_scores_exprs(c).items()))
    best = f"greatest({cands})"
    return (f"CASE WHEN {best}.s >= 0.05D "
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


def pack_sequences(df: DataFrame, id_col: str,
                   token_count_col: str) -> DataFrame:
    """Greedy-concat sequence packing — the training-data step that
    concatenates documents in `id_col` order and chunks the token stream
    into 512-token context windows (GPT-style packing): a document's
    pack is the window its FIRST token lands in,
    pack_id = exclusive-running-token-total div 512.

    Distributed via with_global_cumsum (range-bucketed partial sums +
    O(parallelism) offset window) — never a single-partition global
    window, so the assignment scales with the corpus. Integer division
    end to end: exact at any accumulated token count (no double
    rounding)."""
    from .replay_ops import with_global_cumsum
    c = with_global_cumsum(df, [id_col], token_count_col, "__cum_excl")
    return (c.withColumn("pack_id", F.expr("__cum_excl div 512"))
            .drop("__cum_excl"))


#: Whitespace tokens per `chunk_documents` window, and the tokens two
#: consecutive windows share.
CHUNK_TOKENS, CHUNK_OVERLAP = 64, 16


def chunk_documents(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Sliding-window document chunking — the RAG/embedding-pipeline
    primitive: split each document into token windows of `CHUNK_TOKENS`
    whitespace tokens, consecutive windows sharing `CHUNK_OVERLAP`
    tokens.
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
    step = CHUNK_TOKENS - CHUNK_OVERLAP
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # A start s > 0 contributes new tokens iff s <= n - overlap - 1
    # (otherwise its chunk is fully contained in the previous one —
    # review finding: an unbounded sequence emitted a redundant tail
    # chunk for every doc whose size lands in the final stride's
    # overlap zone, duplicating content in downstream embed/RAG
    # tables). greatest(..., 0) keeps the every-doc-emits guarantee.
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - F.lit(CHUNK_OVERLAP) - 1, F.lit(0)),
        F.lit(step))
    ex = (df.filter(F.col(text_col).isNotNull())
          .select(F.col(id_col), toks.alias("__toks"),
                  F.explode(starts).alias("__start")))
    return ex.select(
        F.col(id_col),
        (F.col("__start") / step).cast("long").alias("chunk_id"),
        F.col("__start").cast("long").alias("start_token"),
        F.least(F.lit(CHUNK_TOKENS),
                F.size("__toks") - F.col("__start"))
        .cast("long").alias("n_tokens"),
        F.array_join(F.slice("__toks", F.col("__start") + 1,
                             CHUNK_TOKENS), " ").alias("chunk_text"))


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


