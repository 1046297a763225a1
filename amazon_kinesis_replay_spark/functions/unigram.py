"""Unigram-LM subword tokenizer: training and encoding kernels.

Pure-Python, dependency-free implementation of the unigram language
model tokenizer (Kudo 2018, "Subword Regularization: Improving Neural
Network Translation Models with Multiple Subword Candidates" — the
SentencePiece `--model_type=unigram` algorithm), in its HARD-EM
(Viterbi) form: the E-step assigns every pre-token its single best
segmentation under the current piece scores and accumulates INTEGER
piece counts, and the M-step re-estimates scores from those counts with
add-one smoothing. The soft-EM variant accumulates fractional expected
counts whose distributed summation order is float-nondeterministic;
hard-EM keeps every corpus-scale aggregate an exact integer, so the
distributed trainer (`operators.text.unigram_train` — seed + E-steps as
explode/groupBy jobs, only vocab-scale tables ever reach the driver)
is bit-reproducible against this driver-only twin, which is what the
registry's literal-VALUES gate checks.

Determinism contract (both the distributed and pure paths follow it):
- seed/prune selection orders by (count DESC, piece ASC);
- single-character pieces are always retained (full coverage — any
  string segments without an <unk> on the training corpus);
- scores are log(count+1) - log(total+V) computed from exact integers,
  so every engine derives bit-identical doubles;
- Viterbi scans piece lengths ascending and replaces only on a strictly
  greater score, making the argmax a pure function of the score table.

Reference scope note: the reference engine (aws-samples/
amazon-kinesis-replay) has no tokenizer; this module belongs to the
repo's LLM-training-data extension surface beside `functions/bpe.py`.
"""

from __future__ import annotations

import math
from collections import Counter

from .bpe import pretokenize

#: Maximum piece length (characters). 8 covers the useful
#: subword range for space-prefixed pre-tokens while bounding the seed
#: explosion at len(word) * 8 substrings per distinct word.
MAX_PIECE_LEN = 8


def seed_counts(word_counts: dict[str, int]) -> Counter:
    """Substring occurrence counts over a piece->count table: every
    substring of length <= MAX_PIECE_LEN of every distinct word, each
    occurrence weighted by the word's count (overlapping occurrences
    all count — the standard ESA-seed approximation)."""
    out: Counter = Counter()
    for w, c in word_counts.items():
        n = len(w)
        for i in range(n):
            for j in range(i + 1, min(i + MAX_PIECE_LEN, n) + 1):
                out[w[i:j]] += c
    return out


def select_seed(counts: Counter, seed_size: int) -> list[str]:
    """Top `seed_size` substrings by (count DESC, piece ASC), plus ALL
    single-character pieces (coverage guarantee)."""
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    keep = {p for p, _ in top[:seed_size]}
    keep.update(p for p in counts if len(p) == 1)
    return sorted(keep)


def rescore(counts: dict[str, int], pieces: list[str]) -> dict[str, float]:
    """Add-one-smoothed unigram log-probabilities over `pieces` from
    integer counts: log(count+1) - log(total+V). Pure integer inputs,
    so the doubles are engine-independent."""
    total = sum(counts.get(p, 0) for p in pieces)
    denom = math.log(total + len(pieces))
    return {p: math.log(counts.get(p, 0) + 1) - denom for p in pieces}


def viterbi(word: str, scores: dict[str, float]) -> list[str]:
    """Best segmentation of `word` under the score table — DP over end
    positions, piece lengths scanned ASCENDING with strictly-greater
    replacement (the determinism contract). Characters absent from the
    table fall back to min(scores)-10 as single-character pieces, so
    encoding never fails on unseen text."""
    n = len(word)
    if n == 0:
        return []
    unk_score = (min(scores.values()) if scores else 0.0) - 10.0
    best = [float("-inf")] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for length in range(1, min(MAX_PIECE_LEN, i) + 1):
            piece = word[i - length:i]
            s = scores.get(piece)
            if s is None:
                if length > 1:
                    continue
                s = unk_score
            cand = best[i - length] + s
            if cand > best[i]:
                best[i] = cand
                back[i] = length
    out = []
    i = n
    while i > 0:
        out.append(word[i - back[i]:i])
        i -= back[i]
    return out[::-1]


def em_counts(word_counts: dict[str, int],
              scores: dict[str, float]) -> Counter:
    """Hard-EM E-step: integer piece counts over the best segmentations
    of every distinct word, weighted by word count. Exact integers —
    summation order free."""
    out: Counter = Counter()
    for w, c in word_counts.items():
        for p in viterbi(w, scores):
            out[p] += c
    return out


def prune(counts: Counter, vocab_size: int) -> list[str]:
    """Keep the top `vocab_size` pieces by (count DESC, piece ASC),
    plus every single-character piece seen so far (coverage)."""
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    keep = {p for p, _ in top[:vocab_size]}
    keep.update(p for p in counts if len(p) == 1)
    return sorted(keep)


#: Training shape shared by this twin and the distributed trainer:
#: seed substrings kept, E-step/prune rounds, final vocabulary size.
SEED_SIZE, N_ITERS, VOCAB_SIZE = 1024, 2, 256


def train_unigram(word_counts: dict[str, int]) -> dict[str, float]:
    """Driver-only unigram training over a piece->count table — the
    pure twin of the distributed `operators.text.unigram_train` (which
    runs the seed count and each E-step as Spark jobs and must produce
    the IDENTICAL score table)."""
    raw = seed_counts(word_counts)
    pieces = select_seed(raw, SEED_SIZE)
    scores = rescore({p: raw[p] for p in pieces}, pieces)
    for _ in range(N_ITERS):
        counts = em_counts(word_counts, scores)
        pieces = prune(counts, VOCAB_SIZE)
        scores = rescore(counts, pieces)
    return scores


def encode_text(text: str, scores: dict[str, float],
                cache: dict[str, list[str]] | None = None) -> list[str]:
    """Segment full text: GPT-2-style pre-tokens (shared with BPE),
    each Viterbi-segmented; lossless — `"".join(result) == text`. A
    per-batch cache collapses the heavy-tailed pre-token distribution
    to dict probes."""
    out: list[str] = []
    for w in pretokenize(text):
        if cache is not None:
            seg = cache.get(w)
            if seg is None:
                seg = viterbi(w, scores)
                cache[w] = seg
        else:
            seg = viterbi(w, scores)
        out.extend(seg)
    return out
