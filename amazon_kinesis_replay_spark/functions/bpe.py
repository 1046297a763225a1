"""Byte-pair-encoding tokenizer: training and encoding kernels.

Pure-Python, dependency-free implementations of the public BPE algorithm
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units"; greedy rank-based encoding as in the public GPT-2
tokenizer). The Spark-side wrappers live in `operators.text`
(`bpe_train` / `bpe_encode`): training pre-tokenizes and counts words
DISTRIBUTED (the corpus-scale work), then runs the merge loop here on the
driver over the vocab-scale word-count table — the same
aggregate-then-fit shape as the IVF k-means trainer. Encoding runs these
kernels inside an Arrow-batched pandas UDF with a per-batch piece cache.

Scheme: no end-of-word marker — the pre-tokenizer already separates
pieces (spaces ride as a piece prefix, GPT-2 style), so a piece's symbol
list starts as its characters and merges only ever concatenate adjacent
symbols. `"".join(encode_word(w))` == `w` for every input: encoding is
lossless by construction.

Determinism: merge selection breaks count ties on the lexicographically
smallest pair, so training is a pure function of the word-count table
(no hash/iteration order dependence).
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

#: Python-`re` rendering of operators.text.BPE_PRETOKEN_PATTERN (Python
#: re has no \p{L}/\p{N}; [^\W\d_] is the Unicode-letter class and \d the
#: Unicode-digit class, with _ folded into the punctuation run).
PRETOKEN_RE = re.compile(
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+|\s+$|\s+")


def pretokenize(text: str) -> list[str]:
    """GPT-2-style pre-token pieces; `"".join(pretokenize(t)) == t`."""
    return PRETOKEN_RE.findall(text)


def learn_bpe(word_counts: dict[str, int],
              n_merges: int) -> list[tuple[str, str]]:
    """Learn up to `n_merges` merge rules from a piece->count table.

    Incremental pair-count maintenance (index pair -> containing words)
    so each merge touches only the words containing the merged pair —
    cost is ~O(total updated symbols) per merge, not a full recount
    (the subword-nmt optimization, re-derived from the paper's
    description). Stops early when no pair occurs twice."""
    words: list[list[str]] = []
    counts: list[int] = []
    for w, c in sorted(word_counts.items()):
        if len(w) >= 2 and c > 0:
            words.append(list(w))
            counts.append(int(c))

    pair_counts: Counter = Counter()
    where: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for i, syms in enumerate(words):
        c = counts[i]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] += c
            where[(a, b)].add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = None
        best_count = 1
        for pair, c in pair_counts.items():
            if c > best_count or (c == best_count and best is not None
                                  and pair < best):
                best, best_count = pair, c
        if best is None:
            break
        merges.append(best)
        new_sym = best[0] + best[1]
        for i in sorted(where.pop(best, ())):
            syms, c = words[i], counts[i]
            # remove the word's old pair contributions
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] -= c
                if pair_counts[(a, b)] <= 0:
                    del pair_counts[(a, b)]
                where[(a, b)].discard(i)
            # apply the merge left-to-right
            out, j = [], 0
            while j < len(syms):
                if (j + 1 < len(syms)
                        and (syms[j], syms[j + 1]) == best):
                    out.append(new_sym)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = out
            # add the new contributions
            for a, b in zip(out, out[1:]):
                pair_counts[(a, b)] += c
                where[(a, b)].add(i)
    return merges


def encode_word(word: str,
                ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE encode of one pre-token piece: repeatedly merge the
    LOWEST-RANK adjacent pair (public GPT-2 `bpe()` semantics — training
    order, not text order, decides)."""
    syms = list(word)
    while len(syms) >= 2:
        best_j, best_rank = -1, None
        for j in range(len(syms) - 1):
            r = ranks.get((syms[j], syms[j + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_j, best_rank = j, r
        if best_rank is None:
            break
        syms[best_j:best_j + 2] = [syms[best_j] + syms[best_j + 1]]
    return syms


def encode_text(text: str, ranks: dict[tuple[str, str], int],
                cache: dict[str, list[str]] | None = None) -> list[str]:
    """Pre-tokenize then BPE-encode; `"".join(result) == text` always.
    `cache` memoizes per-piece encodings (pieces are heavy-tailed, so a
    shared cache across a batch of documents hits constantly)."""
    out: list[str] = []
    for piece in pretokenize(text):
        got = cache.get(piece) if cache is not None else None
        if got is None:
            got = encode_word(piece, ranks)
            if cache is not None:
                cache[piece] = got
        out.extend(got)
    return out


def merge_ranks(merges: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
    return {pair: i for i, pair in enumerate(merges)}


