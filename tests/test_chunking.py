"""Sliding-window chunking — `text.chunk_documents`.

Twin: pure-python windows over the same split(trim, \\s+) token family.
The geometry additionally rides the dedup_exact kind='chunk' oracle rows
(DuckDB range() + list-slice rebuild) at the driver's gate.
"""

import re

from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.operators import text as t
from amazon_kinesis_replay_spark.tables import load


def _py_chunks(s, chunk_tokens, overlap):
    toks = re.split(r"\s+", s.strip(" "))
    step = chunk_tokens - overlap
    out = []
    starts = list(range(0, max(len(toks) - overlap - 1, 0) + 1, step))
    for st in starts:
        win = toks[st:st + chunk_tokens]
        out.append((st // step, st, len(win), " ".join(win)))
    return out


DOCS = [
    (1, "a b c d e f g h i j"),            # 10 tokens, several windows
    (2, "single"),                          # 1 token, one short chunk
    (3, ""),                                # empty -> one ['']-chunk
    (4, "x " * 7),                          # trailing space
    (5, "\tlead and trail\n"),              # tab/newline edges (trim
                                            # strips SPACES only)
    (6, " ".join(f"t{i}" for i in range(150))),   # several windows
    (7, " ".join(f"u{i}" for i in range(64))),    # exactly one window
]


def test_chunk_documents_matches_python_twin(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {}
    for r in t.chunk_documents(df, "doc_id", "text").collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["start_token"], r["n_tokens"],
             r["chunk_text"]))
    for doc_id, s in DOCS:
        assert sorted(got[doc_id]) == _py_chunks(
            s, t.CHUNK_TOKENS, t.CHUNK_OVERLAP), f"doc {doc_id}"
    assert len(got[6]) == 3 and len(got[7]) == 1


def test_chunk_documents_overlap_reassembles(spark, sf_dir):
    """Dropping the first CHUNK_OVERLAP tokens of every non-first chunk
    and concatenating reconstructs each document's token stream exactly
    — the lossless-coverage property embedding pipelines rely on."""
    docs = load(spark, sf_dir, "documents").limit(50)
    chunks = t.chunk_documents(docs, "doc_id", "text").collect()
    by_doc = {}
    for r in sorted(chunks, key=lambda r: (r["doc_id"], r["chunk_id"])):
        toks = r["chunk_text"].split(" ") if r["chunk_text"] != "" else [""]
        prev = by_doc.setdefault(r["doc_id"], [])
        prev.extend(toks[t.CHUNK_OVERLAP:] if prev else toks)
    src = {r["doc_id"]: re.split(r"\s+", r["text"].strip(" "))
           for r in docs.select("doc_id", "text").collect()}
    assert by_doc == src


def test_chunk_documents_every_doc_emits(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    covered = (t.chunk_documents(docs, "doc_id", "text")
               .select("doc_id").distinct().count())
    assert covered == n_docs


def test_chunk_documents_plan_is_projection_only(spark, sf_dir):
    """No shuffle, no UDF: scan -> generate -> project."""
    docs = load(spark, sf_dir, "documents")
    plan = (t.chunk_documents(docs, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Generate explode" in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_lang_id_multi_classifies_and_tie_breaks(spark):
    """Multi-language argmax over the built-in trigram profiles: clear
    sentences classify correctly; sub-threshold text -> 'unknown'; a
    python twin of the coverage argmax pins every score."""
    docs = [
        (1, "the quick brown fox is one of the animals in the garden "
            "and it is going to the river"),
        (2, "der schnelle braune fuchs ist eines der tiere und er "
            "springt ueber den faulen hund in dem garten"),
        (3, "le renard brun rapide est un des animaux que nous avons "
            "dans le jardin et il va par la riviere"),
        (4, "el zorro marron rapido es uno de los animales que estan "
            "en el jardin y va por el rio con una cesta"),
        (5, "zzz qqq xxx"),
    ]
    from amazon_kinesis_replay_spark.operators.text import (
        LANG_TRIGRAMS, lang_id_multi_expr)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["lang"] for r in df.selectExpr(
        "doc_id", f"{lang_id_multi_expr('text')} AS lang").collect()}

    import re as _re
    def _twin(s):
        norm = _re.sub(r"\s+", " ", s.lower())
        best = None
        for i, (lang, grams) in enumerate(LANG_TRIGRAMS.items()):
            sc = sum(1 for g in grams
                     if g.replace("_", " ") in norm) / len(grams)
            key = (sc, -i, lang)
            if best is None or key > best:
                best = key
        return best[2] if best[0] >= 0.05 else "unknown"

    assert got == {i: _twin(s) for i, s in docs}
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr" \
        and got[4] == "es" and got[5] == "unknown"
