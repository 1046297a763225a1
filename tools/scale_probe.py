#!/usr/bin/env python
"""Scale-linearity probe: run the heavy pipeline families over 1x / 4x /
10x synthetic expansions of the fixture corpus and report wall time. A
near-linear curve is the evidence the plans have no quadratic term:

- contamination  : shingle pass -> distinct train grams -> semi-join
                   (vs train x eval doc-pair comparison)
- embedding_dedup: sign-LSH banding -> bucket equi-join -> exact cosine
                   on survivors (vs the N^2 cosine matrix)
- packing        : range-bucketed distributed exclusive cumsum (vs a
                   single-partition global window, which would flatline
                   at one core and OOM at scale)
- semdedup       : k-means clusters confine the pairwise term; centroids
                   scale WITH the corpus (the 100 TB contract in
                   operators/similarity.semantic_dedup) so per-cluster
                   membership — and with it the quadratic — stays bounded
- mixture        : domain-count groupBy + broadcast rate join (vs any
                   per-domain driver loop)
- qhist          : quantile-histogram build — one scan, sketch-sized
                   output
- bm25           : inverted-index build (explode -> combinable groupBy)
- asof           : as-of join — union + one keyed window
- gapfill        : minute aggregate + dense-spine gap fill
- media          : Arrow-batched image/audio decode — no shuffle at all

Usage: python tools/scale_probe.py [sf_dir] [family ...]

Prints per-family progress lines plus ONE final JSON line:
{"sf_dir": ..., "families": {name: {"x1_s": .., "x4_s": .., "x10_s": ..,
"factor_x4": .., "factor_x10": ..}}} — factors ~mult (and far below
mult^2) demonstrate linearity.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

MULTS = (1, 4, 10)


def _expand_docs(base, mult):
    """id-shifted copies with a perturbing token so copies are NOT exact
    dups of each other (keeps LSH bucket sizes realistic)."""
    from pyspark.sql import functions as F
    parts = [base]
    for i in range(1, mult):
        parts.append(base.select(
            (F.col("doc_id") + 1_000_000 * i).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" variant{i}")).alias("text")))
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionAll(p)
    return corpus


def _expand_emb(base, mult):
    """id-shifted copies with a small per-copy vector perturbation so the
    copies land in realistic (not pathologically identical) LSH buckets."""
    from pyspark.sql import functions as F
    parts = [base]
    for i in range(1, mult):
        eps = 0.001 * i
        parts.append(base.select(
            (F.col("vec_id") + 1_000_000 * i).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (x + F.lit(eps)).cast("float")).alias("embedding")))
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionAll(p)
    return corpus


def _probe(name, fn, out):
    """Time fn(mult) across MULTS; record seconds + scaling factors."""
    times = {}
    for mult in MULTS:
        t0 = time.monotonic()
        detail = fn(mult)
        dt = time.monotonic() - t0
        times[mult] = dt
        print(f"{name} x{mult}: {detail} in {dt:.2f}s", flush=True)
    fam = {f"x{m}_s": round(times[m], 2) for m in MULTS}
    for m in MULTS[1:]:
        fam[f"factor_x{m}"] = round(times[m] / max(times[1], 1e-9), 2)
        print(f"{name} x{m} scaling factor: {fam[f'factor_x{m}']} "
              f"(linear would be ~{m})", flush=True)
    out[name] = fam


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])  # optional family-name filter
    from pyspark.sql import functions as F

    from amazon_kinesis_replay_spark.operators import (
        dedup, intervals, retrieval, sampling, similarity, sketches, text)
    from amazon_kinesis_replay_spark.session import build_spark, materialize
    from amazon_kinesis_replay_spark.tables import load

    spark = build_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    events = load(spark, sf_dir, "events") \
        .select("event_type", "user_id")

    families: dict[str, dict] = {}

    def run_contamination(mult):
        split = _expand_docs(docs, mult).withColumn(
            "split", F.when(F.pmod(F.col("doc_id"), 10) < 8, "train")
            .otherwise("test"))
        n = split.count()
        flagged = (dedup.cross_split_contamination(
            split, "doc_id", "text", "split")
            .filter("contaminated").count())
        return f"{n} docs -> {flagged} flagged"

    def run_embedding(mult):
        corpus = _expand_emb(emb, mult)
        n = corpus.count()
        pairs = dedup.embedding_cosine_dedup(corpus).count()
        return f"{n} vecs -> {pairs} pairs"

    def run_packing(mult):
        counted = _expand_docs(docs, mult).withColumn(
            "token_count", F.size(F.split(F.col("text"), r"\s+")))
        packed = text.pack_sequences(counted, "doc_id", "token_count")
        row = packed.agg(F.count("*").alias("n"),
                         F.max("pack_id").alias("p")).head()
        return f"{row['n']} docs -> {int(row['p']) + 1} packs"

    def run_semdedup(mult):
        corpus = _expand_emb(emb, mult)
        n = corpus.count()
        # centroids scale WITH the corpus — the operator's own 100 TB
        # contract (bounded per-cluster membership bounds the quadratic);
        # a fixed centroid count would measure the quadratic instead
        cents = similarity.kmeans_centroids(corpus, n_centroids=16 * mult)
        out = similarity.semantic_dedup(materialize(
            similarity._ranked_assign(corpus, cents, 1),
            "scale_probe: ranked assignment"))
        dups = out.filter("is_dup").count()
        return f"{n} vecs -> {dups} dups ({16 * mult} centroids)"

    def run_mixture(mult):
        corpus = _expand_docs(docs, mult).withColumn(
            "dom", F.pmod(F.col("doc_id"), F.lit(8)).cast("string"))
        n = corpus.count()
        kept = (sampling.mixture_sample(corpus, "doc_id", "dom")
                .filter("mix_kept").count())
        return f"{n} docs -> {kept} mixture-kept"

    def run_qhist(mult):
        # late r8: quantile-histogram build; output is SKETCH-sized so
        # the curve must track the one corpus scan
        parts = [events]
        for i in range(1, mult):
            parts.append(events.select(
                "event_type",
                (F.col("user_id") + 1_000_000_000 * i).alias("user_id")))
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionAll(p)
        corpus = corpus.filter(F.col("user_id").isNotNull())
        n = corpus.count()
        buckets = sketches.qhist_table(corpus, "user_id").count()
        return f"{n} events -> {buckets} buckets"

    def run_bm25(mult):
        # late r8: inverted-index build (the retrieval family's corpus-
        # scale pass: explode -> combinable groupBy); tracks the scan
        corpus = _expand_docs(docs, mult)
        n = corpus.count()
        n_post = retrieval.postings(corpus).count()
        return f"{n} docs -> {n_post} postings"

    def _expand_events_full(mult, shift_interval=None):
        ev = load(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type")
        parts = [ev]
        for i in range(1, mult):
            shifted = (F.col("ts") + F.expr(shift_interval.format(i=i))
                       if shift_interval else F.col("ts"))
            parts.append(ev.select(
                (F.col("event_id") + 10_000_000 * i).alias("event_id"),
                "user_id", shifted.alias("ts"), "event_type"))
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionAll(p)
        return corpus.filter(F.col("ts").isNotNull()
                             & F.col("user_id").isNotNull())

    def run_asof(mult):
        # 3rd continuation: as-of join — union + ONE keyed window; keys
        # stay fixed so per-key row counts grow ∝ mult (the harder
        # case: the per-key sort is the only superlinear term, n log n)
        corpus = _expand_events_full(mult, "INTERVAL {i} SECOND")
        n = corpus.count()
        purchases = (corpus.filter(F.col("event_type") == "purchase")
                     .select("event_id", "user_id", "ts"))
        clicks = (corpus.filter(F.col("event_type") == "click")
                  .select("user_id", "ts"))
        matched = (intervals.asof_join(purchases, clicks, by="user_id")
                   .filter(F.col("asof_ts").isNotNull()).count())
        return f"{n} events -> {matched} matched purchases"

    def run_gapfill(mult):
        # 3rd continuation: copies shift by ~the fixture's time span so
        # the DENSE minute spine grows ∝ mult too (both the aggregate
        # and the densify leg must scale)
        corpus = _expand_events_full(mult, "INTERVAL {i}0 DAY")
        minute = (corpus.groupBy(
            (F.floor(F.unix_timestamp("ts") / 60) * 60000)
            .cast("long").alias("bucket"))
            .agg(F.count("*").alias("n")))
        dense = intervals.gap_fill(minute, "bucket", "n", step=60000,
                                   mode="zero")
        n_dense = dense.count()
        return f"x{mult} -> {n_dense} dense minute buckets"

    def run_media(mult):
        # late r10: the multimodal decode family — per-blob pure-Python
        # codecs inside Arrow-batched mapInPandas. No shuffle at all
        # (synthesize and decode fuse into one scan), so the curve must
        # track the blob count exactly; a bend would mean the decode
        # stopped distributing.
        from amazon_kinesis_replay_spark.operators import multimodal
        corpus = _expand_docs(docs, mult).select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "UTF-8").alias("data"))
        n = corpus.count()
        media = multimodal.synthesize_image_media(corpus)
        dec = multimodal.decode_images(media).count()
        aud = multimodal.audio_meta(
            multimodal.synthesize_audio_media(corpus)).count()
        return f"{n} docs -> {dec} images + {aud} audio decoded"

    all_families = [
        ("media", run_media),
        ("bm25", run_bm25),
        ("qhist", run_qhist),
        ("semdedup", run_semdedup),
        ("mixture", run_mixture),
        ("contamination", run_contamination),
        ("embedding_dedup", run_embedding),
        ("packing", run_packing),
        ("asof", run_asof),
        ("gapfill", run_gapfill),
    ]
    for name, fn in all_families:
        if only and name not in only:
            continue
        _probe(name, fn, families)

    print(json.dumps({"sf_dir": sf_dir, "families": families}), flush=True)


if __name__ == "__main__":
    main()
