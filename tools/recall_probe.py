#!/usr/bin/env python
"""Candidate-recall probe for the LSH parameter choices.

Measures, against EXACT ground truth at a small SF:
- MinHash banding: candidate recall of (num_hashes, bands x rows)
  configurations at the verified Jaccard threshold (the 32-hash 16x2
  default must keep recall 1.0 on the fixture; 64-hash 32x2 is the r3
  config it replaced at twice the cost; 64-hash 16x4 is the r2 config
  whose boundary recall was fixture-dependent), plus the candidate count
  (cost proxy — wider bands admit more false positives for the exact
  verify step to discard).
- Embedding sign-LSH banding: recall of banded candidates vs the exact
  all-pairs cosine>=t set for (n_bands, band_bits) splits of the 64 dims.
- ANN top-k: recall@10 and wall time of the registry's 4-probe sign-LSH
  tier vs brute force, over three queries.
- SemDeDup: dup recall at the registry's eps=0.4 of the clustered
  marking (flat and n_assign=2, 16 trained centroids) vs one all-pairs
  cluster.

Usage: python tools/recall_probe.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import numpy as np
    from pyspark.sql import functions as F

    from amazon_kinesis_replay_spark.operators import dedup
    from amazon_kinesis_replay_spark.session import build_spark, materialize
    from amazon_kinesis_replay_spark.tables import load

    spark = build_spark("recall-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- MinHash banding vs exact Jaccard ---------------------------------
    d = load(spark, sf_dir, "documents")
    truth = {(r["id_a"], r["id_b"]) for r in
             dedup.ngram_jaccard_pairs(d, "doc_id", "text", 0.5).collect()}
    print(f"minhash truth: {len(truth)} pairs at J>=0.5 ({sf_dir})",
          flush=True)
    for num_hashes, bands in ((64, 16), (64, 32), (32, 16)):
        rows = num_hashes // bands
        cand = {(r["id_a"], r["id_b"]) for r in
                dedup.minhash_lsh_pairs(d, "doc_id", "text",
                                        num_hashes=num_hashes, bands=bands,
                                        k=3).collect()}
        hit = len(cand & truth)
        rec = hit / len(truth) if truth else 1.0
        tag = " (default)" if (num_hashes, bands) == (32, 16) else ""
        print(f"  {num_hashes}h {bands:2d}x{rows}: recall {rec:6.4f} "
              f"({hit}/{len(truth)}), {len(cand)} candidates{tag}",
              flush=True)

    # ---- Embedding sign-LSH banding vs exact cosine -----------------------
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 0)
    rows_ = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows_]
    V = np.array([r["embedding"] for r in rows_], dtype=np.float64)
    norms = np.linalg.norm(V, axis=1)
    sims = (V @ V.T) / np.outer(norms, norms)
    iu, ju = np.triu_indices(len(ids), k=1)
    thresh = 0.4
    exact = {(min(ids[i], ids[j]), max(ids[i], ids[j]))
             for i, j in zip(iu[sims[iu, ju] >= thresh],
                             ju[sims[iu, ju] >= thresh])}
    print(f"embedding truth: {len(exact)} pairs at cos>={thresh}",
          flush=True)
    signs = V >= 0
    n_vecs = len(ids)
    for n_bands, band_bits in ((8, 8), (16, 4), (4, 16)):
        got = set()
        for i, j in zip(iu, ju):
            if sims[i, j] < thresh:
                continue
            for b in range(n_bands):
                lo, hi = b * band_bits, (b + 1) * band_bits
                if (signs[i, lo:hi] == signs[j, lo:hi]).all():
                    a_, b_ = ids[i], ids[j]
                    got.add((min(a_, b_), max(a_, b_)))
                    break
        rec = len(got) / len(exact) if exact else 1.0
        # Cost proxy (r6 ROADMAP candidate): quadratic verify work is
        # confined to band buckets, so the MAX bucket share witnesses the
        # N^2-confinement claim per config, and sum C(size,2) over all
        # buckets is the candidate-pair cost the exact verify must absorb.
        cand_pairs = 0
        max_bucket = 0
        for b in range(n_bands):
            lo = b * band_bits
            key = signs[:, lo:lo + band_bits] @ (
                1 << np.arange(band_bits, dtype=np.int64))
            _, counts = np.unique(key, return_counts=True)
            max_bucket = max(max_bucket, int(counts.max()))
            cand_pairs += int((counts * (counts - 1) // 2).sum())
        print(f"  {n_bands:2d} bands x {band_bits:2d} bits: "
              f"recall {rec:6.4f} ({len(got)}/{len(exact)}); "
              f"max bucket {max_bucket}/{n_vecs} "
              f"({max_bucket / n_vecs:.3f} share), "
              f"{cand_pairs} candidate pairs", flush=True)

    # ---- ANN family: recall@10 + wall time vs the exact baseline ----------
    import time

    from amazon_kinesis_replay_spark.operators import similarity as S
    full = load(spark, sf_dir, "embeddings")
    queries = [0, 100, 250]
    qdfs = [(qid, full.filter(F.col("vec_id") == qid)
             .select(F.col("embedding").alias("q_vec"))) for qid in queries]
    truth = {qid: [r["vec_id"] for r in
                   S.brute_force_topk(full, qdf).collect()]
             for qid, qdf in qdfs}

    variants = {
        # multi-probe (r8): the query's bucket plus the 3 neighbor
        # buckets across its least-confident bits — the registry shape
        "lsh(4bit,p4)": lambda qdf: S.lsh_topk(full, qdf),
    }
    print(f"ANN recall@10 over queries {queries} ({sf_dir}):", flush=True)
    for name, fn in variants.items():
        hits = n_ret = 0
        t0 = time.monotonic()
        for qid, qdf in qdfs:
            got = [r["vec_id"] for r in fn(qdf).collect()]
            hits += len(set(got) & set(truth[qid]))
            n_ret += 10
        dt = time.monotonic() - t0
        print(f"  {name:16s}: recall {hits / n_ret:5.2f} "
              f"({hits}/{n_ret}), {dt:5.2f}s for {len(queries)} queries",
              flush=True)

    # ---- SemDeDup recall at the registry's epsilon ---------------------
    # one cluster = all-pairs = the exact dup set; the clustered marking
    # is a SUBSET of it by construction (a within-cluster qualifying pair
    # is also a global pair and min-id-wins only shrinks), so the only
    # error mode is MISSES across cluster boundaries — recall is the
    # entire quality story, precision is structurally 1.0.
    emb = load(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    one = S.kmeans_centroids(emb, n_centroids=1)
    cents = S.kmeans_centroids(emb)

    def dup_ids(centroids, n_assign):
        ranked = materialize(S._ranked_assign(emb, centroids, n_assign),
                             "recall_probe: ranked assignment")
        return {r["id"] for r in S.semantic_dedup(ranked, n_assign)
                .filter("is_dup").collect()}

    exact_ids = dup_ids(one, 1)
    got_ids = dup_ids(cents, 1)
    got2_ids = dup_ids(cents, 2)
    assert got_ids <= got2_ids <= exact_ids, \
        "dup sets must nest: flat <= multi-assign <= exact"
    rec = len(got_ids) / len(exact_ids) if exact_ids else 1.0
    rec2 = len(got2_ids) / len(exact_ids) if exact_ids else 1.0
    print(f"SemDeDup ({sf_dir}) eps=0.4: {len(got_ids)}/{n_vec} marked "
          f"({len(got_ids) / n_vec:.1%}); exact {len(exact_ids)} "
          f"-> recall {rec:.3f} (n_assign=2: {rec2:.3f})", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
