"""Training-data pipeline operators: dedup recall, similarity, multimodal
plumbing."""

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.operators import (
    dedup, multimodal, similarity)
from amazon_kinesis_replay_spark.tables import load


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """LSH candidates at the registry's operating point (16 bands x 2 rows
    over a 32-hash signature — collision prob ~0.99 at the J=0.5 decision
    boundary, deterministic given the hash family) must recover every
    exact-Jaccard pair at the 0.5 threshold on the fixture's planted
    near-dups. This equality is what licenses the exact-Jaccard oracle
    for `minhash_dedup` in the driver's gate."""
    d = load(spark, sf_dir, "documents")
    exact = {(r["id_a"], r["id_b"]) for r in
             dedup.ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.5).collect()}
    mh = {(r["id_a"], r["id_b"]) for r in
          dedup.minhash_dedup(d, "doc_id", "text", 32, 16, 3, 0.5).collect()}
    assert exact, "fixture should contain planted near-duplicates"
    assert mh == exact


def test_minhash_fixture_profile_supports_oracle(spark, sf_dir):
    """Fixture profile check: the planted dups' minimum Jaccard. 16x2
    banding recalls ~0.99 at J=0.5 itself, rising fast above it, but a
    fixture drifting below the verified threshold region would change what
    the gate exercises, so pin the profile here."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.5).collect()
    assert pairs, "fixture should contain planted near-duplicates"
    assert min(r["jaccard"] for r in pairs) >= 0.5


def test_prefix_filter_is_exact(spark, sf_dir):
    """PPJoin prefix filtering must produce the identical pair set as the
    naive shingle self-join at several thresholds (exactness, not recall).
    0.56 and 0.55 are float-rounding traps: t*n for small integer n lands
    just above the exact product (0.56*25 = 14.000000000000002), which
    without the ceil slack shrinks the prefix by one and drops pairs."""
    d = load(spark, sf_dir, "documents").limit(200)
    for t in (0.3, 0.5, 0.55, 0.56, 0.8):
        naive = {(r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in
                 dedup.ngram_jaccard_pairs(d, "doc_id", "text", 3, t,
                                           prefix_filter=False).collect()}
        pref = {(r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in
                dedup.ngram_jaccard_pairs(d, "doc_id", "text", 3, t,
                                          prefix_filter=True).collect()}
        assert pref == naive


def test_dict_shingle_ids_match_hash_mode(spark, sf_dir):
    """shingle_ids="dict" (collision-free dense ids via with_global_index
    over (hash, shingle)) must yield the identical verified pair set as
    the default hash-key mode: the two modes use different total orders
    (freq, hash, shingle) vs (freq-of-hash, shingle), so their CANDIDATE
    sets may differ, but exact verification must converge to the same
    pairs with bit-identical Jaccard values."""
    d = load(spark, sf_dir, "documents").limit(300)
    for t in (0.5, 0.56):
        hashed = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
                  dedup.ngram_jaccard_pairs(d, "doc_id", "text", 3, t,
                                            shingle_ids="hash").collect()}
        dicted = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
                  dedup.ngram_jaccard_pairs(d, "doc_id", "text", 3, t,
                                            shingle_ids="dict").collect()}
        assert hashed, "fixture should contain planted near-duplicates"
        assert dicted == hashed


def test_xxh64_matches_spark(spark):
    """The pure-Python XXH64 (the simhash oracle's independent hash) must
    equal Spark's xxhash64 bit-for-bit: string path across every length
    class (empty / <4 / <8 / 8-stripe / 4-tail / 32-block / long) and
    unicode; long path across sign/extreme values."""
    from amazon_kinesis_replay_spark.functions import xxh
    cases = ["", "a", "abc", "hello", "x" * 7, "x" * 8, "x" * 31, "x" * 32,
             "x" * 100, "üñïçôdé tøkèn", "tab\there",
             "The quick brown fox jumps over the lazy dog"]
    rows = (spark.createDataFrame([(c,) for c in cases], "s string")
            .select("s", F.xxhash64("s").alias("h")).collect())
    for r in rows:
        assert xxh.xxh64_string(r["s"]) == r["h"], r["s"]
    longs = [0, 1, -1, 42, 2**62, -(2**63), 2**63 - 1]
    lrows = (spark.createDataFrame([(v,) for v in longs], "v long")
             .select("v", F.xxhash64("v").alias("h")).collect())
    for r in lrows:
        assert xxh.xxh64_long(r["v"]) == r["h"], r["v"]


def test_simhash_py_matches_spark(spark, sf_dir):
    """The oracle's independent tokenize+hash+vote recomputation must equal
    the Spark simhash64 column on every fixture document — this parity is
    what makes the simhash_dedup VALUES oracle a real check."""
    from amazon_kinesis_replay_spark.functions.xxh import simhash64_py
    d = load(spark, sf_dir, "documents")
    spark_sim = {r["id"]: r["simhash"] for r in
                 dedup.simhash64(d, "doc_id", "text").collect()}
    for r in d.select("doc_id", "text").collect():
        assert simhash64_py(r["text"]) == spark_sim[r["doc_id"]], r["doc_id"]


def test_simhash_hamming_symmetry(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    sim = dedup.simhash64(d, "doc_id", "text")
    assert sim.count() == d.count()
    pairs = dedup.simhash_near_dups(d, "doc_id", "text", max_hamming=3)
    rows = pairs.collect()
    assert all(r["id_a"] < r["id_b"] and r["hamming"] <= 3 for r in rows)


def test_embedding_cosine_dedup_matches_numpy_reference(spark, sf_dir):
    """The banded sign-LSH + exact-verify semantics must equal a NumPy
    re-implementation of the same definition (candidates = sign agreement
    on >=1 full band; verify cosine >= t), and be a subset of the exact
    all-pairs threshold set."""
    import numpy as np
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 0)
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.embedding_cosine_dedup(emb, 0.4, 8, 8).collect()}

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    signs = (V >= 0)
    norms = np.linalg.norm(V, axis=1)
    want, exact = set(), set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = (ids[i], ids[j]) if ids[i] < ids[j] else (ids[j], ids[i])
            cos = float(V[i] @ V[j] / (norms[i] * norms[j]))
            if cos >= 0.4:
                exact.add((a, b))
                collide = any(
                    (signs[i, 8 * k:8 * k + 8] == signs[j, 8 * k:8 * k + 8]).all()
                    for k in range(8))
                if collide:
                    want.add((a, b))
    assert got == want and want  # exact banded semantics, non-empty
    assert got <= exact          # verify step: no false positives


def test_dedup_clusters_chain_and_singleton(spark):
    """Label propagation must close a CHAIN (multi-round convergence, not
    just star graphs), merge two pair-lists into one component, and keep
    singletons as their own representative."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    # chain 1-2-3-4-5 (diameter 4) + isolated pair 6-7... minus 7: make 6
    # a singleton by pairing nothing; pair (6,7) removed -> both singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long")
    out = {r["doc_id"]: (r["cluster_id"], r["cluster_size"],
                         r["is_representative"])
           for r in dedup.dedup_clusters(nodes, pairs).collect()}
    assert all(out[i] == (1, 5, i == 1) for i in range(1, 6))
    assert out[6] == (6, 1, True) and out[7] == (7, 1, True)


def test_dedup_clusters_quality_representative(spark):
    """quality= keeps the HIGHEST-scoring cluster member (the curation
    shape: drop dups, keep the best copy): ties fall back to min id,
    unscored members never beat scored ones, all-unscored clusters and
    singletons fall back to min id, and cluster membership/size are
    untouched."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7)], "id_a long, id_b long")
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5),    # cluster {1,2,3}: 2 wins
         (4, 0.7), (5, 0.7)],             # {4,5}: tie -> min id 4
        "doc_id long, score double")      # {6,7}: unscored -> min id 6
    out = {r["doc_id"]: (r["cluster_id"], r["cluster_size"],
                         r["is_representative"])
           for r in dedup.dedup_clusters(nodes, pairs,
                                         quality=quality).collect()}
    assert out[1] == (1, 3, False) and out[2] == (1, 3, True)
    assert out[3] == (1, 3, False)
    assert out[4] == (4, 2, True) and out[5] == (4, 2, False)
    assert out[6] == (6, 2, True) and out[7] == (6, 2, False)
    # unscored member loses to a scored one even with a negative score
    q2 = spark.createDataFrame([(7, -5.0)], "doc_id long, score double")
    out2 = {r["doc_id"]: r["is_representative"]
            for r in dedup.dedup_clusters(nodes, pairs,
                                          quality=q2).collect()}
    assert out2[7] and not out2[6]
    # exactly one representative per cluster ({1,2,3}, {4,5}, {6,7})
    assert sum(out2.values()) == 3


def test_dedup_clusters_diameter_exactly_max_iters(spark):
    """max_iters bounds the component DIAMETER: a chain whose diameter
    equals max_iters must converge (the extra zero-change verification
    round is not charged against the bound), while a longer chain raises
    instead of returning partially-propagated labels."""
    import pytest
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long")
    out = {r["doc_id"]: r["cluster_id"] for r in
           dedup.dedup_clusters(nodes, chain, max_iters=4).collect()}
    assert all(out[i] == 1 for i in range(1, 6))
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dedup_clusters(nodes, chain, max_iters=1)


def test_dedup_clusters_pairs_path_and_chained_check(spark, tmp_path):
    """The parquet-path pairs form (cold-start entry: cluster previously
    materialized pairs without re-running any dedup pipeline) must equal
    the DataFrame form, and chained convergence checks (check_every=2,
    the bench-SF operating point) must not change the labels — including
    on a CHAIN graph where fixpoint lands mid-chain."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long")
    p = str(tmp_path / "pairs")
    pairs.write.parquet(p)
    want = sorted(map(tuple, dedup.dedup_clusters(nodes, pairs).collect()))
    from_path = sorted(map(tuple,
                           dedup.dedup_clusters(nodes, p).collect()))
    chained = sorted(map(tuple,
                         dedup.dedup_clusters(nodes, pairs,
                                              check_every=2).collect()))
    chained3 = sorted(map(tuple,
                          dedup.dedup_clusters(nodes, pairs,
                                               check_every=3).collect()))
    assert from_path == want and chained == want and chained3 == want


def test_exact_dedup_representative(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionAll(d.select((F.col("doc_id") + 10_000).alias("doc_id"),
                                  "text"))
    out = dedup.exact_dedup(doubled, ["text"], "doc_id")
    rows = out.collect()
    assert all(r["dup_count"] == 2 for r in rows)        # every text twice
    assert all(r["keep_id"] < 10_000 for r in rows)      # keeps the original


def test_brute_force_topk_self_is_best(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("q_vec"))
    top = similarity.brute_force_topk(emb, q, k=5).collect()
    assert top[0]["vec_id"] == 7                          # self-match first
    assert abs(top[0]["cosine"] - 1.0) < 1e-9
    scores = [r["cosine"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_lsh_topk_subset_of_bucket(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("q_vec"))
    approx = similarity.lsh_topk(emb, q, k=5, n_bits=4).collect()
    assert approx and approx[0]["vec_id"] == 7            # probe finds self


def test_lsh_multiprobe_monotone_recall(spark, sf_dir):
    """r8, multi-probe LSH: raising n_probe widens the candidate set
    monotonically (each probe adds a distinct bucket), so recall@10 vs
    brute force is non-decreasing in n_probe and the full-probe run
    (n_probe = 2^n_bits) IS brute force."""
    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 7, 100]
    recalls = {}
    for n_probe in (1, 2, 4):
        hits = 0
        for qid in qids:
            q = emb.filter(F.col("vec_id") == qid) \
                .select(F.col("embedding").alias("q_vec"))
            exact = {r["vec_id"] for r in
                     similarity.brute_force_topk(emb, q, k=10).collect()}
            got = {r["vec_id"] for r in
                   similarity.lsh_topk(emb, q, k=10, n_bits=4,
                                       n_probe=n_probe).collect()}
            assert qid in got                 # self survives every probing
            hits += len(exact & got)
        recalls[n_probe] = hits / (10 * len(qids))
    assert recalls[1] <= recalls[2] <= recalls[4], recalls
    assert recalls[2] > recalls[1], recalls   # the extra bucket must help
    # single-bit flips reach at most n_bits+1 buckets: deeper probing
    # must be refused loudly (the IVF tier owns that regime)
    q = emb.filter(F.col("vec_id") == 0) \
        .select(F.col("embedding").alias("q_vec"))
    with pytest.raises(ValueError, match="IVF"):
        similarity.lsh_topk(emb, q, k=10, n_bits=4, n_probe=16)


def test_lsh_perturbation_sequences_full_probe_is_brute_force(spark, sf_dir):
    """r8 late, multi-bit perturbation sets: max_flip=n_bits makes every
    bucket reachable, so n_probe=2^n_bits must return EXACTLY the brute
    force top-k (same ids, same order); max_flip=2 at the same n_probe as
    a single-bit run can only reorder the probe sequence toward
    higher-expected-score buckets, never shrink the candidate count."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7) \
        .select(F.col("embedding").alias("q_vec"))
    exact = [r["vec_id"] for r in
             similarity.brute_force_topk(emb, q, k=10).collect()]
    full_probe = [r["vec_id"] for r in
                  similarity.lsh_topk(emb, q, k=10, n_bits=4, n_probe=16,
                                      max_flip=4).collect()]
    assert full_probe == exact
    # the multi-bit candidate enumeration still yields distinct buckets:
    # k results with a self-match at any legal (n_probe, max_flip)
    got = similarity.lsh_topk(emb, q, k=10, n_bits=4, n_probe=8,
                              max_flip=2).collect()
    assert got[0]["vec_id"] == 7 and len(got) == 10
    # out-of-range max_flip refuses loudly
    with pytest.raises(ValueError, match="max_flip"):
        similarity.lsh_topk(emb, q, k=10, n_bits=4, n_probe=2, max_flip=5)


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    """IVF with 4-of-16 probes must keep high recall@10 on the fixture and
    always contain the query itself."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    exact = [r["vec_id"] for r in similarity.brute_force_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in
              similarity.ivf_topk(emb, q, k=10, n_centroids=16, n_probe=4).collect()]
    assert approx[0] == 0                        # self-match survives probing
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3                         # random gaussians: top-1 is
    # what matters; neighbors are near-ties, so modest recall is expected


def test_kmeans_ivf_training(spark, sf_dir):
    """Trained centroids: right shape, all vectors assigned, probe still
    finds the query itself."""
    emb = load(spark, sf_dir, "embeddings").limit(200)
    cents = similarity.kmeans_centroids(emb, n_centroids=8, n_iters=2)
    rows = cents.collect()
    assert len(rows) <= 8 and all(len(r["c_vec"]) == 64 for r in rows)
    assigned = similarity.ivf_assign(emb, 8, centroids=cents)
    assert assigned.count() == emb.count()                 # total assignment
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    top = similarity.ivf_topk(emb, q, k=5, n_centroids=8, n_probe=2,
                              centroids=cents).collect()
    assert top and top[0]["vec_id"] == 0


def test_ivf_index_write_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted IVF index must deliver the probe story physically:
    a probe scan carries PartitionFilters on centroid_id (file-listing
    pruning, not a post-scan filter), reads only the probed lists, and
    returns the same top-k as the in-memory ivf_topk with the same
    centroids."""
    emb = load(spark, sf_dir, "embeddings")
    index = str(tmp_path / "ivf")
    cents = similarity.kmeans_centroids(emb, n_centroids=8, n_iters=2)
    similarity.ivf_index_write(emb, index, n_centroids=8, centroids=cents)

    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    top = similarity.ivf_probe_topk(spark, index, q, k=5, n_probe=2)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "centroid_id" in plan.split(
        "PartitionFilters: [", 1)[1][:200]

    # the probed scan reads exactly the 2 chosen lists, not the corpus
    probed = (spark.read.parquet(index + "/vectors")
              .filter(F.col("centroid_id").isin(_probe_lists(spark, index, q, 2))))
    n_lists = probed.select("centroid_id").distinct().count()
    assert n_lists <= 2
    assert probed.count() < emb.count()

    got = [r["vec_id"] for r in top.collect()]
    want = [r["vec_id"] for r in similarity.ivf_topk(
        emb, q, k=5, n_centroids=8, n_probe=2, centroids=cents).collect()]
    assert got == want and got[0] == 0


def test_ivf_index_append_serves_new_vectors(spark, sf_dir, tmp_path):
    """Appending vectors to a persisted index must place them in the
    partition their saved-centroid assignment dictates (never moving
    existing lists) and make them immediately probe-able; a duplicate of
    the query vector appended under a new id must surface at the top."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    index = str(tmp_path / "ivf")
    cents = similarity.kmeans_centroids(base, n_centroids=8, n_iters=1)
    similarity.ivf_index_write(base, index, n_centroids=8, centroids=cents)
    before = spark.read.parquet(index + "/vectors").count()

    # append: vec_id>=400 plus an exact copy of vec 0 under id 999999
    clone = (emb.filter(F.col("vec_id") == 0)
             .select(F.lit(999999).alias("vec_id"), "embedding", "label"))
    extra = emb.filter(F.col("vec_id") >= 400).unionByName(clone)
    similarity.ivf_index_append(spark, extra, index)

    after = spark.read.parquet(index + "/vectors")
    assert after.count() == before + extra.count()   # strictly additive
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec"))
    top = similarity.ivf_probe_topk(spark, index, q, k=3, n_probe=2).collect()
    got = {r["vec_id"] for r in top[:2]}
    assert got == {0, 999999}                        # clone lands beside it
    assert abs(top[0]["cosine"] - 1.0) < 1e-9


def _probe_lists(spark, index, query_df, n_probe):
    cents = spark.read.parquet(index + "/centroids")
    probe = (cents.crossJoin(F.broadcast(query_df))
             .selectExpr("centroid_id",
                         f"{similarity.cosine_sql('c_vec', 'q_vec')} AS sim")
             .orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
             .limit(n_probe))
    return [r["centroid_id"] for r in probe.collect()]


def test_multimodal_fake_decode_plumbing(spark, sf_dir):
    d = load(spark, sf_dir, "documents").limit(50)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("data"))
    feats = multimodal.decode_images(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r["features"]) == 8 for r in rows)
    assert all(64 <= r["width"] <= 256 for r in rows)
    # deterministic: same payload -> same features
    again = {r["media_id"]: r["features"]
             for r in multimodal.decode_images(media, fake=True).collect()}
    assert all(again[r["media_id"]] == r["features"] for r in rows)

    frames = multimodal.sample_frames(media, every_n=2, fake=True)
    assert frames.count() >= 50                           # >=1 frame per doc

    meta = multimodal.media_metadata(media)
    m = meta.filter(F.col("media_id") == rows[0]["media_id"]).collect()[0]
    assert m["n_bytes"] == rows[0]["n_bytes"]


def test_multimodal_audio_plumbing(spark, sf_dir):
    d = load(spark, sf_dir, "documents").limit(20)
    media = d.select(F.col("doc_id").alias("media_id"),
                     F.encode("text", "UTF-8").alias("data"))
    rows = multimodal.decode_audio(media, fake=True).collect()
    assert len(rows) == 20
    assert all(len(r["mfcc"]) == 13 for r in rows)
    assert all(r["sample_rate"] in (8000, 16000, 22050, 44100) for r in rows)
    assert all(r["duration_s"] >= 0 for r in rows)


def _bmp_bytes(width, height, pixel_bytes):
    """Minimal 24bpp BITMAPINFOHEADER BMP."""
    import struct
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(pixel_bytes), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixel_bytes),
                         0, 0, 14 + 40)
    return header + dib + pixel_bytes


def _wav_bytes(rate, channels, samples):
    """Minimal PCM16 RIFF/WAVE with an extra LIST chunk (chunk-walk test)."""
    import struct
    pcm = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * 2, channels * 2, 16)
    chunks = (b"LIST" + struct.pack("<I", 4) + b"INFO"
              + b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(pcm)) + pcm)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_multimodal_real_bmp_ppm_decode(spark):
    """REAL image decode: BMP and PPM headers parsed in pure Python, with
    a pixel-histogram feature vector over the raster."""
    bmp = _bmp_bytes(4, 2, bytes(range(24)))           # 4x2, 24bpp
    ppm = b"P6\n# a comment\n3 5\n255\n" + bytes([200] * 45)
    rows = [(1, "image", bytearray(bmp)), (2, "image", bytearray(ppm))]
    media = spark.createDataFrame(
        rows, "media_id long, media_type string, data binary")
    out = {r["media_id"]: r for r in multimodal.decode_images(media).collect()}
    assert (out[1]["width"], out[1]["height"]) == (4, 2)
    assert (out[2]["width"], out[2]["height"]) == (3, 5)
    assert abs(sum(out[1]["features"]) - 1.0) < 1e-6   # histogram sums to 1
    assert out[2]["features"][6] == 1.0                # all-200 raster -> bin 6
    assert out[1]["n_bytes"] == len(bmp)


_png_bytes = multimodal.encode_png


def test_multimodal_real_png_decode(spark):
    """REAL PNG decode (pure zlib+numpy, no codec): every filter type
    (None/Sub/Up/Average/Paeth) must unfilter back to the exact source
    raster — asserted via the histogram features — and indexed PNGs
    expand through their palette."""
    import random
    rng = random.Random(42)
    w, h = 5, 5
    raster = bytes(rng.randrange(256) for _ in range(w * h * 3))
    png = _png_bytes(w, h, raster, ctype=2, filters=[0, 1, 2, 3, 4])
    # expected features = histogram of the SOURCE raster
    exp = multimodal._pixel_histogram(raster)

    # indexed: 2-entry palette, all-index-1 -> histogram of pal[1] bytes
    pal = bytes([0, 0, 0, 250, 250, 250])
    ipng = _png_bytes(3, 2, bytes([1] * 6), ctype=3,
                      filters=[0, 1], palette=pal)

    media = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(ipng))],
        "media_id long, data binary")
    import pytest
    out = {r["media_id"]: r for r in multimodal.decode_images(media).collect()}
    assert (out[1]["width"], out[1]["height"]) == (w, h)
    # FloatType truncates to float32 — compare with tolerance
    assert out[1]["features"] == pytest.approx(exp, abs=1e-6)
    assert (out[2]["width"], out[2]["height"]) == (3, 2)
    assert out[2]["features"][7] == 1.0        # all pixels 250 -> top bin

    # grayscale and RGBA color types round-trip too
    g = _png_bytes(4, 3, bytes(range(12)), ctype=0, filters=[4, 3, 1])
    rgba = _png_bytes(2, 2, bytes(range(16)), ctype=6, filters=[2, 4])
    media2 = spark.createDataFrame(
        [(3, bytearray(g)), (4, bytearray(rgba))],
        "media_id long, data binary")
    out2 = {r["media_id"]: r
            for r in multimodal.decode_images(media2).collect()}
    assert out2[3]["features"] == pytest.approx(
        multimodal._pixel_histogram(bytes(range(12))), abs=1e-6)
    assert out2[4]["features"] == pytest.approx(
        multimodal._pixel_histogram(bytes(range(16))), abs=1e-6)

    # Adam7-interlaced PNGs DECODE since r7 (property-tested round trip
    # in test_metrics_and_props); an unknown interlace method still
    # fails loudly, not wrongly
    ipng = _png_bytes(4, 3, bytes(range(36)), ctype=2, filters=[1, 4],
                      interlace=True)
    assert multimodal._parse_png(ipng) == (4, 3, bytes(range(36)))
    import struct as _st
    import zlib as _zl
    ihdr = _st.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 7)
    bad = (b"\x89PNG\r\n\x1a\n"
           + _st.pack(">I", len(ihdr)) + b"IHDR" + ihdr
           + _st.pack(">I", _zl.crc32(b"IHDR" + ihdr))
           + _st.pack(">I", 0) + b"IDAT" + _st.pack(">I", _zl.crc32(b"IDAT")))
    import pytest
    with pytest.raises(Exception, match="interlace"):
        multimodal._parse_png(bad)


def test_jpeg_codec_round_trip():
    """Pure-Python baseline JPEG codec (functions/jpeg.py): encode->decode
    must be dimensionally exact and pixel-close (JPEG is lossy; a smooth
    gradient at the spec's example quant tables stays within a few
    levels) across grayscale, 4:4:4, 4:2:0 subsampling, restart
    intervals, and non-multiple-of-8 dimensions. Spec constants are
    pinned independently: zigzag prefix and canonical Huffman DC codes
    from ITU-T T.81."""
    import numpy as np
    from amazon_kinesis_replay_spark.functions import jpeg

    # T.81 figure A.6 zigzag prefix; canonical DC-luma codes (K.3.1):
    # category 0 -> code 00 (2 bits), category 1 -> 010 (3 bits).
    assert jpeg._ZZ[:10] == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    dc = jpeg._build_encode_table(*jpeg._HUFF_DC_LUMA)
    assert dc[0] == (0b00, 2) and dc[1] == (0b010, 3)
    # DCT basis is orthonormal
    assert np.allclose(jpeg._DCT_T @ jpeg._DCT_T.T, np.eye(8), atol=1e-12)

    ys, xs = np.mgrid[0:13, 0:21]
    base = ((ys * 3 + xs * 5) % 256).astype(np.uint8)
    for gray, sub, ri in [(True, False, 0), (False, False, 0),
                          (False, True, 0), (False, False, 2),
                          (False, True, 1)]:
        nch = 1 if gray else 3
        img = np.stack([((base.astype(int) + 40 * c) % 256).astype(np.uint8)
                        for c in range(nch)], axis=-1)
        blob = jpeg.encode_jpeg(21, 13, img.tobytes(), gray=gray,
                                subsample=sub, restart_interval=ri)
        w, h, pix = jpeg.decode_jpeg(blob)
        assert (w, h) == (21, 13)
        dec = np.frombuffer(pix, np.uint8).reshape(13, 21, nch)
        err = np.abs(dec.astype(int) - img.astype(int)).mean()
        # wrap-around rows of the mod-256 gradient are the hard content;
        # subsampled chroma averages across the wrap, hence the loose cap
        assert err < (15 if sub else 6), (gray, sub, ri, err)


def test_jpeg_codec_failure_modes():
    """Unsupported/malformed JPEG streams raise loudly, never emit wrong
    pixels: progressive SOF2, truncated entropy data, non-JPEG magic."""
    import numpy as np
    import pytest
    from amazon_kinesis_replay_spark.functions import jpeg

    img = np.zeros((8, 8, 3), np.uint8)
    blob = jpeg.encode_jpeg(8, 8, img.tobytes())
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_jpeg(b"\x89PNG" + blob)
    # flip SOF0 -> SOF2: the stream becomes MALFORMED progressive (its
    # baseline full-range interleaved scan is illegal under SOF2 — a
    # progressive DC scan must have Se=0), so it still fails loudly
    sof = blob.find(b"\xff\xc0")
    with pytest.raises(ValueError, match="Se"):
        jpeg.decode_jpeg(blob[:sof + 1] + b"\xc2" + blob[sof + 2:])
    # genuinely unsupported frame types still gate: SOF3 lossless
    with pytest.raises(NotImplementedError, match="non-baseline"):
        jpeg.decode_jpeg(blob[:sof + 1] + b"\xc3" + blob[sof + 2:])
    # truncate mid-entropy-stream: reader exhausts mid-symbol (noise
    # content so the scan data vastly exceeds the single kept byte)
    rng = np.random.default_rng(3)
    noisy = jpeg.encode_jpeg(
        16, 16, rng.integers(0, 256, (16, 16, 3), np.uint8).tobytes())
    sos = noisy.find(b"\xff\xda")
    hdr_end = sos + 4 + 12          # marker+len + 3-component SOS body
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(noisy[:hdr_end + 1])


def test_jpeg_decodes_independent_libjpeg_file():
    """Cross-encoder witness: decode a JPEG produced by a REAL libjpeg
    (a stdlib test fixture present in this container), proving the
    decoder isn't merely inverting this repo's own encoder. Skipped when
    no system fixture exists."""
    import os

    import numpy as np
    import pytest
    from amazon_kinesis_replay_spark.functions.jpeg import decode_jpeg
    candidates = [
        f"/root/.pyenv/versions/{v}/lib/python{m}/test/test_email/"
        "data/python.jpg"
        for v, m in (("3.13.0", "3.13"), ("3.11.7", "3.11"))
    ] + ["/root/.pyenv/versions/3.7.16/lib/python3.7/test/imghdrdata/"
         "python.jpg"]
    path = next((c for c in candidates if os.path.exists(c)), None)
    if path is None:
        pytest.skip("no system libjpeg fixture available")
    w, h, pix = decode_jpeg(open(path, "rb").read())
    arr = np.frombuffer(pix, np.uint8)
    # the CPython test logo is 16x16 RGB with real structure
    assert (w, h) == (16, 16) and len(pix) == 16 * 16 * 3
    assert arr.std() > 20


def test_multimodal_real_jpeg_decode(spark):
    """REAL JPEG decode through the Spark decode_images path: synthesized
    baseline JPEGs (4:4:4 and 4:2:0+restart) decode inside the Arrow
    mapInPandas kernel; dimensions exact, histogram features close to the
    source raster's (lossy codec -> tolerance on the histogram mass)."""
    import numpy as np
    from amazon_kinesis_replay_spark.functions import jpeg

    ys, xs = np.mgrid[0:16, 0:16]
    raster = np.stack(
        [(((ys * 5 + xs * 7) % 256)).astype(np.uint8) for _ in range(3)],
        axis=-1)
    j444 = jpeg.encode_jpeg(16, 16, raster.tobytes())
    j420 = jpeg.encode_jpeg(16, 16, raster.tobytes(), subsample=True,
                            restart_interval=1)
    media = spark.createDataFrame(
        [(1, bytearray(j444)), (2, bytearray(j420))],
        "media_id long, data binary")
    out = {r["media_id"]: r for r in multimodal.decode_images(media).collect()}
    exp = multimodal._pixel_histogram(raster.tobytes())
    for mid in (1, 2):
        assert (out[mid]["width"], out[mid]["height"]) == (16, 16)
        got = out[mid]["features"]
        assert sum(abs(a - b) for a, b in zip(got, exp)) < 0.2, (mid, got)


def test_multimodal_real_wav_decode(spark):
    """REAL audio decode: RIFF chunk walk (extra LIST chunk present) +
    exact duration + FFT band energies of a pure tone."""
    import math
    rate, n = 8000, 8000                               # 1.0 s mono tone
    samples = [int(10000 * math.sin(2 * math.pi * 440 * i / rate))
               for i in range(n)]
    wav = _wav_bytes(rate, 1, samples)
    media = spark.createDataFrame([(7, bytearray(wav))],
                                  "media_id long, data binary")
    row = multimodal.decode_audio(media).collect()[0]
    assert row["sample_rate"] == 8000
    assert abs(row["duration_s"] - 1.0) < 1e-6
    assert len(row["mfcc"]) == 13
    # 440 Hz of a 0-4000 Hz spectrum lands in band 1 of 13; that band must
    # dominate the energy profile
    assert row["mfcc"].index(max(row["mfcc"])) == 1
    # deterministic
    again = multimodal.decode_audio(media).collect()[0]
    assert again["mfcc"] == row["mfcc"]


def _avi_bytes(frames, stream_id=b"00db"):
    """Minimal RIFF/AVI: hdrl LIST stub + movi LIST with frame chunks +
    a trailing idx1 chunk (walk-tolerance test)."""
    import struct

    def chunk(cid, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", b"\x00" * 56))
    movi_body = b"movi" + b"".join(chunk(stream_id, f) for f in frames)
    movi = chunk(b"LIST", movi_body)
    idx1 = chunk(b"idx1", b"\x00" * 16)
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_multimodal_real_avi_frame_sampling(spark):
    """REAL video frame sampling: the AVI chunk walk must find exactly
    the frame chunks (skipping hdrl/idx1), sample every_n-th, and hash
    the true frame bytes — including video muxed as stream 1 (audio
    first), whose chunks are '01db' not '00db'."""
    import hashlib
    frames = [bytes([i]) * (100 + i) for i in range(7)]   # 7 odd-sized frames
    for stream_id in (b"00db", b"01db"):
        avi = _avi_bytes(frames, stream_id)
        media = spark.createDataFrame([(3, bytearray(avi))],
                                      "media_id long, data binary")
        out = multimodal.sample_frames(media, every_n=2).collect()
        got = {r["frame_idx"]: r["frame_sha1"] for r in out}
        assert sorted(got) == [0, 2, 4, 6]
        for idx in got:
            assert got[idx] == hashlib.sha1(frames[idx]).hexdigest()


def test_multimodal_real_decode_is_gated(spark, sf_dir):
    """Compressed/unknown formats still fail loudly on the real path (no
    codec library installed) — not silently fake-decoded."""
    import pytest
    d = load(spark, sf_dir, "documents").limit(1)
    media = d.select(F.col("doc_id").alias("media_id"),
                     F.encode("text", "UTF-8").alias("data"))
    with pytest.raises(Exception, match="unsupported image magic"):
        multimodal.decode_images(media).collect()
    with pytest.raises(Exception, match="unsupported audio magic"):
        multimodal.decode_audio(media).collect()


def test_lang_id_ngram_profiles(spark, sf_dir):
    """Char-trigram language ID: the English fixture corpus must classify
    en; trigram-free noise and Germanic text with few English trigrams
    must not. Also agrees with the stopword heuristic on the corpus."""
    from amazon_kinesis_replay_spark.operators import text as textops
    d = load(spark, sf_dir, "documents").limit(100)
    out = d.select(
        "doc_id",
        F.expr(textops.lang_id_expr("text")).alias("stopword_pred"),
        textops.lang_id_ngram(F.col("text")).alias("ngram_pred"))
    rows = out.collect()
    en_ngram = sum(r["ngram_pred"] == "en" for r in rows)
    assert en_ngram >= 0.9 * len(rows)            # corpus is English
    agree = sum(r["ngram_pred"] == r["stopword_pred"] for r in rows)
    assert agree >= 0.9 * len(rows)

    crafted = spark.createDataFrame(
        [(1, "zzqq xxvv kjkj qqzz wwxx yyzz"),
         (2, "the cat is on the mat and the dog is in the house"),
         (3, "strasse zahnarzt pfplatz krzywy mózg żółw")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["pred"] for r in crafted.select(
        "doc_id",
        textops.lang_id_ngram(F.col("text")).alias("pred")).collect()}
    assert got[1] == "unknown"
    assert got[2] == "en"
    assert got[3] == "unknown"


def test_bpe_pretoken_count(spark):
    """GPT-2-style pre-tokenizer counts, pinned against a Python `regex`
    reference run of the identical pattern (contractions split, space
    prefix binds to the following piece, punctuation runs, empty = 0)."""
    from amazon_kinesis_replay_spark.operators import text as textops
    samples = [
        (0, "the cat's mat, isn't it 42 times?", 11),
        (1, "  hello   world  ", 5),
        (2, "a", 1),
        (3, "", 0),
        (4, "don't stop 123abc !!", 6),
    ]
    df = spark.createDataFrame([(i, s) for i, s, _ in samples],
                               "i long, t string")
    got = {r["i"]: r["n"] for r in df.select(
        "i", textops.bpe_pretoken_count(F.col("t")).alias("n")).collect()}
    assert got == {i: n for i, _, n in samples}


def test_pii_redact_crafted_strings(spark):
    """The corpus has no natural PII, so behavior is pinned here: emails,
    IPv4s, and phone-like runs are replaced by typed placeholders with
    correct per-kind counts; clean text passes through untouched."""
    from amazon_kinesis_replay_spark.operators import text as textops
    rows = [
        (1, "contact bob.smith+x@example.co.uk or alice@ex.org today"),
        (2, "server at 10.0.255.3 answered"),
        (3, "call +1 (415) 555-0199 now"),
        (4, "no pii here at all"),
        (5, "mix: a@b.io from 192.168.1.1 dial 555-867-5309 ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textops.pii_redact(df, "doc_id", "text").collect()}
    assert out[1]["clean_text"] == "contact <EMAIL> or <EMAIL> today"
    assert out[1]["n_emails"] == 2 and out[1]["n_redactions"] == 2
    assert out[2]["clean_text"] == "server at <IP> answered"
    assert out[2]["n_ips"] == 1
    assert out[3]["clean_text"] == "call <PHONE> now"
    assert out[3]["n_phones"] == 1
    assert out[4]["clean_text"] == "no pii here at all"
    assert out[4]["n_redactions"] == 0
    assert out[5]["clean_text"] == "mix: <EMAIL> from <IP> dial <PHONE> ok"
    assert (out[5]["n_emails"], out[5]["n_ips"], out[5]["n_phones"]) == (1, 1, 1)


# --------------------------------------------------------------------------
# GIF codec + MJPEG frame decode
# --------------------------------------------------------------------------


def test_gif_codec_round_trip():
    """decode(encode(x)) == x for the LZW layer (through table growth and
    the 12-bit/4096-entry freeze) and the full container — non-interlaced,
    interlaced, and transparent variants — plus loud failure modes."""
    import random

    import pytest
    from amazon_kinesis_replay_spark.functions.gif import (
        _lzw_decode, _lzw_encode, decode_gif, encode_gif)

    rng = random.Random(7)
    for n in (1, 10, 1000, 80000):        # 80k forces the table freeze
        for alpha in (2, 17, 256):
            idx = bytes(rng.randrange(alpha) for _ in range(n))
            mcs = max(2, (alpha - 1).bit_length())
            assert _lzw_decode(mcs, _lzw_encode(mcs, idx), n) == idx

    pal = bytes(range(48))                 # 16 colors
    for interlace in (False, True):
        idx = bytes(rng.randrange(16) for _ in range(20 * 13))
        w, h, rgb = decode_gif(encode_gif(20, 13, idx, pal,
                                          interlace=interlace))
        assert (w, h) == (20, 13)
        assert rgb == b"".join(pal[3 * c:3 * c + 3] for c in idx)

    # transparent pixels show the background (palette entry 0)
    idx = bytes([1, 2, 3, 2] * 25)
    _, _, rgb = decode_gif(encode_gif(10, 10, idx, pal, transparent_idx=2))
    assert rgb == b"".join(pal[0:3] if c == 2 else pal[3 * c:3 * c + 3]
                           for c in idx)

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOPE")
    whole = encode_gif(4, 4, bytes(16), pal)
    with pytest.raises(ValueError, match="truncated|trunc|no image"):
        decode_gif(whole[:20])
    with pytest.raises(ValueError, match="palette"):
        encode_gif(2, 2, bytes(4), b"\x00" * 9)    # 3 colors: not a power of 2


def test_gif_decodes_foreign_encoder_files():
    """Cross-encoder witness: decode GIFs produced by REAL encoders
    (CPython test/idlelib fixtures), and cross-CODEC witness: CPython
    ships the same 16x16 logo as python.gif and python.jpg — this repo's
    independent GIF and JPEG decoders must produce strongly correlated
    rasters."""
    import glob
    import os

    import numpy as np
    import pytest
    from amazon_kinesis_replay_spark.functions.gif import decode_gif

    roots = glob.glob("/root/.pyenv/versions/3.1*/lib/python3.1*")
    fixtures = sorted(
        p for r in roots
        for p in glob.glob(f"{r}/idlelib/Icons/*.gif")
        + glob.glob(f"{r}/test/**/*.gif", recursive=True))
    if not fixtures:
        pytest.skip("no system GIF fixtures available")
    decoded = 0
    for p in fixtures[:10]:
        w, h, rgb = decode_gif(open(p, "rb").read())
        assert w > 0 and h > 0 and len(rgb) == w * h * 3
        decoded += 1
    assert decoded >= 1

    jpg = next((p for r in roots for p in
                glob.glob(f"{r}/test/**/python.jpg", recursive=True)), None)
    gif = next((p for p in fixtures if p.endswith("python.gif")), None)
    if jpg and gif and os.path.exists(jpg):
        from amazon_kinesis_replay_spark.functions.jpeg import decode_jpeg
        wg, hg, pg = decode_gif(open(gif, "rb").read())
        wj, hj, pj = decode_jpeg(open(jpg, "rb").read())
        assert (wg, hg) == (wj, hj) == (16, 16)
        a = np.frombuffer(pg, np.uint8).astype(int)
        b = np.frombuffer(pj, np.uint8).astype(int)
        assert np.corrcoef(a, b)[0, 1] > 0.85


def test_multimodal_real_gif_decode(spark):
    """REAL GIF decode through the Spark gate: LZW + deinterlace recover
    the exact source raster (asserted via histogram features), and the
    three-codec synthesis mix routes every media_id to a decodable
    payload."""
    import pytest
    from amazon_kinesis_replay_spark.functions.gif import encode_gif

    pal = multimodal._GIF_PALETTE
    idx = bytes(range(64))
    rgb = b"".join(pal[3 * c:3 * c + 3] for c in idx)
    exp = multimodal._pixel_histogram(rgb)
    media = spark.createDataFrame(
        [(1, bytearray(encode_gif(8, 8, idx, pal))),
         (2, bytearray(encode_gif(8, 8, idx, pal, interlace=True)))],
        "media_id long, data binary")
    out = {r["media_id"]: r for r in multimodal.decode_images(media).collect()}
    for mid in (1, 2):
        assert (out[mid]["width"], out[mid]["height"]) == (8, 8)
        assert out[mid]["features"] == pytest.approx(exp, abs=1e-6)

    # the mixed synthesis covers all eight codec modes and every
    # payload decodes; mode 6 (lossy VP8) carries its fixture's dims
    src = spark.range(16).select(
        F.col("id").alias("media_id"),
        F.encode(F.concat(F.lit("payload "), F.col("id")), "UTF-8")
        .alias("data"))
    mixed = multimodal.synthesize_image_media(src)
    decoded = {r["media_id"]: r
               for r in multimodal.decode_images(mixed).collect()}
    assert len(decoded) == 16
    for mid, r in decoded.items():
        if mid % 8 == 6:
            exp = multimodal._VP8_FIXTURE_DIMS[(mid // 8) % 3]
        else:
            exp = (8, 8)
        assert (r["width"], r["height"]) == exp, mid


def _libwebp():
    """ctypes handle to the container's libwebp (the NORMATIVE WebP
    implementation) — the foreign witness for functions/webp.py. Skips
    the calling test if absent."""
    import ctypes

    import pytest
    try:
        L = ctypes.CDLL("libwebp.so.7")
    except OSError:
        pytest.skip("libwebp.so.7 not available")
    L.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_ubyte)
    L.WebPDecodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
    L.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
    L.WebPEncodeLosslessRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte))]
    L.WebPEncodeRGBA.restype = ctypes.c_size_t
    L.WebPEncodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float,
        ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte))]
    L.WebPFree.argtypes = [ctypes.c_void_p]

    def dec(blob):
        w = ctypes.c_int()
        h = ctypes.c_int()
        p = L.WebPDecodeRGBA(blob, len(blob), ctypes.byref(w),
                             ctypes.byref(h))
        if not p:
            return None
        out = bytes(ctypes.cast(
            p, ctypes.POINTER(ctypes.c_ubyte
                              * (w.value * h.value * 4))).contents)
        L.WebPFree(p)
        return w.value, h.value, out

    def enc(rgba, w, h, lossless=True, quality=75.0):
        out = ctypes.POINTER(ctypes.c_ubyte)()
        if lossless:
            n = L.WebPEncodeLosslessRGBA(rgba, w, h, w * 4,
                                         ctypes.byref(out))
        else:
            n = L.WebPEncodeRGBA(rgba, w, h, w * 4,
                                 ctypes.c_float(quality),
                                 ctypes.byref(out))
        assert n > 0
        blob = bytes(ctypes.cast(
            out, ctypes.POINTER(ctypes.c_ubyte * n)).contents)
        L.WebPFree(out)
        return blob

    return enc, dec


def _webp_corpus(seed=42, n=27, wmax=80):
    """Seeded content classes chosen to make libwebp's encoder exercise
    every VP8L feature: noise (literals), gradients (predictor +
    cross-color), few-color (palette incl. packed indices), constant
    (LZ77), repeated rows (long backrefs), translucent (alpha +
    cache)."""
    import math
    import os
    import random
    rng = random.Random(seed)
    for trial in range(n):
        # the last two trials are large translucent gradients at sizes
        # where libwebp reaches for meta-Huffman groups (measured; the
        # coverage assertion below keeps this pinned)
        big = trial >= n - 2
        if big:
            w, h = (108, 160) if trial == n - 2 else (123, 112)
            mode = 5
        else:
            w = rng.randint(1, wmax)
            h = rng.randint(1, wmax)
            mode = trial % 6
        rgba = bytearray(w * h * 4)
        if mode == 0:
            rgba = bytearray(os.urandom(w * h * 4))
        elif mode == 1:
            for y in range(h):
                for x in range(w):
                    i = 4 * (y * w + x)
                    rgba[i:i + 4] = bytes((
                        int(120 + 100 * math.sin(x / 9)) & 255,
                        (y * 5) & 255, (x + y) & 255, 255))
        elif mode == 2:
            cols = [os.urandom(3) + b"\xff" for _ in range(12)]
            for i in range(w * h):
                rgba[4 * i:4 * i + 4] = cols[(i * 7 + i // w) % 12]
        elif mode == 3:
            rgba = bytearray(bytes((10, 200, 30, 255)) * (w * h))
        elif mode == 4:
            row = os.urandom(w * 4)
            rgba = bytearray(row * h)
        else:
            for y in range(h):
                for x in range(w):
                    i = 4 * (y * w + x)
                    rgba[i:i + 4] = bytes(((x * 2) & 255, (y * 2) & 255,
                                           (x + y) & 255,
                                           (x * y) % 256))
        if mode != 5:
            for i in range(3, len(rgba), 4):
                rgba[i] = 255
        yield trial, w, h, bytes(rgba)


def test_webp_vp8l_decode_matches_libwebp_bidirectional():
    """The WebP witness, both directions, byte-exact:

    1. libwebp-ENCODED streams (default effort — predictor +
       cross-color + palette + color-cache + meta-Huffman + LZ77 all
       active, asserted below so coverage cannot silently narrow)
       decode byte-identical through functions/webp.py to libwebp's
       own RGBA output;
    2. streams from this module's minimal encoder decode byte-identical
       through libwebp (the normative decoder accepts our bitstream).

    Transparent pixels compare against libwebp's DECODE (the encoder's
    default exact=0 cleanup may alter RGB under alpha=0 — that is
    encoder freedom, not decoder disagreement)."""
    import os
    import random
    import struct

    import amazon_kinesis_replay_spark.functions.webp as W

    enc, dec = _libwebp()

    def stream_features(blob):
        i = 12
        while True:
            fourcc = blob[i:i + 4]
            csz = struct.unpack_from("<I", blob, i + 4)[0]
            if fourcc == b"VP8L":
                body = blob[i + 8:i + 8 + csz]
                break
            i += 8 + csz + (csz & 1)
        br = W._BitReader(body[1:])
        ww = br.bits(14) + 1
        hh = br.bits(14) + 1
        br.bit()
        br.bits(3)
        ts = []
        while br.bit():
            t = br.bits(2)
            ts.append(t)
            if t in (0, 1):
                sb = br.bits(3) + 2
                W._decode_image(br, W._div_round_up(ww, sb),
                                W._div_round_up(hh, sb))
            elif t == 3:
                n = br.bits(8) + 1
                W._decode_image(br, n, 1)
                wb = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
                ww = W._div_round_up(ww, wb)
        cache = br.bits(4) if br.bit() else 0
        meta = br.bit()
        return ts, cache, meta

    seen = set()
    for trial, w, h, rgba in _webp_corpus():
        blob = enc(rgba, w, h)
        ref = dec(blob)
        got = W.decode_webp(blob)
        assert got[0:2] == (w, h) == ref[0:2]
        assert got[2] == ref[2], f"trial {trial} ({w}x{h})"
        ts, cache, meta = stream_features(blob)
        seen.update(f"t{t}" for t in ts)
        if cache:
            seen.add("cache")
        if meta:
            seen.add("meta")
    assert {"t0", "t1", "t3", "cache", "meta"} <= seen, seen

    rng = random.Random(9)
    for _ in range(8):
        w = rng.randint(1, 24)
        h = rng.randint(1, 24)
        rgba = os.urandom(w * h * 4)
        blob = W.encode_webp_lossless(w, h, rgba)
        ref = dec(blob)
        assert ref is not None and ref[0:2] == (w, h)
        assert ref[2] == rgba
        assert W.decode_webp(blob)[2] == rgba


def test_webp_distance_map_matches_libwebp():
    """Re-derive the 120-entry LZ77 distance map EMPIRICALLY from
    libwebp (the extraction that produced _DIST_MAP, frozen as a test):
    for each plane code, a crafted single-backref stream at two widths
    reveals (dx, dy) through the normative decoder — any table drift or
    transcription error fails here."""
    import struct

    import amazon_kinesis_replay_spark.functions.webp as W

    _enc, dec = _libwebp()
    bwc = W._BitWriter

    def write_green_257(bw):
        bw.put(0, 1)
        bw.put(13 - 4, 4)
        for pos in range(13):
            bw.put(1 if pos in (11, 12) else 0, 3)
        bw.put(1, 1)
        bw.put(3, 3)
        bw.put(255, 8)
        for _ in range(255):
            bw.put_code(0, 1)
        bw.put_code(1, 1)
        bw.put_code(1, 1)

    def g_code(sym):
        return (sym, 8) if sym < 255 else (510 + (sym - 255), 9)

    def prefix_encode(v):
        if v <= 4:
            return v - 1, 0, 0
        vv = v - 1
        hb = vv.bit_length() - 1
        second = (vv >> (hb - 1)) & 1
        return (2 * hb + second, vv - ((2 + second) << (hb - 1)),
                hb - 1)

    def probe(width, height, px_, py_, plane):
        pidx = py_ * width + px_
        sym, rest, eb = prefix_encode(plane)
        bw = bwc()
        bw.put(width - 1, 14)
        bw.put(height - 1, 14)
        bw.put(0, 1)
        bw.put(0, 3)
        bw.put(0, 1)
        bw.put(0, 1)
        bw.put(0, 1)
        write_green_257(bw)
        for _ in range(3):
            W._write_fixed8_code(bw)
        W._write_single_symbol_code(bw, sym)
        for i in range(width * height):
            if i == pidx:
                c, ln = g_code(256)      # length-1 backref
                bw.put_code(c, ln)
                bw.put(rest, eb)
                continue
            r, g, b = i & 0xFF, (i >> 8) & 0xFF, (i * 7) & 0xFF
            c, ln = g_code(g)
            bw.put_code(c, ln)
            bw.put_code(r, 8)
            bw.put_code(b, 8)
            bw.put_code(255, 8)
        payload = b"\x2f" + bw.done()
        chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            chunk += b"\x00"
        blob = (b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP"
                + chunk)
        got = dec(blob)
        assert got is not None, plane
        out = got[2]
        pix = out[pidx * 4:pidx * 4 + 4]
        src = None
        for i in range(width * height):
            if i == pidx:
                continue
            cand = bytes((i & 0xFF, (i >> 8) & 0xFF, (i * 7) & 0xFF,
                          255))
            if cand == pix:
                assert src is None
                src = i
        assert src is not None, plane
        return pidx - src

    derived = []
    for plane in range(1, 121):
        d16 = probe(16, 18, 8, 9, plane)
        d24 = probe(24, 18, 12, 9, plane)
        dy, rem = divmod(d24 - d16, 8)
        assert rem == 0, plane
        derived.append((d16 - 16 * dy, dy))
    assert tuple(derived) == W._DIST_MAP


def test_webp_subtract_green_and_malformed():
    """The one VP8L feature libwebp's default encoder never emits
    (cross-color subsumes it): a handcrafted SUBTRACT_GREEN stream must
    decode identically through libwebp and functions/webp.py. Plus the
    malformed contract: truncation/bad magic raise WebPError, lossy
    'VP8 ' raises NotImplementedError."""
    import os
    import struct

    import pytest

    import amazon_kinesis_replay_spark.functions.webp as W

    enc, dec = _libwebp()

    w, h = 9, 5
    bw = W._BitWriter()
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(1, 1)                        # transform present
    bw.put(2, 2)                        # SUBTRACT_GREEN
    bw.put(0, 1)                        # no more transforms
    bw.put(0, 1)                        # no color cache
    bw.put(0, 1)                        # no meta-huffman
    for _ in range(4):
        W._write_fixed8_code(bw)
    W._write_single_symbol_code(bw, 0)
    rng = bytearray(os.urandom(w * h * 4))
    for i in range(w * h):
        g, r, b, a = rng[4 * i:4 * i + 4]
        bw.put_code(g, 8)
        bw.put_code(r, 8)
        bw.put_code(b, 8)
        bw.put_code(255, 8)
    payload = b"\x2f" + bw.done()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    blob = (b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP"
            + chunk)
    ref = dec(blob)
    got = W.decode_webp(blob)
    assert ref is not None and got[0:2] == (w, h) == ref[0:2]
    assert got[2] == ref[2]
    # subtract-green really fired: green added into r/b somewhere
    assert any(got[2][4 * i] != rng[4 * i + 1] for i in range(w * h))

    good = W.encode_webp_lossless(4, 4, os.urandom(64))
    with pytest.raises(W.WebPError):
        W.decode_webp(good[:30])
    with pytest.raises(W.WebPError):
        W.decode_webp(b"RIFF\x00\x00\x00\x00WAVE")
    # lossy VP8 now decodes natively (functions/vp8.py) — returns RGB,
    # RGBA when an ALPH plane rides along
    lossy = enc(bytes(range(64)) * 4, 8, 8, lossless=False)
    lw, lh, lpx = W.decode_webp(lossy)
    assert (lw, lh) == (8, 8) and len(lpx) in (8 * 8 * 3, 8 * 8 * 4)


def _libwebp_yuv():
    """WebPDecodeYUV via ctypes — the normative VP8 decoder's plane
    output (the RFC-defined surface, free of any RGB conversion)."""
    import ctypes

    import pytest
    try:
        L = ctypes.CDLL("libwebp.so.7")
    except OSError:
        pytest.skip("libwebp.so.7 not available")
    L.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_ubyte)
    L.WebPDecodeYUV.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
        ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
        ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
    L.WebPFree.argtypes = [ctypes.c_void_p]

    def dec_yuv(blob):
        w = ctypes.c_int()
        h = ctypes.c_int()
        u = ctypes.POINTER(ctypes.c_ubyte)()
        v = ctypes.POINTER(ctypes.c_ubyte)()
        stride = ctypes.c_int()
        uv_stride = ctypes.c_int()
        y = L.WebPDecodeYUV(blob, len(blob), ctypes.byref(w),
                            ctypes.byref(h), ctypes.byref(u),
                            ctypes.byref(v), ctypes.byref(stride),
                            ctypes.byref(uv_stride))
        assert y
        W, H, S, US = w.value, h.value, stride.value, uv_stride.value
        cw, ch2 = (W + 1) // 2, (H + 1) // 2

        def crop(ptr, st, ww, hh):
            buf = bytes(ctypes.cast(
                ptr, ctypes.POINTER(ctypes.c_ubyte * (st * hh))).contents)
            return b"".join(buf[r * st:r * st + ww] for r in range(hh))

        out = (W, H, crop(y, S, W, H), crop(u, US, cw, ch2),
               crop(v, US, cw, ch2))
        L.WebPFree(y)
        return out

    return dec_yuv


def _libwebp_encoder():
    """Advanced libwebp lossy encoder via ctypes (ABI 0x020f) — exposes
    the WebPConfig knobs (partitions, filter_type, sharpness, segments,
    autofilter, method) so the decoder witness can force every header
    feature libwebp's simple API never emits."""
    import ctypes

    import pytest
    try:
        L = ctypes.CDLL("libwebp.so.7")
    except OSError:
        pytest.skip("libwebp.so.7 not available")
    if L.WebPGetEncoderVersion() >> 8 != 0x102:
        pytest.skip("struct layouts pinned to libwebp 1.2.x")

    class Config(ctypes.Structure):
        _fields_ = [("lossless", ctypes.c_int),
                    ("quality", ctypes.c_float),
                    ("method", ctypes.c_int), ("image_hint", ctypes.c_int),
                    ("target_size", ctypes.c_int),
                    ("target_PSNR", ctypes.c_float),
                    ("segments", ctypes.c_int),
                    ("sns_strength", ctypes.c_int),
                    ("filter_strength", ctypes.c_int),
                    ("filter_sharpness", ctypes.c_int),
                    ("filter_type", ctypes.c_int),
                    ("autofilter", ctypes.c_int),
                    ("alpha_compression", ctypes.c_int),
                    ("alpha_filtering", ctypes.c_int),
                    ("alpha_quality", ctypes.c_int),
                    ("pass_", ctypes.c_int),
                    ("show_compressed", ctypes.c_int),
                    ("preprocessing", ctypes.c_int),
                    ("partitions", ctypes.c_int),
                    ("partition_limit", ctypes.c_int),
                    ("emulate_jpeg_size", ctypes.c_int),
                    ("thread_level", ctypes.c_int),
                    ("low_memory", ctypes.c_int),
                    ("near_lossless", ctypes.c_int),
                    ("exact", ctypes.c_int),
                    ("use_delta_palette", ctypes.c_int),
                    ("use_sharp_yuv", ctypes.c_int),
                    ("qmin", ctypes.c_int), ("qmax", ctypes.c_int)]

    class MemoryWriter(ctypes.Structure):
        _fields_ = [("mem", ctypes.POINTER(ctypes.c_ubyte)),
                    ("size", ctypes.c_size_t),
                    ("max_size", ctypes.c_size_t),
                    ("pad", ctypes.c_uint32 * 1)]

    class Picture(ctypes.Structure):
        # includes the PRIVATE tail fields (memory_/memory_argb_/pad8):
        # the library writes them, so omitting them corrupts the stack
        _fields_ = [("use_argb", ctypes.c_int),
                    ("colorspace", ctypes.c_int),
                    ("width", ctypes.c_int), ("height", ctypes.c_int),
                    ("y", ctypes.POINTER(ctypes.c_ubyte)),
                    ("u", ctypes.POINTER(ctypes.c_ubyte)),
                    ("v", ctypes.POINTER(ctypes.c_ubyte)),
                    ("y_stride", ctypes.c_int),
                    ("uv_stride", ctypes.c_int),
                    ("a", ctypes.POINTER(ctypes.c_ubyte)),
                    ("a_stride", ctypes.c_int),
                    ("pad1", ctypes.c_uint32 * 2),
                    ("argb", ctypes.POINTER(ctypes.c_uint32)),
                    ("argb_stride", ctypes.c_int),
                    ("pad2", ctypes.c_uint32 * 3),
                    ("writer", ctypes.c_void_p),
                    ("custom_ptr", ctypes.c_void_p),
                    ("extra_info_type", ctypes.c_int),
                    ("extra_info", ctypes.POINTER(ctypes.c_ubyte)),
                    ("stats", ctypes.c_void_p),
                    ("error_code", ctypes.c_int),
                    ("progress_hook", ctypes.c_void_p),
                    ("user_data", ctypes.c_void_p),
                    ("pad3", ctypes.c_uint32 * 3),
                    ("pad4", ctypes.POINTER(ctypes.c_ubyte)),
                    ("pad5", ctypes.POINTER(ctypes.c_ubyte)),
                    ("pad6", ctypes.c_uint32 * 8),
                    ("pad7", ctypes.c_void_p),
                    ("memory_", ctypes.c_void_p),
                    ("memory_argb_", ctypes.c_void_p),
                    ("pad8", ctypes.c_void_p * 2)]

    L.WebPConfigInitInternal.restype = ctypes.c_int
    L.WebPConfigInitInternal.argtypes = [
        ctypes.POINTER(Config), ctypes.c_int, ctypes.c_float,
        ctypes.c_int]
    L.WebPValidateConfig.restype = ctypes.c_int
    L.WebPValidateConfig.argtypes = [ctypes.POINTER(Config)]
    L.WebPPictureInitInternal.restype = ctypes.c_int
    L.WebPPictureInitInternal.argtypes = [ctypes.POINTER(Picture),
                                          ctypes.c_int]
    L.WebPPictureImportRGBA.restype = ctypes.c_int
    L.WebPPictureImportRGBA.argtypes = [ctypes.POINTER(Picture),
                                        ctypes.c_char_p, ctypes.c_int]
    L.WebPEncode.restype = ctypes.c_int
    L.WebPEncode.argtypes = [ctypes.POINTER(Config),
                             ctypes.POINTER(Picture)]
    L.WebPMemoryWriterInit.argtypes = [ctypes.POINTER(MemoryWriter)]
    L.WebPMemoryWriterClear.argtypes = [ctypes.POINTER(MemoryWriter)]
    L.WebPPictureFree.argtypes = [ctypes.POINTER(Picture)]
    ABI = 0x020F

    def enc(rgba, w, h, quality=75.0, **kw):
        cfg = Config()
        assert L.WebPConfigInitInternal(ctypes.byref(cfg), 0,
                                        ctypes.c_float(quality), ABI)
        for k, vv in kw.items():
            setattr(cfg, k, vv)
        assert L.WebPValidateConfig(ctypes.byref(cfg)), kw
        pic = Picture()
        assert L.WebPPictureInitInternal(ctypes.byref(pic), ABI)
        pic.width = w
        pic.height = h
        pic.use_argb = 0
        assert L.WebPPictureImportRGBA(ctypes.byref(pic), rgba, w * 4)
        wrt = MemoryWriter()
        L.WebPMemoryWriterInit(ctypes.byref(wrt))
        pic.writer = ctypes.cast(L.WebPMemoryWrite, ctypes.c_void_p)
        pic.custom_ptr = ctypes.cast(ctypes.byref(wrt), ctypes.c_void_p)
        ok = L.WebPEncode(ctypes.byref(cfg), ctypes.byref(pic))
        assert ok, f"encode failed: error_code={pic.error_code}"
        blob = bytes(ctypes.cast(
            wrt.mem, ctypes.POINTER(ctypes.c_ubyte * wrt.size)).contents)
        L.WebPMemoryWriterClear(ctypes.byref(wrt))
        L.WebPPictureFree(ctypes.byref(pic))
        return blob

    return enc


def _vp8_raster(w, h, mode, rng):
    import math
    rgba = bytearray(w * h * 4)
    for y in range(h):
        for x in range(w):
            i = 4 * (y * w + x)
            if mode == 0:                        # smooth tone
                rgba[i:i + 4] = bytes((
                    int(128 + 100 * math.sin(x / 5)) & 255,
                    int(128 + 100 * math.sin(y / 7)) & 255,
                    int(128 + 80 * math.sin((x + y) / 11)) & 255, 255))
            elif mode == 1:                      # noise
                rgba[i:i + 4] = bytes((rng.randrange(256),) * 3 + (255,))
            elif mode == 2:                      # gradients
                rgba[i:i + 4] = bytes(((x * 9) & 255, (y * 9) & 255,
                                       (x * y) & 255, 255))
            else:                                # hard blocks
                v = 200 if (x // 8 + y // 8) % 2 else 30
                rgba[i:i + 4] = bytes((v,) * 3 + (255,))
    return bytes(rgba)


def test_vp8_lossy_decode_matches_libwebp_yuv():
    """Lossy WebP (VP8 keyframe) witness: across a seeded corpus of
    sizes (1x1 to ~180, odd dims), qualities 0..100 and four content
    classes, functions/vp8.py must reproduce libwebp's decoded Y/U/V
    planes BYTE-EXACT — header parse, boolean decoder, mode trees,
    token decode, dequant, intra prediction, IWHT/IDCT and the full
    normal loop filter all have to be right for even one image to
    match."""
    import random

    from amazon_kinesis_replay_spark.functions.webp import decode_webp_yuv

    dec_yuv = _libwebp_yuv()
    enc, _dec = _libwebp()
    rng = random.Random(11)
    for trial in range(24):
        w = rng.randint(1, 180)
        h = rng.randint(1, 180)
        q = rng.choice([0, 5, 25, 50, 75, 90, 100])
        rgba = _vp8_raster(w, h, trial % 4, rng)
        blob = enc(rgba, w, h, lossless=False, quality=float(q))
        ref = dec_yuv(blob)
        got = decode_webp_yuv(blob)
        assert got[0:2] == ref[0:2], (trial, w, h, q)
        assert got[2] == ref[2] and got[3] == ref[3] \
            and got[4] == ref[4], (trial, w, h, q)


def test_vp8_decode_header_knob_matrix_matches_libwebp():
    """Force every VP8 header feature the simple encoder API never
    emits — token partitions 2/4/8, the SIMPLE filter type, filter
    sharpness, autofilter, 1..4 segments with strong SNS, methods 0/6,
    filter_strength 0 (filter disabled) — and require byte-exact YUV
    against libwebp for each."""
    import random

    from amazon_kinesis_replay_spark.functions.webp import decode_webp_yuv

    enc = _libwebp_encoder()
    dec_yuv = _libwebp_yuv()
    rng = random.Random(3)
    rgba = _vp8_raster(96, 80, 0, rng)
    for kw in (dict(partitions=1), dict(partitions=2), dict(partitions=3),
               dict(filter_type=0), dict(filter_type=0, partitions=2),
               dict(filter_sharpness=5), dict(filter_sharpness=7),
               dict(autofilter=1), dict(segments=1),
               dict(segments=2, sns_strength=90),
               dict(segments=4, sns_strength=100),
               dict(method=0), dict(method=6), dict(filter_strength=0)):
        blob = enc(rgba, 96, 80, quality=60.0, **kw)
        ref = dec_yuv(blob)
        got = decode_webp_yuv(blob)
        assert got[0:2] == ref[0:2], kw
        assert got[2:] == ref[2:], kw


def test_vp8_lossy_rides_image_decode_and_malformed():
    """Wiring + contract: a lossy WebP decodes through _decode_pixels
    (RGB via the documented BT.601 kernel over the witnessed YUV);
    malformed streams raise VP8Error; an interframe tag raises; and
    lossy-with-alpha decodes — the ALPH plane (headerless VP8L stream
    + row filter, functions/webp.py decode_alpha) byte-equal to the A
    channel of libwebp's own RGBA decode."""
    import numpy as np
    import pytest

    from amazon_kinesis_replay_spark.functions import webp as W
    from amazon_kinesis_replay_spark.functions.vp8 import (VP8Error,
                                                           decode_vp8)
    from amazon_kinesis_replay_spark.operators.multimodal import (
        _decode_pixels)

    enc, _dec = _libwebp()
    import random
    rgba = _vp8_raster(40, 24, 2, random.Random(1))
    blob = enc(rgba, 40, 24, lossless=False)
    w, h, px = _decode_pixels(blob)
    assert (w, h, len(px)) == (40, 24, 40 * 24 * 3)
    yw, yh, Y, U, Vp = W.decode_webp_yuv(blob)
    assert px == W._yuv420_to_rgb(yw, yh, Y, U, Vp)
    ya = np.frombuffer(Y, np.uint8)
    assert ya.std() > 1                          # real content decoded

    i = blob.find(b"VP8 ") + 8
    with pytest.raises(VP8Error, match="keyframe"):
        decode_vp8(bytes([blob[i] | 1]) + blob[i + 1:])
    with pytest.raises(VP8Error):
        decode_vp8(blob[i:i + 12])
    with pytest.raises(VP8Error, match="start code"):
        decode_vp8(blob[i:i + 3] + b"\x00\x01\x2a" + blob[i + 6:])

    # lossy + alpha: the ALPH plane (headerless VP8L stream + row
    # filter) must match the A channel of libwebp's own RGBA decode
    # byte-exact, across alpha content classes that make the encoder
    # pick different row filters (header coverage asserted)
    import math
    import random as _r
    rng2 = _r.Random(2)
    filters_seen = set()
    methods_seen = set()
    for trial in range(6):
        aw = rng2.randint(8, 80)
        ah = rng2.randint(8, 80)
        rgba_a = bytearray(_vp8_raster(aw, ah, 0, rng2))
        for yy in range(ah):
            for xx in range(aw):
                k = 4 * (yy * aw + xx) + 3
                if trial % 3 == 0:
                    rgba_a[k] = (xx * 8 + yy) & 255
                elif trial % 3 == 1:
                    rgba_a[k] = rng2.randrange(256)
                else:
                    rgba_a[k] = 255 if (xx // 4 + yy // 4) % 2 else 40
        blob_a = enc(bytes(rgba_a), aw, ah, lossless=False)
        assert b"ALPH" in blob_a
        i_a = blob_a.find(b"ALPH") + 8
        methods_seen.add(blob_a[i_a] & 3)
        filters_seen.add((blob_a[i_a] >> 2) & 3)
        ref_a = _dec(blob_a)
        Wd, Hd, px_a = W.decode_webp(blob_a)
        assert (Wd, Hd) == (aw, ah) and len(px_a) == aw * ah * 4
        assert px_a[3::4] == ref_a[2][3::4], trial
    assert 1 in methods_seen                     # VP8L-coded plane hit
    assert len(filters_seen) >= 2                # >1 row filter hit


def _libpng():
    """ctypes harness for libpng16's SIMPLIFIED API (no setjmp needed
    from the caller) — the foreign witness for the PNG codec. Returns
    (read_rgba, write_png); write emits 8-bit RGBA files."""
    import ctypes

    import pytest
    try:
        L = ctypes.CDLL("libpng16.so.16")
    except OSError:
        pytest.skip("libpng16 not available")

    class PngImage(ctypes.Structure):
        _fields_ = [("opaque", ctypes.c_void_p),
                    ("version", ctypes.c_uint32),
                    ("width", ctypes.c_uint32),
                    ("height", ctypes.c_uint32),
                    ("format", ctypes.c_uint32),
                    ("flags", ctypes.c_uint32),
                    ("colormap_entries", ctypes.c_uint32),
                    ("warning_or_error", ctypes.c_uint32),
                    ("message", ctypes.c_char * 64)]

    L.png_image_begin_read_from_memory.restype = ctypes.c_int
    L.png_image_begin_read_from_memory.argtypes = [
        ctypes.POINTER(PngImage), ctypes.c_char_p, ctypes.c_size_t]
    L.png_image_finish_read.restype = ctypes.c_int
    L.png_image_finish_read.argtypes = [
        ctypes.POINTER(PngImage), ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_int32, ctypes.c_void_p]
    L.png_image_write_to_memory.restype = ctypes.c_int
    L.png_image_write_to_memory.argtypes = [
        ctypes.POINTER(PngImage), ctypes.c_void_p,
        ctypes.POINTER(ctypes.c_size_t), ctypes.c_int, ctypes.c_void_p,
        ctypes.c_int32, ctypes.c_void_p]

    def read_rgba(blob):
        img = PngImage()
        img.version = 1
        if not L.png_image_begin_read_from_memory(ctypes.byref(img),
                                                  blob, len(blob)):
            return None
        img.format = 3                     # PNG_FORMAT_RGBA
        buf = ctypes.create_string_buffer(img.width * img.height * 4)
        if not L.png_image_finish_read(ctypes.byref(img), None, buf,
                                       0, None):
            return None
        return img.width, img.height, buf.raw

    def write_png(w, h, rgba):
        img = PngImage()
        img.version = 1
        img.width = w
        img.height = h
        img.format = 3
        size = ctypes.c_size_t(0)
        assert L.png_image_write_to_memory(
            ctypes.byref(img), None, ctypes.byref(size), 0, rgba, 0,
            None)
        buf = ctypes.create_string_buffer(size.value)
        assert L.png_image_write_to_memory(
            ctypes.byref(img), buf, ctypes.byref(size), 0, rgba, 0,
            None)
        return buf.raw[:size.value]

    return read_rgba, write_png


def test_png_bidirectional_witness_libpng():
    """The PNG codec's first FOREIGN witness (it was zlib+roundtrip
    only until late r10): our encoder's files — every color type
    (gray/RGB/palette/gray-alpha/RGBA), all five filter types cycling,
    straight and Adam7 — decode byte-exact through libpng's simplified
    read API, and libpng-WRITTEN files decode byte-exact through
    _parse_png."""
    import os
    import random

    from amazon_kinesis_replay_spark.operators.multimodal import (
        _GIF_PALETTE, _parse_png, encode_png)

    read_rgba, write_png = _libpng()
    rng = random.Random(17)
    for trial in range(16):
        w = rng.randint(1, 40)
        h = rng.randint(1, 40)
        ctype = rng.choice([0, 2, 3, 4, 6])
        ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
        px = os.urandom(w * h * ch)
        filters = [rng.randrange(5) for _ in range(rng.randint(1, 4))]
        blob = encode_png(w, h, px, ctype=ctype, filters=filters,
                          palette=_GIF_PALETTE if ctype == 3 else None,
                          interlace=rng.random() < 0.4)
        ref = read_rgba(blob)
        assert ref is not None and ref[0:2] == (w, h), trial
        for i in range(w * h):
            got = tuple(ref[2][4 * i:4 * i + 4])
            if ctype == 0:
                exp = (px[i],) * 3 + (255,)
            elif ctype == 2:
                exp = tuple(px[3 * i:3 * i + 3]) + (255,)
            elif ctype == 3:
                p = px[i]
                exp = tuple(_GIF_PALETTE[3 * p:3 * p + 3]) + (255,)
            elif ctype == 4:
                exp = (px[2 * i],) * 3 + (px[2 * i + 1],)
            else:
                exp = tuple(px[4 * i:4 * i + 4])
            assert got == exp, (trial, ctype, i)

    for trial in range(8):
        w = rng.randint(1, 40)
        h = rng.randint(1, 40)
        rgba = os.urandom(w * h * 4)
        blob = write_png(w, h, rgba)
        got = _parse_png(blob)
        assert got[0:2] == (w, h) and got[2] == rgba, trial


def test_png_full_depth_matrix():
    """PNG depths beyond 8 (late r10): hand-computed vectors pin
    1/2/4-bit grayscale scaling, sub-byte palette indexing, and the
    engine's documented 16->8 rule round(v*255/65535); every REAL
    sub-8-bit PNG shipped in this container must decode byte-identical
    to libpng (the 16-bit system file decodes but is excluded from the
    libpng comparison: the simplified API gamma-maps 16-bit input as
    linear light — a color-management choice outside RFC 2083,
    documented in _png_expand)."""
    import glob
    import struct
    import zlib

    from amazon_kinesis_replay_spark.operators.multimodal import (
        _parse_png)

    read_rgba, _w = _libpng()

    def chunk(t, b):
        c = t + b
        return (struct.pack(">I", len(b)) + c
                + struct.pack(">I", zlib.crc32(c)))

    def png(w, h, depth, ctype, rows, plte=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(rows)) \
            + chunk(b"IEND", b"")

    bits = "1010110011"
    blob = png(10, 1, 1, 0,
               b"\x00" + int(bits + "0" * 6, 2).to_bytes(2, "big"))
    assert _parse_png(blob)[2] == bytes(
        255 if c == "1" else 0 for c in bits)
    ref = read_rgba(blob)
    assert bytes(ref[2][0::4]) == _parse_png(blob)[2]

    pal = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9))
    blob = png(6, 1, 2, 3, b"\x00" + bytes([0b00011011, 0b10010000]),
               pal)
    assert _parse_png(blob)[2] == b"".join(
        pal[3 * i:3 * i + 3] for i in (0, 1, 2, 3, 2, 1))

    blob = png(5, 1, 4, 0, b"\x00" + bytes([0x0F, 0x78, 0x10]))
    assert _parse_png(blob)[2] == bytes(v * 17 for v in (0, 15, 7, 8, 1))

    v16 = (0, 257, 65535, 32768, 514, 65021)
    blob = png(2, 1, 16, 2, b"\x00" + b"".join(
        struct.pack(">H", x) for x in v16))
    assert list(_parse_png(blob)[2]) == [round(x * 255 / 65535)
                                        for x in v16]

    # sub-8-bit + Adam7 combined: per-pass row bytes at depth 2,
    # hand-built pass streams, cross-checked against libpng
    from amazon_kinesis_replay_spark.operators.multimodal import (
        _ADAM7_PASSES)
    w7, h7 = 9, 7
    vals = [[(x * 3 + y) % 4 for x in range(w7)] for y in range(h7)]
    stream = bytearray()
    for x0, y0, dx, dy in _ADAM7_PASSES:
        pw = (w7 - x0 + dx - 1) // dx
        ph = (h7 - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        for r in range(ph):
            y = y0 + r * dy
            bits = "".join(format(vals[y][x0 + c * dx], "02b")
                           for c in range(pw))
            bits += "0" * ((8 - len(bits) % 8) % 8)
            stream.append(0)
            stream += int(bits, 2).to_bytes(len(bits) // 8, "big")
    ihdr7 = struct.pack(">IIBBBBB", w7, h7, 2, 0, 0, 0, 1)
    blob7 = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr7)
             + chunk(b"IDAT", zlib.compress(bytes(stream)))
             + chunk(b"IEND", b""))
    exp7 = bytes(vals[y][x] * 85 for y in range(h7) for x in range(w7))
    assert _parse_png(blob7)[2] == exp7
    ref7 = read_rgba(blob7)
    assert ref7 is not None and bytes(ref7[2][0::4]) == exp7

    seen_sub8 = 0
    for f in glob.glob("/usr/share/**/*.png", recursive=True):
        d = open(f, "rb").read()
        if len(d) < 26 or d[:8] != b"\x89PNG\r\n\x1a\n":
            continue
        depth, ctype = d[24], d[25]
        if depth == 8:
            continue
        w, h, px = _parse_png(d)           # must decode, all depths
        if depth < 8:
            seen_sub8 += 1
            ref = read_rgba(d)
            assert ref is not None and ref[0:2] == (w, h), f
            ch = len(px) // (w * h)
            ours = bytes(b for i in range(w * h)
                         for b in px[ch * i:ch * i + 3]) \
                if ch >= 3 else px
            theirs = bytes(b for i in range(w * h)
                           for b in ref[2][4 * i:4 * i + 3]) \
                if ch >= 3 else bytes(ref[2][0::4])
            assert ours == theirs, f
    assert seen_sub8 >= 3                  # real foreign fixtures hit


def _libtiff():
    """ctypes harness for the container's libtiff.so.6 — the foreign
    witness for functions/tiff.py. Returns (read_rgba, write_tiff).
    The TIFF* handle must be wrapped in c_void_p at EVERY variadic
    call site (ctypes passes bare ints as 32-bit, truncating the
    pointer)."""
    import ctypes
    import os
    import tempfile

    import pytest
    try:
        L = ctypes.CDLL("libtiff.so.6")
    except OSError:
        pytest.skip("libtiff.so.6 not available")
    L.TIFFOpen.restype = ctypes.c_void_p
    L.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
    L.TIFFGetField.restype = ctypes.c_int
    L.TIFFReadRGBAImage.restype = ctypes.c_int
    L.TIFFReadRGBAImage.argtypes = [
        ctypes.c_void_p, ctypes.c_uint32, ctypes.c_uint32,
        ctypes.POINTER(ctypes.c_uint32), ctypes.c_int]
    L.TIFFWriteScanline.restype = ctypes.c_int
    L.TIFFWriteScanline.argtypes = [ctypes.c_void_p, ctypes.c_void_p,
                                    ctypes.c_uint32, ctypes.c_uint16]

    def read_rgba(blob):
        with tempfile.NamedTemporaryFile(suffix=".tif",
                                         delete=False) as f:
            f.write(blob)
            path = f.name
        try:
            tif = L.TIFFOpen(path.encode(), b"r")
            if not tif:
                return None
            w = ctypes.c_uint32()
            h = ctypes.c_uint32()
            L.TIFFGetField(ctypes.c_void_p(tif), ctypes.c_uint32(256),
                           ctypes.byref(w))
            L.TIFFGetField(ctypes.c_void_p(tif), ctypes.c_uint32(257),
                           ctypes.byref(h))
            ww, hh = w.value, h.value
            buf = (ctypes.c_uint32 * (ww * hh))()
            ok = L.TIFFReadRGBAImage(ctypes.c_void_p(tif), ww, hh,
                                     buf, 1)
            L.TIFFClose(ctypes.c_void_p(tif))
            if not ok:
                return None
            raw = bytes(ctypes.cast(
                buf, ctypes.POINTER(
                    ctypes.c_ubyte * (ww * hh * 4))).contents)
            rows = [raw[r * ww * 4:(r + 1) * ww * 4]
                    for r in range(hh)]
            return ww, hh, b"".join(reversed(rows))   # bottom-up
        finally:
            os.unlink(path)

    def write_tiff(w, h, pixels, spp, compression=1, predictor=1,
                   rows_per_strip=None):
        with tempfile.NamedTemporaryFile(suffix=".tif",
                                         delete=False) as f:
            path = f.name
        tif = L.TIFFOpen(path.encode(), b"w")
        assert tif

        def setf(tag, val, is32=False):
            arg = ctypes.c_uint32(val) if is32 else ctypes.c_int(val)
            assert L.TIFFSetField(ctypes.c_void_p(tif),
                                  ctypes.c_uint32(tag), arg)

        setf(256, w, True)
        setf(257, h, True)
        setf(258, 8)
        setf(259, compression)
        setf(262, 1 if spp == 1 else 2)
        setf(277, spp)
        setf(284, 1)
        setf(278, rows_per_strip or h, True)
        if predictor != 1:
            setf(317, predictor)
        row_bytes = w * spp
        for r in range(h):
            buf = ctypes.create_string_buffer(
                pixels[r * row_bytes:(r + 1) * row_bytes], row_bytes)
            assert L.TIFFWriteScanline(ctypes.c_void_p(tif), buf,
                                       r, 0) == 1
        L.TIFFClose(ctypes.c_void_p(tif))
        blob = open(path, "rb").read()
        os.unlink(path)
        return blob

    return read_rgba, write_tiff


def test_tiff_bidirectional_witness_libtiff():
    """Baseline TIFF pinned against libtiff in BOTH directions,
    byte-exact: our encoder's files (gray/RGB/RGBA x uncompressed/
    LZW(+predictor)/PackBits x single/multi-strip x II/MM) read back
    through TIFFReadRGBAImage exactly, and libtiff-WRITTEN files
    decode exactly through decode_tiff — the LZW early-change width
    schedule, the MSB-first code packing, PackBits, the horizontal
    predictor and the IFD walk all have to agree with the normative
    implementation for either direction to pass. (Found this way: the
    encoder widens one step LATER than the decoder's early change;
    RGBA must declare ASSOCIATED alpha or libtiff premultiplies.)"""
    import os
    import random

    from amazon_kinesis_replay_spark.functions.tiff import (decode_tiff,
                                                            encode_tiff)

    read_rgba, write_tiff = _libtiff()
    rng = random.Random(5)
    for trial in range(18):
        w = rng.randint(1, 50)
        h = rng.randint(1, 50)
        spp = rng.choice([1, 3, 4])
        comp = rng.choice([1, 5, 32773])
        pred = rng.choice([1, 2]) if comp == 5 else 1
        px = os.urandom(w * h * spp)
        blob = encode_tiff(w, h, px, spp=spp, compression=comp,
                           predictor=pred,
                           rows_per_strip=rng.choice([None, 3, h]),
                           big_endian=rng.random() < 0.5)
        ref = read_rgba(blob)
        assert ref is not None and ref[0:2] == (w, h), trial
        rgba = ref[2]
        for i in range(w * h):
            if spp == 1:
                exp = (px[i],) * 3 + (255,)
            elif spp == 3:
                exp = tuple(px[3 * i:3 * i + 3]) + (255,)
            else:
                exp = tuple(px[4 * i:4 * i + 4])
            assert tuple(rgba[4 * i:4 * i + 4]) == exp, (trial, i)
        assert decode_tiff(blob)[2] == px

    for trial in range(12):
        w = rng.randint(1, 50)
        h = rng.randint(1, 50)
        spp = rng.choice([1, 3])
        comp = rng.choice([1, 5, 32773])
        pred = rng.choice([1, 2]) if comp == 5 else 1
        px = os.urandom(w * h * spp)
        blob = write_tiff(w, h, px, spp, comp, pred,
                          rng.choice([None, 4]))
        got = decode_tiff(blob)
        assert got[0:2] == (w, h) and got[2] == px, trial


def test_tiff_photometric_and_gates():
    """Min-is-white grayscale inverts (cross-checked against libtiff
    on the same patched file); unsupported depths, unknown
    compressions and structurally-broken tiled files raise loudly;
    truncation raises TIFFError; the image-decode dispatch routes
    II*/MM* payloads. (Tiled layouts and 16-bit depths DECODE since
    r11 — see test_tiff_16bit_and_tiled_witness_libtiff.)"""
    import os
    import struct

    import pytest

    from amazon_kinesis_replay_spark.functions.tiff import (TIFFError,
                                                            decode_tiff,
                                                            encode_tiff)
    from amazon_kinesis_replay_spark.operators.multimodal import (
        _decode_pixels)

    read_rgba, _w = _libtiff()
    px = os.urandom(6 * 5)
    blob = bytearray(encode_tiff(6, 5, px, spp=1, compression=1))
    i = blob.find(struct.pack("<HH", 262, 3))
    blob[i + 8] = 0                                # min-is-white
    inv = decode_tiff(bytes(blob))[2]
    assert inv == bytes(255 - b for b in px)
    ref = read_rgba(bytes(blob))
    assert ref is not None
    assert bytes(ref[2][0::4]) == inv              # libtiff agrees

    good = encode_tiff(4, 4, os.urandom(48), spp=3)
    w, h, out = _decode_pixels(good)
    assert (w, h, len(out)) == (4, 4, 48)
    with pytest.raises(TIFFError):
        decode_tiff(good[:20])
    b2 = bytearray(good)
    j = b2.find(struct.pack("<HH", 259, 3))
    b2[j + 8] = 7                                  # "JPEG" compression
    with pytest.raises(NotImplementedError, match="compression"):
        decode_tiff(bytes(b2))
    b3 = bytearray(good)
    k = b3.find(struct.pack("<HH", 256, 4))
    b3[k:k + 2] = struct.pack("<H", 322)   # Width RENAMED to TileWidth
    with pytest.raises(TIFFError, match="ImageWidth|tile"):
        decode_tiff(bytes(b3))
    # TileWidth alongside intact Width/Height but no other tile tags
    b3b = bytearray(good)
    k2 = b3b.find(struct.pack("<HH", 278, 4))      # RowsPerStrip slot
    b3b[k2:k2 + 2] = struct.pack("<H", 322)
    with pytest.raises(TIFFError, match="tile"):
        decode_tiff(bytes(b3b))
    # gray blob: spp=1 keeps BitsPerSample INLINE (patchable value slot)
    b4 = bytearray(encode_tiff(4, 4, os.urandom(16), spp=1))
    m = b4.find(struct.pack("<HH", 258, 3))
    b4[m + 8] = 12                                 # 12-bit depth
    with pytest.raises(NotImplementedError, match="bit"):
        decode_tiff(bytes(b4))


def test_webp_animation_compositing():
    """Animated WebP (ANIM/ANMF): hand-assembled containers of LOSSLESS
    frames drive the compositor — full-frame replace, sub-rectangle
    placement at (even) offsets, no-blend vs alpha-blend semantics at
    the exact sa=255/sa=0 endpoints, dispose-to-background refill,
    duration passthrough, stride sampling and the frame cap. Frame
    payload decode itself is the libwebp-witnessed VP8L path; the
    compositor's conventions are documented in decode_webp_frames."""
    import struct

    import pytest

    from amazon_kinesis_replay_spark.functions import webp as W

    cw, ch = 12, 10

    def chunk(fourcc, body):
        return (fourcc + struct.pack("<I", len(body)) + body
                + (b"\x00" if len(body) & 1 else b""))

    def vp8l_chunk(w, h, rgba):
        blob = W.encode_webp_lossless(w, h, rgba)
        return blob[12:]                      # the VP8L chunk, padded

    def anmf(fx, fy, w, h, dur, dispose, no_blend, rgba):
        hdr = (struct.pack("<I", fx // 2)[:3]
               + struct.pack("<I", fy // 2)[:3]
               + struct.pack("<I", w - 1)[:3]
               + struct.pack("<I", h - 1)[:3]
               + struct.pack("<I", dur)[:3]
               + bytes([dispose | (no_blend << 1)]))
        return chunk(b"ANMF", hdr + vp8l_chunk(w, h, rgba))

    f1 = bytes(bytearray((i * 7) % 255 for i in range(cw * ch * 4)))
    f1 = bytes(b if i % 4 != 3 else 255 for i, b in enumerate(f1))
    patch_solid = bytes((9, 8, 7, 255)) * 16          # sa=255 endpoint
    patch_clear = bytes((1, 2, 3, 0)) * 16            # sa=0 endpoint
    body = (chunk(b"VP8X", bytes([0x12, 0, 0, 0])
                  + struct.pack("<I", cw - 1)[:3]
                  + struct.pack("<I", ch - 1)[:3])
            + chunk(b"ANIM", bytes((30, 20, 10, 255)) + b"\x00\x00")
            + anmf(0, 0, cw, ch, 40, 0, 1, f1)
            + anmf(2, 2, 4, 4, 50, 1, 0, patch_solid)
            + anmf(2, 2, 4, 4, 60, 0, 0, patch_clear))
    blob = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body

    w, h, frames = W.decode_webp_frames(blob)
    assert (w, h) == (cw, ch)
    assert [d for d, _ in frames] == [40, 50, 60]
    assert frames[0][1] == f1                       # full replace
    c2 = frames[1][1]
    for r in range(4):                              # sa=255 blend = src
        o = ((2 + r) * cw + 2) * 4
        assert c2[o:o + 16] == patch_solid[r * 16:r * 16 + 16]
    # outside the patch, frame 1 pixels persist
    assert c2[:2 * cw * 4] == f1[:2 * cw * 4]
    # frame 3: sa=0 blend keeps the DISPOSED (background) pixels
    c3 = frames[2][1]
    bg = bytes((10, 20, 30, 255))                   # stored BGRA
    for r in range(4):
        o = ((2 + r) * cw + 2) * 4
        assert c3[o:o + 16] == bg * 4
    # stride + cap
    _, _, sampled = W.decode_webp_frames(blob, max_frames=1, stride=2)
    assert len(sampled) == 1 and sampled[0][0] == 40
    # non-animated payload -> one still frame, duration 0
    still = W.encode_webp_lossless(4, 4, bytes(range(64)))
    sw, sh, sframes = W.decode_webp_frames(still)
    assert (sw, sh, len(sframes)) == (4, 4, 1)
    assert sframes[0][0] == 0 and len(sframes[0][1]) == 64
    # the still-image API keeps its animation gate
    with pytest.raises(NotImplementedError):
        W.decode_webp(blob)


def test_webp_rides_image_decode_and_sniff(spark):
    """Wiring: a WebP payload routes through decode_images (RGBA
    histogram features) and the JVM magic sniff labels RIFF+WEBP as
    'webp' while RIFF+WAVE stays 'riff'."""
    import os

    from amazon_kinesis_replay_spark.functions.webp import (
        encode_webp_lossless)

    rgba = os.urandom(8 * 8 * 4)
    blob = encode_webp_lossless(8, 8, rgba)
    media = spark.createDataFrame([(1, bytearray(blob))],
                                  "media_id long, data binary")
    import pytest

    out = multimodal.decode_images(media).collect()[0]
    assert (out["width"], out["height"]) == (8, 8)
    assert out["features"] == pytest.approx(
        multimodal._pixel_histogram(rgba), abs=1e-6)

    wav = multimodal.synth_audio_blob(1, b"x")
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(wav))],
        "media_id long, data binary")
    got = {r["media_id"]: r["magic"]
           for r in multimodal.media_metadata(df).collect()}
    assert got[1] == "webp" and got[2] == "riff"


def test_multimodal_mjpeg_frame_decode(spark):
    """REAL MJPEG video path: a RIFF/AVI container of genuine baseline
    JPEG frames, frame-sampled AND pixel-decoded in one mapInPandas pass
    (sample-then-decode: the stride prunes before the expensive decode).
    Frame hashes must match the true JPEG bytes and every sampled frame
    yields real dimensions + features."""
    import hashlib

    from amazon_kinesis_replay_spark.functions.jpeg import encode_jpeg

    frames = [encode_jpeg(8, 8, bytes((i * 7 + j) % 256 for j in range(192)))
              for i in range(7)]
    avi = multimodal.encode_avi_mjpeg(frames, 8, 8)
    media = spark.createDataFrame([(5, bytearray(avi))],
                                  "media_id long, data binary")
    out = {r["frame_idx"]: r for r in multimodal.sample_frames(
        media, every_n=3, decode_frames=True).collect()}
    assert sorted(out) == [0, 3, 6]
    for idx, r in out.items():
        assert r["frame_sha1"] == hashlib.sha1(frames[idx]).hexdigest()
        assert (r["width"], r["height"]) == (8, 8)
        assert len(r["features"]) == 8 and abs(sum(r["features"]) - 1) < 1e-5


def test_animated_gif_frame_sampling(spark):
    """Animated-GIF video path: sample_frames routes GIF payloads through
    the disposal-compositing decoder — sampled frames are composited
    logical screens (sha1 over the RGB raster), the every_n stride holds,
    and decode_frames=True yields real dimensions + histogram features,
    all in the same mapInPandas pass as the AVI path."""
    import hashlib

    from amazon_kinesis_replay_spark.functions.gif import (
        decode_gif_frames, encode_gif_animation)

    pal = bytes((0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255))
    frames = [(bytes([1 + (i % 3)] * 4), i % 3, i % 3, 2, 2, 5 * i, 1, -1)
              for i in range(7)]
    raw = encode_gif_animation(5, 5, frames, pal)
    _, _, want_all = decode_gif_frames(raw)

    media = spark.createDataFrame([(9, bytearray(raw))],
                                  "media_id long, data binary")
    out = {r["frame_idx"]: r for r in multimodal.sample_frames(
        media, every_n=3).collect()}
    assert sorted(out) == [0, 3, 6]
    for idx, r in out.items():
        assert r["frame_sha1"] == hashlib.sha1(
            want_all[idx][1]).hexdigest()

    dec = {r["frame_idx"]: r for r in multimodal.sample_frames(
        media, every_n=3, decode_frames=True).collect()}
    assert sorted(dec) == [0, 3, 6]
    for idx, r in dec.items():
        assert (r["width"], r["height"]) == (5, 5)
        assert r["frame_sha1"] == hashlib.sha1(
            want_all[idx][1]).hexdigest()
        assert len(r["features"]) == 8 and abs(sum(r["features"]) - 1) < 1e-5


def test_ivf_index_retrain_policy(spark, sf_dir, tmp_path):
    """The re-train policy must hold below the growth threshold, fire
    above it (footer-count trigger), rebuild the index on the FULL
    corpus via the staging swap, refresh the trained-size watermark, and
    leave the index probe-able (an appended clone of the query still
    surfaces at the top after the rebuild moves it to a trained list)."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    index = str(tmp_path / "ivf")
    similarity.ivf_index_write(base, index, n_centroids=8, train_iters=1)
    meta0 = spark.read.parquet(index + "/meta").head()
    assert meta0["n_at_train"] == base.count()

    # small append: growth below threshold -> no retrain, meta unchanged
    small = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 320))
    similarity.ivf_index_append(spark, small, index)
    assert similarity.ivf_index_maybe_retrain(
        spark, index, growth_threshold=0.5) is False
    assert spark.read.parquet(index + "/meta").head()["n_at_train"] \
        == meta0["n_at_train"]

    # big append (incl. a clone of vec 0): growth over threshold -> retrain
    clone = (emb.filter(F.col("vec_id") == 0)
             .select(F.lit(999999).alias("vec_id"), "embedding", "label"))
    big = emb.filter(F.col("vec_id") >= 320).unionByName(clone)
    similarity.ivf_index_append(spark, big, index)
    n_total = spark.read.parquet(index + "/vectors").count()
    assert similarity.ivf_index_maybe_retrain(
        spark, index, growth_threshold=0.5) is True
    # the retrain published a GENERATION (r8 pointer layout): reads
    # resolve to it, and GC removed the legacy root copies
    from amazon_kinesis_replay_spark import fsutil
    gen = fsutil.gen_resolve(spark, index)
    assert gen != index
    assert fsutil.exists(spark, f"{gen}/{fsutil.GEN_MARKER}")
    meta1 = spark.read.parquet(gen + "/meta").head()
    assert meta1["n_at_train"] == n_total            # watermark refreshed
    assert meta1["n_centroids"] == 8
    assert spark.read.parquet(gen + "/vectors").count() == n_total
    import os
    for sub in ("vectors", "centroids", "meta"):
        assert not os.path.exists(f"{index}/{sub}")

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec"))
    top = similarity.ivf_probe_topk(spark, index, q, k=3, n_probe=2).collect()
    assert {r["vec_id"] for r in top[:2]} == {0, 999999}

    # immediately after a retrain the policy is quiescent again
    assert similarity.ivf_index_maybe_retrain(
        spark, index, growth_threshold=0.5) is False


def test_ivf_imbalance_retrain_trigger(spark, sf_dir, tmp_path):
    """The imbalance trigger catches what growth can't: a stream of
    near-identical appends piling into ONE inverted list. 200 clones of
    vector 0 appended to a 300-vector/8-list index leave total growth
    under a lax growth threshold, but push one list to ~47% of the
    corpus — max_list_share must fire there, growth-only must not, and
    the metadata probe must not read vector data (it is a
    partition-column aggregation)."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    index = str(tmp_path / "ivf-imb")
    similarity.ivf_index_write(base, index, n_centroids=8, train_iters=1)

    one = emb.filter(F.col("vec_id") == 0).select("embedding", "label")
    clones = (spark.range(200).crossJoin(one)
              .select((F.col("id") + 10_000).alias("vec_id"),
                      "embedding", "label"))
    similarity.ivf_index_append(spark, clones, index)

    # growth-only with a lax threshold: quiet despite the skew
    assert similarity.ivf_index_maybe_retrain(
        spark, index, growth_threshold=5.0) is False
    # the skewed list holds ~237/500 of the corpus: imbalance fires
    assert similarity.ivf_index_maybe_retrain(
        spark, index, growth_threshold=5.0, max_list_share=0.35) is True
    # retrain refreshed the watermark: growth policy quiescent again
    assert similarity.ivf_index_maybe_retrain(
        spark, index, growth_threshold=0.5) is False
    # and the rebuilt index is still probe-able
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec"))
    top = similarity.ivf_probe_topk(spark, index, q, k=3, n_probe=3).collect()
    assert top and top[0]["vec_id"] in {0} | set(range(10_000, 10_200))


def test_repetition_features_crafted(spark):
    """Gopher/RefinedWeb repetition signals on crafted documents: exact
    duplicate-line/paragraph fractions, bullet/ellipsis line fractions,
    and mean word length — including the degenerate single-line and
    blank-document shapes."""
    from amazon_kinesis_replay_spark.operators import text as T

    docs = [
        # 4 lines, "dup dup" repeated twice -> 1 duplicate line of 4
        (1, "dup dup\nunique one\ndup dup\nlast line"),
        # bullets on 3 of 4 lines; one ellipsis ending
        (2, "- item one\n* item two\n• item three\nplain tail..."),
        # two identical paragraphs split by a blank line
        (3, "para text here\n\npara text here"),
        # single line, no structure
        (4, "just one line of text"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rep = T.repetition_features_exprs("text")
    out = {r["doc_id"]: r for r in df.selectExpr(
        "doc_id", *[f"{v} AS {k}" for k, v in rep.items()]).collect()}

    assert out[1]["dup_line_frac"] == 0.25            # 1 dup of 4 lines
    assert out[1]["dup_para_frac"] == 0.0
    assert out[2]["bullet_line_frac"] == 0.75
    assert out[2]["ellipsis_line_frac"] == 0.25
    assert out[3]["dup_para_frac"] == 0.5             # 1 dup of 2 paras
    assert out[3]["dup_line_frac"] == pytest_approx(1 / 3)  # blank+2 same
    assert out[4]["dup_line_frac"] == 0.0
    # "just one line of text": 17 solid chars / 5 tokens
    assert out[4]["mean_word_len"] == pytest_approx(17 / 5)


def pytest_approx(x, tol=1e-12):
    import pytest
    return pytest.approx(x, abs=tol)


def test_cross_split_contamination_crafted(spark):
    """Decontamination semantics on crafted docs: an eval doc sharing one
    3-shingle with any train doc is flagged with the exact shared-gram
    count; clean eval docs and all train docs carry (0, false)."""
    rows = [
        (1, "train", "alpha beta gamma delta"),
        (2, "train", "red green blue cyan"),
        (3, "test",  "x alpha beta gamma y"),      # shares 1 train shingle
        (4, "test",  "one two three four"),        # clean
        (5, "valid", "red green blue cyan"),       # identical to a train doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, split string, text string")
    out = {r["id"]: r for r in dedup.cross_split_contamination(
        df, "doc_id", "text", "split").collect()}
    assert (out[1]["n_shared_train_grams"], out[1]["contaminated"]) == (0, False)
    assert (out[2]["n_shared_train_grams"], out[2]["contaminated"]) == (0, False)
    assert (out[3]["n_shared_train_grams"], out[3]["contaminated"]) == (1, True)
    assert (out[4]["n_shared_train_grams"], out[4]["contaminated"]) == (0, False)
    # doc 5 shares BOTH of doc 2's shingles
    assert (out[5]["n_shared_train_grams"], out[5]["contaminated"]) == (2, True)


def test_cross_split_contamination_13gram(spark):
    """k=13 — the common decontamination window (ROADMAP item): only an
    eval doc carrying a full 13-word train run is flagged; a 12-word
    overlap is NOT contamination at k=13 (but is at k=12). Same kernel,
    parameter change only."""
    train_words = " ".join(f"w{i}" for i in range(20))
    eval_13 = "pre " + " ".join(f"w{i}" for i in range(13)) + " post"
    eval_12 = "pre " + " ".join(f"w{i}" for i in range(12)) + " post"
    rows = [(1, "train", train_words),
            (2, "test", eval_13),
            (3, "test", eval_12)]
    df = spark.createDataFrame(rows, "doc_id long, split string, text string")
    out13 = {r["id"]: r for r in dedup.cross_split_contamination(
        df, "doc_id", "text", "split", k=13).collect()}
    assert (out13[2]["n_shared_train_grams"],
            out13[2]["contaminated"]) == (1, True)
    assert (out13[3]["n_shared_train_grams"],
            out13[3]["contaminated"]) == (0, False)
    out12 = {r["id"]: r for r in dedup.cross_split_contamination(
        df, "doc_id", "text", "split", k=12).collect()}
    assert out12[2]["contaminated"] and out12[3]["contaminated"]


def test_cross_split_contamination_escaping(spark):
    """r13 ADVICE regression pins: (a) a train_value containing a
    BACKSLASH must still match its rows (Spark SQL literals process
    C-style escapes — the unescaped form matched zero rows, silently
    reporting every eval doc uncontaminated); (b) a quote+backslash mix
    must not shift the literal boundary; (c) column names that need
    backtick quoting must keep resolving through the expr-string path."""
    rows = [
        (1, r"tr\ain", "alpha beta gamma delta"),
        (2, "test",  "x alpha beta gamma y"),     # shares 1 train shingle
        (3, "test",  "one two three four"),       # clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, split string, text string")
    out = {r["id"]: r for r in dedup.cross_split_contamination(
        df, "doc_id", "text", "split", train_value=r"tr\ain").collect()}
    assert (out[2]["n_shared_train_grams"], out[2]["contaminated"]) == (1, True)
    assert (out[3]["n_shared_train_grams"], out[3]["contaminated"]) == (0, False)
    assert (out[1]["n_shared_train_grams"], out[1]["contaminated"]) == (0, False)

    tricky = r"it's x\'"                           # quote + backslash mix
    rows2 = [(1, tricky, "alpha beta gamma delta"),
             (2, "test", "x alpha beta gamma y")]
    df2 = spark.createDataFrame(
        rows2, "doc_id long, `my split` string, text string")
    out2 = {r["id"]: r for r in dedup.cross_split_contamination(
        df2, "doc_id", "text", "my split", train_value=tricky).collect()}
    assert (out2[2]["n_shared_train_grams"], out2[2]["contaminated"]) == (1, True)

    # caller-precomputed-arrays branch exercises the id_col/split_col
    # backtick path too
    arrays = dedup.shingle_arrays(df2, "doc_id", "text", 3)
    out3 = {r["id"]: r for r in dedup.cross_split_contamination(
        df2, "doc_id", "text", "my split", train_value=tricky,
        arrays=arrays).collect()}
    assert out3 == out2


def test_exact_pow10_double_signed(spark):
    """_exact_pow10_double (r13 verdict item 9): the exact decimal-string
    -> double conversion must (a) keep its previous bits on non-negative
    sums and (b) now compose a well-formed signed string for NEGATIVE
    sums instead of the malformed '-1.-5' concat that ANSI-threw."""
    from amazon_kinesis_replay_spark.plans.registry import _exact_pow10_double
    vals = [0, 1, 5, 99, 12345678901234567890123456789,
            -1, -5, -99, -105, -12345678901234567890123456789]
    df = spark.createDataFrame([(str(v),) for v in vals], "s string") \
        .selectExpr("CAST(s AS decimal(38,0)) AS v")
    for scale in (2, 4, 10):
        got = [r["d"] for r in df.selectExpr(
            f"{_exact_pow10_double('v', scale)} AS d").collect()]
        exp = [float(f"{'-' if v < 0 else ''}{abs(v) // 10**scale}."
                     f"{abs(v) % 10**scale:0{scale}d}") for v in vals]
        assert got == exp, (scale, got, exp)


def test_semantic_dedup_shared_ranked_bit_equal(spark, sf_dir):
    """r14 (r13 verdict item 5): a caller-shared width-2 ranked
    assignment must reproduce BOTH flat SemDeDup kinds bit-for-bit —
    rank-1 rows of the wider table are ivf_assign's output by the
    window's own tie-break, so n_assign=1 fed from `ranked` equals the
    self-computed run, and n_assign=2 equals its own."""
    emb = load(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, n_centroids=8, n_iters=1,
                                        exact=True)
    ranked2 = similarity._ranked_assign(emb, cents, 2,
                                        exact=True).localCheckpoint()
    for n_assign in (1, 2):
        base = {tuple(r) for r in similarity.semantic_dedup(
            emb, threshold=0.4, centroids=cents, exact=True,
            n_assign=n_assign).collect()}
        shared = {tuple(r) for r in similarity.semantic_dedup(
            emb, threshold=0.4, centroids=cents, exact=True,
            n_assign=n_assign, ranked=ranked2).collect()}
        assert shared == base, f"n_assign={n_assign}"


def test_pq_ann_recall_and_determinism(spark, sf_dir):
    """Product quantization: codebooks are (n_subs x n_codes) and
    deterministic across retrains; codes compress every vector to n_subs
    in-range ids; ADC + exact re-rank recovers the query itself at rank 1
    and most of the true top-10 (fixed fixture -> fixed recall)."""
    emb = load(spark, sf_dir, "embeddings")
    cb = similarity.pq_train(emb, n_subs=8, n_codes=16, n_iters=2)
    cb_rows = sorted((r["sub_id"], r["code"], tuple(r["c_vec"]))
                     for r in cb.collect())
    assert len(cb_rows) == 8 * 16
    cb2 = similarity.pq_train(emb, n_subs=8, n_codes=16, n_iters=2)
    assert sorted((r["sub_id"], r["code"], tuple(r["c_vec"]))
                  for r in cb2.collect()) == cb_rows

    codes = similarity.pq_encode(emb, cb)
    rows = codes.collect()
    assert len(rows) == emb.count()
    assert all(len(r["codes"]) == 8
               and all(0 <= c < 16 for c in r["codes"]) for r in rows)

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec"))
    pq = [r["vec_id"] for r in similarity.pq_topk(
        emb, q, k=10, codebooks=cb, codes=codes).collect()]
    bf = [r["vec_id"] for r in similarity.brute_force_topk(
        emb, q, k=10).collect()]
    assert pq[0] == 0                       # the query itself survives ADC
    assert len(set(pq) & set(bf)) >= 6      # typical PQ recall, pinned


def test_media_metadata_magic_sniff(spark):
    """The JVM magic sniff must route every supported format correctly and
    never mislabel unknowns — the pre-filter that keeps non-media bytes
    out of the Python decode path entirely."""
    from amazon_kinesis_replay_spark.functions.gif import encode_gif
    from amazon_kinesis_replay_spark.functions.jpeg import encode_jpeg
    pal = multimodal._GIF_PALETTE
    payloads = [
        (1, multimodal.encode_png(2, 2, bytes(12)), "png"),
        (2, encode_jpeg(8, 8, bytes(192)), "jpeg"),
        (3, encode_gif(2, 2, bytes(4), pal), "gif"),
        (4, b"BM" + bytes(30), "bmp"),
        (5, b"P6\n2 2\n255\n" + bytes(12), "ppm"),
        (6, b"RIFF\x00\x00\x00\x00WAVE", "riff"),
        (7, b"not media at all", "unknown"),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b, _ in payloads],
        "media_id long, data binary")
    got = {r["media_id"]: r["magic"]
           for r in multimodal.media_metadata(df).collect()}
    assert got == {i: m for i, _, m in payloads}


def test_ivf_pq_index_probe(spark, sf_dir, tmp_path):
    """IVF-PQ composition: the probed scan reads CODES from pruned
    partitions (PartitionFilters on centroid_id), ADC narrows to
    k*rerank_factor candidates, and the exact re-rank against the cold
    float table recovers the query at rank 1 with decent top-10 recall
    vs brute force."""
    emb = load(spark, sf_dir, "embeddings")
    index = str(tmp_path / "ivfpq")
    similarity.ivf_pq_index_write(emb, index, n_centroids=8,
                                  n_subs=8, n_codes=16)
    # hot table holds codes, not floats
    hot = spark.read.parquet(index + "/vectors")
    assert set(hot.columns) == {"id", "codes", "centroid_id"}

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec"))
    top = similarity.ivf_pq_probe_topk(spark, index, q, k=10, n_probe=4,
                                       rerank_factor=8)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    got = [r["vec_id"] for r in top.collect()]
    bf = [r["vec_id"] for r in similarity.brute_force_topk(
        emb, q, k=10).collect()]
    assert got[0] == 0
    assert len(set(got) & set(bf)) >= 5   # probe misses + PQ error bounded


def test_ivf_pq_index_append(spark, sf_dir, tmp_path):
    """Incremental IVF-PQ append: new vectors are assigned with the
    SAVED centroids and quantized with the SAVED codebooks (geometry
    frozen — existing rows untouched), land in the right partitions, and
    an appended clone of the query surfaces at the top of a probe with
    its floats available for exact re-rank."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    index = str(tmp_path / "ivfpq-app")
    similarity.ivf_pq_index_write(base, index, n_centroids=8,
                                  n_subs=8, n_codes=16)
    n0 = spark.read.parquet(index + "/vectors").count()
    before = {(r["id"], tuple(r["codes"])) for r in
              spark.read.parquet(index + "/vectors").collect()}

    clone = (emb.filter(F.col("vec_id") == 0)
             .select(F.lit(777777).alias("vec_id"), "embedding", "label"))
    extra = emb.filter(F.col("vec_id") >= 400).unionByName(clone)
    similarity.ivf_pq_index_append(spark, extra, index)

    hot = spark.read.parquet(index + "/vectors")
    assert hot.count() == n0 + extra.count()
    after = {(r["id"], tuple(r["codes"])) for r in hot.collect()}
    assert before <= after                     # existing rows untouched
    # the clone carries vec 0's exact codes (same codebooks)
    codes0 = next(c for i, c in after if i == 0)
    assert next(c for i, c in after if i == 777777) == codes0
    # and floats arrived for re-rank
    assert spark.read.parquet(index + "/floats") \
        .filter(F.col("id") == 777777).count() == 1

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec"))
    top = similarity.ivf_pq_probe_topk(spark, index, q, k=3, n_probe=3,
                                       rerank_factor=8).collect()
    assert {r["vec_id"] for r in top[:2]} == {0, 777777}


def test_url_features_and_blocklist(spark):
    """URL curation signals: counts, distinct lowercased domains, and
    blocklist matching that catches exact domains AND subdomains but
    never unrelated suffix overlaps (evil.com must not match
    notevil.com)."""
    from amazon_kinesis_replay_spark.operators import text as T
    rows = [
        (1, "see https://GOOD.example.org/a and http://good.example.org/b"),
        (2, "spam at http://ads.EVIL.com/x plus https://ok.net/"),
        (3, "no urls at all"),
        (4, "https://notevil.com/ is fine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.url_features(
        df, "text", blocklist=("evil.com",)).collect()}
    assert out[1]["n_urls"] == 2
    assert out[1]["domains"] == ["good.example.org"]
    assert out[1]["blocklisted"] is False
    assert out[2]["blocklisted"] is True          # subdomain of evil.com
    assert sorted(out[2]["domains"]) == ["ads.evil.com", "ok.net"]
    assert (out[3]["n_urls"], out[3]["blocklisted"]) == (0, False)
    assert out[4]["blocklisted"] is False         # no suffix false-positive


# ---------------------------------------------------------------------------
# BPE tokenizer (distributed train, Arrow-batched encode)
# ---------------------------------------------------------------------------


def test_bpe_learn_classic_merges():
    """Sennrich merge loop on a hand-checkable count table: most-frequent
    pair first, count ties broken by lexicographically smallest pair,
    early stop when no pair occurs twice."""
    from amazon_kinesis_replay_spark.functions import bpe

    # ("a","b") occurs 3*2 + 2*1 = 8 times, then ("ab","ab") 3 times
    assert bpe.learn_bpe({"abab": 3, "ab": 2}, 10) == [
        ("a", "b"), ("ab", "ab")]
    # tie at count 2: lexicographic order decides, deterministically
    assert bpe.learn_bpe({"cd": 2, "ab": 2}, 10) == [("a", "b"), ("c", "d")]
    # nothing repeats -> no merges at all
    assert bpe.learn_bpe({"ab": 1, "cd": 1}, 10) == []


def test_bpe_encode_word_rank_order():
    """Greedy encode merges the LOWEST-RANK pair first (training order,
    not text order): with ranks [(b,c), (a,bc)] the word 'abc' must merge
    b+c before a can merge."""
    from amazon_kinesis_replay_spark.functions import bpe

    ranks = bpe.merge_ranks([("b", "c"), ("a", "bc")])
    assert bpe.encode_word("abc", ranks) == ["abc"]
    # missing rank for the intermediate pair -> stops at the partial merge
    ranks2 = bpe.merge_ranks([("b", "c")])
    assert bpe.encode_word("abc", ranks2) == ["a", "bc"]


def test_bpe_encode_lossless_property():
    """For ANY text and ANY trained merge table, concatenating the
    encoded tokens reproduces the text exactly — encoding is lossless by
    construction (pre-tokenizer partitions the string; merges only ever
    concatenate adjacent symbols)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from amazon_kinesis_replay_spark.functions import bpe

    @settings(max_examples=200, deadline=None)
    @given(st.text(max_size=80), st.text(max_size=200))
    def check(train_text, text):
        counts: dict[str, int] = {}
        for p in bpe.pretokenize(train_text):
            counts[p] = counts.get(p, 0) + 1
        ranks = bpe.merge_ranks(bpe.learn_bpe(counts, 50))
        toks = bpe.encode_text(text, ranks)
        assert "".join(toks) == text
        assert all(toks)                      # no empty tokens

    check()


def test_bpe_train_encode_spark(spark, sf_dir):
    """End-to-end on the documents fixture: training is deterministic
    (pure function of the corpus), and the distributed encode is
    lossless (aggregate of tokens == text), consistent with the
    pure-Python kernel, and bounded below by the pre-token piece count
    and above by the character count."""
    from amazon_kinesis_replay_spark.functions import bpe
    from amazon_kinesis_replay_spark.operators import text as T
    from amazon_kinesis_replay_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    merges = T.bpe_train(docs, "text", n_merges=64)
    assert merges == T.bpe_train(docs, "text", n_merges=64)
    assert len(merges) == 64                  # corpus is big enough

    enc = T.bpe_encode(docs, "text", merges)
    bad = enc.filter(
        F.concat_ws("", F.col("bpe_tokens")) != F.col("text")).count()
    assert bad == 0                           # lossless, every document
    bounds = enc.select(
        F.min(F.col("bpe_tokens_count")
              >= T.bpe_pretoken_count(F.col("text"))).alias("lo"),
        F.min(F.col("bpe_tokens_count")
              <= F.length("text")).alias("hi")).head()
    assert bounds["lo"] and bounds["hi"]

    # Spark path == pure-Python kernel, row by row (sampled)
    ranks = bpe.merge_ranks(merges)
    sample = enc.orderBy("doc_id").limit(20).collect()
    for r in sample:
        assert list(r["bpe_tokens"]) == bpe.encode_text(r["text"], ranks)


def test_unigram_train_encode_spark(spark, sf_dir):
    """Unigram-LM tokenizer (SentencePiece hard-EM form) end-to-end on
    the documents fixture: the DISTRIBUTED trainer (seed + Viterbi
    E-steps as Spark jobs) must produce the BIT-IDENTICAL score table
    as the driver-only pure-Python twin over the same capped word
    counts (the registry gate's contract — exact-integer aggregates
    make this possible; soft-EM could not), and the Arrow-batched
    encode must match the kernel row-by-row and be lossless."""
    from collections import Counter

    from amazon_kinesis_replay_spark.functions import unigram as ug
    from amazon_kinesis_replay_spark.functions.bpe import pretokenize
    from amazon_kinesis_replay_spark.operators import text as T
    from amazon_kinesis_replay_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    scores = T.unigram_train(docs, "text", vocab_size=256, n_iters=2,
                             seed_size=1024)
    # the fixture's closed word list converges to mostly whole-word
    # pieces — the invariants are coverage + multi-char use, not size
    assert any(len(p) > 1 for p in scores)

    wc: Counter = Counter()
    rows = docs.orderBy("doc_id").collect()
    for r in rows:
        wc.update(pretokenize(r["text"]))
    capped = dict(sorted(wc.items(),
                         key=lambda kv: (-kv[1], kv[0]))[:1_000_000])
    twin = ug.train_unigram(capped, vocab_size=256, n_iters=2,
                            seed_size=1024)
    assert scores == twin                    # bit-identical doubles

    enc = T.unigram_encode(docs, "text", scores)
    bad = enc.filter(F.concat_ws("", F.col("unigram_tokens"))
                     != F.col("text")).count()
    assert bad == 0                          # lossless, every document
    sample = enc.orderBy("doc_id").limit(20).collect()
    for r in sample:
        assert list(r["unigram_tokens"]) == ug.encode_text(
            r["text"], twin)
        assert r["unigram_tokens_count"] == len(r["unigram_tokens"])

    # subword compression: multi-char pieces actually get used
    total = enc.agg(F.sum("unigram_tokens_count")).head()[0]
    chars = docs.agg(F.sum(F.length("text"))).head()[0]
    assert total < chars

    # id path: deterministic vocab, round-trip through ids, <unk>=0
    vocab = T.unigram_vocab(scores)
    assert sorted(vocab.values()) == list(range(1, len(scores) + 1))
    small = docs.orderBy("doc_id").limit(10)
    with_ids = T.unigram_encode(small, "text", scores, vocab=vocab) \
        .orderBy("doc_id").collect()
    inv = {i: p for p, i in vocab.items()}
    for r in with_ids:
        assert [vocab.get(t, 0) for t in r["unigram_tokens"]] \
            == list(r["unigram_tokens_ids"])
        assert "".join(inv[i] for i in r["unigram_tokens_ids"]
                       if i) == r["text"]   # all in-vocab on the corpus
    unseen = spark.createDataFrame([(1, "éé")],
                                   "doc_id long, text string")
    u = T.unigram_encode(unseen, "text", scores, vocab=vocab).head()
    assert set(u["unigram_tokens_ids"]) == {0}   # unk path


def test_unigram_kernel_properties():
    """Pure-kernel pins: Viterbi picks the max-score segmentation on a
    hand-checkable table, unknown characters fall back to single-char
    unk pieces (never a crash), the determinism contract holds (same
    inputs -> same table), and add-one rescore emits the exact
    log((c+1)/(total+V)) doubles."""
    import math

    from amazon_kinesis_replay_spark.functions import unigram as ug

    scores = {"ab": math.log(0.4), "a": math.log(0.3),
              "b": math.log(0.2), "abc": math.log(0.05),
              "c": math.log(0.3)}
    # 'ab'+'c' = log(.4)+log(.3) = log(.12) > 'abc' = log(.05)
    assert ug.viterbi("abc", scores) == ["ab", "c"]
    # unseen char: unk fallback, still lossless
    assert "".join(ug.viterbi("aXb", scores)) == "aXb"

    wc = {"hello": 5, " hello": 3, " world": 4, "!": 2}
    t1 = ug.train_unigram(wc, vocab_size=32, n_iters=2, seed_size=64)
    t2 = ug.train_unigram(dict(reversed(list(wc.items()))),
                          vocab_size=32, n_iters=2, seed_size=64)
    assert t1 == t2                          # input-order free

    r = ug.rescore({"a": 3, "b": 1}, ["a", "b"])
    assert r["a"] == math.log(4) - math.log(6)
    assert r["b"] == math.log(2) - math.log(6)

    for w in ("", "a", "hello!", " spaced"):
        assert "".join(ug.encode_text(w, t1, {})) == w


def test_ngram_lm_train_and_score(spark):
    """CCNet-style LM quality scoring on a hand-computable corpus: bigram
    counts from the distributed trainer match exact enumeration, and
    per-doc bits/perplexity equal the add-k arithmetic done by hand —
    including the short-doc (NULL score) and unseen-context paths. A
    fluent sentence must score lower perplexity than scrambled noise."""
    import math

    from amazon_kinesis_replay_spark.operators import text as T

    corpus = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran"), (3, "the dog sat")],
        "doc_id long, text string")
    lm = T.ngram_lm_counts(corpus, "text", n=2)
    got = {(r["context"], r["token"]): r["cnt"] for r in lm.collect()}
    assert got == {("the", "cat"): 2, ("the", "dog"): 1,
                   ("cat", "sat"): 1, ("cat", "ran"): 1,
                   ("dog", "sat"): 1}

    docs = spark.createDataFrame(
        [(10, "the cat sat"),          # all seen
         (11, "the cat flew"),         # unseen token in seen context
         (12, "zebra quux corge"),     # everything unseen
         (13, "word")],                # shorter than n -> NULL score
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           T.ngram_lm_score(docs, "doc_id", "text", lm, n=2, k=1.0)
           .collect()}
    V = 4                                     # cat dog sat ran

    def bits(pairs):
        return sum(-math.log2((c + 1.0) / (t + 1.0 * V))
                   for c, t in pairs) / len(pairs)

    # doc 10: (the,cat): 2/ctx(the)=3 ; (cat,sat): 1/ctx(cat)=2
    want10 = bits([(2, 3), (1, 2)])
    assert abs(out[10]["bits_per_token"] - want10) < 1e-9
    assert abs(out[10]["perplexity"] - 2 ** want10) < 1e-9
    assert out[10]["n_grams"] == 2
    # doc 11: (the,cat)=(2,3); (cat,flew)=(0,2)
    assert abs(out[11]["bits_per_token"] - bits([(2, 3), (0, 2)])) < 1e-9
    # doc 12: both grams fully unseen -> (0,0) twice
    assert abs(out[12]["bits_per_token"] - bits([(0, 0), (0, 0)])) < 1e-9
    # doc 13: too short, present with NULLs, never silently dropped
    assert out[13]["n_grams"] == 0 and out[13]["bits_per_token"] is None

    # fluency sanity: in-domain text beats scrambled noise
    assert out[10]["perplexity"] < out[12]["perplexity"]


def test_bpe_vocab_and_id_encoding(spark, sf_dir):
    """Token-id mapping (the shard-ready form): the vocabulary is a
    deterministic pure function of corpus + merges (0=<unk>, sorted
    chars, merge products by rank), every emitted token over corpus text
    maps to a non-<unk> id that inverts back to the token, and an
    out-of-alphabet character maps to <unk>=0 rather than a wrong id."""
    from amazon_kinesis_replay_spark.operators import text as T
    from amazon_kinesis_replay_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    merges = T.bpe_train(docs, "text", n_merges=32)
    vocab = T.bpe_vocab(docs, "text", merges)
    assert vocab == T.bpe_vocab(docs, "text", merges)      # deterministic
    assert vocab["<unk>"] == 0
    assert len(set(vocab.values())) == len(vocab)          # ids unique

    inv = {i: t for t, i in vocab.items()}
    enc = T.bpe_encode(docs.limit(50), "text", merges, vocab=vocab)
    rows = enc.select("text", "bpe_tokens", "bpe_tokens_ids").collect()
    assert rows
    for r in rows:
        assert len(r["bpe_tokens_ids"]) == len(r["bpe_tokens"])
        assert 0 not in r["bpe_tokens_ids"]                # corpus: no <unk>
        assert "".join(inv[i] for i in r["bpe_tokens_ids"]) == r["text"]

    # out-of-alphabet character -> <unk>, never a wrong id
    odd = spark.createDataFrame([(1, "abc ç")], "doc_id long, text string")
    got = T.bpe_encode(odd, "text", merges, vocab=vocab).head()
    if "ç" not in vocab:
        assert 0 in got["bpe_tokens_ids"]

    # decode_ids inverts the encoding for in-vocabulary text
    from amazon_kinesis_replay_spark.functions.bpe import decode_ids
    for r in rows[:5]:
        assert decode_ids(r["bpe_tokens_ids"], vocab) == r["text"]


def test_ngram_lm_merge_incremental(spark, sf_dir):
    """Incremental LM training: counting two halves separately and
    merging must equal counting the whole corpus — and merge order must
    not matter (associative/commutative fold of daily models)."""
    from amazon_kinesis_replay_spark.operators import text as T
    from amazon_kinesis_replay_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 250)
    b1 = docs.filter(F.col("doc_id") >= 250)
    full = {(r["context"], r["token"]): r["cnt"]
            for r in T.ngram_lm_counts(docs, "text", n=2).collect()}
    lm0 = T.ngram_lm_counts(b0, "text", n=2)
    lm1 = T.ngram_lm_counts(b1, "text", n=2)
    merged = {(r["context"], r["token"]): r["cnt"]
              for r in T.ngram_lm_merge(lm0, lm1).collect()}
    assert merged == full
    flipped = {(r["context"], r["token"]): r["cnt"]
               for r in T.ngram_lm_merge(lm1, lm0).collect()}
    assert flipped == full


def test_resize_images(spark):
    """Nearest-neighbor resize: exact expected raster for an integer
    downscale (4x4 -> 2x2 checkerboard picks the top-left of each
    block), channel layout preserved per source format (RGB PNG stays 3,
    grayscale stays 1), upscale repeats pixels, and the fake path
    normalizes any payload to the target size."""
    import numpy as np

    # 4x4 RGB: 2x2 blocks of solid colors
    blocks = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0)]
    raster = bytearray()
    for y in range(4):
        for x in range(4):
            raster += bytes(blocks[(y // 2) * 2 + (x // 2)])
    png = multimodal.encode_png(4, 4, bytes(raster), ctype=2)
    gray = multimodal.encode_png(3, 3, bytes(range(9)), ctype=0)
    media = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(gray))],
        "media_id long, data binary")

    out = {r["media_id"]: r for r in
           multimodal.resize_images(media, 2, 2).collect()}
    r1 = out[1]
    assert (r1["width"], r1["height"], r1["channels"]) == (2, 2, 3)
    want = b"".join(bytes(b) for b in blocks)      # top-left of each block
    assert bytes(r1["pixels"]) == want
    r2 = out[2]
    assert (r2["width"], r2["height"], r2["channels"]) == (2, 2, 1)
    # indices (0*3//2=0, 1*3//2=1) on both axes -> rows 0,1 cols 0,1
    assert bytes(r2["pixels"]) == bytes([0, 1, 3, 4])

    # upscale: each source pixel repeats
    up = {r["media_id"]: r for r in
          multimodal.resize_images(media, 8, 8).collect()}
    a = np.frombuffer(bytes(up[1]["pixels"]), np.uint8).reshape(8, 8, 3)
    assert tuple(a[0, 0]) == blocks[0] and tuple(a[7, 7]) == blocks[3]
    assert tuple(a[0, 7]) == blocks[1] and tuple(a[7, 0]) == blocks[2]

    # fake path: arbitrary bytes -> deterministic sized raster
    junk = spark.createDataFrame([(3, bytearray(b"not-an-image"))],
                                 "media_id long, data binary")
    f = multimodal.resize_images(junk, 4, 4, fake=True).head()
    assert (f["width"], f["height"], f["channels"]) == (4, 4, 3)
    assert len(f["pixels"]) == 48


def test_resample_audio(spark):
    """Audio resample: an exact 2:1 downsample passes source samples
    through untouched (np.interp on integer coordinates), a 1:2 upsample
    doubles the length with midpoints interpolated, stereo mixes to mono
    by averaging, and the fake path treats bytes as PCM16@8kHz."""
    import numpy as np

    samples = list(range(-1000, 1000, 125))       # 16 samples @ 16 kHz
    wav = _wav_bytes(16000, 1, samples)
    stereo = _wav_bytes(16000, 2, [v for s in samples for v in (s, s + 2)])
    media = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(stereo))],
        "media_id long, data binary")

    down = {r["media_id"]: r for r in
            multimodal.resample_audio(media, 8000).collect()}
    r1 = down[1]
    assert (r1["sample_rate"], r1["n_samples"]) == (8000, 8)
    got = np.frombuffer(bytes(r1["pcm"]), dtype="<i2")
    assert list(got) == samples[::2]              # exact passthrough
    # stereo mono-mix: mean of (s, s+2) = s+1 at the sampled points
    g2 = np.frombuffer(bytes(down[2]["pcm"]), dtype="<i2")
    assert list(g2) == [s + 1 for s in samples[::2]]

    up = multimodal.resample_audio(media.filter("media_id = 1"),
                                   32000).head()
    assert (up["sample_rate"], up["n_samples"]) == (32000, 32)
    gu = np.frombuffer(bytes(up["pcm"]), dtype="<i2")
    assert list(gu[::2])[:16] == samples          # originals at even slots
    assert gu[1] == (samples[0] + samples[1]) // 2 or \
        abs(int(gu[1]) - (samples[0] + samples[1]) / 2) <= 1

    # fake path: arbitrary even-length bytes as PCM16@8kHz
    junk = spark.createDataFrame(
        [(3, bytearray(np.arange(10, dtype="<i2").tobytes()))],
        "media_id long, data binary")
    f = multimodal.resample_audio(junk, 4000, fake=True).head()
    assert (f["sample_rate"], f["n_samples"]) == (4000, 5)


def test_assemble_sequences(spark):
    """Window assembly: flattening the windows in seq_id order must
    reproduce the concatenated corpus EXACTLY (docs split across window
    boundaries), every window except the last holds exactly seq_len
    tokens, n_docs counts contributing documents, and empty-id docs
    vanish without shifting positions."""
    from amazon_kinesis_replay_spark.operators import text

    rows = [(1, list(range(0, 7))),          # 7 tokens
            (2, []),                         # empty doc
            (3, list(range(100, 109))),      # 9 tokens
            (4, list(range(200, 204)))]      # 4 tokens
    df = spark.createDataFrame(rows, "doc_id long, ids array<int>")
    out = sorted(
        text.assemble_sequences(df, "doc_id", "ids", seq_len=5).collect(),
        key=lambda r: r["seq_id"])
    stream = [t for _, ids in rows for t in ids]
    got = [t for r in out for t in r["token_ids"]]
    assert got == stream
    assert [r["seq_id"] for r in out] == [0, 1, 2, 3]
    assert [r["n_tokens"] for r in out] == [5, 5, 5, 5]
    # window 0 = doc1[0:5]; window 1 = doc1[5:7] + doc3[0:3] -> 2 docs
    assert out[0]["n_docs"] == 1 and out[1]["n_docs"] == 2
    assert out[1]["token_ids"] == [5, 6, 100, 101, 102]
    # last window exactly full here (7+9+4 = 20 = 4*5)
    total = sum(r["n_tokens"] for r in out)
    assert total == 20

    # ragged tail: drop doc 4 -> 16 tokens -> last window holds 1
    out2 = sorted(text.assemble_sequences(
        df.filter("doc_id != 4"), "doc_id", "ids", seq_len=5).collect(),
        key=lambda r: r["seq_id"])
    assert [r["n_tokens"] for r in out2] == [5, 5, 5, 1]
    assert [t for r in out2 for t in r["token_ids"]] == \
        [t for _, ids in rows[:3] for t in ids]


def test_fast_dot_fixed_width_guard(spark):
    """A pinned dim that does not match the vectors' true width must
    raise, never silently truncate the pre-filter dot (silent recall
    loss — r7 review finding)."""
    import pytest

    rows = [(i, [float(i + j) for j in range(8)]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ok = dedup.embedding_cosine_dedup(emb, threshold=0.0, n_bands=2,
                                      band_bits=4, dim=8)
    ok.collect()                              # matching width: fine
    bad = dedup.embedding_cosine_dedup(emb, threshold=0.0, n_bands=2,
                                       band_bits=4, dim=4)
    with pytest.raises(Exception, match="pinned dim|ASSERT|assert"):
        bad.collect()


def test_shingle_arrays_extra_columns(spark):
    """`extra=` computes named columns inside the same widened
    projection (kept for cross-ACTION reuse after the r7 composition
    revert) — they must ride along with exact values."""
    df = spark.createDataFrame([(1, "a b c d"), (2, "x y")],
                               "doc_id long, text string")
    out = {r["id"]: r for r in dedup.shingle_arrays(
        df, "doc_id", "text", 3,
        extra={"n_tok": F.size(F.split("text", r"\s+")).cast("long"),
               "flag": F.col("doc_id") % 2 == 0}).collect()}
    assert out[1]["n_tok"] == 4 and out[1]["flag"] is False
    assert out[2]["n_tok"] == 2 and out[2]["flag"] is True
    assert len(out[1]["shs"]) == 2            # "a b c", "b c d"


def test_duplicate_spans_crafted(spark):
    """Hand-built corpus, window=4: a cross-doc shared 6-token run
    merges to one span per doc; a periodic doc self-duplicates into one
    whole-doc span; unique docs emit nothing."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"),
         (2, "x y a b c d e f q r"),
         (3, "p q r s t u"),
         (4, "m n o p m n o p m n o p")],
        "doc_id long, text string")
    spans = dedup.duplicate_spans(df, "doc_id", "text", window=4)
    got = {(r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
           for r in spans.collect()}
    spans.unpersist()
    assert got == {(1, 0, 6, 3), (2, 2, 8, 3), (4, 0, 12, 9)}


def test_duplicate_spans_matches_python_reference(spark, sf_dir):
    """Fixture corpus vs an independent brute-force recompute (dict of
    window-string -> occurrence count, then island merge per doc)."""
    W = 12
    d = load(spark, sf_dir, "documents")
    rows = [(r["doc_id"], r["text"]) for r in
            d.select("doc_id", "text").collect()]
    from collections import Counter, defaultdict
    cnt = Counter()
    occ = defaultdict(list)
    for doc_id, text in rows:
        t = text.strip().lower().split()
        for i in range(len(t) - W + 1):
            win = " ".join(t[i:i + W])
            cnt[win] += 1
            occ[doc_id].append((i, win))
    expect = set()
    for doc_id, wins in occ.items():
        dup_pos = sorted(i for i, w in wins if cnt[w] > 1)
        if not dup_pos:
            continue
        start, prev, n = dup_pos[0], dup_pos[0], 1
        for p in dup_pos[1:]:
            if p > prev + W:
                expect.add((doc_id, start, prev + W, n))
                start, n = p, 0
            prev = p
            n += 1
        expect.add((doc_id, start, prev + W, n))
    spans = dedup.duplicate_spans(d, "doc_id", "text", window=W)
    got = {(r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
           for r in spans.collect()}
    spans.unpersist()
    assert got == expect


def test_semantic_dedup_crafted(spark):
    """Two directional clusters; in each, the lower-id member survives
    and its near-duplicate is marked. Orthogonal member is kept."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [-1.0, 0.0, 0.0, 0.0], 0),
            (2, [0.9, 0.1, 0.0, 0.0], 0),
            (3, [0.0, 0.0, 1.0, 0.0], 0),
            (4, [-0.95, 0.05, 0.0, 0.0], 0)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = {r["id"]: r["is_dup"] for r in similarity.semantic_dedup(
        emb, threshold=0.7, n_centroids=2, n_iters=1).collect()}
    assert out == {0: False, 1: False, 2: True, 3: False, 4: True}


def test_semantic_dedup_two_level_matches_definition(spark, sf_dir):
    """r8, two-level SemDeDup (the O(n·√k) scale variant): full-corpus
    assignment coverage, and the dup set matches a pure-python
    recomputation of the min-id-wins definition over the PRODUCED leaf
    assignment — the semantics are centroid-set-independent given the
    assignment, so this checks everything downstream of clustering."""
    import math
    from collections import defaultdict
    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    rows = similarity.semantic_dedup_two_level(
        emb, threshold=0.4, n_coarse=4, n_fine=4, n_iters=2).collect()
    assert len(rows) == n                       # nothing dropped
    assert len({r["centroid_id"] for r in rows}) > 4   # real leaf split
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(y * y for y in b)))

    cells = defaultdict(list)
    for r in rows:
        cells[r["centroid_id"]].append(r["id"])
    expect = set()
    for ids in cells.values():
        ids.sort()
        for i, a in enumerate(ids):
            if any(cos(vecs[a], vecs[b]) >= 0.4 - 1e-9 for b in ids[:i]):
                expect.add(a)
    got = {r["id"] for r in rows if r["is_dup"]}
    assert got == expect


def test_semantic_dedup_two_level_train_mod_covers(spark, sf_dir):
    """Hash-sampled training (train_mod) must still assign EVERY corpus
    vector — the empty-cell fallback (coarse centroid as the cell's only
    fine centroid) guarantees no vector is dropped by the fine join."""
    emb = load(spark, sf_dir, "embeddings")
    out = similarity.semantic_dedup_two_level(
        emb, threshold=0.4, n_coarse=4, n_fine=4, n_iters=1, train_mod=7)
    assert out.count() == emb.count()


def _wav_bytes_fmt(rate, channels, fmt_code, bits, body,
                   extensible=False):
    """RIFF/WAVE with an arbitrary format code / bit depth / raw data
    body; extensible=True wraps the code in WAVE_FORMAT_EXTENSIBLE
    (0xFFFE + SubFormat GUID leading bytes)."""
    import struct
    if extensible:
        sub = struct.pack("<H", fmt_code) + b"\x00" * 14
        fmt = struct.pack("<HHIIHH", 0xFFFE, channels, rate,
                          rate * channels * max(bits // 8, 1),
                          channels * max(bits // 8, 1), bits) \
            + struct.pack("<HHI", 22, bits, 0x4) + sub
    else:
        fmt = struct.pack("<HHIIHH", fmt_code, channels, rate,
                          rate * channels * max(bits // 8, 1),
                          channels * max(bits // 8, 1), bits)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(body)) + body)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_g711_tables_match_itu_anchors():
    """The mu-law / A-law expansion tables hit the ITU G.711 anchor
    values (Sun g711.c formulation): mu 0x00 -> -32124, 0xFF -> 0,
    0x7F -> 0 (negative zero); A 0x55 -> -8, 0xD5 -> +8,
    0x2A -> -32256, 0xAA -> +32256. Both are odd-symmetric."""
    mu, al = multimodal._g711_tables()
    assert mu[0x00] == -32124 and mu[0x80] == 32124
    assert mu[0xFF] == 0 and mu[0x7F] == 0
    assert al[0x55] == -8 and al[0xD5] == 8
    assert al[0x2A] == -32256 and al[0xAA] == 32256
    for c in range(128):
        assert mu[c] == -mu[c | 0x80]
        assert al[c ^ 0x55] == -al[(c ^ 0x55) | 0x80]


def test_wav_format_family_decodes(spark):
    """r9 gate-closure: float32, 24-bit PCM, G.711 mu-law/A-law, and
    WAVE_FORMAT_EXTENSIBLE payloads all decode on the REAL path —
    same tone, same dominant FFT band as the PCM16 baseline — and the
    perceptual-codec gate still raises loudly."""
    import math
    import struct

    import numpy as np
    import pytest
    rate, n = 8000, 4096
    tone = [math.sin(2 * math.pi * 440 * i / rate) for i in range(n)]
    pcm16 = _wav_bytes(rate, 1, [int(10000 * v) for v in tone])

    f32 = _wav_bytes_fmt(rate, 1, 3, 32,
                         struct.pack(f"<{n}f", *(0.3 * v for v in tone)))
    i24 = _wav_bytes_fmt(
        rate, 1, 1, 24,
        b"".join(struct.pack("<i", int(2_000_000 * v))[:3] for v in tone))
    mu_t, al_t = multimodal._g711_tables()

    def _nearest_code(table, x):
        return int(np.argmin(np.abs(table.astype(np.int64) - x)))
    ulaw = _wav_bytes_fmt(rate, 1, 7, 8, bytes(
        _nearest_code(mu_t, int(10000 * v)) for v in tone))
    alaw = _wav_bytes_fmt(rate, 1, 6, 8, bytes(
        _nearest_code(al_t, int(10000 * v)) for v in tone))
    ext16 = _wav_bytes_fmt(
        rate, 1, 1, 16,
        struct.pack(f"<{n}h", *(int(10000 * v) for v in tone)),
        extensible=True)

    rows = [(i, bytearray(b)) for i, b in enumerate(
        (pcm16, f32, i24, ulaw, alaw, ext16))]
    media = spark.createDataFrame(rows, "media_id long, data binary")
    got = {r["media_id"]: r for r in
           multimodal.decode_audio(media).collect()}
    base_band = got[0]["mfcc"].index(max(got[0]["mfcc"]))
    assert base_band == 1                      # 440 Hz of 0-4 kHz
    for mid in range(1, 6):
        assert got[mid]["sample_rate"] == rate
        assert abs(got[mid]["duration_s"] - n / rate) < 1e-6, mid
        assert got[mid]["mfcc"].index(max(got[mid]["mfcc"])) \
            == base_band, mid

    # resample accepts the new formats too (mu-law down to 4 kHz)
    out = multimodal.resample_audio(
        spark.createDataFrame([(9, bytearray(ulaw))],
                              "media_id long, data binary"), 4000).head()
    assert (out["sample_rate"], out["n_samples"]) == (4000, n // 2)

    # perceptual codecs still gate loudly
    flac = _wav_bytes_fmt(rate, 1, 0xF1AC, 16, b"\x00" * 64)
    with pytest.raises(Exception, match="format code"):
        multimodal.decode_audio(
            spark.createDataFrame([(8, bytearray(flac))],
                                  "media_id long, data binary")).collect()


def test_jpeg_progressive_equals_baseline_exactly():
    """The progressive decoder's exact-equality witness: a
    spectral-selection SOF2 stream carries IDENTICAL quantized
    coefficients to the baseline stream of the same raster, so both
    must decode to byte-equal pixels — gray and color, dims off the
    8-multiple grid."""
    import numpy as np
    from amazon_kinesis_replay_spark.functions.jpeg import (
        decode_jpeg, encode_jpeg)
    rng = np.random.default_rng(5)
    for gray in (False, True):
        for w, h in ((16, 16), (24, 17), (9, 30)):
            nch = 1 if gray else 3
            pix = rng.integers(0, 256, (h, w, nch), np.uint8).tobytes()
            base = decode_jpeg(encode_jpeg(w, h, pix, gray=gray))
            prog = decode_jpeg(encode_jpeg(w, h, pix, gray=gray,
                                           progressive=True))
            assert base == prog, (gray, w, h)


_JDUMP_C = r"""
#include <stdio.h>
#include <stdlib.h>
#include <jpeglib.h>
int main(int argc, char **argv) {
  struct jpeg_decompress_struct cinfo;
  struct jpeg_error_mgr jerr;
  FILE *f = fopen(argv[1], "rb");
  if (!f) return 2;
  cinfo.err = jpeg_std_error(&jerr);
  jpeg_create_decompress(&cinfo);
  jpeg_stdio_src(&cinfo, f);
  jpeg_read_header(&cinfo, TRUE);
  cinfo.out_color_space = JCS_RGB;
  jpeg_start_decompress(&cinfo);
  int w = cinfo.output_width, h = cinfo.output_height;
  fprintf(stderr, "%d %d\n", w, h);
  unsigned char *row = malloc((size_t)w * 3);
  while (cinfo.output_scanline < (unsigned)h) {
    JSAMPROW rp = row;
    jpeg_read_scanlines(&cinfo, &rp, 1);
    fwrite(row, 1, (size_t)w * 3, stdout);
  }
  jpeg_finish_decompress(&cinfo);
  jpeg_destroy_decompress(&cinfo);
  return 0;
}
"""


def _libjpeg_decode_rgb(path):
    """Decode `path` with the SYSTEM libjpeg via a tiny compiled
    harness (gcc + jpeglib.h, both shipped in this container).
    Returns (w, h, ndarray[h,w,3]) or None when the toolchain is
    absent — callers skip the comparison leg then."""
    import os
    import shutil
    import subprocess
    import tempfile

    import numpy as np
    if shutil.which("gcc") is None or not os.path.exists(
            "/usr/include/jpeglib.h"):
        return None
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "jdump.c")
        exe = os.path.join(td, "jdump")
        with open(src, "w") as fh:
            fh.write(_JDUMP_C)
        cc = subprocess.run(["gcc", "-O2", "-o", exe, src, "-ljpeg"],
                            capture_output=True)
        if cc.returncode != 0:
            return None
        r = subprocess.run([exe, path], capture_output=True)
        if r.returncode != 0:
            return None
        w, h = map(int, r.stderr.split())
        return w, h, np.frombuffer(r.stdout, np.uint8).reshape(h, w, 3)


def test_jpeg_progressive_decodes_foreign_libjpeg_fixtures():
    """Successive-approximation witness: REAL progressive JPEGs (libjpeg
    output shipped in this container's nodejs docs) exercise the DC/AC
    refinement scan paths. Dimensions are cross-checked against an
    independent SOF2 header parse; the raster is compared PER-PIXEL
    against the system libjpeg (max abs channel diff <= 3 — IDCT
    rounding only; the r9 refinement off-by-one measured 13, so this
    tolerance bites). The coarse >80%-white check stays as a fallback
    when the C toolchain is unavailable."""
    import os
    import struct

    import numpy as np
    import pytest
    from amazon_kinesis_replay_spark.functions.jpeg import decode_jpeg
    fixtures = ["/usr/share/doc/nodejs/thin-white-stripe.jpg",
                "/usr/share/doc/nodejs/full-white-stripe.jpg"]
    found = [p for p in fixtures if os.path.exists(p)]
    if not found:
        pytest.skip("no system progressive-JPEG fixture available")
    compared = 0
    for p in found:
        raw = open(p, "rb").read()
        # independent dims from the SOF2 segment
        i = raw.find(b"\xff\xc2")
        assert i > 0, "fixture is not progressive"
        eh, ew = struct.unpack_from(">HH", raw, i + 5)
        w, h, pix = decode_jpeg(raw)
        assert (w, h) == (ew, eh)
        img = np.frombuffer(pix, np.uint8).reshape(h, w, 3)
        white = float((img.mean(axis=2) >= 250).mean())
        assert white > 0.8, (p, white)
        ref = _libjpeg_decode_rgb(p)
        if ref is not None:
            rw, rh, rimg = ref
            assert (rw, rh) == (w, h)
            diff = np.abs(rimg.astype(np.int16) - img.astype(np.int16))
            assert int(diff.max()) <= 3, (p, int(diff.max()))
            compared += 1
        # determinism
        assert decode_jpeg(raw)[2] == pix
    if compared == 0:
        pytest.skip("system libjpeg harness unavailable; "
                    "coarse witness only")


_AENC_C = r"""
#include <stdio.h>
#include <stdlib.h>
#include <jpeglib.h>
/* aenc out.jpg w h gray sub q rst seed arith */
int main(int argc, char **argv) {
  int w = atoi(argv[2]), h = atoi(argv[3]);
  int gray = atoi(argv[4]), sub = atoi(argv[5]);
  int q = atoi(argv[6]), rst = atoi(argv[7]);
  unsigned seed = (unsigned)atoi(argv[8]);
  int arith = atoi(argv[9]);
  struct jpeg_compress_struct cinfo; struct jpeg_error_mgr jerr;
  FILE *f = fopen(argv[1], "wb");
  int nch = gray ? 1 : 3;
  unsigned char *row = malloc((size_t)w * nch);
  cinfo.err = jpeg_std_error(&jerr);
  jpeg_create_compress(&cinfo);
  jpeg_stdio_dest(&cinfo, f);
  cinfo.image_width = w; cinfo.image_height = h;
  cinfo.input_components = nch;
  cinfo.in_color_space = gray ? JCS_GRAYSCALE : JCS_RGB;
  jpeg_set_defaults(&cinfo);
  cinfo.arith_code = arith ? TRUE : FALSE;
  cinfo.optimize_coding = FALSE;
  jpeg_set_quality(&cinfo, q, TRUE);
  if (!gray && !sub) {
    cinfo.comp_info[0].h_samp_factor = 1;
    cinfo.comp_info[0].v_samp_factor = 1;
  }
  cinfo.restart_interval = rst;
  jpeg_start_compress(&cinfo, TRUE);
  unsigned s = seed;
  for (int y = 0; y < h; y++) {
    for (int x = 0; x < w * nch; x++) {
      s = s * 1103515245u + 12345u;
      row[x] = (s >> 16) & 0xFF;
    }
    JSAMPROW rp = row;
    jpeg_write_scanlines(&cinfo, &rp, 1);
  }
  jpeg_finish_compress(&cinfo);
  jpeg_destroy_compress(&cinfo);
  return 0;
}
"""


def _compile_libjpeg_tool(src_text, name):
    """Compile a small libjpeg harness; None when the toolchain is
    absent. The returned binary lives in a TemporaryDirectory the
    caller owns via the returned handle tuple (dir, path)."""
    import os
    import shutil
    import subprocess
    import tempfile
    if shutil.which("gcc") is None or not os.path.exists(
            "/usr/include/jpeglib.h"):
        return None
    td = tempfile.TemporaryDirectory()
    src = os.path.join(td.name, name + ".c")
    exe = os.path.join(td.name, name)
    with open(src, "w") as fh:
        fh.write(src_text)
    cc = subprocess.run(["gcc", "-O2", "-o", exe, src, "-ljpeg"],
                        capture_output=True)
    if cc.returncode != 0:
        td.cleanup()
        return None
    return td, exe


def test_jpeg_arith_qm_table_and_coder_roundtrip():
    """QM-coder unit layer: Table D.3 spot values are pinned to the
    published standard (state 0: Qe=0x5A1D with MPS switch; state 1:
    Qe=0x2586, NLPS=14 — the fast-attack jump into the second section;
    state 113: the self-looping fixed ~0.5 bin), and the encoder/
    decoder pair roundtrips 20k random decisions across shared adaptive
    bins — exercising renormalization, carry accumulation, 0xFF
    stuffing and the zero-feed tail."""
    import random

    from amazon_kinesis_replay_spark.functions.jpeg_arith import (
        _NLPS, _NMPS, _QE, FIXED_BIN, QMDecoder, QMEncoder)
    assert _QE[0] == 0x5A1D and _NLPS[0] == 0x81 and _NMPS[0] == 1
    assert _QE[1] == 0x2586 and _NLPS[1] == 14 and _NMPS[1] == 2
    assert _QE[FIXED_BIN] == 0x5A1D
    assert _NLPS[FIXED_BIN] == FIXED_BIN and _NMPS[FIXED_BIN] == FIXED_BIN

    rng = random.Random(9)
    bits = [rng.random() < (0.05 + 0.9 * (i % 7) / 6) for i in
            range(20000)]
    bins = [rng.randrange(8) for _ in bits]
    enc = QMEncoder()
    st = bytearray(8)
    for b, i in zip(bits, bins):
        enc.encode(st, i, int(b))
    data = enc.finish()
    assert b"\xff" not in data.replace(b"\xff\x00", b""), \
        "unstuffed 0xFF escaped the encoder"
    # QMDecoder's contract is DEstuffed input — in production the scan
    # splitter (_split_scan) removes the 0x00 after every 0xFF
    dec = QMDecoder(data.replace(b"\xff\x00", b"\xff"))
    st2 = bytearray(8)
    got = [dec.decode(st2, i) for i in bins]
    assert got == [int(b) for b in bits]
    assert st2 == st                     # state machines marched in step


def test_jpeg_arith_decodes_foreign_libjpeg_encodes():
    """Arithmetic-JPEG witness, decode direction (r9 verdict item 6,
    closed with a FOREIGN witness rather than encoder-first): the
    system libjpeg encodes the same raster twice — SOF9 arithmetic and
    SOF0 Huffman twins differ ONLY in the entropy layer — and this
    repo's decoder must produce BYTE-EQUAL pixels for both, across
    gray/color, 4:4:4/4:2:0, qualities, restart intervals and awkward
    dimensions. One 4:4:4 case is additionally compared per-pixel
    against libjpeg's own raster (<=3, IDCT rounding). Skipped when
    the C toolchain is unavailable."""
    import subprocess

    import numpy as np
    import pytest
    from amazon_kinesis_replay_spark.functions.jpeg import decode_jpeg
    tool = _compile_libjpeg_tool(_AENC_C, "aenc")
    if tool is None:
        pytest.skip("no C toolchain / jpeglib for the foreign witness")
    td, aenc = tool
    dump = _compile_libjpeg_tool(_JDUMP_C, "jdump")
    with td:
        for gray, sub, q, rst, w, h, seed in (
                (0, 0, 90, 0, 64, 48, 1), (0, 0, 60, 3, 37, 29, 2),
                (0, 1, 75, 0, 64, 48, 3), (0, 1, 60, 3, 129, 65, 4),
                (1, 0, 90, 0, 8, 8, 5), (1, 0, 60, 4, 63, 33, 6)):
            pa, ph = td.name + "/a.jpg", td.name + "/h.jpg"
            for path, arith in ((pa, 1), (ph, 0)):
                subprocess.run(
                    [aenc, path, str(w), str(h), str(gray), str(sub),
                     str(q), str(rst), str(seed), str(arith)],
                    check=True)
            da = decode_jpeg(open(pa, "rb").read())
            dh = decode_jpeg(open(ph, "rb").read())
            assert da == dh, (gray, sub, q, rst, w, h)
        if dump is not None:
            dtd, jdump = dump
            with dtd:
                r = subprocess.run([jdump, pa], capture_output=True)
                rw, rh = map(int, r.stderr.split())
                ref = np.frombuffer(r.stdout, np.uint8) \
                    .reshape(rh, rw, 3).astype(np.int16)
                mine = np.repeat(np.frombuffer(da[2], np.uint8)
                                 .reshape(da[1], da[0], 1), 3, axis=2) \
                    .astype(np.int16)
                assert int(np.abs(ref - mine).max()) <= 3


_PENC_C = _AENC_C.replace(
    "cinfo.restart_interval = rst;",
    "jpeg_simple_progression(&cinfo);\n  cinfo.restart_interval = rst;")


def test_jpeg_arith_progressive_decodes_foreign_libjpeg_twins():
    """SOF10 (progressive + arithmetic, T.81 G.2) witness: libjpeg's
    simple-progression script encoded with and without arith_code gives
    coefficient-identical streams, so this repo's decoder must produce
    BYTE-EQUAL pixels for both — across gray/color (default 4:2:0
    chroma: interleaved arith DC scans + per-component AC first AND
    refinement scans), qualities and restart intervals. Skipped when
    the C toolchain is unavailable."""
    import subprocess

    import pytest
    from amazon_kinesis_replay_spark.functions.jpeg import decode_jpeg
    tool = _compile_libjpeg_tool(_PENC_C, "penc")
    if tool is None:
        pytest.skip("no C toolchain / jpeglib for the foreign witness")
    td, penc = tool
    with td:
        for gray, q, rst, w, h, seed in (
                (0, 90, 0, 64, 48, 1), (0, 60, 2, 37, 29, 2),
                (1, 75, 0, 129, 65, 3), (1, 60, 3, 8, 8, 4)):
            pa, ph = td.name + "/pa.jpg", td.name + "/ph.jpg"
            # sub=1 keeps libjpeg's default 4:2:0 chroma for color —
            # interleaved DC scans + subsampled per-component AC grids
            for path, arith in ((pa, 1), (ph, 0)):
                subprocess.run(
                    [penc, path, str(w), str(h), str(gray), "1",
                     str(q), str(rst), str(seed), str(arith)],
                    check=True)
            assert decode_jpeg(open(pa, "rb").read()) == \
                decode_jpeg(open(ph, "rb").read()), (gray, q, rst, w, h)


def test_jpeg_arith_encoder_decodes_under_foreign_libjpeg():
    """Arithmetic-JPEG witness, encode direction: rasters encoded by
    THIS repo with arithmetic=True must decode under the system libjpeg
    byte-equal to its decode of this repo's Huffman encode of the same
    raster (coefficients identical, entropy layer swapped). The
    self-twin equality (our decoder on both encodes) runs regardless of
    the toolchain."""
    import subprocess

    import numpy as np
    import pytest
    from amazon_kinesis_replay_spark.functions.jpeg import (decode_jpeg,
                                                            encode_jpeg)
    rng = np.random.default_rng(5)
    cases = []
    for gray, sub, rst, w, h in ((False, False, 0, 64, 48),
                                 (False, True, 3, 37, 29),
                                 (True, False, 0, 8, 8),
                                 (False, False, 2, 31, 17)):
        nch = 1 if gray else 3
        pix = rng.integers(0, 256, (h, w, nch), np.uint8).tobytes()
        arith = encode_jpeg(w, h, pix, gray=gray, subsample=sub,
                            restart_interval=rst, arithmetic=True)
        huff = encode_jpeg(w, h, pix, gray=gray, subsample=sub,
                           restart_interval=rst)
        assert decode_jpeg(arith) == decode_jpeg(huff), (gray, sub, rst)
        cases.append((arith, huff))
    dump = _compile_libjpeg_tool(_JDUMP_C, "jdump")
    if dump is None:
        pytest.skip("self-twin only; no C toolchain for the foreign leg")
    dtd, jdump = dump
    with dtd:
        for n, (arith, huff) in enumerate(cases):
            pa, ph = f"{dtd.name}/o{n}a.jpg", f"{dtd.name}/o{n}h.jpg"
            open(pa, "wb").write(arith)
            open(ph, "wb").write(huff)
            ra = subprocess.run([jdump, pa], capture_output=True)
            rh = subprocess.run([jdump, ph], capture_output=True)
            assert ra.returncode == 0 and rh.returncode == 0, n
            assert ra.stderr == rh.stderr and ra.stdout == rh.stdout, n


def test_audio_containers_cross_decode_foreign_fixtures(spark):
    """Cross-container witness on REAL foreign files (CPython's
    audiodata fixtures: the same 'pluck' audio shipped as WAV, AIFF
    and Sun AU at several depths): every container/depth decodes to
    the same (rate, channels, frames); 24- and 32-bit PCM agree
    BYTE-EXACTLY across all three containers (BE/LE mirroring is
    perfect); 16-bit agrees within dither (<=2.5 in int16 scale);
    G.711 mu-law/A-law track the 16-bit master at corr >= 0.999; and
    a real WAVE_FORMAT_EXTENSIBLE file decodes identically to its
    plain-header twin. Skipped when the fixture tree is absent."""
    import os

    import numpy as np
    import pytest

    from amazon_kinesis_replay_spark.operators.multimodal import (
        _audio_mono_f64)
    base = ("/root/.pyenv/versions/3.7.16/lib/python3.7/test/"
            "audiodata/")
    if not os.path.isdir(base):
        pytest.skip("no CPython audiodata fixtures available")

    def d(f):
        return _audio_mono_f64(open(base + f, "rb").read())

    names = ["pluck-pcm8", "pluck-pcm16", "pluck-pcm24", "pluck-pcm32"]
    got = {}
    for n in names:
        for ext in (".wav", ".aiff", ".au"):
            rate, ch, frames, mono = d(n + ext)
            assert (rate, ch, frames) == (11025, 2, 3307), (n, ext)
            got[n + ext] = mono
    for n in ("pluck-pcm24", "pluck-pcm32"):       # byte-exact family
        assert (got[n + ".wav"] == got[n + ".aiff"]).all()
        assert (got[n + ".wav"] == got[n + ".au"]).all()
    for ext in (".aiff", ".au"):                   # dither-level only
        assert np.abs(got["pluck-pcm16" + ext]
                      - got["pluck-pcm16.wav"]).max() <= 2.5
    w16 = got["pluck-pcm16.wav"]
    for f in ("pluck-ulaw.au", "pluck-ulaw.aifc", "pluck-alaw.aifc"):
        rate, ch, frames, mono = d(f)
        assert (rate, ch, frames) == (11025, 2, 3307)
        assert np.corrcoef(mono, w16)[0, 1] >= 0.999, f

    ext_dir = ("/root/.pyenv/versions/3.13.0/lib/python3.13/test/"
               "audiodata/")
    if os.path.exists(ext_dir + "pluck-pcm24-ext.wav"):
        a = _audio_mono_f64(open(ext_dir + "pluck-pcm24.wav",
                                 "rb").read())
        b = _audio_mono_f64(open(ext_dir + "pluck-pcm24-ext.wav",
                                 "rb").read())
        assert a[:3] == b[:3] and (a[3] == b[3]).all()

    # the decode surface reaches Spark: AIFF + AU payloads through the
    # Arrow-batched decode_audio kernel
    rows = [(1, bytearray(open(base + "pluck-pcm16.aiff", "rb").read())),
            (2, bytearray(open(base + "pluck-ulaw.au", "rb").read()))]
    media = spark.createDataFrame(rows, "media_id long, data binary")
    out = {r["media_id"]: r for r in
           multimodal.decode_audio(media).collect()}
    for mid in (1, 2):
        assert out[mid]["sample_rate"] == 11025
        assert abs(out[mid]["duration_s"] - 3307 / 11025) < 1e-6
        assert len(out[mid]["mfcc"]) == 13


def test_audio_meta_mixed_container_kernel(spark):
    """The r10 audio gate surface end-to-end in Spark: mixed
    FLAC/WAV/AU/IMA-ADPCM payloads (synth_audio_blob %4 cycle) through
    the Arrow-batched audio_meta kernel — container-correct (rate,
    channels), the media_id-varying frame counts, and digests equal to
    the pure-Python driver-side recompute (the registry oracle's exact
    path). The ADPCM rows (mid%4==3) zero-pad to whole blocks, so their
    frame count rounds UP to a block multiple; every other mode keeps
    the exact closed-form count."""
    from amazon_kinesis_replay_spark.operators.multimodal import (
        _audio_mono_f64, audio_content_digest, synth_audio_blob)

    src = spark.range(12).select(
        F.col("id").alias("media_id"),
        F.encode(F.concat(F.lit("audio payload "), F.col("id")),
                 "UTF-8").alias("data"))
    out = {r["media_id"]: r for r in multimodal.audio_meta(
        multimodal.synthesize_audio_media(src)).collect()}
    assert len(out) == 12
    modes = set()
    for mid in range(12):
        blob = synth_audio_blob(mid, f"audio payload {mid}".encode())
        rate, ch, frames, mono = _audio_mono_f64(blob)
        r = out[mid]
        modes.add(mid % 4)
        assert (r["sample_rate"], r["channels"]) == (rate, ch)
        n = 400 + (mid % 7) * 37
        if mid % 4 == 3:
            assert r["channels"] == (2 if mid % 8 == 3 else 1)
            spb = 249          # (128*ch - 4*ch) // (4*ch) * 8 + 1
            assert r["total_frames"] == frames == -(-n // spb) * spb
        else:
            assert r["channels"] == (1 if mid % 4 == 1 else 2)
            assert r["total_frames"] == frames == n
        assert r["mono_digest"] == audio_content_digest(rate, ch, mono)
    assert modes == {0, 1, 2, 3}


def test_wav_ima_adpcm_foreign_witness_audioop():
    """IMA ADPCM (WAV format 0x11) pinned against CPython's audioop —
    a genuinely FOREIGN implementation of the same public IMA spec
    (audioop.c ships its own step/index tables and step order) present
    in this container's Python 3.11. Three directions:

    1. encoder->container->decoder e2e (mono + stereo, several block
       sizes), with every block's nibble stream repacked to audioop's
       high-nibble-first order and decoded via audioop.adpcm2lin from
       the block-header state — sample-exact agreement required;
    2. a FOREIGN-ENCODED stream (audioop.lin2adpcm over the real
       CPython pluck-pcm16.wav fixture when present, synthetic
       otherwise) must decode sample-exact through _ima_decode_step —
       audioop's quantizer makes different nibble choices than ours,
       so this leg witnesses the decoder on nibble sequences our
       encoder never emits;
    3. malformed headers raise ValueError (step index > 88, block_align
       too small), per the audio contract."""
    import math
    import os
    import struct
    import warnings

    import numpy as np
    import pytest

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    from amazon_kinesis_replay_spark.operators.multimodal import (
        _ima_adpcm_f64, _ima_decode_step, _parse_wav, _wav_mono_f64,
        encode_wav_ima)

    sig = [max(-32768, min(32767, int(9000 * math.sin(i / 7.0))
                           + ((i * 37) % 257 - 128) * 9))
           for i in range(3000)]

    # 1) e2e + per-block audioop agreement
    for ch, ba in ((1, 128), (2, 256), (2, 512), (1, 2048)):
        blob = encode_wav_ima(8000, ch, (sig * ch)[:len(sig) // ch * ch],
                              block_align=ba)
        rate, c2, _frames, _mono = _wav_mono_f64(blob)
        assert (rate, c2) == (8000, ch)
        _r, cc, bits, pcm, fmt, b_a = _parse_wav(blob)
        assert (fmt, bits, b_a) == (0x11, 4, ba)
        mine = _ima_adpcm_f64(pcm, cc, b_a)
        for base in range(0, len(pcm), ba):
            block = pcm[base:base + ba]
            for c in range(cc):
                pred, idx, _ = struct.unpack_from("<hBB", block, 4 * c)
                nibs = []
                data = block[4 * cc:]
                for pos in range(0, len(data) - 4 * cc + 1, 4 * cc):
                    for byte in data[pos + 4 * c:pos + 4 * c + 4]:
                        nibs += [byte & 0xF, byte >> 4]
                packed = bytes((nibs[i] << 4) | nibs[i + 1]
                               for i in range(0, len(nibs), 2))
                lin, _st = audioop.adpcm2lin(packed, 2, (pred, idx))
                theirs = np.frombuffer(lin, "<i2").astype(np.int64)
                spb = len(nibs) + 1
                blk = base // ba
                mc = mine[c::cc][blk * spb:(blk + 1) * spb] \
                    .astype(np.int64)
                assert mc[0] == pred
                assert (mc[1:] == theirs).all()

    # 2) foreign-encoded stream decodes sample-exact
    fixture = ("/root/.pyenv/versions/3.7.16/lib/python3.7/test/"
               "audiodata/pluck-pcm16.wav")
    if os.path.isfile(fixture):
        _r, fch, _b, fpcm, _f, _ba2 = _parse_wav(
            open(fixture, "rb").read())
        left = np.frombuffer(fpcm[:len(fpcm) & ~1], "<i2")[::fch]
        frag = left.astype("<i2").tobytes()
    else:  # pragma: no cover - fixture always present in this container
        frag = struct.pack(f"<{len(sig)}h", *sig)
    adp, _st = audioop.lin2adpcm(frag, 2, None)
    lin, _st = audioop.adpcm2lin(adp, 2, (0, 0))
    theirs = np.frombuffer(lin, "<i2").astype(np.int64)
    p, ix = 0, 0
    mine2 = np.empty(len(adp) * 2, dtype=np.int64)
    k = 0
    for byte in adp:
        for d in (byte >> 4, byte & 0xF):      # audioop: high first
            p, ix = _ima_decode_step(p, ix, d)
            mine2[k] = p
            k += 1
    assert (mine2 == theirs).all()
    assert len(theirs) >= 2000                 # a real-length witness

    # 3) malformed headers raise
    good = encode_wav_ima(8000, 1, sig[:600], block_align=128)
    _r, _c, _b, pcm, _f, _ba3 = _parse_wav(good)
    bad = bytearray(pcm)
    bad[2] = 89                                # step index out of range
    with pytest.raises(ValueError, match="step index"):
        _ima_adpcm_f64(bytes(bad), 1, 128)
    with pytest.raises(ValueError, match="block_align"):
        _ima_adpcm_f64(pcm, 4, 16)


def test_au_malformed_header_raises_value_error():
    """Malformed-streams-raise-ValueError contract for the AU path
    (r9 advice): rate=0 or channels=0 in the header must surface as
    ValueError, not ZeroDivisionError deep in the mono/duration math
    — mirroring the WAV/AIFF validation."""
    import struct

    import pytest

    from amazon_kinesis_replay_spark.operators.multimodal import (
        _au_mono_f64)

    def au(enc, rate, channels, body=b"\x00" * 64):
        return (b".snd" + struct.pack(">IIIII", 24, len(body), enc,
                                      rate, channels) + body)

    # sane header decodes fine (PCM16, one channel)
    rate, ch, frames, mono = _au_mono_f64(au(3, 8000, 1))
    assert (rate, ch, frames) == (8000, 1, 32)
    with pytest.raises(ValueError, match="malformed AU header"):
        _au_mono_f64(au(3, 0, 1))
    with pytest.raises(ValueError, match="malformed AU header"):
        _au_mono_f64(au(3, 8000, 0))


def test_flac_codec_lossless_roundtrip_matrix():
    """FLAC witness layer 1 (the r9 verdict's #2 ask): decode(encode(x))
    must be SAMPLE-EXACT across bit depths (8/12/16/20/24/32), channel
    modes (mono; stereo independent / left-side / right-side / mid-side),
    FIXED vs LPC predictors, and Rice partition orders — the lossless
    contract. The container ships no FLAC tooling (checked r10), so the
    encoder is the fixture synthesizer (progressive-JPEG precedent,
    functions/jpeg.py:771); partial independence comes from the pinned
    public CRC check values (layer 3, separate test) and the
    STREAMINFO-MD5 input-vs-output meet (decode_flac always verifies
    it). The `stats` hook proves each decode path actually ran."""
    import numpy as np

    from amazon_kinesis_replay_spark.functions.flac import (
        decode_flac, encode_flac)
    rng = np.random.default_rng(7)
    stats: dict = {}
    for bits in (8, 12, 16, 20, 24, 32):
        for ch, stereo in ((1, "independent"), (2, "independent"),
                           (2, "left_side"), (2, "right_side"),
                           (2, "mid_side")):
            n, lim = 2000, 1 << (bits - 1)
            t = np.arange(n * ch)
            x = (np.sin(t * 0.03) * (lim // 3)
                 + rng.integers(-lim // 64, lim // 64, n * ch)
                 ).astype(np.int64).reshape(n, ch)
            for lpc, po in ((0, 0), (8, 2)):
                raw = encode_flac(44100, ch, bits, x, blocksize=512,
                                  stereo=stereo, lpc_order=lpc,
                                  partition_order=po)
                r, c, b, f, y = decode_flac(raw, stats)
                assert (r, c, b, f) == (44100, ch, bits, n)
                assert (y == x).all(), (bits, ch, stereo, lpc, po)
    # higher fixed orders: k-times integrated noise has its k-th
    # difference equal to the tiny original noise, so order-k is the
    # clear minimum-residual choice
    for k in (3, 4):
        x = rng.integers(-2, 3, 300).astype(np.int64)
        for _ in range(k):
            x = np.cumsum(x)
        assert np.abs(x).max() < 1 << 31
        raw = encode_flac(8000, 1, 32, x.reshape(-1, 1), blocksize=300)
        assert (decode_flac(raw, stats)[4].reshape(-1) == x).all()
    # constant / verbatim-adjacent edges + wasted bits + escape parts
    x = np.full((300, 1), -123, np.int64)
    assert (decode_flac(encode_flac(8000, 1, 16, x), stats)[4] == x).all()
    x = (rng.integers(-2000, 2000, (2000, 1)) << 4).astype(np.int64)
    assert (decode_flac(encode_flac(8000, 1, 16, x), stats)[4] == x).all()
    x = rng.integers(-128, 128, (2048, 1)).astype(np.int64)  # noise: escape
    assert (decode_flac(encode_flac(8000, 1, 8, x), stats)[4] == x).all()
    # every decode path genuinely ran
    assert {"left_side", "right_side", "mid_side",
            "independent"} <= stats["channel_modes"]
    assert {"fixed3", "fixed4", "lpc8", "constant"} <= stats["subframes"]
    assert any(s.startswith("fixed") and s[5] in "012"
               for s in stats["subframes"])
    assert {0, 2} <= stats["partition_orders"]
    assert stats.get("wasted", 0) > 0
    assert stats.get("escapes", 0) > 0


def test_flac_seeded_fuzz_roundtrip():
    """Seeded random sweep over lengths (incl. 0/1/block-boundary),
    depths, channel modes, predictors, partition orders and content
    classes (noise / full-scale / constant / ramp / tone). This sweep
    caught a real encoder bug the systematic matrix missed: the LPC
    shift field is 5-bit SIGNED, so computed shifts of 16..31 (tiny
    LPC coefficients on noise inputs) wrapped negative on decode —
    now clamped to 15."""
    import numpy as np

    from amazon_kinesis_replay_spark.functions.flac import (
        decode_flac, encode_flac)
    rng = np.random.default_rng(123)
    for _ in range(120):
        bits = int(rng.choice([4, 8, 12, 16, 24, 32]))
        ch = int(rng.choice([1, 2]))
        n = int(rng.choice([0, 1, 2, 255, 256, 257, 1000]))
        lim = 1 << (bits - 1)
        mode = rng.choice(["noise", "fullscale", "const", "tone"])
        if mode == "noise":
            x = rng.integers(-lim, lim, (n, ch))
        elif mode == "fullscale":
            x = rng.choice([-lim, lim - 1, 0], size=(n, ch))
        elif mode == "const":
            x = np.full((n, ch), int(rng.integers(-lim, lim)))
        else:
            t = np.arange(n * ch).reshape(n, ch)
            x = (np.sin(t * 0.05) * (lim - 1)).astype(np.int64)
        x = x.astype(np.int64)
        stereo = str(rng.choice(["independent", "left_side",
                                 "right_side", "mid_side"])) \
            if ch == 2 else "independent"
        raw = encode_flac(44100, ch, bits, x,
                          blocksize=int(rng.choice([192, 256, 1000])),
                          stereo=stereo,
                          lpc_order=int(rng.choice([0, 1, 8, 32])),
                          partition_order=int(rng.choice([0, 2, 4])))
        r, c, b, f, y = decode_flac(raw)
        assert (r, c, b, f) == (44100, ch, bits, n)
        assert (y == x).all()


def test_ima_adpcm_seeded_fuzz_vs_audioop():
    """Seeded random sweep for the IMA ADPCM codec over lengths
    (incl. 0/1/block-boundary), channel counts, block sizes and content
    classes (noise / full-scale steps / constant / tone) — every blob
    roundtrips through encode_wav_ima -> _wav_mono_f64, and every
    block's nibble stream must decode sample-exact through CPython's
    audioop from the block-header state (the foreign-witness invariant,
    fuzzed rather than fixed-cased)."""
    import math
    import struct
    import warnings

    import numpy as np

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    from amazon_kinesis_replay_spark.operators.multimodal import (
        _parse_wav, _wav_mono_f64, encode_wav_ima)

    rng = np.random.default_rng(321)
    for _ in range(60):
        ch = int(rng.choice([1, 2]))
        ba = int(rng.choice([16, 128, 512])) * ch
        spb = (ba - 4 * ch) // (4 * ch) * 8 + 1
        n = int(rng.choice([0, 1, spb - 1, spb, spb + 1, 700]))
        mode = rng.choice(["noise", "steps", "const", "tone"])
        if mode == "noise":
            x = rng.integers(-32768, 32768, n * ch)
        elif mode == "steps":
            x = rng.choice([-32768, 32767, 0], size=n * ch)
        elif mode == "const":
            x = np.full(n * ch, int(rng.integers(-32768, 32768)))
        else:
            x = (np.sin(np.arange(n * ch) * 0.21) * 30000).astype(int)
        blob = encode_wav_ima(8000, ch, [int(v) for v in x],
                              block_align=ba)
        rate, c2, frames, _mono = _wav_mono_f64(blob)
        assert (rate, c2) == (8000, ch)
        assert frames == max(1, math.ceil(n / spb)) * spb
        _r, cc, _b, pcm, _f, b_a = _parse_wav(blob)
        from amazon_kinesis_replay_spark.operators.multimodal import (
            _ima_adpcm_f64)
        mine = _ima_adpcm_f64(pcm, cc, b_a)
        for base in range(0, len(pcm), b_a):
            block = pcm[base:base + b_a]
            data = block[4 * cc:]
            for c in range(cc):
                pred, idx, _ = struct.unpack_from("<hBB", block, 4 * c)
                nibs = []
                for pos in range(0, len(data) - 4 * cc + 1, 4 * cc):
                    for byte in data[pos + 4 * c:pos + 4 * c + 4]:
                        nibs += [byte & 0xF, byte >> 4]
                packed = bytes((nibs[i] << 4) | nibs[i + 1]
                               for i in range(0, len(nibs), 2))
                lin, _st = audioop.adpcm2lin(packed, 2, (pred, idx))
                theirs = np.frombuffer(lin, "<i2").astype(np.int64)
                blk = base // b_a
                mc = mine[c::cc][blk * spb:(blk + 1) * spb] \
                    .astype(np.int64)
                assert mc[0] == pred
                assert (mc[1:] == theirs).all()


def test_flac_crc_kernels_match_public_check_values():
    """FLAC witness layer 3: the CRC-8 (poly 0x07) and CRC-16 (poly
    0x8005, unreflected, init 0) kernels are pinned to their PUBLIC
    catalogue check values over '123456789' — CRC-8/SMBUS 0xF4 and
    CRC-16/UMTS (BUYPASS) 0xFEE8 — independent of this repo's framing
    code, so an encoder+decoder that agreed on a WRONG polynomial
    would fail here even though roundtrips pass."""
    from amazon_kinesis_replay_spark.functions.flac import crc8, crc16
    assert crc8(b"123456789") == 0xF4
    assert crc16(b"123456789") == 0xFEE8


def test_flac_rejects_tampered_streams():
    """Wrong samples are never emitted silently: a flipped frame byte
    fails the frame CRC-16; a tampered STREAMINFO MD5 (not covered by
    any CRC) fails the decoded-samples MD5; a truncated stream raises;
    non-FLAC magic raises ValueError."""
    import numpy as np
    import pytest

    from amazon_kinesis_replay_spark.functions.flac import (
        decode_flac, encode_flac)
    rng = np.random.default_rng(11)
    x = rng.integers(-3000, 3000, (1200, 2)).astype(np.int64)
    raw = bytearray(encode_flac(22050, 2, 16, x))
    decode_flac(bytes(raw))                          # sanity: intact ok
    bad = bytearray(raw)
    bad[-40] ^= 0x01                                 # inside a frame body
    with pytest.raises(ValueError):
        decode_flac(bytes(bad))
    bad = bytearray(raw)
    bad[8 + 18] ^= 0xFF                              # STREAMINFO MD5 byte
    with pytest.raises(ValueError, match="MD5|CRC"):
        decode_flac(bytes(bad))
    with pytest.raises(ValueError):
        decode_flac(bytes(raw[: len(raw) // 2]))
    with pytest.raises(ValueError, match="not a FLAC"):
        decode_flac(b"OggS" + bytes(raw[4:]))


def test_flac_cross_container_witness_and_spark_decode(spark):
    """FLAC witness layer 2 — the cross-container pattern the audio
    family uses (same audio, different containers, byte-equal decode):
    the REAL CPython 'pluck' WAV masters are re-encoded to FLAC
    (16-bit via mid/side + LPC, 24-bit via independent + fixed) and
    `_audio_mono_f64` on the FLAC bytes must return the EXACT
    (rate, channels, frames, mono) of the WAV master. Then a FLAC
    payload rides the Arrow-batched decode_audio kernel end-to-end."""
    import os

    import numpy as np
    import pytest

    from amazon_kinesis_replay_spark.functions.flac import encode_flac
    from amazon_kinesis_replay_spark.operators import multimodal
    from amazon_kinesis_replay_spark.operators.multimodal import (
        _audio_mono_f64, _parse_wav)
    base = ("/root/.pyenv/versions/3.7.16/lib/python3.7/test/"
            "audiodata/")
    if not os.path.isdir(base):
        pytest.skip("no CPython audiodata fixtures available")

    wav16 = open(base + "pluck-pcm16.wav", "rb").read()
    rate, ch, bits, pcm, fmt, _ba = _parse_wav(wav16)
    assert (fmt, bits, ch) == (1, 16, 2)
    s16 = np.frombuffer(pcm[:len(pcm) & ~1], "<i2").astype(np.int64)
    flac16 = encode_flac(rate, ch, 16, s16.reshape(-1, ch),
                         stereo="mid_side", lpc_order=8,
                         partition_order=2)
    assert _audio_mono_f64(flac16)[0:3] == _audio_mono_f64(wav16)[0:3]
    assert (_audio_mono_f64(flac16)[3] == _audio_mono_f64(wav16)[3]).all()

    wav24 = open(base + "pluck-pcm24.wav", "rb").read()
    rate, ch, bits, pcm, fmt, _ba = _parse_wav(wav24)
    assert (fmt, bits, ch) == (1, 24, 2)
    b = np.frombuffer(pcm[:len(pcm) - len(pcm) % 3],
                      np.uint8).reshape(-1, 3)
    s24 = (b[:, 0].astype(np.int64) | (b[:, 1].astype(np.int64) << 8)
           | (b[:, 2].astype(np.int64) << 16))
    s24[s24 >= 1 << 23] -= 1 << 24
    flac24 = encode_flac(rate, ch, 24, s24.reshape(-1, ch))
    assert _audio_mono_f64(flac24)[0:3] == _audio_mono_f64(wav24)[0:3]
    assert (_audio_mono_f64(flac24)[3] == _audio_mono_f64(wav24)[3]).all()

    # FLAC size sanity: a real compressor, not verbatim-in-a-container
    assert len(flac16) < 0.9 * len(wav16), (len(flac16), len(wav16))

    media = spark.createDataFrame(
        [(1, bytearray(flac16)), (2, bytearray(flac24))],
        "media_id long, data binary")
    out = {r["media_id"]: r for r in
           multimodal.decode_audio(media).collect()}
    for mid in (1, 2):
        assert out[mid]["sample_rate"] == 11025
        assert abs(out[mid]["duration_s"] - 3307 / 11025) < 1e-6
        assert len(out[mid]["mfcc"]) == 13


def test_tiff_16bit_and_tiled_witness_libtiff():
    """r10 verdict 'codec frontier' item closed (r11): 16-bit depths
    and the §15 tiled layout, pinned against libtiff in BOTH
    directions. Our encoder's 16-bit/tiled files read back through
    TIFFReadScanline / TIFFReadEncodedTile sample-exact (libtiff
    byte-swaps to host order — MM files prove the swap path), and
    libtiff-WRITTEN 16-bit + tiled files decode through decode_tiff
    exactly (16-bit downscaled by the engine-wide round(v*255/65535)
    rule). Exercises LZW + per-SAMPLE 16-bit predictor and edge-tile
    padding/cropping in all four direction/layout combinations."""
    import ctypes
    import os
    import random
    import struct
    import tempfile

    import pytest

    from amazon_kinesis_replay_spark.functions.tiff import (decode_tiff,
                                                            encode_tiff)

    try:
        L = ctypes.CDLL("libtiff.so.6")
    except OSError:
        pytest.skip("libtiff.so.6 not available")
    L.TIFFOpen.restype = ctypes.c_void_p
    L.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
    L.TIFFReadScanline.restype = ctypes.c_int
    L.TIFFReadScanline.argtypes = [ctypes.c_void_p, ctypes.c_void_p,
                                   ctypes.c_uint32, ctypes.c_uint16]
    L.TIFFWriteScanline.restype = ctypes.c_int
    L.TIFFWriteScanline.argtypes = [ctypes.c_void_p, ctypes.c_void_p,
                                    ctypes.c_uint32, ctypes.c_uint16]
    L.TIFFReadEncodedTile.restype = ctypes.c_ssize_t
    L.TIFFReadEncodedTile.argtypes = [ctypes.c_void_p, ctypes.c_uint32,
                                      ctypes.c_void_p, ctypes.c_ssize_t]
    L.TIFFWriteTile.restype = ctypes.c_ssize_t
    L.TIFFWriteTile.argtypes = [ctypes.c_void_p, ctypes.c_void_p,
                                ctypes.c_uint32, ctypes.c_uint32,
                                ctypes.c_uint32, ctypes.c_uint16]

    def setf(tif, tag, val, is32=False):
        arg = ctypes.c_uint32(val) if is32 else ctypes.c_int(val)
        assert L.TIFFSetField(ctypes.c_void_p(tif),
                              ctypes.c_uint32(tag), arg)

    def tmp(blob=None):
        with tempfile.NamedTemporaryFile(suffix=".tif",
                                         delete=False) as f:
            if blob:
                f.write(blob)
            return f.name

    def lt_read_rows(blob, w, h, row_bytes):
        """decoded raw rows via TIFFReadScanline (host byte order)."""
        path = tmp(blob)
        try:
            tif = L.TIFFOpen(path.encode(), b"r")
            assert tif
            out = bytearray()
            buf = ctypes.create_string_buffer(row_bytes + 8)
            for r in range(h):
                assert L.TIFFReadScanline(ctypes.c_void_p(tif), buf,
                                          r, 0) == 1, r
                out += buf.raw[:row_bytes]
            L.TIFFClose(ctypes.c_void_p(tif))
            return bytes(out)
        finally:
            os.unlink(path)

    def lt_read_tiles(blob, w, h, tw, tl, spp, ss):
        """decoded padded tiles via TIFFReadEncodedTile, assembled."""
        path = tmp(blob)
        try:
            tif = L.TIFFOpen(path.encode(), b"r")
            assert tif
            img_row = w * spp * ss
            tile_row = tw * spp * ss
            tsize = tl * tile_row
            out = bytearray(h * img_row)
            buf = ctypes.create_string_buffer(tsize)
            across = (w + tw - 1) // tw
            for ty in range((h + tl - 1) // tl):
                for tx in range(across):
                    n = L.TIFFReadEncodedTile(
                        ctypes.c_void_p(tif), ty * across + tx, buf,
                        tsize)
                    assert n == tsize, (ty, tx, n)
                    ncols = min(tw, w - tx * tw) * spp * ss
                    for r in range(min(tl, h - ty * tl)):
                        dst = (ty * tl + r) * img_row + tx * tile_row
                        out[dst:dst + ncols] = buf.raw[
                            r * tile_row:r * tile_row + ncols]
            L.TIFFClose(ctypes.c_void_p(tif))
            return bytes(out)
        finally:
            os.unlink(path)

    def lt_write(w, h, px, spp, bits, comp, pred, tile=None):
        """libtiff-written file (native II order)."""
        path = tmp()
        tif = L.TIFFOpen(path.encode(), b"w")
        assert tif
        setf(tif, 256, w, True)
        setf(tif, 257, h, True)
        setf(tif, 258, bits)
        setf(tif, 259, comp)
        setf(tif, 262, 1 if spp == 1 else 2)
        setf(tif, 277, spp)
        setf(tif, 284, 1)
        if pred != 1:
            setf(tif, 317, pred)
        ss = bits // 8
        img_row = w * spp * ss
        if tile is None:
            setf(tif, 278, h, True)
            for r in range(h):
                buf = ctypes.create_string_buffer(
                    px[r * img_row:(r + 1) * img_row], img_row)
                assert L.TIFFWriteScanline(ctypes.c_void_p(tif), buf,
                                           r, 0) == 1
        else:
            tw, tl = tile
            setf(tif, 322, tw, True)
            setf(tif, 323, tl, True)
            tile_row = tw * spp * ss
            for ty in range(0, h, tl):
                for tx in range(0, w, tw):
                    data = bytearray(tl * tile_row)
                    ncols = min(tw, w - tx) * spp * ss
                    for r in range(min(tl, h - ty)):
                        src = (ty + r) * img_row + tx * spp * ss
                        data[r * tile_row:r * tile_row + ncols] = \
                            px[src:src + ncols]
                    buf = ctypes.create_string_buffer(bytes(data),
                                                      len(data))
                    assert L.TIFFWriteTile(ctypes.c_void_p(tif), buf,
                                           tx, ty, 0, 0) >= 0
        L.TIFFClose(ctypes.c_void_p(tif))
        blob = open(path, "rb").read()
        os.unlink(path)
        return blob

    rng = random.Random(77)

    # direction 1: OUR encoder -> libtiff raw reads, sample-exact
    for trial in range(14):
        w, h = rng.randint(1, 60), rng.randint(1, 60)
        spp = rng.choice([1, 3])
        comp = rng.choice([1, 5])
        pred = rng.choice([1, 2]) if comp == 5 else 1
        bits = rng.choice([8, 16])
        be = rng.random() < 0.5
        tiled = rng.random() < 0.5
        tile = (16, 32) if tiled else None
        ss = bits // 8
        n = w * h * spp
        if bits == 8:
            px = os.urandom(n)
            host = px
        else:
            vals = [rng.randrange(65536) for _ in range(n)]
            px = struct.pack((">" if be else "<") + "%dH" % n, *vals)
            host = struct.pack("=%dH" % n, *vals)   # scanline host order
        blob = encode_tiff(w, h, px, spp=spp, compression=comp,
                           predictor=pred, big_endian=be, bits=bits,
                           tile=tile)
        if tiled:
            got = lt_read_tiles(blob, w, h, 16, 32, spp, ss)
        else:
            got = lt_read_rows(blob, w, h, w * spp * ss)
        assert got == host, (trial, w, h, spp, comp, pred, bits, tiled)

    # direction 2: libtiff-written -> decode_tiff, engine-rule exact
    for trial in range(14):
        w, h = rng.randint(1, 60), rng.randint(1, 60)
        spp = rng.choice([1, 3])
        comp = rng.choice([1, 5])
        pred = rng.choice([1, 2]) if comp == 5 else 1
        bits = rng.choice([8, 16])
        tiled = rng.random() < 0.5
        tile = (32, 16) if tiled else None
        n = w * h * spp
        if bits == 8:
            px = os.urandom(n)
            want = px
        else:
            vals = [rng.randrange(65536) for _ in range(n)]
            px = struct.pack("=%dH" % n, *vals)     # host order for write
            want = bytes((v * 255 + 32767) // 65535 for v in vals)
        blob = lt_write(w, h, px, spp, bits, comp, pred, tile)
        gw, gh, got = decode_tiff(blob)
        assert (gw, gh) == (w, h)
        assert got == want, (trial, w, h, spp, comp, pred, bits, tiled)


def test_semantic_dedup_multi_assign(spark, sf_dir):
    """n_assign=2 (r11): a near-dup pair SPLIT across a cluster
    boundary is invisible to flat SemDeDup (the confinement miss mode
    the recall probe measured at 0.32 recall) and caught when each
    vector also joins via its second-nearest centroid. Crafted case:
    two anchors pull the pair into different clusters; the marked-dup
    output stays one row per id with the PRIMARY centroid. On the
    fixture: single-assign dups ⊆ multi-assign dups ⊆ exact dups."""
    # anchors at +x and +y; the near-dup pair sits near the diagonal,
    # one member each side -> different primary clusters
    rows = [(0, [1.0, 0.0, 0.0, 0.0]),        # anchor A (centroid seed)
            (1, [0.0, 1.0, 0.0, 0.0]),        # anchor B (centroid seed)
            (2, [0.72, 0.69, 0.0, 0.0]),      # pair, leans A
            (3, [0.69, 0.72, 0.0, 0.0])]      # pair, leans B
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=0.99, n_centroids=2, n_iters=0)

    def run(n_assign):
        out = similarity.semantic_dedup(emb, n_assign=n_assign, **kw)
        rows_ = out.collect()
        assert sorted(r["id"] for r in rows_) == [0, 1, 2, 3]  # 1/id
        return {r["id"] for r in rows_ if r["is_dup"]}, \
            {r["id"]: r["centroid_id"] for r in rows_}

    flat, cent1 = run(1)
    multi, cent2 = run(2)
    assert cent1 == cent2                     # primary assignment kept
    assert cent1[2] != cent1[3]               # the pair IS split
    assert flat == set()                      # invisible at n_assign=1
    assert multi == {3}                       # min-id-wins: 3 dups to 2

    # fixture ordering: flat ⊆ multi ⊆ exact (all-pairs), recall up
    fix = load(spark, sf_dir, "embeddings")
    d1 = {r["id"] for r in similarity.semantic_dedup(
        fix, threshold=0.4, n_centroids=16, n_iters=2)
        .filter("is_dup").collect()}
    d2 = {r["id"] for r in similarity.semantic_dedup(
        fix, threshold=0.4, n_centroids=16, n_iters=2, n_assign=2)
        .filter("is_dup").collect()}
    ex = {r["id"] for r in similarity.semantic_dedup(
        fix, threshold=0.4, n_centroids=1, n_iters=1)
        .filter("is_dup").collect()}
    assert d1 <= d2 <= ex
    assert len(d2) > len(d1)                  # recall actually improves


def test_semantic_dedup_two_level_multi_assign(spark, sf_dir):
    """n_assign=2 on the TWO-LEVEL variant (the 100 TB shape, where
    smaller leaves make confinement misses worse): output stays one
    row per id with the primary leaf; dup sets nest single ⊆ multi ⊆
    exact and recall strictly improves on the fixture."""
    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    one = similarity.semantic_dedup_two_level(
        emb, threshold=0.3, n_coarse=4, n_fine=4, n_iters=2)
    two = similarity.semantic_dedup_two_level(
        emb, threshold=0.3, n_coarse=4, n_fine=4, n_iters=2, n_assign=2)
    rows2 = two.collect()
    assert len(rows2) == n                     # one row per id
    d1 = {r["id"] for r in one.filter("is_dup").collect()}
    d2 = {r["id"] for r in rows2 if r["is_dup"]}
    ex = {r["id"] for r in similarity.semantic_dedup(
        emb, threshold=0.3, n_centroids=1, n_iters=1)
        .filter("is_dup").collect()}
    assert d1 <= d2 <= ex
    assert len(d2) > len(d1)
    # primary assignment identical between the two runs
    c1 = {r["id"]: r["centroid_id"] for r in one.collect()}
    c2 = {r["id"]: r["centroid_id"] for r in rows2}
    assert c1 == c2


def test_tiff_seeded_mutation_fuzz_never_crashes():
    """Corrupt-input robustness for the TIFF decoder (the zstd/brotli
    fuzz contract, extended to the r11 tiled/16-bit surface): 600
    seeded bit-flips, truncations and header-field scribbles across
    strip/tile x 8/16-bit x compression blobs each either raise
    TIFFError / NotImplementedError or decode to SOME pixels — never a
    foreign exception (struct.error, IndexError, MemoryError from a
    crafted-dims allocation bomb), hang, or silent short output."""
    import os
    import random
    import struct as st

    from amazon_kinesis_replay_spark.functions.tiff import (TIFFError,
                                                            decode_tiff,
                                                            encode_tiff)

    rng = random.Random(13)
    blobs = []
    for spp, comp, bits, tile in [(1, 1, 8, None), (3, 5, 8, (16, 16)),
                                  (3, 5, 16, None), (1, 32773, 8, None),
                                  (4, 1, 16, (16, 16)),
                                  (3, 5, 16, (16, 32))]:
        w, h = rng.randint(3, 40), rng.randint(3, 40)
        n = w * h * spp
        px = (os.urandom(n) if bits == 8
              else st.pack("<%dH" % n, *(rng.randrange(65536)
                                         for _ in range(n))))
        blobs.append(encode_tiff(w, h, px, spp=spp, compression=comp,
                                 predictor=2 if comp == 5 else 1,
                                 bits=bits, tile=tile))

    for trial in range(600):
        b = bytearray(blobs[trial % len(blobs)])
        mode = trial % 3
        if mode == 0:
            k = rng.randrange(len(b))
            b[k] ^= 1 << rng.randrange(8)
            mut = bytes(b)
        elif mode == 1:
            mut = bytes(b[:rng.randrange(len(b))])
        else:
            # scribble a 32-bit value into the IFD region (offsets,
            # counts, dims — the allocation-bomb surface)
            k = rng.randrange(8, min(len(b) - 4, 200))
            st.pack_into("<I", b, k, rng.choice(
                [0, 1, 0xFFFFFFFF, 1 << 30, 1 << 20, len(b) * 3]))
            mut = bytes(b)
        try:
            w, h, px = decode_tiff(mut)
            assert len(px) in (w * h, w * h * 3, w * h * 4), trial
        except (TIFFError, NotImplementedError):
            pass


def test_tiff_16bit_allocation_bomb_guard():
    """r11 advice (medium): a <1 MB LZW 16-bit TIFF declaring dims that
    pass the old SAMPLE-count cap but explode in BYTES
    (w*h*spp <= 2^30 yet w*h*spp*ss >> 2^28) must raise TIFFError from
    the byte-size guard BEFORE any decompression or allocation — the
    r11 tuple-building 16->8 path would have attempted tens of GiB
    (~30+ bytes per sample). Wall time and Python peak allocation are
    pinned so a guard regression fails loudly, not by OOM-killing the
    suite."""
    import struct as st
    import time
    import tracemalloc

    import pytest

    from amazon_kinesis_replay_spark.functions.tiff import (TIFFError,
                                                            decode_tiff,
                                                            encode_tiff)

    def patch_long(buf: bytearray, tag: int, value: int) -> None:
        # rewrite the IFD entry as LONG cnt=1 with an inline value
        off = st.unpack_from("<I", buf, 4)[0]
        n = st.unpack_from("<H", buf, off)[0]
        for i in range(n):
            e = off + 2 + 12 * i
            if st.unpack_from("<H", buf, e)[0] == tag:
                st.pack_into("<HHII", buf, e, tag, 4, 1, value)
                return
        raise AssertionError(f"tag {tag} not in IFD")

    base = encode_tiff(8, 8, bytes(8 * 8 * 2), spp=1, compression=5,
                       bits=16)
    assert len(base) < (1 << 20)
    for w, h in [(16384, 16384), (30000, 9000)]:
        assert w * h * 1 <= (1 << 30)          # dodges the sample cap
        assert w * h * 1 * 2 > (1 << 28)       # trips the byte cap
        b = bytearray(base)
        patch_long(b, 256, w)
        patch_long(b, 257, h)
        tracemalloc.start()
        t0 = time.monotonic()
        with pytest.raises(TIFFError):
            decode_tiff(bytes(b))
        dt = time.monotonic() - t0
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        assert dt < 2.0 and peak < (32 << 20), (dt, peak)

    # the tile-geometry cap is byte-denominated too: image dims stay
    # tiny (pass both whole-image guards) while the declared TILE is
    # the bomb
    tiled = encode_tiff(16, 16, bytes(16 * 16 * 2), spp=1,
                        compression=5, bits=16, tile=(16, 16))
    b = bytearray(tiled)
    patch_long(b, 322, 16384)                  # TileWidth
    patch_long(b, 323, 16384)                  # TileLength
    with pytest.raises(TIFFError):
        decode_tiff(bytes(b))


def test_decode_images_tiff_cap_knob_reaches_executors(spark):
    """r13 review (the knob's own error message advertises raising
    `functions.tiff.MAX_SAMPLE_BYTES` — but a module knob set on the
    driver never reaches executor Python workers, which re-import the
    package and see the default): decode kernels snapshot the driver's
    codec caps at plan-build time and re-apply them worker-side.
    Proven in the decisive direction — LOWER the knob on the driver and
    watch valid TIFF blobs get cap-skipped in the distributed path,
    then restore it and watch them decode."""
    from amazon_kinesis_replay_spark.functions import tiff
    from amazon_kinesis_replay_spark.operators.multimodal import (
        decode_images, resize_images)

    blob = tiff.encode_tiff(8, 8, bytes(8 * 8), spp=1)
    df = spark.createDataFrame([(1, blob), (2, blob)],
                               "media_id long, data binary")
    old = tiff.MAX_SAMPLE_BYTES
    try:
        tiff.MAX_SAMPLE_BYTES = 8          # 8x8x1 = 64 samples > 8
        out = decode_images(df, on_error="skip")
        assert out.count() == 0            # driver knob reached workers
        assert out.skipped_rows.value == 2
        rz = resize_images(df, 4, 4, on_error="skip")
        assert rz.count() == 0
        tiff.MAX_SAMPLE_BYTES = old
        ok = decode_images(df, on_error="skip")
        assert ok.count() == 2
        assert ok.skipped_rows.value == 0
    finally:
        tiff.MAX_SAMPLE_BYTES = old


def test_decode_images_on_error_skip(spark):
    """The corpus decode policy (r11): on_error='skip' drops
    undecodable blobs (truncated PNG, unknown magic, None payload
    bytes) like every other ingest path while valid blobs decode
    unchanged; the default stays raise — a bad blob in the GATED
    fixture is a bug, not data."""
    import pytest

    from amazon_kinesis_replay_spark.operators.multimodal import (
        decode_images, encode_png, resize_images, synth_image_blob)

    good0 = synth_image_blob(0, b"abcdef" * 20)
    good1 = encode_png(4, 4, bytes(range(48)))
    bad_trunc = good1[:20]                    # PNG magic, truncated
    bad_magic = b"\x00\x01nonsense-payload"
    rows = [(0, bytearray(good0)), (1, bytearray(good1)),
            (2, bytearray(bad_trunc)), (3, bytearray(bad_magic))]
    df = spark.createDataFrame(rows, "media_id long, data binary")

    got_df = decode_images(df, on_error="skip")
    got = got_df.collect()
    assert sorted(r["media_id"] for r in got) == [0, 1]
    # skipped-row observability (r11 advice): the drop count is on the
    # returned frame, readable after the action
    assert got_df.skipped_rows.value == 2
    ok_df = decode_images(df.filter("media_id <= 1"))
    ok = ok_df.collect()
    assert ok_df.skipped_rows is None         # raise mode: no meter
    assert {(r["media_id"], r["sha1"]) for r in ok} == \
        {(r["media_id"], r["sha1"]) for r in got}  # valid rows identical

    with pytest.raises(Exception):
        decode_images(df).collect()           # default: loud

    rz_df = resize_images(df, 4, 4, on_error="skip")
    rz = rz_df.collect()
    assert sorted(r["media_id"] for r in rz) == [0, 1]
    assert rz_df.skipped_rows.value == 2
    with pytest.raises(ValueError, match="on_error"):
        decode_images(df, on_error="ignore")


def test_audio_meta_on_error_skip(spark):
    """on_error='skip' for the audio surface: a truncated WAV and an
    unknown container drop; valid payloads decode identically to the
    raise path."""
    import pytest

    from amazon_kinesis_replay_spark.operators.multimodal import (
        audio_meta, synth_audio_blob)

    good = synth_audio_blob(0, b"audio-seed-bytes" * 8)
    rows = [(0, bytearray(good)), (1, bytearray(good[:10])),
            (2, bytearray(b"NOTAUDIO" * 4))]
    df = spark.createDataFrame(rows, "media_id long, data binary")
    got_df = audio_meta(df, on_error="skip")
    got = got_df.collect()
    assert [r["media_id"] for r in got] == [0]
    assert got_df.skipped_rows.value == 2     # r11 advice: drop meter
    ok = audio_meta(df.filter("media_id = 0")).collect()
    assert got[0]["mono_digest"] == ok[0]["mono_digest"]
    with pytest.raises(Exception):
        audio_meta(df).collect()
    with pytest.raises(ValueError, match="on_error"):
        audio_meta(df, on_error="drop")


def test_image_codecs_raise_only_skip_tuple_under_mutation():
    """The on_error='skip' safety contract, fuzzed across ALL EIGHT
    image modes (PNG/JPEG/GIF/arith-JPEG/progressive-JPEG/VP8L/
    lossy-VP8/TIFF): 2000 seeded bit-flips and truncations each either
    decode or raise INSIDE _image_decode_errors() — a codec raising
    anything else would crash a skip-mode corpus task instead of
    dropping the blob."""
    import random

    from amazon_kinesis_replay_spark.operators.multimodal import (
        _decode_pixels, _image_decode_errors, synth_image_blob)

    errs = _image_decode_errors()
    rng = random.Random(99)
    for mode in range(8):
        blob = synth_image_blob(
            mode, bytes(rng.randrange(256) for _ in range(160)))
        for trial in range(250):
            b = bytearray(blob)
            if trial % 2:
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
                mut = bytes(b)
            else:
                mut = bytes(b[:rng.randrange(len(b))])
            try:
                _decode_pixels(mut)
            except errs:
                pass


def test_dot_builders_match_python_reference(spark, sf_dir):
    """The similarity dot/cosine builders compute BIT-identical doubles to
    a plain-Python recomputation of their documented arithmetic, over
    every fixture embedding against a reference vector: the engine-exact
    quantized sum (feeds oracle-gated outputs), the sequential double
    fold, and the balanced-tree fixed-width form (pre-filter math)."""
    import math
    import struct

    from amazon_kinesis_replay_spark.operators import similarity as S

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    q = emb.filter("id = 0").selectExpr("v AS q_vec")
    rows = emb.crossJoin(F.broadcast(q)).selectExpr(
        "id", "v", "q_vec",
        f"{S._exact_dot_sql('v', 'q_vec')} AS d",
        f"{S.cosine_sql('v', 'q_vec')} AS c",
        f"{S._fast_dot_sql('v', 'q_vec')} AS f",
        f"{S._fast_dot_fixed_sql('v', 'q_vec', 64)} AS fx",
    ).collect()

    def exact(a, b):
        return float(sum(math.floor(x * y * 1e12 + 0.5)
                         for x, y in zip(a, b))) / 1e12

    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def tree(a, b):
        t = [x * y for x, y in zip(a, b)]
        while len(t) > 1:
            t = [t[i] + t[i + 1] if i + 1 < len(t) else t[i]
                 for i in range(0, len(t), 2)]
        return t[0] + 0.0

    def bits(x):
        return struct.pack("<d", x)

    assert len(rows) > 0
    for r in rows:
        v, qv = r["v"], r["q_vec"]
        cos = exact(v, qv) / (math.sqrt(exact(v, v))
                              * math.sqrt(exact(qv, qv)))
        want = {"d": exact(v, qv), "c": cos, "f": fold(v, qv),
                "fx": tree(v, qv)}
        for col, w in want.items():
            assert bits(r[col]) == bits(w), (r["id"], col, r[col], w)


def test_sign_band_keys_match_reference(spark, sf_dir):
    """The sign-band LSH keys decide the embedding-dedup candidate set:
    `_sign_band_keys` must reproduce a reference built from explicit
    per-bit CASE columns — the same (id, band, bucket) rows exactly
    (8 bands x 8 bits over every fixture embedding)."""
    from amazon_kinesis_replay_spark.operators.dedup import _sign_band_keys

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"))

    def ref_band_keys(src, n_bands, band_bits):
        def band_bucket_v(b):
            bucket = F.lit(0)
            for j in range(band_bits):
                bit = F.when(
                    F.element_at(F.col("v"), b * band_bits + j + 1) >= 0,
                    F.lit(1)).otherwise(F.lit(0))
                bucket = bucket * 2 + bit
            return bucket.cast("int")
        return src.select(
            "id",
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"),
                         band_bucket_v(b).alias("bucket"))
                for b in range(n_bands)
            ])).alias("bb"),
        ).select("id", "bb.band", "bb.bucket")

    got = sorted(map(tuple, _sign_band_keys(emb, 8, 8).collect()))
    want = sorted(map(tuple, ref_band_keys(emb, 8, 8).collect()))
    assert got == want and len(got) > 0


def test_minhash_signature_struct_agg_bit_equal(spark, sf_dir):
    """r13 opt: _signature_from_rows builds its num_hashes MIN aggregates
    as ONE struct-of-aggregates expr (one F.expr parse instead of one per
    hash column). The signature values — which define the banded
    candidate set — must be bit-identical to the per-column loop form,
    and the schema must stay flat (id, h0..h{n-1})."""
    from amazon_kinesis_replay_spark.operators import dedup

    d = load(spark, sf_dir, "documents")
    arrays = dedup.shingle_arrays(d, "doc_id", "text", 3).persist()
    sh = arrays.select("id", F.explode("shs").alias("shingle"))

    new = dedup._signature_from_rows(sh, 8)
    hashed = sh.withColumn("__h0", F.xxhash64("shingle"))
    old = hashed.groupBy("id").agg(*[
        F.expr(f"min(xxhash64({i}, __h0)) AS h{i}") for i in range(8)])

    assert new.columns == ["id"] + [f"h{i}" for i in range(8)]
    a = sorted(tuple(r) for r in old.collect())
    b = sorted(tuple(r) for r in new.collect())
    assert a == b and len(a) > 0
    arrays.unpersist()
