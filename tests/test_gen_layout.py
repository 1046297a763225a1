"""Generation-pointer index layout (r8): `gen=N/` directories published
by one atomic `_GEN_COMMITTED` marker create publish every index rebuild
(IVF and IVF×SQ8 retrain, BM25 compaction). These tests pin the commit
primitive itself, the crash before the marker (old generation must stay
live, partial build collected), GC retention for in-flight readers, and
the root-layout fallback."""

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_replay_spark import fsutil
from amazon_kinesis_replay_spark.operators import similarity
from amazon_kinesis_replay_spark.tables import load


def test_gen_primitives_resolve_commit_gc(spark, tmp_path):
    root = str(tmp_path / "genidx")
    # fresh path: legacy fallback
    assert fsutil.gen_current(spark, root) is None
    assert fsutil.gen_resolve(spark, root) == root

    b1 = fsutil.gen_begin(spark, root)
    assert b1.endswith("gen=0000000001")
    fsutil.write_text(spark, b1 + "/data/x.txt", "one")
    # uncommitted build is INVISIBLE to readers
    assert fsutil.gen_resolve(spark, root) == root
    fsutil.gen_commit(spark, b1)
    assert fsutil.gen_resolve(spark, root) == b1

    # next build numbers past the committed one; crashed (uncommitted)
    # builds are collected by the following begin
    b2 = fsutil.gen_begin(spark, root)
    assert b2.endswith("gen=0000000002")
    fsutil.write_text(spark, b2 + "/data/x.txt", "partial")
    # "crash": no commit — readers still resolve to b1
    assert fsutil.gen_resolve(spark, root) == b1
    b3 = fsutil.gen_begin(spark, root)
    assert b3.endswith("gen=0000000003")
    assert not fsutil.exists(spark, b2)          # husk collected
    fsutil.write_text(spark, b3 + "/data/x.txt", "three")
    fsutil.gen_commit(spark, b3)
    assert fsutil.gen_resolve(spark, root) == b3

    # GC is RETENTION-BOUNDED (r9): the default keep=2 leaves the
    # previous committed generation for in-flight readers; shadowed
    # legacy subs drop immediately (the migration-sweep contract)
    fsutil.write_text(spark, root + "/data/legacy.txt", "legacy")
    fsutil.gen_gc(spark, root, legacy_subs=("data",))
    assert fsutil.exists(spark, b1)              # N-1 retained
    assert not fsutil.exists(spark, root + "/data")
    assert fsutil.exists(spark, b3 + "/data/x.txt")
    assert fsutil.gen_resolve(spark, root) == b3
    # keep=1 is the aggressive mode: only the latest survives
    fsutil.gen_gc(spark, root, keep=1)
    assert not fsutil.exists(spark, b1)
    assert fsutil.gen_resolve(spark, root) == b3
    with pytest.raises(ValueError, match=">= 1"):
        fsutil.gen_gc(spark, root, keep=0)

    # unpadded generation names are tolerated (numeric, not lexical, max)
    fsutil.write_text(spark, root + "/gen=12/marker.txt", "x")
    fsutil.gen_commit(spark, root + "/gen=12")
    assert fsutil.gen_resolve(spark, root) == root + "/gen=12"
    nxt = fsutil.gen_begin(spark, root)
    assert nxt.endswith("gen=0000000013")


def test_ivf_retrain_crash_before_commit_keeps_old_generation(
        spark, sf_dir, tmp_path, monkeypatch):
    """Crash phase 1: the whole rebuild ran but the marker create did
    not. The old index must stay the one readers resolve; a re-run
    collects the husk and succeeds."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    index = str(tmp_path / "ivf-crash")
    similarity.ivf_index_write(base, index, n_centroids=8, train_iters=1)
    n0 = base.count()
    big = emb.filter(F.col("vec_id") >= 300)
    similarity.ivf_index_append(spark, big, index)

    real_commit = fsutil.gen_commit

    def boom(spark_, build_dir):
        raise RuntimeError("simulated crash before marker create")

    monkeypatch.setattr(fsutil, "gen_commit", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        similarity.ivf_index_maybe_retrain(spark, index,
                                           growth_threshold=0.5)
    # old (legacy) generation still live and complete
    d = fsutil.gen_resolve(spark, index)
    assert d == index
    assert spark.read.parquet(index + "/meta").head()["n_at_train"] == n0
    assert spark.read.parquet(index + "/vectors").count() == emb.count()

    # re-run with the crash gone: collects the husk, publishes gen 2
    monkeypatch.setattr(fsutil, "gen_commit", real_commit)
    assert similarity.ivf_index_maybe_retrain(spark, index,
                                              growth_threshold=0.5)
    gens = fsutil.gen_list(spark, index)
    assert [(n, c) for n, _, c in gens] == [(2, True)]
    d = fsutil.gen_resolve(spark, index)
    assert d.endswith("gen=0000000002")
    assert spark.read.parquet(d + "/meta").head()["n_at_train"] \
        == emb.count()
    # probes serve the new generation
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec"))
    top = similarity.ivf_probe_topk(spark, index, q, k=1).collect()
    assert top[0]["vec_id"] == 0


def test_gen_gc_retention_keeps_inflight_reader_alive(
        spark, sf_dir, tmp_path):
    """The r8-verdict retention contract: a reader that pinned gen N-1
    via gen_resolve just before a rebuild commits must survive the
    post-commit gen_gc (default keep=2) — its files are intact and the
    lazy DataFrame still collects. A SECOND rebuild pushes N-1 out of
    the retention window and only then is it collected. Exercised
    end-to-end through a real retrain path (ivf_sq_index_maybe_retrain
    with growth_threshold=-1 forces 'due')."""
    emb = load(spark, sf_dir, "embeddings").limit(200)
    path = str(tmp_path / "ivfsq-ret")
    similarity.ivf_sq_index_write(emb, path, n_centroids=4)

    # first retrain: legacy root -> gen=1
    assert similarity.ivf_sq_index_maybe_retrain(
        spark, path, growth_threshold=-1.0)
    g1 = fsutil.gen_current(spark, path)
    assert g1 is not None and g1.endswith("0000000001")

    # an in-flight reader pins gen 1 (lazy plan over its files)
    reader = spark.read.parquet(g1 + "/codes").select("id")

    # second retrain publishes gen=2; keep=2 retains gen=1
    assert similarity.ivf_sq_index_maybe_retrain(
        spark, path, growth_threshold=-1.0)
    g2 = fsutil.gen_current(spark, path)
    assert g2.endswith("0000000002")
    assert fsutil.exists(spark, g1 + "/codes")
    assert reader.count() == 200              # reader survives the GC

    # third retrain: gen=1 leaves the keep=2 window and is collected
    assert similarity.ivf_sq_index_maybe_retrain(
        spark, path, growth_threshold=-1.0)
    assert fsutil.gen_current(spark, path).endswith("0000000003")
    assert not fsutil.exists(spark, g1)
    assert fsutil.exists(spark, g2 + "/codes")
    # probes keep answering across all generations
    q = emb.select(F.col("embedding").alias("q_vec")).limit(1)
    assert similarity.ivf_sq_probe_topk(
        spark, path, q, k=3, n_probe=4).count() == 3
