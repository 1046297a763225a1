"""Stateful streaming operators: watermark windows, cross-batch dedup,
running per-key totals — driven end-to-end through a file stream."""

import json

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.config import ReplayConfig
from amazon_kinesis_replay_spark.sources import ndjson
from amazon_kinesis_replay_spark.streaming import stateful
from amazon_kinesis_replay_spark.tables import load


@pytest.fixture(scope="module")
def keyed_fixture(spark, sf_dir, tmp_path_factory):
    """Two NDJSON files; user_id keys repeat within and across files."""
    root = tmp_path_factory.mktemp("keyed")
    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts", "user_id")
            .orderBy("ts").limit(300).collect())
    half = len(rows) // 2
    for fi, chunk in enumerate((rows[:half], rows[half:])):
        with open(root / f"part-{fi:03d}.json", "w") as fh:
            for r in chunk:
                fh.write(json.dumps({
                    "event_id": r["event_id"],
                    "user_id": r["user_id"],
                    "dropoff_datetime": r["ts"].isoformat()}) + "\n")
    return str(root), rows


def _run_to_memory(spark, df, name, tmp_path, mode="append"):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(mode)
         .option("checkpointLocation", str(tmp_path / f"ck-{name}"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def _with_user(spark, cfg, path):
    ev = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=1)
    return ev.withColumn(
        "user_id", F.get_json_object("payload", "$.user_id").cast("long"))


def test_windowed_rate_counts_stream(spark, keyed_fixture, tmp_path):
    path, rows = keyed_fixture
    cfg = ReplayConfig(source_path=path)
    ev = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=1)
    out = stateful.windowed_rate_counts(ev, frequency_ms=3_600_000,
                                        watermark_delay="0 seconds")
    got = _run_to_memory(spark, out, "win_counts", tmp_path)
    # append mode emits only windows closed by the watermark; totals bounded
    # by input and conserved per emitted window
    emitted = got.agg(F.sum("n_events")).collect()[0][0] or 0
    assert emitted <= len(rows)
    assert got.filter(F.col("n_events") <= 0).count() == 0


def test_dedup_stream_first_occurrence_only(spark, keyed_fixture, tmp_path):
    path, rows = keyed_fixture
    cfg = ReplayConfig(source_path=path)
    ev = _with_user(spark, cfg, path)
    out = stateful.dedup_stream(ev, "user_id")
    got = _run_to_memory(spark, out, "dedup_keys", tmp_path)
    keys = [r["key"] for r in got.select("key").collect() if r["key"] is not None]
    distinct_users = {str(r["user_id"]) for r in rows}
    assert sorted(set(keys)) == sorted(keys)          # no key emitted twice
    assert set(keys) == distinct_users                # every key exactly once


def test_dedup_stream_builtin_variant(spark, keyed_fixture, tmp_path):
    """dropDuplicatesWithinWatermark emits one row per key for in-horizon
    duplicates."""
    path, rows = keyed_fixture
    cfg = ReplayConfig(source_path=path)
    ev = _with_user(spark, cfg, path)
    out = stateful.dedup_stream_builtin(ev, "user_id", watermark_delay="1 hour")
    got = _run_to_memory(spark, out, "dedup_builtin", tmp_path)
    keys = [r["user_id"] for r in got.select("user_id").collect()]
    # every distinct user present; duplicates only possible across
    # watermark horizons (fixture spans < horizon per batch)
    assert set(keys) == {r["user_id"] for r in rows}


def test_session_window_counts_matches_batch_sessionization(spark, tmp_path):
    """Built-in session windows must produce the same (key, #sessions,
    per-session counts) decomposition as the batch lag/cumsum
    sessionization on a fixture with multi-session users split across
    micro-batches."""
    import json as js
    src = tmp_path / "sessions"
    src.mkdir()
    # user 1: two sessions (gap 45 min); user 2: one session spanning the
    # two files (events 10 min apart across the file boundary)
    rows = [
        (1, "2024-01-01T00:00:00"), (1, "2024-01-01T00:10:00"),
        (2, "2024-01-01T00:05:00"),
    ]
    rows2 = [
        (2, "2024-01-01T00:15:00"),
        (1, "2024-01-01T00:55:00"),   # 45 min after user 1's last -> new
        (1, "2024-01-01T01:00:00"),
    ]
    # sentinel advances the final watermark past 01:30 so user 1's second
    # session CLOSES — append mode only emits watermark-closed sessions
    # (the sentinel's own session stays open and unemitted)
    rows3 = [(99, "2024-01-01T03:00:00")]
    import os
    for fi, (name, chunk) in enumerate((("a.json", rows), ("b.json", rows2),
                                        ("c.json", rows3))):
        with open(src / name, "w") as fh:
            for uid, ts in chunk:
                fh.write(js.dumps({"user_id": uid,
                                   "dropoff_datetime": ts}) + "\n")
        # FileStreamSource orders by mtime; same-ms writes tie-break
        # unpredictably and the sentinel arriving FIRST would drop every
        # real event as late — pin explicit, distinct mtimes
        os.utime(src / name, (1_700_000_000 + fi, 1_700_000_000 + fi))
    cfg = ReplayConfig(source_path=str(src))
    ev = _with_user(spark, cfg, str(src))
    out = stateful.session_window_counts(ev, "user_id", gap="30 minutes",
                                         watermark_delay="0 seconds")
    got = _run_to_memory(spark, out, "session_counts", tmp_path).collect()
    sessions = {(r["user_id"], r["n_events"]) for r in got}
    # user 1: sessions of 2 and 2 events; user 2: one session of 2
    assert sorted(r["n_events"] for r in got if r["user_id"] == 1) == [2, 2]
    assert sessions >= {(2, 2)}
    # session extent: end = last event + gap (session_window semantics)
    for r in got:
        assert r["session_end_ms"] - r["session_start_ms"] >= 30 * 60 * 1000


def test_dedup_builtin_vs_stateful_same_keys_on_disorder(spark, tmp_path):
    """Head-to-head: dropDuplicatesWithinWatermark and the
    applyInPandasWithState dedup must emit the SAME key set on a fixture
    with duplicates arriving out of order ACROSS micro-batches but inside
    the watermark horizon (one file per micro-batch)."""
    src = tmp_path / "dups"
    src.mkdir()
    # file 0: keys 1..10 at 00:10..00:19; file 1 (later batch): the same
    # keys again PLUS new keys 11..15, timestamps interleaved/earlier but
    # within the 1h horizon
    with open(src / "a.json", "w") as fh:
        for i in range(10):
            fh.write(json.dumps({"user_id": i + 1,
                                 "dropoff_datetime":
                                 f"2024-01-01T00:10:{i:02d}"}) + "\n")
    with open(src / "b.json", "w") as fh:
        for i in range(15):
            fh.write(json.dumps({"user_id": i + 1,
                                 "dropoff_datetime":
                                 f"2024-01-01T00:0{i % 10}:30"}) + "\n")
    cfg = ReplayConfig(source_path=str(src))
    ev1 = _with_user(spark, cfg, str(src))
    builtin = stateful.dedup_stream_builtin(ev1, "user_id",
                                            watermark_delay="1 hour")
    got_b = _run_to_memory(spark, builtin, "dd_builtin_cmp", tmp_path)
    keys_b = sorted(r["user_id"] for r in got_b.select("user_id").collect())

    ev2 = _with_user(spark, cfg, str(src))
    custom = stateful.dedup_stream(ev2, "user_id", watermark_delay="1 hour")
    got_c = _run_to_memory(spark, custom, "dd_custom_cmp", tmp_path)
    keys_c = sorted(int(r["key"]) for r in got_c.select("key").collect()
                    if r["key"] is not None)

    assert keys_b == list(range(1, 16))     # each key exactly once
    assert keys_c == keys_b                 # identical output


def test_cross_batch_disorder_watermark(spark, tmp_path):
    """Events older than the watermark arriving in a LATER file are dropped
    from stateful windows (documented deviation: the reference would emit
    them late instead). In-horizon disorder is aggregated correctly."""
    import json as js
    src = tmp_path / "disorder"
    src.mkdir()
    # file 0: 00:00..00:59 (one event per second)
    with open(src / "a.json", "w") as fh:
        for i in range(60):
            fh.write(js.dumps({"dropoff_datetime":
                               f"2024-01-01T00:00:{i:02d}"}) + "\n")
    # file 1: jumps to 02:00 (advances watermark), plus one very-late event
    with open(src / "b.json", "w") as fh:
        for i in range(10):
            fh.write(js.dumps({"dropoff_datetime":
                               f"2024-01-01T02:00:{i:02d}"}) + "\n")
    # file 2: late event at 00:30 — beyond the 10-min watermark after file 1
    with open(src / "c.json", "w") as fh:
        fh.write(js.dumps({"dropoff_datetime":
                           "2024-01-01T00:30:00"}) + "\n")
    cfg = ReplayConfig(source_path=str(src))
    ev = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=1)
    out = stateful.windowed_rate_counts(ev, frequency_ms=60_000,
                                        watermark_delay="10 minutes")
    got = _run_to_memory(spark, out, "disorder_counts", tmp_path,
                         mode="append")
    emitted = {r["window_start_ms"]: r["n_events"] for r in got.collect()}
    base = 1704067200000  # 2024-01-01T00:00:00Z
    # the 00:00 window closed with exactly its 60 in-order events; the
    # beyond-watermark straggler did NOT reopen it
    assert emitted.get(base) == 60


def test_in_horizon_disorder_across_triggers_matches_batch(spark, tmp_path):
    """Event-time disorder that SPANS micro-batches (later file carries
    earlier timestamps) but stays inside the watermark horizon must
    aggregate exactly like the batch computation on the sorted data —
    the watermark is the principled form of the reference's 100k reorder
    buffer (DEVIATIONS §3), and within the horizon nothing is lost."""
    import json as js
    src = tmp_path / "xbatch_disorder"
    src.mkdir()
    # trigger 1: minutes 0,2,4 — trigger 2 then delivers the MISSING
    # minutes 1,3 (older than everything already seen in trigger 1)
    with open(src / "a.json", "w") as fh:
        for m in (0, 2, 4):
            for s in range(10):
                fh.write(js.dumps({"dropoff_datetime":
                                   f"2024-01-01T00:{m:02d}:{s:02d}"}) + "\n")
    with open(src / "b.json", "w") as fh:
        for m in (1, 3):
            for s in range(7):
                fh.write(js.dumps({"dropoff_datetime":
                                   f"2024-01-01T00:{m:02d}:{s:02d}"}) + "\n")
    # trigger 3: sentinel far in the future closes all real windows
    with open(src / "z.json", "w") as fh:
        fh.write(js.dumps({"dropoff_datetime":
                           "2024-01-01T01:00:00"}) + "\n")
    import os
    for i, name in enumerate(("a.json", "b.json", "z.json")):
        os.utime(src / name, (1_700_000_000 + i, 1_700_000_000 + i))

    cfg = ReplayConfig(source_path=str(src))
    ev = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=1)
    out = stateful.windowed_rate_counts(ev, frequency_ms=60_000,
                                        watermark_delay="10 minutes")
    got = _run_to_memory(spark, out, "xbatch_disorder", tmp_path)
    streamed = {r["window_start_ms"]: r["n_events"] for r in got.collect()}

    # batch reference: same data, global event-time aggregation
    b = (spark.read.json(str(src))
         .withColumn("ts", F.to_timestamp("dropoff_datetime")))
    batch = {r["w"]: r["n"] for r in
             (b.groupBy(F.window("ts", "60 seconds").alias("win"))
              .agg(F.count("*").alias("n"))
              .select(F.unix_millis("win.start").alias("w"), "n")).collect()}
    sentinel_w = 1704070800000  # 2024-01-01T01:00:00Z — never closes
    del batch[sentinel_w]
    assert streamed == batch
    # and the disorder really spanned triggers: minutes 1 and 3 exist
    base = 1704067200000
    assert streamed[base + 60_000] == 7 and streamed[base + 180_000] == 7


def test_stream_stream_attribution_join(spark, tmp_path):
    """Watermarked stream-stream join matches the batch attribution join on
    the same data."""
    import json as js
    src = tmp_path / "attr"
    src.mkdir()
    rows = []
    for i in range(200):
        etype = "click" if i % 3 else "purchase"
        rows.append({"event_id": i, "user_id": i % 7, "event_type": etype,
                     "dropoff_datetime":
                         f"2024-01-01T{i//60:02d}:{i%60:02d}:00"})
    with open(src / "events.json", "w") as fh:
        for r in rows:
            fh.write(js.dumps(r) + "\n")
    cfg = ReplayConfig(source_path=str(src))
    ev = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=1)
    ev = (ev.withColumn("user_id",
                        F.get_json_object("payload", "$.user_id").cast("long"))
          .withColumn("event_type",
                      F.get_json_object("payload", "$.event_type")))
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    out = stateful.attribute_stream(clicks, purchases, window="1 hour",
                                    watermark_delay="2 hours")
    got = _run_to_memory(spark, out, "attr_join", tmp_path)
    n_stream = got.count()

    # batch reference on the same data
    b = spark.read.json(str(src / "events.json")) \
        .withColumn("ts", F.to_timestamp("dropoff_datetime"))
    bc = b.filter(F.col("event_type") == "click") \
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
    bp = b.filter(F.col("event_type") == "purchase") \
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
    cond = ((F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") < F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts")
               - F.expr("INTERVAL 1 HOUR")))
    n_batch = bc.join(bp, cond).count()
    assert n_stream == n_batch > 0


def test_running_counts_stream_totals(spark, keyed_fixture, tmp_path):
    path, rows = keyed_fixture
    cfg = ReplayConfig(source_path=path)
    ev = _with_user(spark, cfg, path)
    out = stateful.running_counts_stream(ev, "user_id")
    got = _run_to_memory(spark, out, "run_counts", tmp_path)
    # the LAST emission per key carries that key's grand total
    import collections
    per_key = collections.Counter(str(r["user_id"]) for r in rows)
    finals = (got.groupBy("key")
              .agg(F.max("total_events").alias("total")).collect())
    assert {r["key"]: r["total"] for r in finals} == dict(per_key)
    # per-batch emissions sum to the same totals (no loss, no double count)
    sums = {r["key"]: r["s"] for r in
            got.groupBy("key").agg(F.sum("batch_events").alias("s")).collect()}
    assert sums == dict(per_key)


def test_near_dup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming near-dup detection over two micro-batches must emit, in
    union, exactly the batch pipeline's pair set over the whole corpus —
    batch 1 bootstraps the index (within-batch pairs), batch 2 probes it
    (pairs touching batch 2)."""
    from amazon_kinesis_replay_spark.operators import dedup as D

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "stream-src")
    docs.filter(F.col("doc_id") < 250).coalesce(1) \
        .write.parquet(src + "/b0")
    docs.filter(F.col("doc_id") >= 250).coalesce(1) \
        .write.parquet(src + "/b1")
    import shutil
    staged = str(tmp_path / "staged")
    import os
    os.makedirs(staged)
    shutil.copy(next(str(p) for p in __import__("pathlib").Path(
        src + "/b0").glob("*.parquet")), staged + "/b0.parquet")
    shutil.copy(next(str(p) for p in __import__("pathlib").Path(
        src + "/b1").glob("*.parquet")), staged + "/b1.parquet")

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(staged))
    got: list[tuple] = []

    def sink(pairs, batch_id):
        got.extend((r["id_a"], r["id_b"], r["jaccard"])
                   for r in pairs.collect())

    index = str(tmp_path / "stream-mh")
    q = stateful.near_dup_stream(
        stream, index, sink,
        checkpoint=str(tmp_path / "ck-nd")).trigger(availableNow=True).start()
    q.awaitTermination(300)

    want = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
            D.minhash_dedup(docs, "doc_id", "text", 32, 16, 3, 0.5).collect()}
    assert set(got) == want
    assert len(got) == len(set(got))          # no pair emitted twice


def test_near_dup_processor_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a REPLAYED batch (same batch_id)
    must not append its LSH state a second time (the applied-marker
    guard), and must re-emit exactly the pair set the original run
    emitted — for both the bootstrap batch and an incremental batch.
    Exercises the module-level processor directly because a real
    streaming replay can't be forced deterministically."""
    from amazon_kinesis_replay_spark.operators import dedup as D
    from amazon_kinesis_replay_spark.streaming.stateful import (
        _near_dup_processor)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 250)
    b1 = docs.filter(F.col("doc_id") >= 250)

    got: dict[int, list[set]] = {}

    def sink(pairs, batch_id):
        got.setdefault(batch_id, []).append(
            {(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs.collect()})

    index = str(tmp_path / "mh-replay")
    proc = _near_dup_processor(index, sink, "doc_id", "text", 0.5)

    proc(b0, 0)
    proc(b0, 0)                    # replayed bootstrap -> probe-only
    proc(b1, 1)
    bands = spark.read.parquet(index + "/bands").count()
    arrays = spark.read.parquet(index + "/arrays").count()
    proc(b1, 1)                    # replayed incremental batch
    assert spark.read.parquet(index + "/bands").count() == bands
    assert spark.read.parquet(index + "/arrays").count() == arrays
    assert spark.read.parquet(index + "/applied").head()["batch_id"] == 1
    # the staging barrier datasets are cleaned after every sink call
    # (r7 review: they leaked one result dataset per micro-batch)
    import os
    assert not os.path.exists(index + "/_staging")

    # each replay re-emitted exactly the original batch's pair set
    assert got[0][0] == got[0][1]
    assert got[1][0] == got[1][1]
    # and the union is still exactly the whole-corpus batch pair set
    want = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
            D.minhash_dedup(docs, "doc_id", "text", 32, 16, 3, 0.5).collect()}
    assert got[0][0] | got[1][0] == want


def test_near_dup_embedding_processor_stream_and_replay(spark, sf_dir,
                                                        tmp_path):
    """Embedding-modality streaming near-dup: two micro-batches must
    emit, in union, exactly the batch sign-LSH pipeline's pair set over
    the whole corpus, and a REPLAYED batch (same batch_id) must append
    nothing and re-emit the same pairs — the `_indexed_stream_processor`
    guarantees, exercised through the embedding bootstrap/incremental
    callables."""
    from amazon_kinesis_replay_spark.operators import dedup as D
    from amazon_kinesis_replay_spark.streaming.stateful import (
        _near_dup_embedding_processor)

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b0 = emb.filter(F.col("vec_id") < 250)
    b1 = emb.filter(F.col("vec_id") >= 250)

    got: dict[int, list[set]] = {}

    def sink(pairs, batch_id):
        got.setdefault(batch_id, []).append(
            {(r["id_a"], r["id_b"], r["cosine"]) for r in pairs.collect()})

    index = str(tmp_path / "emb-stream")
    proc = _near_dup_embedding_processor(index, sink, "vec_id",
                                         "embedding", 0.4, 8, 8)
    proc(b0, 0)
    proc(b0, 0)                    # replayed bootstrap -> probe-only
    proc(b1, 1)
    bands = spark.read.parquet(index + "/bands").count()
    vecs = spark.read.parquet(index + "/vectors").count()
    proc(b1, 1)                    # replayed incremental batch
    assert spark.read.parquet(index + "/bands").count() == bands
    assert spark.read.parquet(index + "/vectors").count() == vecs
    assert spark.read.parquet(index + "/applied").head()["batch_id"] == 1

    assert got[0][0] == got[0][1]           # replays re-emit identically
    assert got[1][0] == got[1][1]
    want = {(r["id_a"], r["id_b"], r["cosine"]) for r in
            D.embedding_cosine_dedup(emb, threshold=0.4).collect()}
    assert got[0][0] | got[1][0] == want

    # the writer wrapper wires the same processor into foreachBatch
    (tmp_path / "empty-src").mkdir()
    stream = (spark.readStream.schema(emb.schema)
              .parquet(str(tmp_path / "empty-src")))
    w = stateful.near_dup_stream_embedding(
        stream, str(tmp_path / "emb-stream2"), sink)
    assert w is not None


def test_near_dup_simhash_processor_stream_and_replay(spark, sf_dir,
                                                      tmp_path):
    """SimHash-modality streaming near-dup (third modality over the
    shared processor): two micro-batches union-equal to the whole-corpus
    batch pipeline, replays append nothing and re-emit identically. The
    completeness probe is the chunks/ table (this index has no meta)."""
    from amazon_kinesis_replay_spark.operators import dedup as D
    from amazon_kinesis_replay_spark.streaming.stateful import (
        _near_dup_simhash_processor)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 250)
    b1 = docs.filter(F.col("doc_id") >= 250)

    got: dict[int, list[set]] = {}

    def sink(pairs, batch_id):
        got.setdefault(batch_id, []).append(
            {(r["id_a"], r["id_b"], r["hamming"])
             for r in pairs.collect()})

    index = str(tmp_path / "sh-stream")
    proc = _near_dup_simhash_processor(index, sink, "doc_id", "text", 3)
    proc(b0, 0)
    proc(b0, 0)                    # replayed bootstrap -> probe-only
    proc(b1, 1)
    chunks = spark.read.parquet(index + "/chunks").count()
    proc(b1, 1)                    # replayed incremental batch
    assert spark.read.parquet(index + "/chunks").count() == chunks
    assert spark.read.parquet(index + "/applied").head()["batch_id"] == 1

    assert got[0][0] == got[0][1]
    assert got[1][0] == got[1][1]
    want = {(r["id_a"], r["id_b"], r["hamming"]) for r in
            D.simhash_near_dups(docs, "doc_id", "text", 3).collect()}
    assert got[0][0] | got[1][0] == want


def test_pairs_parquet_sink_is_idempotent(spark, sf_dir, tmp_path):
    """The overwrite-by-batch-id sink closes the exactly-once loop: a
    replayed batch REPLACES its own partition instead of appending, so
    processor replay + this sink = exactly-once pair output, readable as
    one partitioned table."""
    from amazon_kinesis_replay_spark.streaming.stateful import (
        _near_dup_processor, pairs_parquet_sink)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 250)
    b1 = docs.filter(F.col("doc_id") >= 250)
    out = str(tmp_path / "pairs-out")
    sink = pairs_parquet_sink(out)
    proc = _near_dup_processor(str(tmp_path / "idx"), sink,
                               "doc_id", "text", 0.5)
    proc(b0, 0)
    proc(b1, 1)
    once = {(r["id_a"], r["id_b"], r["jaccard"], r["batch_id"])
            for r in spark.read.parquet(out).collect()}
    n_once = spark.read.parquet(out).count()
    proc(b1, 1)                               # replay: overwrite, not append
    again = {(r["id_a"], r["id_b"], r["jaccard"], r["batch_id"])
             for r in spark.read.parquet(out).collect()}
    assert again == once
    assert spark.read.parquet(out).count() == n_once
    # partition pruning by batch works
    assert spark.read.parquet(out).filter("batch_id = 1").count() == \
        len([t for t in once if t[3] == 1])


def test_near_dup_substring_processor_stream_and_replay(spark, sf_dir,
                                                        tmp_path):
    """Substring-span streaming dedup (fourth modality over the shared
    processor): batch-0 emits its within-batch spans, batch-1 emits
    exactly what a full-corpus batch run computes for its docs, and
    replays append nothing and re-emit identically (the replay flag —
    NOT pair-dedup — makes the replayed answer correct: the index
    already holds the batch's counts)."""
    from amazon_kinesis_replay_spark.operators import dedup as D
    from amazon_kinesis_replay_spark.streaming.stateful import (
        _near_dup_substring_processor)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 250)
    b1 = docs.filter(F.col("doc_id") >= 250)

    got: dict[int, list[set]] = {}

    def sink(spans, batch_id):
        got.setdefault(batch_id, []).append(
            {(r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
             for r in spans.collect()})

    index = str(tmp_path / "ss-stream")
    proc = _near_dup_substring_processor(index, sink, "doc_id", "text", 12)
    proc(b0, 0)
    proc(b0, 0)                    # replayed bootstrap -> probe-only
    proc(b1, 1)
    n_win_rows = spark.read.parquet(index + "/wins").count()
    proc(b1, 1)                    # replayed incremental batch
    assert spark.read.parquet(index + "/wins").count() == n_win_rows
    assert spark.read.parquet(index + "/applied").head()["batch_id"] == 1

    assert got[0][0] == got[0][1]
    assert got[1][0] == got[1][1]
    sp0 = D.duplicate_spans(b0, "doc_id", "text", window=12)
    want0 = {(r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
             for r in sp0.collect()}
    sp0.unpersist()
    full = D.duplicate_spans(docs, "doc_id", "text", window=12)
    want1 = {(r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
             for r in full.collect() if r["doc_id"] >= 250}
    full.unpersist()
    assert got[0][0] == want0
    assert got[1][0] == want1


def test_substring_delta_overwrite_closes_crash_window(spark, sf_dir,
                                                       tmp_path):
    """The one residual at-least-once window: delta written, applied
    marker NOT (crash between them). Redelivery then re-runs the
    APPEND path against an index that already holds the batch's delta
    — the named-delta overwrite + self-exclusion must yield identical
    spans and leave exactly one copy of the delta."""
    from amazon_kinesis_replay_spark.streaming.stateful import (
        _near_dup_substring_processor)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 250)
    b1 = docs.filter(F.col("doc_id") >= 250)
    got: dict[int, list[set]] = {}

    def sink(spans, batch_id):
        got.setdefault(batch_id, []).append(
            {(r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
             for r in spans.collect()})

    index = str(tmp_path / "ss-crash")
    proc = _near_dup_substring_processor(index, sink, "doc_id", "text", 12)
    proc(b0, 0)
    proc(b1, 1)
    n_wins = spark.read.parquet(index + "/wins").count()
    # simulate the crash window: roll the applied marker BACK to 0 so
    # batch 1 redelivers with append=True while its delta is on disk
    spark.createDataFrame([(0,)], "batch_id long").coalesce(1) \
        .write.mode("overwrite").parquet(index + "/applied")
    proc(b1, 1)
    assert got[1][0] == got[1][1]          # identical spans re-emitted
    assert spark.read.parquet(index + "/wins").count() == n_wins
    assert spark.read.parquet(index + "/applied").head()["batch_id"] == 1


def test_near_dup_semantic_processor_stream_and_replay(spark, sf_dir,
                                                       tmp_path):
    """Semantic-modality streaming near-dup (FIFTH modality over the
    shared processor): two micro-batches must emit, in union, exactly
    the batch semantic_pairs set over the whole corpus UNDER THE
    BOOTSTRAP CENTROIDS (frozen-centroid contract); marker-confirmed
    replays re-emit identically and append nothing; and the
    crash-window redelivery (append done, marker lost) overwrites its
    own delta partition instead of double-appending."""
    from amazon_kinesis_replay_spark.operators import similarity as S
    from amazon_kinesis_replay_spark.streaming.stateful import (
        _near_dup_semantic_processor)

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b0 = emb.filter(F.col("vec_id") < 250)
    b1 = emb.filter(F.col("vec_id") >= 250)

    got: dict[int, list[set]] = {}

    def sink(pairs, batch_id):
        got.setdefault(batch_id, []).append(
            {(r["id_a"], r["id_b"], r["cosine"]) for r in pairs.collect()})

    index = str(tmp_path / "sem-stream")
    proc = _near_dup_semantic_processor(index, sink, "vec_id",
                                        "embedding", 0.4, 8, 2)
    proc(b0, 0)
    proc(b0, 0)                    # replayed bootstrap -> probe-only
    proc(b1, 1)
    n_members = spark.read.parquet(index + "/members").count()
    proc(b1, 1)                    # marker-confirmed replay
    assert spark.read.parquet(index + "/members").count() == n_members
    assert spark.read.parquet(index + "/applied").head()["batch_id"] == 1
    assert got[0][0] == got[0][1]          # replays re-emit identically
    assert got[1][0] == got[1][1]

    # crash window: the applied marker "lost" after b1's append — the
    # redelivered batch must OVERWRITE part=b1, not double it
    spark.createDataFrame([(0,)], "batch_id long").coalesce(1) \
        .write.mode("overwrite").parquet(index + "/applied")
    proc(b1, 1)
    assert spark.read.parquet(index + "/members").count() == n_members
    assert got[1][2] == got[1][0]
    assert spark.read.parquet(index + "/applied").head()["batch_id"] == 1

    # union of stream emissions == the batch pair set under the
    # bootstrap-trained (frozen) centroids
    cents = spark.read.parquet(index + "/centroids")
    want = {(r["id_a"], r["id_b"], r["cosine"]) for r in
            S.semantic_pairs(emb, 0.4, centroids=cents).collect()}
    assert got[0][0] | got[1][0] == want

    # the writer wrapper wires the same processor into foreachBatch
    (tmp_path / "empty-src").mkdir()
    stream = (spark.readStream.schema(emb.schema)
              .parquet(str(tmp_path / "empty-src")))
    w = stateful.near_dup_stream_semantic(
        stream, str(tmp_path / "sem-stream2"), sink)
    assert w is not None


def test_near_dup_semantic_stream_two_sided_n_assign(spark, sf_dir,
                                                     tmp_path):
    """r13 v2 parity at the STREAMING surface: with n_assign=2 the
    bootstrap writes a v2 index (one member row per assigned cell) and
    every batch probes two-sided, so the union of emissions equals the
    batch n_assign=2 pair set under the bootstrap-frozen centroids —
    including boundary pairs where only the EARLIER-indexed copy
    straddles the cell boundary (invisible to the r12 one-sided form)."""
    from amazon_kinesis_replay_spark.operators import similarity as S
    from amazon_kinesis_replay_spark.streaming.stateful import (
        _near_dup_semantic_processor)

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b0 = emb.filter(F.col("vec_id") < 250)
    b1 = emb.filter(F.col("vec_id") >= 250)
    got: dict[int, set] = {}

    def sink(pairs, batch_id):
        got[batch_id] = {(r["id_a"], r["id_b"]) for r in pairs.collect()}

    index = str(tmp_path / "sem-ma-stream")
    proc = _near_dup_semantic_processor(index, sink, "vec_id",
                                        "embedding", 0.4, 8, 2,
                                        n_assign=2)
    proc(b0, 0)
    proc(b1, 1)
    cents = spark.read.parquet(index + "/centroids")
    side = S._ranked_assign(emb, cents, 2) \
        .select("centroid_id", "id", "vec").localCheckpoint()
    want = {(r["id_a"], r["id_b"]) for r in
            S._cell_pairs(side, side, False, 0.4)
            .dropDuplicates(["id_a", "id_b"]).collect()}
    assert got[0] | got[1] == want
    # and the widened set is a strict superset of the primary-only one
    prim = side.join(
        S.ivf_assign(emb, centroids=cents).select("id", "centroid_id"),
        ["id", "centroid_id"], "left_semi")
    want1 = {(r["id_a"], r["id_b"]) for r in
             S._cell_pairs(prim, prim, False, 0.4).collect()}
    assert want1 < want


# -- streaming reorder gate (applyInPandasWithState, late r8) --------------

@pytest.fixture(scope="module")
def disorder_fixture(spark, sf_dir, tmp_path_factory):
    """Three NDJSON files with cross-boundary disorder: each batch leaks
    its 10 earliest events into the next (the same shape as the engine-
    loop gate tests), so per-batch sorting alone cannot repair it."""
    import os
    root = tmp_path_factory.mktemp("disorder")
    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts")
            .orderBy("ts", "event_id").limit(300).collect())
    b = [rows[0:100], rows[100:200], rows[200:300]]
    leak0, b[0] = b[0][:10], b[0][10:]
    leak1, b[1] = b[1][:10], b[1][10:] + leak0
    b[2] = b[2] + leak1
    for fi, chunk in enumerate(b):
        fp = root / f"part-{fi:03d}.json"
        with open(fp, "w") as fh:
            for r in chunk:
                fh.write(json.dumps({
                    "event_id": r["event_id"],
                    "dropoff_datetime": r["ts"].isoformat()}) + "\n")
        # file-stream batch order = modification-time order; pin it
        os.utime(fp, (1_700_000_000 + fi, 1_700_000_000 + fi))
    return str(root), b


def test_reorder_gate_stream_matches_poll_when_full(
        spark, disorder_fixture, tmp_path):
    """The applyInPandasWithState gate must emit EXACTLY what the
    poll-when-full rule (the reference's bounded priority queue,
    JsonEventBufferedReader.java:39) dictates: a pure-python twin
    replays held+batch stable-sorted by (ts, arrival), emits the
    len-BOUND prefix per batch. emit_seq orders the memory-sink rows."""
    path, batches = disorder_fixture
    BOUND = 150
    cfg = ReplayConfig(source_path=path)
    ev = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=1)
    out = stateful.reorder_gate_stream(ev, BOUND)
    got = _run_to_memory(spark, out, "reorder_gate", tmp_path)
    emitted = [r["ts"] for r in got.orderBy("emit_seq").collect()]

    held, want, arr = [], [], 0
    for batch in batches:
        for r in batch:
            held.append((r["ts"], arr))
            arr += 1
        held.sort(key=lambda x: (x[0], x[1]))
        n_emit = max(0, len(held) - BOUND)
        want.extend(t for t, _ in held[:n_emit])
        held = held[n_emit:]

    assert len(emitted) == len(want) == 300 - BOUND
    assert [t.isoformat() for t in emitted] == [t.isoformat() for t in want]
    # the repair invariant: globally nondecreasing in emission order,
    # which the raw (disordered) stream is NOT
    assert all(a <= b for a, b in zip(emitted, emitted[1:]))
    # emit_seq is dense from 0 (persisted per-key counter)
    seqs = sorted(r["emit_seq"] for r in got.collect())
    assert seqs == list(range(len(want)))


def test_reorder_gate_stream_drains_on_timeout(spark, sf_dir, tmp_path):
    """drain_after_ms: an idle key's held tail emits in full on a later
    micro-batch after the processing-time timeout — the streaming
    analogue of ReplayEngine.finalize(). Poll-when-full alone can emit
    only 10 of these 60 rows (BOUND=50), so reaching 60 PROVES the
    hasTimedOut drain branch ran; whether it fires inside the first
    availableNow run (its follow-up batch crossed the 1.5 s expiry) or
    on the restarted query is box-timing, which this test tolerates."""
    import os
    import time
    src = tmp_path / "drain-src"
    src.mkdir()
    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts")
            .orderBy("ts", "event_id").limit(60).collect())
    fp = src / "part-000.json"
    with open(fp, "w") as fh:
        for r in rows:
            fh.write(json.dumps({
                "event_id": r["event_id"], "shard": "a",
                "dropoff_datetime": r["ts"].isoformat()}) + "\n")
    os.utime(fp, (1_700_000_000, 1_700_000_000))

    BOUND = 50
    ck = str(tmp_path / "ck-drain")
    cfg = ReplayConfig(source_path=str(src))

    def run(name):
        ev = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=1)
        ev = ev.withColumn(
            "shard", F.get_json_object("payload", "$.shard"))
        out = stateful.reorder_gate_stream(ev, BOUND, key_col="shard",
                                           drain_after_ms=1500)
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.table(name).collect()

    got = [r for r in run("drain_run1") if r["key"] == "a"]
    assert len(got) >= 60 - BOUND            # at least the prefix emitted

    if len(got) < 60:
        time.sleep(2.5)                      # let the timeout expire
        # a sentinel row on ANOTHER key triggers the next micro-batch;
        # the idle key 'a' then fires hasTimedOut and drains its tail
        fp2 = src / "part-001.json"
        with open(fp2, "w") as fh:
            fh.write(json.dumps({
                "event_id": -1, "shard": "b",
                "dropoff_datetime": rows[-1]["ts"].isoformat()}) + "\n")
        os.utime(fp2, (1_700_000_100, 1_700_000_100))
        got = got + [r for r in run("drain_run2") if r["key"] == "a"]

    all_a = sorted(got, key=lambda r: r["emit_seq"])
    assert len(all_a) == 60                  # full drain, nothing dropped
    assert sorted(r["emit_seq"] for r in all_a) == list(range(60))
    ts_seq = [r["ts"] for r in all_a]
    assert ts_seq == sorted(ts_seq)          # drain preserves the order
    assert [t.isoformat() for t in ts_seq] == \
        [r["ts"].isoformat() for r in rows]  # exactly the input multiset


def test_asof_enrich_stream_point_in_time(spark, tmp_path):
    """Streaming as-of enrichment: (a) each batch re-reads the dimension,
    so versions appended between micro-batches become visible; (b) the
    join is point-in-time — an event never sees a dimension version
    NEWER than its own timestamp, even once that version exists."""
    import os

    dim = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, 0, "free"), (2, 0, "free")],
        "user_id long, ts long, plan string").write.parquet(dim)

    staged = str(tmp_path / "ev")
    os.makedirs(staged)
    b0 = spark.createDataFrame([(100, 1, 100)],
                               "eid long, user_id long, ts long")
    b1 = spark.createDataFrame([(200, 1, 100), (201, 1, 30)],
                               "eid long, user_id long, ts long")
    b0.coalesce(1).write.parquet(str(tmp_path / "raw0"))
    b1.coalesce(1).write.parquet(str(tmp_path / "raw1"))
    import pathlib
    import shutil
    shutil.copy(next(str(p) for p in pathlib.Path(
        str(tmp_path / "raw0")).glob("*.parquet")), staged + "/b0.parquet")

    got = {}

    def sink(out, batch_id):
        for r in out.collect():
            got[r["eid"]] = (r["asof_ts"], r["asof_plan"])
        if batch_id == 0:
            # a new dimension VERSION lands between micro-batches
            out.sparkSession.createDataFrame(
                [(1, 50, "pro")], "user_id long, ts long, plan string"
            ).write.mode("append").parquet(dim)
            shutil.copy(next(str(p) for p in pathlib.Path(
                str(tmp_path / "raw1")).glob("*.parquet")),
                staged + "/b1.parquet")

    stream = (spark.readStream.schema(b0.schema)
              .option("maxFilesPerTrigger", 1).parquet(staged))
    q = (stateful.asof_enrich_stream(
            stream, dim, sink, on="ts", by="user_id",
            value_cols=["plan"],
            checkpoint=str(tmp_path / "ck-asof"))
         .trigger(processingTime="1 second").start())
    import time
    deadline = time.time() + 120
    while time.time() < deadline and len(got) < 3:
        time.sleep(1)
    q.stop()

    assert got[100] == (0, "free")     # batch 0: only v0 existed
    assert got[200] == (50, "pro")     # batch 1: new version visible...
    assert got[201] == (0, "free")     # ...but never ahead of event time


def test_gated_counts_count_beyond_watermark_row(spark, tmp_path):
    """Reference parity (r8 verdict item 4): a straggler beyond the
    plain path's watermark is DROPPED by windowed_rate_counts (Spark
    watermark semantics) but COUNTED by windowed_rate_counts_gated —
    the reorder gate emits it late and the unwatermarked window
    aggregation still lands it in its window, the
    emit-late-never-drop contract of the reference's buffered reader
    (JsonEventBufferedReader.java:39-46)."""
    import json as js
    import os
    src = tmp_path / "gated_disorder"
    src.mkdir()
    # file a: 00:00..00:59 in order; file b: 02:00.. advances the
    # watermark; file d: 02:30 sentinel — needed because the EFFECTIVE
    # late-row watermark lags one micro-batch (measured: a straggler in
    # the batch right after b still passes the filter); file e:
    # straggler at 00:30 — now beyond the plain path's 10-min watermark
    # AND beyond the gate's bound=10 disorder window, so the gate emits
    # it LATE, not merely reordered.
    with open(src / "a.json", "w") as fh:
        for i in range(60):
            fh.write(js.dumps({"dropoff_datetime":
                               f"2024-01-01T00:00:{i:02d}"}) + "\n")
    with open(src / "b.json", "w") as fh:
        for i in range(20):
            fh.write(js.dumps({"dropoff_datetime":
                               f"2024-01-01T02:00:{i:02d}"}) + "\n")
    with open(src / "d.json", "w") as fh:
        fh.write(js.dumps({"dropoff_datetime":
                           "2024-01-01T02:30:00"}) + "\n")
    with open(src / "e.json", "w") as fh:
        fh.write(js.dumps({"dropoff_datetime":
                           "2024-01-01T00:30:00"}) + "\n")
    for i, name in enumerate(("a.json", "b.json", "d.json", "e.json")):
        os.utime(src / name, (1_700_000_000 + i, 1_700_000_000 + i))
    base = 1704067200000                     # 2024-01-01T00:00:00Z
    straggler_w = base + 30 * 60_000         # the 00:30 minute window

    cfg = ReplayConfig(source_path=str(src))

    # plain path: append mode + 10-min watermark -> straggler dropped
    ev = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=1)
    plain = stateful.windowed_rate_counts(ev, frequency_ms=60_000,
                                          watermark_delay="10 minutes")
    got_p = _run_to_memory(spark, plain, "plain_drop", tmp_path)
    plain_counts = {r["window_start_ms"]: r["n_events"]
                    for r in got_p.collect()}
    assert straggler_w not in plain_counts   # watermark dropped it

    # gated path: reorder gate + unwatermarked agg -> straggler counted
    ev2 = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=1)
    gated = stateful.windowed_rate_counts_gated(
        ev2, bound=10, frequency_ms=60_000)
    q = (gated.writeStream.format("memory").queryName("gated_count")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck-gated"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    gated_counts = {r["window_start_ms"]: r["n_events"]
                    for r in spark.table("gated_count").collect()}
    assert gated_counts.get(straggler_w) == 1   # counted, not dropped
    # and the in-order prefix aggregated identically to the plain path
    assert gated_counts.get(base) == plain_counts.get(base) == 60


def test_gated_sessions_count_beyond_watermark_row(spark, tmp_path):
    """Session sibling of the gated-counts parity test: a straggler
    that EXTENDS an already-closed session is dropped by the plain
    watermark path (session emitted with its pre-straggler count) but
    re-absorbed by session_window_counts_gated — the session row
    carries the corrected count and extended end."""
    import json as js
    import os
    src = tmp_path / "gated_sessions"
    src.mkdir()
    # session A: u1 at 00:00:00..05 (6 events, 30 s gap); advance +
    # sentinel batches push the watermark past A; straggler at 00:00:20
    # is within the gap of A's last event -> extends A to 7 events
    with open(src / "a.json", "w") as fh:
        for i in range(6):
            fh.write(js.dumps({"user": "u1", "dropoff_datetime":
                               f"2024-01-01T00:00:{i:02d}"}) + "\n")
    with open(src / "b.json", "w") as fh:
        for i in range(3):
            fh.write(js.dumps({"user": "u1", "dropoff_datetime":
                               f"2024-01-01T02:00:{i:02d}"}) + "\n")
    with open(src / "d.json", "w") as fh:
        fh.write(js.dumps({"user": "u1", "dropoff_datetime":
                           "2024-01-01T02:30:00"}) + "\n")
    with open(src / "e.json", "w") as fh:
        fh.write(js.dumps({"user": "u1", "dropoff_datetime":
                           "2024-01-01T00:00:20"}) + "\n")
    for i, name in enumerate(("a.json", "b.json", "d.json", "e.json")):
        os.utime(src / name, (1_700_000_000 + i, 1_700_000_000 + i))
    a_start = 1704067200000                  # 2024-01-01T00:00:00Z

    cfg = ReplayConfig(source_path=str(src))

    def _user(ev):
        return ev.withColumn(
            "user", F.get_json_object("payload", "$.user"))

    # plain path: session A closes at watermark with its 6 events; the
    # straggler is beyond-watermark and dropped
    ev = _user(ndjson.read_events_stream(spark, cfg,
                                         max_files_per_trigger=1))
    plain = stateful.session_window_counts(ev, "user", gap="30 seconds",
                                           watermark_delay="10 minutes")
    got_p = _run_to_memory(spark, plain, "plain_sessions", tmp_path)
    p = {r["session_start_ms"]: r["n_events"] for r in got_p.collect()}
    assert p.get(a_start) == 6               # closed WITHOUT the straggler

    # gated path: the straggler emits late from the gate and EXTENDS
    # session A — 7 events, end pushed to 00:00:20 + gap
    ev2 = _user(ndjson.read_events_stream(spark, cfg,
                                          max_files_per_trigger=1))
    gated = stateful.session_window_counts_gated(
        ev2, bound=2, key_col="user", gap="30 seconds")
    q = (gated.writeStream.format("memory").queryName("gated_sessions")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck-gsess"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    g = {r["session_start_ms"]: (r["n_events"], r["session_end_ms"])
         for r in spark.table("gated_sessions").collect()}
    assert g[a_start][0] == 7                # straggler absorbed
    assert g[a_start][1] == a_start + 50_000  # 00:00:20 + 30 s gap
