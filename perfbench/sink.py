"""The benchmark's Kinesis-shaped sink.

Runs inside Spark's Python workers (partitioned replay builds one sink per
sender partition per micro-batch), so it imports nothing heavy and keeps
its configuration in constructor arguments. ``JournalSinkFactory`` is the
engine's zero-argument sink factory.

Each instance appends one JSON line per ``put_records`` call to its own
journal file: the micro-batch it serves, the offered event ids in order,
the indexes it failed, and wall-clock start/end of the call. The benchmark reads the journals after
the replay to audit delivery and to recover executor-side sink spans.
"""

from __future__ import annotations

import json
import os
import time
import uuid

#: PutRecords' per-request record limit (KinesisProducer.java:25).
MAX_RECORDS_PER_REQUEST = 500

_ID_PREFIX = len('{"event_id":')


def fails_first_attempt(event_id: int, seed: int, fail_per_10k: int) -> bool:
    """The failure plan: whether the sink rejects this record the first
    time it is offered. A record is rejected at most once."""
    h = (event_id * 2654435761 + seed * 40503 + 12345) & 0xFFFFFFFF
    return (h >> 7) % 10_000 < fail_per_10k


def payload_event_id(payload: str) -> int:
    return int(payload[_ID_PREFIX:payload.index(",", _ID_PREFIX)])


class JournalSink:
    """Accepts records like a PutRecords client, failing the planned
    subset on first offer, and journals every call."""

    def __init__(self, journal_dir: str, seed: int, fail_per_10k: int,
                 batch: int):
        self.path = os.path.join(
            journal_dir, f"{os.getpid()}-{uuid.uuid4().hex}.jsonl")
        self.seed = seed
        self.fail_per_10k = fail_per_10k
        self.batch = batch
        self.rejected: set[int] = set()

    def put_records(self, records: list[dict]) -> list[int]:
        t0 = time.time()
        ids = [payload_event_id(r["payload"]) for r in records]
        failed = [i for i, e in enumerate(ids)
                  if e not in self.rejected
                  and fails_first_attempt(e, self.seed, self.fail_per_10k)]
        self.rejected.update(ids[i] for i in failed)
        line = json.dumps({"batch": self.batch, "t0": t0, "t1": time.time(),
                           "ids": ids, "failed": failed})
        with open(self.path, "a") as fh:
            fh.write(line + "\n")
        return failed


class JournalSinkFactory:
    """The engine's zero-argument sink factory. Set ``batch`` to the
    micro-batch id before the engine processes that batch: the engine
    pickles the factory into the batch's emit job, so every sink built
    there journals that id."""

    def __init__(self, journal_dir: str, seed: int, fail_per_10k: int):
        self.journal_dir = journal_dir
        self.seed = seed
        self.fail_per_10k = fail_per_10k
        self.batch = -1

    def __call__(self) -> JournalSink:
        return JournalSink(self.journal_dir, self.seed, self.fail_per_10k,
                           self.batch)
