"""Sink clients + the batched/retried send loop (OP-SINK-*).

The send loop mirrors KinesisProducer.java exactly where it matters:
- batches of <= max_records_per_request (500, the PutRecords service limit,
  KinesisProducer.java:25)
- per-attempt exponential backoff min(max_backoff, 2^attempt * base)
  (KinesisProducer.java:143-156)
- only the FAILED subset of a batch is retried (KinesisProducer.java:163-166,
  187-195), up to max_retries (default 100, KinesisProducer.java:27)

Clients implement ``put_records(records) -> list[int]`` returning the
indexes of failed records (empty = all good), the shape of the PutRecords
partial-failure response.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from ..config import ReplayConfig


class SinkError(RuntimeError):
    pass


@dataclass
class SinkStats:
    """Mirrors the reference's sink counters (KinesisProducer.java:39-40,
    204-218): total requests, total retried records, records sent."""
    requests: int = 0
    retried_records: int = 0
    records_sent: int = 0


class InMemorySink:
    """Test sink: records every batch; can inject partial failures.

    ``fail_plan`` maps request ordinal -> list of record indexes to fail on
    that request (exercises the failed-subset requeue path).
    """

    def __init__(self, fail_plan: dict[int, list[int]] | None = None):
        self.batches: list[list[dict]] = []
        self.fail_plan = fail_plan or {}
        self._request_no = 0

    def put_records(self, records: list[dict]) -> list[int]:
        req = self._request_no
        self._request_no += 1
        failed = [i for i in self.fail_plan.get(req, []) if i < len(records)]
        self.batches.append([records[i] for i in range(len(records))
                             if i not in failed])
        return failed


class FileSink:
    """Worker-safe sink: each request appends one NDJSON file to a directory
    (usable from foreachPartition on any executor with shared storage)."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)

    def put_records(self, records: list[dict]) -> list[int]:
        name = f"batch-{time.time_ns()}-{uuid.uuid4().hex[:8]}.ndjson"
        with open(os.path.join(self.out_dir, name), "w") as fh:
            for rec in records:
                fh.write(json.dumps(rec) + "\n")
        return []


class KinesisSink:
    """Real Kinesis PutRecords client (boto3, import-gated: boto3 is not in
    this container). Serialization mirrors JsonEvent.toSdkBytes
    (JsonEvent.java:118-120): UTF-8 payload bytes + a random partition key
    per record (KinesisProducer.java:182,197-199)."""

    def __init__(self, stream_arn: str, endpoint_url: str | None = None):
        try:
            import boto3  # noqa: PLC0415
        except ImportError as exc:  # pragma: no cover - env without boto3
            raise SinkError("boto3 not installed; KinesisSink unavailable") from exc
        from ..functions.arn import extract_region
        region = extract_region(stream_arn)
        self._stream_arn = stream_arn
        # endpoint injection (LocalStack-style stacks): explicit arg wins,
        # else AWS_ENDPOINT_URL — boto3 only honors that env var natively
        # from recent versions, so resolve it here for consistency
        endpoint = endpoint_url or os.environ.get("AWS_ENDPOINT_URL") or None
        # Emulated endpoints accept any credentials, but partitioned-mode
        # sinks are constructed INSIDE executor Python workers, which may
        # have been forked before the test/driver set AWS_* env vars —
        # resolve explicit values here (r7 review: without this the
        # sink factory hits NoCredentialsError on every task). Real
        # endpoints keep the default provider chain.
        creds = {}
        if endpoint:
            creds = {"aws_access_key_id":
                     os.environ.get("AWS_ACCESS_KEY_ID", "emulated"),
                     "aws_secret_access_key":
                     os.environ.get("AWS_SECRET_ACCESS_KEY", "emulated")}
        self._client = boto3.client("kinesis", region_name=region,
                                    endpoint_url=endpoint, **creds)

    def put_records(self, records: list[dict]) -> list[int]:  # pragma: no cover
        entries = [{
            "Data": rec["payload"].encode("utf-8"),
            "PartitionKey": uuid.uuid4().hex,
        } for rec in records]
        resp = self._client.put_records(
            StreamARN=self._stream_arn, Records=entries)
        return [i for i, r in enumerate(resp["Records"]) if "ErrorCode" in r]


def send_with_retry(client, records: list[dict], cfg: ReplayConfig,
                    stats: SinkStats | None = None,
                    sleep=time.sleep) -> SinkStats:
    """Send one logical batch with the reference's retry contract.

    Recursive failed-subset requeue (KinesisProducer.java:139-169) expressed
    iteratively; raises after max_retries like the reference's terminal
    RuntimeException (KinesisProducer.java:140-142).
    """
    stats = stats or SinkStats()
    pending = records
    attempt = 0
    while pending:
        if attempt > cfg.max_retries:
            raise SinkError(
                f"batch failed after {cfg.max_retries} retries "
                f"({len(pending)} records pending)")
        if attempt > 0:
            backoff_ms = min(cfg.max_backoff_ms,
                             (2 ** attempt) * cfg.backoff_base_ms)
            sleep(backoff_ms / 1000.0)
            stats.retried_records += len(pending)
        failed_idx = set(client.put_records(pending))
        stats.requests += 1
        stats.records_sent += len(pending) - len(failed_idx)
        pending = [r for i, r in enumerate(pending) if i in failed_idx]
        attempt += 1
    return stats


def chunked(seq: list, size: int):
    """<=size-record request chunks (KinesisProducer.java:112 drainTo)."""
    for i in range(0, len(seq), size):
        yield seq[i:i + size]
