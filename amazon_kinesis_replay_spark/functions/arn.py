"""OP-VALIDATE-ARN — Kinesis stream-ARN validation and region extraction.

Reference: KinesisProducer.java:61-72 (regex validate + 4th ':'-field).
Exposed both as plain-Python validation (control plane) and as Column
expressions (data plane, whole-stage-codegen'd regexp_extract).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mirrors the shape accepted at KinesisProducer.java:62-66.
ARN_PATTERN = r"^arn:aws:kinesis:([a-z0-9-]+):(\d{12}):stream/(.+)$"
_ARN_RE = re.compile(ARN_PATTERN)


def validate_arn(arn: str) -> bool:
    return _ARN_RE.match(arn) is not None


def extract_region(arn: str) -> str:
    """Region = 4th ':'-separated field (KinesisProducer.java:70)."""
    m = _ARN_RE.match(arn)
    if not m:
        raise ValueError(f"invalid Kinesis stream ARN: {arn!r}")
    return m.group(1)


def region_col(arn_col: Column) -> Column:
    return F.regexp_extract(arn_col, ARN_PATTERN, 1)


def stream_name_col(arn_col: Column) -> Column:
    return F.regexp_extract(arn_col, ARN_PATTERN, 3)
