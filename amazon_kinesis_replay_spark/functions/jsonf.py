"""OP-PARSE-JSON / OP-PARSE-BADROW — JSON attribute extraction with
DROPMALFORMED semantics.

Reference: JsonEvent.java:81-100 (Jackson readTree + Instant.parse of one
configurable attribute); rows whose attribute fails to parse are skipped
with a warning (JsonEventS3Iterator.java:187-193).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def json_attr(payload_col: Column, attr: str) -> Column:
    """Extract one top-level attribute as string (JVM-side, codegen'd)."""
    return F.get_json_object(payload_col, f"$.{attr}")


def json_attr_ts(payload_col: Column, attr: str) -> Column:
    """The reference's timestamp extraction: attr -> ISO-8601 instant
    (JsonEvent.java:90). try_to_timestamp returns NULL on parse failure
    (ANSI-safe), which is what the drop-malformed filter keys on."""
    return F.try_to_timestamp(json_attr(payload_col, attr))


def drop_malformed(df: DataFrame, payload_col: str, attr: str) -> DataFrame:
    """Keep rows whose timestamp attribute parses (into `parsed_ts`);
    reference skip-with-warning semantics (JsonEventS3Iterator.java:187-193)
    as a null-drop filter."""
    out = df.withColumn("parsed_ts", json_attr_ts(F.col(payload_col), attr))
    return out.filter(F.col("parsed_ts").isNotNull())
