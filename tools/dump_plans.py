#!/usr/bin/env python
"""Dump .explain('formatted') of registry queries, one file per query.

Usage: python tools/dump_plans.py OUT_DIR [all | query ...]

Writes OUT_DIR/<query>.txt (OUT_DIR is created; default queries: the
bench headline, `all`: the whole registry). The tables come from
$SPARK_GRAFT_SF_DIR (default: the sf0.1 fixture). To check that a
change leaves the plans alone, compare two dumps with the run-dependent
numbers stripped: expression ids (`#12L`), `plan_id=`, RDD ids and, in
plans of queries that run actions while they are built, AQE's query-stage
and codegen-stage numbers.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_kinesis_replay_spark.plans import QUERIES  # noqa: E402
from amazon_kinesis_replay_spark.session import build_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q14_promo_effect", "agg_events_by_type", "window_rate_stats",
    "order_by_event_time", "batch_assignment", "replay_plan",
    "ngram_jaccard_dedup", "minhash_dedup", "ann_topk_cosine",
    "doc_text_profile", "doc_train_split", "dedup_embedding_cosine",
    "training_data_pipeline",
]


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    names = sys.argv[2:] or HEADLINE
    if names == ["all"]:
        names = list(QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = build_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name].fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")


if __name__ == "__main__":
    main()
