"""spark-submit entry point: resumable transcript-feature backfill.

Deployment (north rule):
    python scripts/package_pyfiles.py /tmp/zcs.zip
    spark-submit --py-files /tmp/zcs.zip scripts/run_backfill.py \
        --input <transcripts parquet/table> --output <dir> \
        --start 2026-01-01 --end 2026-01-31 [--step-days 30] [--num-partitions N]

Runs the flagship conversation-feature GroupBy over the input transcript
table, writing date-partitioned output with JSONL lineage (resumable —
rerunning only fills missing partitions).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--start", required=True)
    ap.add_argument("--end", required=True)
    ap.add_argument("--step-days", type=int, default=30)
    ap.add_argument("--num-partitions", type=int, default=None)
    args = ap.parse_args()

    # imports AFTER spark-submit ships the zip (executors resolve the pkg
    # from --py-files)
    from pyspark.sql import SparkSession

    from zipline_chronon_spark.api import (
        Aggregation, EventSource, GroupBy, Operation, Query, TimeUnit, Window,
    )
    from zipline_chronon_spark.plans.backfill import GroupByBackfill

    spark = SparkSession.builder.getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    W1H, W1D, W7D = Window(1, TimeUnit.HOURS), Window(1, TimeUnit.DAYS), Window(7, TimeUnit.DAYS)
    gb = GroupBy(
        name="convo_features",
        sources=(EventSource(
            table=args.input,
            query=Query(
                selects={"conv_id": "conv_id", "turn_idx": "turn_idx", "role": "role",
                         "text": "text", "len_text": "length(text)"},
                time_column="ts",
            ),
        ),),
        key_columns=("conv_id",),
        aggregations=(
            Aggregation("text", Operation.COUNT, windows=(W1H, W1D, W7D)),
            Aggregation("len_text", Operation.SUM, windows=(W1D,)),
            Aggregation("len_text", Operation.AVERAGE, windows=(W1D,)),
            Aggregation("text", Operation.LAST_K, arg_map=(("k", "3"),), windows=(W1D,)),
            Aggregation("text", Operation.COUNT, windows=(W1D,), buckets=("role",)),
        ),
        tie_breaker_column="turn_idx",
    )
    job = GroupByBackfill(
        spark, gb, args.output,
        row_id_expr="xxhash64(conv_id, turn_idx)",
        passthrough={"conv_id": "conv_id", "turn_idx": "turn_idx", "role": "role",
                     "text": "text"},
        num_partitions=args.num_partitions,
    )
    result = job.run(args.start, args.end, step_days=args.step_days)
    print(json.dumps({
        "computed_chunks": len(result["computed_chunks"]),
        "rows": sum(c["rows"] for c in result["computed_chunks"]),
        "skipped_partitions": result["skipped"],
        "lineage": job.lineage.path,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
