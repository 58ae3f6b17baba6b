"""Resumable backfill: unfilled-range diffing, lineage, chunk-boundary
window correctness, spec-hash invalidation (FIXTURES.md F5.6)."""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from tests import specs
from zipline_chronon_spark.api import Aggregation, GroupBy, Operation
from zipline_chronon_spark.plans.backfill import CHUNKS_IN_FLIGHT, GroupByBackfill, date_range
from zipline_chronon_spark.sources.transcripts import generate_transcripts

ROW_ID_EXPR = "xxhash64(conv_id, turn_idx)"
PT = {"conv_id": "conv_id", "turn_idx": "turn_idx"}


@pytest.fixture(scope="module")
def tset(spark, tmp_path_factory):
    pdf = generate_transcripts(n_convs=15, avg_turns=30, n_days=6, seed=3)
    path = str(tmp_path_factory.mktemp("bf") / "transcripts.parquet")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    ds_min, ds_max = pdf["ds"].min(), pdf["ds"].max()
    return path, ds_min, ds_max


def _gb(path):
    return GroupBy(
        name="bf_counts",
        sources=(specs.transcripts_source(path),),
        key_columns=("conv_id",),
        aggregations=(
            Aggregation("text", Operation.COUNT, windows=(specs.W1D, None)),
            Aggregation("len_text", Operation.SUM, windows=(specs.W1D,)),
        ),
        tie_breaker_column="turn_idx",
    )


def _read_sorted(spark, path):
    return (
        spark.read.parquet(path)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text_count_1d", "text_count", "len_text_sum_1d")
        .toPandas()
    )


def _table_counts(spark, out):
    return {r["ds"]: r["count"] for r in spark.read.parquet(out)
            .groupBy(F.col("ds").cast("string").alias("ds")).count().collect()}


def test_backfill_resume_and_equivalence(spark, tset, tmp_path_factory):
    path, ds_min, ds_max = tset
    out_a = str(tmp_path_factory.mktemp("bf") / "out_whole")
    out_b = str(tmp_path_factory.mktemp("bf") / "out_chunked")

    pt = {"conv_id": "conv_id", "turn_idx": "turn_idx"}
    # A: whole range in one chunk
    job_a = GroupByBackfill(spark, _gb(path), out_a, ROW_ID_EXPR, passthrough=pt)
    res_a = job_a.run(ds_min, ds_max, step_days=365)
    assert len(res_a["computed_chunks"]) == 1

    # B: 2-day chunks (windows must look back across chunk boundaries)
    job_b = GroupByBackfill(spark, _gb(path), out_b, ROW_ID_EXPR, passthrough=pt)
    res_b = job_b.run(ds_min, ds_max, step_days=2)
    # more chunks than run at once: later ones queue behind those in flight
    assert len(res_b["computed_chunks"]) > CHUNKS_IN_FLIGHT

    a, b = _read_sorted(spark, out_a), _read_sorted(spark, out_b)
    assert len(a) == len(b) > 0
    assert a.equals(b), "step-days chunking changed the output (metamorphic failure)"

    # lineage has per-partition rows + latency; the counts observed on the
    # written frames equal the table's
    recs = job_b.lineage.records()
    assert all(r["rows"] > 0 and r["wall_sec"] >= 0 for r in recs)
    all_ds = {ds for r in recs for ds in r["rows_per_partition"]}
    assert all_ds == set(date_range(ds_min, ds_max))
    observed = {ds: n for r in recs for ds, n in r["rows_per_partition"].items()}
    assert observed == _table_counts(spark, out_b)

    # resume: rerun -> nothing recomputed
    res_again = job_b.run(ds_min, ds_max, step_days=2)
    assert res_again["computed_chunks"] == []
    assert res_again["skipped"] == len(date_range(ds_min, ds_max))

    # crash simulation: forget the last 2 partitions in lineage -> only they rerun
    recs = job_b.lineage.records()
    keep_ds = sorted(all_ds)[:-2]
    os.remove(job_b.lineage.path)
    for r in recs:
        kept = [ds for ds in r["partitions"] if ds in keep_ds]
        if kept:
            r2 = dict(r, partitions=kept,
                      rows_per_partition={k: v for k, v in r["rows_per_partition"].items() if k in kept})
            job_b.lineage.append(r2)
    res_resume = job_b.run(ds_min, ds_max, step_days=2)
    recomputed = [ds for c in res_resume["computed_chunks"] for ds in c["partitions"]]
    assert sorted(recomputed) == sorted(all_ds - set(keep_ds))

    b2 = _read_sorted(spark, out_b)
    assert b2.equals(a), "resumed output differs from uninterrupted run"


def test_spec_change_invalidates(spark, tset, tmp_path_factory):
    path, ds_min, ds_max = tset
    out = str(tmp_path_factory.mktemp("bf") / "out_spec")
    job1 = GroupByBackfill(spark, _gb(path), out, ROW_ID_EXPR)
    job1.run(ds_min, ds_max, step_days=365)

    gb2 = dataclasses.replace(_gb(path), aggregations=(
        Aggregation("text", Operation.COUNT, windows=(specs.W1H, None)),
    ))
    job2 = GroupByBackfill(spark, gb2, out, ROW_ID_EXPR)
    assert job2.hash != job1.hash
    assert job2.unfilled(ds_min, ds_max) == date_range(ds_min, ds_max)


class _FailingBackfill(GroupByBackfill):
    """Raises while planning the chunk that starts on ``fail_ds``."""

    fail_ds = None

    def _compute_chunk(self, ds_from, ds_to):
        if ds_from == self.fail_ds:
            raise RuntimeError(f"chunk {ds_from} failed")
        return super()._compute_chunk(ds_from, ds_to)


def test_failed_chunk_keeps_finished_ones(spark, tset, tmp_path_factory):
    path, ds_min, ds_max = tset
    days = date_range(ds_min, ds_max)
    one_chunk = str(tmp_path_factory.mktemp("bf") / "out_one_chunk")
    GroupByBackfill(spark, _gb(path), one_chunk, ROW_ID_EXPR, passthrough=PT).run(
        ds_min, ds_max, step_days=365)
    out = str(tmp_path_factory.mktemp("bf") / "out_fail")
    job = _FailingBackfill(spark, _gb(path), out, ROW_ID_EXPR, passthrough=PT)
    job.fail_ds = days[2]  # chunks of 2 days: the second chunk fails
    with pytest.raises(RuntimeError, match=f"chunk {days[2]} failed"):
        job.run(ds_min, ds_max, step_days=2)

    recorded = {ds for r in job.lineage.records() for ds in r["partitions"]}
    assert set(days[:2]) <= recorded, "the chunk in flight was not recorded"
    assert not recorded & set(days[2:4])

    rerun = GroupByBackfill(spark, _gb(path), out, ROW_ID_EXPR, passthrough=PT).run(
        ds_min, ds_max, step_days=2)
    redone = sorted(ds for c in rerun["computed_chunks"] for ds in c["partitions"])
    assert redone == sorted(set(days) - recorded)
    assert _read_sorted(spark, out).equals(_read_sorted(spark, one_chunk))


def test_chunk_runs_without_read_back_jobs(spark, tset, tmp_path_factory):
    """Lineage counts come from an Observation and autoExpand from the
    remembered schema: per chunk at most a source schema lookup, an AQE map
    stage and the write. The chunk threads must inherit the caller's job
    group, or none of their jobs would be counted here."""
    path, ds_min, ds_max = tset
    out = str(tmp_path_factory.mktemp("bf") / "out_jobs")
    sc = spark.sparkContext
    group = "test-backfill-jobs"
    sc.setJobGroup(group, "backfill job count")
    try:
        res = GroupByBackfill(spark, _gb(path), out, ROW_ID_EXPR, passthrough=PT).run(
            ds_min, ds_max, step_days=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_chunks = len(res["computed_chunks"])
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_chunks == 3
    assert n_chunks <= n_jobs <= 3 * n_chunks, n_jobs
