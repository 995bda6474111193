"""Fixed Spark work of an ingest cycle: a replayed batch is decided by
one key-only probe, the job's caches do not outlive it, and its stats
come from the audit commit without separate count jobs."""

import pytest
from pyspark.sql import functions as F

from resume_parser_service_spark.pipeline.run import run_extraction_job
from resume_parser_service_spark.pipeline.writer import SnapshotTable
from resume_parser_service_spark.sources.pages import build_pages_df

FLAGS = dict(enrich=True, neardup_index=True, compact_after=2)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _jobs_in(spark, group: str, fn):
    """(result of ``fn()``, ids of the Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def cycle(spark, tmp_path_factory):
    """Three growing batches (each resumes past the previous one) with
    enrich + band index + compaction, then a replay of the last."""
    root = tmp_path_factory.mktemp("cycle")
    out = str(root / "out")
    before = _persistent_rdds(spark)
    stats, after = [], []
    for i, n in enumerate((24, 48, 72)):
        path = str(root / f"pages-{i}")
        build_pages_df(spark, n, with_fixtures=(i == 0)) \
            .write.mode("overwrite").parquet(path)
        stats.append(run_extraction_job(spark, spark.read.parquet(path),
                                        out, **FLAGS))
        after.append(_persistent_rdds(spark))
    replay, jobs = _jobs_in(spark, "ingest-cycle-replay", lambda:
                            run_extraction_job(spark,
                                               spark.read.parquet(path),
                                               out, **FLAGS))
    after.append(_persistent_rdds(spark))
    return {"out": out, "stats": stats, "replay": replay, "jobs": jobs,
            "before": before, "after": after}


def test_batches_do_not_leak_caches(cycle):
    assert all(not s["resumed_noop"] for s in cycle["stats"])
    assert cycle["after"] == [cycle["before"]] * 4


def test_replay_is_one_probe(cycle):
    assert cycle["replay"]["resumed_noop"] is True
    assert cycle["replay"]["extracted"] == 0
    assert cycle["replay"]["rejected"] == 0
    assert len(cycle["jobs"]) <= 4, cycle["jobs"]


def test_stats_match_the_audit_commit(spark, cycle):
    """``extracted`` counts every audited kernel row (ok, error,
    invalid), ``rejected`` every pre-kernel reject, batch by batch."""
    audit = SnapshotTable(cycle["out"] + "/extraction_audit").read(spark)
    by_snap = {}
    for r in (audit.groupBy("snapshot_id",
                            (F.col("status") == "rejected").alias("rej"))
              .count().collect()):
        by_snap.setdefault(r["snapshot_id"], {})[r["rej"]] = r["count"]
    for s in cycle["stats"]:
        got = by_snap[s["snapshot_id"]]
        assert s["extracted"] == got.get(False, 0)
        assert s["rejected"] == got.get(True, 0)
    first = cycle["stats"][0]
    assert first["rejected"] == 2  # oversize + bad magic fixtures
    # the truncated and the locked fixture are error rows, still counted
    errors = audit.filter((F.col("snapshot_id") == first["snapshot_id"])
                          & (F.col("status") == "error")).count()
    assert errors == 2
