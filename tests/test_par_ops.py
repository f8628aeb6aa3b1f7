"""``par_ops`` legs run under the caller's job group and tags, so
cancelling the caller's group or tag (or a streaming query whose
foreachBatch body calls ``par_ops``) reaches every leg's jobs."""

from __future__ import annotations

from admob_data_pipeline_spark.operators.epoch_index import drain_stream
from admob_data_pipeline_spark.operators.util import par_ops


def _jobs(spark) -> dict:
    """``job id -> (job group, job tags)`` of every job the status store
    knows, once the listener bus has delivered every event."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out = {}
    it = jsc.statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        group = j.jobGroup()
        out[j.jobId()] = (
            group.get() if group.isDefined() else None,
            set(j.jobTags().mkString("\n").split("\n")),
        )
    return out


def _leg_jobs(spark, legs) -> dict:
    before = set(_jobs(spark))
    par_ops(*legs)
    jobs = {k: v for k, v in _jobs(spark).items() if k not in before}
    assert len(jobs) >= len(legs)
    return jobs


def test_legs_inherit_job_group_and_session_tags(spark):
    sc = spark.sparkContext
    sc.setJobGroup("par-ops-group", "par_ops legs")
    spark.addTag("par-ops-tag")
    try:
        jobs = _leg_jobs(
            spark,
            [lambda: spark.range(3).count(), lambda: spark.range(4).collect()],
        )
    finally:
        spark.removeTag("par-ops-tag")
        for key in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{key}", None)
    for group, tags in jobs.values():
        assert group == "par-ops-group"
        # a session tag reaches the job prefixed with the session and thread
        assert any(t.endswith("-par-ops-tag") for t in tags), tags


def test_legs_inside_foreach_batch_inherit_the_stream_group(spark, tmp_path):
    """A foreachBatch body runs under the streaming query's job group;
    the legs of a ``par_ops`` call made from the body, as the streaming
    index upserts make, run under it too, with the body's job tags and
    the tags of the micro-batch's own session."""
    src = str(tmp_path / "src")
    spark.range(2).write.parquet(src)
    seen = {}

    def body(batch, batch_id):
        sc = batch.sparkSession.sparkContext
        sc.addJobTag("par-ops-stream-tag")
        batch.sparkSession.addTag("par-ops-batch-tag")
        try:
            seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
            seen["jobs"] = _leg_jobs(
                spark,
                [batch.count, lambda: batch.sparkSession.range(4).collect()],
            )
        finally:
            batch.sparkSession.removeTag("par-ops-batch-tag")
            sc.removeJobTag("par-ops-stream-tag")

    drain_stream(spark, "id long", src, str(tmp_path / "ckpt"), body)
    assert seen["group"]
    for group, tags in seen["jobs"].values():
        assert group == seen["group"]
        assert "par-ops-stream-tag" in tags
        assert any(t.endswith("-par-ops-batch-tag") for t in tags), tags
