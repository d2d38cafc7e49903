"""Job names and stage reports (deep_ner_spark.obs): the library names the
jobs it starts, leaves the caller's job group and description as they were,
and ``stage_report`` accounts for every job and task of the action."""

import pytest

from deep_ner_spark import datagen
from deep_ner_spark.obs import stage_report

GROUP, DESC = "spark.jobGroup.id", "spark.job.description"


@pytest.fixture
def caller(spark):
    """A caller's job group and description, cleared afterwards."""
    sc = spark.sparkContext
    sc.setLocalProperty(GROUP, "test.obs.caller")
    sc.setLocalProperty(DESC, "caller description")
    yield sc
    sc.setLocalProperty(GROUP, None)
    sc.setLocalProperty(DESC, None)


def _docs(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "a completely different sentence about spark stages",
        "the quick brown fox jumps over a lazy dog",
        "another unrelated text on job names",
    ]
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def _transcripts(spark):
    t, _, st = datagen.gen_transcripts(n_convs=4, mean_turns=4, seed=5)
    return spark.createDataFrame(t), spark.createDataFrame(st)


def _group_descriptions(sc, group):
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    return {
        store.job(j).description().getOrElse(None)
        for j in sc.statusTracker().getJobIdsForGroup(group)
    }


def test_named_calls_keep_the_callers_group_and_description(spark, caller):
    """Named library calls run their jobs in the caller's job group, under
    their own names, and hand the caller's properties back unchanged."""
    from deep_ner_spark.operators.dedup import dup_clusters
    from deep_ner_spark.pipeline import featurize_transcripts

    tdf, stdf = _transcripts(spark)
    out, _ = featurize_transcripts(tdf, stdf, vocab=None, max_seq_length=8, emb_dim=4)
    assert (caller.getLocalProperty(GROUP), caller.getLocalProperty(DESC)) == (
        "test.obs.caller",
        "caller description",
    )
    clusters = dup_clusters(_docs(spark), "doc_id", "text")
    assert (caller.getLocalProperty(GROUP), caller.getLocalProperty(DESC)) == (
        "test.obs.caller",
        "caller description",
    )
    out.collect()
    clusters.collect()
    names = _group_descriptions(caller, "test.obs.caller")
    assert {"features.fit", "dedup.jaccard", "dedup.cc", "caller description"} <= names, names


@pytest.mark.parametrize("query", ["featurize", "dup_clusters"])
def test_stage_report_names_and_totals(spark, caller, query):
    """Every stage the report lists ran under a library name or the
    caller's description; its job and task totals equal the status
    tracker's for the report's job group; the caller's group and
    description are restored."""
    from deep_ner_spark.operators.dedup import dup_clusters
    from deep_ner_spark.pipeline import featurize_transcripts

    seen = {}

    def action():
        if query == "featurize":
            tdf, stdf = _transcripts(spark)
            featurize_transcripts(tdf, stdf, max_seq_length=8, emb_dim=4)[0].collect()
        else:
            dup_clusters(_docs(spark), "doc_id", "text").collect()
        seen["group"] = caller.getLocalProperty(GROUP)

    rows = stage_report(spark, action)
    assert (caller.getLocalProperty(GROUP), caller.getLocalProperty(DESC)) == (
        "test.obs.caller",
        "caller description",
    )
    assert seen["group"] != "test.obs.caller"
    own = {"featurize": {"features.fit"}, "dup_clusters": {"dedup.jaccard", "dedup.cc"}}[query]
    assert own <= {r["name"] for r in rows} <= own | {"caller description"}, rows

    tracker = caller.statusTracker()
    jobs = tracker.getJobIdsForGroup(seen["group"])
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    # a long session's store may have evicted skipped stages (None here)
    tasks = sum(i.numCompletedTasks for i in map(tracker.getStageInfo, stages) if i)
    assert len({r["job"] for r in rows}) == len(jobs)
    assert sum(r["tasks"] for r in rows) == tasks
    for r in rows:
        assert 0 <= r["submit_s"] <= r["end_s"]
        assert r["nodes"] and r["task_max_s"] >= r["task_p50_s"] >= 0
