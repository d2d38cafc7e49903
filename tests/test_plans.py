"""Physical-plan properties: the shuffle/pushdown/broadcast contracts the
scale design rests on, asserted against .explain output so regressions in
operator composition surface as test failures."""

import re

import pytest
from pyspark.sql import functions as F

from deep_ner_spark import datagen


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def exchanges(plan: str):
    """(kind, args) per Exchange node in the FINAL plan tree (AQE's initial
    plan is advisory; formatted mode lists node details separately)."""
    tree = plan.split("== Initial Plan ==")[0]
    ids = set(re.findall(r"Exchange \((\d+)\)", tree))
    out = []
    for m in re.finditer(r"\((\d+)\) Exchange\s*\n(?:Input[^\n]*\n)?Arguments: (\w+)\(([^)]*)\)", plan):
        if m.group(1) in ids:
            out.append((m.group(2), m.group(3)))
    return out


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("plans")
    t, s, st = datagen.gen_transcripts(n_convs=10, mean_turns=6, seed=23)
    spark.createDataFrame(t).write.parquet(str(base / "t.parquet"))
    spark.createDataFrame(st.rename(columns={"entity_id": "conv_id"})).write.parquet(
        str(base / "st.parquet")
    )
    return (
        spark.read.parquet(str(base / "t.parquet")),
        spark.read.parquet(str(base / "st.parquet")),
    )


def test_flagship_single_exchange_and_no_feature_shuffle(tables, spark):
    """The whole flagship pipeline runs on ONE hash exchange by conv_id
    (the as-of union's), and the feature blobs never appear in any
    exchange — the two core scale claims of pipeline.py."""
    from deep_ner_spark.pipeline import featurize_transcripts

    tdf, stdf = tables
    out, _ = featurize_transcripts(
        tdf, stdf.withColumnRenamed("conv_id", "entity_id"), max_seq_length=8, emb_dim=4
    )
    plan = plan_of(out)
    ex = exchanges(plan)
    hash_ex = [e for e in ex if e[0] == "hashpartitioning"]
    assert len(hash_ex) == 1, f"expected 1 hash exchange, got {ex}\n{plan}"
    assert "conv_id" in hash_ex[0][1]
    # the feature column is created after the exchange: no Exchange line may
    # mention it, and ArrowEvalPython (the feature UDF) must come after
    # the Window operators in the plan tree (higher node id = deeper child)
    for _, args in ex:
        assert "features" not in args


def test_asof_join_is_window_not_join(tables, spark):
    from deep_ner_spark.operators.asof import asof_join

    tdf, stdf = tables
    out = asof_join(
        tdf,
        stdf.select("conv_id", "ts", "state_seq", "state"),
        ["conv_id"],
        "ts",
        ["state"],
        seq_col="turn_idx",
        state_seq_col="state_seq",
    )
    plan = plan_of(out)
    assert "Join" not in plan  # union-tag + window, no join operator
    assert "Window" in plan
    assert len([e for e in exchanges(plan) if e[0] == "hashpartitioning"]) == 1


def test_parquet_filter_pushdown_and_column_pruning(tables, spark):
    tdf, _ = tables
    q = tdf.where(F.col("conv_id") == "conv0000003").select("conv_id", "turn_idx")
    plan = plan_of(q)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[.*EqualTo\(conv_id", plan), plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1)  # untouched wide column pruned


def test_cosine_topk_broadcasts_query_side(spark):
    from deep_ner_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = cosine_topk(emb, emb.where(F.col("vec_id") < 3), k=2)
    plan = plan_of(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def executed_plans(spark, group: str, action) -> list:
    """Physical plans (final, after AQE) of the SQL executions ``action``
    ran, read from the SQL status store: those with a job in the unique job
    group ``group``.  (The group, not the description: the library names
    its own jobs, so their descriptions are not the caller's.)"""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = {str(j) for j in sc.statusTracker().getJobIdsForGroup(group)}
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    tail = store.executionsList(max(n - 50, 0), 50)
    runs = [tail.apply(i) for i in range(tail.size())]
    return [
        x.physicalPlanDescription()
        for x in runs
        if jobs & set(x.jobs().keys().mkString(",").split(","))
    ]


def test_vocab_agg_has_partial_aggregation(tables, spark):
    """The flagship's shape-vocab fit must map-side combine (partial_sum
    before the exchange) so the shuffle moves (shape, count) pairs, not
    tokens.  Checked on the plan the fit itself executed, so the check
    follows the fit wherever its code goes."""
    from deep_ner_spark.operators.features import fit_shape_vocab_from_text

    tdf, _ = tables
    plans = executed_plans(spark, "test.vocab_fit_plan", lambda: fit_shape_vocab_from_text(tdf))
    assert len(plans) == 1, plans
    final = plans[0].split("== Initial Plan ==")[0]
    assert "MapInArrow" in final, final
    # formatted tree lists nodes root first: the partial aggregate sits
    # below (after) the exchange, the final one above (before) it
    nodes = re.findall(r"\b(HashAggregate|Exchange|MapInArrow) \(\d+\)", final)
    assert nodes == ["HashAggregate", "Exchange", "HashAggregate", "MapInArrow"], nodes
    assert "partial_sum(cnt" in plans[0], plans[0]


def test_tokenize_turns_is_one_arrow_map_no_python_eval(spark, tmp_path):
    """tokenize_turns, and the token_explode driver query built on it, run
    the chunk tokenizer as one MapInArrow node: no scalar Python UDF
    (ArrowEvalPython / BatchEvalPython) evaluates per-row tokens.  The
    driver query sends only the columns it reads through that node."""
    import __spark_entry__ as entry

    from deep_ner_spark.operators.tokens import tokenize_turns

    docs = spark.createDataFrame(
        [(1, "a b", "x"), (2, None, "y")], "doc_id long, text string, source string"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    for df in (
        tokenize_turns(docs),
        entry.queries()["token_explode"](spark, str(tmp_path)),
    ):
        plan = plan_of(df)
        assert plan.count("MapInArrow (") == 1, plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    inputs = re.search(r"\(\d+\) MapInArrow\s*\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert inputs, plan
    cols = [c.split("#")[0] for c in inputs.group(1).split(", ")]
    assert cols == ["doc_id", "text", "norm_text"], plan


def test_predict_entities_is_one_arrow_map_no_exchange(tables, spark):
    """predict_entities adds ONE MapInArrow to the featurized plan: the
    head, the Viterbi decode and the BIO decode run in one Arrow pass, with
    no MapInPandas or scalar Python UDF node and no exchange of its own."""
    import numpy as np

    from deep_ner_spark.operators.features import feature_width
    from deep_ner_spark.pipeline import featurize_transcripts, predict_entities

    vocab = ("Aa", "a")
    out, _ = featurize_transcripts(
        tables[0], None, vocab=vocab, max_seq_length=8, emb_dim=4
    )
    W = np.zeros((feature_width(vocab, 4), 7), dtype=np.float32)
    base = plan_of(out)
    plan = plan_of(predict_entities(out, ("A", "B", "C"), W, np.zeros((7, 7))))
    assert plan.count("MapInArrow (") == base.count("MapInArrow (") + 1, plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    assert exchanges(plan) == exchanges(base), plan


def test_text_vocab_fit_runs_two_jobs(tables, spark):
    """The flagship's vocab fit is two Spark jobs: the map stage (Arrow
    count + partial aggregate) and the final aggregate's collect.  The
    vocab is sorted on the driver; a Spark orderBy would add the range
    partitioner's sample job and a sort job."""
    from deep_ner_spark.operators.features import fit_shape_vocab_from_text

    tdf, _ = tables
    sc = spark.sparkContext
    group = "test.features.fit"
    sc.setJobGroup(group, "vocab fit job count")
    try:
        vocab = fit_shape_vocab_from_text(tdf)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert vocab == tuple(sorted(vocab)) and len(vocab) > 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def test_whole_stage_codegen_covers_window_ops(tables, spark):
    from deep_ner_spark.operators.windows import sessionize

    tdf, _ = tables
    out = sessionize(tdf, ["conv_id"], "ts", 1800.0, ["turn_idx"])
    out.collect()  # AQE finalizes the plan (codegen markers) on execution
    plan = plan_of(out)
    assert "codegen id" in plan or "WholeStageCodegen" in plan


def test_bench_flagship_agg_keeps_all_stages_live(tables, spark):
    """An aggregation that skips a stage's output lets Catalyst prune that
    stage from the plan entirely (observed: round-1's bench agg contained
    ZERO Window nodes — the as-of + sessionize + ffill + lag stages were
    dead code and the 'flagship' timing measured only tokenize+featurize).
    This pins the honest consumption shape bench.py uses: every window
    output consumed => every Window/Sort present."""
    from deep_ner_spark.pipeline import featurize_transcripts

    tdf, stdf = tables
    out, _ = featurize_transcripts(
        tdf,
        stdf.withColumnRenamed("conv_id", "entity_id"),
        max_seq_length=8,
        emb_dim=4,
        state_seq_col="state_seq",
    )
    agg = out.select(
        F.count("*"),
        F.sum(F.length("features")),
        F.sum(F.crc32("norm_text")),
        F.sum("n_tokens"),
        F.sum(F.crc32(F.col("state").cast("string"))),
        F.sum("session_id"),
        F.sum(F.crc32("role_ffill")),
        F.sum(F.crc32("tool_ffill")),
        F.sum("n_tokens_lag1"),
        F.sum("n_tokens_lead1"),
    )
    plan = plan_of(agg)
    tree = plan.split("== Initial Plan ==")[0]
    n_windows = len(re.findall(r"Window", tree))
    assert n_windows >= 4, f"window stages pruned from bench plan:\n{tree}"
    assert "MapInArrow" in plan  # featurize pass live (r8: mapInArrow)
    # r8: mapInArrow is opaque over ALL its input columns, so the window
    # stages stay live even under a lean agg — the round-1 pruning hazard
    # the full agg was built against is now gone by construction (this
    # also means the frozen bench agg measures the same work as before)
    lean = out.select(F.count("*"), F.sum(F.length("features")))
    lean_tree = plan_of(lean).split("== Initial Plan ==")[0]
    assert "Window" in lean_tree


def test_jaccard_default_uses_prefix_filtering(spark):
    """VERDICT r1 flagged the naive shared-shingle self-join as the
    scale-killer at t<0.6; EVERY threshold must run the PPJoin prefix
    path: the self-join input is the posexploded ``slice`` of each
    document's ordered shingle-id array (checked in the plans the call
    executed), and no plan ranks shingles with a window."""
    from deep_ner_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(4)], ["doc_id", "text"]
    )
    for t in (0.3, 0.8):
        plans = executed_plans(
            spark,
            f"test.jaccard_prefix_plan_{t}",
            lambda: jaccard_pairs(df, "doc_id", "text", n=2, threshold=t).collect(),
        )
        shown = "\n".join(p[:500] for p in plans)
        assert any(re.search(r"posexplode\(slice\(__sh#\d+, 1, ", p) for p in plans), (
            f"t={t}: the self-join does not read the prefix slice\n" + shown
        )
        assert not any(re.search(r"\bWindow\b", p) for p in plans), (
            f"t={t}: a Window ranks the shingles\n" + shown
        )


def test_ivf_fit_never_sorts_the_corpus(spark, tmp_path):
    """A k-means IVF fit takes its seeds as the lowest ids of the unordered
    training sample with an ordered limit (TakeOrderedAndProject): no plan
    it runs has a range-partitioning (sort) exchange."""
    import numpy as np

    from deep_ner_spark.operators.similarity import fit_ivf_codebook

    vecs = np.random.default_rng(2).standard_normal((40, 8))
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).repartition(3).write.parquet(str(tmp_path / "emb"))
    emb = spark.read.parquet(str(tmp_path / "emb"))
    # the seed codebook is the lowest-id vectors whatever the file order
    assert fit_ivf_codebook(emb, n_lists=4) == [list(v) for v in vecs[:4]]
    plans = executed_plans(
        spark, "test.ivf_fit_plans", lambda: fit_ivf_codebook(emb, n_lists=4, kmeans_iters=2)
    )
    # the count, the seed read and one recentering aggregate per iteration
    assert len(plans) == 4, plans
    assert any("TakeOrderedAndProject" in p for p in plans), plans
    assert not any("rangepartitioning" in p for p in plans), plans


def test_chunk_documents_zero_exchange(spark):
    """The chunker is a pure projection + generate: no shuffle at any
    corpus size (output partitioning follows the scan)."""
    from deep_ner_spark.operators.packing import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(chunk_documents(docs, "doc_id", "text", 32, overlap=8))
    assert exchanges(plan) == [], plan
    # explode_outer (Generate's outer flag true), not plain explode: no
    # inferred filter re-evaluating the HOF chain per row
    gen_args = re.search(r"Arguments: explode\(.*\], (\w+), \[", plan)
    assert gen_args and gen_args.group(1) == "true", plan


def test_eval_contamination_broadcasts_eval_side(spark):
    """The shingled eval set must broadcast: the corpus side streams
    map-side with no corpus shuffle before the per-doc aggregation."""
    from deep_ner_spark.operators.dedup import eval_contamination

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = eval_contamination(
        docs.where(F.col("doc_id") % 20 != 0),
        docs.where(F.col("doc_id") % 20 == 0),
        "doc_id", "text", n=4,
    )
    plan = plan_of(out)
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pack_sequences_single_exchange_no_text(spark):
    """Packing shuffles ONCE, keyed by shard, and only the slim
    (id, token-count) columns cross the exchange — never text."""
    from deep_ner_spark.operators.packing import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(pack_sequences(docs, "doc_id", "text", 128, n_shards=8))
    ex = exchanges(plan)
    hash_ex = [e for e in ex if e[0] == "hashpartitioning"]
    assert len(hash_ex) == 1 and "shard" in hash_ex[0][1], ex
    assert "text" not in hash_ex[0][1]


def test_term_frequencies_partial_aggregation(spark):
    """The token count must map-side combine: the shuffle moves
    (token, count) pairs, not token occurrences (Zipf-skew-proof)."""
    from deep_ner_spark.operators.textstats import term_frequencies

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(term_frequencies(docs, "text", min_count=3))
    assert "partial_count" in plan or "Partial" in plan, plan


def test_repetition_stats_two_exchanges(spark):
    """Fused repetition stats: ONE tagged explode feeding exactly two hash
    exchanges — (id, n, gram) then id — and no join."""
    from deep_ner_spark.operators.textstats import repetition_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(repetition_stats(docs, "doc_id", "text"))
    hash_ex = [e for e in exchanges(plan) if e[0] == "hashpartitioning"]
    assert len(hash_ex) == 2, hash_ex
    assert "Join" not in plan.split("== Initial Plan ==")[0], plan


def single_partition_exchanges(plan: str) -> list:
    """Ids of the final tree's ``Exchange SinglePartition`` nodes that move
    rows, i.e. whose child is not a partial aggregate (a global count's
    exchange moves one row per task and is fine).  Formatted plans number
    nodes in post-order, so a unary node's child has the id before it."""
    tree = plan.split("== Initial Plan ==")[0]
    blocks = {
        int(m.group(1)): m.group(0)
        for m in re.finditer(r"^\((\d+)\) .*?(?=\n\n|\Z)", plan, re.M | re.S)
    }
    return [
        i for i in sorted({int(i) for i in re.findall(r"Exchange \((\d+)\)", tree)})
        if "Arguments: SinglePartition" in blocks[i]
        and "[partial_" not in blocks.get(i - 1, "")
    ]


@pytest.mark.parametrize("name", ["bio", "brat", "json", "segment", "jaccard"])
def test_no_single_partition_window_in_loaders_or_jaccard(spark, tmp_path, name):
    """Dense numbering and the shingle dictionary run without a global
    ``Window.orderBy``: no plan they execute funnels rows through one task."""
    import json

    import pandas as pd
    from test_loader_pins import BIO_TEXT, BRAT_DOCS, JSON_DOCS

    from deep_ner_spark.operators.dedup import jaccard_pairs
    from deep_ner_spark.operators.segment import divide_units_by_sentences
    from deep_ner_spark.sources.bio import load_bio_dataset
    from deep_ner_spark.sources.brat import load_brat_dataset
    from deep_ner_spark.sources.json_ds import load_json_dataset

    (tmp_path / "syn.bio").write_text(BIO_TEXT)
    (tmp_path / "syn.json").write_text(json.dumps(JSON_DOCS))
    brat = tmp_path / "brat"
    brat.mkdir()
    for base, (text, ann) in BRAT_DOCS.items():
        (brat / f"{base}.txt").write_text(text, encoding="utf-8")
        (brat / f"{base}.ann").write_text(ann, encoding="utf-8")
    units = spark.createDataFrame(
        pd.DataFrame({"sample_id": [0, 1], "text": ["A b. C d.", "E f."]})
    )
    spans = spark.createDataFrame(
        pd.DataFrame({"sample_id": [0], "ne_type": ["X"], "start": [0], "end": [1]})
    )
    docs = spark.createDataFrame(
        [(i, "a b c d e f g" if i % 2 else "a b c d e f h") for i in range(6)],
        ["doc_id", "text"],
    )
    runs = {
        "bio": lambda: load_bio_dataset(spark, str(tmp_path / "syn.bio")),
        "brat": lambda: load_brat_dataset(spark, str(brat)),
        "json": lambda: load_json_dataset(spark, str(tmp_path / "syn.json")),
        "segment": lambda: divide_units_by_sentences(units, spans),
        "jaccard": lambda: (jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.5),),
    }
    plans = executed_plans(
        spark, f"test.single_partition.{name}",
        lambda: [out.collect() for out in runs[name]()],
    )
    assert plans
    for plan in plans:
        assert single_partition_exchanges(plan) == [], plan
    # the check sees a global count's exchange and lets it pass
    if name == "jaccard":
        assert any("Arguments: SinglePartition" in p for p in plans)


def test_factrueval_validation_runs_one_action_per_parsed_frame(spark, tmp_path):
    """tokens 1, spans 2, objects 2, task1 1 (12 count actions before):
    each parsed frame's checks are one conditional-count aggregate.
    Counted as SQL executions (one per action): Spark job ids would also
    count each adaptive shuffle stage."""
    from test_loader_pins import FRE_DOC1, FRE_DOC2, write_fre

    from deep_ner_spark.sources.factrueval import (
        load_objects,
        load_spans,
        load_task1_predictions,
        load_tokens,
    )

    src = write_fre(tmp_path, book_1=FRE_DOC1, book_2=FRE_DOC2)
    (tmp_path / "book_1.task1").write_text("per 0 4\nloc 14 8\n")
    out = {}

    def load(fn, *args):
        return lambda: out.setdefault(fn.__name__, fn(spark, src, *args))

    counts = {}
    counts["tokens"] = len(executed_plans(spark, "test.fre.tokens", load(load_tokens)))
    counts["spans"] = len(
        executed_plans(spark, "test.fre.spans", load(load_spans, out["load_tokens"]))
    )
    counts["objects"] = len(
        executed_plans(spark, "test.fre.objects", load(load_objects, out["load_spans"]))
    )
    counts["task1"] = len(
        executed_plans(spark, "test.fre.task1", load(load_task1_predictions))
    )
    assert counts == {"tokens": 1, "spans": 2, "objects": 2, "task1": 1}
    assert out["load_objects"].count() == 5
