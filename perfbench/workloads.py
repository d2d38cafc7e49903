"""The workloads: sizes, one-time set-up, the timed job, its check against
the reference, and the layer-by-layer split of the traced run.

Every job drives the library through its public functions only and ends
in one Spark action whose aggregate reads every output column (see
``spark_digest``), so Catalyst cannot prune a stage the job should pay for.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

import oracle

MAX_SEQ, EMB = 32, 16
CLASSES = ("LOCATION", "ORG", "PERSON")
N_TAGS = 2 * len(CLASSES) + 1  # the BIO codec's range
GAP_S = 1800.0

# every layer the traced run can split out, in table order
LAYERS = (
    "features.fit",
    "asof",
    "windows",
    "features.featurize",
    "pipeline.featurize",
    "predict",
    "dedup.jaccard",
    "dedup.cc",
    "dedup.simhash",
    "dedup.hamming",
)
# the layers that run Python workers; the others always read zero Python
# CPU, so the per-layer metrics leave out their pyworker_cpu_s
PYTHON_LAYERS = ("features.fit", "features.featurize", "pipeline.featurize", "predict")


def _str(col) -> F.Column:
    return F.coalesce(F.col(col).cast("string"), F.lit(""))


def spark_digest(df, cols, sample_features: bool = False) -> dict:
    """Spark twin of ``oracle.digest_rows`` in ONE action; optionally also
    the crc32 sum of the feature blobs of sampled conversations."""
    key = F.concat_ws("|", *[_str(c) for c in cols])
    aggs = [F.count(F.lit(1)).alias("rows"), F.sum(F.crc32(key)).alias("crc")]
    if sample_features:
        sampled = F.crc32(F.col("conv_id")) % oracle.SAMPLE_MOD == 0
        aggs += [
            F.sum(F.when(sampled, F.crc32("features"))).alias("sample_crc"),
            F.sum(F.when(sampled, 1)).alias("sample_rows"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    return {k: int(v or 0) for k, v in row.items()}


def slim_view(df, lag_col: str):
    """The slim columns under the oracle's key names."""
    return df.select(
        "*",
        F.col(f"{lag_col}_lag1").alias("lag1"),
        F.col(f"{lag_col}_lead1").alias("lead1"),
        F.floor(F.element_at("state", 1) * F.lit(1e6)).alias("state_q"),
    )


FEATURIZED_KEY = oracle.SLIM_KEY + ("n_tokens", "feat_bytes")


def featurized_digest(out) -> dict:
    view = slim_view(out, "n_tokens").withColumn(
        "feat_bytes", F.octet_length("features")
    )
    return spark_digest(view, FEATURIZED_KEY, sample_features=True)


def asof(turns, state):
    from deep_ner_spark.operators.asof import asof_join

    return asof_join(
        turns,
        state.withColumnRenamed("entity_id", "conv_id").select(
            "conv_id", "ts", "state", "state_seq"
        ),
        key_cols=["conv_id"],
        ts_col="ts",
        state_cols=["state"],
        seq_col="turn_idx",
        state_seq_col="state_seq",
    )


def windows(df, lag_col: str, lag_value):
    """sessionize -> forward_fill -> lag/lead of ``lag_value``, in the
    order and with the arguments ``pipeline.featurize_transcripts`` uses."""
    from deep_ner_spark.operators.windows import forward_fill, lag_lead, sessionize

    df = sessionize(df, ["conv_id"], "ts", GAP_S, order_cols=["turn_idx"])
    df = forward_fill(df, ["conv_id"], ["turn_idx"], ["role", "tool"])
    df = df.withColumn(lag_col, lag_value)
    return lag_lead(df, ["conv_id"], ["turn_idx"], [lag_col], offsets=(1,))


def pipeline_token_count():
    # the pipeline's own slim-phase token count (pipeline.py), so the
    # layered run feeds featurize exactly what the fused call does
    return F.least(
        F.regexp_count(F.col("text"), F.lit(r"(?U)\w+|[^\w\s]")), F.lit(MAX_SEQ)
    ).cast("int")


def predicted_spans(featurized, head) -> list:
    """Sorted ``predict_entities`` rows, as lists."""
    from deep_ner_spark.pipeline import predict_entities

    rows = predict_entities(featurized, CLASSES, *head).collect()
    return sorted(list(r) for r in rows)


class Workload:
    """One workload.  ``bind`` gets the loaded tables after every set-up;
    ``expect`` gets the reference once; ``job(i)`` returns (rows, ok)."""

    name = ""
    sizes: dict = {}
    job_layer = "job"  # span name of a traced end-to-end job
    covers: tuple = ()  # the LAYERS that ``job`` and ``layers`` run
    # untimed full jobs before timing, so JIT, codegen and worker caches
    # are warm: at least ``warm_jobs`` of them, and on until ``warm_s``
    # seconds have passed
    warm_jobs = 2
    warm_s = 0.0

    def __init__(self, seed: int):
        self.seed = seed
        self.checks = [0, 0]  # traced-layer checks: attempted, failed

    def bind(self, tables: dict) -> None:
        self.tables = tables

    def fit(self) -> None:
        """One-time fits paid at set-up."""

    def reference(self, pdfs: dict, in_dir: Path) -> dict:
        raise NotImplementedError

    def expect(self, ref: dict) -> None:
        self.ref = ref

    def job(self, i: int):
        raise NotImplementedError

    def layers(self, tracer, rep: int) -> None:
        raise NotImplementedError

    def check(self, ok: bool) -> None:
        self.checks[0] += 1
        self.checks[1] += not ok


class Backfill(Workload):
    """The flagship ``featurize_transcripts``, vocab fit included, over a
    transcript table whose seeded long-tail words make the token-vector
    cache miss often: the Python/Arrow featurize boundary does most of the
    work."""

    name = "backfill"
    sizes = {"n_convs": 600, "mean_turns": 20, "lexicon_per_turn": 4, "lexicon_size": 5000}
    job_layer = "pipeline.featurize"
    covers = LAYERS[:6]
    # a job's JVM CPU falls ~8x over its first ~5-8 jobs, mostly JIT
    # compilation; timing part of that descent made the median depend on
    # how far it had got
    warm_jobs = 3
    warm_s = 15.0

    def reference(self, pdfs: dict, in_dir: Path) -> dict:
        turns = pdfs["transcripts"]
        ref = oracle.featurize_reference(turns, pdfs["entity_state"], MAX_SEQ, EMB)
        # predicted spans of the sampled conversations, for the traced split
        w, trans = oracle.linear_head(ref["vocab"], EMB, N_TAGS, self.seed)
        sampled = turns[turns["conv_id"].map(oracle.is_sampled)]
        ref["spans"] = oracle.spans_reference(
            sampled, ref["vocab"], CLASSES, w, trans, MAX_SEQ, EMB
        )
        return ref

    def job(self, i: int):
        from deep_ner_spark.pipeline import featurize_transcripts

        out, vocab = featurize_transcripts(
            self.tables["transcripts"],
            self.tables["entity_state"],
            max_seq_length=MAX_SEQ,
            emb_dim=EMB,
            state_seq_col="state_seq",
        )
        got = featurized_digest(out)
        return got["rows"], got == self.ref["digest"] and list(vocab) == self.ref["vocab"]

    def layers(self, tracer, rep: int) -> None:
        from deep_ner_spark.operators.features import (
            featurize_fused,
            fit_shape_vocab_from_text,
        )

        t, s = self.tables["transcripts"], self.tables["entity_state"]
        with tracer.span("features.fit") as r:
            vocab = fit_shape_vocab_from_text(t)
        r["rows_out"] = len(vocab)
        with tracer.span("asof") as r:
            a = asof(t, s).localCheckpoint(eager=True)
        r["rows_out"] = a.count()
        with tracer.span("windows") as r:
            w = windows(a, "n_tokens", pipeline_token_count()).localCheckpoint(eager=True)
        r["rows_out"] = w.count()
        with tracer.span("features.featurize") as r:
            f = featurize_fused(w, vocab, MAX_SEQ, EMB).localCheckpoint(eager=True)
        got = featurized_digest(f)
        r["rows_out"] = got["rows"]
        self.check(got == self.ref["digest"] and list(vocab) == self.ref["vocab"])
        head = oracle.linear_head(vocab, EMB, N_TAGS, self.seed)
        with tracer.span("predict") as r:
            spans = predicted_spans(f, head)
        r["rows_out"] = len(spans)
        got = [x for x in spans if oracle.is_sampled(x[0])]
        self.check(got == [list(x) for x in self.ref["spans"]])


class PitAttach(Workload):
    """``asof_join`` then ``sessionize``, ``forward_fill`` and ``lag_lead``
    over Zipf-skewed conversations (the hottest ~10% of turns): the as-of
    and window layers do all the work, nothing runs in Python."""

    name = "pit_attach"
    sizes = {"n_convs": 80, "mean_turns": 150, "tiles": 8}

    def reference(self, pdfs: dict, in_dir: Path) -> dict:
        t = pdfs["transcripts"]
        ref = oracle.slim_reference(t, pdfs["entity_state"], t["text"].str.len())
        return {"digest": oracle.digest_frame(ref, oracle.SLIM_KEY)}

    def job(self, i: int):
        t, s = self.tables["transcripts"], self.tables["entity_state"]
        out = windows(asof(t, s), "n_chars", F.length("text"))
        got = spark_digest(slim_view(out, "n_chars"), oracle.SLIM_KEY)
        return got["rows"], got == self.ref["digest"]

    def layers(self, tracer, rep: int) -> None:
        t, s = self.tables["transcripts"], self.tables["entity_state"]
        with tracer.span("asof") as r:
            a = asof(t, s).localCheckpoint(eager=True)
        r["rows_out"] = a.count()
        with tracer.span("windows") as r:
            got = spark_digest(
                slim_view(windows(a, "n_chars", F.length("text")), "n_chars"),
                oracle.SLIM_KEY,
            )
        r["rows_out"] = got["rows"]
        self.check(got == self.ref["digest"])


CLUSTER_KEY = ("doc_id", "cluster_id", "cluster_size", "is_canonical")
PAIR_KEY = ("id_a", "id_b", "inter", "size_a", "size_b")
HAMMING_KEY = ("id_a", "id_b", "hamming")


class NearDup(Workload):
    """``dup_clusters`` (Jaccard >= 0.5, then connected components) plus
    ``hamming_near_pairs(simhash64(...))``: the dedup layers do all the
    work, featurize and as-of none."""

    name = "near_dup"
    sizes = {"n_docs": 2000}
    covers = LAYERS[6:]
    warm_jobs = 2  # ~12 s, then ~9 s; later jobs settle near 7 s

    def reference(self, pdfs: dict, in_dir: Path) -> dict:
        docs = pdfs["documents"]
        rows = oracle.duckdb_oracles(
            str(in_dir / "documents"), ["jaccard_pairs", "dup_clusters"]
        )
        hashes = oracle.simhash_reference(list(docs["text"]))
        pairs = oracle.hamming_pairs_reference(docs["doc_id"].to_numpy(), hashes)
        return {
            "pairs": oracle.digest_rows(r[:5] for r in rows["jaccard_pairs"]),
            "clusters": oracle.digest_rows(rows["dup_clusters"]),
            "components": oracle.digest_rows(r[:2] for r in rows["dup_clusters"]),
            "hamming": oracle.digest_rows(pairs),
        }

    def job(self, i: int):
        from deep_ner_spark.operators.dedup import (
            dup_clusters,
            hamming_near_pairs,
            simhash64,
        )

        docs = self.tables["documents"]
        clusters = spark_digest(
            dup_clusters(docs, "doc_id", "text", n=3, threshold=0.5), CLUSTER_KEY
        )
        pairs = spark_digest(
            hamming_near_pairs(
                simhash64(docs, "doc_id", "text"), "doc_id", max_hamming=3, n_blocks=4
            ),
            HAMMING_KEY,
        )
        ok = clusters == self.ref["clusters"] and pairs == self.ref["hamming"]
        return clusters["rows"], ok

    def layers(self, tracer, rep: int) -> None:
        from deep_ner_spark.operators.dedup import (
            connected_components,
            hamming_near_pairs,
            jaccard_pairs,
            simhash64,
        )

        docs = self.tables["documents"]
        with tracer.span("dedup.jaccard") as r:
            pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
            pairs = pairs.localCheckpoint(eager=True)
        got = spark_digest(pairs, PAIR_KEY)
        r["rows_out"] = got["rows"]
        self.check(got == self.ref["pairs"])
        with tracer.span("dedup.cc") as r:
            cc = connected_components(pairs, docs.select("doc_id"), "doc_id")
            got = spark_digest(cc, ("doc_id", "cluster_id"))
        r["rows_out"] = got["rows"]
        self.check(got == self.ref["components"])
        with tracer.span("dedup.simhash") as r:
            sh = simhash64(docs, "doc_id", "text").localCheckpoint(eager=True)
        r["rows_out"] = sh.count()
        with tracer.span("dedup.hamming") as r:
            got = spark_digest(
                hamming_near_pairs(sh, "doc_id", max_hamming=3, n_blocks=4), HAMMING_KEY
            )
        r["rows_out"] = got["rows"]
        self.check(got == self.ref["hamming"])


class ScoreStream(Workload):
    """Many small jobs: the new turns and state of 16 conversations,
    ``featurize_transcripts`` with the vocab fitted at set-up, then
    ``predict_entities``; per-job planning and scheduling plus Viterbi
    dominate, and the stock vocabulary keeps the token cache warm."""

    name = "score_stream"
    n_batches = 12
    batch_convs = 16
    sizes = {"n_convs": n_batches * batch_convs, "mean_turns": 8}

    def batch_ids(self, b: int) -> list:
        # round-robin, so every batch mixes hot and cold conversations
        return [f"conv{ci:07d}" for ci in range(b, self.sizes["n_convs"], self.n_batches)]

    def bind(self, tables: dict) -> None:
        super().bind({k: v.localCheckpoint(eager=True) for k, v in tables.items()})

    def fit(self) -> None:
        from deep_ner_spark.operators.features import fit_shape_vocab_from_text

        self.vocab = fit_shape_vocab_from_text(self.tables["transcripts"])
        self.head = oracle.linear_head(self.vocab, EMB, N_TAGS, self.seed)

    def _featurize(self, b: int):
        from deep_ner_spark.pipeline import featurize_transcripts

        ids = self.batch_ids(b)
        t = self.tables["transcripts"].where(F.col("conv_id").isin(ids))
        s = self.tables["entity_state"].where(F.col("entity_id").isin(ids))
        out, _ = featurize_transcripts(
            t, s, vocab=self.vocab, max_seq_length=MAX_SEQ, emb_dim=EMB,
            state_seq_col="state_seq",
        )
        return out

    def reference(self, pdfs: dict, in_dir: Path) -> dict:
        turns = pdfs["transcripts"]
        _, vocab = oracle.tokenized(turns)
        w, trans = oracle.linear_head(vocab, EMB, N_TAGS, self.seed)
        spans, rows = [], []
        for b in range(self.n_batches):
            bt = turns[turns["conv_id"].isin(self.batch_ids(b))]
            spans.append(oracle.spans_reference(bt, vocab, CLASSES, w, trans, MAX_SEQ, EMB))
            rows.append(len(bt))
        return {"vocab": list(vocab), "spans": spans, "rows": rows}

    def expect(self, ref: dict) -> None:
        super().expect(ref)
        self.spans = [[list(s) for s in b] for b in ref["spans"]]
        self.vocab_ok = list(self.vocab) == ref["vocab"]

    def job(self, i: int):
        b = i % self.n_batches
        got = predicted_spans(self._featurize(b), self.head)
        return self.ref["rows"][b], self.vocab_ok and got == self.spans[b]

    def layers(self, tracer, rep: int) -> None:
        from deep_ner_spark.operators.features import fit_shape_vocab_from_text

        if rep == 0:
            with tracer.span("features.fit") as r:
                vocab = fit_shape_vocab_from_text(self.tables["transcripts"])
            r["rows_out"] = len(vocab)
            self.check(list(vocab) == self.ref["vocab"])
        b = rep % self.n_batches
        with tracer.span("pipeline.featurize") as r:
            f = self._featurize(b).localCheckpoint(eager=True)
        r["rows_out"] = f.count()
        with tracer.span("predict") as r:
            got = predicted_spans(f, self.head)
        r["rows_out"] = len(got)
        self.check(self.vocab_ok and got == self.spans[b])


WORKLOADS = {w.name: w for w in (Backfill, PitAttach, NearDup, ScoreStream)}

# Small inputs for the layers a workload does not run: its traced run
# passes once through each of these workloads that covers such a layer,
# so every traced run measures every layer (those at this small size, cold).
SIDE_SIZES = {
    "backfill": {"n_convs": 40, "mean_turns": 20, "lexicon_per_turn": 4, "lexicon_size": 5000},
    "near_dup": {"n_docs": 300},
}


def side_pass(spark, tracer, seed: int, done: set) -> list:
    """One pass through every layer not in ``done``, on the small inputs
    of ``SIDE_SIZES``; returns the side workloads run (for their checks)."""
    import inputs

    ran = []
    for name, sizes in SIDE_SIZES.items():
        wl = WORKLOADS[name](seed)
        if done.issuperset(wl.covers):
            continue
        wl.sizes = sizes
        in_dir = inputs.ensure(spark, name, seed, sizes)
        wl.bind(inputs.load(spark, in_dir))
        wl.fit()
        wl.expect(load_reference(wl, in_dir))
        if wl.job_layer in LAYERS:
            with tracer.span(wl.job_layer) as r:
                rows, ok = wl.job(0)
            r["rows_out"] = rows
            wl.check(ok)
        wl.layers(tracer, 0)
        ran.append(wl)
    return ran


def load_reference(wl: Workload, in_dir: Path) -> dict:
    """The workload's reference and input properties, computed once per
    input directory and cached beside it."""
    import inputs

    path = in_dir.with_name(in_dir.name + ".reference.json")
    if path.exists():
        return json.loads(path.read_text())
    meta = json.loads((in_dir / "meta.json").read_text())
    pdfs = inputs.load_pandas(in_dir)
    ref = wl.reference(pdfs, in_dir)
    ref["input"] = inputs.properties(pdfs, meta)
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(json.dumps(ref))
    tmp.replace(path)
    return ref
