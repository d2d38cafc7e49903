"""Flagship pipeline: point-in-time featurization of agent transcripts.

One DataFrame chain (SURVEY §3 E1 re-expressed for Spark), in
shuffle-aware order:

    transcripts
      -> as-of join latest entity state, zero leakage (J5)   [exchange #1]
      -> sessionize on ts gaps (W4)                          [reuses it]
      -> forward-fill sparse role/tool (W3)                  [reuses it]
      -> token-count lag/lead turn context (W8, JVM regexp)  [reuses it]
      -> normalize + tokenize + bounds + per-turn binary     [ONE narrow
         float32 feature matrix                              mapInArrow]

Shuffle budget: exactly ONE exchange by conv_id — the as-of union's —
serves every window (verified by tests/test_plans.py); everything after it
is narrow, so the multi-GB feature blobs never shuffle.  The vocab fit is
a separate tiny shape-string aggregation pass.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deep_ner_spark.functions.text import word_token_count_col
from deep_ner_spark.operators.asof import asof_join
from deep_ner_spark.operators.features import featurize_fused, fit_shape_vocab_from_text
from deep_ner_spark.operators.windows import forward_fill, lag_lead, sessionize


def featurize_transcripts(
    transcripts: DataFrame,
    entity_state: DataFrame | None = None,
    vocab: Tuple[str, ...] | None = None,
    max_seq_length: int = 32,
    emb_dim: int = 16,
    session_gap_seconds: float = 1800.0,
    state_seq_col: str | None = None,
) -> Tuple[DataFrame, Tuple[str, ...]]:
    """Returns (featurized turns DataFrame, fitted shape vocabulary).

    Stage order is shuffle-aware: the windowed operators and the as-of join
    run FIRST, on the slim transcript columns (one small exchange by
    conv_id), and the tokenizer + feature assembly run LAST as one narrow
    Arrow pass over the already-exchanged rows — the multi-GB feature blobs are
    produced after the last exchange and never shuffle.  (The reverse
    order pushed ~20x the bytes through every window exchange.)
    """
    slim = transcripts
    if entity_state is not None:
        # as-of runs first: its union-tag window hash-partitions by conv_id,
        # and every later window reuses that partitioning (sorts only)
        state = entity_state.withColumnRenamed("entity_id", "conv_id")
        # state_seq_col breaks ties among state rows sharing one (conv, ts):
        # without it, F.last over fully-equal sort keys picks whichever row
        # the shuffle ordered last, making the attached state nondeterministic
        state_cols = ["conv_id", "ts", "state"] + (
            [state_seq_col] if state_seq_col else []
        )
        slim = asof_join(
            slim,
            state.select(*state_cols),
            key_cols=["conv_id"],
            ts_col="ts",
            state_cols=["state"],
            seq_col="turn_idx",
            state_seq_col=state_seq_col,
        )
    slim = sessionize(
        slim, ["conv_id"], "ts", session_gap_seconds, order_cols=["turn_idx"]
    )
    slim = forward_fill(slim, ["conv_id"], ["turn_idx"], ["role", "tool"])
    # token count JVM-side (same count as the Python tokenizer) so the
    # lag/lead window runs in the slim phase — a Python-eval node would lose
    # the partitioning info and force a second exchange if this ran after
    # tokenize_turns.  A null text counts 0 tokens, as featurize gives it:
    # least() skips nulls, so an uncoalesced count would read max_seq_length
    slim = slim.withColumn(
        "n_tokens",
        F.least(
            F.coalesce(word_token_count_col(F.col("text")), F.lit(0)),
            F.lit(max_seq_length),
        ).cast("int"),
    )
    slim = lag_lead(slim, ["conv_id"], ["turn_idx"], ["n_tokens"], offsets=(1,))

    if vocab is None:
        # a dedicated fit pass beats persisting the tokenized frame: the
        # cache write of the token arrays costs ~2x the re-tokenize
        # (measured at sf0.1: 12.5s cached-cold vs 2.3s fit + 3.8s main).
        # The count-only fit skips bounds/pos/dep and ships per-batch
        # (shape, count) pairs instead of six token arrays — same functions,
        # same vocabulary, fraction of the Python+Arrow cost.
        vocab = fit_shape_vocab_from_text(transcripts)
    # fused normalize+tokenize+featurize: ONE Arrow round trip (a split
    # form would ship token arrays Python->JVM->Python through two passes)
    feats = featurize_fused(slim, vocab, max_seq_length, emb_dim)
    out_cols = [
        "conv_id",
        "turn_idx",
        "ts",
        "session_id",
        "role_ffill",
        "tool_ffill",
        "n_tokens",
        "n_tokens_lag1",
        "n_tokens_lead1",
        "norm_text",
        "tokens",
        "starts",
        "ends",
        "features",
        "feature_width",
    ]
    if entity_state is not None:
        out_cols.append("state")
    return feats.select(*out_cols), vocab


def predict_entities(
    featurized: DataFrame,
    classes_list: Sequence[str],
    weights,
    transitions,
) -> DataFrame:
    """The reference's read path E1 steps 4-7 (elmo_ner.py:277-304):
    feature matrices -> logits (here a deterministic linear head standing in
    for the TF session) -> per-turn Viterbi decode -> BIO islands decode ->
    long-form entity spans (conv_id, turn_idx, ne_type, start, end).

    ``weights``: [feature_width, n_tags] ndarray; ``transitions``:
    [n_tags, n_tags]; n_tags = 2 * len(classes_list) + 1 (the BIO int
    codec's range).  One Arrow pass per turn, no shuffle.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from deep_ner_spark import textfns
    from deep_ner_spark.operators.features import decode_feature_matrix
    from deep_ner_spark.operators.viterbi import viterbi_decode

    W = np.asarray(weights, dtype=np.float32)
    trans = np.asarray(transitions, dtype=np.float64)
    classes = tuple(classes_list)

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("ne_type", T.StringType()),
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
        ]
    )

    def run(batches):
        cols = ["conv_id", "turn_idx", "ne_type", "start", "end"]
        for pdf in batches:
            # column zip, not iterrows: row-object construction would dominate
            # the per-turn work at Arrow batch sizes.  The linear head runs as
            # ONE [sum L, width] @ W matmul over the whole Arrow batch (turn
            # slices are views into the stacked logits), so the Python loop
            # carries only the O(L) Viterbi DP + span decode per turn.
            mats, metas = [], []
            for conv_id, turn_idx, features, width, starts, ends in zip(
                pdf["conv_id"],
                pdf["turn_idx"],
                pdf["features"],
                pdf["feature_width"],
                pdf["starts"],
                pdf["ends"],
            ):
                m = decode_feature_matrix(features, int(width))
                if m.shape[0] == 0:
                    continue
                mats.append(m)
                metas.append((conv_id, int(turn_idx), starts, ends, m.shape[0]))
            if not mats:
                yield pd.DataFrame([], columns=cols)
                continue
            logits_all = np.vstack(mats) @ W
            rows = []
            off = 0
            for conv_id, turn_idx, starts, ends, n in metas:
                logits = logits_all[off:off + n]
                off += n
                labels = viterbi_decode(logits, trans)
                bounds = list(zip(starts, ends))[:n]
                spans = textfns.decode_bio_spans(bounds, classes, labels.tolist())
                for ne_type in spans:
                    for s, e in spans[ne_type]:
                        rows.append((conv_id, turn_idx, ne_type, s, e))
            yield pd.DataFrame(rows, columns=cols)

    cols = ["conv_id", "turn_idx", "features", "feature_width", "starts", "ends"]
    return featurized.select(*cols).mapInPandas(run, schema=schema)
