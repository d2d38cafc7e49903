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

# a turn more than this many seconds after the previous one opens a session
SESSION_GAP_SECONDS = 1800.0


def featurize_transcripts(
    transcripts: DataFrame,
    entity_state: DataFrame | None = None,
    vocab: Tuple[str, ...] | None = None,
    max_seq_length: int = 32,
    emb_dim: int = 16,
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
        slim, ["conv_id"], "ts", SESSION_GAP_SECONDS, order_cols=["turn_idx"]
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
    for the TF session) -> Viterbi decode -> BIO islands decode ->
    long-form entity spans (conv_id, turn_idx, ne_type, start, end).

    ``weights``: [feature_width, n_tags] ndarray; ``transitions``:
    [n_tags, n_tags]; n_tags = 2 * len(classes_list) + 1 (the BIO int
    codec's range).  One ``mapInArrow``, no shuffle.  Per Arrow batch, the
    ``features`` column's data buffer IS the stacked [sum n, width] float32
    matrix of its turns, so the head is ONE matmul over it and its byte
    offsets are the turns' row offsets; ``viterbi_decode_packed`` decodes
    every turn, and the BIO islands are decoded only for turns with a
    non-O label.  A null, empty or whitespace-only turn has a 0-byte blob
    and emits nothing.  Raises ``ValueError`` when a turn's
    ``feature_width`` is not ``weights.shape[0]``.
    """
    import numpy as np
    import pyarrow as pa

    from deep_ner_spark import textfns
    from deep_ner_spark.operators.viterbi import viterbi_decode_packed

    W = np.asarray(weights, dtype=np.float32)
    trans = np.asarray(transitions, dtype=np.float64)
    classes = tuple(classes_list)
    width = W.shape[0]
    row_bytes = 4 * width

    schema = "conv_id string, turn_idx int, ne_type string, start int, `end` int"

    def run(batches):
        for rb in batches:
            widths = rb.column("feature_width").to_numpy(zero_copy_only=False)
            if (widths != width).any():
                raise ValueError(
                    f"feature_width {sorted(set(widths.tolist()))} != "
                    f"weights.shape[0] {width}"
                )
            feats = rb.column("features")
            if feats.null_count:
                feats = feats.fill_null(b"")
            # pyarrow's BinaryArray has no .offsets: read its int32 offsets
            # buffer from the array's own slice offset
            offs = np.frombuffer(
                feats.buffers()[1], np.int32, len(feats) + 1, 4 * feats.offset
            ).astype(np.int64)
            if offs[-1] == offs[0]:
                continue
            if ((offs - offs[0]) % row_bytes).any():
                raise ValueError(f"a feature blob is not a multiple of {row_bytes} bytes")
            mat = np.frombuffer(
                feats.buffers()[2], "<f4", (offs[-1] - offs[0]) // 4, offs[0]
            ).reshape(-1, width)
            rows = (offs - offs[0]) // row_bytes
            labels = viterbi_decode_packed(mat @ W, rows, trans)

            n_rows = np.diff(rows)
            turn_of_row = np.repeat(np.arange(len(n_rows)), n_rows)
            # ListArray.values ignores a slice; its offsets index it as sliced
            starts, ends = rb.column("starts"), rb.column("ends")
            s_off, e_off = starts.offsets.to_numpy(), ends.offsets.to_numpy()
            s_val, e_val = starts.values.to_numpy(), ends.values.to_numpy()

            def spans_of(b: int) -> dict:
                # starts/ends cover every token; the rows stop at max_seq_length
                n = n_rows[b]
                bounds = zip(
                    s_val[s_off[b]:s_off[b] + n].tolist(),
                    e_val[e_off[b]:e_off[b] + n].tolist(),
                )
                turn_labels = labels[rows[b]:rows[b + 1]].tolist()
                return textfns.decode_bio_spans(list(bounds), classes, turn_labels)

            found = [
                (b, ne_type, s, e)
                for b in np.unique(turn_of_row[labels != 0]).tolist()
                for ne_type, pairs in spans_of(b).items()
                for s, e in pairs
            ]
            if not found:
                continue
            src, ne, st, en = zip(*found)
            take = pa.array(src, pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("conv_id").take(take),
                    rb.column("turn_idx").take(take).cast(pa.int32()),
                    pa.array(ne, pa.string()),
                    pa.array(st, pa.int32()),
                    pa.array(en, pa.int32()),
                ],
                names=["conv_id", "turn_idx", "ne_type", "start", "end"],
            )

    cols = ["conv_id", "turn_idx", "features", "feature_width", "starts", "ends"]
    return featurized.select(*cols).mapInArrow(run, schema)
