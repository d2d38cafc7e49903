"""CRF Viterbi decode as one packed, length-batched DP (SURVEY E1 step 5).

The reference decodes each sequence with tf.contrib.crf.viterbi_decode
(elmo_ner.py:293-296) — a deterministic dynamic program over per-token
logits and a transition matrix.  Re-implemented with NumPy: the
sequences of an Arrow batch arrive packed back to back (one ``[N, K]``
logits matrix plus offsets), and :func:`viterbi_decode_packed` runs one
batched DP per distinct sequence length, so the Python-level step loop is
paid once per (batch, length), not once per sequence.  Both Spark callers
— :func:`decode_labels` and ``pipeline.predict_entities`` — go through it.
:func:`viterbi_decode` is the per-sequence reference the tests compare it
with.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def viterbi_decode(logits: np.ndarray, transitions: np.ndarray) -> np.ndarray:
    """Most-likely label sequence: argmax over paths (standard Viterbi).

    logits: [seq_len, n_tags]; transitions: [n_tags, n_tags] with
    transitions[i, j] = score of moving from tag i to tag j.
    """
    n, k = logits.shape
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    score = logits[0].astype(np.float64)
    back = np.zeros((n, k), dtype=np.int32)
    for t in range(1, n):
        cand = score[:, None] + transitions  # [from, to]
        back[t] = cand.argmax(axis=0)
        score = cand.max(axis=0) + logits[t]
    path = np.zeros(n, dtype=np.int32)
    path[-1] = int(score.argmax())
    for t in range(n - 2, -1, -1):
        path[t] = back[t + 1][path[t + 1]]
    return path


def viterbi_decode_batch(
    logits: np.ndarray, transitions: np.ndarray
) -> np.ndarray:
    """Batched Viterbi over same-length sequences: [B, L, K] -> [B, L].

    Bit-identical to running :func:`viterbi_decode` per sequence — every
    float64 op (add, max, argmax incl. first-max tie-break) is elementwise
    along the batch axis, so per-sequence values and op order are unchanged;
    only the Python-level t-loop is shared across B sequences instead of
    re-entered per sequence (the featurize-UDF vectorization playbook).
    """
    b, n, k = logits.shape
    if n == 0:
        return np.zeros((b, 0), dtype=np.int32)
    score = logits[:, 0].astype(np.float64)
    back = np.zeros((b, n, k), dtype=np.int32)
    for t in range(1, n):
        cand = score[:, :, None] + transitions[None]  # [B, from, to]
        back[:, t] = cand.argmax(axis=1)
        score = cand.max(axis=1) + logits[:, t]
    path = np.zeros((b, n), dtype=np.int32)
    path[:, -1] = score.argmax(axis=1)
    rows = np.arange(b)
    for t in range(n - 2, -1, -1):
        path[:, t] = back[rows, t + 1, path[:, t + 1]]
    return path


def viterbi_decode_packed(
    logits: np.ndarray, offsets: np.ndarray, transitions: np.ndarray
) -> np.ndarray:
    """Packed Viterbi: [N, K] logits of B sequences -> [N] label ids.

    Sequence b is rows ``offsets[b]:offsets[b + 1]`` (``offsets`` has
    B + 1 entries, non-decreasing); empty sequences decode to nothing.
    The sequences of each distinct length are gathered into one
    ``[count, length, K]`` block for :func:`viterbi_decode_batch`, so the
    result is bit-identical to :func:`viterbi_decode` per sequence.
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    lens = np.diff(offsets)
    labels = np.zeros(len(logits), dtype=np.int32)
    for n in np.unique(lens[lens > 0]):
        rows = offsets[:-1][lens == n, None] + np.arange(n)  # [count, n]
        labels[rows] = viterbi_decode_batch(logits[rows], transitions)
    return labels


def decode_labels(df: DataFrame, logits_col: str, transitions) -> DataFrame:
    """Attach decoded label ids as ``label_ids``; ``logits_col`` holds the
    flattened [n_tokens * n_tags] per-turn logits array (a null array
    decodes to ``[]``).

    One Arrow UDF call per batch: the list column's flat values ARE the
    packed logits, and its offsets divided by n_tags the sequence offsets.
    """
    from pyspark.sql.functions import arrow_udf

    trans = np.asarray(transitions, dtype=np.float64)
    n_tags = trans.shape[0]

    @arrow_udf(T.ArrayType(T.IntegerType()))
    def decode(logits_flat):
        import pyarrow as pa

        # flatten() honours the slice offset and skips null lists, which
        # the null-as-0 lengths then count as empty
        lens = logits_flat.value_lengths().fill_null(0).to_numpy()
        if (lens % n_tags).any():
            raise ValueError(f"logits length not a multiple of n_tags={n_tags}")
        offsets = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens // n_tags, out=offsets[1:])
        flat = logits_flat.flatten().to_numpy(zero_copy_only=False)
        labels = viterbi_decode_packed(flat.reshape(-1, n_tags), offsets, trans)
        return pa.ListArray.from_arrays(
            pa.array(offsets.astype(np.int32)), pa.array(labels)
        )

    return df.withColumn("label_ids", decode(logits_col))
