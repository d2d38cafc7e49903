"""Fitted aggregates + per-turn feature-matrix assembly (SURVEY A1/A2, §2.8).

The reference builds dense padded per-channel ndarrays by hand
(elmo_ner.py:503-541); here the columnar batch is Arrow, and one
``mapInArrow`` kernel (:func:`featurize_fused`) tokenizes each turn and
gathers its one-hot rows vectorized in NumPy.  The pure-NumPy
:func:`turn_feature_matrix` is the reference the tests compare it with.
The fitted shape vocabulary (a global aggregate) is computed once with a
hash aggregation and broadcast — the two-pass fit/reuse structure of the
reference (fit at elmo_ner.py:103, reuse at :274) made explicit.

Scale notes: the vocab agg is a map-side-combinable groupBy on a low-
cardinality key (shape strings) — partial aggregation makes the exchange
tiny.  The matrix assembly is a narrow Arrow pass, no shuffle.  The linear
``vocab.index(shape)`` hot spot of the reference (elmo_ner.py:507) becomes a
dict lookup.
"""

from __future__ import annotations

from typing import Dict, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deep_ner_spark import textfns


def fit_shape_vocab(
    tokenized_turns: DataFrame, min_freq: int = 3, shapes_col: str = "shapes"
) -> Tuple[str, ...]:
    """Shape vocabulary: corpus frequency >= min_freq, sorted (elmo_ner.py:492-500).

    Empty shapes are excluded (elmo_ner.py:419-421 skips '' before counting).
    """
    rows = (
        tokenized_turns.select(F.explode(shapes_col).alias("shape"))
        .where(F.col("shape") != "")
        .groupBy("shape")
        .count()
        .where(F.col("count") >= min_freq)
        .orderBy("shape")
        .select("shape")
        .collect()
    )
    return tuple(r["shape"] for r in rows)


def fit_shape_vocab_from_text(
    turns: DataFrame, min_freq: int = 3, text_col: str = "text"
) -> Tuple[str, ...]:
    """Shape vocabulary fitted with a COUNT-ONLY pass over raw text.

    Same result as ``fit_shape_vocab(tokenize_turns(df))`` — identical
    normalize -> tokenize -> shape functions — but the fit pass computes
    nothing it doesn't need: no bounds, no pos/dep tags, no token arrays,
    and the Arrow transfer back is per-batch (shape, count) pairs instead
    of six per-turn arrays (the Python pre-aggregation is the map-side
    combine).  On the flagship this removes most of the second full Python
    pass the vocab fit used to cost.
    """
    out_schema = T.StructType(
        [
            T.StructField("shape", T.StringType()),
            T.StructField("cnt", T.LongType()),
        ]
    )

    def count_shapes(batches):
        from collections import Counter

        from deep_ner_spark import textfns

        # bind the hot callables locally and let Counter.update consume a
        # C-level map iterator — same functions, same counts, ~25% less
        # pure-Python dispatch in the per-token loop
        normalize = textfns.normalize_text
        tokenize = textfns.tokenize
        shape_of = textfns.shape_of_string
        counts: Counter = Counter()
        for pdf in batches:
            for text in pdf[text_col]:
                if text is None:
                    continue
                counts.update(map(shape_of, tokenize(normalize(text))))
        yield pd.DataFrame(
            {"shape": list(counts.keys()), "cnt": list(counts.values())}
        )

    rows = (
        turns.select(text_col)
        .mapInPandas(count_shapes, schema=out_schema)
        .groupBy("shape")
        .agg(F.sum("cnt").alias("cnt"))
        .where((F.col("cnt") >= min_freq) & (F.col("shape") != ""))
        .orderBy("shape")
        .select("shape")
        .collect()
    )
    return tuple(r["shape"] for r in rows)


def fit_classes_list(entity_spans: DataFrame, ne_col: str = "ne_type") -> Tuple[str, ...]:
    """Sorted distinct entity types (elmo_ner.py:1124-1141,1155)."""
    rows = entity_spans.select(ne_col).distinct().orderBy(ne_col).collect()
    return tuple(r[ne_col] for r in rows)


# --- pure assembly functions (the NumPy reference the tests compare with) ---


def shape_one_hot_matrix(
    shapes: Sequence[str], vocab: Sequence[str], max_seq_length: int
) -> np.ndarray:
    """[max_seq_length, len(vocab)+3] float32 (elmo_ner.py:503-512).

    Column len(vocab) = unknown shape; len(vocab)+1 = BOS flag on row 0;
    len(vocab)+2 = EOS flag on row (n_real_tokens - 1).  The reference sets
    the EOS flag via Python negative indexing when the text is empty
    (shapes_[s][-1]), i.e. on the last padded row — reproduced verbatim.
    """
    S = len(vocab)
    index: Dict[str, int] = {s: i for i, s in enumerate(vocab)}
    m = np.zeros((max_seq_length, S + 3), dtype=np.float32)
    n = min(len(shapes), max_seq_length)
    for i in range(n):
        m[i, index.get(shapes[i], S)] = 1.0
    m[0, S + 1] = 1.0
    # reference truncates shapes first, then indexes len-1 (wraps to the
    # last padded row via Python negative indexing when the turn is empty)
    m[n - 1 if n > 0 else max_seq_length - 1, S + 2] = 1.0
    return m


def linguistic_matrix(
    pos_tags: Sequence[str], dep_tags: Sequence[str], max_seq_length: int
) -> np.ndarray:
    """[max_seq_length, 18+48] float32 POS+dep one-hots (elmo_ner.py:514-531)."""
    width = len(textfns.UNIVERSAL_POS_TAGS) + len(textfns.UNIVERSAL_DEPENDENCIES)
    m = np.zeros((max_seq_length, width), dtype=np.float32)
    n = min(len(pos_tags), max_seq_length)
    for i in range(n):
        m[i] = textfns.pos_dep_one_hot(pos_tags[i], dep_tags[i])
    return m


def turn_feature_matrix(
    tokens: Sequence[str],
    shapes: Sequence[str],
    pos_tags: Sequence[str],
    dep_tags: Sequence[str],
    vocab: Sequence[str],
    max_seq_length: int,
    emb_dim: int = 16,
) -> np.ndarray:
    """Concat channels in reference order: embedding ‖ shape ‖ linguistic.

    Mirrors the concat the model input sees (elmo_ner.py:713-719: ELMo
    embedding then shapes then nlp features), with the hermetic hash
    embedder standing in for ELMo (see textfns.hash_embedding).
    """
    emb = np.zeros((max_seq_length, emb_dim), dtype=np.float32)
    n = min(len(tokens), max_seq_length)
    for i in range(n):
        emb[i] = textfns.hash_embedding(tokens[i], emb_dim)
    return np.concatenate(
        [
            emb,
            shape_one_hot_matrix(shapes, vocab, max_seq_length),
            linguistic_matrix(pos_tags, dep_tags, max_seq_length),
        ],
        axis=1,
    )


# --- Spark assembly: Arrow-batched, broadcast vocab --------------------------


def feature_width(vocab: Tuple[str, ...], emb_dim: int) -> int:
    return (
        emb_dim
        + (len(vocab) + 3)
        + len(textfns.UNIVERSAL_POS_TAGS)
        + len(textfns.UNIVERSAL_DEPENDENCIES)
    )


def decode_feature_matrix(blob: bytes, width: int) -> np.ndarray:
    """Inverse of the binary packing: bytes -> [n_tokens, width] float32."""
    return np.frombuffer(blob, dtype="<f4").reshape(-1, width)


def _token_row_table(
    vocab: Tuple[str, ...], emb_dim: int, cache_max_entries: int | None
):
    """Token feature rows for the featurize kernel, cached per Spark task.

    Distinct (token, is_first, parity) triples map to a row of a growing
    float32 table V, so the per-batch work is ONE fancy-index gather
    ``V[ids]`` plus vectorized BOS/EOS flag scatters — no per-token row
    copies, no per-turn np.zeros (the VERDICT r2 item: batch numpy one-hot
    scatter).  The featurize closure is unpickled once per task, so the
    table lives for one task (across its Arrow batches); it is allocated
    on the task's first batch, because a table built here would ride in
    every task's pickled closure (~300 KB of zeros at the flagship width).

    The table is BOUNDED: a Zipf-tailed corpus (ids, numbers, typos) over
    a large partition would otherwise grow it without limit.  At
    ``cache_max_entries`` distinct triples (~width*4 bytes each; the
    default caps V at ~100-200MB) it resets — output is unaffected (rows
    are recomputed), only the tail of rare tokens re-pays its vector build.

    Returns ``(start_batch, row_of, gather)``.  ``start_batch()`` runs
    BETWEEN batches only: a mid-batch reset would orphan row ids already
    collected for the batch.
    """
    S = len(vocab)
    vocab_index = {s: i for i, s in enumerate(vocab)}
    width = feature_width(vocab, emb_dim)
    if cache_max_entries is None:
        cache_max_entries = max(int(50_000_000 / max(width, 1)), 65_536)
    state = {"V": None, "n": 0, "idx": {}}

    def start_batch() -> None:
        if state["V"] is None or state["n"] >= cache_max_entries:
            state["V"] = np.zeros((1024, width), dtype=np.float32)
            state["n"] = 0
            state["idx"] = {}

    def row_of(tok: str, is_first: bool, parity: int) -> int:
        key = (tok, is_first, parity)
        idx = state["idx"]
        i = idx.get(key)
        if i is None:
            shape = textfns.shape_of_string(tok)
            p, d = textfns._pos_dep_cached(tok, is_first, parity)
            v = np.zeros(width, dtype=np.float32)
            v[:emb_dim] = textfns.hash_embedding(tok, emb_dim)
            v[emb_dim + vocab_index.get(shape, S)] = 1.0
            v[emb_dim + S + 3:] = textfns.pos_dep_one_hot(p, d)
            i = state["n"]
            if i == state["V"].shape[0]:
                state["V"] = np.concatenate([state["V"], np.zeros_like(state["V"])])
            state["V"][i] = v
            state["n"] = i + 1
            idx[key] = i
        return i

    def gather(ids: list) -> np.ndarray:
        # fancy indexing copies rows, so later flag writes never alias V
        return state["V"][np.asarray(ids, dtype=np.int64)]

    return start_batch, row_of, gather


# the columns the featurize kernel appends to its input, in output order
FEATURIZE_FIELDS = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("starts", T.ArrayType(T.IntegerType())),
        T.StructField("ends", T.ArrayType(T.IntegerType())),
        T.StructField("features", T.BinaryType()),
    ]
)


def make_fused_featurize_arrow_fn(
    vocab: Tuple[str, ...],
    max_seq_length: int,
    emb_dim: int = 16,
    cache_max_entries: int | None = None,
    chunk_rows: int = 2048,
):
    """``mapInArrow`` body: a ``norm_text`` column -> every input column
    plus :data:`FEATURIZE_FIELDS` (tokens, char bounds, binary feature
    matrix of the real-token rows).

    Per-token rows come from the bounded per-task table of
    :func:`_token_row_table`, so a chunk's matrix is one ``V[ids]`` gather
    plus vectorized BOS/EOS scatters.  That gather is the only copy of the
    feature bytes: a ``BinaryArray`` is its offsets plus one contiguous
    data buffer, so ``pa.py_buffer(stacked)`` with a row-scaled offsets
    array IS the column (guide §4.2).  Serializing each row with
    ``.tobytes()``, slicing one ``bytes`` per turn and converting the cells
    through pandas would copy the bytes three more times (~19 GB of memcpy
    per bench pass at the 1.1M-turn scale).

    ``chunk_rows`` additionally bounds each *output* record batch: the
    session's 10k-row Arrow batches amplify ~20-80x through this function
    (feature blobs), and 100+ MB batches spike both the Python worker and
    the JVM reader.  Input batches are processed (and yielded) in
    zero-copy slices of at most ``chunk_rows`` rows, sized so one output
    batch stays in the tens of MB; the cap also keeps the int32 binary
    offsets far from overflow at any (max_seq_length, vocab) shape.
    """
    import pyarrow as pa

    from deep_ner_spark import textfns

    S = len(vocab)
    width = feature_width(vocab, emb_dim)
    bos_col = emb_dim + S + 1
    eos_col = emb_dim + S + 2
    row_bytes = width * 4
    # int32 Arrow offsets: keep a chunk's payload well under 2^31 bytes
    chunk_rows = max(
        1, min(chunk_rows, (1 << 30) // max(max_seq_length * row_bytes, 1))
    )
    out_names = FEATURIZE_FIELDS.names

    start_batch, row_of, gather = _token_row_table(vocab, emb_dim, cache_max_entries)

    def fn(batches):
        for rb in batches:
            ncol = rb.schema.get_field_index("norm_text")
            for off in range(0, rb.num_rows, chunk_rows):
                sub = rb.slice(off, min(chunk_rows, rb.num_rows - off))
                start_batch()
                texts = sub.column(ncol).to_pylist()
                ids: list = []
                lens: list = []
                toks_l: list = []
                starts_l: list = []
                ends_l: list = []
                for text in texts:
                    if text is None:
                        text = ""
                    triples = textfns.tokenize_with_bounds(text)
                    toks = [t for t, _, _ in triples]
                    n = min(len(toks), max_seq_length)
                    for i in range(n):
                        ids.append(row_of(toks[i], i == 0, i & 1))
                    lens.append(n)
                    toks_l.append(toks)
                    starts_l.append([s for _, s, _ in triples])
                    ends_l.append([e for _, _, e in triples])
                # one gather for the whole chunk, then vectorized BOS/EOS scatters
                stacked = gather(ids)
                lens_np = np.asarray(lens, dtype=np.int64)
                offs = np.zeros(len(lens) + 1, dtype=np.int64)
                np.cumsum(lens_np, out=offs[1:])
                nonempty = offs[:-1][lens_np > 0]
                last_rows = offs[1:][lens_np > 0] - 1
                if len(nonempty):
                    stacked[nonempty, bos_col] = 1.0
                    stacked[last_rows, eos_col] = 1.0
                # zero-copy binary column: offsets over the gathered buffer
                feats = pa.Array.from_buffers(
                    pa.binary(),
                    len(lens),
                    [
                        None,
                        pa.py_buffer((offs * row_bytes).astype(np.int32)),
                        pa.py_buffer(stacked),
                    ],
                )
                new = [
                    pa.array(toks_l, type=pa.list_(pa.string())),
                    pa.array(starts_l, type=pa.list_(pa.int32())),
                    pa.array(ends_l, type=pa.list_(pa.int32())),
                    feats,
                ]
                yield pa.RecordBatch.from_arrays(
                    sub.columns + new, names=sub.schema.names + out_names
                )

    return fn


def featurize_fused(
    slim_turns: DataFrame,
    vocab: Tuple[str, ...],
    max_seq_length: int,
    emb_dim: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Fused normalize+tokenize+featurize over windowed slim turns.

    Runs as ONE ``mapInArrow`` pass: the slim columns pass through as
    untouched Arrow buffers, the feature blobs are emitted zero-copy (see
    :func:`make_fused_featurize_arrow_fn`), and each output record batch
    is bounded to ``chunk_rows`` rows so the 20-80x byte amplification of
    the blob column cannot produce 100+ MB batches on either side of the
    boundary.  Because ``mapInArrow`` is opaque over all its input
    columns, every upstream window stage stays live no matter which
    output columns a consumer selects (a struct-returning UDF let the
    bench aggregate prune them).

    ``features`` holds only the real-token rows, ``n_tokens`` of them; the
    reference's padding rows (elmo_ner.py:503-541) are all zero except on
    an EMPTY turn, where the reference still sets the BOS flag on row 0
    and the EOS flag on row ``max_seq_length - 1`` (see
    :func:`shape_one_hot_matrix`).  Here an empty or null text gives
    ``tokens == []`` and a 0-byte blob, with no flags.
    """
    from deep_ner_spark.functions.text import normalize_text_col

    base = slim_turns.withColumn("norm_text", normalize_text_col(F.col(text_col)))
    fn = make_fused_featurize_arrow_fn(vocab, max_seq_length, emb_dim)
    out_schema = T.StructType(base.schema.fields + FEATURIZE_FIELDS.fields)
    return (
        base.mapInArrow(fn, out_schema)
        .withColumn("n_tokens", F.least(F.size("tokens"), F.lit(max_seq_length)))
        .withColumn("feature_width", F.lit(feature_width(vocab, emb_dim)))
    )
