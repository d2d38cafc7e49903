"""Fitted aggregates + per-turn feature-matrix assembly (SURVEY A1/A2, §2.8).

The reference builds dense padded per-channel ndarrays one token at a
time in Python (elmo_ner.py:503-541); here the columnar batch is Arrow,
and one ``mapInArrow`` kernel (:func:`featurize_fused`) does the per-token
work in C: one regex split per chunk of turns, NumPy offsets for the char
bounds, Arrow dictionary encoding plus ``np.unique`` for the distinct
(token, is_first, parity) keys, and one gather of their feature rows.
Python runs once per distinct key of a chunk, not once per token.  The
pure-NumPy :func:`turn_feature_matrix` (and ``textfns.tokenize_with_bounds``)
is the reference the tests compare it with.
The fitted shape vocabulary (a global aggregate) is computed once with a
hash aggregation and broadcast — the two-pass fit/reuse structure of the
reference (fit at elmo_ner.py:103, reuse at :274) made explicit.

Scale notes: the vocab agg is a map-side-combinable groupBy on a low-
cardinality key (shape strings) — each Arrow batch ships its (shape,
count) pairs, so the exchange is tiny, and the vocab is sorted on the
driver.  The matrix assembly is a narrow Arrow pass, no shuffle.  The
linear ``vocab.index(shape)`` hot spot of the reference (elmo_ner.py:507)
becomes a dict lookup, paid once per distinct token.
"""

from __future__ import annotations

import re
from typing import Dict, Sequence, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deep_ner_spark import textfns
from deep_ner_spark.obs import named


@named("features.fit")
def fit_shape_vocab_from_text(
    turns: DataFrame, min_freq: int = 3, text_col: str = "text"
) -> Tuple[str, ...]:
    """Shape vocabulary: corpus frequency >= min_freq, sorted
    (elmo_ner.py:492-500), fitted with a COUNT-ONLY pass over raw text.

    Empty shapes are excluded (elmo_ner.py:419-421 skips '' before
    counting).  The pass computes nothing it doesn't need: no bounds, no
    pos/dep tags, no token arrays.
    Each Arrow batch's non-null texts are joined with ``"\\n"`` (whitespace,
    so no token spans two texts) and tokenized by one ``findall``; the
    tokens are dictionary-encoded and counted with ``np.bincount``, so
    ``normalize_text`` and ``shape_of_string`` run once per distinct token
    and the batch ships its (shape, count) pairs (the map-side combine).
    Normalizing tokens instead of text gives the same tokens:
    normalization maps whitespace to a space and each dash variant (never
    a word char) to ``-``, one char to one char of the same token class.
    Two Spark jobs: the partial aggregate and the final collect.  The
    vocab is sorted on the driver: Spark's UTF-8 binary order is Python's
    code-point order, and a Spark ``orderBy`` would cost two more jobs
    (the range-partition sample and the sort).
    """

    def count_shapes(batches):
        import pyarrow as pa

        from deep_ner_spark import textfns

        for rb in batches:
            toks = textfns.tokenize("\n".join(rb.column(0).drop_null().to_pylist()))
            enc = pa.array(toks, type=pa.string()).dictionary_encode()
            tok_cnt = np.bincount(enc.indices.to_numpy(), minlength=len(enc.dictionary))
            words = map(textfns.normalize_text, enc.dictionary.to_pylist())
            shapes = pa.array(
                list(map(textfns.shape_of_string, words)), type=pa.string()
            ).dictionary_encode()
            # float64 weights sum exactly: a batch holds far fewer than 2^53 tokens
            cnt = np.bincount(
                shapes.indices.to_numpy(), weights=tok_cnt, minlength=len(shapes.dictionary)
            )
            yield pa.RecordBatch.from_arrays(
                [shapes.dictionary, pa.array(cnt.astype(np.int64))], names=["shape", "cnt"]
            )

    rows = (
        turns.select(text_col)
        .mapInArrow(count_shapes, "shape string, cnt long")
        .groupBy("shape")
        .agg(F.sum("cnt").alias("cnt"))
        .where((F.col("cnt") >= min_freq) & (F.col("shape") != ""))
        .select("shape")
        .collect()
    )
    return tuple(sorted(r["shape"] for r in rows))


@named("features.classes")
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


def _token_row_table(
    vocab: Tuple[str, ...], emb_dim: int, cache_max_entries: int | None
):
    """Token feature rows for the featurize kernel, cached per Spark task.

    Distinct (token, is_first, parity) triples map to a row of a growing
    float32 table V, so a chunk's matrix is ONE fancy-index gather
    ``V[ids]`` plus vectorized BOS/EOS flag scatters.  The kernel calls
    ``row_of`` once per distinct triple of a chunk, never per token; a miss
    builds the row once (hash embedding, shape one-hot, and the POS/dep
    one-hot, itself cached per (pos, dep) pair: only a handful exist).
    The featurize closure is unpickled once per task, so the table lives
    for one task (across its Arrow batches); it is allocated on the task's
    first batch, because a table built here would ride in every task's
    pickled closure (~300 KB of zeros at the flagship width).

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
    pos_dep_rows: dict = {}

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
            tags = textfns._pos_dep_cached(tok, is_first, parity)
            tags_row = pos_dep_rows.get(tags)
            if tags_row is None:
                tags_row = pos_dep_rows[tags] = textfns.pos_dep_one_hot(*tags)
            v = np.zeros(width, dtype=np.float32)
            v[:emb_dim] = textfns.hash_embedding(tok, emb_dim)
            v[emb_dim + vocab_index.get(shape, S)] = 1.0
            v[emb_dim + S + 3:] = tags_row
            i = state["n"]
            if i == state["V"].shape[0]:
                state["V"] = np.concatenate([state["V"], np.zeros_like(state["V"])])
            state["V"][i] = v
            state["n"] = i + 1
            idx[key] = i
        return i

    def gather(ids: np.ndarray) -> np.ndarray:
        # fancy indexing copies rows, so later flag writes never alias V
        return state["V"][ids]

    return start_batch, row_of, gather


# the columns the tokenizer appends to its input, in output order
TOKEN_FIELDS = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("starts", T.ArrayType(T.IntegerType())),
        T.StructField("ends", T.ArrayType(T.IntegerType())),
    ]
)
# the columns the featurize kernel appends: the tokenizer's plus the blob
FEATURIZE_FIELDS = T.StructType(
    TOKEN_FIELDS.fields + [T.StructField("features", T.BinaryType())]
)

# textfns._TOKEN_RE in capturing form: odd parts of a split are tokens
_split_tokens = re.compile(f"({textfns._TOKEN_RE.pattern})").split


def tokenize_chunk(texts: list):
    """Texts -> (``[tokens, starts, ends]`` list columns, per-text token
    offsets), the bounds of ``textfns.tokenize_with_bounds`` with no
    Python code run per token.

    The texts are joined with ``"\\n"`` (whitespace, so no token spans two
    texts) and cut by ONE ``re.split``: odd parts are the tokens, even
    parts the gaps.  Cumulative part lengths give each token's code-point
    offset (``m.start()``, never an Arrow byte offset); ``searchsorted``
    over the texts' own offsets gives its text and its start/end within
    that text.  The columns are ``ListArray``s over the flat arrays and
    one offsets array, which is returned too (int64, ``len(texts) + 1``).
    """
    import pyarrow as pa

    n_texts = len(texts)
    parts = _split_tokens("\n".join(texts))
    part_len = np.fromiter(map(len, parts), np.int64, len(parts))
    part_at = np.zeros(len(parts), dtype=np.int64)
    np.cumsum(part_len[:-1], out=part_at[1:])
    text_at = np.zeros(n_texts, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, texts), np.int64, n_texts)[:-1] + 1, out=text_at[1:])
    tok_at = part_at[1::2]
    text_of = np.searchsorted(text_at, tok_at, side="right") - 1
    starts = tok_at - text_at[text_of]
    tok_offs = np.zeros(n_texts + 1, dtype=np.int64)
    np.cumsum(np.bincount(text_of, minlength=n_texts), out=tok_offs[1:])
    list_offs = pa.array(tok_offs.astype(np.int32))
    flat = [
        pa.array(parts[1::2], type=pa.string()),
        pa.array(starts.astype(np.int32)),
        pa.array((starts + part_len[1::2]).astype(np.int32)),
    ]
    return [pa.ListArray.from_arrays(list_offs, a) for a in flat], tok_offs


def _map_text_chunks(batches, chunk_fn, out_names, chunk_rows: int = 2048):
    """The ``mapInArrow`` loop of the text kernels: each input batch in
    zero-copy slices of at most ``chunk_rows`` rows, every input column
    passed through and ``chunk_fn``'s columns (``out_names``) appended.
    ``chunk_fn`` gets the slice's ``norm_text`` as a list, null read as
    ``""``."""
    import pyarrow as pa

    for rb in batches:
        ncol = rb.schema.get_field_index("norm_text")
        for off in range(0, rb.num_rows, chunk_rows):
            sub = rb.slice(off, min(chunk_rows, rb.num_rows - off))
            new = chunk_fn(sub.column(ncol).fill_null("").to_pylist())
            yield pa.RecordBatch.from_arrays(
                sub.columns + new, names=sub.schema.names + out_names
            )


def tokenize_arrow_fn(batches):
    """``mapInArrow`` body: a ``norm_text`` column -> every input column
    plus :data:`TOKEN_FIELDS`."""
    return _map_text_chunks(
        batches, lambda texts: tokenize_chunk(texts)[0], TOKEN_FIELDS.names
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

    No Python code runs per token.  Per chunk:

    * **Tokens and bounds.**  :func:`tokenize_chunk`, the tokenizer
      :func:`deep_ner_spark.operators.tokens.tokenize_turns` runs too.
    * **Row ids.**  The flat tokens are dictionary-encoded, each kept
      token's ``(is_first, parity)`` is folded into its dictionary index
      as one int key, and ``np.unique`` finds the chunk's distinct keys.
      ``row_of`` (:func:`_token_row_table`) runs once per distinct key,
      and ``rid[inverse]`` expands the row ids back to token order.

    The matrix is then one ``V[ids]`` gather plus vectorized BOS/EOS
    scatters.  That gather is the only copy of the feature bytes: a
    ``BinaryArray`` is its offsets plus one contiguous data buffer, so
    ``pa.py_buffer(stacked)`` with a row-scaled offsets array IS the
    column (guide §4.2).  Serializing each row with ``.tobytes()``, slicing
    one ``bytes`` per turn and converting the cells through pandas would
    copy the bytes three more times (~19 GB of memcpy per bench pass at
    the 1.1M-turn scale).

    ``chunk_rows`` additionally bounds each *output* record batch: the
    session's 10k-row Arrow batches amplify ~20-80x through this function
    (feature blobs), and 100+ MB batches spike both the Python worker and
    the JVM reader.  Input batches are processed (and yielded) in
    zero-copy slices of at most ``chunk_rows`` rows
    (:func:`_map_text_chunks`), sized so one output batch stays in the tens
    of MB; the cap also keeps the int32 binary offsets far from overflow
    at any (max_seq_length, vocab) shape.
    """
    import pyarrow as pa

    S = len(vocab)
    width = feature_width(vocab, emb_dim)
    bos_col = emb_dim + S + 1
    eos_col = emb_dim + S + 2
    row_bytes = width * 4
    # int32 Arrow offsets: keep a chunk's payload well under 2^31 bytes
    chunk_rows = max(
        1, min(chunk_rows, (1 << 30) // max(max_seq_length * row_bytes, 1))
    )

    start_batch, row_of, gather = _token_row_table(vocab, emb_dim, cache_max_entries)

    def featurize_chunk(texts: list) -> list:
        start_batch()
        cols, tok_offs = tokenize_chunk(texts)
        n_toks = np.diff(tok_offs)
        pos = np.arange(tok_offs[-1]) - np.repeat(tok_offs[:-1], n_toks)

        # one row_of call per distinct (token, is_first, parity) key
        enc = cols[0].values.dictionary_encode()
        key = enc.indices.to_numpy().astype(np.int64) << 2
        key |= (pos == 0) << 1
        key |= pos & 1
        uniq, inv = np.unique(key[pos < max_seq_length], return_inverse=True)
        uniq_words = enc.dictionary.take(pa.array(uniq >> 2)).to_pylist()
        rid = np.fromiter(
            map(row_of, uniq_words, (uniq & 2).astype(bool).tolist(), (uniq & 1).tolist()),
            np.int64,
            len(uniq),
        )

        # one gather for the whole chunk, then vectorized BOS/EOS scatters
        stacked = gather(rid[inv])
        lens = np.minimum(n_toks, max_seq_length)
        offs = np.zeros(len(texts) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        nonempty = offs[:-1][lens > 0]
        if len(nonempty):
            stacked[nonempty, bos_col] = 1.0
            stacked[offs[1:][lens > 0] - 1, eos_col] = 1.0
        # zero-copy binary column: offsets over the gathered buffer
        feats = pa.Array.from_buffers(
            pa.binary(),
            len(texts),
            [None, pa.py_buffer((offs * row_bytes).astype(np.int32)), pa.py_buffer(stacked)],
        )
        return cols + [feats]

    def fn(batches):
        return _map_text_chunks(batches, featurize_chunk, FEATURIZE_FIELDS.names, chunk_rows)

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
