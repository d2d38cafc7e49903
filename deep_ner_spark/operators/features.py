"""Fitted aggregates + per-turn feature-matrix assembly (SURVEY A1/A2, §2.8).

The reference builds dense padded per-channel ndarrays by hand
(elmo_ner.py:503-541); here the columnar batch is Arrow, and the one-hot
scatter happens vectorized in NumPy inside a ``pandas_udf``.  The fitted
shape vocabulary (a global aggregate) is computed once with a hash
aggregation and broadcast — the two-pass fit/reuse structure of the
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
from pyspark.sql.functions import pandas_udf

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
    from pyspark.sql import types as T

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


# --- pure assembly functions (shared by UDF bodies and parity tests) ---------


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


def make_feature_matrix_udf(
    vocab: Tuple[str, ...],
    max_seq_length: int,
    emb_dim: int = 16,
    padded: bool = False,
    fmt: str = "binary",
):
    """pandas_udf: (tokens, shapes, pos, dep) arrays -> per-turn matrix.

    Performance: two deliberate choices, each worth ~10-20x at sf0.1:

    * the per-token feature vector (embedding ‖ shape one-hot ‖ linguistic
      one-hot) depends only on (token, pos, dep), so it is computed once per
      distinct triple and cached per Arrow batch — the per-turn
      work is a stack of cached rows plus the BOS/EOS position flags.  This
      also removes the reference's linear vocab.index() per-token hot spot
      (elmo_ner.py:507).
    * ``fmt='binary'`` packs the matrix as little-endian float32 bytes (one
      BinaryType cell per turn) instead of Arrow list<list<float>> — the
      nested-list encoding dominated the job wall-clock (67s -> 3s at sf0.1).
      ``decode_feature_matrix`` restores the ndarray; ``fmt='array'`` keeps
      the self-describing nested form.

    ``padded=False`` (engine default) emits only real-token rows — the
    reference's padding rows are all-zero; parity tests use ``padded=True``.
    """
    S = len(vocab)
    vocab_index = {s: i for i, s in enumerate(vocab)}
    width = feature_width(vocab, emb_dim)
    bos_col = emb_dim + S + 1
    eos_col = emb_dim + S + 2

    def build(tokens, shapes, pos, dep, to_cell):
        cache: dict = {}

        def vec(token: str, shape: str, p: str, d: str) -> np.ndarray:
            key = (token, p, d)
            v = cache.get(key)
            if v is None:
                v = np.zeros(width, dtype=np.float32)
                v[:emb_dim] = textfns.hash_embedding(token, emb_dim)
                v[emb_dim + vocab_index.get(shape, S)] = 1.0
                v[emb_dim + S + 3:] = textfns.pos_dep_one_hot(p, d)
                cache[key] = v
            return v

        out = []
        for tk, sh, p, d in zip(tokens, shapes, pos, dep):
            n = min(len(tk), max_seq_length)
            rows = max_seq_length if padded else n
            m = np.zeros((rows, width), dtype=np.float32)
            for i in range(n):
                m[i] = vec(tk[i], sh[i], p[i], d[i])
            if rows:
                m[0, bos_col] = 1.0
                m[n - 1 if n > 0 else rows - 1, eos_col] = 1.0
            out.append(to_cell(m))
        return pd.Series(out)

    if fmt == "binary":

        @pandas_udf(T.BinaryType())
        def assemble(tokens, shapes, pos, dep):
            return build(tokens, shapes, pos, dep, lambda m: m.tobytes())

    else:

        @pandas_udf(T.ArrayType(T.ArrayType(T.FloatType())))
        def assemble(tokens, shapes, pos, dep):
            return build(tokens, shapes, pos, dep, list)

    return assemble


def _token_row_table(
    vocab: Tuple[str, ...], emb_dim: int, cache_max_entries: int | None
):
    """Token feature rows for the fused featurizers, cached per Spark task.

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


def make_fused_featurize_udf(
    vocab: Tuple[str, ...],
    max_seq_length: int,
    emb_dim: int = 16,
    emit_linguistics: bool = False,
    cache_max_entries: int | None = None,
):
    """One Arrow round-trip: normalized text -> tokens + bounds + binary
    feature matrix (+ shapes/pos/dep arrays when ``emit_linguistics``).

    The split tokenize-then-featurize form ships the token arrays from
    Python to the JVM and back into a second Python eval; fusing the two
    stages halves the Arrow traffic on the dominant stage (the arrays are
    produced and consumed inside one worker call).

    ``emit_linguistics=False`` (default): shapes/pos/dep are still computed
    (the matrix needs them) but NOT returned — the flagship pipeline's
    final select discards those three string-array columns, so emitting
    them only inflated the Arrow transfer with dead data; the split
    tokenize path (operators/tokens.py) remains the source for consumers
    that want the arrays themselves.
    """
    import pandas as pd

    from deep_ner_spark import textfns

    S = len(vocab)
    width = feature_width(vocab, emb_dim)
    bos_col = emb_dim + S + 1
    eos_col = emb_dim + S + 2

    fields = [
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("starts", T.ArrayType(T.IntegerType())),
        T.StructField("ends", T.ArrayType(T.IntegerType())),
    ]
    if emit_linguistics:
        fields += [
            T.StructField("shapes", T.ArrayType(T.StringType())),
            T.StructField("pos", T.ArrayType(T.StringType())),
            T.StructField("dep", T.ArrayType(T.StringType())),
        ]
    fields.append(T.StructField("features", T.BinaryType()))
    schema = T.StructType(fields)

    start_batch, row_of, gather = _token_row_table(vocab, emb_dim, cache_max_entries)

    @pandas_udf(schema)
    def fused(texts: pd.Series) -> pd.DataFrame:
        # one batch adds at most batch_rows*max_seq_length entries on top
        # of the cap
        start_batch()
        cols: dict = {
            "tokens": [],
            "starts": [],
            "ends": [],
            "features": [],
        }
        if emit_linguistics:
            cols["shapes"], cols["pos"], cols["dep"] = [], [], []
        ids: list = []
        lens: list = []
        for text in texts:
            if text is None:
                text = ""
            triples = textfns.tokenize_with_bounds(text)
            toks = [t for t, _, _ in triples]
            n = min(len(toks), max_seq_length)
            for i in range(n):
                ids.append(row_of(toks[i], i == 0, i & 1))
            lens.append(n)
            cols["tokens"].append(toks)
            cols["starts"].append([s for _, s, _ in triples])
            cols["ends"].append([e for _, _, e in triples])
            if emit_linguistics:
                cols["shapes"].append([textfns.shape_of_string(t) for t in toks])
                tags = [textfns.heuristic_pos_dep(t, i) for i, t in enumerate(toks)]
                cols["pos"].append([p for p, _ in tags])
                cols["dep"].append([d for _, d in tags])
        # one gather for the whole batch, then vectorized BOS/EOS scatters
        stacked = gather(ids)
        offs = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(np.asarray(lens, dtype=np.int64), out=offs[1:])
        nonempty = offs[:-1][np.asarray(lens, dtype=np.int64) > 0]
        last_rows = offs[1:][np.asarray(lens, dtype=np.int64) > 0] - 1
        if len(nonempty):
            stacked[nonempty, bos_col] = 1.0
            stacked[last_rows, eos_col] = 1.0
        blob = stacked.tobytes()
        row_bytes = width * 4
        cols["features"] = [
            blob[offs[i] * row_bytes: offs[i + 1] * row_bytes]
            for i in range(len(lens))
        ]
        # emit columns in declared-schema order: Arrow struct conversion
        # assigns by name only while assignColumnsByName stays true; under
        # positional assignment a (…, features, shapes, …) dict order would
        # hand the binary field the shapes array.
        return pd.DataFrame({f.name: cols[f.name] for f in schema.fields})

    return fused


def make_fused_featurize_arrow_fn(
    vocab: Tuple[str, ...],
    max_seq_length: int,
    emb_dim: int = 16,
    emit_linguistics: bool = False,
    cache_max_entries: int | None = None,
    chunk_rows: int = 2048,
    norm_col: str = "norm_text",
):
    """``mapInArrow`` twin of :func:`make_fused_featurize_udf` — same
    per-token vector table, same bounded per-task cache, same
    outputs bit-for-bit, minus two full copies of the feature bytes.

    The pandas_udf path materialized the batch matrix three times:
    ``V[ids]`` gather, ``.tobytes()``, and one ``bytes`` slice per row —
    then pandas->Arrow copied the binary cells a fourth time (~19 GB of
    memcpy per bench pass at the 1.1M-turn scale).  Here the binary column
    is built ZERO-copy over the gathered matrix: a ``BinaryArray`` is its
    offsets plus one contiguous data buffer, so ``pa.py_buffer(stacked)``
    with a row-scaled offsets array IS the column (guide §4.2).  Only the
    gather remains.

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

    start_batch, row_of, gather = _token_row_table(vocab, emb_dim, cache_max_entries)

    def fn(batches):
        for rb in batches:
            ncol = rb.schema.get_field_index(norm_col)
            for off in range(0, rb.num_rows, chunk_rows):
                sub = rb.slice(off, min(chunk_rows, rb.num_rows - off))
                start_batch()
                texts = sub.column(ncol).to_pylist()
                ids: list = []
                lens: list = []
                toks_l: list = []
                starts_l: list = []
                ends_l: list = []
                if emit_linguistics:
                    shapes_l, pos_l, dep_l = [], [], []
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
                    if emit_linguistics:
                        shapes_l.append([textfns.shape_of_string(t) for t in toks])
                        tags = [
                            textfns.heuristic_pos_dep(t, i)
                            for i, t in enumerate(toks)
                        ]
                        pos_l.append([p for p, _ in tags])
                        dep_l.append([d for _, d in tags])
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
                arrays = [sub.column(i) for i in range(sub.num_columns)]
                names = list(sub.schema.names)
                arrays.append(pa.array(toks_l, type=pa.list_(pa.string())))
                names.append("tokens")
                arrays.append(pa.array(starts_l, type=pa.list_(pa.int32())))
                names.append("starts")
                arrays.append(pa.array(ends_l, type=pa.list_(pa.int32())))
                names.append("ends")
                if emit_linguistics:
                    for nm, vals in (
                        ("shapes", shapes_l),
                        ("pos_tags", pos_l),
                        ("dep_tags", dep_l),
                    ):
                        arrays.append(pa.array(vals, type=pa.list_(pa.string())))
                        names.append(nm)
                arrays.append(feats)
                names.append("features")
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    return fn


def featurize_fused(
    slim_turns: DataFrame,
    vocab: Tuple[str, ...],
    max_seq_length: int,
    emb_dim: int = 16,
    text_col: str = "text",
    emit_linguistics: bool = False,
) -> DataFrame:
    """Fused normalize+tokenize+featurize over windowed slim turns.

    Runs as ONE ``mapInArrow`` pass (r8; previously a struct pandas_udf):
    the slim columns pass through as untouched Arrow buffers, the feature
    blobs are emitted zero-copy (see
    :func:`make_fused_featurize_arrow_fn`), and each output record batch
    is bounded to ``chunk_rows`` rows so the 20-80x byte amplification of
    the blob column cannot produce 100+ MB batches on either side of the
    boundary.  Because ``mapInArrow`` is opaque over all its input
    columns, every upstream window stage stays live no matter which
    output columns a consumer selects — the bench-agg pruning hazard of
    the struct-UDF form is gone by construction.
    """
    from deep_ner_spark.functions.text import normalize_text_col

    base = slim_turns.withColumn("norm_text", normalize_text_col(F.col(text_col)))
    fn = make_fused_featurize_arrow_fn(
        vocab, max_seq_length, emb_dim, emit_linguistics=emit_linguistics
    )
    new_fields = [
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("starts", T.ArrayType(T.IntegerType())),
        T.StructField("ends", T.ArrayType(T.IntegerType())),
    ]
    if emit_linguistics:
        new_fields += [
            T.StructField("shapes", T.ArrayType(T.StringType())),
            T.StructField("pos_tags", T.ArrayType(T.StringType())),
            T.StructField("dep_tags", T.ArrayType(T.StringType())),
        ]
    new_fields.append(T.StructField("features", T.BinaryType()))
    out_schema = T.StructType(list(base.schema.fields) + new_fields)
    return (
        base.mapInArrow(fn, out_schema)
        .withColumn("n_tokens", F.least(F.size("tokens"), F.lit(max_seq_length)))
        .withColumn("feature_width", F.lit(feature_width(vocab, emb_dim)))
    )


def with_feature_matrix(
    tokenized_turns: DataFrame,
    vocab: Tuple[str, ...],
    max_seq_length: int,
    emb_dim: int = 16,
    out_col: str = "features",
    padded: bool = False,
    fmt: str = "binary",
) -> DataFrame:
    udf = make_feature_matrix_udf(vocab, max_seq_length, emb_dim, padded, fmt)
    return (
        tokenized_turns.withColumn(
            out_col, udf("tokens", "shapes", "pos_tags", "dep_tags")
        )
        .withColumn("n_tokens", F.least(F.size("tokens"), F.lit(max_seq_length)))
        .withColumn("feature_width", F.lit(feature_width(vocab, emb_dim)))
    )
