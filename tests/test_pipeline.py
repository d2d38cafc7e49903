"""End-to-end parity: the Spark pipeline reproduces the reference feature
pipeline (normalize -> tokenize -> shapes -> vocab -> one-hot -> labels ->
as-of state) allclose at every (entity x timestamp)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deep_ner_spark import datagen, textfns
from deep_ner_spark.operators.features import (
    fit_classes_list,
    fit_shape_vocab,
    turn_feature_matrix,
)
from deep_ner_spark.operators.labeling import label_tokens_colocated
from deep_ner_spark.operators.tokens import token_table, tokenize_turns
from deep_ner_spark.pipeline import featurize_transcripts

MAX_SEQ = 32
EMB = 8


@pytest.fixture(scope="module")
def data(spark):
    t, s, st = datagen.gen_transcripts(n_convs=10, mean_turns=8, seed=11)
    return (
        spark.createDataFrame(t),
        spark.createDataFrame(s),
        spark.createDataFrame(st),
        t,
        s,
        st,
    )


def reference_vocab(t):
    """Shapes vocabulary computed the reference way (elmo_ner.py:418-421,492-500)."""
    counts = {}
    for text in t["text"]:
        for tok in textfns.tokenize(textfns.normalize_text(text)):
            sh = textfns.shape_of_string(tok)
            if sh:
                counts[sh] = counts.get(sh, 0) + 1
    return tuple(s for s in sorted(counts) if counts[s] >= 3)


def test_shape_vocab_parity(data, spark):
    tdf, _, _, t, _, _ = data
    toks = tokenize_turns(tdf)
    assert fit_shape_vocab(toks) == reference_vocab(t)


def test_fit_shape_vocab_from_text_equals_tokenized_fit(data, spark):
    """The count-only fit pass (the flagship's vocab source) must produce
    the exact vocabulary of the full tokenized fit and of the reference
    computation."""
    from deep_ner_spark.operators.features import fit_shape_vocab_from_text

    tdf, _, _, t, _, _ = data
    assert fit_shape_vocab_from_text(tdf) == reference_vocab(t)


def test_classes_list_parity(data, spark):
    _, sdf, _, _, s, _ = data
    assert fit_classes_list(sdf) == tuple(sorted(s["ne_type"].unique()))


def test_per_turn_text_equality_and_feature_parity(data, spark):
    """Per-turn text equality under stable ordering + allclose features."""
    tdf, _, stdf, t, _, st = data
    out, vocab = featurize_transcripts(
        tdf, stdf, max_seq_length=MAX_SEQ, emb_dim=EMB
    )
    rows = {(r["conv_id"], r["turn_idx"]): r for r in out.collect()}
    assert len(rows) == len(t)

    want_vocab = reference_vocab(t)
    assert vocab == want_vocab

    for _, turn in t.iterrows():
        r = rows[(turn.conv_id, turn.turn_idx)]
        norm = textfns.normalize_text(turn.text)
        assert r["norm_text"] == norm  # per-turn text equality (input_hint)
        triples = textfns.tokenize_with_bounds(norm)
        toks = [x for x, _, _ in triples]
        assert r["tokens"] == toks
        shapes = [textfns.shape_of_string(x) for x in toks]
        tags = [textfns.heuristic_pos_dep(x, i) for i, x in enumerate(toks)]
        want = turn_feature_matrix(
            toks, shapes, [p for p, _ in tags], [d for _, d in tags],
            want_vocab, MAX_SEQ, EMB,
        )
        from deep_ner_spark.operators.features import decode_feature_matrix

        got = decode_feature_matrix(r["features"], r["feature_width"])
        n = min(len(toks), MAX_SEQ)
        # engine emits ragged (real-token rows); reference pads with zeros
        assert got.shape == (n, want.shape[1])
        assert np.allclose(got, want[:n]), (turn.conv_id, turn.turn_idx)
        assert np.allclose(want[n:], 0.0)


def test_padded_feature_matrix_parity(data, spark):
    """padded=True reproduces the reference's full [max_seq, F] matrices."""
    from deep_ner_spark.operators.features import with_feature_matrix
    from deep_ner_spark.operators.tokens import tokenize_turns

    tdf, _, _, t, _, _ = data
    toks = tokenize_turns(tdf)
    vocab = reference_vocab(t)
    out = with_feature_matrix(toks, vocab, MAX_SEQ, EMB, padded=True, fmt="array")
    rows = {(r["conv_id"], r["turn_idx"]): r for r in out.limit(2000).collect()}
    checked = 0
    for _, turn in t.head(40).iterrows():
        r = rows[(turn.conv_id, turn.turn_idx)]
        toks_ = textfns.tokenize(textfns.normalize_text(turn.text))
        shapes = [textfns.shape_of_string(x) for x in toks_]
        tags = [textfns.heuristic_pos_dep(x, i) for i, x in enumerate(toks_)]
        want = turn_feature_matrix(
            toks_, shapes, [p for p, _ in tags], [d for _, d in tags],
            vocab, MAX_SEQ, EMB,
        )
        got = np.array(r["features"], dtype=np.float32)
        assert got.shape == want.shape
        assert np.allclose(got, want)
        checked += 1
    assert checked == 40


def test_lag_lead_counts_consistent(data, spark):
    """The JVM-side regexp token count (used for the slim-phase lag/lead)
    must equal the pinned tokenizer's count on every turn."""
    tdf, _, stdf, t, _, _ = data
    out, _ = featurize_transcripts(tdf, stdf, max_seq_length=MAX_SEQ, emb_dim=4)
    rows = {(r["conv_id"], r["turn_idx"]): r for r in out.collect()}
    for (conv, tidx), r in rows.items():
        n_exact = min(len(textfns.tokenize(textfns.normalize_text(
            t[(t.conv_id == conv) & (t.turn_idx == tidx)].iloc[0]["text"]))), MAX_SEQ)
        assert r["n_tokens"] == n_exact
        prev = rows.get((conv, tidx - 1))
        if prev is not None:
            assert r["n_tokens_lag1"] == prev["n_tokens"]


def test_asof_state_no_leakage_in_pipeline(data, spark):
    tdf, _, stdf, t, _, st = data
    out, _ = featurize_transcripts(tdf, stdf, max_seq_length=8, emb_dim=4)
    got = {
        (r["conv_id"], r["turn_idx"]): (tuple(r["state"]) if r["state"] else None)
        for r in out.collect()
    }
    st2 = st.rename(columns={"entity_id": "conv_id"})
    for _, turn in t.iterrows():
        cand = st2[(st2.conv_id == turn.conv_id) & (st2.ts <= turn.ts)]
        want = (
            tuple(cand.sort_values(["ts", "state_seq"]).iloc[-1]["state"])
            if len(cand)
            else None
        )
        assert got[(turn.conv_id, turn.turn_idx)] == want


def test_labeling_colocated_matches_reference(data, spark):
    tdf, sdf, _, t, s, _ = data
    classes = tuple(sorted(s["ne_type"].unique()))
    toks = tokenize_turns(tdf)
    lab = label_tokens_colocated(toks, sdf, classes)
    got = {(r["conv_id"], r["turn_idx"]): r["labels"] for r in lab.collect()}
    for (conv, tidx), grp in s.groupby(["conv_id", "turn_idx"]):
        text = textfns.normalize_text(
            t[(t.conv_id == conv) & (t.turn_idx == tidx)].iloc[0]["text"]
        )
        bounds = [(a, b) for _, a, b in textfns.tokenize_with_bounds(text)]
        ner = {}
        for _, row in grp.iterrows():
            ner.setdefault(row.ne_type, []).append((row.start, row.end))
        paint, i2c = textfns.paint_entity_chars(len(text), classes, ner)
        want = textfns.token_labels(bounds, paint, i2c, len(bounds)).tolist()
        assert got[(conv, tidx)] == want, (conv, tidx)
    # spans actually cover the phrases they claim
    tok_tbl = token_table(toks)
    assert tok_tbl.count() > 0


def test_entity_spans_slice_to_phrases(data, spark):
    _, _, _, t, s, _ = data
    merged = s.merge(t, on=["conv_id", "turn_idx"])
    phrases = {p for ps in datagen.ENTITY_PHRASES.values() for p in ps}
    for _, row in merged.iterrows():
        assert row.text[row.start:row.end] in phrases


def test_fused_featurize_cache_cap_resets_without_changing_output():
    """The per-task vector table is bounded (ADVICE r3): when the
    distinct-triple count exceeds cache_max_entries the table resets
    BETWEEN Arrow batches.  A capped udf must emit byte-identical features
    to an uncapped one across repeated calls (rows recomputed, not stale)."""
    import pandas as pd

    from deep_ner_spark.operators.features import make_fused_featurize_udf

    vocab = ("a", "A", "D")
    texts = pd.Series(
        ["alpha beta 42", "Gamma delta", "x1 y2 z3 alpha", "", "beta 42"]
    )
    free = make_fused_featurize_udf(vocab, 8, emb_dim=4).func
    capped = make_fused_featurize_udf(vocab, 8, emb_dim=4, cache_max_entries=2).func
    ref = free(texts)
    for _ in range(3):  # several batches: reset fires between each
        got = capped(texts)
        assert list(got.columns) == list(ref.columns)
        for c in ref.columns:
            assert list(got[c].map(bytes) if c == "features" else got[c].map(tuple)) == list(
                ref[c].map(bytes) if c == "features" else ref[c].map(tuple)
            ), c


def test_arrow_featurize_fn_matches_pandas_udf_bitwise(spark):
    """The r8 mapInArrow featurize (zero-copy binary column, chunked
    output batches) must emit byte-identical features and identical
    token/bounds arrays to the struct-pandas_udf path it replaced,
    including None/empty texts, truncation past max_seq_length, the
    emit_linguistics variant, and a chunk size that forces mid-batch
    splits."""
    import pandas as pd
    import pyarrow as pa

    from deep_ner_spark.operators.features import (
        make_fused_featurize_arrow_fn,
        make_fused_featurize_udf,
    )

    vocab = ("a", "A", "Aa", "D")
    texts = [
        "alpha beta 42 CamelCase",
        None,
        "",
        "x " * 40,  # truncates past max_seq_length=8
        "Gamma—delta v2.7, ok?",
    ]
    for ling in (False, True):
        ref = make_fused_featurize_udf(
            vocab, 8, emb_dim=4, emit_linguistics=ling
        ).func(pd.Series(texts))
        rb = pa.RecordBatch.from_arrays(
            [pa.array(["meta"] * len(texts)), pa.array(texts)],
            names=["other", "norm_text"],
        )
        fn = make_fused_featurize_arrow_fn(
            vocab, 8, emb_dim=4, emit_linguistics=ling, chunk_rows=2
        )
        got = pa.Table.from_batches(list(fn(iter([rb])))).to_pandas()
        assert list(got["other"]) == ["meta"] * len(texts)  # passthrough
        name_map = {"pos": "pos_tags", "dep": "dep_tags"}
        for c in ref.columns:
            g = got[name_map.get(c, c)]
            if c == "features":
                assert [bytes(x) for x in g] == [bytes(x) for x in ref[c]], c
            else:
                assert [list(x) for x in g] == [list(x) for x in ref[c]], c


def test_arrow_featurize_cache_cap_resets_without_changing_output():
    """Same bounded-cache contract as the pandas_udf path: a capped arrow
    fn emits byte-identical features across repeated calls."""
    import pyarrow as pa

    from deep_ner_spark.operators.features import make_fused_featurize_arrow_fn

    vocab = ("a", "A", "D")
    texts = ["alpha beta 42", "Gamma delta", "x1 y2 z3 alpha", "", "beta 42"]
    rb = pa.RecordBatch.from_arrays([pa.array(texts)], names=["norm_text"])
    free = make_fused_featurize_arrow_fn(vocab, 8, emb_dim=4)
    ref = pa.Table.from_batches(list(free(iter([rb])))).to_pandas()
    capped = make_fused_featurize_arrow_fn(vocab, 8, emb_dim=4, cache_max_entries=2)
    for _ in range(3):
        got = pa.Table.from_batches(list(capped(iter([rb])))).to_pandas()
        assert [bytes(x) for x in got["features"]] == [
            bytes(x) for x in ref["features"]
        ]


def test_fused_featurize_closure_ships_no_vector_table():
    """The per-token vector table is allocated on a task's first chunk,
    not built into the closure: the pickled fn every task receives stays
    small even for a one-shape vocab (a pre-built 1024-row table was
    ~350 KB), and the unpickled fn emits blobs bit-identical to the NumPy
    reference matrix."""
    import pyarrow as pa
    from pyspark import cloudpickle

    from deep_ner_spark.operators.features import (
        make_fused_featurize_arrow_fn,
        make_fused_featurize_udf,
    )

    vocab = ("a",)
    pandas_fn = make_fused_featurize_udf(vocab, MAX_SEQ, emb_dim=16).func
    assert len(cloudpickle.dumps(pandas_fn)) < 64 * 1024
    payload = cloudpickle.dumps(
        make_fused_featurize_arrow_fn(vocab, MAX_SEQ, emb_dim=16)
    )
    assert len(payload) < 64 * 1024

    texts = [
        textfns.normalize_text(t)
        for t in ["alpha beta 42", "", "Gamma—delta v2.7, ok?", "x " * 40, "Ёлка 7"]
    ]
    rb = pa.RecordBatch.from_arrays([pa.array(texts)], names=["norm_text"])
    out = pa.Table.from_batches(list(cloudpickle.loads(payload)(iter([rb]))))
    for text, blob in zip(texts, out.column("features").to_pylist()):
        toks = textfns.tokenize(text)
        tags = [textfns.heuristic_pos_dep(x, i) for i, x in enumerate(toks)]
        want = turn_feature_matrix(
            toks,
            [textfns.shape_of_string(x) for x in toks],
            [p for p, _ in tags],
            [d for _, d in tags],
            vocab,
            MAX_SEQ,
            16,
        )[: min(len(toks), MAX_SEQ)]
        assert blob == want.astype("<f4").tobytes(), text
