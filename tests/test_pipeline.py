"""End-to-end parity: the Spark pipeline reproduces the reference feature
pipeline (normalize -> tokenize -> shapes -> vocab -> one-hot -> labels ->
as-of state) allclose at every (entity x timestamp)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deep_ner_spark import datagen, textfns
from deep_ner_spark.operators.features import fit_classes_list, turn_feature_matrix
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


def reference_blob(text, vocab, max_seq, emb):
    """The NumPy reference's real-token rows of one (normalized) text,
    packed as the engine packs them."""
    toks = textfns.tokenize(text)
    tags = [textfns.heuristic_pos_dep(x, i) for i, x in enumerate(toks)]
    want = turn_feature_matrix(
        toks,
        [textfns.shape_of_string(x) for x in toks],
        [p for p, _ in tags],
        [d for _, d in tags],
        vocab,
        max_seq,
        emb,
    )
    return want[: min(len(toks), max_seq)].astype("<f4").tobytes()


def test_fit_shape_vocab_from_text_equals_tokenized_fit(data, spark):
    """The count-only fit pass (the flagship's vocab source) must produce
    the exact vocabulary of the reference computation, which tokenizes
    every normalized turn and counts its token shapes."""
    from deep_ner_spark.operators.features import fit_shape_vocab_from_text

    tdf, _, _, t, _, _ = data
    assert fit_shape_vocab_from_text(tdf) == reference_vocab(t)


def test_text_vocab_fit_edge_texts(spark):
    """fit_shape_vocab_from_text equals a pure-Python Counter over
    ``shape_of_string(tokenize(normalize_text(t)))`` cut at min_freq, on
    null, empty, whitespace-only, NBSP, dash-variant, Cyrillic/accented,
    superscript and over-long turns spread over several partitions (the
    fit normalizes distinct tokens, not texts)."""
    from collections import Counter

    from deep_ner_spark.operators.features import fit_shape_vocab_from_text

    texts = [
        None,
        "",
        " \t\n ",
        "a\u00a0b c\u00a0d",
        "x—y–z ‒ w",
        "q".join(textfns.DASH_VARIANTS),  # every dash variant between words
        "a\u2003b\x1fc\u3000d",
        "Ёлка ёж Crème brûlée",
        "x² y² 7²",
        "Élan vital, Ёж!",
        "q1 " * 300,  # far past any max_seq_length
        "мир—мир Мир",
        None,
        "ok ok ok",
        "ZZ9 ZZ9 ZZ9",  # the only "AD" token: its count is its repeats
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string").repartition(3)
    counts = Counter(
        textfns.shape_of_string(tok)
        for t in texts
        if t is not None
        for tok in textfns.tokenize(textfns.normalize_text(t))
    )
    assert counts["AD"] == 3
    for min_freq in (1, 2, 3):
        want = tuple(sorted(s for s, c in counts.items() if c >= min_freq))
        assert fit_shape_vocab_from_text(df, min_freq=min_freq) == want, min_freq


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
        got = np.frombuffer(r["features"], "<f4").reshape(-1, r["feature_width"])
        n = min(len(toks), MAX_SEQ)
        # engine emits ragged (real-token rows); reference pads with zeros
        assert got.shape == (n, want.shape[1])
        assert np.allclose(got, want[:n]), (turn.conv_id, turn.turn_idx)
        assert np.allclose(want[n:], 0.0)


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


def test_arrow_featurize_fn_matches_numpy_reference_bitwise():
    """The mapInArrow featurize kernel (zero-copy binary column, chunked
    output batches) emits, per turn, the tokens and char bounds of
    ``tokenize_with_bounds`` and the real-token rows of the NumPy
    reference byte for byte: None/empty texts, truncation past
    max_seq_length, a chunk size that splits the input batch mid-way, and
    an input column passed through untouched.

    Also: an astral-plane character, whose UTF-8 bytes would shift any
    byte offset past the code-point bounds; one token at the first, an odd
    and an even position of one chunk (its row key must carry is_first and
    parity); a punctuation-only turn; and a row table reset between
    chunks (``cache_max_entries=2``)."""
    import pyarrow as pa

    from deep_ner_spark.operators.features import make_fused_featurize_arrow_fn

    vocab = ("a", "A", "Aa", "D", "P")
    texts = [
        "alpha beta 42 CamelCase",
        None,
        "",
        "x " * 40,  # truncates past max_seq_length=8
        "Gamma—delta v2.7, ok?",
        "a😀b c",
        "w w w",  # one chunk: "w" first, at an odd and at an even position
        "?!...",
        "x² ёж",
    ]
    rb = pa.RecordBatch.from_arrays(
        [pa.array(["meta"] * len(texts)), pa.array(texts)],
        names=["other", "norm_text"],
    )
    assert textfns.tokenize_with_bounds("a😀b c")[2:] == [("b", 2, 3), ("c", 4, 5)]
    for cap in (None, 2):
        fn = make_fused_featurize_arrow_fn(
            vocab, 8, emb_dim=4, chunk_rows=2, cache_max_entries=cap
        )
        batches = list(fn(iter([rb])))
        assert [b.num_rows for b in batches] == [2, 2, 2, 2, 1]
        assert batches[0].schema.names == [
            "other", "norm_text", "tokens", "starts", "ends", "features"
        ]
        for text, row in zip(texts, pa.Table.from_batches(batches).to_pylist()):
            triples = textfns.tokenize_with_bounds(text or "")
            assert row["other"] == "meta"
            assert row["norm_text"] == text
            assert row["tokens"] == [t for t, _, _ in triples]
            assert row["starts"] == [s for _, s, _ in triples]
            assert row["ends"] == [e for _, _, e in triples]
            assert row["features"] == reference_blob(text or "", vocab, 8, 4), (cap, text)


def test_arrow_featurize_cache_cap_resets_without_changing_output():
    """The per-task vector table is bounded (ADVICE r3): past
    cache_max_entries distinct triples it resets BETWEEN Arrow batches.
    A capped fn must emit byte-identical features to an uncapped one
    across repeated calls (rows recomputed, not stale)."""
    import pyarrow as pa

    from deep_ner_spark.operators.features import make_fused_featurize_arrow_fn

    vocab = ("a", "A", "D")
    texts = ["alpha beta 42", "Gamma delta", "x1 y2 z3 alpha", "", "beta 42"]
    rb = pa.RecordBatch.from_arrays([pa.array(texts)], names=["norm_text"])
    free = make_fused_featurize_arrow_fn(vocab, 8, emb_dim=4)
    ref = pa.Table.from_batches(list(free(iter([rb])))).to_pandas()
    capped = make_fused_featurize_arrow_fn(vocab, 8, emb_dim=4, cache_max_entries=2)
    for _ in range(3):  # several batches: reset fires between each
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

    from deep_ner_spark.operators.features import make_fused_featurize_arrow_fn

    vocab = ("a",)
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
        assert blob == reference_blob(text, vocab, MAX_SEQ, 16), text


def test_featurize_transcripts_edge_texts(spark):
    """One conversation mixing null, empty, whitespace-only, Unicode and
    over-long turns: every turn is kept, n_tokens is the tokenizer's
    count, each lag1/lead1 is its neighbour's n_tokens (a null text once
    read as max_seq_length there), an empty turn has no tokens and a
    0-byte blob, and predict_entities runs over the result.

    The 0-byte blob is a deliberate divergence from the reference's
    padded matrix, which flags BOS on row 0 and EOS on row max_seq-1 of
    an empty turn (elmo_ner.py:503-512)."""
    import datetime as dt

    from deep_ner_spark.operators.features import feature_width
    from deep_ner_spark.pipeline import predict_entities

    max_seq, emb = 8, 4
    texts = [
        "hello world",
        None,
        "",
        " \t\n ",
        "Ёлка 7",
        "a—b",
        "x " * 20,
        "ok then go",
    ]
    t0 = dt.datetime(2024, 1, 1)
    tdf = spark.createDataFrame(
        [
            ("c0", i, "user", text, None, t0 + dt.timedelta(minutes=i))
            for i, text in enumerate(texts)
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out, vocab = featurize_transcripts(tdf, None, max_seq_length=max_seq, emb_dim=emb)
    rows = sorted(out.collect(), key=lambda r: r["turn_idx"])
    assert [r["turn_idx"] for r in rows] == list(range(len(texts)))

    norm = [textfns.normalize_text(x or "") for x in texts]
    want_n = [min(len(textfns.tokenize(x)), max_seq) for x in norm]
    assert want_n == [2, 0, 0, 0, 2, 3, 8, 3]
    assert [r["n_tokens"] for r in rows] == want_n
    assert [r["n_tokens_lag1"] for r in rows] == [None] + want_n[:-1]
    assert [r["n_tokens_lead1"] for r in rows] == want_n[1:] + [None]
    for text, r in zip(norm, rows):
        assert bytes(r["features"]) == reference_blob(text, vocab, max_seq, emb)

    width = feature_width(vocab, emb)
    S = len(vocab)
    ref_empty = turn_feature_matrix([], [], [], [], vocab, max_seq, emb)
    assert ref_empty[0, emb + S + 1] == 1.0
    assert ref_empty[max_seq - 1, emb + S + 2] == 1.0
    for r in rows[1:4]:
        assert r["tokens"] == []
        assert r["features"] == bytearray()

    n_tags = 7
    rng = np.random.default_rng(3)
    spans = predict_entities(
        out,
        ("LOCATION", "ORG", "PERSON"),
        rng.standard_normal((width, n_tags)).astype(np.float32),
        rng.standard_normal((n_tags, n_tags)),
    ).collect()
    for s in spans:
        assert want_n[s["turn_idx"]] > 0
        assert 0 <= s["start"] < s["end"] <= len(norm[s["turn_idx"]])
