"""E1 read path end-to-end: features -> logits -> Viterbi -> BIO decode.

With a head crafted so the logits reproduce the gold BIO labels, the
predicted spans must equal the label-derived spans computed by the pure
reference-semantics functions for every turn."""

import numpy as np
import pytest

from deep_ner_spark import datagen, textfns
from deep_ner_spark.pipeline import featurize_transcripts, predict_entities

CLASSES = ("LOCATION", "ORG", "PERSON")


@pytest.fixture(scope="module")
def featurized(spark):
    t, s, _ = datagen.gen_transcripts(n_convs=8, mean_turns=6, seed=17)
    tdf = spark.createDataFrame(t)
    out, vocab = featurize_transcripts(tdf, None, max_seq_length=32, emb_dim=8)
    return out, vocab, t, s


def test_predict_pipeline_identity_head(featurized, spark):
    out, vocab, t, s = featurized
    from deep_ner_spark.operators.features import feature_width

    n_tags = 2 * len(CLASSES) + 1
    width = feature_width(vocab, 8)
    rng = np.random.default_rng(5)
    # a random head: predictions are arbitrary but the pipeline must emit
    # structurally valid spans decodable against each turn's bounds
    W = rng.standard_normal((width, n_tags)).astype(np.float32)
    trans = rng.standard_normal((n_tags, n_tags))
    preds = predict_entities(out, CLASSES, W, trans)
    rows = preds.collect()
    texts = {
        (r["conv_id"], r["turn_idx"]): r["norm_text"] for r in out.collect()
    }
    assert len(rows) > 0
    for r in rows:
        assert r["ne_type"] in CLASSES
        text = texts[(r["conv_id"], r["turn_idx"])]
        assert 0 <= r["start"] < r["end"] <= len(text)


def test_predict_recovers_gold_labels(featurized, spark):
    """Craft logits that encode the gold labels exactly: one indicator
    feature dominates via a huge-weight trick is impossible with real
    features, so instead run the label pipeline in reverse — compute gold
    BIO labels per turn, then check decode_bio_spans(viterbi(one-hot gold
    logits)) == decode_bio_spans(gold labels): the pure decode path
    recovers the gold spans from logits that encode them.  No Spark runs
    here; test_predict_matches_per_turn_reference covers predict_entities."""
    from deep_ner_spark.operators.viterbi import viterbi_decode

    out, vocab, t, s = featurized
    # per turn: gold labels from char paint
    by_turn = {}
    for _, row in s.iterrows():
        by_turn.setdefault((row.conv_id, row.turn_idx), {}).setdefault(
            row.ne_type, []
        ).append((row.start, row.end))
    n_tags = 2 * len(CLASSES) + 1
    checked = 0
    for (conv, tidx), ner in list(by_turn.items())[:20]:
        text = textfns.normalize_text(
            t[(t.conv_id == conv) & (t.turn_idx == tidx)].iloc[0]["text"]
        )
        bounds = [(a, b) for _, a, b in textfns.tokenize_with_bounds(text)]
        paint, i2c = textfns.paint_entity_chars(len(text), CLASSES, ner)
        gold = textfns.token_labels(bounds, paint, i2c, len(bounds))
        onehot = np.full((len(bounds), n_tags), -100.0)
        onehot[np.arange(len(bounds)), gold] = 100.0
        decoded = viterbi_decode(onehot, np.zeros((n_tags, n_tags)))
        assert decoded.tolist() == gold.tolist()
        spans = textfns.decode_bio_spans(bounds, CLASSES, decoded.tolist())
        want = textfns.decode_bio_spans(bounds, CLASSES, gold.tolist())
        assert spans == want
        checked += 1
    assert checked > 5


def test_predict_matches_per_turn_reference(spark):
    """predict_entities equals the per-turn reference path
    normalize_text -> tokenize_with_bounds -> feature matrix -> head ->
    viterbi_decode -> decode_bio_spans on every turn, with null, empty and
    whitespace-only turns and turns longer than max_seq_length, over Arrow
    batches of a few rows each.  The head is integer on the one-hot rows
    and zero on the embedding rows, and the transitions are nonzero
    integers, so every float sum is exact and argmax ties are real."""
    import pandas as pd

    from deep_ner_spark.operators.features import feature_width, turn_feature_matrix
    from deep_ner_spark.operators.viterbi import viterbi_decode

    max_seq, emb = 8, 4
    t, _, _ = datagen.gen_transcripts(n_convs=6, mean_turns=6, seed=31)
    edge = t[t.conv_id == t.conv_id.iloc[0]].tail(5).copy()
    edge["turn_idx"] += 100
    edge["text"] = [None, "", " \t\n\x0b ", "x—y " * 12, "Alpha beta"]
    t = pd.concat([t, edge], ignore_index=True)
    out, vocab = featurize_transcripts(
        spark.createDataFrame(t), None, max_seq_length=max_seq, emb_dim=emb
    )

    n_tags = 2 * len(CLASSES) + 1
    rng = np.random.default_rng(11)
    W = rng.integers(-2, 3, size=(feature_width(vocab, emb), n_tags))
    W[:emb] = 0
    W = W.astype(np.float32)
    trans = rng.integers(-2, 3, size=(n_tags, n_tags)).astype(np.float64)

    want = []
    for conv, tidx, text in zip(t.conv_id, t.turn_idx, t.text):
        triples = textfns.tokenize_with_bounds(textfns.normalize_text(text or ""))
        words = [w for w, _, _ in triples]
        tags = [textfns.heuristic_pos_dep(w, i) for i, w in enumerate(words)]
        n = min(len(words), max_seq)
        m = turn_feature_matrix(
            words,
            [textfns.shape_of_string(w) for w in words],
            [p for p, _ in tags],
            [d for _, d in tags],
            vocab,
            max_seq,
            emb,
        )[:n]
        labels = viterbi_decode(m @ W, trans).tolist()
        bounds = [(a, b) for _, a, b in triples][:n]
        for ne_type, spans in textfns.decode_bio_spans(bounds, CLASSES, labels).items():
            want += [(conv, int(tidx), ne_type, a, b) for a, b in spans]

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = [tuple(r) for r in predict_entities(out, CLASSES, W, trans).collect()]
    finally:
        spark.conf.set(key, old)
    assert len(want) > 20
    assert sorted(got) == sorted(want)
    # a head of another width is refused, not silently re-split
    with pytest.raises(Exception, match="feature_width"):
        predict_entities(out, CLASSES, W[1:], trans).collect()


def test_md5_dyadic_head_matches_duckdb_formula():
    """predict_entities' md5-chain head: the Python weight formula and the
    DuckDB expression embedded in the oracle SQL must agree exactly, and
    every value must be an exact float32 dyadic (k/256 in [-16, 16))."""
    import importlib

    import duckdb
    import numpy as np

    entry = importlib.import_module("__spark_entry__")
    con = duckdb.connect()
    keys = [f"w:{r}:{t}" for r in (8, 9, 40, 77) for t in range(7)]
    keys += [f"t:{i}:{j}" for i in range(7) for j in range(7)]
    for k in keys:
        py = entry._md5_dyadic(k)
        sql = con.execute(
            "SELECT ((CAST(('0x' || substr(md5(?), 1, 8)) AS BIGINT) % 8192)"
            " - 4096) / 256.0"
        , [k]).fetchone()[0]
        assert py == sql, k
        assert float(np.float32(py)) == py, k
        assert -16.0 <= py < 16.0 and (py * 256) == int(py * 256), k
