"""Negative-input validation paths — the reference's test suite is ~60%
validation tests (SURVEY §5); these pin our loaders' error behavior."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_bio_invalid_label_raises(spark, tmp_path):
    from deep_ner_spark.sources.bio import load_bio_dataset

    p = tmp_path / "bad.bio"
    p.write_text("Tok NN B-LOC\nBad NN b-loc\n\n")  # lowercase label
    with pytest.raises(ValueError, match="invalid BIO line"):
        load_bio_dataset(spark, str(p))


def test_bio_single_field_raises(spark, tmp_path):
    from deep_ner_spark.sources.bio import load_bio_dataset

    p = tmp_path / "bad2.bio"
    p.write_text("loneword\n")
    with pytest.raises(ValueError, match="invalid BIO line"):
        load_bio_dataset(spark, str(p))


def test_brat_mismatched_annotation_text_raises():
    from deep_ner_spark.sources.brat import parse_ann

    with pytest.raises(ValueError, match="line 1 is wrong"):
        parse_ann("T1\tLOC 0 5\tWRONG", "Hello world", "doc")


def test_brat_out_of_range_span_raises():
    from deep_ner_spark.sources.brat import parse_ann

    with pytest.raises(ValueError, match="line 1 is wrong"):
        parse_ann("T1\tLOC 0 99\tHello", "Hello", "doc")


def test_factrueval_bad_token_line_raises(spark, tmp_path):
    from deep_ner_spark.sources.factrueval import load_tokens

    p = tmp_path / "doc.tokens"
    p.write_text("1 0 5 Hello\n2 6 3 toolong\n")  # len mismatch on line 2
    with pytest.raises(ValueError, match="Invalid .tokens line"):
        load_tokens(spark, str(tmp_path))


def test_factrueval_duplicate_token_id_raises(spark, tmp_path):
    from deep_ner_spark.sources.factrueval import load_tokens

    p = tmp_path / "doc.tokens"
    p.write_text("1 0 5 Hello\n1 6 5 World\n")
    with pytest.raises(ValueError, match="Duplicate token ids"):
        load_tokens(spark, str(tmp_path))


def test_spans_unknown_token_fk_raises(spark, tmp_path):
    from deep_ner_spark.sources.factrueval import load_spans, load_tokens

    (tmp_path / "doc.tokens").write_text("1 0 5 Hello\n")
    (tmp_path / "doc.spans").write_text("7 word 0 5 1 1 extra pad # 999 Hello\n")
    toks = load_tokens(spark, str(tmp_path))
    with pytest.raises(ValueError, match="unknown token"):
        load_spans(spark, str(tmp_path), toks)


def test_splitting_bad_params_raise(spark):
    from deep_ner_spark.operators.splitting import split_assignment

    units = spark.createDataFrame(pd.DataFrame({"sample_id": [0, 1, 2, 3], "text": list("abcd")}))
    spans = spark.createDataFrame(
        pd.DataFrame({"sample_id": [0], "ne_type": ["X"]})
    )
    with pytest.raises(ValueError, match="restarts"):
        split_assignment(units, spans, 0.5, n_restarts=1)
    with pytest.raises(ValueError, match="too small value of the test part"):
        split_assignment(units, spans, 0.01)
    with pytest.raises(ValueError, match="too large value of the test part"):
        split_assignment(units, spans, 0.99999)


def test_bounds_of_tokens_missing_token_raises():
    from deep_ner_spark.textfns import bounds_of_tokens

    with pytest.raises(ValueError, match="cannot be tokenized"):
        bounds_of_tokens("short text", ["short", "missing"])


def test_sentence_division_unfindable_sentence_raises():
    from deep_ner_spark.operators.segment import divide_unit_by_sentences

    with pytest.raises(ValueError, match="cannot be tokenized by sentences"):
        divide_unit_by_sentences("abc.", {}, sent_tokenize_func=lambda t: ["zzz"])


def test_bio_reference_legal_labels_accepted(spark, tmp_path):
    """utils.py:889-900 only requires isupper() + O/B-/I- prefix + len>=3 —
    'B-LOC1' and 'B-ORG_X' are legal reference inputs."""
    from deep_ner_spark.sources.bio import load_bio_dataset

    p = tmp_path / "ok.bio"
    p.write_text("Tok NN B-LOC1\nTwo NN I-LOC1\nOrg NN B-ORG_X\nEnd NN O\n\n")
    units, spans = load_bio_dataset(spark, str(p))
    got = {r["ne_type"] for r in spans.collect()}
    assert got == {"LOC1", "ORG_X"}


def test_bio_short_or_lowercase_labels_still_raise(spark, tmp_path):
    from deep_ner_spark.sources.bio import load_bio_dataset

    for bad in ["Tok NN B-\n\n", "Tok NN o\n\n", "Tok NN X-LOC\n\n"]:
        p = tmp_path / "bad3.bio"
        p.write_text(bad)
        with pytest.raises(ValueError, match="invalid BIO line"):
            load_bio_dataset(spark, str(p))


def test_json_dataset_unknown_key_raises(spark, tmp_path):
    """SURVEY SO4 (utils.py:550-566): unknown document keys fail the load."""
    import json

    from deep_ner_spark.sources.json_ds import load_json_dataset

    good = [{"text": "hello world", "named_entities": {"LOC": [[0, 5]]}}]
    p = tmp_path / "good.json"
    p.write_text(json.dumps(good))
    units, spans = load_json_dataset(spark, str(p))
    assert units.count() == 1 and spans.count() == 1

    bad = [{"text": "hello", "named_entities": {}, "a": 1}]
    p2 = tmp_path / "bad.json"
    p2.write_text(json.dumps(bad))
    with pytest.raises(ValueError, match="unknown key"):
        load_json_dataset(spark, str(p2))


def test_split_assignment_driver_ceiling_raises(spark, monkeypatch):
    from deep_ner_spark.operators import splitting
    from deep_ner_spark.operators.splitting import split_assignment

    monkeypatch.setattr(splitting, "MAX_DRIVER_SAMPLES", 10)
    units = spark.range(100).withColumnRenamed("id", "sample_id")
    spans = units.select("sample_id").withColumn("ne_type", F.lit("X"))
    with pytest.raises(ValueError, match="ceiling"):
        split_assignment(units, spans, 0.3, seed=1)


def test_sample_assignment_driver_ceiling_raises(spark, monkeypatch):
    """sample_assignment collects its ids under the same ceiling as
    split_assignment instead of pulling every id to the driver."""
    from deep_ner_spark.operators import splitting
    from deep_ner_spark.operators.splitting import sample_assignment

    monkeypatch.setattr(splitting, "MAX_DRIVER_SAMPLES", 10)
    units = spark.range(100).withColumnRenamed("id", "sample_id")
    spans = units.select("sample_id").withColumn("ne_type", F.lit("X"))
    with pytest.raises(ValueError, match="ceiling"):
        sample_assignment(units, spans, n=5, seed=1)
