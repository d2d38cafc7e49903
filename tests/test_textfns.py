"""Golden-vector parity for the pure text/label functions.

Expected values are the reference's own published test vectors
(tests/test_elmo_ner.py:826-908) — pure data, transcribed verbatim.
"""

import numpy as np
import pytest

from deep_ner_spark import textfns


def test_bounds_of_tokens_golden01():
    # tests/test_elmo_ner.py:826-838
    text = (
        "Совершенно новую технологию перекачки российской водки за рубеж "
        "начали использовать контрабандисты."
    )
    toks = [
        "Совершенно", "новую", "технологию", "перекачки", "российской",
        "водки", "за", "рубеж", "начали", "использовать", "контрабандисты", ".",
    ]
    expected = [
        (0, 10), (11, 16), (17, 27), (28, 37), (38, 48), (49, 54), (55, 57),
        (58, 63), (64, 70), (71, 83), (84, 98), (98, 99),
    ]
    assert textfns.bounds_of_tokens(text, toks) == expected
    # the pinned tokenizer reproduces the same tokenization + bounds
    assert [(t, s, e) for t, s, e in textfns.tokenize_with_bounds(text)] == [
        (t, s, e) for t, (s, e) in zip(toks, expected)
    ]


def test_bounds_of_tokens_golden02_en_dash():
    # tests/test_elmo_ner.py:840-853 (en-dash and nested parens)
    text = (
        "Один из последних представителей клады, тираннозавр (Tyrannosaurus rex), "
        "живший 66–67 миллионов лет назад, был одним из крупнейших когда-либо "
        "живших сухопутных хищников"
    )
    toks = [
        "Один", "из", "последних", "представителей", "клады", ",", "тираннозавр",
        "(", "Tyrannosaurus", "rex", ")", ",", "живший", "66", "–", "67",
        "миллионов", "лет", "назад", ",", "был", "одним", "из", "крупнейших",
        "когда", "-", "либо", "живших", "сухопутных", "хищников",
    ]
    expected = [
        (0, 4), (5, 7), (8, 17), (18, 32), (33, 38), (38, 39), (40, 51),
        (52, 53), (53, 66), (67, 70), (70, 71), (71, 72), (73, 79), (80, 82),
        (82, 83), (83, 85), (86, 95), (96, 99), (100, 105), (105, 106),
        (107, 110), (111, 116), (117, 119), (120, 130), (131, 136), (136, 137),
        (137, 141), (142, 148), (149, 159), (160, 168),
    ]
    assert textfns.bounds_of_tokens(text, toks) == expected
    assert textfns.tokenize(text) == toks


def test_bounds_raises_on_missing_token():
    with pytest.raises(ValueError):
        textfns.bounds_of_tokens("abc", ["abc", "xyz"])


def test_paint_entity_chars_golden():
    # tests/test_elmo_ner.py:893-908
    text = "Барак Обама принимает в Белом доме своего французского коллегу Николя Саркози."
    classes = ("LOCATION", "ORG", "PERSON")
    ner = {"PERSON": [(0, 11), (63, 77)], "LOCATION": [(24, 34)]}
    paint, inst_to_class = textfns.paint_entity_chars(len(text), classes, ner)
    expected = np.zeros(len(text), dtype=np.int32)
    expected[0:11] = 2
    expected[24:34] = 1
    expected[63:77] = 3
    assert paint.tolist() == expected.tolist()
    assert inst_to_class == {1: 1, 2: 3, 3: 3}


def test_token_labels_golden01():
    # tests/test_elmo_ner.py:855-873
    text = "Барак Обама принимает в Белом доме своего французского коллегу Николя Саркози."
    toks = ["Барак", "Обама", "принимает", "в", "Белом", "доме", "своего",
            "французского", "коллегу", "Николя", "Саркози", "."]
    bounds = textfns.bounds_of_tokens(text, toks)
    paint = np.array(
        [1] * 11 + [0] * 13 + [2] * 10 + [0] * 29 + [3] * 14 + [0], dtype=np.int32
    )
    label_ids = {1: 1, 2: 2, 3: 1}
    y = textfns.token_labels(bounds, paint, label_ids, 16)
    assert y.tolist() == [2, 1, 0, 0, 4, 3, 0, 0, 0, 2, 1, 0, 0, 0, 0, 0]


def test_token_labels_golden02():
    # tests/test_elmo_ner.py:875-891
    text = (
        "С 1876 г Павлов ассистирует профессору К. Н. Устимовичу в "
        "Медико-хирургической академии и параллельно изучает физиологию "
        "кровообращения."
    )
    toks = ["С", "1876", "г", "Павлов", "ассистирует", "профессору", "К", ".",
            "Н", ".", "Устимовичу", "в", "Медико", "-", "хирургической",
            "академии", "и", "параллельно", "изучает", "физиологию",
            "кровообращения", "."]
    bounds = textfns.bounds_of_tokens(text, toks)
    paint = np.array(
        [0, 0] + [1] * 6 + [0] + [2] * 6 + [0] * 13 + [3] * 10 + [0] + [4] * 16
        + [0, 0, 0] + [5] * 29 + [0] * 49,
        dtype=np.int32,
    )
    label_ids = {1: 1, 2: 2, 3: 3, 4: 2, 5: 4}
    y = textfns.token_labels(bounds, paint, label_ids, 32)
    expected = [0, 2, 1, 4, 0, 6, 4, 3, 3, 3, 3, 0, 8, 7, 7, 7,
                0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    assert y.tolist() == expected


def test_bio_decode_inverts_encode():
    text = "Барак Обама принимает в Белом доме своего французского коллегу Николя Саркози."
    classes = ("LOCATION", "ORG", "PERSON")
    ner = {"PERSON": [(0, 11), (63, 77)], "LOCATION": [(24, 34)]}
    toks = textfns.tokenize_with_bounds(text)
    bounds = [(s, e) for _, s, e in toks]
    paint, inst_to_class = textfns.paint_entity_chars(len(text), classes, ner)
    labels = textfns.token_labels(bounds, paint, inst_to_class, len(bounds))
    decoded = textfns.decode_bio_spans(bounds, classes, labels.tolist())
    assert decoded == {"PERSON": [(0, 11), (63, 77)], "LOCATION": [(24, 34)]}


def test_decode_adjacent_same_class_instances():
    # two adjacent B codes of one class must yield two spans
    bounds = [(0, 3), (4, 7), (8, 11)]
    classes = ("X",)
    assert textfns.decode_bio_spans(bounds, classes, [2, 2, 1]) == {
        "X": [(0, 3), (4, 11)]
    }


def test_shape_of_string():
    # per reference classification (elmo_ner.py:1067-1096)
    assert textfns.shape_of_string("Hello") == "Aa"
    assert textfns.shape_of_string("HELLO") == "A"
    assert textfns.shape_of_string("abc123") == "aD"
    assert textfns.shape_of_string("don't") == "aPa"  # ASCII ' is P
    assert textfns.shape_of_string("x’y") == "a'a"  # curly quote class
    assert textfns.shape_of_string("a–b") == "a-a"  # en dash class
    assert textfns.shape_of_string("CamelCase") == "AaAa"
    assert textfns.shape_of_string("1,234.56") == "DPDPD"
    assert textfns.shape_of_string("_x_") == "_a_"
    assert textfns.shape_of_string("­") == "-"  # soft hyphen
    assert textfns.shape_of_string("€") == "U"
    assert textfns.shape_of_string("") == ""


def test_shape_of_subword():
    assert textfns.shape_of_subword("[CLS]") == "[CLS]"
    assert textfns.shape_of_subword("##ing") == "a"
    assert textfns.shape_of_subword("##123") == "D"
    assert textfns.shape_of_subword("Word") == "Aa"
    assert textfns.subword_id("[CLS]") == 0
    assert textfns.subword_id("[SEP]") == 1
    assert textfns.subword_id("##x") == 2
    assert textfns.subword_id("word") == 3


def test_normalize_text():
    s = "a—b–c‒d‑e‐f﹣g－h⁃i֊j᠆k"
    assert textfns.normalize_text(s) == "a-b-c-d-e-f-g-h-i-j-k"
    assert textfns.normalize_text("x\ty\nz w v") == "x y z w v"
    assert len(textfns.normalize_text(s)) == len(s)  # length-preserving


def test_bio_label_of_token():
    text = "Barack Obama visits Paris"
    ner = {"PERSON": [(0, 12)], "LOCATION": [(20, 25)]}
    assert textfns.bio_label_of_token(text, (0, 6), ner) == "B-PERSON"
    assert textfns.bio_label_of_token(text, (7, 12), ner) == "I-PERSON"
    assert textfns.bio_label_of_token(text, (13, 19), ner) == "O"
    assert textfns.bio_label_of_token(text, (20, 25), ner) == "B-LOCATION"
    # below half-token overlap -> O
    assert textfns.bio_label_of_token(text, (10, 19), ner) == "O"


def test_split_dependency_tag():
    assert textfns.split_dependency_tag("nsubj:pass") == {"nsubjpass", "nsubj", "pass"}
    assert textfns.split_dependency_tag("compound") == {"compound"}


def test_pos_dep_one_hot():
    v = textfns.pos_dep_one_hot("NOUN", "nsubj:pass")
    assert v.shape == (66,)
    assert v[textfns.UNIVERSAL_POS_TAGS.index("NOUN")] == 1.0
    assert v[18 + textfns.UNIVERSAL_DEPENDENCIES.index("nsubj")] == 1.0
    assert v[18 + textfns.UNIVERSAL_DEPENDENCIES.index("pass")] == 1.0
    assert v[18 + textfns.UNIVERSAL_DEPENDENCIES.index("nsubjpass")] == 1.0
    assert v.sum() == 4.0
    with pytest.raises(ValueError):
        textfns.pos_dep_one_hot("NOPE", "nsubj")
    with pytest.raises(ValueError):
        textfns.pos_dep_one_hot("NOUN", "zzz")


def test_hash_embedding_deterministic_unit_norm():
    a = textfns.hash_embedding("spark", 16)
    b = textfns.hash_embedding("spark", 16)
    c = textfns.hash_embedding("flink", 16)
    assert np.allclose(a, b)
    assert not np.allclose(a, c)
    assert abs(np.linalg.norm(a) - 1.0) < 1e-5


# --- UDPipe adapter seam (§2.10): dispatch tested BOTH ways hermetically ----


class _FakeSpacyToken:
    def __init__(self, text, pos, dep):
        self.text, self.pos_, self.dep_ = text, pos, dep


class _FakeNlp:
    """Stands in for a spacy-udpipe pipeline: one multi-word token proves
    the reference's whitespace-split-and-repeat alignment rule."""

    def __call__(self, text):
        assert text == "Нью Йорк is big"
        return [
            _FakeSpacyToken("Нью Йорк", "PROPN", "nsubj"),
            _FakeSpacyToken("is", "AUX", "cop"),
            _FakeSpacyToken("big", "ADJ", "root"),
        ]


def _install_fake_spacy_udpipe(monkeypatch, loads):
    import sys
    import types

    fake = types.ModuleType("spacy_udpipe")

    def load(lang):
        loads.append(lang)
        return _FakeNlp()

    fake.load = load
    monkeypatch.setitem(sys.modules, "spacy_udpipe", fake)
    monkeypatch.setattr(textfns, "_UDPIPE_PIPELINES", {})


def test_tagger_seam_real_path_via_fake_module(monkeypatch):
    loads = []
    _install_fake_spacy_udpipe(monkeypatch, loads)
    tagger = textfns.make_text_tagger("ru")
    toks, pos, dep = tagger("Нью Йорк is big")
    # the multi-word UDPipe token splits into parts that repeat pos/dep
    # (elmo_ner.py:402-415)
    assert toks == ["Нью", "Йорк", "is", "big"]
    assert pos == ["PROPN", "PROPN", "AUX", "ADJ"]
    assert dep == ["nsubj", "nsubj", "cop", "root"]
    # pipeline is cached per process: a second factory call must not reload
    textfns.make_text_tagger("ru")
    assert loads == ["ru"]


def test_tagger_seam_heuristic_fallback_without_dep():
    # the sandbox has no spacy_udpipe: lang given, non-strict -> pinned
    # heuristic with the in-repo tokenizer (same output shape)
    for tagger in (textfns.make_text_tagger("ru"), textfns.make_text_tagger()):
        toks, pos, dep = tagger("Moscow is big")
        assert toks == ["Moscow", "is", "big"]
        assert (pos[0], dep[0]) == textfns.heuristic_pos_dep("Moscow", 0)
        assert all(p in textfns.UNIVERSAL_POS_TAGS for p in pos)
    with pytest.raises(ImportError):
        textfns.make_text_tagger("ru", strict=True)
