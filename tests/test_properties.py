"""Property-based tests (hypothesis) for the pure semantic contracts."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from deep_ner_spark import textfns

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
)


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_normalize_is_length_preserving_and_idempotent(s):
    n = textfns.normalize_text(s)
    assert len(n) == len(s)
    assert textfns.normalize_text(n) == n
    # no dash variants or non-space whitespace survive
    assert not any(c in textfns.DASH_VARIANTS for c in n)
    assert not any(c.isspace() and c != " " for c in n)


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_tokenize_bounds_are_consistent_slices(s):
    n = textfns.normalize_text(s)
    for tok, a, b in textfns.tokenize_with_bounds(n):
        assert n[a:b] == tok
        assert tok.strip() == tok and tok != ""
    # bounds are strictly increasing and non-overlapping
    bounds = [(a, b) for _, a, b in textfns.tokenize_with_bounds(n)]
    for (a1, b1), (a2, b2) in zip(bounds, bounds[1:]):
        assert b1 <= a2


@given(st.text(max_size=60))
@settings(max_examples=200, deadline=None)
def test_shape_has_no_adjacent_repeats(tok):
    sh = textfns.shape_of_string(tok)
    assert all(a != b for a, b in zip(sh, sh[1:]))
    assert len(sh) <= len(tok)


@st.composite
def entities_case(draw):
    text_len = draw(st.integers(20, 120))
    n_tok = draw(st.integers(1, 12))
    cuts = sorted(draw(st.sets(st.integers(0, text_len - 1), min_size=n_tok, max_size=n_tok)))
    bounds = []
    for i, c in enumerate(cuts):
        end = cuts[i + 1] if i + 1 < len(cuts) else text_len
        if end > c:
            bounds.append((c, min(end, c + draw(st.integers(1, 8)))))
    classes = ("A", "B", "C")
    ents = {}
    for _ in range(draw(st.integers(0, 4))):
        t = draw(st.sampled_from(classes))
        a = draw(st.integers(0, text_len - 2))
        b = draw(st.integers(a + 1, text_len))
        ents.setdefault(t, []).append((a, b))
    return text_len, bounds, classes, ents


@given(entities_case())
@settings(max_examples=150, deadline=None)
def test_label_pipeline_invariants(case):
    """Char paint -> majority -> BIO -> decode: every decoded span lies
    within token coverage and uses known classes; codes obey the B-even /
    I-odd codec."""
    text_len, bounds, classes, ents = case
    paint, i2c = textfns.paint_entity_chars(text_len, classes, ents)
    labels = textfns.token_labels(bounds, paint, i2c, max(len(bounds), 1))
    for code in labels:
        assert code >= 0
        if code > 0:
            k = (code - 1) // 2
            assert 0 <= k < len(classes)
    if len(bounds):
        decoded = textfns.decode_bio_spans(bounds, classes, labels.tolist())
        lo = min(a for a, _ in bounds)
        hi = max(b for _, b in bounds)
        for t, spans in decoded.items():
            assert t in classes
            for a, b in spans:
                assert lo <= a < b <= hi


@given(st.lists(st.integers(0, 3), min_size=1, max_size=30))
@settings(max_examples=150, deadline=None)
def test_bio_encode_instances_codec(insts):
    inst = np.array(insts, dtype=np.int64)
    i2c = {1: 1, 2: 2, 3: 1}
    codes = textfns.bio_encode_instances(inst, i2c)
    prev = 0
    for x, code in zip(insts, codes):
        if x == 0:
            assert code == 0
        else:
            k = i2c[x]
            assert code == (2 * k - 1 if x == prev else 2 * k)
        prev = x


@given(
    st.lists(
        st.tuples(st.integers(0, 100), st.integers(1, 20)), min_size=0, max_size=8
    ),
    st.lists(
        st.tuples(st.integers(0, 100), st.integers(1, 20)), min_size=0, max_size=8
    ),
)
@settings(max_examples=150, deadline=None)
def test_match_spans_bounds(gold_raw, pred_raw):
    """tp+fn == total gold chars and tp+fp == total pred chars — the
    conservation law of the char-overlap metric."""
    from deep_ner_spark.operators.quality import match_spans

    gold = [(a, a + l) for a, l in gold_raw]
    pred = [(a, a + l) for a, l in pred_raw]
    tp, fp, fn = match_spans(gold, pred)
    assert tp + fn == sum(b - a for a, b in gold)
    assert tp + fp == sum(b - a for a, b in pred)
    assert tp >= 0 and fp >= 0 and fn >= 0
