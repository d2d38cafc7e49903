"""Spark expressions/UDFs agree with the pure reference-semantics functions."""

import pandas as pd
from pyspark.sql import functions as F

from deep_ner_spark import textfns
from deep_ner_spark.functions.text import (
    normalize_text_col,
    shape_udf,
    word_token_count_col,
)
from deep_ner_spark.operators.tokens import token_table, tokenize_turns

TRICKY = [
    "a—b–c‒d‑e‐f﹣g－h⁃i֊j᠆k",
    "tabs\tand\nnewlines\r\nand nbsp thin　ideographic",
    "Барак Обама принимает в Белом доме своего французского коллегу Николя Саркози.",
    "plain ascii text 123 !?",
    "",
    "  leading and trailing  ",
    "mixed—dash­softhyphen",
]


# Java's (?U)\w takes combining marks, ZWJ and '‿' but not '²', and its
# (?U)\s leaves out \x1c-\x1f: with those classes the JVM counted
# 2, 1, 1, 3, 3 and 7 tokens here
CLASS_EDGES = {
    "cafe\u0301 ok": 3,
    "x\u200dy": 3,
    "क्षत्रिय": 7,
    "a\x1cb": 2,
    "x\u00b2 a\u203fb": 4,
    "a\x1fb\x1dc\x1ed": 4,
}


def test_normalize_col_matches_python(spark):
    texts = TRICKY + list(CLASS_EDGES)
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    got = [r["n"] for r in df.select(normalize_text_col(F.col("text")).alias("n")).collect()]
    want = [textfns.normalize_text(t) for t in texts]
    assert got == want


def test_word_token_count_col_matches_python_tokenizer(spark):
    texts = list(CLASS_EDGES) + TRICKY
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    got = [r["n"] for r in df.select(word_token_count_col(F.col("text")).alias("n")).collect()]
    want = [len(textfns.tokenize(textfns.normalize_text(t))) for t in texts]
    assert got == want
    assert got[: len(CLASS_EDGES)] == list(CLASS_EDGES.values())


def test_jvm_classes_match_python_on_every_bmp_code_point(spark):
    """Each code point assigned by both runtimes gets the same class
    (word / space / punctuation) on the JVM as in Python: ``a<c>a`` is one
    token when c is a word char, two around a space, three otherwise; and
    normalization maps c alike."""
    import unicodedata

    chars = [
        chr(cp)
        for cp in range(0x10000)
        if not 0xD800 <= cp <= 0xDFFF and unicodedata.category(chr(cp)) != "Cn"
    ]
    df = spark.createDataFrame(pd.DataFrame({"c": chars}))
    rows = (
        df.where(~F.col("c").rlike(r"\p{Cn}"))  # unassigned in the JVM's Unicode
        .select(
            "c",
            word_token_count_col(F.concat(F.lit("a"), "c", F.lit("a"))).alias("n"),
            normalize_text_col(F.col("c")).alias("norm"),
        )
        .collect()
    )
    assert len(rows) > 50_000
    bad = [
        hex(ord(r["c"]))
        for r in rows
        if r["n"] != len(textfns.tokenize("a" + r["c"] + "a"))
        or r["norm"] != textfns.normalize_text(r["c"])
    ]
    assert bad == []


def test_tokenize_turns_matches_python_on_edge_texts(spark):
    """tokenize_turns gives each row the tokens and char bounds of
    ``tokenize_with_bounds(normalize_text(text))``, which also equal the
    reference's sequential-find alignment (``bounds_of_tokens``), and
    token_table explodes them in order: TRICKY and CLASS_EDGES texts,
    null (no tokens, no crash), empty, whitespace-only, doubled inner
    spaces, NBSP, an astral character (its UTF-8 bytes would shift a byte
    offset), a superscript digit, punctuation only and a 300+-token turn."""
    texts = TRICKY + list(CLASS_EDGES) + [
        None,
        "",
        " \t\n ",
        "two  spaces   inside",
        "a\u00a0b c\u00a0d",
        "a\U0001F600b c \U0001D400x",
        "x\u00b2 7\u00b2",
        "?!...,;",
        "w1 " * 320,
        "Anna Karenina flew to New York in 1997 \u2014 twice.",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "conv_id int, text string"
    ).repartition(3)
    toks = tokenize_turns(df).withColumn("turn_idx", F.lit(0))
    rows = {r["conv_id"]: r for r in toks.collect()}
    assert len(rows) == len(texts)
    want_long = []
    for i, text in enumerate(texts):
        r = rows[i]
        norm = textfns.normalize_text(text or "")
        triples = textfns.tokenize_with_bounds(norm)
        assert r["norm_text"] == (None if text is None else norm), i
        assert r["tokens"] == [t for t, _, _ in triples], i
        assert r["starts"] == [s for _, s, _ in triples], i
        assert r["ends"] == [e for _, _, e in triples], i
        assert list(zip(r["starts"], r["ends"])) == textfns.bounds_of_tokens(
            norm, r["tokens"]
        ), i
        want_long += [(i, k, t, s, e) for k, (t, s, e) in enumerate(triples)]
    assert len(rows[texts.index("w1 " * 320)]["tokens"]) == 320
    long = token_table(toks)
    got_long = sorted(
        tuple(r) for r in long.select("conv_id", "token_idx", "token", "start", "end").collect()
    )
    assert got_long == want_long


def test_shape_udf_matches_python(spark):
    tokens = ["Hello", "HELLO", "abc123", "CamelCase", "1,234.56", "a+b", "!!", "x", "Ёлка", "x²"]
    df = spark.createDataFrame(pd.DataFrame({"token": tokens}))
    rows = df.select("token", shape_udf(F.col("token")).alias("py")).collect()
    for r in rows:
        assert r["py"] == textfns.shape_of_string(r["token"])
