"""Spark expressions/UDFs agree with the pure reference-semantics functions."""

import pandas as pd
from pyspark.sql import functions as F

from deep_ner_spark import textfns
from deep_ner_spark.functions.text import (
    normalize_text_col,
    shape_col_sql,
    shape_udf,
    tokenize_struct_udf,
    word_token_count_col,
)

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


def test_tokenize_udf_matches_python(spark):
    texts = [t for t in TRICKY if t] + ["Anna Karenina flew to New York in 1997 — twice."]
    df = spark.createDataFrame(pd.DataFrame({"text": [textfns.normalize_text(t) for t in texts]}))
    rows = (
        df.withColumn("tok", tokenize_struct_udf(F.col("text")))
        .select("text", "tok.*")
        .collect()
    )
    for r in rows:
        triples = textfns.tokenize_with_bounds(r["text"])
        assert r["tokens"] == [t for t, _, _ in triples]
        assert r["starts"] == [s for _, s, _ in triples]
        assert r["ends"] == [e for _, _, e in triples]
        assert r["shapes"] == [textfns.shape_of_string(t) for t, _, _ in triples]
        # bounds also equal the reference's sequential-find alignment
        if r["tokens"]:
            assert list(zip(r["starts"], r["ends"])) == textfns.bounds_of_tokens(
                r["text"], r["tokens"]
            )


def test_shape_udf_and_sql_fallback_agree_on_ascii(spark):
    tokens = ["Hello", "HELLO", "abc123", "CamelCase", "1,234.56", "a+b", "!!", "x"]
    df = spark.createDataFrame(pd.DataFrame({"token": tokens}))
    rows = df.select(
        "token",
        shape_udf(F.col("token")).alias("py"),
        shape_col_sql(F.col("token")).alias("sql"),
    ).collect()
    for r in rows:
        assert r["py"] == textfns.shape_of_string(r["token"])
        assert r["sql"] == r["py"]
