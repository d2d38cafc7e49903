"""``queries()`` agree with their ``oracle_sql()`` DuckDB twins on edge
texts: null, "", whitespace-only, tab/newline edges, doubled spaces, a
vertical tab, a non-breaking space, Cyrillic words and punctuation."""

import sys
import unicodedata

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as e
from deep_ner_spark.textfns import shape_of_string
from tools.check_oracles import compare

# every twin that splits through _WS_TOKENS, the twins of the text
# normalizer and of the word tokenizer with offsets, and the media
# queries, whose twins keep a null text's shape
_QUERIES = sorted(
    {name for name, sql in e.oracle_sql().items() if e._WS_TOKENS in sql}
    | {"normalize_dashes", "token_explode", "multimodal_image_features",
       "multimodal_audio_energy", "multimodal_video_frames"}
)

_WORDS = "spark data merge filter shuffle join stage task the of".split()
_EDGES = (
    lambda s: s,
    lambda s: None,
    lambda s: "",
    lambda s: "  \t \n ",
    lambda s: "\t" + s + "\n",
    lambda s: s.replace(" ", "  "),
    lambda s: s.replace(" ", "\x0b", 2),
    lambda s: s.replace(" ", "\xa0", 1),
    lambda s: "Привет " + s + " мир",
    lambda s: s.replace(" ", ", ", 1) + ".",
)
_TEXTS = [
    "\tspark shuffle join",  # 0 and 1: one token set, so simhash distance 0
    "spark shuffle join\n",
    "\nspark shuffle join stage\t",
    "alpha beta\tgamma\n",  # 3 and 4: likewise
    "\t\nalpha beta gamma",
    "plain words only here",
] + [
    _EDGES[i % len(_EDGES)](" ".join(_WORDS[: 1 + i % 9] * (1 + i % 5)))
    for i in range(6, 60)
]
_N_NULL = sum(t is None for t in _TEXTS)


@pytest.fixture(scope="module")
def edge_docs(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_docs")
    pd.DataFrame(
        {
            "doc_id": np.arange(len(_TEXTS), dtype="int64"),
            "text": _TEXTS,
            "lang": ["en" if i % 3 else "de" for i in range(len(_TEXTS))],
        }
    ).to_parquet(d / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    yield str(d), con
    con.close()


def _null_rows(got):
    return got.isna().any(axis=1).sum()


_CHECKS = {
    "simhash_near_pairs": lambda got: {(0, 1, 0), (3, 4, 0)}
    <= set(got.itertuples(index=False, name=None)),
    # a null blob keeps its output shape with null values: 4*4*3 image
    # cells and 4 video samples per null doc
    "multimodal_image_features": lambda got: _null_rows(got) == _N_NULL * 48,
    "multimodal_video_frames": lambda got: _null_rows(got) == _N_NULL * 4,
    "multimodal_audio_energy": lambda got: _null_rows(got) > 0,
    # a null text packs as 0 tokens
    "pack_sequences": lambda got: _null_rows(got) == 0,
}


@pytest.mark.parametrize("name", _QUERIES)
def test_edge_text_twins_agree(spark, edge_docs, name):
    sf_dir, con = edge_docs
    got = e.queries()[name](spark, sf_dir).toPandas()
    assert compare(name, got, con.execute(e.oracle_sql()[name]).df()) == "OK"
    assert len(got) > 0  # an empty result on both sides would show nothing
    check = _CHECKS.get(name)
    assert check is None or check(got)


def test_token_explode_twin_tokenizes_normalized_text(spark, tmp_path):
    """Both sides of token_explode tokenize the normalized text, so a dash
    variant comes out as the token '-' with unchanged offsets."""
    texts = ["x—y, z!!", "a–b ‒c", "plain words"]
    pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype="int64"), "text": texts, "lang": "en"}
    ).to_parquet(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    got = e.queries()["token_explode"](spark, str(tmp_path)).toPandas()
    want = con.execute(e.oracle_sql()["token_explode"]).df()
    con.close()
    assert compare("token_explode", got, want) == "OK"
    assert "-" in set(got.token) and "—" not in set(got.token)


def _events_view(tmp_path, props):
    """A small events table (every column of the fixture's) whose i-th
    row has props ``props[i]``, as a DuckDB connection with an ``events``
    view; the parquet lands in ``tmp_path``."""
    n = len(props)
    pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(np.arange(n) * 7919 % 86400, unit="s"),
            "user_id": np.arange(n, dtype="int64") % 3,
            "event_type": [("click", "view", "purchase", "error")[i % 4] for i in range(n)],
            "value": np.round(np.arange(n) * 1.37 % 50, 2),
            "props": props,
        }
    ).astype({"ts": "datetime64[us]"}).to_parquet(tmp_path / "events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    return con


@pytest.mark.parametrize(
    "name", ["flagship_featurize", "predict_entities", "predict_entities_shape_head"]
)
def test_events_twins_agree_on_edge_props(spark, tmp_path, name):
    """The twins over the derived transcripts agree on Unicode and null
    props: flagship_featurize's twin counts tokens with the Unicode word
    tokenizer, as ``word_token_count_col`` does (a Cyrillic word is one
    token, an NBSP separates two), and a null props leaves the text
    ``event_type``, as ``concat_ws`` does."""
    props = [
        ('{"k": %d}' % i, "Привет, мир", "a\xa0b", None, "Ёлка ёж 12", "x,\xa0y")[i % 6]
        for i in range(40)
    ]
    con = _events_view(tmp_path, props)
    got = e.queries()[name](spark, str(tmp_path)).toPandas()
    want = con.execute(e.oracle_sql()[name]).df()
    con.close()
    assert compare(name, got, want) == "OK"
    assert len(got) > 0


def test_shape_sql_matches_shape_of_string():
    """``_shape_sql`` classifies every code point Python assigns (not Cn;
    surrogates have no UTF-8 form) as textfns.shape_of_string does, and
    collapses runs in whole tokens the same way."""
    chars = [
        c
        for c in map(chr, range(sys.maxunicode + 1))
        if unicodedata.category(c) not in ("Cn", "Cs")
    ]
    tokens = ["", "Ab12-x", "1²3", "ǅa", "x—y", "«q»", "'s", "__a__", "e\u0301x", "Ёлка"]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"x": chars + tokens}))
    got = con.execute(f"SELECT x, {e._shape_sql('x')} AS shape FROM t").df()
    con.close()
    shape = shape_of_string.__wrapped__  # 280k one-off keys: skip the cache
    bad = [(x, s) for x, s in zip(got["x"], got["shape"]) if s != shape(x)]
    assert not bad, bad[:10]


def test_shape_twins_uppercase_the_first_char_as_spark_does(spark, tmp_path):
    """shape_strings and shape_vocab uppercase each token's first char as
    Spark's ``upper`` does (Java full case mapping), also where that
    uppercase is more than one char: 'ﬁnd' -> 'FInd', 'ŉa' -> 'ʼNa'."""
    multi = [c for c in map(chr, range(sys.maxunicode + 1)) if len(c.upper()) > 1]
    tokens = [c + "x" for c in multi] + ["ﬁnd", "ŉa", "ßx"]
    texts = [" ".join(tokens[i : i + 8]) for i in range(0, len(tokens), 8)]
    pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype="int64"), "text": texts, "lang": "en"}
    ).to_parquet(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    for name in ("shape_strings", "shape_vocab"):
        got = e.queries()[name](spark, str(tmp_path)).toPandas()
        assert compare(name, got, con.execute(e.oracle_sql()[name]).df()) == "OK", name
    con.close()
    shapes = dict(zip(got["shape"], got["cnt"]))
    assert shapes.get("Aa", 0) >= 3  # 'FInd', 'FIx', 'SSx', ... all shape Aa


@pytest.mark.parametrize("n", [3, 4])
def test_shingles_sql_matches_python(n):
    """The shingle CTE of six twins gives Python's shingle sets on texts of
    0, 1, n-1 and n tokens, a null text and one ~20k-token text (linear in
    the text's length, so the long one takes milliseconds)."""
    import re

    words = [f"w{i % 997}" for i in range(20_000)]
    texts = ["", "one", " ".join(words[: n - 1]), "\t".join(words[:n]), None,
             " ".join(words) + "\n"]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    got = {}
    for doc_id, shingle in con.execute(
        f"WITH {e._shingles_sql(n)} SELECT doc_id, shingle FROM sh"
    ).fetchall():
        got.setdefault(doc_id, set()).add(shingle)
    want = {}
    for doc_id, text in enumerate(texts):
        toks = [t for t in re.split(r"[\t\n\x0b\f\r ]+", text or "") if t]
        sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        if sh:
            want[doc_id] = sh
    assert got == want
    assert set(want) == {3, 5}
