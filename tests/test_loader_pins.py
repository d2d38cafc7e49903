"""Loader output pins on small synthetic files: the exact units
``(sample_id, text)`` and spans each source returns, plus one negative
test per validation message.  tests/test_plans.py runs the loaders on the
same inputs for their plan and action counts.

The inputs are written under ``tmp_path`` (no reference data); the pinned
ids are the reference's list positions (dense, in file order)."""

import json

import pandas as pd
import pytest

BIO_TEXT = """EU NNP B-ORG
rejects VBZ O
German JJ B-MISC
call NN O
to TO O
boycott VB O
the DT O
lamb NN O
. . O

-DOCSTART- -X- O

Peter NNP B-PER
Blackburn NNP I-PER

Prices NNS O
rose VBD O
50 CD O
% NN O
in IN O
New NNP B-LOC
York NNP I-LOC
( ( O
and CC O
the DT O
U.S. NNP B-LOC
) ) O
. . O
"""


def rows(units, spans):
    return (
        [(r["sample_id"], r["text"]) for r in units.orderBy("sample_id").collect()],
        sorted(
            (r["sample_id"], r["ne_type"], r["start"], r["end"]) for r in spans.collect()
        ),
    )


@pytest.fixture
def bio_file(tmp_path):
    p = tmp_path / "syn.bio"
    p.write_text(BIO_TEXT)
    return str(p)


def test_bio_blank_line_units_pinned(spark, bio_file):
    from deep_ner_spark.sources.bio import load_bio_dataset

    assert rows(*load_bio_dataset(spark, bio_file)) == (
        [
            (0, "EU rejects German call to boycott the lamb."),
            (1, "-DOCSTART-"),
            (2, "Peter Blackburn"),
            (3, "Prices rose 50% in New York ( and the U.S.)."),
        ],
        [
            (0, "MISC", 11, 17),
            (0, "ORG", 0, 2),
            (2, "PER", 0, 15),
            (3, "LOC", 19, 27),
            (3, "LOC", 38, 42),
        ],
    )


def test_bio_separator_units_pinned(spark, bio_file):
    from deep_ner_spark.sources.bio import load_bio_dataset

    got = rows(*load_bio_dataset(spark, bio_file, paragraph_separators={"-DOCSTART-"}))
    assert got == (
        [
            (0, "EU rejects German call to boycott the lamb."),
            (1, "Peter Blackburn Prices rose 50% in New York ( and the U.S.)."),
        ],
        [
            (0, "MISC", 11, 17),
            (0, "ORG", 0, 2),
            (1, "LOC", 35, 43),
            (1, "LOC", 54, 58),
            (1, "PER", 0, 15),
        ],
    )


def test_bio_stopword_units_pinned(spark, bio_file):
    from deep_ner_spark.sources.bio import load_bio_dataset

    got = rows(*load_bio_dataset(spark, bio_file, stopwords={"the", "-DOCSTART-"}))
    assert got == (
        [
            (0, "EU rejects German call to boycott lamb."),
            (1, "Peter Blackburn"),
            (2, "Prices rose 50% in New York ( and U.S.)."),
        ],
        [
            (0, "MISC", 11, 17),
            (0, "ORG", 0, 2),
            (1, "PER", 0, 15),
            (2, "LOC", 19, 27),
            (2, "LOC", 34, 38),
        ],
    )


BRAT_DOCS = {
    "b_second": (
        "Moscow is big.\nIvan lives there.\n\nThe end",
        "T1\tLOCATION 0 6\tMoscow\nT2\tPERSON 15 19\tIvan\n",
    ),
    "a_first": (
        "Anna met Ivan\xad Petrov in Paris.",
        "T1\tPERSON 0 4\tAnna\nT2\tPERSON 9 21\tIvan\xad Petrov\n"
        "T3\tLOCATION 25 30\tParis\n",
    ),
    "c_empty": ("No entities here.\nSecond line.", "\n"),
}


@pytest.fixture
def brat_dir(tmp_path):
    for name, (text, ann) in BRAT_DOCS.items():
        (tmp_path / f"{name}.txt").write_text(text, encoding="utf-8")
        (tmp_path / f"{name}.ann").write_text(ann, encoding="utf-8")
    return str(tmp_path)


def test_brat_whole_document_units_pinned(spark, brat_dir):
    from deep_ner_spark.sources.brat import load_brat_dataset

    units, spans = load_brat_dataset(spark, brat_dir, split_by_paragraphs=False)
    assert [tuple(r) for r in units.orderBy("sample_id").collect()] == [
        (0, "a_first", 0, "Anna met Ivan Petrov in Paris."),
        (1, "b_second", 0, "Moscow is big. Ivan lives there.  The end"),
        (2, "c_empty", 0, "No entities here. Second line."),
    ]
    assert rows(units, spans)[1] == [
        (0, "LOCATION", 24, 29),
        (0, "PERSON", 0, 4),
        (0, "PERSON", 9, 20),
        (1, "LOCATION", 0, 6),
        (1, "PERSON", 15, 19),
    ]


def test_brat_paragraph_units_pinned(spark, brat_dir):
    from deep_ner_spark.sources.brat import load_brat_dataset

    units, spans = load_brat_dataset(spark, brat_dir)
    assert [tuple(r) for r in units.orderBy("sample_id").collect()] == [
        (0, "a_first", 0, "Anna met Ivan Petrov in Paris."),
        (1, "b_second", 0, "Moscow is big."),
        (2, "b_second", 1, "Ivan lives there."),
        (3, "b_second", 2, "The end"),
        (4, "c_empty", 0, "No entities here."),
        (5, "c_empty", 1, "Second line."),
    ]
    assert rows(units, spans)[1] == [
        (0, "LOCATION", 24, 29),
        (0, "PERSON", 0, 4),
        (0, "PERSON", 9, 20),
        (1, "LOCATION", 0, 6),
        (2, "PERSON", 0, 4),
    ]


def test_brat_empty_annotation_file_loads_units(spark, brat_dir, tmp_path):
    """A 0-byte ``.ann`` loads like the one-newline ``.ann`` of
    ``c_empty``: the document's units, with no spans."""
    from deep_ner_spark.sources.brat import load_brat_dataset

    (tmp_path / "c_empty.ann").write_bytes(b"")
    units, spans = load_brat_dataset(spark, brat_dir)
    assert [tuple(r) for r in units.orderBy("sample_id").collect()][4:] == [
        (4, "c_empty", 0, "No entities here."),
        (5, "c_empty", 1, "Second line."),
    ]
    assert [r["sample_id"] for r in spans.collect() if r["sample_id"] >= 4] == []


def test_brat_empty_text_file_loads_one_empty_unit(spark, tmp_path):
    """A 0-byte ``.txt`` is an empty document, not a missing one: the
    ``wholetext`` scan skips it, so the loader reads it from the listed
    files.  ``b`` (empty ``.txt`` and ``.ann``) gives the one empty unit
    that the per-document core returns for it."""
    from deep_ner_spark.sources.brat import load_brat_dataset, process_brat_document

    text, ann = BRAT_DOCS["a_first"]
    (tmp_path / "a.txt").write_text(text, encoding="utf-8")
    (tmp_path / "a.ann").write_text(ann, encoding="utf-8")
    (tmp_path / "b.txt").write_bytes(b"")
    (tmp_path / "b.ann").write_bytes(b"")
    units, spans = load_brat_dataset(spark, str(tmp_path))
    assert process_brat_document("", "") == [("", {})]
    assert [tuple(r) for r in units.orderBy("sample_id").collect()] == [
        (0, "a", 0, "Anna met Ivan Petrov in Paris."),
        (1, "b", 0, ""),
    ]
    assert [r["sample_id"] for r in spans.collect() if r["sample_id"] == 1] == []


def test_brat_missing_text_file_raises(spark, brat_dir, tmp_path):
    from deep_ner_spark.sources.brat import load_brat_dataset

    (tmp_path / "d_orphan.ann").write_text("T1\tPERSON 0 4\tAnna\n")
    with pytest.raises(ValueError, match="`d_orphan.ann` has no text file"):
        load_brat_dataset(spark, brat_dir)


JSON_DOCS = [
    {
        "text": "Anna and Bob went to Paris.",
        "named_entities": {"PERSON": [[0, 4], [9, 12]], "LOCATION": [[21, 26]]},
    },
    {
        "text": "First part here. Second part with Rome. Third.",
        "named_entities": {"LOCATION": [[34, 38]], "ORG": [[6, 10], [6, 15], [11, 15]]},
        "paragraph_bounds": [[0, 16], [17, 39], [40, 46]],
    },
    {"text": "Nothing to see.", "named_entities": {}},
    {
        "text": "Overlap test: New York City council.",
        "named_entities": {"LOCATION": [[14, 22], [18, 27], [14, 17]]},
    },
]


def test_json_units_pinned(spark, tmp_path):
    from deep_ner_spark.sources.json_ds import load_json_dataset

    p = tmp_path / "syn.json"
    p.write_text(json.dumps(JSON_DOCS))
    assert rows(*load_json_dataset(spark, str(p))) == (
        [
            (0, "Anna and Bob went to Paris."),
            (1, "First part here."),
            (2, "Second part with Rome."),
            (3, "Third."),
            (4, "Nothing to see."),
            (5, "Overlap test: New York City council."),
        ],
        [
            (0, "LOCATION", 21, 26),
            (0, "PERSON", 0, 4),
            (0, "PERSON", 9, 12),
            (1, "ORG", 6, 15),
            (2, "LOCATION", 17, 21),
            (5, "LOCATION", 14, 27),
        ],
    )


def test_json_units_without_paragraph_bounds_pinned(spark, tmp_path):
    from deep_ner_spark.sources.json_ds import load_json_dataset

    docs = [d for d in JSON_DOCS if "paragraph_bounds" not in d]
    p = tmp_path / "flat.json"
    p.write_text(json.dumps(docs))
    assert rows(*load_json_dataset(spark, str(p))) == (
        [
            (0, "Anna and Bob went to Paris."),
            (1, "Nothing to see."),
            (2, "Overlap test: New York City council."),
        ],
        [
            (0, "LOCATION", 21, 26),
            (0, "PERSON", 0, 4),
            (0, "PERSON", 9, 12),
            (2, "LOCATION", 14, 27),
        ],
    )


def test_divide_units_by_sentences_pinned(spark):
    from deep_ner_spark.operators.segment import divide_units_by_sentences

    units = pd.DataFrame(
        {
            "sample_id": [0, 1, 2, 3],
            "text": [
                "Anna went home. John stayed in New York. The end.",
                "One sentence only",
                "Intro words. The United Nations. Assembly met today. Tail.",
                "No spans. Two sentences.",
            ],
        }
    )
    spans = pd.DataFrame(
        {
            "sample_id": [0, 0, 0, 2],
            "ne_type": ["PERSON", "PERSON", "LOCATION", "ORG"],
            "start": [0, 16, 31, 17],
            "end": [4, 20, 39, 41],
        }
    )
    got = rows(
        *divide_units_by_sentences(spark.createDataFrame(units), spark.createDataFrame(spans))
    )
    assert got == (
        [
            (0, "Anna went home."),
            (1, "John stayed in New York."),
            (2, "The end."),
            (3, "One sentence only"),
            (4, "Intro words."),
            (5, "The United Nations. Assembly met today."),
            (6, "Tail."),
            (7, "No spans."),
            (8, "Two sentences."),
        ],
        [
            (0, "PERSON", 0, 4),
            (1, "LOCATION", 15, 23),
            (1, "PERSON", 0, 4),
            (5, "ORG", 4, 28),
        ],
    )


# --- FactRuEval -------------------------------------------------------------

FRE_DOC1 = {
    "txt": "Anna lives in New York.\nBig city here.\n",
    "tokens": "1 0 4 Anna\n2 5 5 lives\n3 11 2 in\n4 14 3 New\n5 18 4 York\n6 22 1 .\n"
    "\n7 24 3 Big\n8 28 4 city\n9 33 4 here\n10 37 1 .\n",
    "spans": "20 name 0 4 1 1 # 1 Anna\n21 loc_name 14 3 4 1 # 4 New\n"
    "22 loc_name 18 4 5 1 # 5 York\n23 loc_descr 28 4 8 1 # 8 city\n"
    "20 name 0 4 1 1 # 1 Anna\n",
    "objects": "100 Person 20 # Anna\n101 LocOrg 21 22 # New York\n"
    "102 Facility 23 # city\n",
}
FRE_DOC2 = {
    "txt": "Ivan works at Gazprom.\n",
    "tokens": "1 0 4 Ivan\n2 5 5 works\n3 11 2 at\n4 14 7 Gazprom\n5 21 1 .\n",
    "spans": "7 name 0 4 1 1 # 1 Ivan\n8 org_name 14 7 4 1 # 4 Gazprom\n",
    "objects": "1 Person 7 # Ivan\n2 Org 8 # Gazprom\n",
}


def write_fre(tmp_path, **docs):
    for base, parts in docs.items():
        for ext, body in parts.items():
            (tmp_path / f"{base}.{ext}").write_text(body, encoding="utf-8")
    return str(tmp_path)


def test_factrueval_dataset_pinned(spark, tmp_path):
    from deep_ner_spark.sources.factrueval import factrueval_to_dataset

    src = write_fre(tmp_path, book_1=FRE_DOC1, book_2=FRE_DOC2)
    docs, ents, bounds = factrueval_to_dataset(spark, src)
    assert sorted(tuple(r) for r in docs.collect()) == [
        ("book_1", "Anna lives in New York. Big city here."),
        ("book_2", "Ivan works at Gazprom."),
    ]
    assert sorted(tuple(r) for r in ents.collect()) == [
        ("book_1", "LOCATION", 14, 22),
        ("book_1", "PERSON", 0, 4),
        ("book_2", "ORG", 14, 21),
        ("book_2", "PERSON", 0, 4),
    ]
    assert sorted(tuple(r) for r in bounds.collect()) == [
        ("book_1", 0, 0, 23),
        ("book_1", 1, 24, 38),
        ("book_2", 0, 0, 22),
    ]
    _, _, sents = factrueval_to_dataset(spark, src, split_by_paragraphs=False)
    assert sorted(tuple(r) for r in sents.collect()) == [
        ("book_1", 0, 0, 23),
        ("book_1", 1, 24, 38),
        ("book_2", 0, 0, 22),
    ]


def fre_negative(spark, tmp_path, match, **overrides):
    from deep_ner_spark.sources.factrueval import load_objects, load_spans, load_tokens

    src = write_fre(tmp_path, book_1={**FRE_DOC1, **overrides})
    with pytest.raises(ValueError, match=match):
        load_objects(spark, src, load_spans(spark, src, load_tokens(spark, src)))


@pytest.mark.parametrize(
    "overrides, match",
    [
        ({"spans": "20 name 0 4 1 1 1 Anna\n"}, r"Invalid \.spans line: book_1"),
        ({"spans": "20 name 0 4 1 1 # x Anna\n"}, "Non-numeric token id in .spans"),
        ({"spans": "20 name 0 9 1 2 # 1 1 Anna Anna\n"}, "Duplicate token id inside one span"),
        ({"objects": "100 Person\n"}, r"Invalid \.objects line$"),
        ({"objects": "100 Person 20 # Anna\n100 Org 21 # New\n"}, "Duplicate object id"),
        ({"objects": "100 Person 20 Anna Smith\n"}, "'#' too early"),
        ({"objects": "100 Person x # Anna\n"}, "Non-numeric span id in .objects"),
        ({"objects": "100 Person 99 # Anna\n"}, "Object references unknown span"),
        # precedence: the first failing check in load order raises
        ({"tokens": "1 0 4 Anna\n1 5 9 lives\n"}, r"Invalid \.tokens line for book_1: id=1"),
        ({"spans": "x name\n20 name 0 4 1 1 # 99 Anna\n"}, r"Invalid \.spans line"),
        ({"spans": "20 name 0 4 1 2 # 99 99 Anna Anna\n"}, "unknown token 99 in book_1"),
        ({"objects": "100 Person 99 # A\n100 Org 20 # B\n"}, "Duplicate object id"),
        ({"objects": "100 Person 20 A B\n101 Person 99 # A\n"}, "'#' too early"),
        ({"objects": "100 Person x # A\n101 Person 99 # A\n"}, "Non-numeric span id"),
    ],
)
def test_factrueval_validation_messages(spark, tmp_path, overrides, match):
    fre_negative(spark, tmp_path, match, **overrides)


def test_factrueval_task1_invalid_line_raises(spark, tmp_path):
    from deep_ner_spark.sources.factrueval import load_task1_predictions

    (tmp_path / "book_9.task1").write_text("per 0 4\nxyz 0 4\n")
    with pytest.raises(ValueError, match=r"Invalid \.task1 line in book_9"):
        load_task1_predictions(spark, str(tmp_path))
