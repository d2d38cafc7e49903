"""brat source (SURVEY S8: utils.py:658-872).

Per document a ``.txt`` (full text) and ``.ann`` (``T<id>\\tTYPE start end\\t
text``) pair.  Reference semantics reproduced by the pure per-document core
(:func:`process_brat_document`):

* every annotation's text must equal the slice (strip-compared);
* overlapping same-type entities resolve by trimming/dropping with a
  warning (utils.py:715-735);
* soft hyphens (U+00AD) are removed and all later offsets shift left —
  the W6 cumulative-offset-shift instance, sequential within a document;
* paragraph mode splits on ``\\n``/``\\r`` runs; an entity straddling a
  boundary is clipped if its stripped text survives, else the document is
  rejected.

Spark shape: ``wholetext`` reads of both extensions + an inner pair-join on
base name (anti-join -> missing-pair error), then one ``applyInPandas``
call per document — documents parallelize, the sequential work never
crosses a document.  Every Spark file source skips a 0-byte file when it
splits the scan, so both sides start from the listed file names and read
``""`` for a file that yields no row: a document without entities keeps
its units, and an empty text file is an empty document, not a missing one.
"""

from __future__ import annotations

import warnings
from typing import Dict, List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deep_ner_spark.obs import named
from deep_ner_spark.operators.windows import number_units


def parse_ann(ann_text: str, full_text: str, name: str = "") -> Dict[str, List[Tuple[int, int]]]:
    """Parse + validate .ann lines against the text (utils.py:683-714)."""
    ents: Dict[str, List[Tuple[int, int]]] = {}
    for line_idx, raw in enumerate(ann_text.splitlines(), start=1):
        line = raw.strip()
        if not line:
            continue
        err = f"File `{name}`: line {line_idx} is wrong!"
        parts = line.split("\t")
        if len(parts) != 3:
            raise ValueError(err)
        desc = parts[1].split()
        if len(desc) != 3:
            raise ValueError(err)
        try:
            start, end = int(desc[1]), int(desc[2])
        except ValueError:
            raise ValueError(err)
        if start < 0 or end <= start or end > len(full_text):
            raise ValueError(err)
        if full_text[start:end].strip() != parts[2].strip():
            raise ValueError(err)
        ents.setdefault(desc[0], []).append((start, end))
    return ents


def resolve_overlaps(
    ents: Dict[str, List[Tuple[int, int]]], name: str = ""
) -> Dict[str, List[Tuple[int, int]]]:
    """Same-type overlap resolution with warning (utils.py:715-735)."""
    out = {}
    for ne_type in sorted(ents):
        bounds = sorted(ents[ne_type])
        i = 1
        while i < len(bounds):
            if bounds[i - 1][1] > bounds[i][0]:
                warnings.warn(
                    f"File `{name}`, entity type `{ne_type}`: bounds of entities are overlapped!"
                )
                if bounds[i - 1][1] >= bounds[i][1]:
                    del bounds[i]
                else:
                    bounds[i] = (bounds[i - 1][1], bounds[i][1])
                    i += 1
            else:
                i += 1
        out[ne_type] = bounds
    return out


def strip_soft_hyphens(
    full_text: str, ents: Dict[str, List[Tuple[int, int]]]
) -> Tuple[str, Dict[str, List[Tuple[int, int]]]]:
    """Remove U+00AD, shifting later offsets (utils.py:737-751; W6)."""
    ents = {t: list(b) for t, b in ents.items()}
    idx = full_text.find("\xad")
    while idx >= 0:
        full_text = full_text[:idx] + full_text[idx + 1:]
        for t in ents:
            for i, (s, e) in enumerate(ents[t]):
                if s > idx:
                    ents[t][i] = (s - 1, e - 1)
                elif e > idx:
                    ents[t][i] = (s, e - 1)
        nxt = full_text.find("\xad", idx)
        idx = nxt
    return full_text, ents


def _clip_to_paragraph(full_text, ents, p0, p1, name):
    out: Dict[str, List[Tuple[int, int]]] = {}
    for t in ents:
        for s, e in ents[t]:
            if s >= p1:
                break
            if e <= p0:
                continue
            cs, ce = max(s, p0), min(e, p1)
            if (cs, ce) != (s, e) and full_text[cs:ce].strip() != full_text[s:e].strip():
                raise ValueError(
                    f"File `{name}`, entity type `{t}`: bounds of entities "
                    f"{(s, e)} are between paragraphs!"
                )
            out.setdefault(t, []).append((cs - p0, ce - p0))
    return out


def process_brat_document(
    full_text: str, ann_text: str, split_by_paragraphs: bool = True, name: str = ""
) -> List[Tuple[str, Dict[str, List[Tuple[int, int]]]]]:
    """Full per-document pipeline -> [(unit_text, entities)]."""
    ents = resolve_overlaps(parse_ann(ann_text, full_text, name), name)
    full_text, ents = strip_soft_hyphens(full_text, ents)
    if not split_by_paragraphs:
        return [(full_text.replace("\n", " ").replace("\r", " "), ents)]
    if "\n" not in full_text and "\r" not in full_text:
        return [(full_text.replace("\n", " ").replace("\r", " "), ents)]
    units = []
    n = len(full_text)
    p0 = 0
    while p0 is not None and p0 < n:
        nl = [i for i in (full_text.find("\n", p0), full_text.find("\r", p0)) if i >= 0]
        p1 = min(nl) if nl else n
        units.append((full_text[p0:p1], _clip_to_paragraph(full_text, ents, p0, p1, name)))
        i = p1
        while i < n and full_text[i] in "\r\n":
            i += 1
        p0 = i if i < n else None
    return units


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("base_name", T.StringType()),
        T.StructField("unit_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ne_type", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
    ]
)


def _read_listed(spark: SparkSession, pattern: str, value_col: str) -> DataFrame:
    """(base_name, value_col): every file ``pattern`` lists, with its whole
    text, or ``""`` for a 0-byte file, which the ``wholetext`` scan skips."""
    read = spark.read.text(pattern, wholetext=True)
    listed = spark.createDataFrame([(p,) for p in read.inputFiles()], "path string")
    return listed.join(
        read.select(F.input_file_name().alias("path"), "value"), "path", "left"
    ).select(
        F.regexp_extract("path", r"([^/]+)\.(txt|ann)$", 1).alias("base_name"),
        F.coalesce("value", F.lit("")).alias(value_col),
    )


@named("brat.load")
def load_brat_dataset(
    spark: SparkSession, data_dir: str, split_by_paragraphs: bool = True
) -> Tuple[DataFrame, DataFrame]:
    """Returns (units, spans) like the other sources.

    units: (sample_id, base_name, unit_idx, text);
    spans: (sample_id, ne_type, start, end).
    """
    import pandas as pd

    txts = _read_listed(spark, f"{data_dir}/*.txt", "full_text")
    anns = _read_listed(spark, f"{data_dir}/*.ann", "ann_text")
    missing = anns.join(txts, "base_name", "left_anti")
    if missing.count() > 0:
        raise ValueError(
            f"Annotation file `{missing.first()['base_name']}.ann` has no text file!"
        )
    pairs = anns.join(txts, "base_name")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, r in pdf.iterrows():
            units = process_brat_document(
                r["full_text"], r["ann_text"], split_by_paragraphs, r["base_name"]
            )
            for ui, (text, ents) in enumerate(units):
                flat = [(t, s, e) for t in ents for s, e in ents[t]]
                if not flat:
                    rows.append((r["base_name"], ui, text, None, None, None))
                for t, s, e in flat:
                    rows.append((r["base_name"], ui, text, t, s, e))
        return pd.DataFrame(rows, columns=[f.name for f in _OUT_SCHEMA.fields])

    per_unit = pairs.mapInPandas(lambda it: (run(p) for p in it), schema=_OUT_SCHEMA)
    units, spans = number_units(
        per_unit.select("base_name", "unit_idx", "text").distinct(),
        per_unit.where(F.col("ne_type").isNotNull()),
        ["base_name", "unit_idx"],
    )
    return units.select("sample_id", "base_name", "unit_idx", "text"), spans
