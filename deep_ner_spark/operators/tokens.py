"""Turn -> token pipeline (SURVEY §1.3 token rows, §2.5 W5).

``tokenize_turns`` keeps everything turn-local: one ``mapInArrow`` pass
running the featurize kernel's chunk tokenizer
(:func:`deep_ner_spark.operators.features.tokenize_chunk`, one regex split
per chunk of turns); ``token_table`` explodes to the long form used by
relational operators.  No shuffle in either step — posexplode is a narrow
transform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deep_ner_spark.functions.text import normalize_text_col
from deep_ner_spark.operators.features import TOKEN_FIELDS, tokenize_arrow_fn


def tokenize_turns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``norm_text`` + aligned token arrays (tokens/starts/ends).

    Offsets are computed against the normalized text, exactly as the
    reference does (elmo_ner.py:400,463: normalize first, tokenize second) —
    normalization is 1:1 on char length so offsets remain valid.  A null
    text has no tokens.
    """
    base = df.withColumn("norm_text", normalize_text_col(F.col(text_col)))
    out_schema = T.StructType(base.schema.fields + TOKEN_FIELDS.fields)
    return base.mapInArrow(tokenize_arrow_fn, out_schema)


def token_table(df: DataFrame, keep_cols: list[str] | None = None) -> DataFrame:
    """Explode tokenized turns into one row per token with 0-based token_idx.

    The positional index the reference keeps implicitly as a list index
    (elmo_ner.py:972, 504-512) becomes an explicit ``token_idx`` column from
    ``posexplode`` — order within a turn is array order, no window needed.
    """
    keep = keep_cols if keep_cols is not None else ["conv_id", "turn_idx"]
    zipped = F.arrays_zip("tokens", "starts", "ends")
    return df.select(*keep, F.posexplode(zipped).alias("token_idx", "t")).select(
        *keep,
        "token_idx",
        F.col("t.tokens").alias("token"),
        F.col("t.starts").alias("start"),
        F.col("t.ends").alias("end"),
    )
