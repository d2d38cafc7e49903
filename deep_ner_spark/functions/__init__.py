from deep_ner_spark.functions.text import (  # noqa: F401
    normalize_text_col,
    shape_udf,
)
