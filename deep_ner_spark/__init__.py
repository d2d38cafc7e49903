"""deep_ner_spark — a PySpark-native point-in-time feature-engineering engine
with the data-processing capabilities of bond005/deep_ner, rebuilt Spark-first
(DataFrame + Window + Arrow pandas UDFs; no per-row Python, no RDDs)."""

__version__ = "0.1.0"

# every library closure unpickled in a Python worker imports this package,
# so the per-task zip-directory re-read fix rides along to the workers
from deep_ner_spark import _zipcache

_zipcache.install()
