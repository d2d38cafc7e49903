"""A/B the cand_arrays build at sf1.0-like volumes.

Shapes from the round-8 jaccard profile at the driver's sf1.0 (50k docs):
sh_i ~4.7M rows (50k ids x ~94 sids), cand ~18.5M distinct pairs.

old: ids = union(cand.id_a, cand.id_b).distinct(); sh_i JOIN ids (inner)
new: ids = union (non-distinct);                    sh_i JOIN ids (semi)
"""
import sys, time
from pathlib import Path
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from deep_ner_spark.session import get_spark
from pyspark.sql import functions as F

spark = get_spark("ab-semi", master="local[32]")
spark.sparkContext.setLogLevel("ERROR")

N_DOCS = 50_000
SH_PER = 94
N_CAND = 18_500_000

sh_i = (
    spark.range(N_DOCS * SH_PER)
    .select(
        (F.col("id") % N_DOCS).alias("doc"),
        F.lit(SH_PER).alias("size"),
        (F.col("id") * 2654435761 % 28000).cast("int").alias("sid"),
    )
).localCheckpoint(eager=True)

cand = (
    spark.range(N_CAND)
    .select(
        (F.xxhash64("id") % N_DOCS).alias("id_a"),
        (F.xxhash64("id", F.lit(1)) % N_DOCS).alias("id_b"),
    )
    .where(F.col("id_a") != F.col("id_b"))
).localCheckpoint(eager=True)
print("cand rows:", cand.count(), flush=True)

def noop(df):
    df.write.format("noop").mode("overwrite").save()

def old_path():
    ids = (
        cand.select(F.col("id_a").alias("doc"))
        .union(cand.select(F.col("id_b").alias("doc")))
        .distinct()
    )
    return (
        sh_i.join(ids, "doc")
        .groupBy("doc", "size")
        .agg(F.collect_list("sid").alias("__sh"))
    )

def new_path():
    ids = cand.select(F.col("id_a").alias("doc")).union(
        cand.select(F.col("id_b").alias("doc"))
    )
    return (
        sh_i.join(ids, "doc", "semi")
        .groupBy("doc", "size")
        .agg(F.collect_list("sid").alias("__sh"))
    )

for name, fn in [("old distinct+inner", old_path), ("new semi", new_path)] * 2:
    t0 = time.time()
    noop(fn())
    print(f"{name:22s} {time.time()-t0:7.3f}s", flush=True)
