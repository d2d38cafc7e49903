"""Stage split of jaccard_pairs at the synthetic 50k-doc scale."""
import sys, time
from pathlib import Path
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from deep_ner_spark.session import get_spark
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from deep_ner_spark.compat import local_checkpoint
from deep_ner_spark.operators.dedup import doc_shingles

spark = get_spark("jp-split", master="local[32]")
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext

docs = spark.read.parquet("/tmp/sfsyn1.0/documents.parquet")
docs.count()

def noop(df):
    df.write.format("noop").mode("overwrite").save()

def t(name, thunk, reps=2):
    best = None
    for _ in range(reps):
        t0 = time.time(); thunk(); dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(f"{name:45s} {best:8.3f}s", flush=True)

id_col, text_col, n, threshold = "doc_id", "text", 3, 0.5

sc.setJobDescription("1 shingle long form")
t("1 shingle long form (noop)", lambda: noop(doc_shingles(docs, id_col, text_col, n)))

sh = local_checkpoint(doc_shingles(docs, id_col, text_col, n)); sh.count()

freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
sc.setJobDescription("2 freq")
t("2 freq agg (noop)", lambda: noop(freq))

sids = local_checkpoint(freq.withColumn("sid", F.row_number().over(Window.orderBy("shingle")))); sids.count()
sh_i = sh.join(sids, "shingle").select(id_col, "size", "df", "sid")
sc.setJobDescription("3 sh_i join")
t("3 sh_i dictionary join (noop)", lambda: noop(sh_i))

w = Window.partitionBy(id_col).orderBy("df", "sid")
probe_len = F.col("size") - F.ceil(F.lit(threshold) * F.col("size")) + 1
index_len = F.col("size") - F.ceil(F.lit(2.0*threshold/(1.0+threshold)) * F.col("size")) + 1
prefix_df = (sh_i.withColumn("pos", F.row_number().over(w))
    .where(F.col("pos") <= probe_len)
    .select(id_col, "sid", "pos", "size", (F.col("pos") <= index_len).alias("in_index")))
sc.setJobDescription("4 prefix")
t("4 prefix window (noop)", lambda: noop(prefix_df))

prefix = local_checkpoint(prefix_df); prefix.count()

a = prefix.alias("a"); b = prefix.alias("b")
sa_c, sb_c = F.col("a.size"), F.col("b.size")
aid, bid = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
overlap_needed = F.lit(threshold/(1.0+threshold)) * (sa_c + sb_c)
cand_df = (a.join(b, on="sid")
    .where(F.col("a.in_index"))
    .where((sa_c < sb_c) | ((sa_c == sb_c) & (aid < bid)))
    .where(F.least(sa_c, sb_c) >= F.lit(threshold) * F.greatest(sa_c, sb_c))
    .where(F.least(sa_c - F.col("a.pos"), sb_c - F.col("b.pos")) + 1 >= overlap_needed)
    .select(F.least(aid, bid).alias("id_a"), F.greatest(aid, bid).alias("id_b"))
    .distinct())
sc.setJobDescription("5 cand")
t("5 candidate join+distinct (noop)", lambda: noop(cand_df))
print("   candidates:", cand_df.count(), flush=True)

cand = local_checkpoint(cand_df); cand.count()
cand_ids = (cand.select(F.col("id_a").alias(id_col))
    .union(cand.select(F.col("id_b").alias(id_col))).distinct())
cand_arrays_df = (sh_i.join(cand_ids, id_col)
    .groupBy(id_col, "size").agg(F.collect_list("sid").alias("__sh")))
sc.setJobDescription("6 arrays")
t("6 cand arrays build (noop)", lambda: noop(cand_arrays_df))

cand_arrays = local_checkpoint(cand_arrays_df); cand_arrays.count()
arr_a = cand_arrays.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"), F.col("size").alias("size_a"))
arr_b = cand_arrays.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"), F.col("size").alias("size_b"))
out = (cand.join(F.broadcast(arr_a), "id_a").join(F.broadcast(arr_b), "id_b")
    .select("id_a","id_b","size_a","size_b",
        F.explode(F.array(F.size(F.array_intersect("__sh_a","__sh_b")).cast("long"))).alias("inter"))
    .withColumn("jaccard", F.col("inter")/(F.col("size_a")+F.col("size_b")-F.col("inter")))
    .where(F.col("jaccard") >= threshold))
sc.setJobDescription("7 verify")
t("7 verify joins + intersect (noop)", lambda: noop(out), reps=3)
print("   pairs:", out.count(), flush=True)
