"""Round-8 profiling: per-stage timing of the two dominant sf1.0 floors.

r7 driver measurement at sf1.0: jaccard_pairs 47.3s, flagship_featurize
39.7s — together 88% of the 99s floor total.  Break each into sub-stage
timings (noop-sink isolated) so optimization targets the real cost.

Run: python tools/profile_r8.py [sf_dir]   (default /root/testdata/sf1.0)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf1.0"


def t(name, thunk, reps=2):
    best = None
    for _ in range(reps):
        t0 = time.time()
        thunk()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(f"  {name:50s} {best:8.3f}s", flush=True)
    return best


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    from pyspark.sql import functions as F

    import bench
    import __spark_entry__ as e
    from deep_ner_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    spark = get_spark("profile-r8", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    qs = e.queries()

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.count()

    # ---------------- jaccard_pairs stage split ----------------
    from deep_ner_spark.compat import local_checkpoint
    from deep_ner_spark.operators.dedup import doc_shingles, jaccard_pairs
    from pyspark.sql.window import Window

    print(f"== jaccard_pairs @ {SF} ==", flush=True)
    sc.setJobDescription("jp: warm full")
    t("full query (count, as bench)", lambda:
      qs["jaccard_pairs"](spark, SF).count(), reps=3)

    id_col, text_col, n, threshold = "doc_id", "text", 3, 0.5

    sc.setJobDescription("jp: shingle long-form")
    sh_plain = doc_shingles(docs, id_col, text_col, n)
    t("1 shingle long-form (noop, no ckpt)", lambda: noop(sh_plain))
    sh = local_checkpoint(doc_shingles(docs, id_col, text_col, n))
    t("1b shingle localCheckpoint materialize", lambda: sh.count(), reps=1)

    sc.setJobDescription("jp: freq+rank+prefix")
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = sh.join(freq, "shingle")
    w = Window.partitionBy(id_col).orderBy("df", "shingle")
    prefix_plain = (
        ranked.withColumn("pos", F.row_number().over(w)).where(
            F.col("pos")
            <= F.col("size") - F.ceil(F.lit(threshold) * F.col("size")) + 1
        ).select(id_col, "shingle", "pos", "size")
    )
    t("2 freq join + window + prefix filter (noop)", lambda: noop(prefix_plain))
    prefix = local_checkpoint(prefix_plain)
    t("2b prefix localCheckpoint materialize", lambda: prefix.count(), reps=1)

    a = prefix.alias("a")
    b = prefix.alias("b")
    sa_c, sb_c = F.col("a.size"), F.col("b.size")
    overlap_needed = F.lit(threshold / (1.0 + threshold)) * (sa_c + sb_c)
    cand = (
        a.join(b, on="shingle")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .where(F.least(sa_c, sb_c) >= F.lit(threshold) * F.greatest(sa_c, sb_c))
        .where(
            F.least(sa_c - F.col("a.pos"), sb_c - F.col("b.pos")) + 1
            >= overlap_needed
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sc.setJobDescription("jp: candidate self-join")
    t("3 candidate self-join + distinct (noop)", lambda: noop(cand))
    n_cand = cand.count()
    print(f"    candidates: {n_cand}")

    cand_m = local_checkpoint(cand)
    cand_m.count()
    cand_ids = (
        cand_m.select(F.col("id_a").alias(id_col))
        .union(cand_m.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_arrays = local_checkpoint(
        sh.join(cand_ids, id_col)
        .groupBy(id_col, "size")
        .agg(F.collect_list("shingle").alias("__sh"))
    )
    sc.setJobDescription("jp: verify arrays")
    t("4 cand arrays build (count)", lambda: cand_arrays.count(), reps=1)
    arr_a = cand_arrays.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"),
        F.col("size").alias("size_a"))
    arr_b = cand_arrays.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"),
        F.col("size").alias("size_b"))
    verify = (
        cand_m.join(arr_a, "id_a").join(arr_b, "id_b")
        .withColumn("inter",
                    F.size(F.array_intersect("__sh_a", "__sh_b")).cast("long"))
        .withColumn("jaccard", F.col("inter") /
                    (F.col("size_a") + F.col("size_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
    )
    sc.setJobDescription("jp: verify join")
    t("5 verify joins + array_intersect (noop)", lambda: noop(verify))
    print(f"    pairs out: {verify.count()}")

    # ---------------- flagship stage split ----------------
    print(f"== flagship_featurize (bench transcripts for {SF}) ==", flush=True)
    from deep_ner_spark.operators.asof import asof_join
    from deep_ner_spark.operators.features import (
        featurize_fused, fit_shape_vocab_from_text)
    from deep_ner_spark.operators.windows import (
        forward_fill, lag_lead, sessionize)
    from deep_ner_spark.pipeline import featurize_transcripts

    # bench module computed _SF from env; reuse its transcript generator
    bench.ensure_transcripts(spark)
    base = bench.transcripts_path()
    transcripts = spark.read.parquet(f"{base}/transcripts.parquet")
    state = spark.read.parquet(f"{base}/entity_state.parquet")
    print(f"    turns={transcripts.count()} state={state.count()}")

    sc.setJobDescription("fs: warm")
    warm, _ = featurize_transcripts(
        transcripts.sample(0.05, seed=1), state.sample(0.05, seed=1),
        max_seq_length=32, emb_dim=16, state_seq_col="state_seq")
    warm.select(F.sum(F.length("features")), F.sum("session_id"),
                F.sum(F.crc32(F.col("state").cast("string")))).collect()

    def full():
        out, _ = featurize_transcripts(
            transcripts, state, max_seq_length=32, emb_dim=16,
            state_seq_col="state_seq")
        return out.select(
            F.count("*").alias("n"),
            F.sum(F.length("features")).alias("feat_bytes"),
            F.sum(F.crc32(F.col("norm_text"))).alias("chk"),
            F.sum("n_tokens").alias("tok"),
            F.sum(F.crc32(F.col("state").cast("string"))).alias("state_chk"),
            F.sum("session_id").alias("sess_chk"),
            F.sum(F.crc32("role_ffill")).alias("role_chk"),
            F.sum("tool_ffill").alias("tool_chk"),
            F.sum("n_tokens_lag1").alias("lag_chk"),
            F.sum("n_tokens_lead1").alias("lead_chk"),
        ).collect()
    sc.setJobDescription("fs: full")
    try:
        t("full flagship (bench agg)", full, reps=3)
    except Exception as ex:
        print(f"    full flagship agg variant failed: {ex}")

    sc.setJobDescription("fs: vocab fit")
    t("1 fit_shape_vocab_from_text", lambda:
      fit_shape_vocab_from_text(transcripts), reps=2)
    vocab = fit_shape_vocab_from_text(transcripts)
    print(f"    vocab size: {len(vocab)}")

    # slim phase only (asof + windows, no Python)
    def slim_phase():
        st = state.withColumnRenamed("entity_id", "conv_id")
        slim = asof_join(
            transcripts, st.select("conv_id", "ts", "state", "state_seq"),
            key_cols=["conv_id"], ts_col="ts", state_cols=["state"],
            seq_col="turn_idx", state_seq_col="state_seq")
        slim = sessionize(slim, ["conv_id"], "ts", 1800.0,
                          order_cols=["turn_idx"])
        slim = forward_fill(slim, ["conv_id"], ["turn_idx"], ["role", "tool"])
        slim = slim.withColumn(
            "n_tokens",
            F.least(F.regexp_count(F.col("text"),
                                   F.lit(r"(?U)\w+|[^\w\s]")),
                    F.lit(32)).cast("int"))
        slim = lag_lead(slim, ["conv_id"], ["turn_idx"], ["n_tokens"],
                        offsets=(1,))
        return slim
    sc.setJobDescription("fs: slim phase")
    t("2 slim phase (asof+windows, noop)", lambda: noop(slim_phase()))

    # featurize over the slim phase, consumed via the same agg
    def featurize_only():
        feats = featurize_fused(slim_phase(), vocab, 32, 16)
        return feats.select(
            F.count("*"), F.sum(F.length("features")),
            F.sum(F.crc32(F.col("norm_text"))), F.sum("n_tokens"),
        ).collect()
    sc.setJobDescription("fs: featurize")
    t("3 slim+featurize+agg (no state/session checks)", featurize_only, reps=2)

    spark.stop()


if __name__ == "__main__":
    main()
