"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline (broadcast the query side —
it is small by definition), and two approximate variants as the 100TB
scale path: random-hyperplane LSH (bucket join instead of full scan) and
IVF (probe the nearest lists of a codebook fitted by
:func:`fit_ivf_codebook`).  The three top-k operators differ only in the
key they join on; scoring and ranking are one shared tail (:func:`_topk`).
Hyperplanes are always seeded with ``_LSH_SEED``, the seed the driver
oracles embed.  Dot products use built-in higher-order functions
(zip_with + aggregate) — JVM-side, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deep_ner_spark.compat import local_checkpoint
from deep_ner_spark.obs import named

_LSH_SEED = 42
# k-means training-sample size, see fit_ivf_codebook
IVF_SAMPLE_ROWS = 100_000
# largest LSH bucket embedding_near_dup_pairs lets into its self-join
OCCUPANCY_GUARD = 200_000


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def _const_vec(values) -> Column:
    """array<double> literal from Python floats in ONE py4j round-trip.

    ``F.array(*[F.lit(x) for x in vec])`` costs a JVM round-trip per
    element — at 8 centroids x 64 dims x 2 join sides that is ~1.1s of
    pure py4j chatter per ``ivf_cosine_topk`` call, the dominant term of
    the round-7 floor profile.  A single ``F.expr("array(...)")`` ships
    one string and parses JVM-side.  ``repr(float)`` is the shortest
    round-trip decimal and Spark's literal parser returns the nearest
    double, so every element is BIT-IDENTICAL to the per-element path
    (exp-checked) — required by the rank-ordering oracles.  Non-finite
    values (no SQL literal spelling) fall back to the per-element path.
    """
    import math

    vals = [float(x) for x in values]
    if not vals or not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ",".join(repr(v) + "D" for v in vals) + ")")


def _topk(
    data: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    key: tuple[str, Column, Column] | None,
) -> DataFrame:
    """Per-query top-k by cosine over the pairs that share a join key.

    ``key`` is ``(name, data_side, query_side)``: the data side carries one
    key per row and the (broadcast, small) query side may explode to
    several distinct keys, so each (query, neighbor) pair occurs at most
    once and no dedup aggregation (an extra exchange) sits between the join
    and the top-k window.  ``None`` cross-joins (the exact scan).
    Self-pairs are dropped; ties on cosine break by neighbor_id.  Output:
    (query_id, rank, neighbor_id, cosine).
    """
    # norms are hoisted to each join INPUT: the join is a projection
    # barrier, so each side's norm folds once per row instead of once per
    # PAIR (the interpreted aggregate HOF was ~2/3 of the per-pair work).
    # Bit-identical: same expression on the same input, and the final
    # dot/(qn*dn) keeps the operation order of cosine_col.
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            norm_col(F.col(vec_col)).alias("__qn"),
            *([key[2].alias(key[0])] if key else []),
        )
    )
    d = data.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__dv"),
        norm_col(F.col(vec_col)).alias("__dn"),
        *([key[1].alias(key[0])] if key else []),
    )
    pairs = q.join(d, on=key[0]) if key else q.crossJoin(d)
    scored = pairs.where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        (dot_col(F.col("__qv"), F.col("__dv")) / (F.col("__qn") * F.col("__dn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def cosine_topk(
    data: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    queries is broadcast (small side); the scan over data is a single pass
    with no shuffle until the per-query top-k window.  Output:
    (query_id, rank, neighbor_id, cosine).
    """
    return _topk(data, queries, id_col, vec_col, k, None)


def _hyperplanes(dim: int, n_planes: int):
    """Deterministic random hyperplanes (seeded numpy, no wall clock)."""
    import numpy as np

    rng = np.random.default_rng(_LSH_SEED)
    return rng.standard_normal((n_planes, dim)).astype("float32")


def _sign_bucket(dots) -> Column:
    """Bucket id whose bit i is set when ``dots[i] > 0``."""
    bucket = F.lit(0).cast("long")
    for i, d in enumerate(dots):
        bucket = bucket + F.shiftleft((d > 0).cast("long"), i)
    return bucket


def lsh_bucket_col(vec: Column, planes) -> Column:
    """Sign-bit bucket id from dot products with fixed hyperplanes."""
    return _sign_bucket([dot_col(vec, _const_vec(p)) for p in planes])


def lsh_probe_buckets_col(vec: Column, planes, n_probe_buckets: int = 1) -> Column:
    """Multi-probe bucket list: the sign-bit bucket first, then the
    ``n_probe_buckets - 1`` single-bit flips at the planes with the smallest
    absolute margin |dot(vec, plane)| — the standard multi-probe LSH
    construction (a vector near a hyperplane is the one whose neighbors
    plausibly sit on the other side, so those bits are flipped first).

    Ties in |margin| break by plane index (struct field order in
    ``array_sort``), so the probe sequence is deterministic.  All probe
    buckets are distinct by construction (base + distinct single-bit
    flips), so downstream candidate sets need no dedup.  With
    ``n_probe_buckets <= 1`` (or no planes) this is the single-element
    base-bucket array.
    """
    dots = [dot_col(vec, _const_vec(p)) for p in planes]
    bucket = _sign_bucket(dots)
    if n_probe_buckets <= 1 or not len(planes):
        return F.array(bucket)
    margins = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.abs(d).alias("am"),
                    F.lit(1 << i).cast("long").alias("flip"),
                )
                for i, d in enumerate(dots)
            ]
        )
    )
    flips = F.slice(margins, 1, n_probe_buckets - 1)
    return F.concat(
        F.array(bucket),
        F.transform(flips, lambda s: bucket.bitwiseXOR(s["flip"])),
    )


@named("similarity.ivf_fit")
def fit_ivf_codebook(
    data: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    kmeans_iters: int = 0,
    seed: int = 42,
) -> list:
    """Spherical k-means codebook for IVF, trained on a bounded sample.

    At corpus scale an IVF codebook is fit on a SAMPLE (the FAISS-style
    train/add split), so each Lloyd iteration touches ``IVF_SAMPLE_ROWS``-ish
    vectors, never the corpus: assignment = argmax cosine against broadcast
    centroid literals (JVM expression, narrow); recenter = per-(list, dim)
    mean via one small aggregation whose output is n_lists x dim rows —
    driver traffic is the codebook itself, nothing corpus-sized.

    The seed codebook is the ``n_lists`` lowest-id vectors of the training
    sample (of ``data`` itself when ``kmeans_iters=0``), read with an
    ordered limit: Catalyst plans it as TakeOrderedAndProject (per-partition
    top-k, then a driver merge of n_lists rows), so nothing sorts or
    range-partitions the corpus.  Empty lists keep their previous centroid.
    Returns a plain list of ``n_lists`` float lists.
    """

    def seed_codebook(frame: DataFrame) -> list:
        rows = frame.orderBy(id_col).select(vec_col).limit(n_lists).collect()
        if len(rows) < n_lists:
            raise ValueError(f"not enough vectors ({len(rows)}) for {n_lists} lists")
        return [list(r[0]) for r in rows]

    if kmeans_iters == 0:
        # seed codebook only: no corpus-sized count() pass (the count only
        # sizes the training sample fraction for Lloyd iterations)
        return seed_codebook(data)
    n_data = data.count()
    frac = min(1.0, IVF_SAMPLE_ROWS / max(n_data, 1))
    sample = data.select(id_col, vec_col)
    # checkpointed: every iteration reads it
    sample = local_checkpoint(sample if frac >= 1.0 else sample.sample(frac, seed=seed))
    cents = seed_codebook(sample)
    dim = len(cents[0])
    for _ in range(kmeans_iters):
        assign = F.array(
            *[
                F.struct(
                    cosine_col(F.col(vec_col), _const_vec(c)).alias("s"),
                    F.lit(i).alias("list_id"),
                )
                for i, c in enumerate(cents)
            ]
        )
        best = F.transform(
            F.slice(F.reverse(F.array_sort(assign)), 1, 1), lambda s: s["list_id"]
        ).getItem(0)
        # two selects: a generator (posexplode) in the same projection as
        # the struct-lambda makes the analyzer lose the struct field names
        means = (
            sample.select(best.alias("__list"), F.col(vec_col))
            .select("__list", F.posexplode(vec_col).alias("__d", "__v"))
            .groupBy("__list", "__d")
            .agg(F.avg("__v").alias("m"))
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty lists keep old centroid
        by_list: dict = {}
        for r in means:
            by_list.setdefault(int(r["__list"]), [0.0] * dim)[int(r["__d"])] = float(r["m"])
        for li, vec in by_list.items():
            new_cents[li] = vec
        cents = new_cents
    return cents


def ivf_cosine_topk(
    data: DataFrame,
    queries: DataFrame,
    codebook: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantize to centroid lists,
    probe the query's ``n_probe`` nearest lists only.

    ``codebook`` is a list of centroid vectors from :func:`fit_ivf_codebook`
    — the FAISS train-once/add-many split: fitting is a separate, cacheable
    step, and at corpus scale the same codebook serves every probe batch
    without retraining.  There are ``len(codebook)`` lists.  Assignment =
    argmax cosine to a centroid — computed JVM-side against broadcast
    centroid literals, so both the build and the probe are single narrow
    passes; the probe join touches ~n_probe/len(codebook) of the corpus
    instead of all of it.  With ``n_probe == len(codebook)`` the result
    equals the exact top-k REGARDLESS of the codebook (every list probed)
    — the property the driver oracle checks.  Same output schema as
    cosine_topk.
    """
    # the sorted (score, list_id) array is built ONCE and the same Column
    # object reused by both sides of the join (both read ``vec_col``):
    # column construction is py4j-bound (round-7 profile — ~0.5s per copy
    # at 8x64 dims), and the d/q assignment trees are identical
    scored_lists = F.reverse(
        F.array_sort(
            F.array(
                *[
                    F.struct(
                        cosine_col(F.col(vec_col), _const_vec(c)).alias("s"),
                        F.lit(i).alias("list_id"),
                    )
                    for i, c in enumerate(codebook)
                ]
            )
        )
    )
    # a data row carries exactly ONE list id and a query's probe lists are
    # distinct by construction
    return _topk(
        data,
        queries,
        id_col,
        vec_col,
        k,
        (
            "__list",
            scored_lists.getItem(0)["list_id"],
            F.explode(F.transform(F.slice(scored_lists, 1, n_probe), lambda s: s["list_id"])),
        ),
    )


@named("similarity.near_dup")
def embedding_near_dup_pairs(
    data: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family, brief item).

    Candidates share a hyperplane-LSH bucket (near-identical vectors almost
    surely do; exact duplicates always do), then the exact cosine filter
    applies.  Self-join happens bucket-locally — never a cross join.
    Output: (id_a, id_b, cosine), id_a < id_b.  The slim bucket projection
    is checkpointed, so its n_planes dot products are computed once instead
    of once per self-join side.

    Occupancy guard: the bucket-local self-join is O(sum_i b_i^2), so it
    stops being subquadratic once buckets outgrow 2^n_planes' ability to
    spread the corpus (n_planes must grow like log2(N / target_bucket)).
    Before building pairs, one cheap agg over the (checkpointed) slim
    (id, bucket) projection checks the largest bucket; if it exceeds
    ``OCCUPANCY_GUARD`` the call raises with the n_planes value that would
    bound buckets near it — the same keep-it-subquadratic role the
    prefix-membership bound plays in jaccard_pairs.  NOTE: the check is an
    EAGER Spark job at call time (this function is otherwise a lazy plan
    builder), and in a session without localCheckpoint it costs one extra
    evaluation of the bucket projection.
    """
    planes = _hyperplanes(dim, n_planes)
    b = lsh_bucket_col(F.col(vec_col), planes)
    # the per-row norm rides the (checkpointed) slim projection: the
    # bucket-local self-join then pays one dot HOF per pair instead of
    # dot + two norm folds (bit-identical, see _topk)
    tagged = local_checkpoint(
        data.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm_col(F.col(vec_col)).alias("__n"),
            b.alias("__bucket"),
        )
    )
    occ = (
        tagged.groupBy("__bucket")
        .count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("n"))
        .first()
    )
    biggest, total = int(occ["mx"] or 0), int(occ["n"] or 0)
    if biggest > OCCUPANCY_GUARD:
        import math

        want = n_planes + max(1, math.ceil(math.log2(biggest / OCCUPANCY_GUARD)))
        raise ValueError(
            f"embedding_near_dup_pairs: largest LSH bucket holds "
            f"{biggest} of {total} rows (> OCCUPANCY_GUARD="
            f"{OCCUPANCY_GUARD}); the bucket-local self-join would be "
            f"effectively quadratic.  Raise n_planes to ~{want} "
            f"(planes should grow like log2(N/target_bucket_size))."
        )
    a = tagged.alias("a")
    c = tagged.alias("b")
    pairs = (
        a.join(c, on="__bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (
                dot_col(F.col("a.v"), F.col("b.v"))
                / (F.col("a.__n") * F.col("b.__n"))
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    return pairs


def lsh_cosine_topk(
    data: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_probe_buckets: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share one of the query's probe buckets.

    At 100TB the full scan per query is off the table; this probes the
    query's own hyperplane bucket plus, with ``n_probe_buckets > 1``, the
    standard multi-probe extension — the single-bit-flip neighbor buckets
    at the planes with the smallest |margin| (see
    :func:`lsh_probe_buckets_col`).  Multi-probe raises recall for
    borderline vectors WITHOUT re-bucketing the corpus: the data side still
    carries exactly one bucket per vector, only the (tiny, broadcast) query
    side fans out, so the probe cost scales with
    ``n_probe_buckets / 2^n_planes`` of the corpus per query.  Recall tunes
    via n_planes (bucket granularity) x n_probe_buckets (probe width).
    Same output schema as cosine_topk.
    """
    planes = _hyperplanes(dim, n_planes)
    return _topk(
        data,
        queries,
        id_col,
        vec_col,
        k,
        (
            "__bucket",
            lsh_bucket_col(F.col(vec_col), planes),
            F.explode(lsh_probe_buckets_col(F.col(vec_col), planes, n_probe_buckets)),
        ),
    )
