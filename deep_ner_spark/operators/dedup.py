"""Deduplication operators for large-scale text corpora.

All-builtin implementations (JVM-side, codegen'd) of the standard dedup
family: exact hash, n-gram Jaccard, MinHash+LSH banding, SimHash.  Hash
functions are md5-based so results are engine-portable (the DuckDB oracle
computes the identical signatures) and stable across runs/cluster sizes —
no PYTHONHASHSEED, no xxhash seeds.

Scale notes: every operator is a shingle-explode + hash-aggregate — the
shuffle key is the shingle/bucket hash, which is uniformly distributed, so
no skew handling is needed.  Candidate generation (LSH bands / shared
shingles) keeps pair enumeration off the full cross product: pairs exist
only within a bucket, and bucket sizes are bounded by construction at any
corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deep_ner_spark.compat import CONNECT_ERRS, local_checkpoint, spread_small_scan
from deep_ner_spark.functions.text import tokens_col
from deep_ner_spark.obs import named

# past this many candidate documents the verify joins shuffle instead of
# broadcasting the per-doc shingle-id arrays (~0.5 GB at web-doc shingle
# counts)
VERIFY_BROADCAST_MAX_DOCS = 500_000
# connected_components raises after this many label-propagation rounds
# without convergence (see its docstring for measured round counts)
CC_MAX_ROUNDS = 100


def _word_grams(toks: Column, n: int) -> Column:
    """Word n-grams, with multiplicity, of a PRE-PROJECTED token array.

    ``toks`` must be a bound attribute (project the token array into its
    own column in a prior select): each gram then reads it via O(1)
    ``element_at``.  This matters twice over — an INLINE token expression
    referenced n times per gram is re-evaluated n times per element by
    the interpreted HOF chain, and the older ``slice(toks, i+1, n)`` form
    allocated a 3-array per gram.  Measured on the 50k-doc sf:
    pre-projected element_at 0.35s vs slice+concat_ws 1.64s vs inline
    element_at 3.1s for the identical output.

    Ungated: for an array shorter than n, ``sequence(1, neg)`` counts
    DOWN in Spark, so callers gate on ``size(toks) >= n``.
    """
    idx = F.sequence(F.lit(1), F.size(toks) - n + 1)
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)]),
    )


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a PRE-PROJECTED token array
    (:func:`_word_grams`); docs shorter than n tokens have none."""
    return F.when(
        F.size(toks) >= n, F.array_distinct(_word_grams(toks, n))
    ).otherwise(F.array().cast("array<string>"))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by md5(text): (text_hash, n_copies, doc_ids)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str, order_col: str) -> DataFrame:
    """Keep the first (lowest order_col) row per distinct text hash."""
    return (
        df.withColumn("__h", F.md5(F.col(text_col)))
        .groupBy("__h")
        .agg(F.min_by(F.struct(*df.columns), F.col(order_col)).alias("r"))
        .select("r.*")
    )


def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, size, shingle) long form — the substrate for jaccard/minhash;
    ``size`` is the doc's distinct-shingle count (0-shingle docs drop out).

    Physical notes (each measured ~4-8x on the shingle stage):
    * the shingle array must be computed exactly ONCE: a plain
      ``explode`` triggers InferFiltersFromGenerate, whose ``size(arr) > 0
      AND isnotnull(arr)`` filter is pushed below the projection and
      re-evaluates the (interpreted, non-codegen) higher-order-function
      chain 3x per row — ``explode_outer`` infers no filter, and the cheap
      null check on the OUTPUT attribute replaces it;
    * ``size`` is projected in a SECOND select so it references the array
      attribute — CollapseProject keeps non-cheap aliases used twice, so
      the array is not inlined into the size expression;
    * a small scan (fewer splits than cores) is repartitioned on the slim
      (id, text) columns first so the expensive projection parallelizes
      (:func:`~deep_ner_spark.compat.spread_small_scan`).
    """
    docs = spread_small_scan(df.select(F.col(id_col), F.col(text_col).alias("__text")))
    base = docs.select(
        F.col(id_col), tokens_col(F.col("__text")).alias("__toks")
    ).select(
        F.col(id_col), shingles_of_tokens(F.col("__toks"), n).alias("__sh")
    ).select(id_col, "__sh", F.size("__sh").alias("size"))
    return base.select(
        id_col, "size", F.explode_outer("__sh").alias("shingle")
    ).where(F.col("shingle").isNotNull())


@named("dedup.jaccard")
def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity — EXACT; PPJoin
    prefix filtering only prunes candidate generation.

    J(x,y) >= t implies |x ∩ y| >= ceil(t*|x|), so a qualifying pair shares
    a shingle among each side's first |x| - ceil(t*|x|) + 1 shingles in a
    global rare-shingle-first order.  Candidate generation is ASYMMETRIC
    (the PPJoin indexing/probing split, Xiao et al. WWW'08): per pair the
    lesser side by (size, id) only needs its first
    |x| - ceil(2t/(1+t)*|x|) + 1 shingles ("index prefix") — if every
    common shingle sat deeper, overlap < 2t/(1+t)*|x| <= the required
    t/(1+t)*(|x|+|y|) since |y| >= |x| — which cuts the candidate join ~35%
    over symmetric prefixes.  Candidates are further pruned by PPJoin's
    length filter (min(|x|,|y|) >= t*max(|x|,|y|)) and positional filter
    (for the matched prefix shingle at 0-based positions (pa, pb), overlap
    <= min(|x|-pa, |y|-pb), which must reach the Jaccard-equivalent
    overlap t/(1+t)*(|x|+|y|); the first common shingle of a qualifying
    pair always survives all three filters, so recall stays exact).  On a
    web-scale corpus a stop-shingle's join group no longer scales with the
    number of documents containing it, only with the number whose PREFIX
    contains it.

    Output: (id_a, id_b, inter, size_a, size_b, jaccard), id_a < id_b.

    One per-document frame ``(id, size, __sh)`` carries the whole global
    order: ``__sh`` is the document's shingle ids sorted by (df, sid).  The
    probe prefix is ``slice(__sh, 1, probe_len)``, posexploded with its
    0-based position, and the verify joins the candidates back to that same
    frame — PPJoin's prefix and verification read one object, each record's
    tokens in one global order.

    Three checkpointed frames (:func:`~deep_ner_spark.compat.local_checkpoint`):
    the shingle, dictionary and per-document frames each feed more than one
    consumer (the per-document frame feeds BOTH sides of the candidate
    self-join and both verify joins), and Spark would otherwise duplicate
    the whole upstream plan (scan -> shingle -> freq join -> collect) per
    consumer — checkpointing computes each intermediate once (measured ~2x
    end-to-end).  The candidate frame has one consumer and is not
    checkpointed.

    Verification physics (r8, measured at a 50k-doc sf with a SATURATED
    shingle space — 28k distinct shingles, mean df 94, 18.5M candidates
    for 2.5k true pairs): shipping per-candidate STRING shingle arrays
    through two sort-merge joins cost 52.9s — the arrays dominated every
    exchange and ``array_intersect`` re-hashed ~100 strings per pair.  Two
    changes, exact by construction, took it to 7.8s:

    * shingles are dictionary-encoded to ints (``monotonically_increasing_id``
      over the checkpointed distinct-shingle frame; the bijection makes
      int-array intersection counts equal string-set intersection counts).
    * the per-doc array side is BROADCAST when it has at most
      ``VERIFY_BROADCAST_MAX_DOCS`` rows (every document with at least one
      shingle, candidate or not): candidates then flow through two
      broadcast hash joins with no exchange at all.  Catalyst's own size
      estimate for a collect_list aggregate is far above threshold, so the
      hint is explicit; past the cap the shuffle join keeps working at any
      scale.
    """
    # at t <= 0 a pair sharing no shingle qualifies yet is never a
    # candidate; past 1 the prefix length goes negative
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # doc_shingles carries the per-doc size narrowly (no groupBy pass) and
    # evaluates the shingle HOF exactly once per row
    sh = local_checkpoint(doc_shingles(df, id_col, text_col, n))

    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    # int dictionary: any injective sid makes (df, sid) a fixed global
    # rare-first order, which is all the prefix filter needs
    sids = local_checkpoint(freq.withColumn("sid", F.monotonically_increasing_id()))
    # one row per doc: its shingle ids in that order (shingle sets are
    # distinct by construction, so the array is the doc's set)
    docs = local_checkpoint(
        sh.join(sids, "shingle")
        .groupBy(id_col, "size")
        .agg(F.array_sort(F.collect_list(F.struct("df", "sid"))).alias("__ord"))
        .select(id_col, "size", F.transform("__ord", lambda s: s["sid"]).alias("__sh"))
    )

    probe_len = F.col("size") - F.ceil(F.lit(threshold) * F.col("size")) + 1
    index_len = (
        F.col("size")
        - F.ceil(F.lit(2.0 * threshold / (1.0 + threshold)) * F.col("size"))
        + 1
    )
    # pos is 0-based: the shingle at pos has size - pos shingles from it on
    prefix = docs.select(
        id_col, "size", F.posexplode(F.slice("__sh", 1, probe_len)).alias("pos", "sid")
    ).withColumn("in_index", F.col("pos") < index_len)
    a = prefix.alias("a")  # index side: lesser (size, id)
    b = prefix.alias("b")  # probe side
    sa_c, sb_c = F.col("a.size"), F.col("b.size")
    aid, bid = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    overlap_needed = F.lit(threshold / (1.0 + threshold)) * (sa_c + sb_c)
    cand = (
        a.join(b, on="sid")
        # asymmetric prefix: the (size, id)-lesser side must match
        # within its shorter index prefix
        .where(F.col("a.in_index"))
        .where((sa_c < sb_c) | ((sa_c == sb_c) & (aid < bid)))
        # length filter: min size must reach t * max size
        .where(F.least(sa_c, sb_c) >= F.lit(threshold) * F.greatest(sa_c, sb_c))
        # positional filter: remaining-suffix overlap bound
        .where(F.least(sa_c - F.col("a.pos"), sb_c - F.col("b.pos")) >= overlap_needed)
        .select(F.least(aid, bid).alias("id_a"), F.greatest(aid, bid).alias("id_b"))
        .distinct()
    )
    # exact verification: JVM array_intersect on the two shingle-id arrays
    # of the frame the prefix read.  Broadcast the (checkpointed, hence
    # cheaply countable) array side when small: candidates then never
    # enter an exchange
    bcast = docs.count() <= VERIFY_BROADCAST_MAX_DOCS
    wrap = F.broadcast if bcast else (lambda d: d)
    arr_a = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("__sh").alias("__sh_a"),
        F.col("size").alias("size_a"),
    )
    arr_b = docs.select(
        F.col(id_col).alias("id_b"),
        F.col("__sh").alias("__sh_b"),
        F.col("size").alias("size_b"),
    )
    # explode(array(x)) is a Generate BARRIER: the downstream jaccard
    # filter cannot be pushed below a generator's output, so the
    # intersection is evaluated exactly ONCE per pair.  Without it,
    # PushDownPredicate inlines the filter into the broadcast join's
    # condition and the plan carries THREE array_intersect copies
    # (2x in the join condition + 1x in the project) — measured
    # 7.4s -> 3.9s on 18.5M candidates at the 50k-doc sf.
    out = (
        cand.join(wrap(arr_a), "id_a")
        .join(wrap(arr_b), "id_b")
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            F.explode(
                F.array(F.size(F.array_intersect("__sh_a", "__sh_b")).cast("long"))
            ).alias("inter"),
        )
    )
    out = out.withColumn(
        "jaccard",
        F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
    ).where(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")


@named("dedup.cc")
def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over an undirected pair list: (id, cluster_id),
    where cluster_id is the component's minimum node id.

    The input ``pairs`` is any near-dup pair frame (jaccard_pairs,
    lsh_candidate_pairs, hamming_near_pairs, embedding_near_dup_pairs);
    ``nodes`` supplies the full id universe so isolated documents come back
    as their own singleton cluster.

    Algorithm: hash-min label propagation with pointer jumping.  Each round
    does (1) neighbor-min — every node takes the min of its own label and
    its neighbors' labels (one join keyed on the uniformly-distributed node
    id + one map-side-combined min agg), then (2) pointer jumping —
    ``lab <- lab(lab)``, one self-join.  The jump speeds propagation but
    does not bound the rounds by log(diameter): when ids are not ordered
    along the graph, the rounds grow with the diameter.  Replayed in NumPy
    over 30 shuffles each, paths need up to 23 rounds at 30 nodes, 33 at
    40, 55 at 60 and 61 at 100 (hence ``CC_MAX_ROUNDS`` = 100), and
    10k-node random recursive trees 13-30; near-dup graphs are mostly
    short-diameter, where 2-4 rounds is typical.  No step enumerates
    a component's cross product, and every shuffle is keyed on node ids or
    label values — skewed (giant) components cost nothing extra because a
    component is never collected onto one task.

    Convergence detection is edge agreement: the round's one action counts
    the edges whose two endpoints carry different labels, and the loop
    stops at 0.  That is exact, because two invariants hold in every round:
    a label is always the id of a node in the node's own component (a
    neighbor's label or the label of its label's node), and it is never
    larger than the node's own id (it starts there and only takes minima).
    When labels agree on every edge, all nodes of a component carry one
    label L; L is an id of that component, so L >= its minimum id, and L
    is at most every node's own id, so L <= its minimum id.  Hence L is
    the component minimum, with no confirming extra round.  An edge to an
    id absent from ``nodes`` joins no label and is ignored, as by the
    propagation itself.  If ``CC_MAX_ROUNDS`` rounds pass with edges still
    disagreeing, the call raises ``RuntimeError`` rather than return split
    clusters.

    Each round checkpoints the new label frame so lineage does not grow
    across rounds, and then rebuilds it as a fresh relation over the
    checkpointed rows.  A checkpoint keeps the optimizer's size estimate of
    the plan it replaced, and that plan joins the labels with themselves,
    so the inherited estimate squared every round: on a 60-node path the
    checkpoint call took 0.3-0.5 s through round 15, then 1.2, 1.9, 4.3,
    11.4 and 27.4 s at rounds 16-20 (``local[4]``).
    """
    # node and pair ids share one integral label domain: every round joins
    # pair ids against node ids, and a string id on one side meets an
    # integral one through an implicit cast that turns a non-numeric string
    # into NULL (ANSI off), silently dropping its edges — fail fast instead
    # (hash string ids to long, e.g. xxhash64, before calling)
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType)
    id_type = {f.name: f.dataType for f in nodes.schema.fields}.get(id_col)
    if not isinstance(id_type, integral):
        raise TypeError(
            f"connected_components needs an integral id column; {id_col!r} "
            f"is {id_type} — hash it to long (e.g. F.xxhash64) first"
        )
    # guard both pair sides, not just the node frame
    pair_types = {f.name: f.dataType for f in pairs.schema.fields}
    for side in (id_a, id_b):
        if not isinstance(pair_types.get(side), integral):
            raise TypeError(
                f"connected_components needs integral pair ids; {side!r} "
                f"is {pair_types.get(side)} — hash it to long "
                f"(e.g. F.xxhash64) first"
            )
    # symmetrize with ONE reference to `pairs` (explode doubles the rows
    # in-place) instead of a two-branch union: the input pair frame is
    # usually a lazy verify subplan (jaccard_pairs' candidate x array
    # joins), and a union would recompute it once per branch when the
    # edge checkpoint below materializes — measured at a 50k-doc corpus:
    # warm dup_clusters 28.9s via union vs ~21s with a single reference
    # (the jaccard itself is 13.3s, CC on materialized pairs 4.4s).
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst")
    edges = local_checkpoint(edges)
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("lab")
    )
    for _ in range(CC_MAX_ROUNDS):
        # (1) neighbor-min.  (Round-7 note: a union+groupBy fold of this
        # join+coalesce was tried and is SLOWER — the left join lets AQE
        # broadcast the small nmin side and keep the label frame narrow,
        # while a union forces both branches through a full exchange.  The
        # edge-agreement count below is fused into this round's single
        # action via the lazy checkpoint; the residual per-round cost is
        # AQE stage-materialization job latency, measured ~6 jobs/round at
        # fixture scale.)
        lab_of = labels.select(
            F.col("id").alias("dst"), F.col("lab").alias("nlab")
        )
        nmin = (
            edges.join(lab_of, "dst")
            .groupBy("src")
            .agg(F.min("nlab").alias("nlab"))
            .withColumnRenamed("src", "id")
        )
        merged = labels.join(nmin, "id", "left").select(
            "id",
            F.least(F.col("lab"), F.coalesce("nlab", F.col("lab"))).alias("lab"),
        )
        # (2) pointer jumping: lab <- lab(lab) (labels are always node ids,
        # so the lookup always hits; left join is belt-and-braces)
        parent = merged.select(
            F.col("id").alias("lab"), F.col("lab").alias("plab")
        )
        jumped = merged.join(parent, "lab", "left").select(
            "id",
            F.least(F.col("lab"), F.coalesce("plab", F.col("lab"))).alias("lab"),
        )
        labels = _fresh_relation(local_checkpoint(jumped))
        src_lab = labels.select(F.col("id").alias("src"), F.col("lab").alias("ls"))
        dst_lab = labels.select(F.col("id").alias("dst"), F.col("lab").alias("ld"))
        disagree = (
            edges.join(src_lab, "src").join(dst_lab, "dst")
            .where(F.col("ls") != F.col("ld")).count()
        )
        if disagree == 0:
            return labels.select(
                F.col("id").alias(id_col), F.col("lab").alias("cluster_id")
            )
    raise RuntimeError(
        f"connected_components: labels still disagree after {CC_MAX_ROUNDS} "
        f"rounds (rounds grow with the pair graph's diameter)"
    )


def _fresh_relation(frame: DataFrame) -> DataFrame:
    """The rows of ``frame`` as a new relation with no inherited size
    estimate (the optimizer's default applies), so a loop that rebuilds a
    frame from itself plans each round at the same cost.  Sessions without
    a JVM handle (Spark Connect) keep the frame as-is."""
    try:
        jdf = frame._jdf
        fresh = jdf.sparkSession().createDataFrame(jdf.rdd(), jdf.schema())
    except CONNECT_ERRS:
        return frame
    return type(frame)(fresh, frame.sparkSession)


def dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Duplicate clusters: n-gram-Jaccard near-dup pairs -> connected
    components -> per-cluster size + canonical flag.

    The step after pair generation in a real dedup pipeline: transitive
    near-dups (A~B, B~C but not A~C) must land in ONE cluster before a
    keep-one policy can run, else the pipeline keeps both ends of a chain.
    Output: (id_col, cluster_id, cluster_size, is_canonical) for EVERY
    input document — singletons are their own cluster of size 1; the
    canonical representative is the minimum id (deterministic, engine-
    portable; callers wanting keep-best-quality join quality_score and
    min_by themselves).

    Scale: pair generation is exact PPJoin (see jaccard_pairs), clustering
    is hash-min rounds that grow with the pair graph's diameter (see
    connected_components), and the
    size join back is keyed on cluster_id — a giant cluster makes that
    join key hot, which AQE's skew-join split handles; nothing collects a
    cluster onto one task or the driver.
    """
    pairs = jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold)
    cc = connected_components(pairs, df.select(id_col), id_col)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        (F.col(id_col) == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 16, n: int = 3
) -> DataFrame:
    """Long-form MinHash: (id, h_idx, minhash) — minhash over md5 hex strings.

    Lexicographic min over fixed-width hex == numeric min, and md5 is
    identical across engines, so the oracle can reproduce signatures
    exactly.  Empty shingle sets yield no rows (doc shorter than n tokens).

    Physical shape: ONE wide aggregation with ``n_hashes`` min columns
    (map-side combined) instead of an n_hashes-way row explode — the shuffle
    carries one row per doc, not one per (shingle, hash slot); the long-form
    (id, h_idx, minhash) output is re-derived by an explode AFTER the agg.
    """
    sh = doc_shingles(df, id_col, text_col, n)
    wide = sh.groupBy(id_col).agg(
        *[
            F.min(
                F.md5(F.concat_ws(":", F.col("shingle"), F.lit(str(i))))
            ).alias(f"__h{i}")
            for i in range(n_hashes)
        ]
    )
    slots = F.array(
        *[
            F.struct(
                F.lit(i).alias("h_idx"), F.col(f"__h{i}").alias("minhash")
            )
            for i in range(n_hashes)
        ]
    )
    return wide.select(id_col, F.explode(slots).alias("__s")).select(
        id_col, F.col("__s.h_idx").alias("h_idx"), F.col("__s.minhash").alias("minhash")
    )


def banded_buckets(
    signatures: DataFrame, id_col: str, band_size: int = 4
) -> DataFrame:
    """(id, band, bucket) — band key = md5 of the concatenated band
    signature.  Shared substrate for self-join candidate search
    (:func:`lsh_candidate_pairs`) and incremental new-vs-corpus dedup
    (:func:`lsh_dedup_against_corpus`)."""
    return (
        signatures.withColumn("band", (F.col("h_idx") / band_size).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.md5(
                F.concat_ws(
                    "|", F.sort_array(F.collect_list(F.concat_ws(":", "h_idx", "minhash")))
                )
            ).alias("bucket")
        )
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    band_size: int = 4,
) -> DataFrame:
    """MinHash-LSH banding: docs sharing any full band are candidates.

    band key = md5 of the concatenated band signature; pairs enumerate
    within buckets only.  Output: distinct (id_a, id_b), id_a < id_b.
    The banded frame is checkpointed, so it is computed once instead of
    once per self-join side.
    """
    banded = local_checkpoint(banded_buckets(signatures, id_col, band_size))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over word tokens, engine-portable bit derivation.

    Bit b of token t = bit (b % 4) of hex digit (b // 4) of md5(t).  Per bit
    position, sum (+1 / -1) over the tokens of every row sharing an id;
    sign -> bit.  Output: (id, simhash bigint), one row per id with at
    least one token (bit 63 set reads as a negative long).  Ties (sum == 0)
    resolve to bit 0.

    Kernel: md5 once per token, split into two 32-bit halves (hex digits
    0-7 and 8-15), one row per (token, hex digit k), then per (id, k) the
    token count n and four bit counts c_j.  ``2 * c_j > n`` is exactly
    ``sum(+1/-1) > 0`` for bit 4k + j; a second aggregate ORs the nibbles
    into place.  No per-bit columns: each costs ~1 ms of driver time per
    Column op and a string expression per token, which made a 64-column
    form 1.6-2.5x slower (ENGINEERING_NOTES).
    """
    # explode_outer + null filter: a plain explode would infer a size>0
    # filter below the projection and re-evaluate the token split 3x
    toks = df.select(
        F.col(id_col), F.explode_outer(tokens_col(F.col(text_col))).alias("token")
    ).where(F.col("token").isNotNull()).select(F.col(id_col), F.md5("token").alias("__h"))
    nibbles = toks.select(
        F.col(id_col),
        F.expr("CAST(conv(substring(__h, 1, 8), 16, 10) AS BIGINT)").alias("__hi"),
        F.expr("CAST(conv(substring(__h, 9, 8), 16, 10) AS BIGINT)").alias("__lo"),
    ).select(  # the halves in their own projection: once per token, not per digit
        F.col(id_col), "__hi", "__lo", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("__k")
    ).select(
        F.col(id_col),
        "__k",
        F.expr("shiftright(IF(__k < 8, __hi, __lo), 28 - 4 * (__k % 8)) & 15").alias("__nib"),
    )
    counts = nibbles.groupBy(id_col, "__k").agg(
        F.expr("count(1)").alias("__n"),
        *[F.expr(f"sum(shiftright(__nib, {j}) & 1)").alias(f"__c{j}") for j in range(4)],
    )
    return counts.groupBy(id_col).agg(
        F.expr(
            "bit_or(shiftleft(CAST(IF(2 * __c0 > __n, 1, 0) | IF(2 * __c1 > __n, 2, 0)"
            " | IF(2 * __c2 > __n, 4, 0) | IF(2 * __c3 > __n, 8, 0) AS BIGINT), 4 * __k))"
        ).alias("simhash")
    )


def hamming_near_pairs(
    simhashes: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs via block permutation (pigeonhole).

    Split 64 bits into n_blocks blocks; join on (block index, block value),
    then keep pairs with bit_count(xor) <= max_hamming.  Output:
    (id_a, id_b, hamming) with id_a < id_b, each pair once, for a
    ``simhashes`` frame with one row per id (as :func:`simhash64` emits).

    Recall: a pair within hamming distance < n_blocks differs in fewer
    blocks than there are, so it shares at least one block exactly and
    meets in that block's join bucket.

    Each pair once, without a distinct: a pair is kept only at its FIRST
    shared block, i.e. the join row of block i survives iff every block
    below i of ``sh_a ^ sh_b`` is non-zero.  Any pair that meets at all
    has a lowest shared block i*; its row at i* passes (every lower block
    differs, by minimality) and its row at any other shared block j > i*
    fails (block i* < j of the xor is zero).  So exactly one row per pair
    survives, and no shuffle is spent on deduplicating candidates.

    The input is checkpointed, so the upstream simhash aggregation runs
    once instead of once per self-join side.
    """
    simhashes = local_checkpoint(simhashes)
    width = 64 // n_blocks
    mask = (1 << width) - 1
    blocks = simhashes.select(
        id_col,
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"),
    ).withColumn(
        "blk_val",
        F.expr(f"shiftrightunsigned(simhash, CAST(blk * {width} AS INT)) & {mask}"),
    )
    first_shared = " AND ".join(
        f"(blk <= {i} OR (shiftrightunsigned(sh_a ^ sh_b, {i * width}) & {mask}) <> 0)"
        for i in range(n_blocks - 1)
    ) or "true"
    a = blocks.alias("a")
    b = blocks.alias("b")
    cand = (
        a.join(b, on=["blk", "blk_val"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            "blk",
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .where(F.expr(first_shared))
    )
    return cand.withColumn(
        "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    ).where(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
) -> DataFrame:
    """Incremental EXACT dedup: rows of ``new_df`` whose md5(text) does not
    already appear in ``corpus_df`` (the training-pipeline "new shard vs
    existing corpus" case — no reference analog; same fingerprint as
    :func:`exact_dedup`).

    Scale shape: the corpus collapses to DISTINCT 32-hex fingerprints
    before the left-anti join, so the shuffle moves one hash per corpus
    doc, never document bodies.  New-vs-new duplicates are NOT
    collapsed here — that is :func:`exact_dedup`'s job; this operator's
    contract is exactly "already known to the corpus".
    """
    fp = corpus_df.select(F.md5(F.col(text_col)).alias("__fp")).distinct()
    return (
        new_df.withColumn("__fp", F.md5(F.col(text_col)))
        .join(fp, "__fp", "left_anti")
        .drop("__fp")
    )


def lsh_dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental NEAR-dup dedup: drop a new doc when it shares an LSH
    band bucket with any corpus doc AND the verified distinct-shingle
    Jaccard against that doc is >= ``threshold``.  Returns the surviving
    rows of ``new_df`` unchanged.

    Scale shape: both sides reduce to (id, band, bucket) keys before the
    equi-join, so candidate generation touches only bucket-key collisions
    (never new x corpus); Jaccard verification re-joins shingles for
    candidate ids only; the candidate frame is checkpointed because it
    feeds both semi-join prunes and the verify join.  Near-dups *within*
    ``new_df`` are untouched — run :func:`jaccard_pairs` /
    :func:`dup_clusters` for that.
    """
    sig_new = minhash_signatures(new_df, id_col, text_col, n_hashes, n)
    sig_cor = minhash_signatures(corpus_df, id_col, text_col, n_hashes, n)
    b_new = banded_buckets(sig_new, id_col, band_size).withColumnRenamed(
        id_col, "__id_new"
    )
    b_cor = banded_buckets(sig_cor, id_col, band_size).withColumnRenamed(
        id_col, "__id_cor"
    )
    cand = local_checkpoint(
        b_new.join(b_cor, on=["band", "bucket"])
        .select("__id_new", "__id_cor")
        .distinct()
    )

    # Verification joins the candidate pairs back to each side's distinct
    # shingle SET (one shingles_of_tokens array per candidate doc, after a
    # semi-join prune) and intersects JVM-side.  Candidates are a tiny,
    # already-enumerated fraction of new x corpus, so a per-pair
    # array_intersect beats re-exploding to long form: two id-keyed joins
    # + a narrow projection replace an explode, a shingle-key exchange and
    # a hash agg per side (round-7 profile: the long-form verify was ~1.1s
    # of the 1.86s sf0.01 floor).  The long form remains the right shape
    # for ALL-PAIRS discovery (jaccard_pairs' PPJoin) — here the pair list
    # is already known.
    sets_new = new_df.join(
        cand.select(F.col("__id_new").alias(id_col)).distinct(), id_col, "semi"
    ).select(
        F.col(id_col).alias("__id_new"),
        tokens_col(F.col(text_col)).alias("__tk"),
    ).select(
        "__id_new", shingles_of_tokens(F.col("__tk"), n).alias("__sh_new")
    )
    sets_cor = corpus_df.join(
        cand.select(F.col("__id_cor").alias(id_col)).distinct(), id_col, "semi"
    ).select(
        F.col(id_col).alias("__id_cor"),
        tokens_col(F.col(text_col)).alias("__tk"),
    ).select(
        "__id_cor", shingles_of_tokens(F.col("__tk"), n).alias("__sh_cor")
    )
    inter = (
        cand.join(sets_new, "__id_new")
        .join(sets_cor, "__id_cor")
        .select(
            "__id_new",
            # explode(array(x)) Generate barrier: stops the threshold
            # filter below from being pushed into the join condition,
            # which would re-evaluate the intersection per copy (see
            # jaccard_pairs)
            F.explode(
                F.array(F.size(F.array_intersect("__sh_new", "__sh_cor")))
            ).alias("__inter"),
            F.size("__sh_new").alias("__sz_new"),
            F.size("__sh_cor").alias("__sz_cor"),
        )
    )
    dropped = (
        inter.where(
            F.col("__inter")
            / (F.col("__sz_new") + F.col("__sz_cor") - F.col("__inter"))
            >= F.lit(threshold)
        )
        .select(F.col("__id_new").alias(id_col))
        .distinct()
    )
    return new_df.join(dropped, id_col, "left_anti")


def eval_contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: per-train-doc n-gram overlap with an
    eval/benchmark set — (id, n_shared, n_shingles, contam_frac,
    min_eval_id).  Only contaminated docs are returned (inner semantics);
    anti-join the ids against the corpus to drop them.

    The standard pre-training hygiene step (GPT-3 used 13-gram overlap):
    any training document sharing a long word n-gram with a held-out
    benchmark leaks the benchmark.  ``contam_frac`` = shared / total
    distinct shingles of the train doc grades the severity;
    ``min_eval_id`` names one offending eval doc for auditing.

    Scale: eval sets are tiny next to the corpus, so the shingled eval
    side broadcasts and the corpus-side shingle explode streams map-side —
    no corpus shuffle before the per-doc aggregation.
    """
    tr = doc_shingles(train_df, id_col, text_col, n)
    ev = F.broadcast(
        doc_shingles(eval_df, id_col, text_col, n).select(
            F.col(id_col).alias("__eval_id"), "shingle"
        )
    )
    return (
        tr.join(ev, "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared"),
            # size is constant per doc (distinct-shingle count); max picks it
            F.max("size").cast("long").alias("n_shingles"),
            F.min("__eval_id").alias("min_eval_id"),
        )
        .select(
            id_col,
            "n_shared",
            "n_shingles",
            (F.col("n_shared") / F.col("n_shingles")).alias("contam_frac"),
            "min_eval_id",
        )
    )
