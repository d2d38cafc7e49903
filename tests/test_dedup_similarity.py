"""Dedup / similarity / textstats operators on hand-checkable inputs."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = pd.DataFrame(
        {
            "doc_id": list(range(6)),
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy cat",   # near-dup of 0
                "the quick brown fox jumps over the lazy dog",   # exact dup of 0
                "completely different words entirely here now",
                "spark engines process data at scale",
                "a b",  # shorter than the shingle width
            ],
        }
    )
    return spark.createDataFrame(rows)


def test_exact_dedup(docs, spark):
    from deep_ner_spark.operators.dedup import exact_dedup, exact_dedup_groups

    groups = {r["n_copies"] for r in exact_dedup_groups(docs, "doc_id", "text").collect()}
    assert groups == {1, 2}
    kept = exact_dedup(docs, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [0, 1, 3, 4, 5]  # doc 2 (the later exact dup) dropped


def test_jaccard_pairs(docs, spark):
    from deep_ner_spark.operators.dedup import jaccard_pairs

    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3).collect()}
    assert out[(0, 2)] == 1.0  # exact dup
    # docs 0 and 1 share 6 of 7 shingles -> J = 6/8
    assert abs(out[(0, 1)] - 6 / 8) < 1e-9
    assert (0, 3) not in out


def test_minhash_lsh_finds_dups(docs, spark):
    from deep_ner_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    sig = minhash_signatures(docs, "doc_id", "text", n_hashes=8, n=3)
    # exact dup docs have identical signatures in every slot
    rows = {(r["doc_id"], r["h_idx"]): r["minhash"] for r in sig.collect()}
    for h in range(8):
        assert rows[(0, h)] == rows[(2, h)]
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig, "doc_id", 4).collect()}
    assert (0, 2) in pairs


def test_simhash_identical_for_dups_and_near_pairs(docs, spark):
    from deep_ner_spark.operators.dedup import hamming_near_pairs, simhash64

    sh = simhash64(docs, "doc_id", "text")
    vals = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    assert vals[0] == vals[2]
    near = {(r["id_a"], r["id_b"]): r["hamming"] for r in
            hamming_near_pairs(sh, "doc_id", max_hamming=3, n_blocks=4).collect()}
    assert near[(0, 2)] == 0


def _md5_bits(tok: str) -> int:
    """The 64 SimHash vote bits of one token: bit b = bit (b % 4) of hex
    digit (b // 4) of md5(tok), as an unsigned int."""
    import hashlib

    h = hashlib.md5(tok.encode()).hexdigest()
    return sum(1 << b for b in range(64) if (int(h[b // 4], 16) >> (b % 4)) & 1)


def _signed(v: int) -> int:
    return v - (1 << 64) if v >> 63 else v


def _simhash_reference(texts) -> dict:
    """doc_id -> signed SimHash over the tokens of ALL of that id's rows;
    ids without a token get no entry."""
    import re

    sums: dict = {}
    for doc_id, text in texts:
        for tok in re.split(r"\s+", text or ""):
            if tok:
                bits = _md5_bits(tok)
                s = sums.setdefault(doc_id, [0] * 64)
                for b in range(64):
                    s[b] += 1 if (bits >> b) & 1 else -1
    out = {}
    for doc_id, s in sums.items():
        out[doc_id] = _signed(sum(1 << b for b in range(64) if s[b] > 0))
    return out


def test_simhash64_matches_hashlib_reference(spark):
    from deep_ner_spark.operators.dedup import simhash64

    words = [f"w{i}" for i in range(200)]
    # a token whose vote sets bit 63 (hex digit 15 >= 8)
    top = next(w for w in words if _md5_bits(w) >> 63)
    # two tokens that disagree on some bit: every disagreement is a tie
    x, y = "alpha", "beta"
    assert _md5_bits(x) ^ _md5_bits(y)
    rng = np.random.default_rng(11)
    rows = [
        (0, f"{x} {y}"),                # ties -> bit 0: x AND y
        (1, top),                       # bit 63 -> negative long
        (2, f"{x} {x} {y}"),            # repeated token outvotes y
        (3, x),                         # single token
        (4, ""),                        # no tokens: no row
        (5, " \t\n "),
        (6, None),
        (7, f"\t{x}  {y}\n"),           # edge tab/newline, double space
        (8, f"\n{top} {x}\t{y}\t"),
        (9, f"{x} {top}"),              # same id twice: one fingerprint
        (9, f"{y}\n"),
    ] + [(10 + i, " ".join(rng.choice(words, size=int(rng.integers(1, 30)))))
         for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash64(df, "doc_id", "text").collect()}
    assert got == _simhash_reference(rows)
    assert got[0] == _signed(_md5_bits(x) & _md5_bits(y))
    assert got[1] < 0 and got[1] == _signed(_md5_bits(top))
    assert got[2] == got[3] == _signed(_md5_bits(x))
    assert got[7] == got[0]
    assert not {4, 5, 6} & got.keys()
    assert got[9] == _simhash_reference([(9, f"{x} {top} {y}")])[9]


def _count_in_plan(df, cls: str) -> int:
    js = df._jdf.queryExecution().optimizedPlan().toJSON()
    return js.count(f'"class":"org.apache.spark.sql.catalyst.{cls}"')


def test_simhash64_plan_has_few_aggregate_functions(spark):
    """Pins the per-digit kernel: count + 4 bit sums + one bit_or (the
    64-column form held 64 sums, each re-referenced by the bit pack)."""
    from deep_ner_spark.operators.dedup import simhash64

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    n = _count_in_plan(simhash64(df, "doc_id", "text"), "expressions.aggregate.AggregateExpression")
    assert 0 < n <= 8


def test_hamming_near_pairs_once_each_without_aggregate(spark):
    """Pairs sharing several blocks (identical hashes share all four) come
    out once each, with no Aggregate (distinct) in the plan, and equal the
    brute-force pair set."""
    from deep_ner_spark.operators.dedup import hamming_near_pairs

    rng = np.random.default_rng(5)
    base = [int(v) for v in rng.integers(-(1 << 63), (1 << 63) - 1, size=12, dtype=np.int64)]
    hashes = list(base)
    for k, v in enumerate(base[:8]):  # copies 0-3 bits away, flips anywhere
        flips = rng.choice(64, size=k % 4, replace=False)
        hashes.append(_signed((v & ((1 << 64) - 1)) ^ sum(1 << int(b) for b in flips)))
    hashes.append(base[0])  # a second exact copy of doc 0
    sh = spark.createDataFrame(list(enumerate(hashes)), "doc_id long, simhash long")
    out = hamming_near_pairs(sh, "doc_id", max_hamming=3, n_blocks=4)
    assert _count_in_plan(out, "plans.logical.Aggregate") == 0
    got = [(r["id_a"], r["id_b"], r["hamming"]) for r in out.collect()]
    want = [
        (i, j, bin((hashes[i] ^ hashes[j]) & ((1 << 64) - 1)).count("1"))
        for i in range(len(hashes)) for j in range(i + 1, len(hashes))
    ]
    want = [p for p in want if p[2] <= 3]
    assert len(got) == len(set(got))
    assert sorted(got) == sorted(want)
    assert len(want) >= 10


def _numpy_topk(vecs, query_ids, k):
    """Brute-force top-k by cosine in NumPy: self-pairs dropped, ties
    broken by neighbor id.  {(query_id, rank): (neighbor_id, cosine)}.
    Sums are exactly rounded (fsum), so equal or power-of-2-scaled vectors
    score exactly equal, whatever the summation order."""
    import math

    v = vecs.astype(np.float64)
    norms = [math.sqrt(math.fsum(x * x)) for x in v]
    out = {}
    for q in query_ids:
        scored = [(math.fsum(v[q] * v[n]) / (norms[q] * norms[n]), n)
                  for n in range(len(v)) if n != q]
        ranked = sorted(scored, key=lambda t: (-t[0], t[1]))[:k]
        out.update({(q, r + 1): (n, c) for r, (c, n) in enumerate(ranked)})
    return out


def test_cosine_topk_exact_and_lsh_recall(spark):
    """The shared top-k tail against an independent NumPy brute force: the
    exact scan, 0-plane LSH and fully probed IVF all see every pair, so all
    three must return its ranking, cosine ties broken by neighbor_id."""
    from deep_ner_spark.operators.similarity import (
        cosine_topk,
        fit_ivf_codebook,
        ivf_cosine_topk,
        lsh_cosine_topk,
    )

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 16)).astype("float32")
    base[1] = base[0]  # exact copy: same bucket under any hyperplane set
    # exact ties for every query: 12 and 25 copy 7, 30 is 7 scaled by 2
    base[12] = base[25] = base[7]
    base[30] = base[7] * 2
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(40), "embedding": [list(map(float, v)) for v in base]})
    )
    q = emb.where(F.col("vec_id") == 0)
    exact = cosine_topk(emb, q, k=1).collect()
    assert exact[0]["neighbor_id"] == 1  # the crafted near-copy wins
    # LSH with 1 plane: near-identical vectors land in the same bucket
    approx = lsh_cosine_topk(emb, q, 16, k=1, n_planes=1).collect()
    assert approx and approx[0]["neighbor_id"] == 1

    k, query_ids = 6, range(10)
    want = _numpy_topk(base, query_ids, k)
    assert [want[(7, r)][0] for r in (1, 2, 3)] == [12, 25, 30]
    qs = emb.where(F.col("vec_id") < 10)
    cb = fit_ivf_codebook(emb, n_lists=4)
    for name, out in (
        ("cosine_topk", cosine_topk(emb, qs, k=k)),
        ("lsh_cosine_topk", lsh_cosine_topk(emb, qs, 16, k=k, n_planes=0)),
        ("ivf_cosine_topk", ivf_cosine_topk(emb, qs, cb, k=k, n_probe=len(cb))),
    ):
        got = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
               for r in out.collect()}
        assert got.keys() == want.keys(), name
        for key, (nid, cos) in want.items():
            assert got[key][0] == nid, (name, key)
            assert got[key][1] == pytest.approx(cos, rel=1e-12), (name, key)


def test_lsh_multiprobe_recall_rises(spark):
    """Multi-probe LSH: probing the lowest-|margin| single-bit-flip buckets
    strictly raises recall@k over the single-bucket probe on a seeded
    corpus, and never lowers it (probe sets are nested by construction)."""
    from deep_ner_spark.operators.similarity import cosine_topk, lsh_cosine_topk

    rng = np.random.default_rng(7)
    base = rng.standard_normal((60, 16)).astype("float32")
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(60), "embedding": [list(map(float, v)) for v in base]})
    )
    q = emb.where(F.col("vec_id") < 8)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=3).collect()}
    hits = {}
    for probes in (1, 2, 4):
        ap = {(r["query_id"], r["neighbor_id"]) for r in
              lsh_cosine_topk(emb, q, 16, k=3, n_planes=4,
                              n_probe_buckets=probes).collect()}
        hits[probes] = len(exact & ap)
    # pinned on seed 7: 6 -> 10 -> 14 of 24
    assert hits[1] < hits[2] < hits[4]
    assert (hits[1], hits[2], hits[4]) == (6, 10, 14)


def test_lsh_multiprobe_bucket_list(spark):
    """The probe-bucket column itself: first element is the base bucket,
    all probes are distinct, and the flip order follows |margin| ascending."""
    import pyspark.sql.types as T

    from deep_ner_spark.operators.similarity import (
        lsh_bucket_col,
        lsh_probe_buckets_col,
    )

    planes = [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]
    df = spark.createDataFrame(
        pd.DataFrame({"embedding": [[2.0, -0.25]]}),
        schema=T.StructType([T.StructField("embedding", T.ArrayType(T.DoubleType()))]),
    )
    row = df.select(
        lsh_bucket_col(F.col("embedding"), planes).alias("base"),
        lsh_probe_buckets_col(F.col("embedding"), planes, 4).alias("probes"),
    ).collect()[0]
    # dots: plane0 = 2.0 (bit0 set), plane1 = -0.25 (bit1 clear),
    # plane2 = 1.75 (bit2 set) -> base = 0b101 = 5; |margin| order: 1, 2, 0
    assert row["base"] == 5
    assert row["probes"][0] == row["base"]
    assert row["probes"] == [5, 5 ^ 2, 5 ^ 4, 5 ^ 1]
    assert len(set(row["probes"])) == len(row["probes"])


def test_textstats(docs, spark):
    from deep_ner_spark.operators.textstats import (
        doc_fingerprint,
        lang_id,
        quality_features,
    )

    feats = {r["doc_id"]: r for r in quality_features(docs, "doc_id", "text").collect()}
    assert feats[0]["n_tokens"] == 9
    assert feats[0]["n_distinct_tokens"] == 8  # 'the' twice
    assert abs(feats[0]["stopword_ratio"] - 2 / 9) < 1e-12  # two "the"s
    langs = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs, "doc_id", "text").collect()}
    assert langs[0] == "en"
    assert langs[3] == "unk"  # no stopwords in that sentence
    fps = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs, "doc_id", "text").collect()}
    assert fps[0] == fps[2]
    assert fps[0] != fps[1]


def test_eval_contamination(spark):
    from deep_ner_spark.operators.dedup import eval_contamination

    train = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["a b c d e f", "p q r s t u"],
            }
        )
    )
    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100, 200],
                "text": ["a b c d e x", "z a b c d e"],
            }
        )
    )
    got = {r["doc_id"]: r for r in
           eval_contamination(train, ev, "doc_id", "text", n=5).collect()}
    assert list(got) == [1]  # doc 2 shares nothing -> absent
    r = got[1]
    # doc 1's 5-grams: 'a b c d e', 'b c d e f'; both eval docs carry the first
    assert (r["n_shared"], r["n_shingles"]) == (1, 2)
    assert abs(r["contam_frac"] - 0.5) < 1e-12
    assert r["min_eval_id"] == 100


def test_repetition_stats(spark):
    from deep_ner_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "a b a b a b",   # bigram 'a b' x3 (9 ch) + 'b a' x2 (6 ch)
                    "x y z w",       # no repetition at all
                    "a b",           # too short for trigrams -> dropped
                ],
            }
        )
    )
    got = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert abs(got[0]["top_ngram_char_frac"] - 9 / 15) < 1e-12
    # trigrams of doc 0: 'a b a' x2 + 'b a b' x2 -> every occurrence duplicated
    assert got[0]["dup_ngram_char_frac"] == 1.0
    assert got[0]["max_ngram_repeat"] == 2
    assert abs(got[1]["top_ngram_char_frac"] - 3 / 9) < 1e-12
    assert got[1]["dup_ngram_char_frac"] == 0.0
    assert got[1]["max_ngram_repeat"] == 1
    assert 2 not in got  # shorter than the trigram order


def test_mixture_weights(spark):
    from deep_ner_spark.operators.textstats import mixture_weights

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "lang": ["en", "en", "de"],
                "text": ["a b c", "d e f", "x y"],  # en: 6 tokens, de: 2
            }
        )
    )
    got = {r["lang"]: r for r in mixture_weights(df, "lang", "text").collect()}
    assert (got["en"]["n_docs"], got["en"]["n_tokens"]) == (2, 6)
    assert abs(got["en"]["natural_frac"] - 6 / 8) < 1e-12
    # uniform target: weight = (1/2) / (6/8) = 2/3 for en, (1/2)/(2/8) = 2 for de
    assert abs(got["en"]["mix_weight"] - 2 / 3) < 1e-12
    assert abs(got["de"]["mix_weight"] - 2.0) < 1e-12
    # explicit target mix: 90% de
    tgt = {r["lang"]: r["mix_weight"] for r in
           mixture_weights(df, "lang", "text", target={"en": 0.1, "de": 0.9}).collect()}
    assert abs(tgt["de"] - 0.9 * 8 / 2) < 1e-12
    assert abs(tgt["en"] - 0.1 * 8 / 6) < 1e-12


def test_redact_pii(spark):
    from deep_ner_spark.operators.textstats import redact_pii

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": [
                    "mail me at bob.smith@corp.io or 192.168.0.1 "
                    "or +44 20-7946-0958 thanks",
                    "nothing sensitive here",
                ],
            }
        )
    )
    got = {r["doc_id"]: r for r in redact_pii(df, "doc_id", "text").collect()}
    assert (got[0]["n_email"], got[0]["n_ipv4"], got[0]["n_phone"]) == (1, 1, 1)
    assert got[0]["redacted_text"] == (
        "mail me at <EMAIL> or <IPV4> or <PHONE> thanks"
    )
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (0, 0, 0)
    assert got[1]["redacted_text"] == "nothing sensitive here"


def test_embedding_near_dup_pairs(spark):
    from deep_ner_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(11)
    base = rng.standard_normal((30, 16)).astype("float32")
    base[5] = base[2]  # exact duplicate vector
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(30), "embedding": [list(map(float, v)) for v in base]})
    )
    pairs = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in embedding_near_dup_pairs(emb, 16, threshold=0.95).collect()}
    assert (2, 5) in pairs
    assert abs(pairs[(2, 5)] - 1.0) < 1e-6
    assert all(c >= 0.95 for c in pairs.values())


def test_rolling_fingerprint(spark):
    from deep_ner_spark.operators.textstats import rolling_fingerprint

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["ab", "ba", "ab"]})
    )
    got = {r["doc_id"]: r["rolling_fp"] for r in rolling_fingerprint(df, "doc_id", "text").collect()}
    assert got[0] == got[2]
    assert got[0] != got[1]  # order-sensitive, unlike the token-set hash
    base, mod = 1_000_003, (1 << 61) - 1
    want = (ord("a") + ord("b") * base) % mod
    assert got[0] == want


def test_ivf_cosine_topk(spark):
    from deep_ner_spark.operators.similarity import (
        cosine_topk,
        fit_ivf_codebook,
        ivf_cosine_topk,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal((60, 16)).astype("float32")
    base[30] = base[7]  # exact duplicate: same coarse list, rank-1 neighbor
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(60), "embedding": [list(map(float, v)) for v in base]})
    )
    q = emb.where(F.col("vec_id") == 7)
    cb = fit_ivf_codebook(emb, n_lists=8)
    approx = ivf_cosine_topk(emb, q, cb, k=1, n_probe=2).collect()
    assert approx and approx[0]["neighbor_id"] == 30
    # with n_probe == n_lists the probe is exhaustive -> equals exact top-k
    exact = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in cosine_topk(emb, q, k=3).collect()}
    full = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in ivf_cosine_topk(emb, q, cb, k=3, n_probe=8).collect()}
    assert full == exact


def test_ivf_kmeans_codebook(spark):
    """Spherical k-means refinement (FAISS-style sample-train): codebook is
    deterministic for a seed, exhaustive probing stays exact regardless of
    the codebook, and on a clustered dataset the refined codebook reaches
    exact top-1 recall with a 2-list probe."""
    from deep_ner_spark.operators.similarity import (
        cosine_topk,
        fit_ivf_codebook,
        ivf_cosine_topk,
    )

    rng = np.random.default_rng(11)
    # 4 well-separated clusters of 25 vectors each
    centers = rng.standard_normal((4, 16)).astype("float32") * 10
    base = np.vstack([c + rng.standard_normal((25, 16)).astype("float32") for c in centers])
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(100), "embedding": [list(map(float, v)) for v in base]})
    )
    cb1 = fit_ivf_codebook(emb, n_lists=4, kmeans_iters=3)
    cb2 = fit_ivf_codebook(emb, n_lists=4, kmeans_iters=3)
    assert cb1 == cb2  # deterministic
    assert len(cb1) == 4 and len(cb1[0]) == 16

    q = emb.where(F.col("vec_id") < 4)
    exact = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in cosine_topk(emb, q, k=1).collect()}
    refined = {(r["query_id"], r["rank"]): r["neighbor_id"]
               for r in ivf_cosine_topk(emb, q, cb1, k=1, n_probe=2).collect()}
    assert refined == exact  # clustered data + refined codebook -> full recall
    # exhaustive probe equals exact top-k regardless of kmeans_iters
    cb2 = fit_ivf_codebook(emb, n_lists=4, kmeans_iters=2)
    full = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in ivf_cosine_topk(emb, q, cb2, k=3, n_probe=4).collect()}
    exact3 = {(r["query_id"], r["rank"]): r["neighbor_id"]
              for r in cosine_topk(emb, q, k=3).collect()}
    assert full == exact3


def test_ivf_codebook_cache_misses_on_fixture_regeneration(
    spark, tmp_path, monkeypatch
):
    """The entry harness's tmpfs codebook cache is keyed on the fixture's
    CONTENT stamp, not just its path: regenerating embeddings.parquet in
    place (different bytes, same path) must miss the cache and refit, so
    a stale codebook can never be served against fresh data (the r6
    streaming-cache bug class, IVF edition — r7 VERDICT task 7).  Fails
    if the key drops the `_content_stamp` component.  The cache root is
    pointed at tmp_path so the test leaves nothing in the shared tmpfs."""
    import __spark_entry__ as e

    cache_root = tmp_path / "tmpfs"
    monkeypatch.setattr(e, "_tmpfs_root", lambda: str(cache_root))
    rng = np.random.default_rng(5)

    def write_emb(scale):
        vecs = (rng.standard_normal((40, 8)) * scale).astype("float32")
        # the embeddings table's own column types (__spark_entry__._SCHEMAS)
        df = spark.createDataFrame(
            pd.DataFrame({
                "vec_id": range(40),
                "embedding": [list(map(float, v)) for v in vecs],
            }),
            "vec_id long, embedding array<float>",
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "embeddings.parquet")
        )

    write_emb(1.0)
    cb1 = e._ivf_codebook_cached(spark, str(tmp_path), n_lists=2,
                                 kmeans_iters=2, seed=7)
    # identical bytes -> cache hit, bit-equal codebook
    cb2 = e._ivf_codebook_cached(spark, str(tmp_path), n_lists=2,
                                 kmeans_iters=2, seed=7)
    assert cb2 == cb1
    # regenerate IN PLACE with different vectors: the content stamp
    # (mtime_ns+size) changes, so the key must change and the codebook
    # must be refit from the new data — a path-only key would return cb1
    write_emb(25.0)
    cb3 = e._ivf_codebook_cached(spark, str(tmp_path), n_lists=2,
                                 kmeans_iters=2, seed=7)
    assert cb3 != cb1
    assert len(list((cache_root / "deep_ner_ivf_codebook").glob("*.json"))) == 2


def test_jaccard_prefix_exact_at_all_thresholds(spark):
    """The PPJoin prefix + length + positional candidate filters must be
    EXACT (no lost pairs) at any threshold — jaccard_pairs equals a
    pure-Python all-pairs Jaccard over the same distinct word 2-gram sets,
    pair for pair, on a corpus with heavy shingle overlap, near-duplicates,
    a containment pair, two exact-duplicate pairs and a one-token document
    (no shingles, so in no pair).  At t=1.0 the probe and index prefixes
    are one shingle long: an off-by-one in the prefix position shows
    there.  A threshold outside (0, 1] raises."""
    from deep_ner_spark.operators.dedup import jaccard_pairs

    rng = np.random.default_rng(17)
    words = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        n = int(rng.integers(4, 20))
        docs.append(" ".join(rng.choice(words, n)))
    # near-dups, a containment pair, exact duplicates, a one-token doc
    docs.append(docs[0] + " extra")
    docs.append(docs[1])
    docs.append(" ".join(docs[2].split()[:-2]))
    docs.append(docs[3])
    docs.append("w7")
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(len(docs)), "text": docs}))

    sets = []
    for text in docs:
        toks = text.split()
        sets.append({" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)})

    for t in (0.3, 0.5, 0.7, 0.9, 1.0):
        got = {
            (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"], round(r["jaccard"], 9))
            for r in jaccard_pairs(df, "doc_id", "text", n=2, threshold=t).collect()
        }
        want = {}
        for i in range(len(sets)):
            for j in range(i + 1, len(sets)):
                inter = len(sets[i] & sets[j])
                union = len(sets[i]) + len(sets[j]) - inter
                if sets[i] and sets[j] and inter / union >= t:
                    want[(i, j)] = (inter, len(sets[i]), len(sets[j]), round(inter / union, 9))
        assert got == want, f"threshold {t}: {len(got)} pairs != reference {len(want)}"
        assert want, f"threshold {t}: corpus has no qualifying pair"
    for t in (0.0, 1.5):
        with pytest.raises(ValueError, match="threshold must be in"):
            jaccard_pairs(df, "doc_id", "text", n=2, threshold=t)


def test_embedding_near_dup_occupancy_guard(spark, monkeypatch):
    """A skewed corpus (every vector in one LSH bucket) with default-shaped
    params must raise with n_planes guidance instead of silently running an
    effectively quadratic bucket-local self-join; a loose enough bound
    still returns correct pairs."""
    from deep_ner_spark.operators import similarity as sim

    vecs = [[1.0] + [0.0] * 15] * 40  # identical vectors -> one bucket
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(40), "embedding": vecs})
    )
    monkeypatch.setattr(sim, "OCCUPANCY_GUARD", 10)
    with pytest.raises(ValueError) as ei:
        sim.embedding_near_dup_pairs(emb, 16)
    msg = str(ei.value)
    assert "n_planes" in msg and "log2" in msg and "40" in msg

    monkeypatch.setattr(sim, "OCCUPANCY_GUARD", 10_000)
    ok = sim.embedding_near_dup_pairs(emb, 16)
    assert ok.count() == 40 * 39 // 2  # all-pairs of exact duplicates


def _union_find_clusters(node_ids, edges):
    """Min-id component label per node, by Python union-find."""
    parent = {v: v for v in node_ids}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in node_ids}


def test_connected_components_vs_union_find(spark, monkeypatch):
    """Hash-min + pointer-jumping CC equals a Python union-find on a graph
    with a chain (forces multi-round propagation), a star, a triangle and
    isolated nodes, and on a 30-node path whose ids are shuffled along it
    (22 rounds).  With too few rounds it raises instead of returning split
    clusters."""
    from deep_ner_spark.operators import dedup
    from deep_ner_spark.operators.dedup import connected_components

    def run(node_ids, edges):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        nodes = spark.createDataFrame([(v,) for v in node_ids], "nid long")
        return {
            r["nid"]: r["cluster_id"]
            for r in connected_components(pairs, nodes, "nid").collect()
        }

    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),  # chain 1..7
        (10, 11), (10, 12), (10, 13),                     # star at 10
        (20, 21), (21, 22), (20, 22),                     # triangle
    ]
    node_ids = sorted({v for e in edges for v in e} | {30, 31})  # isolated
    got = run(node_ids, edges)
    assert got == _union_find_clusters(node_ids, edges)
    assert got[7] == 1 and got[30] == 30 and got[31] == 31

    perm = [int(v) for v in np.random.default_rng(22).permutation(30)]
    path = list(zip(perm, perm[1:]))
    assert run(range(30), path) == {v: 0 for v in range(30)}

    # an edge to an id absent from `nodes` joins no label: 2 and 3 stay
    # apart although both touch 99
    assert run([1, 2, 3], [(1, 2), (2, 99), (3, 99)]) == {1: 1, 2: 1, 3: 3}

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 3)
    with pytest.raises(RuntimeError, match="after 3 rounds"):
        run(range(30), path)


def test_connected_components_rejects_string_ids(spark):
    """String ids would meet integral ones through an implicit cast that
    NULLs non-numeric strings (ANSI off) and silently drops their edges —
    the operator must fail fast instead."""
    import pytest

    from deep_ner_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": ["a"], "id_b": ["b"]})
    )
    nodes = spark.createDataFrame(pd.DataFrame({"nid": ["a", "b", "c"]}))
    with pytest.raises(TypeError, match="integral id column"):
        connected_components(pairs, nodes, "nid")


def test_dup_clusters(docs, spark):
    """Exact dup (0,2) + near-dup (0,1) chain into ONE cluster with min-id
    canonical; everyone else is a singleton; sizes sum to the corpus."""
    from deep_ner_spark.operators.dedup import dup_clusters

    rows = dup_clusters(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert len(rows) == 6
    assert {by_id[i]["cluster_id"] for i in (0, 1, 2)} == {0}
    assert by_id[0]["cluster_size"] == 3
    for i in (3, 4, 5):
        assert by_id[i]["cluster_id"] == i and by_id[i]["cluster_size"] == 1
    canon = [r["doc_id"] for r in rows if r["is_canonical"] == 1]
    assert sorted(canon) == [0, 3, 4, 5]
    assert sum(r["cluster_size"] for r in rows if r["is_canonical"] == 1) == 6


def test_token_counts(docs, spark):
    from deep_ner_spark.operators.textstats import token_counts

    out = {r["doc_id"]: r for r in token_counts(docs, "doc_id", "text").collect()}
    # "the quick brown fox jumps over the lazy dog": 9 ws tokens; BPE-ish
    # splits letter runs at 4 chars: the|quic|k|brow|n|fox|jump|s|over|the|lazy|dog
    assert out[0]["ws_tokens"] == 9
    assert out[0]["bpe_tokens"] == 12
    assert out[5]["ws_tokens"] == 2 and out[5]["bpe_tokens"] == 2
    assert out[0]["n_chars"] == len("the quick brown fox jumps over the lazy dog")


def test_dedup_against_corpus(docs, spark):
    from deep_ner_spark.operators.dedup import dedup_against_corpus

    # corpus = docs 0..2, new shard = docs 3..5 plus a copy of doc 0's text
    corpus = docs.where(F.col("doc_id") <= 2)
    new = docs.where(F.col("doc_id") >= 3).unionByName(
        spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": [99], "text": ["the quick brown fox jumps over the lazy dog"]}
            )
        )
    )
    surv = sorted(
        r["doc_id"] for r in dedup_against_corpus(new, corpus, "text").collect()
    )
    assert surv == [3, 4, 5]  # 99 dropped: its text is already in the corpus


def test_lsh_dedup_against_corpus(docs, spark):
    from deep_ner_spark.operators.dedup import lsh_dedup_against_corpus

    # corpus holds doc 0; the new shard holds its near-dup (1), exact dup
    # (2), two unrelated docs and a shingle-free doc
    corpus = docs.where(F.col("doc_id") == 0)
    new = docs.where(F.col("doc_id") >= 1)
    surv = sorted(
        r["doc_id"]
        for r in lsh_dedup_against_corpus(
            new, corpus, "doc_id", "text", n_hashes=16, band_size=4, threshold=0.5
        ).collect()
    )
    # 1 (jaccard 0.75 vs doc 0) and 2 (jaccard 1.0) dropped; 3, 4 survive
    # (dissimilar); 5 survives (no shingles -> never a candidate).  16
    # hashes / 4 bands: at 8/4 (2 bands) the near-dup deterministically
    # misses both bands -- banding recall is the tunable, as in
    # lsh_candidate_pairs
    assert surv == [3, 4, 5]
    # threshold above the near-dup's jaccard keeps it, still drops the copy
    surv_hi = sorted(
        r["doc_id"]
        for r in lsh_dedup_against_corpus(
            new, corpus, "doc_id", "text", n_hashes=16, band_size=4, threshold=0.95
        ).collect()
    )
    assert surv_hi == [1, 3, 4, 5]


def test_stratified_sample_bottomk(spark):
    from deep_ner_spark.operators.splitting import stratified_sample_bottomk

    rows = pd.DataFrame(
        {
            "doc_id": list(range(200)),
            "lang": ["en" if i % 4 else "de" for i in range(200)],
        }
    )
    df = spark.createDataFrame(rows)
    out = stratified_sample_bottomk(df, "lang", 10, "doc_id", seed=3)
    got = [(r["lang"], r["doc_id"], r["sample_rank"]) for r in out.collect()]
    assert len(got) == 20 and {g[0] for g in got} == {"en", "de"}
    assert sorted(r for _, _, r in got) == sorted(list(range(1, 11)) * 2)
    # two-phase == single-window semantics, and repartitioning-invariant
    single = stratified_sample_bottomk(df, "lang", 10, "doc_id", seed=3, n_salts=1)
    assert sorted(got) == sorted(
        (r["lang"], r["doc_id"], r["sample_rank"]) for r in single.collect()
    )
    reparted = stratified_sample_bottomk(
        df.repartition(13), "lang", 10, "doc_id", seed=3
    )
    assert sorted(got) == sorted(
        (r["lang"], r["doc_id"], r["sample_rank"]) for r in reparted.collect()
    )
    # k above the stratum size returns the whole stratum, ranked
    all_de = stratified_sample_bottomk(
        df.where(F.col("lang") == "de"), "lang", 999, "doc_id", seed=3
    )
    assert all_de.count() == 50
    # appending rows only displaces from the tail: the survivor SET of the
    # original sample is a superset of the new sample's overlap -- check
    # the stable-prefix property on ranks
    bigger = spark.createDataFrame(
        pd.concat(
            [rows, pd.DataFrame({"doc_id": list(range(200, 260)), "lang": ["de"] * 60})]
        )
    )
    out2 = stratified_sample_bottomk(bigger, "lang", 10, "doc_id", seed=3)
    de_old = [d for l, d, _ in sorted(got, key=lambda x: x[2]) if l == "de"]
    de_new = [
        r["doc_id"]
        for r in sorted(
            out2.where(F.col("lang") == "de").collect(), key=lambda r: r["sample_rank"]
        )
    ]
    # every old survivor that still ranks <= 10 keeps its relative order
    kept = [d for d in de_new if d in set(de_old)]
    assert kept == [d for d in de_old if d in set(de_new)]
