"""Sequence packing (next-fit token binning) on hand-checkable inputs."""

import pandas as pd
import pytest


def _docs(spark, counts):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(range(len(counts))),
                # None stands for a null text
                "text": [None if c is None else " ".join(["w"] * c) for c in counts],
            }
        )
    )


def test_pack_sequences_next_fit(spark):
    from deep_ner_spark.operators.packing import pack_sequences, packing_stats

    df = _docs(spark, [5, 4, 3, 7, 2, 9, None])
    got = {
        r["doc_id"]: (r["bin_in_shard"], r["offset_in_bin"], r["n_tokens"])
        for r in pack_sequences(df, "doc_id", "text", max_len=10, n_shards=1).collect()
    }
    assert got == {
        0: (0, 0, 5),
        1: (0, 5, 4),   # fits: 5+4 <= 10
        2: (1, 0, 3),   # 9+3 > 10 -> new bin
        3: (1, 3, 7),   # exactly fills bin 1
        4: (2, 0, 2),
        5: (3, 0, 9),   # 2+9 > 10 -> new bin
        6: (3, 9, 0),   # null text packs as 0 tokens
    }
    stats = packing_stats(
        pack_sequences(df, "doc_id", "text", max_len=10, n_shards=1), max_len=10
    ).collect()[0]
    assert (stats["n_bins"], stats["n_docs"], stats["max_fill"]) == (4, 7, 10)
    assert abs(stats["fill_ratio"] - 30 / 40) < 1e-12


def test_pack_sequences_oversize_owns_bin(spark):
    from deep_ner_spark.operators.packing import pack_sequences

    df = _docs(spark, [3, 15, 4])
    got = {
        r["doc_id"]: (r["bin_in_shard"], r["offset_in_bin"])
        for r in pack_sequences(df, "doc_id", "text", max_len=10, n_shards=1).collect()
    }
    # the 15-token doc overflows into its own bin; the next doc opens another
    assert got == {0: (0, 0), 1: (1, 0), 2: (2, 0)}


def test_pack_sequences_sharding_deterministic(spark):
    from deep_ner_spark.operators.packing import pack_sequences

    df = _docs(spark, [5, 4, 3, 7, 2, 9])
    a = sorted(
        tuple(r)
        for r in pack_sequences(df.repartition(7), "doc_id", "text", 10, n_shards=2).collect()
    )
    b = sorted(
        tuple(r)
        for r in pack_sequences(df.coalesce(1), "doc_id", "text", 10, n_shards=2).collect()
    )
    assert a == b  # layout is a pure function of the input, not parallelism
    shards = {r[0]: r[1] for r in a}  # doc_id -> shard
    assert shards == {i: i % 2 for i in range(6)}


def test_chunk_documents(spark):
    from deep_ner_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10",  # 10 tokens
                    "only",
                    "",  # empty -> no chunks
                ],
            }
        )
    )
    got = {(r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_text"])
           for r in chunk_documents(df, "doc_id", "text", 4, overlap=1).collect()}
    assert got == {
        (0, 0): (4, "t1 t2 t3 t4"),
        (0, 1): (4, "t4 t5 t6 t7"),   # 1-token overlap (step 3)
        (0, 2): (4, "t7 t8 t9 t10"),
        # no (0, 3): a start at t10 would emit a chunk fully contained in
        # (0, 2) — redundant tails are dropped (starts cap at n-1-overlap)
        (1, 0): (1, "only"),
    }


def test_chunk_documents_invariants_sweep(spark):
    """Across a (doc_len, max_tokens, overlap) grid: every token is covered,
    chunk_idx is dense from 0, every non-first chunk starts exactly
    step=max_tokens-overlap after its predecessor, and NO chunk is fully
    contained in the previous one (the r6 redundant-tail fix)."""
    from deep_ner_spark.operators.packing import chunk_documents

    lens = [1, 2, 3, 4, 5, 7, 10, 11, 12, 13, 25]
    texts = [" ".join(f"t{i}" for i in range(n)) for n in lens]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(lens)), "text": texts})
    )
    for max_tokens, overlap in [(4, 0), (4, 1), (4, 3), (5, 2), (12, 4)]:
        rows = chunk_documents(df, "doc_id", "text", max_tokens, overlap).collect()
        step = max_tokens - overlap
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert set(by_doc) == set(range(len(lens)))
        for d, n in enumerate(lens):
            chunks = sorted(by_doc[d], key=lambda r: r["chunk_idx"])
            assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
            covered = set()
            prev_toks = None
            for c in chunks:
                toks = c["chunk_text"].split(" ")
                assert len(toks) == c["n_tokens"] <= max_tokens
                start = c["chunk_idx"] * step
                assert toks == [f"t{i}" for i in range(start, start + len(toks))]
                if prev_toks is not None:
                    assert not set(toks) <= set(prev_toks), (
                        d, max_tokens, overlap, toks, prev_toks)
                covered.update(toks)
                prev_toks = toks
            assert covered == {f"t{i}" for i in range(n)}, (d, max_tokens, overlap)


def test_chunk_documents_guards(spark):
    from deep_ner_spark.operators.packing import chunk_documents

    df = _docs(spark, [3])
    with pytest.raises(ValueError, match="max_tokens"):
        chunk_documents(df, "doc_id", "text", 0)
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, "doc_id", "text", 4, overlap=4)


def test_term_frequencies(spark):
    from deep_ner_spark.operators.textstats import term_frequencies

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a b a", "b c"]})
    )
    got = [(r["token"], r["cnt"], r["rank"])
           for r in term_frequencies(df, "text").orderBy("rank").collect()]
    # count ties broken by token asc
    assert got == [("a", 2, 1), ("b", 2, 2), ("c", 1, 3)]
    filtered = term_frequencies(df, "text", min_count=2).collect()
    assert sorted(r["token"] for r in filtered) == ["a", "b"]


def test_pack_sequences_param_guards(spark):
    from deep_ner_spark.operators.packing import pack_sequences

    df = _docs(spark, [1])
    with pytest.raises(ValueError, match="max_len"):
        pack_sequences(df, "doc_id", "text", 0)
    with pytest.raises(ValueError, match="n_shards"):
        pack_sequences(df, "doc_id", "text", 10, n_shards=0)


def test_chunk_stitching_reconstructs_tokens(spark):
    """Codec law: dropping each non-first chunk's first `overlap` tokens
    and concatenating in chunk order reproduces the original token list."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from deep_ner_spark.operators.packing import chunk_documents

    chunks = chunk_documents(docs, "doc_id", "text", 16, overlap=4).collect()
    by_doc = {}
    for r in sorted(chunks, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        toks = r["chunk_text"].split(" ")
        if r["chunk_idx"] > 0:
            toks = toks[4:]
        by_doc.setdefault(r["doc_id"], []).extend(toks)
    want = {
        r["doc_id"]: [t for t in r["text"].split() if t]
        for r in docs.collect()
        if r["text"].strip()
    }
    assert by_doc == want


def test_pack_sequences_invariants_on_corpus(spark):
    """Every bin fits max_len unless it holds a single oversize doc;
    offsets tile each bin exactly; every doc packed exactly once."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from deep_ner_spark.operators.packing import pack_sequences

    max_len = 100
    rows = pack_sequences(docs, "doc_id", "text", max_len, n_shards=4).collect()
    assert len(rows) == docs.count()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    bins = {}
    for r in rows:
        bins.setdefault((r["shard"], r["bin_in_shard"]), []).append(r)
    for members in bins.values():
        members.sort(key=lambda r: r["offset_in_bin"])
        fill = sum(r["n_tokens"] for r in members)
        assert fill <= max_len or len(members) == 1  # oversize owns its bin
        off = 0
        for r in members:
            assert r["offset_in_bin"] == off  # offsets tile the bin exactly
            off += r["n_tokens"]
