"""Independent references and the order-invariant output digest.

Every job's output is reduced, inside its own Spark action, to a digest:
the row count and the sum over rows of ``crc32`` of a ``|``-joined key of
the row's columns (NULL as the empty string).  The references below build
the same key from plain pandas / NumPy / DuckDB computations over the
cached input tables, so a job passes only if every output row matches.

* transcripts (``backfill``, ``pit_attach``, ``score_stream``): a pandas
  as-of (``merge_asof`` with the operator's tie rules), sessionize,
  forward-fill and lag/lead, plus the pinned tokenizer for token counts.
  Feature matrices are compared byte for byte on a fixed sample of
  conversations against ``features.turn_feature_matrix``; the predicted
  spans of ``score_stream`` against a linear head and ``viterbi_decode``
  run turn by turn.
* ``near_dup``: the DuckDB oracle SQL of ``__spark_entry__.oracle_sql()``
  for ``jaccard_pairs`` and ``dup_clusters``, and a NumPy brute force over
  all document pairs for the SimHash pairs.
"""

from __future__ import annotations

import math
import re
import zlib
from collections import Counter

import numpy as np
import pandas as pd

SAMPLE_MOD = 97  # conversations with crc32(conv_id) % 97 == 0 are sampled
_TOKEN_COUNT_RE = re.compile(r"\w+|[^\w\s]")  # the pipeline's JVM regexp


def _cell(v) -> str:
    if v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
        return ""
    return str(v)


def digest_rows(rows) -> dict:
    """Digest of an iterable of row tuples (see the module docstring)."""
    n, total = 0, 0
    for row in rows:
        n += 1
        total += zlib.crc32("|".join(map(_cell, row)).encode())
    return {"rows": n, "crc": total}


def digest_frame(df: pd.DataFrame, cols) -> dict:
    return digest_rows(df[list(cols)].itertuples(index=False, name=None))


def is_sampled(conv_id: str) -> bool:
    return zlib.crc32(conv_id.encode()) % SAMPLE_MOD == 0


# --- transcripts -------------------------------------------------------------


def slim_reference(
    turns: pd.DataFrame,
    state: pd.DataFrame,
    lag_values: pd.Series,
    gap_seconds: float = 1800.0,
) -> pd.DataFrame:
    """As-of state, session ids, forward fills and lag/lead of one value.

    Tie rules of ``operators.asof.asof_join``: a state row at exactly a
    turn's ts attaches (``<=``), and among state rows sharing one ts the
    highest ``state_seq`` wins.  Sessions break on gaps > ``gap_seconds``
    in (ts, turn_idx) order; fills and lag/lead follow turn_idx order.
    """
    t = turns.assign(__v=lag_values.astype("Int64")).sort_values("ts", kind="stable")
    s = (
        state.rename(columns={"entity_id": "conv_id"})
        .sort_values(["ts", "state_seq"], kind="stable")[["conv_id", "ts", "state"]]
    )
    t = pd.merge_asof(
        t, s, on="ts", by="conv_id", direction="backward", allow_exact_matches=True
    )
    t["state_q"] = pd.array(
        [
            None if v is None or (isinstance(v, float) and math.isnan(v))
            else math.floor(float(v[0]) * 1e6)
            for v in t["state"]
        ],
        dtype="Int64",
    )
    t = t.sort_values(["conv_id", "ts", "turn_idx"], kind="stable")
    gap = t.groupby("conv_id")["ts"].diff().dt.total_seconds()
    t["session_id"] = (gap.isna() | (gap > gap_seconds)).astype(int).groupby(
        t["conv_id"]
    ).cumsum() - 1
    t = t.sort_values(["conv_id", "turn_idx"], kind="stable")
    g = t.groupby("conv_id")
    t["role_ffill"] = g["role"].ffill()
    t["tool_ffill"] = g["tool"].ffill()
    t["lag1"] = g["__v"].shift(1)
    t["lead1"] = g["__v"].shift(-1)
    return t


SLIM_KEY = (
    "conv_id", "turn_idx", "session_id", "role_ffill", "tool_ffill",
    "lag1", "lead1", "state_q",
)


def token_count(text: str, max_seq: int) -> int:
    return min(len(_TOKEN_COUNT_RE.findall(text)), max_seq)


def tokenized(turns: pd.DataFrame):
    """Per turn the [(token, start, end)] of its normalized text by the
    pinned tokenizer, plus the fitted shape vocabulary (count >= 3, sorted)."""
    from deep_ner_spark import textfns

    toks, counts = [], Counter()
    for text in turns["text"]:
        triples = textfns.tokenize_with_bounds(textfns.normalize_text(text))
        toks.append(triples)
        counts.update(textfns.shape_of_string(t) for t, _, _ in triples)
    vocab = tuple(sorted(s for s, c in counts.items() if c >= 3 and s != ""))
    return toks, vocab


def reference_matrix(triples, vocab, max_seq: int, emb_dim: int) -> np.ndarray:
    """Unpadded [n_tokens, width] float32 features of one turn."""
    from deep_ner_spark import textfns
    from deep_ner_spark.operators.features import turn_feature_matrix

    words = [t for t, _, _ in triples]
    tags = [textfns.heuristic_pos_dep(w, i) for i, w in enumerate(words)]
    m = turn_feature_matrix(
        words,
        [textfns.shape_of_string(w) for w in words],
        [p for p, _ in tags],
        [d for _, d in tags],
        vocab,
        max_seq,
        emb_dim,
    )
    return m[: min(len(words), max_seq)]


def featurize_reference(turns, state, max_seq: int, emb_dim: int) -> dict:
    """Expected digest of ``featurize_transcripts`` output and its vocab."""
    from deep_ner_spark.operators.features import feature_width

    toks, vocab = tokenized(turns)
    n_tok = pd.Series([min(len(t), max_seq) for t in toks], index=turns.index)
    ref = slim_reference(
        turns.assign(
            n_tokens=n_tok, feat_bytes=n_tok * feature_width(vocab, emb_dim) * 4
        ),
        state,
        turns["text"].map(lambda s: token_count(s, max_seq)),
    )
    sample_crc, sample_rows = 0, 0
    for pos in np.nonzero(turns["conv_id"].map(is_sampled).to_numpy())[0]:
        m = reference_matrix(toks[pos], vocab, max_seq, emb_dim)
        sample_crc += zlib.crc32(m.astype("<f4").tobytes())
        sample_rows += 1
    out = digest_frame(ref, SLIM_KEY + ("n_tokens", "feat_bytes"))
    out.update(sample_crc=sample_crc, sample_rows=sample_rows)
    return {"digest": out, "vocab": list(vocab)}


def linear_head(vocab, emb_dim: int, n_tags: int, seed: int):
    """Seeded integer head: zero rows on the embedding channel and small
    integers on the one-hot channels, so every logit is an exact float32
    integer whatever order a matmul sums in (a float head would make the
    engine's batched matmul and a per-turn reference differ in the last
    bit and flip near-tied Viterbi paths)."""
    from deep_ner_spark.operators.features import feature_width

    rng = np.random.default_rng([seed, 29])
    w = rng.integers(-2, 3, size=(feature_width(vocab, emb_dim), n_tags))
    w[:emb_dim] = 0
    w[emb_dim:, 0] += 1  # lean towards O (tag 0): entities stay sparse
    trans = rng.integers(-2, 3, size=(n_tags, n_tags))
    return w.astype(np.float32), trans.astype(np.float64)


def spans_reference(turns, vocab, classes, weights, transitions, max_seq, emb_dim):
    """Expected ``predict_entities`` rows, turn by turn."""
    from deep_ner_spark import textfns
    from deep_ner_spark.operators.viterbi import viterbi_decode

    rows = []
    for conv, turn_idx, text in zip(turns["conv_id"], turns["turn_idx"], turns["text"]):
        triples = textfns.tokenize_with_bounds(textfns.normalize_text(text))
        m = reference_matrix(triples, vocab, max_seq, emb_dim)
        if m.shape[0] == 0:
            continue
        labels = viterbi_decode(m @ weights, transitions)
        bounds = [(s, e) for _, s, e in triples][: m.shape[0]]
        for ne_type, spans in textfns.decode_bio_spans(bounds, classes, labels.tolist()).items():
            rows += [(conv, int(turn_idx), ne_type, s, e) for s, e in spans]
    return sorted(rows)


# --- near-duplicate documents ------------------------------------------------


def duckdb_oracles(docs_dir: str, names) -> dict:
    """Rows of the ``__spark_entry__.oracle_sql()`` queries over the documents table."""
    import duckdb

    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/*.parquet')"
        )
        return {n: con.execute(sql[n]).fetchall() for n in names}
    finally:
        con.close()


def simhash_reference(texts) -> np.ndarray:
    """``dedup.simhash64`` per document, as signed int64: bit b of a token
    is bit (b % 4) of hex digit (b // 4) of its md5; a document bit is set
    when more of its tokens have it set than not."""
    import hashlib

    votes: dict = {}
    out = np.zeros(len(texts), dtype=np.uint64)
    for k, text in enumerate(texts):
        sums = np.zeros(64, dtype=np.int64)
        for tok, c in Counter(text.split()).items():
            v = votes.get(tok)
            if v is None:
                h = hashlib.md5(tok.encode()).hexdigest()
                v = votes[tok] = np.array(
                    [1 if (int(h[b // 4], 16) >> (b % 4)) & 1 else -1 for b in range(64)]
                )
            sums += c * v
        out[k] = sum(1 << b for b in range(64) if sums[b] > 0)
    return out.view(np.int64)


_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.int64)


def hamming_pairs_reference(doc_ids, hashes, max_hamming: int = 3):
    """Every pair (id_a < id_b) within ``max_hamming`` bits, brute force."""
    order = np.argsort(doc_ids)
    ids, h = np.asarray(doc_ids)[order], hashes.view(np.uint64)[order]
    rows = []
    for i in range(len(ids) - 1):
        x = h[i + 1:] ^ h[i]
        d = sum(_POP16[((x >> np.uint64(s)) & np.uint64(0xFFFF)).astype(np.int64)] for s in (0, 16, 32, 48))
        for j in np.nonzero(d <= max_hamming)[0]:
            rows.append((int(ids[i]), int(ids[i + 1 + j]), int(d[j])))
    return rows
