"""Synthesize an sf1.0-SHAPED documents corpus for relative profiling only.

Matches the observed testdata marginals: 31-word vocab, ~54 words/doc,
~5% of docs in a planted near-dup pair (J >= 0.5 at 3-gram shingles).
NOT the driver's generator — used only for A/B deltas at candidate-volume
scale, never for oracles.
"""
import sys, random
from pathlib import Path
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from deep_ner_spark.session import get_spark

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfsyn1.0"

VOCAB = ["batch","part","spark","line","column","order","small","sort","fast",
         "value","scan","query","agg","table","hash","vector","join","shuffle",
         "cache","disk","memory","core","task","stage","plan","row","group",
         "filter","merge","read","write"]

rng = random.Random(1234)
rows = []
doc_id = 0
while doc_id < N_DOCS:
    n = max(10, int(rng.gauss(54, 12)))
    words = [VOCAB[min(int(rng.expovariate(0.12)), 30)] for _ in range(n)]
    text = " ".join(words)
    rows.append((doc_id, text, rng.choice(["en","zh","de","fr","ru"]),
                 f"src{doc_id % 7}", len(text)))
    doc_id += 1
    if rng.random() < 0.026 and doc_id < N_DOCS:
        w2 = list(words)
        for _ in range(max(1, n // 12)):
            w2[rng.randrange(len(w2))] = rng.choice(VOCAB)
        t2 = " ".join(w2)
        rows.append((doc_id, t2, rng.choice(["en","zh"]), f"src{doc_id % 7}",
                     len(t2)))
        doc_id += 1

spark = get_spark("gen-syn")
spark.sparkContext.setLogLevel("ERROR")
df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
df.repartition(64).write.mode("overwrite").parquet(f"{OUT}/documents.parquet")
print("wrote", N_DOCS, "docs to", OUT)
