"""Fourth-decade scaling probe for the text/dedup family.

The driver provides sf0.001/0.01/0.1 (100x span).  This tool extends the
probe ONE more decade with a synthetic 10x corpus derived from sf0.1:
each of the 10 copies keeps the original's intra-copy duplicate
structure but is made textually disjoint from the other copies by a
per-copy vowel substitution (``translate``), so near-dup pair counts —
and therefore candidate-join work — grow LINEARLY with the copy count
instead of quadratically (a naive 10x concat would make every doc
collide with its 9 clones and measure an artifact, not the engine).

Writes the corpus to /tmp/spark_graft_sf1_synth/documents.parquet on
first run (50k docs), then times each query at sf0.1 vs the synthetic
sf1 and prints the per-decade alpha (t ~ n^alpha over THIS decade).

Usage: python tools/scale_probe_decade.py [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from inmem_vector_db_spark.session import get_spark, reset_memos  # noqa: E402

SYNTH_DIR = "/tmp/spark_graft_sf1_synth"
SRC_DIR = "/root/testdata/sf0.1"
COPIES = 10
# per-copy Caesar substitution over the full alphabet AND digits:
# copy i shifts every letter by i and every digit by i.  Any two
# copies' maps differ at EVERY letter and digit (shift difference
# != 0 mod 26 / mod 10), so every token containing at least one
# alphanumeric — hence every shingle and signature built from them —
# is textually disjoint across copies while each copy keeps the
# original's intra-copy duplicate structure.  (Punctuation-only
# tokens are the one residual collision class; the corpus generator
# produces none.)  (The earlier
# per-copy vowel permutations were not pairwise derangements: maps
# like 'aeoiu' fixed several vowels, letting vowel-only tokens collide
# across copies and re-admitting the cross-copy artifact this corpus
# exists to eliminate.)
_ALPHA = "abcdefghijklmnopqrstuvwxyz"
_DIGIT = "0123456789"
_COPY_MAPS = [
    _ALPHA[i:] + _ALPHA[:i] + _DIGIT[i:] + _DIGIT[:i] for i in range(10)
]

DEFAULT = [
    "dedup_signature_index",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "dedup_simhash_fast",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "crossdoc_shingle_dup",
    "decontam_overlap",
    "boilerplate_ngrams",
    "text_quality",
]


def build_synth(spark) -> None:
    from pyspark.sql import functions as F

    # gate on Spark's _SUCCESS marker, not bare directory existence: an
    # interrupted write leaves a partial corpus a later run would
    # silently probe
    if not os.path.exists(f"{SYNTH_DIR}/documents.parquet/_SUCCESS"):
        docs = spark.read.parquet(f"{SRC_DIR}/documents.parquet")
        n = docs.agg(F.max("doc_id")).head()[0] + 1
        parts = []
        for i in range(COPIES):
            d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * n))
            if i > 0:
                d = d.withColumn("text", F.translate("text", _ALPHA + _DIGIT, _COPY_MAPS[i]))
            parts.append(d)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(
            f"{SYNTH_DIR}/documents.parquet"
        )
    if not os.path.exists(f"{SYNTH_DIR}/embeddings.parquet/_SUCCESS"):
        # vector-family decade: 10 id-offset copies.  Exact duplicate
        # vectors are fine for timing kNN/ANN/LSH/PQ (per-row work is
        # duplicate-insensitive); the embedding near-dup family is NOT
        # probed here because clone collisions would measure an
        # artifact, not the engine (same reasoning as the vowel maps).
        emb = spark.read.parquet(f"{SRC_DIR}/embeddings.parquet")
        n = emb.agg(F.max("vec_id")).head()[0] + 1
        out = emb
        for i in range(1, COPIES):
            out = out.unionByName(emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * n)))
        out.repartition(32).write.mode("overwrite").parquet(
            f"{SYNTH_DIR}/embeddings.parquet"
        )


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    spark = get_spark("scale-probe-decade")
    spark.sparkContext.setLogLevel("ERROR")
    build_synth(spark)
    qs = entrymod.queries()
    out = {}
    for name in names:
        fn = qs[name]
        times = []
        for sf_dir in (SRC_DIR, SYNTH_DIR):
            fn(spark, sf_dir).collect()  # warm (builds/caches the artifact)
            if name == "dedup_signature_index":
                # measure the BUILD, not a cache read: drop the memoized
                # artifact so the timed run re-hashes the corpus (and
                # re-caches it for the queries that follow)
                reset_memos(spark)
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            times.append(time.perf_counter() - t0)
        alpha = (math.log(times[1]) - math.log(times[0])) / math.log(10.0)
        out[name] = {
            "sf0.1_s": round(times[0], 3),
            "sf1_synth_s": round(times[1], 3),
            "alpha": round(alpha, 3),
        }
        print(f"{name:28s} {times[0]:7.2f}s {times[1]:7.2f}s  alpha={alpha:+.2f}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
