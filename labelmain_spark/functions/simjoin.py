"""String-similarity join (SURVEY.md §2.3 J5): fuzzy matching of label
names/documents across sources — the cross-source reconciliation the
reference side-steps by exact addr keys.

Two implementations:

- `similarity_join` — pyspark.ml MinHashLSH ``approxSimilarityJoin``
  over hashed token vectors (the library path; import-try guarded).
  Rows-only driver check; its recall is property-tested against the
  exact `ngram_jaccard` pairs in tests.
- The DataFrame-native path is `functions.dedup.dedup_minhash` (same
  LSH math, fully oracle-checked); this module exists to cover the
  MLlib API surface a reference user would reach for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from labelmain_spark.sources.readers import load_table

try:  # pyspark.ml ships with pyspark, but keep the engine importable without it
    from pyspark.ml.feature import HashingTF, MinHashLSH

    HAS_ML = True
except Exception:  # pragma: no cover
    HAS_ML = False

DIST_THRESHOLD = 0.5  # jaccard distance → similarity ≥ 0.5


def similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self similarity-join of documents on token sets via MinHashLSH.

    Scale shape: HashingTF is a narrow map to sparse vectors; LSH
    amplification joins only colliding buckets (same banding idea as
    dedup_minhash). Output: (doc_a, doc_b, jaccard_dist) pairs.
    """
    if not HAS_ML:  # pragma: no cover
        raise NotImplementedError("pyspark.ml not available in this environment")
    from labelmain_spark.functions.dedup import _shingle_df

    # 3-gram shingles, not unigram tokens: the fixture's shared ~40-word
    # vocabulary makes unigram token-set jaccard high for nearly every
    # pair (88 k pairs at sf0.01); shingles give the same selectivity as
    # the rest of the dedup family.
    docs = _shingle_df(load_table(spark, sf_dir, "documents")).withColumnRenamed(
        "shingles", "tokens"
    )
    tf = HashingTF(inputCol="tokens", outputCol="vec", numFeatures=1 << 18, binary=True)
    vecs = tf.transform(docs)
    lsh = MinHashLSH(inputCol="vec", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(vecs)
    pairs = model.approxSimilarityJoin(vecs, vecs, DIST_THRESHOLD, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
    )


QUERIES = {
    "similarity_join": similarity_join,  # rows-only: MLlib LSH internals have no SQL twin
}

ORACLE: dict[str, str] = {}
