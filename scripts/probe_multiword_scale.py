"""Isolated scale probe for the three-word 132-bit hamming join
(VERDICT r11 Next #4's '≥10⁶-doc point'): synthesize N planted-family
three-word fingerprints (the same planted-truth design as the r11 1M-doc
chunked 72-bit probe — 5-member families, each member one flipped w0
bit, so every family pair sits at hamming 2 and truth = 10·N/5 pairs),
run dedup.hamming_pairs at the tuner's band width, and check
the output against the planted truth exactly.

The point being demonstrated: corpora that the two-word path could only
shard (the r11 1M-doc probe needed 4 chunks / 10 joins / 31.1 s) run as
ONE banded join at the 132-bit mesh's 22-bit bands.

Usage: python scripts/probe_multiword_scale.py [n_docs]   (default 1e6)
Run solo — this is a timing probe.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.getcwd())

N = int(float(sys.argv[1])) if len(sys.argv) > 1 else 1_000_000

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from openstack_billing_from_db_spark.functions.hashing import (  # noqa: E402
    seeded_hash64,
)
from openstack_billing_from_db_spark.operators import dedup  # noqa: E402

spark = (
    SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "16g")
    .appName("probe_multiword_scale")
    .getOrCreate()
)

WORD_BITS = 44
MASK = (1 << WORD_BITS) - 1

n_chunks, band_bits = dedup.tune_hamming_chunks(
    N, bits=3 * WORD_BITS, word_bits=WORD_BITS, max_hamming=4
)
print(f"n_docs={N}: tuner -> n_chunks={n_chunks}, band_bits={band_bits}")

fam = (F.col("id") / 5).cast("long")
flip = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(id, 5) AS INT))")
fp = spark.range(N).select(
    F.col("id").alias("doc_id"),
    (
        seeded_hash64(fam.cast("string"), "w0").bitwiseAND(F.lit(MASK))
    ).bitwiseXOR(flip).alias("w0"),
    seeded_hash64(fam.cast("string"), "w1").bitwiseAND(F.lit(MASK)).alias("w1"),
    seeded_hash64(fam.cast("string"), "w2").bitwiseAND(F.lit(MASK)).alias("w2"),
)

t0 = time.perf_counter()
pairs = dedup.chunked_hamming_pairs(
    fp,
    lambda subset: dedup.hamming_pairs(
        subset,
        word_bits=WORD_BITS,
        band_bits=band_bits,
        max_hamming=4,
        persist_input=False,
    ),
    n_chunks=n_chunks,
)
stats = pairs.agg(
    F.count(F.lit(1)).alias("n_pairs"),
    F.sum(F.when(F.col("hamming") == 2, 1).otherwise(0)).alias("n_ham2"),
    F.sum(
        F.when((F.col("doc_a") / 5).cast("long") == (F.col("doc_b") / 5).cast("long"), 1)
        .otherwise(0)
    ).alias("n_same_family"),
).collect()[0]
wall = time.perf_counter() - t0

truth = 10 * (N // 5)
print(
    f"wall={wall:.1f}s n_pairs={stats.n_pairs} (truth {truth}) "
    f"hamming2={stats.n_ham2} same_family={stats.n_same_family} "
    f"exact={stats.n_pairs == truth == stats.n_ham2 == stats.n_same_family}"
)
