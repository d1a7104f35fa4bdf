"""Compression-ratio quality signal (the Gopher/CCNet-style "does this
text compress like natural language or like noise/boilerplate" filter).

zlib lives Python-side, so this is the sanctioned Python path: Arrow-batched
``mapInPandas`` with whole-batch vectorized work — never a row-at-a-time
UDF.  Ratios are deterministic (zlib at a fixed level is a pure function of
the bytes), but no ANSI engine exposes zlib, so the registered query gates
on INVARIANTS (q52-style ``(check_name, ok, n)`` rows) instead of value
parity: coverage, compressed-size bounds, a sane median, and partition
invariance (same checksum under a different partitioning — proof the
operator is a pure per-row function, not partition-order-dependent).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.checkpoints import truncate_plan
from cassandra_analytics_example_spark.operators.quantiles import (
    group_quantiles_exact,
)
from cassandra_analytics_example_spark.session import spread

SCORE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, n_compressed bigint, ratio double"
)


def compression_scores(
    df: DataFrame, id_col: str, text_col: str = "text", level: int = 6
) -> DataFrame:
    """Per-document zlib compression accounting: UTF-8 byte length,
    compressed length at a fixed level, and ratio = raw/compressed.
    Low ratios flag noise/encrypted/base64 blobs; very high ratios flag
    templated boilerplate — both ends get cut by quality filters.

    100 TB shape: embarrassingly parallel map over Arrow batches, no
    shuffle, output one row per input row."""

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            n_bytes = raw.map(len).astype("int64")
            n_comp = raw.map(
                lambda b: len(zlib.compress(b, level))
            ).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": n_bytes,
                    "n_compressed": n_comp,
                    "ratio": n_bytes / n_comp,  # n_comp >= 1 always
                }
            )

    cols = df.select(F.col(id_col).alias(id_col), F.col(text_col))
    return spread(cols).mapInPandas(_score, schema=SCORE_SCHEMA)


def compression_quality_checks(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Invariant gate for ``compression_scores``: ``(check_name, ok, n)``
    rows the driver oracle asserts all-true.

    * ``all_scored`` — one output row per input row (n = corpus size);
    * ``compressed_bounds`` — every compressed length in
      ``(0, n_bytes + 64]`` (zlib worst-case expansion is a few bytes of
      header/stored-block overhead; 64 is a generous fixed bound);
    * ``median_ratio_sane`` — corpus median ratio > 0.5 (fails only if
      most documents EXPAND by 2x, impossible for text);
    * ``partition_invariant`` — identical score checksum when the input
      arrives partitioned differently (pure-function proof).
    """
    scored = truncate_plan(compression_scores(df, id_col, text_col))
    n_docs = df.count()

    def row(name: str, ok_col, n_col) -> DataFrame:
        return scored.agg(
            F.lit(name).alias("check_name"),
            ok_col.alias("ok"),
            n_col.cast("bigint").alias("n"),
        )

    # XOR-fold the per-row 60-bit hashes: order-independent and can never
    # overflow (a SUM would exceed bigint under ANSI mode at scale)
    checksum = F.expr(
        "bit_xor(cast(conv(substring(md5(format_number(ratio, 9)), 1, 15), "
        "16, 10) as bigint))"
    )
    scored2 = compression_scores(
        df.repartition(7, id_col), id_col, text_col
    )
    other_sum = scored2.agg(checksum.alias("s"))

    all_scored = row(
        "all_scored",
        F.count(F.lit(1)) == F.lit(n_docs),
        F.count(F.lit(1)),
    )
    bounds = row(
        "compressed_bounds",
        F.sum(
            F.when(
                (F.col("n_compressed") <= 0)
                | (F.col("n_compressed") > F.col("n_bytes") + 64),
                1,
            ).otherwise(0)
        )
        == 0,
        F.sum(
            F.when(
                (F.col("n_compressed") <= 0)
                | (F.col("n_compressed") > F.col("n_bytes") + 64),
                1,
            ).otherwise(0)
        ),
    )
    # Median by distributed rank selection (constant group): F.median
    # buffers the whole column in one aggregation buffer — the banned
    # exact-quantile anti-pattern (see operators/quantiles.py). The
    # trailing agg keeps the check row present (ok NULL) on empty input,
    # matching F.median-on-empty semantics.
    # num_partitions=8: the scored audit table is corpus-row-count sized
    # (one row per doc, a few doubles each), so 8 range cells bound the
    # window while keeping the fixed task overhead low.
    med = group_quantiles_exact(
        scored.withColumn("__g", F.lit(1)),
        "__g",
        "ratio",
        {"med": 0.5},
        num_partitions=8,
    )
    median = med.agg(
        F.lit("median_ratio_sane").alias("check_name"),
        (F.min("med") > 0.5).alias("ok"),
        F.lit(0).cast("bigint").alias("n"),
    )
    invariant = (
        scored.agg(checksum.alias("s"))
        .crossJoin(F.broadcast(other_sum.withColumnRenamed("s", "s2")))
        .select(
            F.lit("partition_invariant").alias("check_name"),
            (F.col("s") == F.col("s2")).alias("ok"),
            F.lit(0).cast("bigint").alias("n"),
        )
    )
    return all_scored.unionByName(bounds).unionByName(median).unionByName(
        invariant
    )
