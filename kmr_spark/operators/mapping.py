"""Map-family operators (reference: kmr_map and friends).

The reference calls a C function per pair with 0..n outputs
(``kmr_mapfn_t``, reference src/kmr.h:725-738), OpenMP-batched
(src/kmrbase.c:1128-1190). Spark-first translation:

- When the transform is *expressible*, callers should use plain column
  expressions (``df.select`` / ``withColumn`` / ``filter``) — JVM-side,
  whole-stage-codegen, zero Python cost. The KVS facade exposes this as
  ``map_expr``.
- For arbitrary Python map functions we use ``mapInPandas`` — Arrow
  batches are the moral equivalent of KMR's OpenMP mapfn batching, never
  one Python call per row.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kmr_spark.operators.pyworker import skip_unchanged_zip_rereads


def map_pairs(
    df: DataFrame,
    fn: Callable[[Any, Any], Iterable[tuple[Any, Any]]],
    schema: str = "key long, value string",
) -> DataFrame:
    """Arbitrary mapfn: per (key, value) emit 0..n (key, value) pairs.

    Parity: kmr_map with a user mapfn (reference src/kmrbase.c:1347).
    Executes as Arrow-batched ``mapInPandas`` — one Python invocation per
    batch, not per row, so the hot path stays vectorizable.
    """
    names = [f.split()[0].strip() for f in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for pdf in batches:
            out_k, out_v = [], []
            for k, v in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                for nk, nv in fn(k, v):
                    out_k.append(nk)
                    out_v.append(nv)
            yield pd.DataFrame({names[0]: out_k, names[1]: out_v})

    return df.mapInPandas(run, schema=schema)


def map_once(spark, pairs: list[tuple[Any, Any]], schema: str = "key long, value string") -> DataFrame:
    """Generate a KVS from nothing (kmr_map_once, src/kmrbase.c:1460).

    Driver-side literals become a distributed DataFrame; for large
    generated inputs prefer ``spark.range(n)`` + expressions.
    """
    return spark.createDataFrame(pairs, schema=schema)


def map_skipping(df: DataFrame, order: list[str | Column], start: int, stride: int) -> DataFrame:
    """Every stride-th element under an explicit order (kmr_map_skipping,
    src/kmrbase.c:1192) — KMR's sampling primitive.

    KMR's element order is rank/insertion order; Spark has no such order,
    so the caller supplies one. Implemented with a ranking pass + modulo
    filter (distributed; no collect).
    """
    from kmr_spark.operators.sort import ranking

    ranked = ranking(df, order)
    return (
        ranked.filter((F.col("rank") >= start) & ((F.col("rank") - start) % stride == 0))
        .drop("rank")
    )


def reverse(df: DataFrame, key: str = "key", value: str = "value") -> DataFrame:
    """Swap key and value (kmr_reverse, src/kmrmoreops.c:159)."""
    return df.select(F.col(value).alias(key), F.col(key).alias(value))


def pairing(df: DataFrame, key: str = "key", value: str = "value") -> DataFrame:
    """(k, v) -> (k, struct(k, v)) (kmr_pairing, src/kmrmoreops.c:212).

    KMR serializes the pair into the value to tunnel it under a routing
    key; a nested struct column is the typed equivalent.
    """
    return df.select(F.col(key), F.struct(F.col(key).alias("k"), F.col(value).alias("v")).alias(value))


def unpairing(df: DataFrame, value: str = "value") -> DataFrame:
    """Inverse of :func:`pairing` (kmr_unpairing, src/kmrmoreops.c:234)."""
    return df.select(F.col(f"{value}.k").alias("key"), F.col(f"{value}.v").alias("value"))
