"""Operator families mirroring the reference inventory (SURVEY.md §2).

Each module holds free functions over DataFrames; the :class:`kmr_spark.kvs.KVS`
facade composes them into the reference's KVS-method surface.

- :mod:`.mapping` — map family (kmr_map*, reverse, pairing)
- :mod:`.shuffle` — exchange family (shuffle, replicate, distribute, union)
- :mod:`.reduce`  — aggregation family (reduce, count_keys, scans)
- :mod:`.sort`    — ordering family (sort, sort_locally, ranking, limit)
- :mod:`.join`    — cogroup-join family (match, inner/outer/semi/anti)
- :mod:`.search`  — point lookup (find_key, take_one)
- :mod:`.pyworker` — Python-worker start-up fix the Arrow operators call
"""

from kmr_spark.operators import join, mapping, reduce, search, shuffle, sort

__all__ = ["mapping", "shuffle", "reduce", "sort", "join", "search"]
