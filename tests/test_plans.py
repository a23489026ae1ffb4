"""Wordcount / graysort / analytics plans vs DuckDB oracle at sf0.01."""

import pytest

from kmr_spark.plans import analytics, graysort, wordcount
from tests.conftest import SF_SMALL, assert_matches_oracle


def _all():
    out = {}
    for m in (wordcount, graysort, analytics):
        for name in m.QUERIES:
            out[name] = (m.QUERIES[name], m.ORACLE_SQL[name])
    return out


@pytest.mark.parametrize("name", sorted(_all()))
def test_plan_matches_oracle(spark, duck, name):
    fn, sql = _all()[name]
    assert_matches_oracle(spark, duck, fn, sql)


@pytest.mark.parametrize("name", ["iter_kmeans", "graysort_rank"])
def test_query_leaves_no_cached_dataset(spark, name):
    """A query that persists intermediates releases them before it
    returns: the cache manager holds as many entries after the call
    (and after collecting its result) as before it."""
    import __spark_entry__ as entry

    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    out = entry.queries()[name](spark, SF_SMALL)
    assert cm.numCachedEntries() == before
    assert out.collect()
    assert cm.numCachedEntries() == before


def test_graysort_releases_caches_when_ranking_fails(spark, monkeypatch):
    """A failure inside the ranking still releases the keyed cache and
    any sort cache the ranking registered."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()

    def failing_ranking(df, order, cache_registry):
        cache_registry.append(df.orderBy(*order).persist())
        raise RuntimeError("ranking failed")

    monkeypatch.setattr(graysort, "ranking", failing_ranking)
    with pytest.raises(RuntimeError, match="ranking failed"):
        graysort.graysort_rank(spark, SF_SMALL)
    assert cm.numCachedEntries() == before
