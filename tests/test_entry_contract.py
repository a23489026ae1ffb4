"""Guards on the driver contract surface (__spark_entry__ / bench.py).

Cheap, Spark-free checks that catch wiring drift: a query registered
without its oracle, a bench name that doesn't resolve, duplicate names
across plan modules silently shadowing each other, a broken plan module
silently shrinking the registry.
"""

import glob
import importlib
import json
import os
import sys

import pytest

import __spark_entry__ as entry
import bench

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the round-12 plan changes lead _DRIVER_HEAD (OPTIMIZATION_r12.md)
_R12_RECHECKS = 12


def _correctness_rows() -> dict[int, list[str]]:
    """Round number -> row names (file key order) of every committed
    CORRECTNESS_r*.json."""
    rows = {}
    for f in sorted(glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
        with open(f) as fh:
            rows[rnd] = list(json.load(fh))
    assert rows, "no CORRECTNESS files — rotation has no evidence base"
    return rows


def test_every_oracle_has_a_query():
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(osql) <= set(qs), set(osql) - set(qs)


def test_every_query_has_an_oracle():
    # all current queries are oracle-checked; if a deliberately
    # rows-only query is ever added, list it here explicitly
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(qs) == set(osql), set(qs) ^ set(osql)


def test_bench_names_resolve():
    qs = entry.queries()
    for names in (bench.HEAVY_QUERIES, bench.SUMMARY_QUERIES):
        assert len(names) == len(set(names))
        missing = [n for n in names if n not in qs]
        assert not missing, missing


def test_bench_rejects_unregistered_heavy_name(monkeypatch):
    """bench.main must refuse a HEAVY_QUERIES name the registry lacks
    before it starts a Spark session, not skip it."""
    def no_spark(*args, **kwargs):
        raise AssertionError("bench started Spark before checking names")

    monkeypatch.setattr("kmr_spark.session.get_spark", no_spark)
    monkeypatch.setattr(bench, "HEAVY_QUERIES",
                        [*bench.HEAVY_QUERIES, "no_such_query"])
    with pytest.raises(ValueError, match="no_such_query"):
        bench.main()


def test_no_duplicate_names_across_modules():
    """QUERIES dicts merged in __spark_entry__ must not shadow each
    other: the union's size equals the sum of the parts."""
    parts = [importlib.import_module(m).QUERIES for m in entry.PLAN_MODULES]
    total = sum(len(p) for p in parts)
    merged = {}
    for p in parts:
        merged.update(p)
    assert len(merged) == total
    assert set(merged) == set(entry.queries())


def test_plan_module_import_error_propagates(monkeypatch):
    """A plan module that fails to import must fail the registry, not
    silently drop its queries."""
    monkeypatch.setitem(sys.modules, "kmr_spark.plans.wordcount", None)
    with pytest.raises(ImportError):
        entry.queries()


def test_duplicate_name_across_modules_raises(monkeypatch):
    from kmr_spark.plans import tpch, wordcount

    monkeypatch.setitem(wordcount.QUERIES, "tpch_q9", tpch.QUERIES["tpch_q9"])
    with pytest.raises(ValueError, match="tpch_q9"):
        entry.queries()


def test_rmat_override_guard(monkeypatch):
    """A KMR_RMAT_* override outside the scale sweep fails the registry;
    the sweep declares itself with KMR_RMAT_SWEEP."""
    monkeypatch.delenv("KMR_RMAT_SWEEP", raising=False)
    monkeypatch.setenv("KMR_RMAT_EDGES", "1000")
    with pytest.raises(RuntimeError, match="KMR_RMAT_EDGES"):
        entry.queries()
    monkeypatch.setenv("KMR_RMAT_SWEEP", "1")
    assert len(entry.queries()) >= 301


def test_driver_gate_rotation_invariants():
    """The driver checks exactly the FIRST 50 registry entries:
    - the registry starts with _DRIVER_HEAD, whose first 50 names are
      the rows of CORRECTNESS_r12.json in order,
    - every other name follows in reverse registration order,
    - the ledger is closed: every registered query has a driver row in
      some CORRECTNESS_r*.json, and every row names a registered query."""
    names = list(entry.queries())
    assert len(names) >= 301, f"registry must not shrink below 301, got {len(names)}"
    head = list(entry._DRIVER_HEAD)
    assert len(set(head)) == len(head) >= 50
    rows = _correctness_rows()
    assert head[:50] == rows[12]
    assert names[:len(head)] == head
    registered = [n for m in entry.PLAN_MODULES
                  for n in importlib.import_module(m).QUERIES]
    assert names[len(head):] == [n for n in reversed(registered)
                                 if n not in set(head)]
    checked = {n for r in rows.values() for n in r}
    assert set(names) == checked, (sorted(set(names) - checked),
                                   sorted(checked - set(names)))


def test_r12_window_is_the_50_longest_unchecked():
    """The head is not hand-picked: after its round-12 re-checks it must
    equal, in order, the names with the OLDEST latest-check round across
    CORRECTNESS_r01..r11 (alphabetical tie-break within a round),
    skipping the re-checks.  This re-derivation is how the rotation is
    audited; a stale head (e.g. copied forward a round) fails loudly
    instead of silently re-greening fresh rows."""
    latest = {}
    for rnd, names in _correctness_rows().items():
        if rnd >= 12:
            continue  # the window was derived from rounds 1-11 evidence
        for name in names:
            latest[name] = max(rnd, latest.get(name, 0))
    head = entry._DRIVER_HEAD
    rechecks = set(head[:_R12_RECHECKS])
    oldest = [n for n in sorted(latest, key=lambda n: (latest[n], n))
              if n not in rechecks]
    assert list(head[_R12_RECHECKS:]) == oldest[:len(head) - _R12_RECHECKS]


def test_bench_summary_queries_fit_driver_tail():
    """The final bench line must stay parseable from the driver's
    2000-byte stdout tail (BENCH_r03.json shows what overflow does):
    SUMMARY_QUERIES must resolve, stay unique, and — encoded with
    worst-case realistic values — fit the byte budget."""
    qs = entry.queries()
    assert len(bench.SUMMARY_QUERIES) == len(set(bench.SUMMARY_QUERIES))
    missing = [n for n in bench.SUMMARY_QUERIES if n not in qs]
    assert not missing, missing
    line = {
        "metric": "kmr_spark headline queries, warm-JVM cold-cache "
                  "noop-sink wall clock",
        "value": 99999.999, "value_best": 99999.999, "unit": "sec",
        "sf": 0.1, "n_queries": 304,
        # 99.99 is a realistic worst-case per-query width; the runtime
        # budget loop in main() drops entries past this anyway
        "queries": {n: 99.99 for n in bench.SUMMARY_QUERIES},
    }
    assert len(json.dumps(line, separators=(",", ":"))) \
        <= bench._SUMMARY_LINE_BUDGET
