#!/usr/bin/env python
"""Driver-sim oracle check for a subset of queries (or all).

Usage: python scripts/check_queries.py [--exact] [--sf DIR]
           [--oracle-timeout SECONDS] [name ...]
Mirrors the driver's compare: sorted columns, rounded floats,
None-safe row sort. Prints MATCH/MISMATCH per query and a BAD total.

--oracle-timeout N interrupts any DuckDB oracle running longer than N
seconds and reports ORACLE_TIMEOUT for that query instead of hanging
the sweep. Intended for at-scale runs (scale_bench corpora): the
oracles were written for the sf<=0.01 driver gate, and a few (e.g.
triple self-joins) hit catastrophic DuckDB join orders at 10x+ data
— that is an oracle-scale artifact, not an engine result, so it is
reported distinctly and NOT counted in BAD.

--exact models the driver's EXACT value hash for float cells: instead
of rounding to 6dp, each float is reduced to its IEEE-754 bit pattern
(struct.pack('<d')), so a last-ulp difference between Spark's
StrictMath and DuckDB's libm — or an accumulation-order-dependent
double fold — shows up as EXACTDIFF even when the 6dp compare says
MATCH. This is the failure class that kept events_user_entropy /
text_token_entropy red for two rounds (VERDICT r4 §wrong-2); run
--exact on every new float-emitting query before pinning it in a
driver window.
"""

import os
import struct
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# DuckDB result-column types the driver's typed hash treats the same as
# the corresponding Spark dtype.  Anything else — HUGEINT above all
# (DuckDB SUM(int)->HUGEINT), DECIMAL, UTINYINT... — hashes differently
# from Spark even when the fetched Python values are equal.
#
# Integer WIDTH does not matter: the r6 audit found three driver-GREEN
# queries (text_normalize r3, emb_ivf_cell_balance r5,
# orders_interpurchase_gaps r5) whose Spark column is `int` where the
# oracle emits BIGINT — all hash_match=true in their CORRECTNESS rows.
# So INTEGER and BIGINT form one family vs Spark's int/bigint; only
# cross-family drift (double vs int, varchar vs int, HUGEINT/DECIMAL
# anywhere) is a real driver-hash difference.
_PORTABLE = {
    "BIGINT": ("bigint", "int"),
    "INTEGER": ("int", "bigint"),
    "DOUBLE": ("double",),
    "VARCHAR": ("string",),
    "DATE": ("date",),
    "BOOLEAN": ("boolean",),
    "TIMESTAMP": ("timestamp", "timestamp_ntz"),
}


def main() -> None:
    argv = sys.argv[1:]
    exact = "--exact" in argv
    argv = [a for a in argv if a != "--exact"]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        del argv[i:i + 2]
    oracle_timeout = None
    if "--oracle-timeout" in argv:
        i = argv.index("--oracle-timeout")
        oracle_timeout = float(argv[i + 1])
        del argv[i:i + 2]

    from kmr_spark.session import task_slots
    import __spark_entry__ as e

    # a default session, as a caller of __spark_entry__ builds one: no
    # engine confs (the engine sets what it needs at runtime) and the
    # default 200 shuffle partitions; only the slot count follows the
    # host, as in every other harness
    spark = (SparkSession.builder.master(f"local[{task_slots()}]")
             .appName("check-queries").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def fresh_connection():
        c = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            path = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(path):
                # Spark-written layout (a directory of part files, flat
                # or Hive-partitioned day=.../part-*.parquet), e.g. the
                # scale_bench replicated corpus — recursive glob matches
                # both.
                path += "/**/*.parquet"
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return c

    con = fresh_connection()
    qs, osql = e.queries(), e.oracle_sql()
    names = argv or sorted(qs)
    keyf = lambda row: tuple((v is None, v) for v in row)
    if exact:
        cell = lambda v: (struct.pack("<d", v)
                          if isinstance(v, float) else v)
    else:
        cell = lambda v: round(v, 6) if isinstance(v, float) else v
    bad = 0
    timeouts = 0
    for name in names:
        sdf = qs[name](spark, sf_dir)
        scols = sorted(sdf.columns)
        srows = sorted(
            [tuple(cell(r[c]) for c in scols) for r in sdf.collect()],
            key=keyf)
        if name not in osql:
            print(name, "rows", len(srows), "(rows-only, no oracle)")
            continue
        # Inspect DuckDB-level result column TYPES before fetching:
        # HUGEINT fetches as a plain Python int, so the cell-category
        # compare below can't see it — but the driver's value hash is
        # type-sensitive and DID see it (all 3 r5 hash-fails were
        # uncast `(1000*SUM(..))//COUNT(*)` HUGEINT columns that this
        # script called MATCH — VERDICT r5 §wrong-3).  Flag any oracle
        # column whose DuckDB type is outside the portable set or
        # doesn't match the Spark dtype.
        drel = con.sql(osql[name])
        dtypes = {c: str(t).upper() for c, t in zip(drel.columns, drel.types)}
        stypes = dict(sdf.dtypes)
        typebad = []
        for c in sorted(dtypes):
            dt = dtypes[c]
            if dt not in _PORTABLE:
                typebad.append(f"{c}:{dt} not portable")
            elif c in stypes and stypes[c] not in _PORTABLE[dt]:
                typebad.append(f"{c}:{dt} vs spark {stypes[c]}")
        if oracle_timeout is not None:
            import threading

            box: dict = {}

            def _run():
                try:
                    r = con.execute(osql[name])
                    box["cols"] = [d[0] for d in r.description]
                    box["rows"] = r.fetchall()
                except Exception as exc:  # includes the interrupt
                    box["err"] = exc

            worker = threading.Thread(target=_run, daemon=True)
            worker.start()
            worker.join(oracle_timeout)
            if worker.is_alive():
                con.interrupt()
                worker.join(30)
                if worker.is_alive():
                    # DuckDB's interrupt is best-effort mid-operator; if
                    # the worker survived it, it still holds this
                    # connection's lock and the NEXT query would block
                    # forever.  Abandon the connection (the daemon
                    # thread dies with the process) and continue the
                    # sweep on a fresh one.
                    print(f"  oracle thread survived interrupt; "
                          "abandoning connection and reconnecting")
                    con = fresh_connection()
                timeouts += 1
                print(name, "rows", len(srows),
                      f"ORACLE_TIMEOUT(>{oracle_timeout:g}s — oracle-"
                      "scale artifact, engine result not judged)")
                continue
            if "err" in box:
                print(name, "rows", len(srows), "ORACLE_ERROR", box["err"])
                bad += 1
                continue
            dcols, fetched = box["cols"], box["rows"]
        else:
            rel = con.execute(osql[name])
            dcols = [d[0] for d in rel.description]
            fetched = rel.fetchall()
        idx = sorted(range(len(dcols)), key=lambda i: dcols[i])
        drows = sorted(
            [tuple(cell(r[i]) for i in idx) for r in fetched],
            key=keyf)
        rows_ok = srows == drows
        ok = rows_ok and not typebad
        # the driver's value-hash is TYPED: a DuckDB HUGEINT/DECIMAL
        # cell (fetched as Decimal) hashes differently from Spark's
        # int even when values are equal at 6dp — the round-3 blind
        # spot (events_props_extract / text_bigram_lm). Compare the
        # numeric category of each cell of the first row too.
        cat = lambda v: ("f" if isinstance(v, float)
                         else "i" if isinstance(v, (bool, int))
                         else type(v).__name__)
        tdiff = (ok and srows and drows
                 and [cat(v) for v in srows[0]] != [cat(v) for v in drows[0]])
        bad += (not ok) or bool(tdiff)
        # row-compare status and type-audit flag print INDEPENDENTLY:
        # a query that both mismatches rows and fails the type audit
        # shows its row-level diagnosis plus a TYPEBAD suffix, instead
        # of TYPEDIFF masking the (more actionable) row status.
        status = ("MATCH" if rows_ok
                  else "EXACTDIFF" if exact else "MISMATCH")
        if tdiff and rows_ok:
            status = "TYPEDIFF"
        if typebad:
            status += " TYPEBAD"
        print(name, "rows", len(srows), status)
        if typebad:
            print("  oracle type audit:", "; ".join(typebad))
        if tdiff:
            print("  spark types", [cat(v) for v in srows[0]],
                  "oracle types", [cat(v) for v in drows[0]])
        if not ok and srows and drows:
            print("  spark cols", scols, "oracle cols", sorted(dcols))
            print("  spark[0]", srows[0])
            print("  duck [0]", drows[0])
    # Surface unjudged queries in the machine-captured tail: a sweep can
    # end BAD: 0 while several oracles timed out and were never judged —
    # easy to misread as full exactness in at-scale evidence.
    tail = f"BAD: {bad}"
    if timeouts:
        tail += f" ORACLE_TIMEOUT: {timeouts}"
    print(tail)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
