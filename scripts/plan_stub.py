"""Shared tooling helper: build query plans with materialize_release
stubbed to a pass-through.

Queries that end in ``materialize_release`` return a localCheckpoint
scan: their ``explain`` shows zero parquet Locations, so plan tooling
(scan_audit, measure_queries --plans) would under-report exactly the
queries it polices — and building the frame EAGERLY executes the whole
query during what should be a plan-only step (ADVICE r11 #1).  The
stub returns the un-checkpointed plan instead; it must only ever be
used for ``explain``, never to execute the returned frame (the
exscan-offset validity caveat of operators/sort.py ``_exscan`` assumes
the real materialization).

``materialize_release`` is imported both module-level and
function-local across kmr_spark, so the stub patches the session
module AND every already-imported kmr_spark module whose attribute is
the real function.
"""

from __future__ import annotations

import contextlib
import sys


@contextlib.contextmanager
def passthrough_materialize():
    import kmr_spark.session as sess

    real = sess.materialize_release

    def stub(out, *cached):
        return out

    patched = []
    for name, mod in list(sys.modules.items()):
        if not name.startswith("kmr_spark") or mod is None:
            continue
        if getattr(mod, "materialize_release", None) is real:
            setattr(mod, "materialize_release", stub)
            patched.append(mod)
    try:
        yield
    finally:
        for mod in patched:
            setattr(mod, "materialize_release", real)
