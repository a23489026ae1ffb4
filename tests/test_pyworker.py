"""The Python-worker start-up fix (operators/pyworker.py): unchanged
zip archives on sys.path are not re-read by importlib.invalidate_caches,
rewritten ones are, and the Arrow operators that call the fix still run
in workers that cannot import kmr_spark."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12 re-reads zip directories lazily")
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    from kmr_spark.operators.pyworker import skip_unchanged_zip_rereads

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    # the patch is process-wide: restore the original method afterwards
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real_read(path))
    monkeypatch.delitem(sys.modules, "zmod_a", raising=False)
    monkeypatch.delitem(sys.modules, "zmod_b", raising=False)
    assert importlib.import_module("zmod_a").X == 1

    skip_unchanged_zip_rereads()
    skip_unchanged_zip_rereads()  # idempotent
    importlib.invalidate_caches()  # first look: read once, stat recorded
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    with zipfile.ZipFile(archive, "w") as z:  # rewritten in place
        z.writestr("zmod_a.py", "X = 1\n")
        z.writestr("zmod_b.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zmod_b").Y == 2


def test_kvs_python_stages_run_outside_repo_root(tmp_path):
    """A driver started outside the repository root (workers cannot
    import kmr_spark) still runs KVS.map and KVS.reduce."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from kmr_spark.kvs import KVS
        from kmr_spark.session import get_spark

        spark = get_spark("outside_root", shuffle_partitions=2)

        def probe(batches):
            try:
                import kmr_spark  # noqa: F401
                found = "importable"
            except ModuleNotFoundError:
                found = "missing"
            for pdf in batches:
                yield pdf.assign(value=found)

        seen = {{r.value for r in spark.range(2).selectExpr(
            "id AS key", "'' AS value").mapInPandas(
                probe, "key long, value string").collect()}}
        kvs = KVS.from_pairs(spark, [(i % 3, i) for i in range(12)],
                             "key long, value long")
        mapped = kvs.map(lambda k, v: [(k, v * 2)], "key long, value long")
        reduced = mapped.reduce(lambda k, vs: [(k, sum(vs))])
        print("RESULT", seen, sorted(reduced.collect_pairs()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "RESULT {'missing'} [(0, 36), (1, 44), (2, 52)]" in proc.stdout, (
        proc.stdout[-2000:], proc.stderr[-4000:])


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12 re-reads zip directories lazily")
def test_udaf_worker_skips_unchanged_pyspark_zip():
    """A Python worker that has run a functions.udafs UDAF twice no
    longer re-reads the unchanged pyspark.zip when importlib
    invalidates its caches before a task. One task slot, so every task
    runs in the same reused worker; the probe is the next task."""
    script = textwrap.dedent("""
        import os
        from pyspark.sql import functions as F
        from kmr_spark.functions.udafs import arrow_count, trimmed_sum
        from kmr_spark.session import get_spark

        spark = get_spark("udaf_zip_rereads", shuffle_partitions=1)
        df = spark.range(40).select((F.col("id") % 4).alias("g"), "id")
        for _ in range(2):
            df.groupBy("g").agg(trimmed_sum(F.col("id")),
                                arrow_count(F.col("id"))).collect()

        def probe(batches):
            import importlib
            import zipimport

            reads = []
            real = zipimport._read_directory
            zipimport._read_directory = lambda p: reads.append(p) or real(p)
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = real
            seen = ",".join(sorted({os.path.basename(p) for p in reads}))
            for pdf in batches:
                yield pdf.assign(value=seen or "none")

        rows = spark.range(1).selectExpr("id", "'' AS value").mapInPandas(
            probe, "id long, value string").collect()
        print("REREAD", rows[0].value)
        spark.stop()
    """)
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", script], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "REREAD none" in proc.stdout, (proc.stdout[-2000:], proc.stderr[-2000:])
