"""Count the processes the Spark JVM starts while a block runs.

    from jvm_spawns import process_spawns

    with process_spawns(spark) as spawns:
        query(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spawns  # Counter({"chmod": 40, ...}), filled when the block exits

An in-process ``jdk.jfr.Recording`` with only ``jdk.ProcessStart``
enabled (no stack traces) runs for the block, reached through py4j. In
local mode the executors run in that same JVM, so their spawns count
too. Each spawn is keyed by the base name of its executable. Without the
native libhadoop, Hadoop's local file system forks ``readlink`` and
``chmod`` processes; each fork costs milliseconds, which is why a count
is worth watching next to a query's time.
"""

from __future__ import annotations

import collections
import contextlib
import os
import tempfile


@contextlib.contextmanager
def process_spawns(spark):
    jvm = spark.sparkContext._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    spawns: collections.Counter = collections.Counter()
    rec.start()
    try:
        yield spawns
    finally:
        rec.stop()
        fd, path = tempfile.mkstemp(suffix=".jfr")
        os.close(fd)
        try:
            jpath = jvm.java.io.File(path).toPath()
            rec.dump(jpath)
            for event in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(jpath):
                argv = (event.getString("command") or "").split()
                spawns[os.path.basename(argv[0]) if argv else ""] += 1
        finally:
            rec.close()
            os.remove(path)
