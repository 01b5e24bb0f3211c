"""The package's Python worker daemon for local sessions.

``session.builder`` makes this module ``spark.python.daemon.module`` for
``local[...]`` masters, so the JVM starts ``python -m
polars_fastx_spark._daemon pyspark.worker`` where it would start
``python -m pyspark.daemon pyspark.worker``. It runs PySpark's own
daemon, ``pyspark.daemon.manager()``, after three changes. Figures are
from a 4-vCPU VM, ``local[4]``, warm session, medians of 15 runs of a
one-task ``spark.range(1, numPartitions=1).mapInArrow(f)`` noop write.

No delayed-ACK stall per task. Every executor task that runs Python (a
scan split, an ``applyInPandas`` group batch, a pandas UDF) is an
exchange of small writes over the worker's loopback TCP socket. The
JVM's side has Nagle's algorithm on: it holds a small write while an
earlier one is un-ACKed, and the worker's kernel delays its ACKs by up
to 40 ms, as it has no reply to piggyback them on. The held writes are
the JVM's, so TCP_NODELAY on the worker's side cannot help; an
immediate ACK can. The wrapper arms ``TCP_QUICKACK`` on the task socket
before every task (the kernel clears it again on its own), which also
sends an ACK still pending from the last task. The probe took 143-159 ms
without it and 98-132 ms with it; the same job without Python takes
41-66 ms, and the worker spends 1-4 ms of a task between its first byte
and its last. Where the platform has no ``TCP_QUICKACK`` the worker is
unchanged, and a socket that refuses the option (a Unix socket,
``spark.python.unix.domain.socket.enabled``) is left as it is.

No recompile of pyspark per daemon. The JVM puts ``pyspark.zip`` and the
py4j zip first on the worker's path. The zip holds no ``.pyc``, so each
daemon compiled pyspark from source: ``import pyspark.daemon`` takes
1.23-1.26 s from the zip and 0.23-0.25 s from the installed copy of the
same release. Importing this package first (``-m`` imports the package
before the module) lets ``_zipcache`` drop each zip from ``sys.path``
before anything imports pyspark, where the installed copy is the zip's
exact twin: the same ``version.py`` and the same size for every module
both hold (~16 ms to check). Only then is the swap safe: the JVM speaks
the worker protocol of its own release, and a worker from another
release, or a patched copy, could misread it without failing. A module
only the zip holds (its tests and benchmarks) is never imported by a
worker. On any mismatch the zip stays, as before.

Workers forked with the package loaded. The daemon imports this package
once, so the workers it forks share those pages and have ``_zipcache``
installed before their first call, whose import-cache invalidation
would otherwise re-read every zip on the path.

Together: the first Python job of a fresh session 1.83-2.99 s ->
1.27-1.71 s, and the one-task probe 265-377 ms -> 98-132 ms (before,
a worker that never imported the package also re-read the zips on
every call). Data-source planner daemons (``pyspark.sql.worker.*``)
do not read ``spark.python.daemon.module`` and are unchanged.
"""

from __future__ import annotations

import importlib
import socket


def quickack_before(task):
    """Wrap ``pyspark.daemon.worker``, which serves one task on
    ``sock``, so that it arms ``TCP_QUICKACK`` on ``sock`` first."""
    if not hasattr(socket, "TCP_QUICKACK"):
        return task

    def worker(sock, authenticated):
        try:
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 1)
        except OSError:
            pass  # not a TCP socket
        return task(sock, authenticated)

    return worker


def main() -> None:
    import pyspark.daemon

    # a forked worker calls ``worker`` through the module, once per task
    pyspark.daemon.worker = quickack_before(pyspark.daemon.worker)
    # read each zip on the path once here, under _zipcache, so that a
    # forked worker's first invalidation finds them recorded
    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
