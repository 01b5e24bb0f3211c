"""py4j round-trip budgets for building the hot front doors.

Every ``Column`` node built through the Python API costs py4j round
trips on the driver (the call itself, the JVM lookups behind it, and a
finalizer delete when the Python handle dies), about 5-7 per node. A
warm ``fasta_stats`` pass once spent more time building its expression
tree than the executor spent running it. These tests count every
``ClientServerConnection.send_command`` during one warm build, so a
regression back to node-by-node trees fails here rather than as a
slower benchmark.
"""

from __future__ import annotations

import gc
import time

import pytest
from py4j.clientserver import ClientServerConnection

from tests.conftest import FIXTURES, TESTDATA

from polars_fastx_spark import catalog
from polars_fastx_spark.pipeline import fasta_stats_frame
from polars_fastx_spark.sources.fastx import scan_fastx

#: Round trips each catalog builder made before its hot expressions
#: were written as SQL text, counted by :func:`round_trips` on sf0.001.
#: The budget is half of it.
BEFORE = {
    "q_agg_tpch1": 1059,
    "l_minhash_lsh": 2032,
    "l_simhash_neardup": 1730,
    "k_translate_protein": 1215,
    "k_longest_orf": 7527,
}


def _drain_finalizers(spark) -> None:
    """Collect dead Python handles and wait until py4j's finalizer
    thread has sent their deletes."""
    gc.collect()
    deque = spark.sparkContext._gateway._gateway_client.finalizer_deque
    deadline = time.monotonic() + 10
    while deque and time.monotonic() < deadline:
        time.sleep(0.01)
    # the worker pops a delete before it sends it
    time.sleep(0.2)


def round_trips(spark, build) -> int:
    """py4j commands sent while ``build()`` runs warm, the deletes of
    every handle it leaves behind included."""
    build()  # first use resolves JVM classes and methods once
    _drain_finalizers(spark)
    count = 0
    send = ClientServerConnection.send_command

    def counting(self, command):
        nonlocal count
        count += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        out = build()
        del out
        _drain_finalizers(spark)
    finally:
        ClientServerConnection.send_command = send
    return count


def test_fasta_stats_frame_budget(spark):
    df = scan_fastx(spark, str(FIXTURES / "basic.fasta"))
    n = round_trips(spark, lambda: fasta_stats_frame(df))
    assert n <= 100, n
    n = round_trips(spark, lambda: fasta_stats_frame(df, min_length=1, max_length=10**6))
    assert n <= 100, n


@pytest.mark.parametrize("name", sorted(BEFORE))
def test_catalog_builder_budget(spark, name):
    sf = str(TESTDATA / "sf0.001")
    fn = catalog.QUERIES[name].fn
    n = round_trips(spark, lambda: fn(spark, sf))
    assert n <= BEFORE[name] // 2, (n, BEFORE[name])
