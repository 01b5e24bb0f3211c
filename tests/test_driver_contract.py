"""Driver-contract hardening: the driver invokes ``__spark_entry__``
with ITS OWN SparkSession — not one built by ``session.builder`` — so
every query must work after only ``_ensure_conf``'s runtime conf sets.
This pins that path with a deliberately vanilla session config
(separate JVM app, engine defaults absent)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_entry_and_queries_on_vanilla_session():
    code = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .appName("vanilla-driver-sim")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as E
rows = E.entry(spark).collect()
assert len(rows) > 0 and len(rows[0].asDict()) > 0
qs = E.queries()
# one query per risk class: events-ts normalization, documents text
# fan-out, higher-order fuzzy keys
for name in ("t_mad_outliers", "l_span_dedup", "j_fuzzy"):
    out = qs[name](spark, "/root/testdata/sf0.001").collect()
    assert out is not None
print("VANILLA-OK")
""".format(repo=str(REPO))
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=600,
    )
    assert "VANILLA-OK" in r.stdout, r.stdout[-2000:] + r.stderr[-2000:]


def test_ensure_conf_applies_engine_tuning_on_bare_session():
    """A bare ``SparkSession.builder.getOrCreate()`` (200 shuffle
    partitions, no AQE posture guarantees) must pick up the FULL engine
    tuning from ``session._DEFAULTS`` the first time any driver-contract
    query runs — measured ~6x on the iterative tier otherwise. Run in a
    separate JVM so the suite's tuned session can't mask the cliff."""
    code = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .appName("bare-driver-sim")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
import __spark_entry__ as E
# an iterative catalog query (label propagation closure) through the
# driver-contract wrapper
out = E.queries()["l_dedup_groups"](spark, "/root/testdata/sf0.001").collect()
assert out is not None
from polars_fastx_spark.session import _DEFAULTS
# every key a live session can take was applied; the rest (the static
# codegen cache cap, the executorEnv launch settings) were skipped
modifiable = [k for k in _DEFAULTS if spark.conf.isModifiable(k)]
assert set(modifiable).issuperset((
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.session.timeZone",
))
assert not spark.conf.isModifiable("spark.sql.codegen.cache.maxEntries")
for k in modifiable:
    got = spark.conf.get(k)
    assert got == _DEFAULTS[k], (k, got, _DEFAULTS[k])
print("TUNED-OK")
""".format(repo=str(REPO))
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=600,
    )
    assert "TUNED-OK" in r.stdout, r.stdout[-2000:] + r.stderr[-2000:]


def test_every_exported_query_is_oracle_backed():
    """The driver records an oracle-less queries() entry as
    ``err: no_oracle`` even when nothing is broken, so the entry module
    exports only oracle-backed queries; the no-oracle forms stay in the
    catalog (API + pytest coverage) behind their pinned companions."""
    sys.path.insert(0, str(REPO))
    import __spark_entry__ as E
    from polars_fastx_spark.catalog import QUERIES

    qs, osql = E.queries(), E.oracle_sql()
    assert set(qs) <= set(osql), sorted(set(qs) - set(osql))
    dropped = {n for n in QUERIES if QUERIES[n].oracle is None}
    assert dropped == {
        "l_pq_topk", "l_ivfpq_topk", "l_pack_ffd", "x_sketch_hll"
    }
    # each dropped form's driver-green companion IS exported
    for twin in (
        "l_pq_topk_pinned", "l_ivfpq_topk_pinned",
        "l_pack_ffd_1p", "x_sketch_hll_exact",
    ):
        assert twin in qs, twin
