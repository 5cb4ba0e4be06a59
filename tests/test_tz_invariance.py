"""Timezone invariance under a DRIVER-SHAPED session.

The local harness (`session.py::get_spark`) pins
`spark.sql.session.timeZone=UTC`, so TZ-dependent day-boundary math can
never fail locally — but the driver runs queries in a PLAIN session that
inherits the host timezone. Every timestamp column the queries read is
zone-less (Spark `timestamp_ntz`) or raw INT64 nanoseconds, and every
conversion to epoch µs is zone-free (`sources.tables.epoch_us`), so no
query build writes the session timezone.

This test replays that scenario — plain session, host timezone
Europe/London, via a subprocess because the host TZ must be set before
the JVM starts — and asserts oracle equality. London, unlike New York,
moves midnight dates across a day boundary when a zone-less date is
read as local time in summer, which shifted the relational queries
below by one hour whenever they ran before any events query. They run
first; the events/timeseries probes follow; the session timezone must
still be the host's at the end.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOST_TZ = "Europe/London"

# zone-less order/ship dates converted to epoch µs, run before any events
# read: half splits, day-count percentiles
RELATIONAL_QUERIES = ["q_revenue_movers", "q_assortment_turnover",
                      "q_ship_latency", "q_value_migration"]
# one per formerly-failing events shape: window anomaly (date strings),
# epoch-us passthrough, OLS over day numbers, calendar resample
PROBE_QUERIES = ["q_rate_anomaly", "q_ewma", "q_ols_trend",
                 "q_resample_ohlc"]

_PROBE = r"""
import sys
sys.path.insert(0, %(repo)r)
sys.path.insert(0, %(repo)r + "/tools")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as em
from check_oracle import run_duckdb, compare, compare_types
qs = em.queries(); oracles = em.oracle_sql()
for name in %(names)r:
    res = qs[name](spark, %(sf_dir)r)
    st = {f.name: f.dataType.simpleString() for f in res.schema.fields}
    sdf = res.toPandas()
    odf, dt = run_duckdb(oracles[name], %(sf_dir)r)
    probs = compare_types(dt, st) + compare(name, sdf, odf)
    print(("FAIL " if probs else "PASS ") + name
          + ("" if not probs else ": " + probs[0][:120]))
print("TZ " + spark.conf.get("spark.sql.session.timeZone"))
"""


def test_plain_session_nonutc_matches_oracle(sf_dir):
    names = RELATIONAL_QUERIES + PROBE_QUERIES
    probe = _PROBE % {"repo": REPO, "names": names, "sf_dir": sf_dir}
    env = dict(os.environ, TZ=HOST_TZ)
    r = subprocess.run([sys.executable, "-c", probe],
                       capture_output=True, text=True, timeout=600,
                       env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [ln for ln in r.stdout.splitlines()
             if ln.startswith(("PASS", "FAIL"))]
    assert len(lines) == len(names), r.stdout
    assert all(ln.startswith("PASS") for ln in lines), r.stdout
    assert f"TZ {HOST_TZ}" in r.stdout.splitlines(), r.stdout
