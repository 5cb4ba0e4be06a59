"""The Catalyst-injected estimator rule (plans/jvm/) must flip the join
strategy from the row counts in the parquet footers.

`spark.sql.extensions` is a static conf — it can only be applied when the
JVM starts — so this test drives a FRESH interpreter+JVM via subprocess
instead of the shared session fixture. One subprocess proves all three
contracts: the extension class loads; an un-hinted join of small parquet
tables plans as BroadcastHashJoin with the rule on (size heuristic
disabled, so only the rule can be responsible) and as SortMergeJoin with
the same rows once `spark.sql.optimizer.excludedRules` turns it off; and
a join the rule cannot count (`spark.range` frames) stays SortMergeJoin.

The rule ships in the engine's one committed jar; two more tests pin that
jar to the package's Scala sources (its manifest stamp, and a recompile).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = r"""
import sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
from columnar_estimator_sample_spark.plans.stats import extension_jar
jar = extension_jar()
spark = (SparkSession.builder.master("local[4]")
         .config("spark.jars", jar)
         .config("spark.driver.extraClassPath", jar)
         .config("spark.sql.extensions", "sparkgraft.NdvCatalogExtension")
         .config("spark.sql.autoBroadcastJoinThreshold", "-1")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sf = %(sf_dir)r

RULE = "spark.sql.optimizer.excludedRules"

def star():
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    nat = spark.read.parquet(f"{sf}/nation.parquet")
    reg = spark.read.parquet(f"{sf}/region.parquet")
    return (cust.join(nat, cust.c_nationkey == nat.n_nationkey)
            .join(reg, nat.n_regionkey == reg.r_regionkey)
            .select("c_name", "n_name", "r_name"))

def ranges():
    a = spark.range(100)
    b = spark.range(50).withColumnRenamed("id", "k")
    return a.join(b, a.id == b.k)

def strategy(df):
    p = df._jdf.queryExecution().executedPlan().toString()
    bhj, smj = "BroadcastHashJoin" in p, "SortMergeJoin" in p
    return "broadcast" if bhj and not smj else (
        "sortmerge" if smj and not bhj else "other")

for case, mk in (("STAR", star), ("RANGE", ranges)):
    on = mk()
    print(case, "ON", strategy(on), on.count())
    # the same JVM with the rule excluded: heuristics alone (disabled)
    spark.conf.set(RULE, "sparkgraft.NdvBroadcastRule")
    off = mk()
    print(case, "OFF", strategy(off), off.count())
    spark.conf.unset(RULE)
"""


sys.path.insert(0, os.path.join(REPO, "tools"))
from build_jvm_extension import (  # noqa: E402
    JAR as _JAR, compile_classes, jar_stamp, source_stamp,
)


def test_committed_jar_stamp_matches_scala_sources():
    """The jar's manifest carries the digest of the Scala sources it was
    built from: any edit to a ``.scala`` file under the package, without
    a rerun of tools/build_jvm_extension.py, fails here."""
    assert jar_stamp() == source_stamp(), (
        "committed sparkgraft-ext.jar was built from other Scala sources "
        "than the tree's — rerun tools/build_jvm_extension.py")


def test_committed_jar_matches_committed_source():
    """The jar is a committed binary: prove it is exactly what
    tools/build_jvm_extension.py produces from the committed .scala
    files (scalac class output is deterministic for a fixed toolchain —
    the one PySpark bundles — so a stale or tampered jar fails here)."""
    import hashlib
    import tempfile
    import zipfile

    assert os.path.exists(_JAR), \
        "extension jar missing (tools/build_jvm_extension.py)"
    with tempfile.TemporaryDirectory() as tmp:
        r = compile_classes(tmp)
        assert r.returncode == 0, r.stderr[-2000:]
        built = {}
        for root, _, files in os.walk(tmp):
            for f in files:
                p = os.path.join(root, f)
                rel = os.path.relpath(p, tmp)
                built[rel] = hashlib.sha256(
                    open(p, "rb").read()).hexdigest()
    with zipfile.ZipFile(_JAR) as z:
        jar_classes = {n: hashlib.sha256(z.read(n)).hexdigest()
                       for n in z.namelist() if n.endswith(".class")}
    assert built == jar_classes, (
        "committed sparkgraft-ext.jar does not match a fresh compile "
        "of the package's .scala files — rerun tools/build_jvm_extension.py")


@pytest.fixture(scope="module")
def probe(sf_dir):
    """{(case, "ON"|"OFF"): [strategy, rows]} from one fresh JVM."""
    if not os.path.exists(_JAR):
        pytest.skip("extension jar not built (tools/build_jvm_extension.py)")
    r = subprocess.run(
        [sys.executable, "-c", _PROBE % {"repo": REPO, "sf_dir": sf_dir}],
        capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    return {tuple(ln.split()[:2]): ln.split()[2:]
            for ln in r.stdout.splitlines()
            if ln.startswith(("STAR", "RANGE"))}


def test_injected_rule_flips_join_strategy(probe):
    assert probe[("STAR", "ON")][0] == "broadcast", probe
    assert probe[("STAR", "OFF")][0] == "sortmerge", probe
    rows = probe[("STAR", "ON")][1]
    assert rows == probe[("STAR", "OFF")][1] and int(rows) > 0, probe


def test_rule_leaves_uncountable_join_alone(probe):
    """spark.range leaves have no parquet footer: the rule adds no hint."""
    assert probe[("RANGE", "ON")][0] == "sortmerge", probe
    assert probe[("RANGE", "OFF")][0] == "sortmerge", probe
    rows = probe[("RANGE", "ON")][1]
    assert rows == probe[("RANGE", "OFF")][1] and int(rows) > 0, probe


_ENGINE_PROBE = r"""
import sys
sys.path.insert(0, %(repo)r)
from columnar_estimator_sample_spark.session import get_spark
from columnar_estimator_sample_spark.registry import queries
spark = get_spark("ndv_ext_probe", parallelism=4, ndv_extension=True,
                  extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1",
                              "spark.ui.enabled": "false"})
spark.sparkContext.setLogLevel("ERROR")
df = queries()["q_ndv_broadcast_join"](spark, %(sf_dir)r)
plan = df._jdf.queryExecution().executedPlan().toString()
print("PLAN broadcast" if "BroadcastHashJoin" in plan
      and "SortMergeJoin" not in plan else "PLAN other")
print("ROWS", df.count())
"""


@pytest.mark.skipif(
    not os.path.exists(_JAR),
    reason="extension jar not built (tools/build_jvm_extension.py)")
def test_engine_session_optin_drives_broadcast(sf_dir):
    """get_spark(ndv_extension=True) must load the extension, and the
    registered q_ndv_broadcast_join — a plain star join that sets
    nothing — must plan as pure broadcast joins from its tables' footer
    row counts even with the size heuristic disabled (fresh JVM: static
    conf)."""
    probe = _ENGINE_PROBE % {"repo": REPO, "sf_dir": sf_dir}
    r = subprocess.run([sys.executable, "-c", probe],
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "PLAN broadcast" in r.stdout, r.stdout
    rows = [ln for ln in r.stdout.splitlines() if ln.startswith("ROWS")]
    assert rows and int(rows[0].split()[1]) > 0, r.stdout
