"""Differential correctness under a DRIVER-SHAPED session.

`tools/check_oracle.py` uses the engine's own `get_spark`, which pins
UTC, 32 shuffle partitions, ANSI/AQE settings, etc. — the driver's gate
runs queries in a PLAIN `SparkSession.builder.getOrCreate()` that
inherits the host environment. Two defect classes already slipped
through that gap (round 4: HUGEINT oracle types; round 5: session-
timezone-dependent day boundaries), so this tool replays the driver's
shape exactly: plain session, default confs, the host timezone as-is
(run under `TZ=Europe/London ...` to harden: its summer offset moves a
zone-less midnight date across a day boundary), comparing every
registered query against its oracle with the same type-strict compare
as check_oracle, then checking that no query changed the session
timezone. The package is imported from the checkout this file lives in,
whatever the working directory.

Run:  python tools/driver_replica.py [sf_dir] [query ...]
      TZ=Europe/London python tools/driver_replica.py   # non-UTC probe

Exit 1 on any failure.
"""

from __future__ import annotations

import os
import sys
import time


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import SparkSession

    from check_oracle import compare, compare_types, run_duckdb, use_checkout

    use_checkout()
    spark = (SparkSession.builder.master("local[16]")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    host_tz = spark.conf.get("spark.sql.session.timeZone")

    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n = fails = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        n += 1
        t0 = time.time()
        try:
            res = fn(spark, sf_dir)
            spark_types = {f.name: f.dataType.simpleString()
                           for f in res.schema.fields}
            sdf = res.toPandas()
            odf, duck_types = run_duckdb(oracles[name], sf_dir)
            problems = (compare_types(duck_types, spark_types)
                        + compare(name, sdf, odf))
        except Exception as e:  # noqa: BLE001
            problems = [f"error: {e}"[:200]]
        if problems:
            fails += 1
            print(f"FAIL {name} ({time.time() - t0:.1f}s)")
            for p in problems[:3]:
                print(f"   - {p}")
    print(f"\n{n} queries under plain session "
          f"(host TZ), {fails} failed")
    end_tz = spark.conf.get("spark.sql.session.timeZone")
    if end_tz != host_tz:
        print(f"FAIL session timezone changed: {host_tz} -> {end_tz}")
        return 1
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
