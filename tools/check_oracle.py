"""Self-verification harness replicating the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle at the given
scale factor, compares row count, column names, and order-insensitive
values (columns sorted by name, rows sorted, exact cell equality with a
small float report for diagnosis). Run this before every commit:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def use_checkout() -> None:
    """Import the package from this checkout, both here and in Spark's
    Python workers, which start in the working directory. Call before
    the session starts: the JVM hands its environment to the workers."""
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in [os.environ.get("PYTHONPATH")] if p])


def source_tree_hash(repo: str) -> str:
    """Digest of every query-relevant source file (the package +
    ``__spark_entry__.py``). Stamped into CORRECTNESS_LOCAL.json at
    generation time; ``tests/test_registry.py`` recomputes it and goes
    red when the ledger predates a source edit (the r11 process miss:
    the close commit changed 4 operator files AFTER the ledger regen,
    and only a hand re-run caught it)."""
    h = hashlib.sha256()
    paths = [os.path.join(repo, "__spark_entry__.py")]
    pkg = os.path.join(repo, "columnar_estimator_sample_spark")
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        paths += [os.path.join(root, f) for f in sorted(files)
                  if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, repo).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_duckdb(sql: str, sf_dir: str) -> tuple[pd.DataFrame, dict[str, str]]:
    """-> (result frame, {column: DuckDB logical type}).

    The logical types come from the RELATION (pre-``fetchdf``) — round 4
    proved ``fetchdf()`` silently coerces HUGEINT -> float64, hiding the
    exact type class the driver hashes red on.
    """
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    rel = con.sql(sql)
    types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    return rel.fetchdf(), types


# Type families the driver's typed hash treats as equal (probed against
# the union of driver-green rows of rounds 1-4: BIGINT<->int is
# green 18 times, so integer WIDTH doesn't matter — but HUGEINT is
# hash-red every time, so family membership does).
_DUCK_FAMILY = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int",
    "FLOAT": "float", "DOUBLE": "float", "VARCHAR": "str",
    "DATE": "date", "BOOLEAN": "bool",
}
_SPARK_FAMILY = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float", "string": "str",
    "date": "date", "boolean": "bool",
}


def _family(duck_type: str) -> str:
    if duck_type.startswith("TIMESTAMP"):
        return "timestamp"
    return _DUCK_FAMILY.get(duck_type, f"FORBIDDEN({duck_type})")


def _spark_family(simple: str) -> str:
    if simple.startswith("timestamp"):
        return "timestamp"
    return _SPARK_FAMILY.get(simple, f"OTHER({simple})")


def compare_types(duck_types: dict[str, str],
                  spark_types: dict[str, str]) -> list[str]:
    """Driver-faithful type check: DuckDB relation types vs Spark schema."""
    problems = []
    for c, dt in duck_types.items():
        fam = _family(dt)
        if fam.startswith("FORBIDDEN"):
            problems.append(
                f"col {c}: oracle type {dt} is not Spark-representable "
                f"(driver hash-red; CAST it in the oracle SQL)")
        elif c in spark_types and fam != _spark_family(spark_types[c]):
            problems.append(
                f"col {c}: type family mismatch oracle={dt} "
                f"spark={spark_types[c]}")
    return problems


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
        elif df[c].map(lambda v: isinstance(v, (list, tuple))
                       or type(v).__name__ == "ndarray").any():
            df[c] = df[c].map(lambda v: str(list(v)) if v is not None else None)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns differ: spark={sorted(sdf.columns)} "
                        f"oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"row count differs: spark={len(sdf)} oracle={len(odf)}")
    s, o = normalize(sdf), normalize(odf)
    if len(s) == len(o):
        for c in s.columns:
            sv, ov = s[c], o[c]
            try:
                if sv.dtype.kind == "f" or ov.dtype.kind == "f":
                    svf = sv.astype(float)
                    ovf = ov.astype(float)
                    neq = ~((svf == ovf) | (svf.isna() & ovf.isna()))
                    if neq.any():
                        i = neq.idxmax()
                        diff = abs(svf[neq] - ovf[neq]).max()
                        problems.append(
                            f"col {c}: {int(neq.sum())} cells differ "
                            f"(max |diff|={diff:.3e}; first at row {i}: "
                            f"spark={svf[i]!r} oracle={ovf[i]!r})")
                else:
                    sv2 = sv.astype(object).where(~sv.isna(), None)
                    ov2 = ov.astype(object).where(~ov.isna(), None)
                    neq = [i for i in range(len(sv2))
                           if not _eq(sv2.iloc[i], ov2.iloc[i])]
                    if neq:
                        i = neq[0]
                        problems.append(
                            f"col {c}: {len(neq)} cells differ (first at row "
                            f"{i}: spark={sv2.iloc[i]!r} oracle={ov2.iloc[i]!r})")
            except Exception as e:  # noqa: BLE001
                problems.append(f"col {c}: compare error {e}")
    return problems


def _eq(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    try:
        return bool(a == b)
    except Exception:  # noqa: BLE001
        return str(a) == str(b)


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--json"]
    emit_json = "--json" in sys.argv[1:]
    out_name = "CORRECTNESS_LOCAL.json"
    if "--out" in argv:  # r14: the sf0.1 sweep writes its own ledger
        i = argv.index("--out")
        out_name = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    use_checkout()
    import __spark_entry__ as entrymod
    from columnar_estimator_sample_spark.session import get_spark

    spark = get_spark("check_oracle")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    failed, passed, rows_only = [], [], []
    ledger: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            res = fn(spark, sf_dir)
            spark_types = {f.name: f.dataType.simpleString()
                           for f in res.schema.fields}
            sdf = res.toPandas()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            ledger[name] = {"status": "fail", "rows": None,
                            "err": f"spark error: {e}"[:200]}
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            rows_only.append(name)
            ledger[name] = {"status": "rows_only", "rows": len(sdf),
                            "err": None}
            print(f"ROWS-ONLY {name}: {len(sdf)} rows "
                  f"({time.time() - t0:.1f}s)")
            continue
        try:
            odf, duck_types = run_duckdb(oracles[name], sf_dir)
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            ledger[name] = {"status": "fail", "rows": len(sdf),
                            "err": f"oracle error: {e}"[:200]}
            print(f"FAIL {name}: oracle error: {e}")
            continue
        problems = (compare_types(duck_types, spark_types)
                    + compare(name, sdf, odf))
        if problems:
            failed.append(name)
            ledger[name] = {"status": "fail", "rows": len(sdf),
                            "err": "; ".join(problems)[:200]}
            print(f"FAIL {name} ({len(sdf)} rows, {time.time() - t0:.1f}s)")
            for p in problems:
                print(f"   - {p}")
        else:
            passed.append(name)
            ledger[name] = {"status": "pass", "rows": len(sdf),
                            "err": None}
            print(f"PASS {name} ({len(sdf)} rows, {time.time() - t0:.1f}s)")

    print(f"\n{len(passed)} passed, {len(failed)} failed, "
          f"{len(rows_only)} rows-only")
    if emit_json:
        import json
        import subprocess
        out = os.path.join(REPO, out_name)
        prev = None
        if only and os.path.exists(out):
            # subset run: MERGE the fresh rows into the existing ledger
            # (full regeneration stays the norm; the merge keeps the
            # ledger covering newly-registered queries without a 30-min
            # full pass per addition — every merged row still comes from
            # a real differential run above). A subset run with no prior
            # ledger falls through to the fresh-payload branch; a subset
            # run against a DIFFERENT sf_dir than the ledger's is refused
            # (mixing scale factors would silently corrupt the ledger).
            with open(out) as f:
                prev = json.load(f)
            if prev.get("sf_dir") != sf_dir:
                print(f"REFUSING merge: ledger sf_dir={prev.get('sf_dir')}"
                      f" != run sf_dir={sf_dir}; rerun the full ledger at"
                      " this scale factor or drop --json")
                return 1
        if prev is not None:
            prev["queries"].update(ledger)
            counts = {"pass": 0, "fail": 0, "rows_only": 0}
            for row in prev["queries"].values():
                counts[row["status"]] += 1
            prev["n_pass"] = counts["pass"]
            prev["n_fail"] = counts["fail"]
            prev["n_rows_only"] = counts["rows_only"]
            payload = prev
        else:
            payload = {"sf_dir": sf_dir, "n_pass": len(passed),
                       "n_fail": len(failed),
                       "n_rows_only": len(rows_only),
                       "queries": ledger}
        # Staleness stamp: the source tree the rows were produced from
        # (subset merges re-stamp too — their rows come from the CURRENT
        # sources, and a merge into a ledger whose other rows predate a
        # source edit should go red, not hide it).
        payload["source_sha"] = source_tree_hash(REPO)
        try:
            payload["generated_at_commit"] = subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
                capture_output=True, text=True, timeout=10).stdout.strip()
        except Exception:  # noqa: BLE001
            payload["generated_at_commit"] = "unknown"
        with open(out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"wrote {out}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
