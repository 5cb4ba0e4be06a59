"""The benchmark's workloads. Each one is a closed loop of requests from a
single client thread; the seed fixes the generated inputs and the request
order, nothing else.

A workload object has four phases, called in this order by ``run.py``:

* ``prepare()`` — build inputs and expected answers (not part of set-up
  time: it is the benchmark's own work);
* ``warm_up(spark)`` — the workload's part of engine set-up, timed inside
  ``setup_s``;
* ``prime(spark)`` — untimed requests that let lazy set-up finish (JIT,
  Python workers, code generation) before the timed loop;
* ``units(spark, tracer_for)`` — the timed requests, grouped in units (a
  pass over the query pool; a streaming segment) so every run holds the
  same mix.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import check
import datagen
from harness import JobCounters, Tracer


class Request:
    """One timed request. ``fn()`` performs it and returns a dict of
    per-request facts; it raises on a wrong answer."""

    def __init__(self, rid: str, label: str, fn):
        self.rid, self.label, self.fn = rid, label, fn


class WrongAnswer(Exception):
    pass


# ================================================================ olap_warm

OLAP_POOL = [
    "q01_pricing_summary", "q03_shipping_priority", "q05_regional_revenue",
    "q06_forecast_revenue", "q10_top_customers",
    "q19_disjunctive_predicates", "q_window_topk_per_group", "q_sessionize",
    "q_time_buckets", "q_json_extract", "q_hypertable_rollup",
    "q_funnel_exclusion", "q_corr_matrix", "q_ndv_catalog",
    "q_trace_top_ops",
]
#: tables the pool reads (q_ndv_catalog touches documents)
OLAP_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents"]
SF = 0.01
DATA_SEED = 42
#: one warm pass over the pool takes about this long on 4 cores
PASS_SECONDS = 6.5


def ensure_tables(cache: str) -> str:
    """Generate the star schema once per checkout; the STAMP file is
    written last, so a killed generation is redone."""
    sf_dir = os.path.join(cache, f"sf{SF}-v{datagen.TABLES_VERSION}")
    stamp = os.path.join(sf_dir, "STAMP")
    if not os.path.exists(stamp):
        shutil.rmtree(sf_dir, ignore_errors=True)
        datagen.write_tables(sf_dir, SF, DATA_SEED)
        with open(stamp, "w") as f:
            f.write(f"sf={SF} seed={DATA_SEED} v={datagen.TABLES_VERSION}\n")
    return sf_dir


def _family(fn) -> str:
    """Defining module of a registered query, digits stripped
    (operators.relational3 -> relational)."""
    mod = getattr(fn, "__wrapped__", fn).__module__
    return mod.rsplit(".", 1)[-1].rstrip("0123456789")


class OlapWarm:
    name = "olap_warm"

    def __init__(self, seed: int, seconds: int, cache: str, trace: bool):
        self.seed, self.cache = seed, cache
        # traced runs alternate untraced and traced passes
        self.n_units_total = max(1, round(seconds / PASS_SECONDS)) * (
            2 if trace else 1)
        self.sf_dir = ensure_tables(cache)
        self.expected: dict[str, pa.Table] = {}
        self.families = {}

    def prepare(self) -> None:
        from columnar_estimator_sample_spark import registry
        oracles = registry.oracle_sql()
        self.expected = check.oracle_answers(
            self.sf_dir, OLAP_TABLES, {q: oracles[q] for q in OLAP_POOL},
            os.path.join(self.cache, "expected"))

    def warm_up(self, spark) -> None:
        from columnar_estimator_sample_spark.sources import tables
        for t in OLAP_TABLES:
            tables.table(spark, self.sf_dir, t)

    def prime(self, spark) -> None:
        """Untimed: one pass four queries at a time, to compile and load
        quickly (concurrent builds may race on the registry's per-query
        conf pins, which affect speed, never results), then one pass in
        the timed loop's order of calls, because latency keeps falling
        after the first pass."""
        from columnar_estimator_sample_spark import registry
        qs = registry.queries()
        with ThreadPoolExecutor(4) as ex:
            for f in [ex.submit(lambda q=q: qs[q](spark, self.sf_dir).toArrow())
                      for q in OLAP_POOL]:
                f.result()
        for q in OLAP_POOL:
            qs[q](spark, self.sf_dir).toArrow()

    def units(self, spark, tracer_for):
        """Yields lists of requests, one list per pass; each pass is a
        fresh seeded permutation of the pool."""
        from columnar_estimator_sample_spark import registry
        qs = registry.queries()
        self.families = {q: _family(qs[q]) for q in OLAP_POOL}
        rng = random.Random(self.seed)
        counters = JobCounters(spark)
        for u in range(self.n_units_total):
            order = list(OLAP_POOL)
            rng.shuffle(order)
            tracer = tracer_for(u)
            yield [Request(f"u{u}.{i}.{q}", q,
                           lambda q=q, rid=f"u{u}.{i}.{q}", tracer=tracer:
                           self._request(spark, qs[q], q, rid, tracer, counters))
                   for i, q in enumerate(order)]

    def _request(self, spark, fn, q: str, rid: str, tracer: Tracer,
                 counters: JobCounters) -> dict:
        if not tracer.enabled:
            tbl = fn(spark, self.sf_dir).toArrow()
            if not check.same(tbl, self.expected[q]):
                raise WrongAnswer(q)
            return {"rows": tbl.num_rows}
        info: dict = {"query": q}
        with tracer.span("request", rid):
            j0 = counters.next_job_id()
            with tracer.span("registry.build", rid):
                df = fn(spark, self.sf_dir)
            j1 = counters.next_job_id()
            with tracer.span("plans.plan", rid):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("deliver.collect", rid):
                t0 = time.perf_counter()
                tbl = df.toArrow()
                info["collect_s"] = time.perf_counter() - t0
            with tracer.span("check", rid):
                ok = check.same(tbl, self.expected[q])
            j2 = counters.next_job_id()
        info["rows"] = tbl.num_rows
        info["build_jobs"] = j1 - j0
        info["counters"] = counters.collect(j0, j2)
        info["scan_rows"] = _scan_rows(df)
        if not ok:
            raise WrongAnswer(q)
        return info


def _scan_rows(df) -> int:
    from columnar_estimator_sample_spark.plans.profiler import (
        collect_plan_metrics,
    )
    return sum(rec["metrics"].get("numOutputRows", ("", 0))[1]
               for rec in collect_plan_metrics(df, execute=False)
               if "Scan" in rec["op"])


# ========================================================== tfrecord_ingest

#: the reference trainer's batch size (``batch(512)`` in its input pipeline)
BATCH_ROWS = 512
SEGMENT = 6           # batches per stream segment
PRIME_BATCHES = 2
AUC_FLOOR = 0.6
#: sketch precision of the per-batch catalog. At the library default
#: (0.02) one 26-column catalog costs ~7 s on 4 cores whatever the batch
#: size, more than the rest of the request; 0.05 costs ~1 s.
HLL_RSD = 0.05
#: one segment takes about this long on 4 cores
SEGMENT_SECONDS = 25.0


class TfrecordIngest:
    name = "tfrecord_ingest"

    def __init__(self, seed: int, seconds: int, cache: str, trace: bool):
        self.seed = seed
        # traced runs alternate untraced and traced segments
        self.n_units_total = max(1, round(seconds / SEGMENT_SECONDS)) * (
            2 if trace else 1)
        self.root = os.path.join(cache, f"tfrecord-{os.getpid()}")
        self.batches: list[pa.Table] = []
        self.exact_ndv: list[dict[str, int]] = []
        self.cats = [f"cat{j}" for j in range(1, datagen.N_CAT + 1)]

    def prepare(self) -> None:
        n = self.n_units_total * SEGMENT + PRIME_BATCHES
        self.batches = [datagen.criteo_batch(self.seed, i, BATCH_ROWS)
                        for i in range(n)]
        self.exact_ndv = [{c: len(pc.unique(b.column(c)))
                           for c in self.cats} for b in self.batches]

    def warm_up(self, spark) -> None:
        from columnar_estimator_sample_spark.sources.tfrecord import (
            register_tfrecord,
        )
        register_tfrecord(spark)

    def prime(self, spark) -> None:
        """Untimed batches through write, landing and cataloguing on a
        throw-away segment: request latency falls over the first few
        batches of a new JVM."""
        seg = self._segment(spark, "prime")
        for k in range(PRIME_BATCHES):
            self._batch(spark, seg, self.n_units_total * SEGMENT + k, k,
                        Tracer(False), None)
        shutil.rmtree(seg["dir"], ignore_errors=True)

    def _segment(self, spark, tag: str) -> dict:
        d = os.path.join(self.root, tag)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "in"))
        stream = (spark.readStream.format("tfrecord_example")
                  .schema(datagen.CRITEO_DDL)
                  .option("path", os.path.join(d, "in", "*", "part-*"))
                  .load())
        return {"dir": d, "stream": stream}

    def units(self, spark, tracer_for):
        """One stream segment per unit: a fresh source directory and
        checkpoint, so per-request work never grows with earlier batches.
        The last traced segment ends with a training request over its
        landed epochs."""
        counters = JobCounters(spark)
        prev = None
        for u in range(self.n_units_total):
            if prev is not None:
                shutil.rmtree(prev["dir"], ignore_errors=True)
            seg = prev = self._segment(spark, f"seg{u}")
            tracer = tracer_for(u)
            reqs = []
            for k in range(SEGMENT):
                i = u * SEGMENT + k
                rid = f"u{u}.b{i}"
                reqs.append(Request(
                    rid, "batch",
                    lambda i=i, k=k, rid=rid, seg=seg, tracer=tracer:
                    self._batch(spark, seg, i, k, tracer, counters, rid)))
            if tracer.enabled and u == self.n_units_total - 1:
                reqs.append(Request(
                    f"u{u}.train", "train",
                    lambda seg=seg, tracer=tracer, rid=f"u{u}.train":
                    self._train(seg, tracer, rid)))
            yield reqs

    def _batch(self, spark, seg: dict, i: int, epoch: int, tracer: Tracer,
               counters, rid: str = "") -> dict:
        from columnar_estimator_sample_spark.plans.stats import (
            hash_bucket_sizes,
            ndv_catalog,
        )
        from columnar_estimator_sample_spark.streaming.windows import (
            foreach_batch_parquet_sink,
        )
        batch = self.batches[i]
        shard_dir = os.path.join(seg["dir"], "in", f"b{i:06d}")
        out_dir = os.path.join(seg["dir"], "out")
        traced = tracer.enabled and counters is not None
        j0 = counters.next_job_id() if traced else 0
        with tracer.span("request", rid):
            with tracer.span("tfrecord.write", rid):
                t0 = time.perf_counter()
                (spark.createDataFrame(batch).repartition(4)
                 .write.format("tfrecord_example")
                 .option("compression", "gzip").mode("overwrite")
                 .save(shard_dir))
                t1 = time.perf_counter()
            with tracer.span("streaming.land", rid):
                foreach_batch_parquet_sink(seg["stream"], out_dir,
                                           os.path.join(seg["dir"], "ckpt"))
                t2 = time.perf_counter()
            epoch_dir = os.path.join(out_dir, f"epoch={epoch}")
            with tracer.span("stats.ndv_catalog", rid):
                catalog = ndv_catalog(spark.read.parquet(epoch_dir),
                                      self.cats, rsd=HLL_RSD)
                hash_bucket_sizes(catalog)
                t3 = time.perf_counter()
            with tracer.span("check", rid):
                got = pq.read_table(epoch_dir)
                same_rows = got.select(batch.column_names).sort_by(
                    "row_hash").equals(batch.sort_by("row_hash"))
                err = max(abs(catalog[c] - n) / n
                          for c, n in self.exact_ndv[i].items())
        info = {"examples": batch.num_rows, "write_s": t1 - t0,
                "land_s": t2 - t1, "ndv_s": t3 - t2, "ndv_rel_err": err}
        if traced:
            info["counters"] = counters.collect(j0, counters.next_job_id())
            info["shard_bytes"] = _dir_bytes(shard_dir)
            info["landed_bytes"] = _dir_bytes(epoch_dir)
        if not same_rows:
            raise WrongAnswer(f"batch {i}: landed rows differ")
        # HLL++ error is roughly N(0, rsd) per column: with 26 columns per
        # batch a 3-rsd limit would fail a correct run now and then
        if err > 4 * HLL_RSD:
            raise WrongAnswer(f"batch {i}: NDV error {err:.3f}")
        return info

    def _train(self, seg: dict, tracer: Tracer, rid: str) -> dict:
        """``ml.train_linear`` over every epoch the segment landed, with a
        fifth of the rows (by row_hash) held out for the AUC."""
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F

        from columnar_estimator_sample_spark.ml.train import train_linear
        spark = SparkSession.getActiveSession()
        with tracer.span("request", rid):
            with tracer.span("ml.train_linear", rid):
                landed = spark.read.parquet(
                    os.path.join(seg["dir"], "out")).drop("epoch")
                test = F.col("row_hash") % 5 == 0
                auc = train_linear(landed.where(~test), landed.where(test)).auc
        if not auc >= AUC_FLOOR:
            raise WrongAnswer(f"AUC {auc:.3f} < {AUC_FLOOR}")
        return {"auc": auc}

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs
               if not f.startswith(".") and not f.startswith("_"))


WORKLOADS = {w.name: w for w in (OlapWarm, TfrecordIngest)}
