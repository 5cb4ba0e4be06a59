"""Table access over the driver's parquet testdata.

The reference's scan layer expands a file glob and reads schema'd records
with per-column defaults (/root/reference/trainer.py:175-246). Spark globs
natively and parquet carries its schema, so a table load is one line; this
module adds the small conveniences the query suite needs (cached handles per
(session, sf_dir), temp-view registration for SQL-side queries).

Scale note: loads are plain ``spark.read.parquet`` so Catalyst column
pruning and predicate pushdown reach the scan untouched. Nothing here
materializes or collects.
"""

from __future__ import annotations

import atexit
import os
import threading
from typing import Callable, TypeVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

T = TypeVar("T")


# THE PER-SESSION ARTIFACT STORE: (applicationId, *key) -> value, filled
# by :func:`memo`. It holds the table handles below and every derived
# artifact built from them (IVF coarse assignments and inverted files,
# ER pair/entity frames, set-join contractions, LM scores, landed export
# tables, ...). Each key starts with a name for its artifact, e.g.
# ("table", sf_dir, name); the applicationId prefix means a new session
# never sees another JVM's checkpoint or table.
#
# IMMUTABILITY CONTRACT: a table handle pins the parquet file listing
# captured at first read — an in-session overwrite/append to
# {sf_dir}/{name}.parquet is invisible for the rest of the application.
# The driver's testdata dirs are immutable per session, so this is the
# intended semantics. The derived artifacts are locally-checkpointed
# frames or landed tables built FROM these handles, so they go stale —
# and pin executor blocks — exactly when the handles do.
#
# INVALIDATION: :func:`reset_handles` is the ONE invalidation point. It
# drops every entry at once, and every landed table: catalog entry
# first, then directory, so no ``tableExists`` guard sees a table whose
# files are gone. It stops every live landing too. A test that rewrites
# a table in place calls it after writing.
#
# CONCURRENCY: a hit is one dict read and takes no lock. A miss takes
# that key's build lock, so concurrent first calls for one key run the
# build once and all get the same object, while builds for other keys —
# including the nested ones a builder makes — run unblocked. Builders
# nest in one direction only (an IVF inverted file needs the coarse
# assignment, which needs the table handle), so per-key locks cannot
# deadlock. A build that raises stores nothing; the next call retries.
# A build running across a reset_handles() lands in the dropped store.
_STORE: dict[tuple, object] = {}
_BUILD_LOCKS: dict[tuple, threading.Lock] = {}
_LOCK = threading.Lock()  # guards swapping _STORE / _BUILD_LOCKS

# Scratch directories created by materializing operators (every
# landed table, the ingests' resumable checkpoints). Each is one per
# (session, sf_dir); without tracking, a long-lived session iterating
# sf_dirs — exactly the use case reset_handles() serves — would leak a
# full parquet copy per iteration. reset_handles() removes them with
# the store entries that point at them; an atexit hook sweeps whatever
# is left when the interpreter exits.
_TEMPDIRS: list[str] = []
_LANDED: list[tuple[SparkSession, str]] = []  # (session, table name)


def register_tempdir(path: str) -> str:
    """Track a scratch dir for removal by :func:`reset_handles`
    (and at interpreter exit). Returns ``path`` for one-line use."""
    _TEMPDIRS.append(path)
    return path


def _sweep_tempdirs() -> None:
    import shutil
    while _TEMPDIRS:
        shutil.rmtree(_TEMPDIRS.pop(), ignore_errors=True)


atexit.register(_sweep_tempdirs)


def landing_dir(spark: SparkSession, name: str) -> str:
    """A fresh scratch directory to land table ``name`` in;
    :func:`reset_handles` drops the table and removes the directory."""
    import tempfile
    _LANDED.append((spark, name))
    return register_tempdir(tempfile.mkdtemp(prefix="spark-graft-land-"))


# LIVE LANDINGS: one running streaming query per checkpoint directory,
# checkpoint -> (session, sink, query), kept by :func:`live_query` so
# repeated landings on one checkpoint skip the query start (a new Python
# source worker and the first trigger). reset_handles() stops them.
_LIVE: dict[str, tuple[SparkSession, tuple, StreamingQuery]] = {}
_LIVE_LOCK = threading.Lock()


def live_query(spark: SparkSession, checkpoint_dir: str, sink: tuple,
               start: Callable[[], StreamingQuery]) -> StreamingQuery:
    """The live query on ``checkpoint_dir`` if it is active and writes
    to the same ``sink``; otherwise ``start()``'s query, which replaces
    it and resumes from the checkpoint. Every live query whose
    checkpoint directory is gone is stopped first."""
    ckpt = os.path.abspath(checkpoint_dir)
    with _LIVE_LOCK:
        for gone in [c for c in _LIVE if not os.path.isdir(c)]:
            _stop_live(gone)
        held = _LIVE.get(ckpt)
        if held is not None and held[1] == sink and held[2].isActive:
            return held[2]
        _stop_live(ckpt)
        query = start()
        _LIVE[ckpt] = (spark, sink, query)
        return query


def _stop_live(ckpt: str) -> None:
    """Stop and forget the live query on ``ckpt``, if any; the caller
    holds ``_LIVE_LOCK``."""
    held = _LIVE.pop(ckpt, None)
    # a stopped session's queries are gone with its context
    if held is not None and held[0].sparkContext._jsc is not None:
        held[2].stop()


def memo(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """The value stored under ``(applicationId, *key)``, running
    ``build()`` on the first call only (see the store's rules above)."""
    k = (spark.sparkContext.applicationId, *key)
    try:
        return _STORE[k]
    except KeyError:
        pass
    with _LOCK:
        store = _STORE
        lock = _BUILD_LOCKS.setdefault(k, threading.Lock())
    with lock:
        if k not in store:
            store[k] = build()
        return store[k]


def reset_handles() -> None:
    """Drop every cached table handle AND every derived artifact in the
    store (see the rules on ``_STORE``): the next :func:`table` call
    re-reads the parquet listing, and derived artifacts rebuild from the
    fresh handles. For tests that rewrite a testdata table in place, and
    as the release hook for long-lived sessions iterating several
    sf_dirs (each artifact otherwise pins its locally-checkpointed
    blocks for the application lifetime). Live landings are stopped,
    and landed tables are dropped from the catalog and their scratch
    dirs removed too — the store was the only live reference to those
    files."""
    global _STORE, _BUILD_LOCKS
    with _LIVE_LOCK:
        for ckpt in list(_LIVE):
            _stop_live(ckpt)
    with _LOCK:
        _STORE, _BUILD_LOCKS = {}, {}
    while _LANDED:
        spark, name = _LANDED.pop()
        # a stopped session's catalog is gone with its context
        if spark.sparkContext._jsc is not None:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
    _sweep_tempdirs()


def table_tag(spark: SparkSession, sf_dir: str) -> str:
    """Identifier-safe name suffix for a table landed from ``sf_dir`` in
    this session. It carries a hash of the FULL sf_dir path, not just
    its leaf: two sf_dirs sharing a basename (regenerated 'sf0.001'
    copies under different parents) in one session must never collide
    on a table name — an overwrite would silently re-point the first
    artifact's lazy spark.table() reference at the other dataset. The
    applicationId keeps concurrent/successive sessions sharing a
    warehouse directory off each other's locations."""
    import hashlib
    import os
    import re
    return re.sub(r"[^0-9A-Za-z]+", "_",
                  os.path.basename(sf_dir.rstrip("/")) + "_"
                  + hashlib.md5(sf_dir.encode()).hexdigest()[:8] + "_"
                  + spark.sparkContext.applicationId)


def parquet_num_rows(path: str) -> int:
    """Row count from parquet FOOTERS — a driver-side metadata read,
    never a Spark job (the plan-build zero-jobs gate stays intact). The
    scale-adaptive parameter derivations (IVF NLIST ~ sqrt(N), the
    ccnet window/histogram switch) size themselves from this; at 100 TB
    the same number comes from the table catalog's stats."""
    import pyarrow.parquet as pq
    import os as _os
    if _os.path.isdir(path):
        return sum(
            pq.ParquetFile(_os.path.join(r, f)).metadata.num_rows
            for r, _, fs in _os.walk(path) for f in fs
            if f.endswith(".parquet"))
    return pq.ParquetFile(path).metadata.num_rows


def parquet_col_max(path: str, col: str) -> int:
    """Column MAX from parquet footer statistics — the same driver-side
    metadata-read discipline as :func:`parquet_num_rows` (zero Spark
    jobs; at 100 TB the catalog's column stats supply this). Raises if
    any row group lacks statistics for ``col`` rather than silently
    under-reporting."""
    import pyarrow.parquet as pq
    import os as _os
    files = ([_os.path.join(r, f) for r, _, fs in _os.walk(path)
              for f in sorted(fs) if f.endswith(".parquet")]
             if _os.path.isdir(path) else [path])
    best = None
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        idx = md.schema.names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                raise ValueError(
                    f"no min/max statistics for {col} in {fp} "
                    f"row group {rg}")
            best = st.max if best is None else max(best, st.max)
    if best is None:
        raise ValueError(f"no row groups with statistics in {path}")
    return best


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy; no action after
    the first schema read per session/table).

    Memoized: spark.read.parquet runs a small schema-inference job on
    the DRIVER at every call; with ~300 registered queries each touching
    1-3 tables that is hundreds of pointless jobs at plan-build time.
    The handle is an immutable lazy plan, so one per (session, sf_dir,
    table) is always safe to share."""
    def build() -> DataFrame:
        if name == "events":
            return events_table(spark, sf_dir)
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return memo(spark, ("table", sf_dir, name), build)


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load ``events`` with nanosecond-timestamp handling (see
    :func:`_decode_events`)."""
    path = f"{sf_dir}/events.parquet"
    return _decode_events(
        spark.read.schema(_events_schema(spark, path)).parquet(path))


def table_stream(spark: SparkSession, sf_dir: str, name: str,
                 files_per_trigger: int = 1) -> DataFrame:
    """Table ``name`` as a file stream, ``files_per_trigger`` parquet
    files per micro-batch — 1 pins per-file batches for tests; the
    registered corpus drains pass streaming/corpus.py's
    ``STREAM_FILES_PER_TRIGGER``, the measured knee on many-part
    corpora, where per-file batches are pure trigger overhead.
    ``events`` arrives decoded exactly as :func:`events_table` returns
    it.

    The schema is read once per session (a file stream needs it up
    front; the read would otherwise run at every streaming build)."""
    path = f"{sf_dir}/{name}.parquet"
    schema = memo(spark, ("stream_schema", sf_dir, name),
                  lambda: _events_schema(spark, path) if name == "events"
                  else spark.read.parquet(path).schema)
    reader = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", files_per_trigger))
    if os.path.isdir(path):
        # Spark-written layout ({name}.parquet is a DIRECTORY of part-*
        # files, e.g. the gen_scale benchdata dirs and the sf1/sf10
        # mirrors): stream the directory itself — a leaf-name glob would
        # match no part file and silently stream zero rows (r6: every
        # streaming query returned empty on multi-file scale dirs; r12:
        # the corpus streams drained 0 rows on every generated scale
        # factor)
        stream = reader.parquet(path)
    else:
        # driver layout: one flat file per table in sf_dir; file streams
        # take a directory, pathGlobFilter selects the table
        stream = (reader.option("pathGlobFilter", f"{name}.parquet")
                  .parquet(sf_dir))
    return _decode_events(stream) if name == "events" else stream


def _events_schema(spark: SparkSession, path: str) -> StructType:
    """The schema events are read with. Spark's parquet reader rejects
    an INT64 TIMESTAMP(NANOS) column unless the read schema declares it
    ``long``, which surfaces the raw nanosecond count without any
    session conf. So when the parquet footer (a driver-side metadata
    read, never a Spark job) stores ``ts`` that way, the schema comes
    from the footer with ``ts`` as long; otherwise it is Spark's own."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import LongType, StructField

    arrow = ds.dataset(path, format="parquet").schema
    ts = arrow.field("ts").type
    if not (pa.types.is_timestamp(ts) and ts.unit == "ns"):
        return spark.read.parquet(path).schema
    return StructType([StructField("ts", LongType()) if f.name == "ts"
                       else f for f in from_arrow_schema(arrow).fields])


def epoch_us(col: str) -> Column:
    """Epoch microseconds of the zone-less timestamp expression ``col``
    (Spark ``timestamp_ntz``, as parquet ``timestamp[us]`` without a
    zone reads): the DuckDB oracles' ``epoch_us``, independent of the
    session time zone."""
    return F.expr("timestampdiff(MICROSECOND,"
                  f" TIMESTAMP_NTZ'1970-01-01 00:00:00', {col})")


def _decode_events(df: DataFrame) -> DataFrame:
    """The events frame ``df`` (batch read or file stream), with
    nanosecond-timestamp handling.

    The events parquet stores ``ts`` as INT64 TIMESTAMP(NANOS); read
    through :func:`_events_schema`'s ``ts long`` schema it
    surfaces as a raw int64 nanosecond count — which we keep as
    ``ts_ns``, deriving ``us`` (epoch microseconds, ``ts div 1000``,
    matching DuckDB's truncation to TIMESTAMP). Working in integer µs
    keeps every downstream computation exact and independent of the
    session timezone (the reference stores trace times the same way —
    raw int64 µs, the reference's README.md:93,107). µs/ms files arrive
    as a timestamp type directly and only gain ``us``.

    Both conversions are zone-free, so no session conf is read or set.
    """
    if dict(df.dtypes).get("ts") == "bigint":
        return (df.withColumnRenamed("ts", "ts_ns")
                .withColumn("us", F.expr("ts_ns div 1000")))
    return df.withColumn("us", epoch_us("ts"))


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str] | None = None) -> None:
    """Register testdata tables as temp views for ``spark.sql`` queries."""
    for name in names or TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def fanout(df: DataFrame) -> DataFrame:
    """Fan a frame out to the session's core count when its scan yields
    fewer splits — one small parquet file locally, a few huge files on a
    cluster — so per-row kernels (md5 shingles, minhash, proto decode)
    run full-width instead of on a handful of tasks. A narrow
    round-robin shuffle of the PROJECTED columns; a no-op whenever the
    source already has healthy split counts (any real 100 TB scan).
    Placement-only: every downstream aggregate in this engine is
    order-free (exact integer/decimal lanes), so results are unchanged.

    CAVEAT (eager probe): the split-count probe touches ``df.rdd``,
    which under AQE materializes the physical plan and — whenever the
    input subtree contains an exchange — runs those upstream stages at
    BUILD time. Prefer placing fanout directly on scan-rooted frames;
    the per-(session, plan) memo caps the cost at one probe for
    repeated builds either way: every bench pass and oracle re-check
    rebuilds the same frames, so memoizing on the analyzed plan's
    semantic hash makes all but the first probe free.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    n = memo(spark, ("fanout_splits",
                     df._jdf.queryExecution().analyzed().semanticHash()),
             lambda: df.rdd.getNumPartitions())
    if n < par:
        return df.repartition(par)
    return df
