"""TFRecord / tf.Example source & sink (S2).

The reference's headline ingest is gzipped TFRecord files of ``tf.Example``
protos parsed against a fixed schema with per-column defaults
(the reference's trainer.py:185-208, feature spec 120-163). The format is
served by ``plans/jvm/TFRecordSource.scala``, a DataSource V2 provider
registered as ``tfrecord_example`` in the engine's one JVM jar: batch
read (one partition per shard file, gzip detected by magic bytes, CRCs
checked, missing features read as 0 / 0.0 / "" / b""), append and
overwrite writes (``option("compression", "gzip")``) published by one
rename of a hidden staging directory, and a micro-batch stream whose
offsets are the seen-file list ``{"files": [...]}``. Every face runs in
the JVM: no Python worker, planner or streaming-source process.
:func:`register_tfrecord` makes the short name resolve in a session.

This module keeps the pure-Python codec — TFRecord framing
(``uint64 length | uint32 masked-crc32c(length) | payload | uint32
masked-crc32c(payload)``, masked crc = ``rotr15(crc32c(x)) +
0xa282ead8``) and the ``Example{1: Features{1: map<string, Feature>}}``
proto with ``BytesList``/``FloatList``/``Int64List`` features — as the
reference the tests check the JVM codec against, plus the two
oracle-checked queries that round-trip a documents slice through the
source.

Scale note: per-file partitions are the right granularity for TFRecord
(the format is not splittable mid-file); at 100 TB the file count, not
file size, sets parallelism — exactly how the reference shards its
export (``_norm_*`` shards).
"""

from __future__ import annotations

import gzip
import io
import struct
from typing import Iterator

# ---------------------------------------------------------------- crc32c

_CRC32C_POLY = 0x82F63B78  # Castagnoli, reflected


def _make_table() -> list[int]:
    tbl = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ _CRC32C_POLY if c & 1 else c >> 1
        tbl.append(c)
    return tbl


_TABLE = _make_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ----------------------------------------------------- protobuf wire fmt


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _len_delim(field: int, payload: bytes) -> bytes:
    return _varint(field << 3 | 2) + _varint(len(payload)) + payload


def encode_example(features: dict[str, object]) -> bytes:
    """Serialize a feature dict to a ``tf.Example`` proto. Values may be
    int / float / str / bytes or lists thereof."""
    entries = bytearray()
    for name, value in features.items():
        vals = value if isinstance(value, (list, tuple)) else [value]
        if all(isinstance(v, int) for v in vals):
            packed = b"".join(_varint(v & 0xFFFFFFFFFFFFFFFF) for v in vals)
            feat = _len_delim(3, _len_delim(1, packed))  # Int64List packed
        elif all(isinstance(v, float) for v in vals):
            packed = b"".join(struct.pack("<f", v) for v in vals)
            feat = _len_delim(2, _len_delim(1, packed))  # FloatList packed
        else:
            bl = bytearray()
            for v in vals:
                bl += _len_delim(1, v.encode() if isinstance(v, str) else v)
            feat = _len_delim(1, bytes(bl))  # BytesList
        entry = _len_delim(1, name.encode()) + _len_delim(2, feat)
        entries += _len_delim(1, entry)  # Features.feature map entry
    return _len_delim(1, bytes(entries))  # Example.features


def decode_example(buf: bytes) -> dict[str, list[object]]:
    """Parse a ``tf.Example`` proto into {name: [values]}."""
    out: dict[str, list[object]] = {}
    tag, pos = _read_varint(buf, 0)
    assert tag >> 3 == 1, "Example.features expected"
    flen, pos = _read_varint(buf, pos)
    fbuf = buf[pos:pos + flen]
    fpos = 0
    while fpos < len(fbuf):
        tag, fpos = _read_varint(fbuf, fpos)
        elen, fpos = _read_varint(fbuf, fpos)
        entry = fbuf[fpos:fpos + elen]
        fpos += elen
        name, values = _decode_map_entry(entry)
        out[name] = values
    return out


def _decode_map_entry(entry: bytes) -> tuple[str, list[object]]:
    pos = 0
    name = ""
    values: list[object] = []
    while pos < len(entry):
        tag, pos = _read_varint(entry, pos)
        ln, pos = _read_varint(entry, pos)
        payload = entry[pos:pos + ln]
        pos += ln
        if tag >> 3 == 1:
            name = payload.decode()
        else:
            values = _decode_feature(payload)
    return name, values


def _decode_feature(feat: bytes) -> list[object]:
    tag, pos = _read_varint(feat, 0)
    kind = tag >> 3  # 1=BytesList 2=FloatList 3=Int64List
    ln, pos = _read_varint(feat, pos)
    body = feat[pos:pos + ln]
    values: list[object] = []
    bpos = 0
    while bpos < len(body):
        vtag, bpos = _read_varint(body, bpos)
        wire = vtag & 7
        if kind == 1:  # bytes, length-delimited each
            vlen, bpos = _read_varint(body, bpos)
            values.append(body[bpos:bpos + vlen])
            bpos += vlen
        elif kind == 2:  # floats: packed (wire 2) or single fixed32
            if wire == 2:
                vlen, bpos = _read_varint(body, bpos)
                values.extend(
                    struct.unpack_from("<f", body, bpos + o)[0]
                    for o in range(0, vlen, 4))
                bpos += vlen
            else:
                values.append(struct.unpack_from("<f", body, bpos)[0])
                bpos += 4
        else:  # int64: packed varints (wire 2) or single varint
            if wire == 2:
                vlen, bpos = _read_varint(body, bpos)
                end = bpos + vlen
                while bpos < end:
                    v, bpos = _read_varint(body, bpos)
                    values.append(v - (1 << 64) if v >= 1 << 63 else v)
            else:
                v, bpos = _read_varint(body, bpos)
                values.append(v - (1 << 64) if v >= 1 << 63 else v)
    return values


# ------------------------------------------------------ TFRecord framing


def write_tfrecords(path: str, payloads: Iterator[bytes],
                    compression: str | None = None) -> int:
    """Write framed records; returns the record count."""
    raw = io.BytesIO()
    n = 0
    for payload in payloads:
        header = struct.pack("<Q", len(payload))
        raw.write(header)
        raw.write(struct.pack("<I", _masked_crc(header)))
        raw.write(payload)
        raw.write(struct.pack("<I", _masked_crc(payload)))
        n += 1
    data = raw.getvalue()
    if compression == "gzip":
        # mtime pinned for deterministic bytes
        data = gzip.compress(data, mtime=0)
    with open(path, "wb") as f:
        f.write(data)
    return n


def read_tfrecords(path: str) -> Iterator[bytes]:
    """Yield record payloads; gzip auto-detected by magic bytes; CRCs
    verified (corrupt frames raise)."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    pos = 0
    while pos < len(data):
        (length,) = struct.unpack_from("<Q", data, pos)
        (hcrc,) = struct.unpack_from("<I", data, pos + 8)
        if _masked_crc(data[pos:pos + 8]) != hcrc:
            raise IOError(f"bad length crc at offset {pos} in {path}")
        payload = data[pos + 12:pos + 12 + length]
        (pcrc,) = struct.unpack_from("<I", data, pos + 12 + length)
        if _masked_crc(payload) != pcrc:
            raise IOError(f"bad payload crc at offset {pos} in {path}")
        yield payload
        pos += 12 + length + 4


# ------------------------------------------------------ Spark registration


def register_tfrecord(spark) -> None:
    """Make ``tfrecord_example`` resolve for the calling thread's session
    and its executors: ``ADD JAR`` of the engine's jar, whose service
    file registers the source. Spark sets the jar's class loader on the
    calling JVM thread only, so each Python thread that reads or writes
    the format calls this first (a repeat took about 0.02 s on a 4-core
    host)."""
    from columnar_estimator_sample_spark.plans.stats import extension_jar
    spark.sql(f"ADD JAR '{extension_jar()}'")


# ------------------------------------------------- oracle-checked query


from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from columnar_estimator_sample_spark.registry import register  # noqa: E402
from columnar_estimator_sample_spark.sources.tables import table  # noqa: E402


def _roundtrip_fingerprint(df: DataFrame) -> list:
    """Deterministic frame fingerprint: per-lang aggregates plus an
    order-free row digest (XOR of per-row xxhash64 over every column)."""
    return (df.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.min("doc_id").alias("first_doc"),
                 F.expr("bit_xor(xxhash64(doc_id, lang, n_chars))")
                 .alias("row_digest"))
            .orderBy("lang")
            .collect())



@register(
    "q_tfrecord_roundtrip",
    # The oracle aggregates the PARQUET table directly: a hash-match
    # proves the gzipped tf.Example write->read round trip is lossless.
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc
    FROM documents
    WHERE doc_id < 200
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 end-to-end: export a documents slice as gzipped TFRecord of
    tf.Example, read it back through the source, aggregate. Matching
    the parquet-side oracle certifies codec fidelity (framing CRCs, proto
    round trip, schema'd parse).

    The round trip is SELF-AUDITING (this query was driver-red in r3
    with rows/schema green, i.e. the read-back silently differed in the
    driver environment): before returning, the read-back frame's per-lang
    counts, sums, AND an order-free xxhash64 row digest are compared
    against the pre-write frame, and any divergence raises IOError with
    both fingerprints — a codec/FS fault can now only surface as an
    explicit error, never as silently wrong aggregates. The returned
    DataFrame is materialized from the audited read-back rows, so a later
    re-collect cannot re-read the temp files under different conditions.
    """
    import tempfile

    register_tfrecord(spark)
    # the fingerprints force materialization: nothing lazy still reads
    # the temp files once the directory is removed
    with tempfile.TemporaryDirectory(prefix="tfrec_roundtrip_",
                                     ignore_cleanup_errors=True) as out:
        docs = (table(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 200)
                .select("doc_id", "lang", "n_chars"))
        expected = _roundtrip_fingerprint(docs)
        (docs.write.format("tfrecord_example")
         .option("compression", "gzip").mode("overwrite").save(out))
        back = (spark.read.format("tfrecord_example")
                .schema("doc_id long, lang string, n_chars long").load(out))
        got = _roundtrip_fingerprint(back)
        if got != expected:
            raise IOError(
                "tfrecord round trip corrupted data: "
                f"wrote {expected} read back {got} (dir {out})")
        result = [(r.lang, r.n_docs, r.total_chars, r.first_doc)
                  for r in got]
    return spark.createDataFrame(
        result,
        "lang string, n_docs long, total_chars long, first_doc long")


@register(
    "q_tfrecord_stream_census",
    # oracle aggregates the parquet source: a hash-match proves the
    # STREAMING tfrecord read (offsets, shard replay, decode) delivered
    # every exported row exactly once
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc
    FROM documents
    WHERE doc_id < 200
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_tfrecord_stream_census(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """S2 meets §2.8: export a documents slice as gzipped TFRecord
    shards, then read them back THROUGH THE STREAMING SOURCE
    (``TFRecordSource.scala``'s micro-batch stream — one partition per
    new shard, decoded on the executors; drained availableNow through a
    checkpoint) and census per
    language. The batch oracle over the parquet source certifies the
    whole incremental path: offset bookkeeping, shard replay,
    varint/CRC framing, proto decode.

    Scale: the shard queue is the training-data landing pattern — new
    shards picked up via the seen-file-list offsets, replayable between
    offsets. A long-lived queue would compact the seen list the way
    FileStreamSource's metadata log does."""
    import tempfile

    from columnar_estimator_sample_spark.streaming.windows import (
        run_to_completion,
    )

    register_tfrecord(spark)
    with tempfile.TemporaryDirectory(prefix="tfrec_stream_q_",
                                     ignore_cleanup_errors=True) as out:
        docs = (table(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 200)
                .select("doc_id", "lang", "n_chars"))
        (docs.repartition(4).write.format("tfrecord_example")
         .option("compression", "gzip").mode("overwrite").save(out))
        stream = (spark.readStream.format("tfrecord_example")
                  .schema("doc_id long, lang string, n_chars long")
                  .option("path", out).load())
        census = (stream.groupBy("lang")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                       F.sum("n_chars").cast("long").alias("total_chars"),
                       F.min("doc_id").alias("first_doc")))
        rows = [(r.lang, r.n_docs, r.total_chars, r.first_doc)
                for r in run_to_completion(census).orderBy("lang")
                .collect()]
    return spark.createDataFrame(
        rows,
        "lang string, n_docs long, total_chars long, first_doc long")
