"""TFRecord / tf.Example source (S2): codec + DataSource round trips.

The reference reads gzipped TFRecord of tf.Example with a schema'd parse
and per-column defaults (/root/reference/trainer.py:120-208); these tests
pin the pure-Python reference codec against known wire bytes, the JVM
``tfrecord_example`` source/sink (plans/jvm/TFRecordSource.scala) against
that codec in both directions, and the source end-to-end through Spark.
"""

from __future__ import annotations

import glob
import json
import os
import struct
import subprocess
import sys

import pytest

from columnar_estimator_sample_spark.sources.tfrecord import (
    crc32c,
    decode_example,
    encode_example,
    read_tfrecords,
    register_tfrecord,
    write_tfrecords,
)


class TestCodec:
    def test_crc32c_known_vectors(self):
        # Public CRC-32C (Castagnoli) check values
        assert crc32c(b"123456789") == 0xE3069283
        assert crc32c(b"") == 0x0
        assert crc32c(b"\x00" * 32) == 0x8A9136AA

    def test_example_proto_roundtrip(self):
        feats = {
            "label": 1,
            "ints": [3, -7, 1 << 40],
            "floats": [0.5, -2.25],
            "name": "héllo",
            "blob": b"\x00\x01\xff",
        }
        ex = decode_example(encode_example(feats))
        assert ex["label"] == [1]
        assert ex["ints"] == [3, -7, 1 << 40]
        assert ex["floats"] == [0.5, -2.25]  # exactly representable
        assert ex["name"] == ["héllo".encode()]
        assert ex["blob"] == [b"\x00\x01\xff"]

    def test_framing_roundtrip_plain_and_gzip(self, tmp_path):
        payloads = [b"a", b"bb" * 100, b""]
        for comp in (None, "gzip"):
            p = str(tmp_path / f"t_{comp}.tfrecord")
            assert write_tfrecords(p, iter(payloads), comp) == 3
            assert list(read_tfrecords(p)) == payloads
        with open(str(tmp_path / "t_gzip.tfrecord"), "rb") as f:
            assert f.read(2) == b"\x1f\x8b"  # actually gzipped

    def test_corrupt_crc_detected(self, tmp_path):
        p = str(tmp_path / "bad.tfrecord")
        write_tfrecords(p, iter([b"payload"]), None)
        raw = bytearray(open(p, "rb").read())
        raw[14] ^= 0xFF  # flip a payload byte
        open(p, "wb").write(bytes(raw))
        with pytest.raises(IOError):
            list(read_tfrecords(p))

    def test_packed_int64_negative(self):
        # negative int64 must survive the two's-complement varint round trip
        ex = decode_example(encode_example({"v": [-1]}))
        assert ex["v"] == [-1]


class TestDataSource:
    def test_write_read_roundtrip(self, spark, tmp_path):
        from pyspark.sql import functions as F
        register_tfrecord(spark)
        df = spark.range(100).select(
            F.col("id"),
            (F.col("id") * 0.5).cast("float").alias("x"),
            F.concat(F.lit("s"), F.col("id")).alias("s"))
        out = str(tmp_path / "tfr")
        (df.write.format("tfrecord_example")
         .option("compression", "gzip").mode("overwrite").save(out))
        assert glob.glob(out + "/part-*.tfrecord.gz")
        back = (spark.read.format("tfrecord_example")
                .schema("id long, x float, s string").load(out))
        assert sorted(r["id"] for r in back.collect()) == list(range(100))
        got = {r["id"]: (r["x"], r["s"]) for r in back.collect()}
        assert got[7] == (3.5, "s7")

    def test_missing_feature_gets_default(self, spark, tmp_path):
        # write rows lacking a column the read schema declares -> defaults
        p = str(tmp_path / "defaults")
        os.makedirs(p)
        write_tfrecords(
            os.path.join(p, "part-00000.tfrecord"),
            iter([encode_example({"a": 1}), encode_example({"a": 2})]),
            None)
        register_tfrecord(spark)
        back = (spark.read.format("tfrecord_example")
                .schema("a long, b long, s string").load(p)
                .orderBy("a").collect())
        assert [(r["a"], r["b"], r["s"]) for r in back] == [
            (1, 0, ""), (2, 0, "")]

    def test_array_features_roundtrip(self, spark, tmp_path):
        from pyspark.sql import functions as F
        register_tfrecord(spark)
        df = spark.range(10).select(
            F.col("id"),
            F.array(F.col("id"), F.col("id") * 2).alias("arr"))
        out = str(tmp_path / "arr")
        df.write.format("tfrecord_example").mode("overwrite").save(out)
        back = (spark.read.format("tfrecord_example")
                .schema("id long, arr array<long>").load(out))
        got = {r["id"]: r["arr"] for r in back.collect()}
        assert got[3] == [3, 6]

    def test_partition_per_file(self, spark, tmp_path):
        p = str(tmp_path / "many")
        os.makedirs(p)
        for i in range(4):
            write_tfrecords(
                os.path.join(p, f"part-{i:05d}.tfrecord"),
                iter([encode_example({"a": i})]), None)
        register_tfrecord(spark)
        back = (spark.read.format("tfrecord_example")
                .schema("a long").load(p))
        # one task per file: 4 input partitions
        assert back.rdd.getNumPartitions() == 4
        assert sorted(r["a"] for r in back.collect()) == [0, 1, 2, 3]

    def test_overwrite_replaces_every_shard(self, spark, tmp_path):
        """An overwrite with fewer partitions leaves no old shard behind
        (a shard whose name no new shard reuses used to survive)."""
        register_tfrecord(spark)
        out = str(tmp_path / "ow")
        for n, parts in ((100, 4), (10, 2)):
            (spark.range(n).repartition(parts).write
             .format("tfrecord_example").mode("overwrite").save(out))
        back = (spark.read.format("tfrecord_example")
                .schema("id long").load(out))
        assert sorted(r["id"] for r in back.collect()) == list(range(10))

    def test_failed_write_publishes_nothing(self, spark, tmp_path):
        """A write whose task raises leaves nothing at the path and no
        staging directory beside it."""

        from pyspark.sql import functions as F
        register_tfrecord(spark)
        out = str(tmp_path / "failed")
        # the sink has no proto type for a date: the task raises
        df = spark.range(10).repartition(2).select(
            "id", F.current_date().alias("day"))
        with pytest.raises(Exception, match="unsupported tfrecord type"):
            df.write.format("tfrecord_example").mode("overwrite").save(out)
        assert os.listdir(tmp_path) == []

    def test_failed_task_publishes_nothing(self, spark, tmp_path):
        """A write whose task raises aborts: nothing at the path and no
        staging directory beside it."""
        from pyspark.sql import functions as F
        register_tfrecord(spark)
        out = str(tmp_path / "failed")
        df = spark.range(10).repartition(2).select(
            "id", F.when(F.col("id") == 7, F.raise_error(F.lit("boom")))
            .otherwise(F.lit("ok")).alias("s"))
        with pytest.raises(Exception, match="boom"):
            df.write.format("tfrecord_example").mode("overwrite").save(out)
        assert os.listdir(tmp_path) == []

    def test_directory_reads_every_visible_file(self, spark, tmp_path):
        """A directory read takes every file not hidden by a leading
        ``.`` or ``_``, not only the ``part-*`` ones."""
        d = str(tmp_path / "mixed")
        os.makedirs(d)
        for name, ids, comp in (("part-00000-a.tfrecord.gz", range(10),
                                 "gzip"),
                                ("extra.tfrecord", range(10, 20), None)):
            write_tfrecords(os.path.join(d, name),
                            (encode_example({"id": i}) for i in ids), comp)
        open(os.path.join(d, "_SUCCESS"), "w").close()
        register_tfrecord(spark)
        back = (spark.read.format("tfrecord_example")
                .schema("id long").load(d))
        assert sorted(r["id"] for r in back.collect()) == list(range(20))


class TestCrossCodec:
    """The JVM codec against the pure-Python reference, both ways."""

    ROWS = [
        {"id": 1, "small": 7, "x": 0.5, "d": 0.1, "s": "héllo",
         "b": b"\x00\xff", "ints": [3, -7, 1 << 40], "strs": ["a", ""],
         "floats": [1.25, -2.0]},
        {"id": -1, "small": -3, "x": -1.5, "d": 1e10, "s": "",
         "b": b"", "ints": [], "strs": [], "floats": [0.1]},
        # a null column is left out of the record: it reads as its default
        {"id": -(1 << 63), "small": None, "x": None, "d": None, "s": None,
         "b": None, "ints": None, "strs": None, "floats": None},
    ]
    DDL = ("id long, small int, x float, d double, s string, b binary, "
           "ints array<long>, strs array<string>, floats array<float>")

    @staticmethod
    def _f32(v: float) -> float:
        return struct.unpack("<f", struct.pack("<f", v))[0]

    def test_jvm_shards_decode_with_reference_codec(self, spark, tmp_path):
        """Plain and gzip shards of the JVM sink hold, record for record,
        the bytes ``encode_example`` makes of the same rows, and decode
        through ``read_tfrecords`` + ``decode_example`` to those rows."""
        register_tfrecord(spark)
        df = spark.createDataFrame(self.ROWS, self.DDL)
        expected = sorted(
            encode_example({k: v for k, v in r.items() if v is not None})
            for r in self.ROWS)
        for comp, suffix in ((None, ".tfrecord"), ("gzip", ".tfrecord.gz")):
            out = str(tmp_path / f"jvm_{comp}")
            w = df.repartition(2).write.format("tfrecord_example")
            if comp:
                w = w.option("compression", comp)
            w.mode("overwrite").save(out)
            shards = sorted(glob.glob(out + "/part-*"))
            assert shards and all(p.endswith(suffix) for p in shards)
            payloads = [p for f in shards for p in read_tfrecords(f)]
            assert sorted(payloads) == expected, comp
            got = {ex["id"][0]: ex for ex in map(decode_example, payloads)}
            first = got[1]
            assert first["small"] == [7] and first["x"] == [0.5]
            assert first["d"] == [self._f32(0.1)]
            assert first["s"] == ["héllo".encode()]
            assert first["b"] == [b"\x00\xff"]
            assert first["ints"] == [3, -7, 1 << 40]
            assert first["strs"] == [b"a", b""]
            assert first["floats"] == [1.25, -2.0]
            assert got[-1]["ints"] == [] and got[-1]["s"] == [b""]
            assert set(got[-(1 << 63)]) == {"id"}
            if comp:
                with open(shards[0], "rb") as f:
                    assert f.read(2) == b"\x1f\x8b"

    def test_reference_shards_read_by_jvm(self, spark, tmp_path):
        """Shards ``write_tfrecords`` wrote (plain and gzip, in one
        directory) read back through the JVM source as the same rows;
        missing features read as their defaults."""
        d = str(tmp_path / "ref")
        os.makedirs(d)
        records = [encode_example({k: v for k, v in r.items()
                                   if v is not None}) for r in self.ROWS]
        write_tfrecords(os.path.join(d, "a.tfrecord"), iter(records[:2]),
                        None)
        write_tfrecords(os.path.join(d, "b.tfrecord.gz"), iter(records[2:]),
                        "gzip")
        register_tfrecord(spark)
        back = (spark.read.format("tfrecord_example")
                .schema(self.DDL + ", absent long, absent_s string")
                .load(d))
        assert back.rdd.getNumPartitions() == 2
        got = {r["id"]: r.asDict() for r in back.collect()}
        assert got[1] == {
            "id": 1, "small": 7, "x": 0.5, "d": self._f32(0.1),
            "s": "héllo", "b": bytearray(b"\x00\xff"),
            "ints": [3, -7, 1 << 40], "strs": ["a", ""],
            "floats": [1.25, -2.0], "absent": 0, "absent_s": ""}
        assert got[-1]["d"] == 1e10 and got[-1]["floats"] == [
            self._f32(0.1)]
        assert got[-1]["ints"] == [] and got[-1]["small"] == -3
        assert got[-(1 << 63)] == {
            "id": -(1 << 63), "small": 0, "x": 0.0, "d": 0.0, "s": "",
            "b": bytearray(), "ints": [], "strs": [], "floats": [],
            "absent": 0, "absent_s": ""}

    def test_corrupt_crc_raises_in_jvm(self, spark, tmp_path):
        d = str(tmp_path / "bad")
        os.makedirs(d)
        p = os.path.join(d, "part-00000.tfrecord")
        write_tfrecords(p, iter([encode_example({"a": 1})]), None)
        raw = bytearray(open(p, "rb").read())
        raw[14] ^= 0xFF  # flip a payload byte
        open(p, "wb").write(bytes(raw))
        register_tfrecord(spark)
        df = spark.read.format("tfrecord_example").schema("a long").load(d)
        with pytest.raises(Exception, match="bad payload crc"):
            df.collect()


class TestTFRecordStreamSource:
    @staticmethod
    def _shards(d: str, ids) -> list:
        os.makedirs(d, exist_ok=True)
        paths = []
        for i in ids:
            p = os.path.join(d, f"part-{i:05d}.tfrecord")
            write_tfrecords(p, iter([encode_example({"a": i})]), None)
            paths.append(p)
        return paths

    def test_count_offsets_rejected(self, spark, tmp_path):
        """Offsets are explicit seen-file lists, {"files": [...]}. An
        offset in the old {"files_seen": n} count form can only come from
        a checkpoint on disk; a restart refuses it, as the start of the
        next batch (batch 0 committed) or as the end of the batch it
        replays (batch 0 not committed), with an error that names the
        expected form instead of replaying a guess."""
        from columnar_estimator_sample_spark.streaming.windows import drain

        register_tfrecord(spark)
        d = str(tmp_path / "shards")
        self._shards(d, [0])
        for committed in (True, False):
            ckpt = str(tmp_path / f"ckpt_{committed}")

            def run():
                stream = (spark.readStream.format("tfrecord_example")
                          .schema("a long").option("path", d).load())
                drain(stream.writeStream.format("parquet")
                      .option("path", str(tmp_path / f"out_{committed}")),
                      ckpt)

            run()
            offsets = os.path.join(ckpt, "offsets", "0")
            lines = open(offsets).read().splitlines()
            assert json.loads(lines[-1]) == {
                "files": [os.path.join(d, "part-00000.tfrecord")]}
            open(offsets, "w").write(
                "\n".join(lines[:-1] + ['{"files_seen":1}']))
            if not committed:
                os.remove(os.path.join(ckpt, "commits", "0"))
            with pytest.raises(Exception, match=r'\{"files": \['):
                run()

    def test_latest_offset_never_shrinks(self, spark, tmp_path):
        """A shard deleted after it was offered stays in the offset:
        a shrunken offset would make a live query plan a batch (and
        write its offset) for a source that is gone. Driven through a
        live query: after the delete and one more shard, the last batch
        ends at all three files and read only the new one."""
        register_tfrecord(spark)
        d = str(tmp_path / "shards")
        paths = self._shards(d, [0, 1])
        stream = (spark.readStream.format("tfrecord_example")
                  .schema("a long").option("path", d).load())
        q = (stream.writeStream.format("memory")
             .queryName("tfrecord_never_shrinks")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(processingTime="20 milliseconds").start())
        try:
            q.processAllAvailable()
            os.remove(paths[0])
            q.processAllAvailable()
            paths += self._shards(d, [2])
            q.processAllAvailable()
            q.processAllAvailable()
            log = tmp_path / "ckpt" / "offsets"
            last = max((f for f in os.listdir(log) if f.isdigit()), key=int)
            end = (log / last).read_text().splitlines()[-1]
            assert json.loads(end) == {"files": paths}
            got = sorted(r.a for r in
                         spark.table("tfrecord_never_shrinks").collect())
            assert got == [0, 1, 2]
        finally:
            q.stop()

    def test_incremental_shards_across_restart(self, spark, sf_dir,
                                               tmp_path):
        """Offset bookkeeping of the stream reader: drain a 2-shard
        directory, add 2 more shards, restart from the SAME checkpoint —
        the second drain must deliver ONLY the new shards (no re-read,
        no loss), i.e. the landing-queue pickup semantics."""
        from pyspark.sql import functions as F

        from columnar_estimator_sample_spark.sources.tables import (
            reset_handles, table,
        )
        from columnar_estimator_sample_spark.sources.tfrecord import (
            register_tfrecord,
        )

        register_tfrecord(spark)
        docs = (table(spark, sf_dir, "documents")
                .select("doc_id", "lang", "n_chars").orderBy("doc_id"))
        half = docs.count() // 2
        first = docs.filter(F.col("doc_id") < half)
        second = docs.filter(F.col("doc_id") >= half)
        d = str(tmp_path / "shards")
        ckpt = str(tmp_path / "ckpt")
        (first.repartition(2).write.format("tfrecord_example")
         .mode("overwrite").save(d))

        schema = "doc_id long, lang string, n_chars long"
        out = str(tmp_path / "landed")

        def drain():
            from columnar_estimator_sample_spark.streaming.windows import (
                foreach_batch_parquet_sink,
            )
            stream = (spark.readStream.format("tfrecord_example")
                      .schema(schema).option("path", d).load())
            # memory sinks refuse checkpoint recovery; the exactly-once
            # parquet sink is the restartable drain
            foreach_batch_parquet_sink(stream, out, ckpt)
            return {r.doc_id for r in spark.read.parquet(out).collect()}

        got1 = drain()
        assert got1 == {r.doc_id for r in first.collect()}

        # land two more shards with DISTINCT names (the part-* names of a
        # second write would collide). The "aa-" prefix sorts BEFORE the
        # already-committed part-* shards on purpose: the seen-file-list
        # offsets must pick up late arrivals regardless of sort order
        # (the old count-based offsets silently dropped these).
        tmp2 = str(tmp_path / "extra")
        (second.repartition(2).write.format("tfrecord_example")
         .mode("overwrite").save(tmp2))
        for i, f in enumerate(sorted(os.listdir(tmp2))):
            os.rename(os.path.join(tmp2, f),
                      os.path.join(d, f"aa-extra-{i}-{f}"))

        # the landing on ckpt is live: stop it so that the second drain
        # restarts from the checkpoint
        reset_handles()
        got2 = drain()
        assert got2 == {r.doc_id for r in docs.collect()}, \
            "second drain must ADD exactly the newly landed shards"


class TestLiveLanding:
    """``foreach_batch_parquet_sink`` with a checkpoint keeps one live
    query per checkpoint: each publish-then-land round lands exactly its
    own epoch through that query."""

    @staticmethod
    def _segment(spark, root):
        os.makedirs(os.path.join(root, "in"))
        return (spark.readStream.format("tfrecord_example")
                .schema("id long")
                .option("path", os.path.join(root, "in", "*", "part-*"))
                .load())

    @staticmethod
    def _round(spark, root, stream, k):
        """Publish batch ``k`` (ids 100k .. 100k+99), land it and return
        the landed epochs with their ids."""

        from columnar_estimator_sample_spark.streaming.windows import (
            foreach_batch_parquet_sink,
        )
        (spark.range(100 * k, 100 * k + 100).repartition(2).write
         .format("tfrecord_example").mode("overwrite")
         .save(os.path.join(root, "in", f"b{k}")))
        out = os.path.join(root, "out")
        foreach_batch_parquet_sink(stream, out, os.path.join(root, "ckpt"))
        landed = spark.read.parquet(out).collect()
        return {e: sorted(r.id for r in landed if r.epoch == e)
                for e in {r.epoch for r in landed}}

    def test_one_query_per_checkpoint(self, spark, tmp_path):
        from pyspark.sql.streaming import StreamingQueryListener

        from columnar_estimator_sample_spark.sources.tables import (
            reset_handles,
        )

        class Starts(StreamingQueryListener):
            n = 0

            def onQueryStarted(self, event):
                Starts.n += 1

            def onQueryProgress(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        register_tfrecord(spark)
        reset_handles()
        root = str(tmp_path)
        stream = self._segment(spark, root)
        listener = Starts()
        spark.streams.addListener(listener)
        try:
            for k in range(3):
                got = self._round(spark, root, stream, k)
                assert got == {e: list(range(100 * e, 100 * e + 100))
                               for e in range(k + 1)}
        finally:
            spark.streams.removeListener(listener)
        # a started event reaches listeners before start() returns
        assert Starts.n == 1
        assert len(spark.streams.active) == 1
        reset_handles()
        assert spark.streams.active == []

    def test_gone_checkpoint_stopped_at_next_landing(self, spark, tmp_path):
        import shutil

        from columnar_estimator_sample_spark.sources.tables import (
            reset_handles,
        )
        register_tfrecord(spark)
        reset_handles()
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        assert self._round(spark, a, self._segment(spark, a), 0) == {
            0: list(range(100))}
        [first] = spark.streams.active
        shutil.rmtree(a)
        assert self._round(spark, b, self._segment(spark, b), 1) == {
            0: list(range(100, 200))}
        assert not first.isActive
        assert len(spark.streams.active) == 1
        reset_handles()


_PROC = "/proc"


def _descendant_cmdlines(pid: int) -> list:
    """Command lines of every live descendant of ``pid``."""
    children: dict = {}
    for entry in os.listdir(_PROC):
        if not entry.isdigit():
            continue
        try:
            stat = open(f"{_PROC}/{entry}/stat").read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        todo += children.get(p, [])
        try:
            out.append(open(f"{_PROC}/{p}/cmdline", "rb").read()
                       .replace(b"\0", b" ").decode(errors="replace"))
        except OSError:
            pass
    return out


class TestJvmOnly:
    """The source runs in the JVM alone."""

    @pytest.mark.skipif(not os.path.isdir(f"{_PROC}/self"),
                        reason="needs /proc")
    def test_live_landing_starts_no_python_source_runner(self, spark,
                                                         tmp_path):
        """While a live ``tfrecord_example`` landing runs, no process
        under the JVM is a Python streaming-source runner (which a
        Python DataSource stream starts for every query)."""
        from columnar_estimator_sample_spark.sources.tables import (
            reset_handles,
        )
        register_tfrecord(spark)
        reset_handles()
        root = str(tmp_path)
        stream = TestLiveLanding._segment(spark, root)
        assert TestLiveLanding._round(spark, root, stream, 0) == {
            0: list(range(100))}
        [live] = spark.streams.active
        jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        try:
            assert live.isActive
            cmdlines = _descendant_cmdlines(int(jvm))
            assert not [c for c in cmdlines
                        if "python_streaming_source_runner" in c], cmdlines
        finally:
            reset_handles()

    def test_plain_session_second_thread_reads(self, tmp_path):
        """A plain ``SparkSession.builder.getOrCreate()`` session (no
        ``get_spark``) resolves ``tfrecord_example`` on a second Python
        thread once that thread calls ``register_tfrecord``."""
        probe = r"""
import sys, threading
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
from columnar_estimator_sample_spark.sources.tfrecord import (
    register_tfrecord,
)
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
register_tfrecord(spark)
spark.range(50).write.format("tfrecord_example").mode("append").save(%(out)r)
got = []

def read():
    register_tfrecord(spark)
    got.append(spark.read.format("tfrecord_example").schema("id long")
               .load(%(out)r).groupBy().sum("id").first()[0])

t = threading.Thread(target=read)
t.start()
t.join()
print("SUM", got)
"""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        r = subprocess.run(
            [sys.executable, "-c",
             probe % {"repo": repo, "out": str(tmp_path / "t")}],
            capture_output=True, text=True, timeout=300)
        assert r.returncode == 0, r.stderr[-2000:]
        assert "SUM [1225]" in r.stdout, (r.stdout, r.stderr[-2000:])
