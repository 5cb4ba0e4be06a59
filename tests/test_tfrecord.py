"""TFRecord / tf.Example source (S2): codec + DataSource round trips.

The reference reads gzipped TFRecord of tf.Example with a schema'd parse
and per-column defaults (/root/reference/trainer.py:120-208); these tests
pin the pure-Python codec against known wire bytes and the Spark
DataSource end-to-end.
"""

from __future__ import annotations

import glob
import gzip
import struct

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
        import os
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
        import os
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
        import os

        from pyspark.sql import functions as F
        register_tfrecord(spark)
        out = str(tmp_path / "failed")
        # the sink has no proto type for a date: the task raises
        df = spark.range(10).repartition(2).select(
            "id", F.current_date().alias("day"))
        with pytest.raises(Exception, match="unsupported tfrecord type"):
            df.write.format("tfrecord_example").mode("overwrite").save(out)
        assert os.listdir(tmp_path) == []

    def test_directory_reads_every_visible_file(self, spark, tmp_path):
        """A directory read takes every file not hidden by a leading
        ``.`` or ``_``, not only the ``part-*`` ones."""
        import os
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


class TestTFRecordStreamSource:
    def test_count_offsets_rejected(self, tmp_path):
        """Offsets are explicit seen-file lists, {"files": [...]}. An
        offset in the old {"files_seen": n} count form can only come from
        a checkpoint on disk; the reader refuses it with a ValueError
        that names the expected form instead of replaying a guess."""
        import os

        from pyspark.sql.types import LongType, StructField, StructType

        from columnar_estimator_sample_spark.sources import tfrecord as tfr

        d = str(tmp_path / "shards")
        os.makedirs(d)
        write_tfrecords(os.path.join(d, "part-00000.tfrecord"),
                        iter([encode_example({"a": 0})]), None)
        schema = StructType([StructField("a", LongType())])
        listed = {"files": [os.path.join(d, "part-00000.tfrecord")]}
        count = {"files_seen": 1}
        r = tfr.TFRecordPartitionedStreamReader(schema, {"path": d})
        calls = [lambda: r.partitions(count, listed),
                 lambda: r.partitions({"files": []}, count)]
        for call in calls:
            with pytest.raises(ValueError, match='"files"'):
                call()

    def test_latest_offset_never_shrinks(self, tmp_path):
        """A shard deleted after it was offered stays in the offset:
        a shrunken offset would make a live query plan a batch (and
        write its offset) for a source that is gone."""
        import os

        from pyspark.sql.types import LongType, StructField, StructType

        from columnar_estimator_sample_spark.sources import tfrecord as tfr

        d = str(tmp_path / "shards")
        os.makedirs(d)
        paths = [os.path.join(d, f"part-{i:05d}.tfrecord") for i in (0, 1)]
        for i, p in enumerate(paths):
            write_tfrecords(p, iter([encode_example({"a": i})]), None)
        schema = StructType([StructField("a", LongType())])
        r = tfr.TFRecordPartitionedStreamReader(schema, {"path": d})
        assert r.latestOffset() == {"files": paths}
        os.remove(paths[0])
        assert r.latestOffset() == {"files": paths}

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
        import os
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
        import os
        os.makedirs(os.path.join(root, "in"))
        return (spark.readStream.format("tfrecord_example")
                .schema("id long")
                .option("path", os.path.join(root, "in", "*", "part-*"))
                .load())

    @staticmethod
    def _round(spark, root, stream, k):
        """Publish batch ``k`` (ids 100k .. 100k+99), land it and return
        the landed epochs with their ids."""
        import os

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
