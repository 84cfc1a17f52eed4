"""Streaming ingest gate: continuous dedup of arriving docs against a
static corpus + previously accepted batches (file-source stream,
AvailableNow, real foreachBatch)."""

import json

import pytest
from pyspark.sql import types as T

from mysql_syncer_spark.streaming.ingest import (
    dedup_batch_within,
    ingest_gate_stream,
    read_accepted,
)

#: e2e streaming (real micro-batch triggers + checkpoint dirs):
#: the nightly slow tier (VERDICT r12 item 2); see tests/slow_tier.txt
pytestmark = pytest.mark.slow

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _doc(doc_id, text):
    return json.dumps(
        {"doc_id": doc_id, "text": text, "lang": "en", "source": "stream",
         "n_chars": len(text)}
    )


def test_dedup_batch_within(spark):
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    near = base.replace("quick", "rapid", 1)
    batch = spark.createDataFrame(
        [(1, base, "en", "s", len(base)),
         (2, base, "en", "s", len(base)),       # exact dup of 1
         (3, near, "en", "s", len(near)),       # near dup of 1
         (4, "completely different content about databases", "en", "s", 44)],
        DOC_SCHEMA,
    )
    kept = {r["doc_id"] for r in dedup_batch_within(batch).collect()}
    assert kept == {1, 4}


def test_ingest_gate_stream_end_to_end(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_path = str(tmp_path / "corpus.parquet")
    docs.write.parquet(corpus_path)
    d0 = docs.orderBy("doc_id").limit(1).collect()[0]["text"]
    near0 = d0.replace(d0.split()[0], "zzz", 1)

    src = tmp_path / "arrivals"
    src.mkdir()
    novel_a = "a genuinely new article about spark streaming gates one"
    novel_b = "another brand new piece of text that is not a duplicate"
    near_a = novel_a.replace("article", "writeup", 1)
    # batch 1: corpus exact copy (drop), corpus near-dup (drop), novel (keep)
    (src / "b0.json").write_text(
        "\n".join([_doc(900001, d0), _doc(900002, near0), _doc(900003, novel_a)])
    )
    # batch 2: exact copy of batch-1 novel (drop — accepted store works),
    # near-dup of batch-1 novel (drop), fresh doc (keep)
    (src / "b1.json").write_text(
        "\n".join([_doc(900004, novel_a), _doc(900005, near_a),
                   _doc(900006, novel_b)])
    )

    accepted = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = ingest_gate_stream(stream, corpus_path, accepted, ckpt)
    q.awaitTermination(180)

    got = {r["doc_id"] for r in read_accepted(spark, accepted).collect()}
    # file-source ordering by mtime is not guaranteed, but both orders
    # accept exactly one of {900003, 900004} (exact copies of each
    # other) plus 900006
    assert 900006 in got
    assert len(got & {900003, 900004}) == 1
    assert got & {900001, 900002, 900005} == set()

    # restart on the same checkpoint with no new files: no-op
    stream2 = spark.readStream.schema(DOC_SCHEMA).json(str(src))
    q2 = ingest_gate_stream(stream2, corpus_path, accepted, ckpt)
    q2.awaitTermination(180)
    got2 = {r["doc_id"] for r in read_accepted(spark, accepted).collect()}
    assert got2 == got


def test_ingest_gate_stream_indexed_end_to_end(spark, sf_dir, tmp_path):
    """The at-scale streaming gate: corpus served from the persisted
    index, survivors appended back — later batches dedup against
    earlier ones through the INDEX, and the recompute variant's
    accepted-store union never runs."""
    from mysql_syncer_spark.operators.minhash_index import (
        minhash_index_read,
        minhash_index_write,
    )
    from mysql_syncer_spark.streaming.ingest import ingest_gate_stream_indexed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d0 = docs.orderBy("doc_id").limit(1).collect()[0]["text"]
    near0 = d0.replace(d0.split()[0], "zzz", 1)
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS strmidx LOCATION '{tmp_path / 'wh'}'"
    )
    try:
        minhash_index_write(
            docs, "strmidx.docs", num_hashes=16, bands=4, num_buckets=4
        )
        src = tmp_path / "arrivals"
        src.mkdir()
        novel_a = "a genuinely new article about spark streaming gates one"
        novel_b = "another brand new piece of text that is not a duplicate"
        near_a = novel_a.replace("article", "writeup", 1)
        (src / "b0.json").write_text(
            "\n".join([_doc(900001, d0), _doc(900002, near0),
                       _doc(900003, novel_a)])
        )
        (src / "b1.json").write_text(
            "\n".join([_doc(900004, novel_a), _doc(900005, near_a),
                       _doc(900006, novel_b)])
        )
        accepted = str(tmp_path / "accepted")
        ckpt = str(tmp_path / "ckpt")
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = ingest_gate_stream_indexed(
            stream, "strmidx.docs", accepted, ckpt, threshold=0.5
        )
        q.awaitTermination(180)

        got = {r["doc_id"] for r in read_accepted(spark, accepted).collect()}
        assert 900006 in got
        assert len(got & {900003, 900004}) == 1
        assert got & {900001, 900002, 900005} == set()
        # acceptance IS index membership: survivors' signatures landed.
        # (The appends ran in the streaming clone's session; this outer
        # session must refresh its cached file listing first — the same
        # staleness the gate itself avoids by reading through
        # batch.sparkSession.)
        spark.catalog.refreshTable("strmidx.docs_sig")
        idx = minhash_index_read(spark, "strmidx.docs")
        indexed_ids = {
            r["doc_id"]
            for r in idx.signatures.where("doc_id >= 900000").collect()
        }
        assert indexed_ids == got
    finally:
        spark.sql("DROP DATABASE IF EXISTS strmidx CASCADE")


def test_cdc_checkpoint_recovery_replayed_batch(spark, tmp_path):
    """Kill the CDC merge stream in the replay window (after the target
    swap, BEFORE Spark records the batch in the checkpoint commit log),
    restart from the checkpoint, and assert the recovered state equals
    an uninterrupted run's — the restarted query REPLAYS the batch and
    the merge absorbs it idempotently (winners decided by seq, not
    arrival)."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from mysql_syncer_spark.streaming.cdc import cdc_merge_stream, read_state

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tmp_path / "stream_in"
    src.mkdir()
    B0 = (
        '{"user_id": 1, "seq": 1, "op": "upsert", "value": 1.0}\n'
        '{"user_id": 2, "seq": 1, "op": "upsert", "value": 2.0}\n'
    )
    B1 = (
        '{"user_id": 1, "seq": 2, "op": "upsert", "value": 11.0}\n'
        '{"user_id": 2, "seq": 2, "op": "delete", "value": 0.0}\n'
        '{"user_id": 3, "seq": 2, "op": "upsert", "value": 3.0}\n'
    )

    def read_stream():
        return spark.readStream.schema(schema).json(str(src))

    def run(target, ckpt, hook=None):
        q = cdc_merge_stream(
            read_stream(), target, ["user_id"], ["seq"], ckpt,
            on_batch_committed=hook,
        )
        q.awaitTermination(120)

    def state(path):
        return {
            r["user_id"]: r["value"]
            for r in read_state(spark, path, op_col="op").collect()
        }

    # golden: uninterrupted run over both files
    (src / "b0.json").write_text(B0)
    (src / "b1.json").write_text(B1)
    gold = str(tmp_path / "gold.parquet")
    run(gold, str(tmp_path / "gold_ckpt"))
    golden = state(gold)
    assert golden == {1: 11.0, 3: 3.0}

    # crash run against a SEPARATE source dir fed file-by-file
    src2 = tmp_path / "stream_in2"
    src2.mkdir()
    (src2 / "b0.json").write_text(B0)
    target = str(tmp_path / "state.parquet")
    ckpt = str(tmp_path / "ckpt")

    def read_stream2():
        return spark.readStream.schema(schema).json(str(src2))

    q = cdc_merge_stream(read_stream2(), target, ["user_id"], ["seq"], ckpt)
    q.awaitTermination(120)
    assert state(target) == {1: 1.0, 2: 2.0}

    # b1 arrives; the query dies right after its target swap commits —
    # the sink applied the batch but the checkpoint never recorded it
    (src2 / "b1.json").write_text(B1)

    def crash(batch_id):
        raise RuntimeError("injected crash in the replay window")

    q = cdc_merge_stream(
        read_stream2(), target, ["user_id"], ["seq"], ckpt,
        on_batch_committed=crash,
    )
    try:
        q.awaitTermination(120)
        raised = False
    except StreamingQueryException:
        raised = True
    assert raised, "injected crash did not surface"
    assert state(target) == golden  # sink committed before the crash

    # restart from the checkpoint: Spark must REPLAY the uncommitted
    # batch (proven via the hook), and the merged state must still
    # equal the uninterrupted run
    replayed = str(tmp_path / "replayed.log")

    def record(batch_id):
        with open(replayed, "a") as f:
            f.write(f"{batch_id}\n")

    q = cdc_merge_stream(
        read_stream2(), target, ["user_id"], ["seq"], ckpt,
        on_batch_committed=record,
    )
    q.awaitTermination(120)
    assert os.path.exists(replayed) and open(replayed).read().strip(), (
        "restart did not replay the uncommitted batch"
    )
    assert state(target) == golden


class TestCmsMaintainStream:
    def test_streamed_sketch_equals_batch_sketch(self, spark, tmp_path):
        """Fold three micro-batches into the persisted sketch; the
        result must EQUAL the one-shot batch sketch of the full data
        (the CMS monoid property, live)."""
        import json as _json
        import os
        import time

        from pyspark.sql import types as T

        from mysql_syncer_spark.operators.sketches import (
            cms_build, cms_estimate,
        )
        from mysql_syncer_spark.streaming.ingest import cms_maintain_stream

        src = tmp_path / "cms_in"
        src.mkdir()
        batches = [
            ["a", "a", "b"],
            ["a", "c", "c", "c"],
            ["b", "d"],
        ]
        base = time.time() - 100
        for i, items in enumerate(batches):
            p = src / f"b{i}.json"
            p.write_text(
                "\n".join(_json.dumps({"item": x}) for x in items)
            )
            os.utime(p, (base + i * 10, base + i * 10))

        stream = (
            spark.readStream.schema(
                T.StructType([T.StructField("item", T.StringType())])
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        sketch_path = str(tmp_path / "cms_sketch")
        q = cms_maintain_stream(
            stream, sketch_path, str(tmp_path / "cms_ck"),
            item_col="item", depth=4, width=64,
        )
        q.awaitTermination(180)

        streamed = spark.read.parquet(sketch_path)
        flat = [x for b in batches for x in b]
        direct = cms_build(
            spark.createDataFrame([(x,) for x in flat], "item string"),
            "item", depth=4, width=64,
        )
        assert sorted(map(tuple, streamed.collect())) == sorted(
            map(tuple, direct.collect())
        )
        probes = spark.createDataFrame(
            [("a",), ("c",), ("zz",)], "item string"
        )
        got = {
            r.item: r.cms_count
            for r in cms_estimate(
                streamed, probes, "item", depth=4, width=64
            ).collect()
        }
        assert got["a"] >= 3 and got["c"] >= 3 and got["zz"] >= 0
        # no staging/old residue after the swap
        assert not os.path.exists(sketch_path + ".__staging__")
        assert not os.path.exists(sketch_path + ".__old__")

    def test_cms_checkpoint_recovery_drifts_high_only(self, spark, tmp_path):
        """Kill the CMS maintainer in the replay window (after the
        sketch swap, BEFORE the checkpoint commit), restart, and assert
        the claimed invariant: the replayed batch double-counts, so
        every estimate is >= the uninterrupted run's (drift HIGH only
        — an over-estimating sketch never under-counts through a
        crash), and cell-for-cell >= holds across the whole sketch."""
        import json as _json
        import os
        import time

        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )
        from pyspark.sql import types as T

        from mysql_syncer_spark.operators.sketches import (
            cms_build, cms_estimate, cms_merge,
        )
        from mysql_syncer_spark.streaming.ingest import cms_maintain_stream

        src = tmp_path / "cms_in"
        src.mkdir()
        batches = [["a", "a", "b"], ["a", "c", "c", "c"]]
        base = time.time() - 100
        for i, items in enumerate(batches):
            p = src / f"b{i}.json"
            p.write_text("\n".join(_json.dumps({"item": x}) for x in items))
            os.utime(p, (base + i * 10, base + i * 10))

        schema = T.StructType([T.StructField("item", T.StringType())])

        def read_stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .json(str(src))
            )

        # golden: uninterrupted run
        gold_path = str(tmp_path / "gold_sketch")
        q = cms_maintain_stream(
            read_stream(), gold_path, str(tmp_path / "gold_ck"),
            item_col="item", depth=4, width=64,
        )
        q.awaitTermination(180)
        golden = {
            (r["row"], r["bucket"]): r["cnt"]
            for r in spark.read.parquet(gold_path).collect()
        }

        # crash run: die after the SECOND batch's swap commits
        sketch_path = str(tmp_path / "cms_sketch")
        ckpt = str(tmp_path / "cms_ck")
        seen = []

        def crash_on_second(batch_id):
            seen.append(batch_id)
            if len(seen) == 2:
                raise RuntimeError("injected crash in the replay window")

        q = cms_maintain_stream(
            read_stream(), sketch_path, ckpt,
            item_col="item", depth=4, width=64,
            on_batch_committed=crash_on_second,
        )
        try:
            q.awaitTermination(180)
            raised = False
        except StreamingQueryException:
            raised = True
        assert raised, "injected crash did not surface"

        # restart from the checkpoint: the uncommitted batch REPLAYS
        replayed = []
        q = cms_maintain_stream(
            read_stream(), sketch_path, ckpt,
            item_col="item", depth=4, width=64,
            on_batch_committed=replayed.append,
        )
        q.awaitTermination(180)
        assert replayed, "restart did not replay the uncommitted batch"

        recovered = {
            (r["row"], r["bucket"]): r["cnt"]
            for r in spark.read.parquet(sketch_path).collect()
        }
        # the invariant: cell-for-cell >= the uninterrupted sketch
        for cell, cnt in golden.items():
            assert recovered.get(cell, 0) >= cnt, cell
        # and estimates only ever >= truth
        probes = spark.createDataFrame(
            [("a",), ("b",), ("c",)], "item string"
        )
        truth = {"a": 3, "b": 1, "c": 3}
        got = {
            r.item: r.cms_count
            for r in cms_estimate(
                spark.read.parquet(sketch_path), probes, "item",
                depth=4, width=64,
            ).collect()
        }
        for k, v in truth.items():
            assert got[k] >= v, (k, got[k], v)

    def test_cms_mid_swap_crash_recovers_old_sketch(self, spark, tmp_path):
        """The unrecoverable-loss window ADVICE r6 flagged: a death
        BETWEEN rename(path, __old__) and rename(staging, path) leaves
        __old__ as the only copy. The next fold must restore it and
        merge INTO it — not rebuild from the new batch alone and delete
        the survivor."""
        import json as _json
        import os

        from pyspark.sql import types as T

        from mysql_syncer_spark.operators.sketches import (
            cms_build, cms_merge,
        )
        from mysql_syncer_spark.streaming.ingest import cms_maintain_stream

        sketch_path = str(tmp_path / "sketch")
        # accumulated sketch from prior batches
        prior = cms_build(
            spark.createDataFrame([("a",), ("a",), ("b",)], "item string"),
            "item", depth=4, width=64,
        )
        prior.write.parquet(sketch_path)
        # simulate the mid-swap crash: path moved to __old__, no path
        os.replace(sketch_path, sketch_path + ".__old__")
        assert not os.path.exists(sketch_path)

        src = tmp_path / "in"
        src.mkdir()
        (src / "b0.json").write_text(_json.dumps({"item": "c"}))
        stream = spark.readStream.schema(
            T.StructType([T.StructField("item", T.StringType())])
        ).json(str(src))
        q = cms_maintain_stream(
            stream, sketch_path, str(tmp_path / "ck"),
            item_col="item", depth=4, width=64,
        )
        q.awaitTermination(180)

        # the recovered sketch holds prior counts + the new batch
        expected = cms_merge(
            prior,
            cms_build(
                spark.createDataFrame([("c",)], "item string"),
                "item", depth=4, width=64,
            ),
        )
        got = sorted(map(tuple, spark.read.parquet(sketch_path).collect()))
        assert got == sorted(map(tuple, expected.collect()))
        assert not os.path.exists(sketch_path + ".__old__")


def test_cdc_mid_swap_crash_keeps_untouched_keys(spark, tmp_path):
    """A kill between the CDC target swap's two renames leaves the
    state only at ``__old__``. The next batch must merge into it, not
    rebuild the state from that batch alone and lose every key the
    batch does not touch."""
    import json as _json
    import os

    from mysql_syncer_spark.streaming.cdc import cdc_merge_stream, read_state

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    prior = spark.createDataFrame(
        [(1, 1, "upsert", 1.0), (2, 1, "upsert", 2.0)], schema
    )
    src = tmp_path / "in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in [
        {"user_id": 1, "seq": 2, "op": "upsert", "value": 11.0},
        {"user_id": 3, "seq": 2, "op": "upsert", "value": 3.0},
    ]))

    def run(target, crashed):
        prior.write.parquet(target)
        if crashed:  # the kill: state renamed aside, nothing renamed in
            os.replace(target, target + ".__old__")
        cdc_merge_stream(
            spark.readStream.schema(schema).json(str(src)), target,
            ["user_id"], ["seq"], target + ".ckpt",
        ).awaitTermination(120)
        return {r["user_id"]: r["value"]
                for r in read_state(spark, target, op_col="op").collect()}

    golden = run(str(tmp_path / "gold"), crashed=False)
    assert golden == {1: 11.0, 2: 2.0, 3: 3.0}
    target = str(tmp_path / "state")
    assert run(target, crashed=True) == golden
    assert not os.path.exists(target + ".__old__")


def test_indexed_gate_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Kill the indexed ingest gate in the replay window (after the
    parquet write + index append, BEFORE the checkpoint commit),
    restart, and assert the claimed invariant: the replay is BENIGN —
    the accepted output equals the uninterrupted run's (per-batch
    subdir overwrite) and the gate's anti-join verdict is unchanged
    under the duplicate index rows the replay appended."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from mysql_syncer_spark.operators.minhash_index import (
        minhash_index_read,
        minhash_index_write,
    )
    from mysql_syncer_spark.streaming.ingest import (
        ingest_gate_stream_indexed,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS crashidx LOCATION '{tmp_path / 'wh'}'"
    )
    try:
        minhash_index_write(
            docs, "crashidx.docs", num_hashes=16, bands=4, num_buckets=4
        )
        src = tmp_path / "arrivals"
        src.mkdir()
        novel_a = "a genuinely new article about spark streaming gates one"
        novel_b = "another brand new piece of text that is not a duplicate"
        import os
        import time

        base = time.time() - 100
        p0 = src / "b0.json"
        p0.write_text(_doc(900003, novel_a))
        os.utime(p0, (base, base))
        p1 = src / "b1.json"
        # batch 2: exact copy of batch-1's accepted doc (must drop via
        # the index) + a fresh doc (must keep)
        p1.write_text("\n".join([_doc(900004, novel_a), _doc(900006, novel_b)]))
        os.utime(p1, (base + 10, base + 10))

        accepted = str(tmp_path / "accepted")
        ckpt = str(tmp_path / "ckpt")

        def read_stream():
            return (
                spark.readStream.schema(DOC_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .json(str(src))
            )

        # crash after batch 2's side effects committed
        seen = []

        def crash_on_second(batch_id):
            seen.append(batch_id)
            if len(seen) == 2:
                raise RuntimeError("injected crash in the replay window")

        q = ingest_gate_stream_indexed(
            read_stream(), "crashidx.docs", accepted, ckpt, threshold=0.5,
            on_batch_committed=crash_on_second,
        )
        try:
            q.awaitTermination(180)
            raised = False
        except StreamingQueryException:
            raised = True
        assert raised, "injected crash did not surface"
        got_before = {
            r["doc_id"] for r in read_accepted(spark, accepted).collect()
        }
        assert got_before == {900003, 900006}

        # restart: the uncommitted batch replays; its docs now ALSO sit
        # in the index from the pre-crash append, but the per-batch
        # overwrite re-gates the SAME batch against an index where its
        # own signatures are present — the verdict must not change
        replayed = []
        q = ingest_gate_stream_indexed(
            read_stream(), "crashidx.docs", accepted, ckpt, threshold=0.5,
            on_batch_committed=replayed.append,
        )
        q.awaitTermination(180)
        assert replayed, "restart did not replay the uncommitted batch"
        got_after = {
            r["doc_id"] for r in read_accepted(spark, accepted).collect()
        }
        assert got_after == got_before
    finally:
        spark.sql("DROP DATABASE IF EXISTS crashidx CASCADE")


class TestQuantileMaintainStream:
    """Streaming quantile-summary maintenance (E134's live twin):
    (1) streamed summary == the batch sketch over the union of batches
    (exactness mode); (2) EXACT replay convergence — a crash after the
    swap but before the checkpoint commit, then restart, leaves the
    summary EQUAL to the uninterrupted run (the last_batch high-water
    mark skips the replayed batch; stronger than CMS's drift-HIGH)."""

    BATCHES = [
        [1.0, 2.0, 2.0, 5.0],
        [2.0, 3.0, 3.0, 9.0, 9.0],
    ]

    def _write_batches(self, src):
        import json as _json
        import os
        import time

        base = time.time() - 100
        for i, vals in enumerate(self.BATCHES):
            p = src / f"b{i}.json"
            p.write_text(
                "\n".join(_json.dumps({"v": x}) for x in vals)
            )
            os.utime(p, (base + i * 10, base + i * 10))

    def _stream(self, spark, src):
        from pyspark.sql import types as T

        schema = T.StructType([T.StructField("v", T.DoubleType())])
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    def _summary(self, spark, path):
        return sorted(
            (r["value"], r["weight"], r["err_bound"])
            for r in spark.read.parquet(path).collect()
        )

    def test_streamed_equals_batch_twin(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from mysql_syncer_spark.operators.sketches import (
            quantile_merge,
            quantile_query,
            quantile_summaries,
        )
        from mysql_syncer_spark.streaming.ingest import (
            quantile_maintain_stream,
        )

        src = tmp_path / "q_in"
        src.mkdir()
        self._write_batches(src)
        path = str(tmp_path / "q_summary")
        q = quantile_maintain_stream(
            self._stream(spark, src), path, str(tmp_path / "q_ck"),
            value_col="v", capacity=16,
        )
        q.awaitTermination(180)
        streamed = self._summary(spark, path)
        union = spark.createDataFrame(
            [(v,) for b in self.BATCHES for v in b], "v double"
        )
        twin = quantile_merge(quantile_summaries(union, "v", 16), 16)
        assert streamed == sorted(
            (r["value"], r["weight"], r["err_bound"])
            for r in twin.collect()
        )
        # exactness mode: medians answerable off the persisted summary
        persisted = spark.read.parquet(path).select(
            "value", "weight", "err_bound"
        )
        got = quantile_query(persisted, [0.5, 1.0]).collect()
        assert [r["value"] for r in got] == [3.0, 9.0]
        assert all(r["err_bound"] == 0 for r in got)

    def test_replay_converges_exactly(self, spark, tmp_path):
        import os

        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        from mysql_syncer_spark.streaming.ingest import (
            quantile_maintain_stream,
        )

        # golden: uninterrupted run
        gsrc = tmp_path / "g_in"
        gsrc.mkdir()
        self._write_batches(gsrc)
        gpath = str(tmp_path / "g_summary")
        q = quantile_maintain_stream(
            self._stream(spark, gsrc), gpath, str(tmp_path / "g_ck"),
            value_col="v", capacity=16,
        )
        q.awaitTermination(180)
        golden = self._summary(spark, gpath)

        # crash run: die after the SECOND batch's swap commits
        src = tmp_path / "c_in"
        src.mkdir()
        self._write_batches(src)
        path = str(tmp_path / "c_summary")
        ckpt = str(tmp_path / "c_ck")
        seen = []

        def crash_on_second(batch_id):
            seen.append(batch_id)
            if len(seen) == 2:
                raise RuntimeError("injected crash in the replay window")

        q = quantile_maintain_stream(
            self._stream(spark, src), path, ckpt,
            value_col="v", capacity=16, on_batch_committed=crash_on_second,
        )
        try:
            q.awaitTermination(180)
        except StreamingQueryException:
            pass
        assert len(seen) == 2  # second swap committed, checkpoint didn't

        # restart: Spark replays batch 1; the high-water mark skips it
        replayed = []
        q = quantile_maintain_stream(
            self._stream(spark, src), path, ckpt,
            value_col="v", capacity=16,
            on_batch_committed=replayed.append,
        )
        q.awaitTermination(180)
        assert replayed, "restart did not replay the uncommitted batch"
        assert self._summary(spark, path) == golden  # EXACT, no drift


class TestBitmapMaintainStream:
    """Streaming exact-distinct maintenance (E140's live twin): (1)
    streamed state == batch rollup over the union; (2) EXACT replay
    convergence BY ALGEBRA — OR over bit sets is idempotent, so a
    crash after the swap but before the checkpoint commit, then
    restart (which RE-APPLIES the batch), still converges to the
    uninterrupted state. No drift direction, no high-water mark."""

    BATCHES = [
        [("click", 1), ("click", 2), ("buy", 1)],
        [("click", 2), ("click", 70001), ("buy", 9)],
    ]

    def _write_batches(self, src):
        import json as _json
        import os
        import time

        base = time.time() - 100
        for i, rows in enumerate(self.BATCHES):
            p = src / f"b{i}.json"
            p.write_text(
                "\n".join(
                    _json.dumps({"g": g, "k": k}) for g, k in rows
                )
            )
            os.utime(p, (base + i * 10, base + i * 10))

    def _stream(self, spark, src):
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField("g", T.StringType()),
             T.StructField("k", T.LongType())]
        )
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    def _distincts(self, spark, path):
        from mysql_syncer_spark.operators.sketches import (
            bitmap_distinct_over,
        )

        return {
            r["g"]: r["n_distinct"]
            for r in bitmap_distinct_over(
                spark.read.parquet(path), ["g"]
            ).collect()
        }

    def test_streamed_equals_batch_twin(self, spark, tmp_path):
        from mysql_syncer_spark.streaming.ingest import (
            bitmap_maintain_stream,
        )

        src = tmp_path / "bm_in"
        src.mkdir()
        self._write_batches(src)
        path = str(tmp_path / "bm_state")
        q = bitmap_maintain_stream(
            self._stream(spark, src), path, str(tmp_path / "bm_ck"),
            ["g"], "k",
        )
        q.awaitTermination(180)
        # union distincts: click {1,2,70001} = 3, buy {1,9} = 2
        assert self._distincts(spark, path) == {"click": 3, "buy": 2}

    def test_replay_converges_by_idempotence(self, spark, tmp_path):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        from mysql_syncer_spark.streaming.ingest import (
            bitmap_maintain_stream,
        )

        src = tmp_path / "bmc_in"
        src.mkdir()
        self._write_batches(src)
        path = str(tmp_path / "bmc_state")
        ckpt = str(tmp_path / "bmc_ck")
        seen = []

        def crash_on_second(batch_id):
            seen.append(batch_id)
            if len(seen) == 2:
                raise RuntimeError("injected crash in the replay window")

        q = bitmap_maintain_stream(
            self._stream(spark, src), path, ckpt, ["g"], "k",
            on_batch_committed=crash_on_second,
        )
        try:
            q.awaitTermination(180)
        except StreamingQueryException:
            pass
        assert len(seen) == 2  # second swap committed, checkpoint didn't

        # restart replays batch 1; the OR re-merge is a no-op by algebra
        replayed = []
        q = bitmap_maintain_stream(
            self._stream(spark, src), path, ckpt, ["g"], "k",
            on_batch_committed=replayed.append,
        )
        q.awaitTermination(180)
        assert replayed, "restart did not replay the uncommitted batch"
        assert self._distincts(spark, path) == {"click": 3, "buy": 2}


class TestSpanGateStream:
    """Streaming content-novelty gate over the persisted span index:
    span-granular admission (reject mostly-known content), survivors
    folded back so later batches gate against earlier admissions."""

    def test_end_to_end_and_replay_idempotence(self, spark, tmp_path):
        import random
        import string

        from mysql_syncer_spark.operators.spans import span_index_write
        from mysql_syncer_spark.streaming.ingest import span_gate_stream

        rng = random.Random(55)

        def rand(n):
            return "".join(
                rng.choice(string.ascii_lowercase + " ") for _ in range(n)
            )

        corpus_rows = [(i, rand(150)) for i in range(6)]
        corpus = spark.createDataFrame(
            corpus_rows, "doc_id long, text string"
        )
        spark.sql(
            f"CREATE DATABASE IF NOT EXISTS spangate "
            f"LOCATION '{tmp_path / 'wh'}'"
        )
        try:
            span_index_write(
                corpus, "spangate.docs", k=8, w=4, num_buckets=4
            )
            known = corpus_rows[0][1]
            novel_a = rand(150)
            novel_b = rand(150)
            stitched = known[:100] + rand(30)  # ~75% known content
            src = tmp_path / "arrivals"
            src.mkdir()
            (src / "b0.json").write_text(
                "\n".join(
                    [
                        _doc(900001, known),      # verbatim -> reject
                        _doc(900002, stitched),   # mostly known -> reject
                        _doc(900003, novel_a),    # admit
                        _doc(900004, novel_a),    # exact within-batch dup
                    ]
                )
            )
            (src / "b1.json").write_text(
                "\n".join(
                    [
                        _doc(900005, novel_a),    # admitted LAST batch -> reject
                        _doc(900006, novel_b),    # admit
                    ]
                )
            )
            accepted = str(tmp_path / "accepted")
            ckpt = str(tmp_path / "ckpt")

            def run():
                stream = (
                    spark.readStream.schema(DOC_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .json(str(src))
                )
                q = span_gate_stream(
                    stream,
                    "spangate.docs",
                    accepted,
                    ckpt,
                    max_known_fraction=0.5,
                )
                q.awaitTermination(180)

            run()
            got = sorted(
                r.doc_id
                for r in spark.read.parquet(accepted).collect()
            )
            # file-source batch ORDER is not filename-deterministic:
            # exactly one copy of novel_a admits (900003 or 900005,
            # whichever batch ran first), novel_b admits, everything
            # known/stitched/duplicated rejects
            assert len(got) == 2 and 900006 in got, got
            assert got[0] in (900003, 900005), got
            expected = got
            # replay from scratch (fresh checkpoint, committed outputs):
            # outputs stay exactly-once, appends are benign duplicates
            import shutil as _sh

            _sh.rmtree(ckpt)
            run()
            again = sorted(
                r.doc_id
                for r in spark.read.parquet(accepted).collect()
            )
            assert again == expected, (again, expected)
        finally:
            spark.sql("DROP DATABASE IF EXISTS spangate CASCADE")

    def test_crash_after_commit_replays_benignly(self, spark, tmp_path):
        """Kill AFTER a batch's write+append committed but before the
        checkpoint advanced (raise from on_batch_committed): the
        restart replays the batch, keeps its committed output, redoes
        only the index append — duplicate fingerprint rows are benign
        (semi-join membership), and the final accepted set equals the
        uninterrupted run's."""
        import random
        import string

        from mysql_syncer_spark.operators.spans import span_index_write
        from mysql_syncer_spark.streaming.ingest import span_gate_stream

        rng = random.Random(59)

        def rand(n):
            return "".join(
                rng.choice(string.ascii_lowercase + " ") for _ in range(n)
            )

        corpus = spark.createDataFrame(
            [(i, rand(150)) for i in range(4)], "doc_id long, text string"
        )
        spark.sql(
            f"CREATE DATABASE IF NOT EXISTS spangatecrash "
            f"LOCATION '{tmp_path / 'wh'}'"
        )
        try:
            span_index_write(
                corpus, "spangatecrash.docs", k=8, w=4, num_buckets=4
            )
            novel_a, novel_b = rand(150), rand(150)
            src = tmp_path / "arrivals"
            src.mkdir()
            (src / "b0.json").write_text(_doc(1001, novel_a))
            (src / "b1.json").write_text(
                "\n".join([_doc(1002, novel_a), _doc(1003, novel_b)])
            )
            accepted = str(tmp_path / "accepted")
            ckpt = str(tmp_path / "ckpt")
            crashed = {"n": 0}

            def bomb(batch_id):
                crashed["n"] += 1
                if crashed["n"] == 1:
                    raise RuntimeError("injected kill after commit")

            def run(hook):
                stream = (
                    spark.readStream.schema(DOC_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .json(str(src))
                )
                q = span_gate_stream(
                    stream,
                    "spangatecrash.docs",
                    accepted,
                    ckpt,
                    max_known_fraction=0.5,
                    on_batch_committed=hook,
                )
                try:
                    q.awaitTermination(180)
                except Exception:
                    pass  # the injected kill surfaces here
                finally:
                    if q.isActive:
                        q.stop()

            run(bomb)  # dies after the first batch committed
            run(None)  # restart: replay + finish
            got = sorted(
                r.doc_id for r in spark.read.parquet(accepted).collect()
            )
            # exactly one copy of novel_a (whichever batch ran first)
            # plus novel_b — identical to an uninterrupted run
            assert len(got) == 2 and 1003 in got, got
            assert got[0] in (1001, 1002), got
        finally:
            spark.sql("DROP DATABASE IF EXISTS spangatecrash CASCADE")


class TestCorpusCardMaintainStream:
    """Streaming E180/E183 corpus-card maintenance: (1) live card ==
    one-shot batch card of the union; (2) kill-and-restart in the
    non-idempotent replay window (swap committed, checkpoint not)
    converges EXACTLY to the uninterrupted run — the quantile
    maintainer's replay class, with the extra hash-subdir ordering
    invariant (hashes land before the swap commits)."""

    # cross-batch dup ("hello world"), batch-internal dup pair, a NULL
    # text, and a slice that first appears in batch 3
    BATCHES = [
        [("web", "en", "hello world"), ("web", "en", "unique one")],
        [
            ("web", "en", "hello world"),
            ("web", "en", "twice twice"),
            ("web", "en", "twice twice"),
            ("web", "en", None),
        ],
        [("book", "de", "neu hier"), ("web", "en", "unique one")],
    ]

    def _write_batches(self, src):
        import json as _json
        import os
        import time

        base = time.time() - 100
        for i, rows in enumerate(self.BATCHES):
            p = src / f"b{i}.json"
            p.write_text(
                "\n".join(
                    _json.dumps(
                        {"source": s, "lang": lg, "text": t}
                    )
                    for s, lg, t in rows
                )
            )
            os.utime(p, (base + i * 10, base + i * 10))

    def _stream(self, spark, src):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("source", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("text", T.StringType()),
            ]
        )
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    def _card(self, spark, state_path):
        from mysql_syncer_spark.streaming.ingest import (
            corpus_card_stream_card,
        )

        card = corpus_card_stream_card(
            spark, state_path, ["source", "lang"]
        )
        assert card is not None
        return sorted(tuple(r) for r in card.collect())

    def _twin(self, spark):
        from mysql_syncer_spark.operators.text import corpus_card

        union = spark.createDataFrame(
            [r for b in self.BATCHES for r in b],
            "source string, lang string, text string",
        )
        return sorted(
            tuple(r)
            for r in corpus_card(union, ["source", "lang"]).collect()
        )

    def test_streamed_equals_batch_twin(self, spark, tmp_path):
        import os

        from mysql_syncer_spark.streaming.ingest import (
            corpus_card_maintain_stream,
        )

        src = tmp_path / "cc_in"
        src.mkdir()
        self._write_batches(src)
        state = str(tmp_path / "cc_state")
        q = corpus_card_maintain_stream(
            self._stream(spark, src), state, str(tmp_path / "cc_ck"),
            group_cols=["source", "lang"],
        )
        q.awaitTermination(180)
        assert self._card(spark, state) == self._twin(spark)
        # ordering invariant residue: one hash subdir per batch, no
        # staging/old leftovers, and no NULL keys persisted
        hdirs = sorted(
            d for d in os.listdir(f"{state}/hashes")
            if d.startswith("batch_id=")
        )
        assert hdirs == ["batch_id=0", "batch_id=1", "batch_id=2"]
        assert not os.path.exists(f"{state}/aggs.__staging__")
        assert not os.path.exists(f"{state}/aggs.__old__")
        hashes = spark.read.parquet(f"{state}/hashes")
        assert hashes.where("__h IS NULL").count() == 0
        # append-only store holds exactly the distinct corpus hashes
        assert (
            hashes.count()
            == hashes.select("source", "lang", "__h").distinct().count()
        )

    def test_replay_converges_exactly(self, spark, tmp_path):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        from mysql_syncer_spark.streaming.ingest import (
            corpus_card_maintain_stream,
        )

        # crash run: die after the SECOND batch's swap commits but
        # before the checkpoint does — the non-idempotent window
        src = tmp_path / "cc_c_in"
        src.mkdir()
        self._write_batches(src)
        state = str(tmp_path / "cc_c_state")
        ckpt = str(tmp_path / "cc_c_ck")
        seen = []

        def crash_on_second(batch_id):
            seen.append(batch_id)
            if len(seen) == 2:
                raise RuntimeError("injected crash in the replay window")

        q = corpus_card_maintain_stream(
            self._stream(spark, src), state, ckpt,
            group_cols=["source", "lang"],
            on_batch_committed=crash_on_second,
        )
        try:
            q.awaitTermination(180)
        except StreamingQueryException:
            pass
        assert len(seen) == 2  # second swap committed, checkpoint didn't

        # restart: batch 1 REPLAYS; the high-water mark skips the
        # re-fold (its hashes are already in place), batch 2 proceeds
        replayed = []
        q = corpus_card_maintain_stream(
            self._stream(spark, src), state, ckpt,
            group_cols=["source", "lang"],
            on_batch_committed=replayed.append,
        )
        q.awaitTermination(180)
        assert replayed and replayed[0] == 1, (
            "restart did not replay the uncommitted batch"
        )
        assert self._card(spark, state) == self._twin(spark)


class TestCategoryDriftStream:
    """E195 streaming JSD drift monitor: (1) per-batch metric equals
    the batch E190 operator on the same rows; (2) alarm fires on a
    shifted mix; (3) kill-and-restart converges (idempotent-by-layout
    replay, no high-water mark)."""

    CATS = ["x", "y"]
    #: batch 0 matches the reference mix; batch 1 is heavily shifted
    BATCHES = [
        ["x"] * 6 + ["y"] * 2,
        ["y"] * 8,
        ["x"] * 3 + ["y"] * 1,
    ]

    def _write_batches(self, src):
        import json as _json
        import os
        import time

        base = time.time() - 100
        for i, items in enumerate(self.BATCHES):
            p = src / f"b{i}.json"
            p.write_text(
                "\n".join(_json.dumps({"c": v}) for v in items)
            )
            os.utime(p, (base + i * 10, base + i * 10))

    def _stream(self, spark, src):
        from pyspark.sql import types as T

        return (
            spark.readStream.schema(
                T.StructType([T.StructField("c", T.StringType())])
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    def _reference(self, spark):
        # reference mix 3:1 — batch 0 and 2 match it exactly
        return spark.createDataFrame(
            [("x",)] * 9 + [("y",)] * 3, "c string"
        )

    def _series(self, spark, path):
        return sorted(
            (r.batch, r.n_batch, r.jsd, r.jsd_norm, r.alarm)
            for r in spark.read.parquet(path).collect()
        )

    def test_streamed_equals_batch_twin_and_alarm(self, spark, tmp_path):
        from mysql_syncer_spark.operators.drift import js_divergence
        from mysql_syncer_spark.streaming.ingest import (
            category_drift_stream,
        )

        src = tmp_path / "cd_in"
        src.mkdir()
        self._write_batches(src)
        metrics = str(tmp_path / "cd_metrics")
        q = category_drift_stream(
            self._stream(spark, src), self._reference(spark), "c",
            self.CATS, metrics, str(tmp_path / "cd_ck"),
            alarm_threshold=0.1,
        )
        q.awaitTermination(180)
        got = {r.batch: r for r in spark.read.parquet(metrics).collect()}
        assert set(got) == {0, 1, 2}
        # twin: each batch's jsd equals the batch operator's
        for i, items in enumerate(self.BATCHES):
            b = spark.createDataFrame([(v,) for v in items], "c string")
            twin = js_divergence(
                b, self._reference(spark), "c", self.CATS
            ).first()
            assert got[i].jsd == twin.jsd, i
            assert got[i].jsd_norm == twin.jsd_norm, i
        # batches matching the reference mix read EXACTLY zero; the
        # shifted batch alarms
        assert got[0].jsd == 0.0 and not got[0].alarm
        assert got[2].jsd == 0.0 and not got[2].alarm
        assert got[1].jsd_norm > 0.1 and got[1].alarm

    def test_replay_converges(self, spark, tmp_path):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        from mysql_syncer_spark.streaming.ingest import (
            category_drift_stream,
        )

        src = tmp_path / "cd_c_in"
        src.mkdir()
        self._write_batches(src)
        metrics = str(tmp_path / "cd_c_metrics")
        ckpt = str(tmp_path / "cd_c_ck")
        seen = []

        def crash_on_second(batch_id):
            seen.append(batch_id)
            if len(seen) == 2:
                raise RuntimeError("injected crash before checkpoint")

        q = category_drift_stream(
            self._stream(spark, src), self._reference(spark), "c",
            self.CATS, metrics, ckpt, on_batch_committed=crash_on_second,
        )
        try:
            q.awaitTermination(180)
        except StreamingQueryException:
            pass
        assert len(seen) == 2  # batch 1's metrics written, ckpt not

        replayed = []
        q = category_drift_stream(
            self._stream(spark, src), self._reference(spark), "c",
            self.CATS, metrics, ckpt, on_batch_committed=replayed.append,
        )
        q.awaitTermination(180)
        assert replayed and replayed[0] == 1

        # golden: uninterrupted run on a fresh checkpoint
        gmetrics = str(tmp_path / "cd_g_metrics")
        q = category_drift_stream(
            self._stream(spark, src), self._reference(spark), "c",
            self.CATS, gmetrics, str(tmp_path / "cd_g_ck"),
        )
        q.awaitTermination(180)
        assert self._series(spark, metrics) == self._series(
            spark, gmetrics
        )
