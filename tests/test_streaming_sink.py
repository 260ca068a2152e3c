"""Checkpoint-resume test for the parquet streaming sink: interrupt after
the first micro-batch, restart from the same checkpoint, and the landed
output must equal the batch read exactly — no duplicates, no gaps."""

from __future__ import annotations

import os

import pytest

import pyspark.sql.functions as F

from nshm2022db_spark.sources import read_table
from nshm2022db_spark.streaming.sinks import land_stream_to_parquet


def test_checkpoint_resume_exactly_once(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = read_table(spark, sf_dir, "events")
    events.repartition(4).write.parquet(src)

    def stream():
        return (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, value double,"
                " props string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    # First run: stop after the first committed micro-batch (1 file of 4).
    q = land_stream_to_parquet(stream(), out, ckpt, trigger_available_now=False)
    while not q.recentProgress:
        q.awaitTermination(0.2)
    q.stop()
    q.awaitTermination()

    landed_partial = spark.read.parquet(out).count()
    assert 0 < landed_partial  # something committed before the stop

    # Restart from the same checkpoint: availableNow drains the rest.
    q2 = land_stream_to_parquet(stream(), out, ckpt, trigger_available_now=True)
    q2.awaitTermination()

    got = spark.read.parquet(out)
    assert got.count() == events.count()  # no gaps, no duplicates
    assert got.select(F.sum("event_id")).collect()[0][0] == (
        events.select(F.sum("event_id")).collect()[0][0]
    )


class TestUpsertSink:
    def _stream(self, spark, src):
        return (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, value double,"
                " props string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def test_latest_per_key_matches_batch(self, spark, sf_dir, tmp_path):
        """Drain the events stream into a keyed table; the table must hold
        exactly the batch-computed latest event per user."""
        from nshm2022db_spark.streaming.sinks import (
            read_keyed_table,
            upsert_stream_to_table,
        )

        src = str(tmp_path / "src")
        events = read_table(spark, sf_dir, "events")
        events.repartition(4).write.parquet(src)

        q = upsert_stream_to_table(
            self._stream(spark, src).select("user_id", "event_id", "ts"),
            str(tmp_path / "table"),
            str(tmp_path / "ckpt"),
            keys=["user_id"],
            order_col="ts",
            tiebreak=["event_id"],
        )
        q.awaitTermination()

        got = {
            r.user_id: r.event_id
            for r in read_keyed_table(spark, str(tmp_path / "table")).collect()
        }
        from pyspark.sql import Window

        # With the event_id tiebreak the sink is fully deterministic:
        # the table must equal the batch argmax(ts, event_id) per user.
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = events.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        expected = {r.user_id: r.event_id for r in latest.collect()}
        assert got == expected

    def test_replayed_batch_is_noop(self, spark, sf_dir, tmp_path):
        """Re-applying an already-published batch id must not bump the
        version — the idempotence the checkpoint-replay path relies on."""
        from nshm2022db_spark.streaming.sinks import (
            _read_pointer,
            upsert_stream_to_table,
        )

        src = str(tmp_path / "src")
        events = read_table(spark, sf_dir, "events")
        events.coalesce(1).write.parquet(src)
        table = str(tmp_path / "table")

        q = upsert_stream_to_table(
            self._stream(spark, src).select("user_id", "event_id", "ts"),
            table,
            str(tmp_path / "ckpt"),
            keys=["user_id"],
            order_col="ts",
        )
        q.awaitTermination()
        ptr = _read_pointer(table)

        # Fresh checkpoint replays batch 0 against the same table dir.
        q2 = upsert_stream_to_table(
            self._stream(spark, src).select("user_id", "event_id", "ts"),
            table,
            str(tmp_path / "ckpt2"),
            keys=["user_id"],
            order_col="ts",
        )
        q2.awaitTermination()
        assert _read_pointer(table) == ptr


class TestRollupSink:
    def _stream(self, spark, src):
        return (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, value double,"
                " props string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def test_additive_rollup_matches_batch(self, spark, sf_dir, tmp_path):
        """Drain events split over 4 micro-batches; the maintained table
        must equal the one-shot batch rollup (counts exact, sums close)."""
        from nshm2022db_spark.streaming.sinks import (
            read_keyed_table,
            rollup_stream_to_table,
        )

        src = str(tmp_path / "src")
        events = read_table(spark, sf_dir, "events")
        events.repartition(4).write.parquet(src)

        q = rollup_stream_to_table(
            self._stream(spark, src).select("event_type", "value"),
            str(tmp_path / "table"),
            str(tmp_path / "ckpt"),
            keys=["event_type"],
            sum_cols={"value": "total"},
        )
        q.awaitTermination()

        got = {
            r.event_type: (r.n, r.total)
            for r in read_keyed_table(spark, str(tmp_path / "table")).collect()
        }
        want = {
            r.event_type: (r.n, r.total)
            for r in events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0], k
            assert abs(got[k][1] - want[k][1]) < 1e-6, k

    def test_replayed_batch_does_not_double_count(self, spark, sf_dir, tmp_path):
        """Re-draining the same source with a FRESH checkpoint replays
        batch 0 against the same table; the published batch-id list must
        make the re-add a no-op (re-adding would double every count)."""
        from nshm2022db_spark.streaming.sinks import (
            _read_pointer,
            rollup_stream_to_table,
        )

        src = str(tmp_path / "src")
        events = read_table(spark, sf_dir, "events")
        events.coalesce(1).write.parquet(src)
        table = str(tmp_path / "table")

        def drain(ckpt):
            q = rollup_stream_to_table(
                self._stream(spark, src).select("event_type", "value"),
                table,
                str(tmp_path / ckpt),
                keys=["event_type"],
                sum_cols={"value": "total"},
            )
            q.awaitTermination()

        drain("ckpt")
        ptr = _read_pointer(table)
        drain("ckpt2")  # fresh checkpoint → replays batch 0
        assert _read_pointer(table) == ptr


class TestErasureRewrite:
    def test_untouched_partitions_byte_identical(self, spark, sf_dir, tmp_path):
        """The erasure rewrite must replace ONLY the DELETE_TYPES
        partitions; every other partition's files stay byte-identical
        (same names, sizes, mtimes) — that file preservation IS the
        scale claim (delete cost ∝ affected partitions)."""
        import os

        from nshm2022db_spark.queries.pipeline import (
            DELETE_TYPES,
            DELETE_USER_MOD,
            apply_erasure_rewrite,
        )

        path = str(tmp_path / "events_by_type")
        ev = read_table(spark, sf_dir, "events")
        ev.write.partitionBy("event_type").parquet(path)

        def snapshot(part):
            d = os.path.join(path, f"event_type={part}")
            return {
                f: (os.path.getsize(os.path.join(d, f)), os.path.getmtime(os.path.join(d, f)))
                for f in sorted(os.listdir(d))
                if not f.startswith(".")
            }

        untouched = [
            p.split("=", 1)[1]
            for p in os.listdir(path)
            if p.startswith("event_type=") and p.split("=", 1)[1] not in DELETE_TYPES
        ]
        assert untouched, "fixture needs at least one untouched partition"
        before = {p: snapshot(p) for p in untouched}

        apply_erasure_rewrite(spark, path)

        for p in untouched:
            assert snapshot(p) == before[p], p
        # And the affected partitions really lost the erasure set
        # (reads resolve through the commit-log manifest since r5).
        from nshm2022db_spark.streaming.sinks import read_keyed_table

        table = read_keyed_table(spark, path)
        leaked = table.filter(
            F.col("event_type").isin(*DELETE_TYPES)
            & (F.col("user_id") % DELETE_USER_MOD == 0)
        ).count()
        assert leaked == 0
        kept = table.filter(~F.col("event_type").isin(*DELETE_TYPES)).count()
        assert kept == ev.filter(~F.col("event_type").isin(*DELETE_TYPES)).count()

    def test_erasure_read_prunes_untouched_partitions(self, spark, sf_dir, tmp_path):
        """Partition pruning must survive the manifest-mapped read: a
        filter on the partition column folds the unaffected union
        branches away, so the erasure transaction's base scan reads NO
        files from untouched partitions."""
        from nshm2022db_spark.queries.pipeline import (
            DELETE_TYPES,
            apply_erasure_rewrite,
        )
        from nshm2022db_spark.streaming.sinks import read_keyed_table

        path = str(tmp_path / "events_by_type")
        read_table(spark, sf_dir, "events").write.partitionBy(
            "event_type"
        ).parquet(path)
        apply_erasure_rewrite(spark, path)

        pruned = read_keyed_table(spark, path).filter(
            F.col("event_type").isin(*DELETE_TYPES)
        )
        # The generation-grouped scan prunes at file-listing time:
        # untouched partitions sit in a multi-path scan whose
        # PartitionFilters carry the event_type predicate (static
        # inputFiles() doesn't apply them, so assert on the plan), and
        # the rewritten generation's branch scans only DELETE_TYPES dirs.
        jvm = pruned.sparkSession._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = pruned._jdf.queryExecution().explainString(mode)
        assert "PartitionFilters: [" in plan
        pf = plan.split("PartitionFilters")[1].split("]")[0]
        assert "event_type" in pf, pf


    def test_fully_erased_partition_is_removed(self, spark, tmp_path):
        """A DELETE_TYPES partition whose rows ALL match the erasure set
        must be ABSENT from the committed version (the pre-r4 hole: the
        swap loop only visited partitions present in the tmp write).
        Under the commit log the old files stay on disk as immutable
        history, but no current-version read resolves them."""
        from nshm2022db_spark.queries.pipeline import (
            DELETE_USER_MOD,
            apply_erasure_rewrite,
        )
        from nshm2022db_spark.streaming.sinks import (
            read_keyed_table,
            table_history,
        )

        path = str(tmp_path / "t")
        rows = [
            # purchase: ONLY erasure-set users -> whole partition must go
            (DELETE_USER_MOD * 1, "purchase", 1.0),
            (DELETE_USER_MOD * 2, "purchase", 2.0),
            # signup: mixed -> survivors kept
            (DELETE_USER_MOD * 3, "signup", 3.0),
            (5, "signup", 4.0),
            # view: untouched partition
            (DELETE_USER_MOD * 4, "view", 5.0),
        ]
        spark.createDataFrame(
            rows, "user_id long, event_type string, value double"
        ).write.partitionBy("event_type").parquet(path)

        apply_erasure_rewrite(spark, path)

        manifest = table_history(path)[-1]
        assert "event_type=purchase" not in manifest["partitions"]
        got = read_keyed_table(spark, path)
        assert got.filter("event_type = 'purchase'").count() == 0
        assert [r.user_id for r in got.filter("event_type = 'signup'").collect()] == [5]
        assert got.filter("event_type = 'view'").count() == 1  # untouched

    def test_precommit_failure_leaves_table_intact(
        self, spark, tmp_path, monkeypatch
    ):
        """The commit-log erasure has NO rename sequence: the only
        publish step is the atomic manifest link. A crash anywhere
        before it — during the stage write or between stage and CAS —
        leaves the current version fully readable and at worst an
        unreferenced stage that vacuum sweeps."""
        import pytest as _pytest

        from nshm2022db_spark.queries import pipeline as pl
        from nshm2022db_spark.streaming import sinks
        from nshm2022db_spark.streaming.sinks import (
            read_keyed_table,
            table_history,
            vacuum_uncommitted,
        )

        path = str(tmp_path / "t")
        rows = [
            (pl.DELETE_USER_MOD, "purchase", 1.0),
            (7, "purchase", 2.0),
            (pl.DELETE_USER_MOD * 2, "signup", 3.0),
            (9, "signup", 4.0),
        ]
        spark.createDataFrame(
            rows, "user_id long, event_type string, value double"
        ).write.partitionBy("event_type").parquet(path)
        before = {r.user_id for r in spark.read.parquet(path).collect()}

        def raw_user_ids():
            # read the top-level partition dirs directly: an orphan
            # data-* stage next to them makes a whole-dir parquet read
            # reject the layout, which is exactly why readers resolve
            # through the manifest
            ids = set()
            for e in ("purchase", "signup"):
                p = os.path.join(path, f"event_type={e}")
                ids |= {r.user_id for r in spark.read.parquet(p).collect()}
            return ids

        # (1) crash during the stage write (executor/driver loss mid-job)
        def boom_write(self):
            raise OSError("injected stage-write failure")

        # patch the CONCRETE DataFrame class (pyspark 4 routes the public
        # pyspark.sql.DataFrame through a classic/connect subclass whose
        # own `write` shadows the base property)
        monkeypatch.setattr(type(spark.range(1)), "write", property(boom_write))
        with _pytest.raises(OSError, match="injected stage-write"):
            pl.apply_erasure_rewrite(spark, path)
        monkeypatch.undo()
        assert raw_user_ids() == before
        assert table_history(path) == []  # nothing committed

        # (2) crash between stage write and CAS
        def boom_commit(table_dir, manifest):
            raise OSError("injected pre-CAS failure")

        monkeypatch.setattr(sinks, "try_commit", boom_commit)
        with _pytest.raises(OSError, match="injected pre-CAS"):
            pl.apply_erasure_rewrite(spark, path)
        monkeypatch.undo()
        assert raw_user_ids() == before
        assert table_history(path) == []
        orphans = [n for n in os.listdir(path) if n.startswith("data-")]
        assert orphans, "pre-CAS crash must leave the stage for vacuum"
        removed = vacuum_uncommitted(path, grace_sec=0.0)
        assert set(removed) >= set(orphans)

        # (3) the retry after either crash succeeds and commits cleanly
        pl.apply_erasure_rewrite(spark, path)
        got = read_keyed_table(spark, path)
        assert {r.user_id for r in got.collect()} == {
            u for u in before if u % pl.DELETE_USER_MOD != 0
        }


class TestCommitLog:
    """Optimistic-concurrency commit protocol (streaming/sinks.py):
    unique staged data dirs + manifest CAS into an append-only
    `_commits/` log. The property under test: two concurrent writers
    SERIALIZE — the loser retries against the winner's version — so no
    merge is ever lost (the mutable-pointer protocol it replaces would
    silently drop one writer's result)."""

    def test_partition_transaction_carry_forward_and_time_travel(
        self, spark, tmp_path
    ):
        """A partial rewrite stages ONLY its partitions: unaffected
        entries keep their mapping (same physical dir across versions),
        and the previous committed version stays readable (snapshot
        isolation)."""
        from nshm2022db_spark.streaming.sinks import (
            committed_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        rows = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "uid long, k string"
        )
        committed_partition_transaction(spark, t, "k", lambda base: rows)

        committed_partition_transaction(
            spark,
            t,
            "k",
            lambda base: base.filter("k = 'a' AND uid <> 1"),
            affected=["a"],
        )

        v1, v2 = table_history(t)
        assert v1["partitions"]["k=b"] == v2["partitions"]["k=b"]  # carried
        assert v1["partitions"]["k=a"] != v2["partitions"]["k=a"]  # restaged
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {2, 3}
        assert {
            r.uid for r in read_keyed_table(spark, t, version=1).collect()
        } == {1, 2, 3}

    def test_manifest_stats_skipping(self, spark, tmp_path):
        """stats_cols records per-partition min/max in the manifest;
        read_keyed_table(prune=...) drops disproven partitions before
        any file opens, carry-forward keeps stats with their mapping,
        and pruning never changes a filtered result."""
        from nshm2022db_spark.streaming.sinks import (
            committed_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        rows = spark.createDataFrame(
            [(1, "a"), (9, "a"), (100, "b"), (110, "b"), (1000, "c")],
            "uid long, k string",
        )
        committed_partition_transaction(
            spark, t, "k", lambda base: rows, stats_cols=["uid"]
        )
        m = table_history(t)[-1]
        assert m["stats"]["k=b"]["cols"]["uid"] == [100, 110]
        assert m["stats"]["k=b"]["n"] == 2

        pruned = read_keyed_table(spark, t, prune={"uid": (100, 110)})
        assert all("k=b" in f for f in pruned.inputFiles())
        assert {r.uid for r in pruned.collect()} == {100, 110}

        # open-ended bound: uid >= 1000 keeps only k=c
        upper = read_keyed_table(spark, t, prune={"uid": (1000, None)})
        assert all("k=c" in f for f in upper.inputFiles())

        # a column without stats never prunes (advisory-only)
        other = read_keyed_table(spark, t, prune={"other": (0, 0)})
        assert len(other.inputFiles()) == len(
            read_keyed_table(spark, t).inputFiles()
        )

        # a range disjoint from EVERY partition returns an empty relation
        # with the table schema, not None ("no matching rows" != "no table")
        none_match = read_keyed_table(spark, t, prune={"uid": (10**9, None)})
        assert none_match.count() == 0
        assert set(none_match.columns) == {"uid", "k"}

        # rewrite ONLY k=a: b/c stats carry forward with their mapping,
        # and skipping still works against the new manifest
        committed_partition_transaction(
            spark,
            t,
            "k",
            lambda base: base.filter("k = 'a' AND uid > 5"),
            affected=["a"],
            stats_cols=["uid"],
        )
        m2 = table_history(t)[-1]
        assert m2["stats"]["k=b"] == m["stats"]["k=b"]  # carried
        assert m2["stats"]["k=a"]["cols"]["uid"] == [9, 9]  # recomputed
        again = read_keyed_table(spark, t, prune={"uid": (100, 110)})
        assert all("k=b" in f for f in again.inputFiles())
        # pruned + real filter == unpruned + real filter
        full = read_keyed_table(spark, t).filter("uid BETWEEN 100 AND 110")
        assert {r.uid for r in again.filter("uid BETWEEN 100 AND 110").collect()} == {
            r.uid for r in full.collect()
        }

    def test_compact_partition_table_is_a_commit(self, spark, tmp_path):
        """OPTIMIZE over the partition map: fragmented partitions
        collapse to one file each via a normal transaction — contents
        identical, stats recomputed, previous version still readable,
        already-tight partitions untouched."""
        from nshm2022db_spark.streaming.sinks import (
            compact_partition_table,
            committed_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        rows = spark.createDataFrame(
            [(i, "a" if i < 40 else "b") for i in range(50)],
            "uid long, k string",
        )
        committed_partition_transaction(
            spark,
            t,
            "k",
            lambda base: rows.repartition(8),  # fragments every partition
            stats_cols=["uid"],
        )
        before = {r.uid for r in read_keyed_table(spark, t).collect()}
        m1 = table_history(t)[-1]

        compacted = compact_partition_table(spark, t, max_files_per_partition=2)
        assert compacted == ["k=a", "k=b"]
        m2 = table_history(t)[-1]
        for entry in compacted:
            d = os.path.join(t, m2["partitions"][entry], entry)
            files = [f for f in os.listdir(d) if f.startswith("part-")]
            assert len(files) == 1, (entry, files)
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == before
        assert m2["stats"]["k=a"]["cols"]["uid"] == [0, 39]  # recomputed
        # previous (fragmented) version remains a readable snapshot
        v1 = read_keyed_table(spark, t, version=m1["version"])
        assert {r.uid for r in v1.collect()} == before
        # second compaction is a no-op — nothing fragmented anymore
        assert compact_partition_table(spark, t, max_files_per_partition=2) == []

    def test_append_extends_generations_and_merges_stats(
        self, spark, tmp_path
    ):
        """Appending is O(batch): touched entries gain a generation in
        their dir LIST (no rewrite of prior data), stats bounds widen and
        counts sum, batch-id replay no-ops, and compaction collapses the
        lists back to one dir."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        b0 = spark.createDataFrame([(1, "a"), (2, "a"), (50, "b")], "uid long, k string")
        b1 = spark.createDataFrame([(3, "a"), (60, "b")], "uid long, k string")
        append_partition_transaction(
            spark, t, "k", b0, stats_cols=["uid"], batch_id=0
        )
        append_partition_transaction(
            spark, t, "k", b1, stats_cols=["uid"], batch_id=1
        )
        m = table_history(t)[-1]
        assert len(m["partitions"]["k=a"]) == 2  # two generations
        assert m["stats"]["k=a"] == {
            "n": 3, "cols": {"uid": [1, 3]}, "nulls": {"uid": 0},
        }
        assert m["stats"]["k=b"] == {
            "n": 2, "cols": {"uid": [50, 60]}, "nulls": {"uid": 0},
        }
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {
            1, 2, 3, 50, 60,
        }
        # replayed micro-batch no-ops
        append_partition_transaction(
            spark, t, "k", b1, stats_cols=["uid"], batch_id=1
        )
        assert table_history(t)[-1]["version"] == m["version"]
        # pruning works off the merged bounds
        pruned = read_keyed_table(spark, t, prune={"uid": (50, 70)})
        assert all("k=b" in f for f in pruned.inputFiles())
        # compaction collapses the generation lists, contents unchanged
        compacted = compact_partition_table(spark, t, max_files_per_partition=1)
        assert "k=a" in compacted
        m2 = table_history(t)[-1]
        assert isinstance(m2["partitions"]["k=a"], str)
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {
            1, 2, 3, 50, 60,
        }
        assert m2["stats"]["k=a"]["cols"]["uid"] == [1, 3]

    def test_statless_append_drops_stale_bounds(self, spark, tmp_path):
        """An append WITHOUT stats_cols must drop the touched entries'
        carried bounds: the old bounds don't cover the new generation, so
        keeping them would let pruning skip partitions that now hold
        matching rows. Untouched entries keep their stats and stay
        prunable."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        schema = "uid long, k string"
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(1, "a"), (2, "a"), (50, "b")], schema),
            stats_cols=["uid"],
        )
        # default (stat-less) append lands uid=99 into k=a only
        append_partition_transaction(
            spark, t, "k", spark.createDataFrame([(99, "a")], schema)
        )
        m = table_history(t)[-1]
        assert "k=a" not in m.get("stats", {})  # stale bounds dropped
        assert m["stats"]["k=b"] == {
            "n": 1, "cols": {"uid": [50, 50]}, "nulls": {"uid": 0},
        }
        # a prune the OLD k=a bounds [1,2] would have disproven must
        # still read k=a and find the new row
        got = read_keyed_table(spark, t, prune={"uid": (90, 100)})
        assert {
            r.uid for r in got.filter(F.col("uid").between(90, 100)).collect()
        } == {99}
        # the untouched entry kept its stats: [50,50] disproves (90,100),
        # so k=b is pruned while the stat-less k=a cannot be
        assert not any("k=b" in f for f in got.inputFiles())
        assert any("k=a" in f for f in got.inputFiles())

    def test_partition_values_survive_inference(self, spark, tmp_path):
        """Numeric-looking partition values ('007', '1.50') must read
        back EXACTLY from the multi-entry branch: Spark's partition-dir
        type inference would type them int/double and the string cast
        would mutate them ('007'->'7'), diverging from the manifest keys
        and the single-entry branch's F.lit."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        schema = "uid long, k string"
        # one batch, three partitions -> ONE generation dir holding
        # three entries -> the multi-path (inference-prone) branch
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame(
                [(1, "007"), (2, "1.50"), (3, "plain")], schema
            ),
        )
        got = {(r.uid, r.k) for r in read_keyed_table(spark, t).collect()}
        assert got == {(1, "007"), (2, "1.50"), (3, "plain")}
        # and the inference conf is restored after the read resolves
        assert (
            spark.conf.get(
                "spark.sql.sources.partitionColumnTypeInference.enabled"
            )
            == "true"
        )

    def test_all_pruned_empty_relation_has_merged_schema(
        self, spark, tmp_path
    ):
        """When stats prune EVERY partition, the empty relation must
        still carry the table's full merged schema — including a column
        only a later generation added — so a caller chaining a filter on
        it gets zero rows, not an AnalysisException."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(1, "a")], "uid long, k string"),
            stats_cols=["uid"],
        )
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame(
                [(2, "b", "x")], "uid long, k string, extra string"
            ),
            stats_cols=["uid"],
        )
        empty = read_keyed_table(spark, t, prune={"uid": (100, 200)})
        assert "extra" in empty.columns
        assert empty.filter(F.col("extra") == "x").count() == 0

    def test_stream_lands_into_partitioned_table(self, spark, sf_dir, tmp_path):
        """foreachBatch appends: drain the events stream into a
        day-partitioned committed table; the table equals the batch read,
        every micro-batch is one committed version, and a fresh
        checkpoint replay does not double-apply."""
        from nshm2022db_spark.streaming.sinks import (
            land_stream_to_partitioned_table,
            read_keyed_table,
            table_history,
        )

        src = str(tmp_path / "src")
        events = read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value", "ts"
        )
        events.repartition(3).write.parquet(src)

        def stream():
            return (
                spark.readStream.schema(
                    "event_id long, user_id long, value double, ts timestamp"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .withColumn("day", F.col("ts").cast("date").cast("string"))
            )

        table = str(tmp_path / "table")
        q = land_stream_to_partitioned_table(
            stream(), table, str(tmp_path / "ckpt"), "day", stats_cols=["event_id"]
        )
        q.awaitTermination()

        got = read_keyed_table(spark, table)
        assert got.count() == events.count()
        assert (
            got.select(F.sum("event_id")).collect()[0][0]
            == events.select(F.sum("event_id")).collect()[0][0]
        )
        hist = table_history(table)
        assert len(hist) == 3  # one commit per micro-batch
        # fresh checkpoint -> replays batches; committed ids no-op
        q2 = land_stream_to_partitioned_table(
            stream(), table, str(tmp_path / "ckpt2"), "day", stats_cols=["event_id"]
        )
        q2.awaitTermination()
        assert read_keyed_table(spark, table).count() == events.count()

    def test_erasure_spans_append_generations(self, spark, tmp_path):
        """GDPR erasure over a STREAMED table: affected partitions may
        hold many append generations; the rewrite must read them all,
        collapse the survivors to one new dir, and leave unaffected
        partitions' generation lists untouched."""
        from nshm2022db_spark.queries.pipeline import (
            DELETE_USER_MOD as MOD,
        )
        from nshm2022db_spark.queries.pipeline import apply_erasure_rewrite
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        schema = "user_id long, event_type string, value double"
        append_partition_transaction(
            spark, t, "event_type",
            spark.createDataFrame([(MOD, "purchase", 1.0), (7, "view", 2.0)], schema),
        )
        append_partition_transaction(
            spark, t, "event_type",
            spark.createDataFrame([(9, "purchase", 3.0), (8, "view", 4.0)], schema),
        )
        before_view = table_history(t)[-1]["partitions"]["event_type=view"]
        assert len(before_view) == 2  # two generations

        apply_erasure_rewrite(spark, t)

        m = table_history(t)[-1]
        assert isinstance(m["partitions"]["event_type=purchase"], str)  # collapsed
        assert m["partitions"]["event_type=view"] == before_view  # untouched
        got = {(r.user_id, r.event_type) for r in read_keyed_table(spark, t).collect()}
        assert got == {(9, "purchase"), (7, "view"), (8, "view")}

    def test_merge_on_read_upsert(self, spark, tmp_path):
        """MOR keyed table: batches append as generations (no rewrite),
        the read-side window resolves latest-per-key with update-wins
        ties (later commit wins equal order), replay no-ops, and
        compaction folds generations without changing the view."""
        from nshm2022db_spark.streaming.sinks import (
            append_keyed_mor,
            compact_keyed_mor,
            current_commit,
            read_keyed_mor,
        )

        t = str(tmp_path / "t")
        schema = "k long, v string, ord long"
        append_keyed_mor(
            spark, t,
            spark.createDataFrame([(1, "a0", 10), (2, "b0", 10)], schema),
            keys=["k"], order_col="ord", batch_id=0,
        )
        # batch 1: newer ord for k=1; EQUAL ord for k=2 (update must win)
        append_keyed_mor(
            spark, t,
            spark.createDataFrame([(1, "a1", 20), (2, "b1", 10)], schema),
            keys=["k"], order_col="ord", batch_id=1,
        )
        # batch 2: OLDER ord for k=1 — must NOT roll state back
        append_keyed_mor(
            spark, t,
            spark.createDataFrame([(1, "stale", 5)], schema),
            keys=["k"], order_col="ord", batch_id=2,
        )
        assert len(current_commit(t)["dirs"]) == 3

        def view():
            return {
                (r.k, r.v, r.ord) for r in read_keyed_mor(spark, t).collect()
            }

        expect = {(1, "a1", 20), (2, "b1", 10)}
        assert view() == expect
        # replayed batch no-ops
        append_keyed_mor(
            spark, t,
            spark.createDataFrame([(1, "dup", 99)], schema),
            keys=["k"], order_col="ord", batch_id=1,
        )
        assert len(current_commit(t)["dirs"]) == 3
        # compaction folds to one generation, view unchanged
        assert compact_keyed_mor(spark, t)
        assert len(current_commit(t)["dirs"]) == 1
        assert view() == expect
        assert not compact_keyed_mor(spark, t)  # already folded

    def test_mor_append_rejects_config_mismatch(self, spark, tmp_path):
        """The merge contract (keys/order_col/tiebreak) is a table
        property: an append supplying a different one would silently
        rewrite how read_keyed_mor resolves ALL prior generations — it
        must raise instead."""
        import pytest

        from nshm2022db_spark.streaming.sinks import append_keyed_mor

        t = str(tmp_path / "t")
        schema = "k long, v string, ord long"
        append_keyed_mor(
            spark, t,
            spark.createDataFrame([(1, "a0", 10)], schema),
            keys=["k"], order_col="ord",
        )
        with pytest.raises(ValueError, match="merge config mismatch"):
            append_keyed_mor(
                spark, t,
                spark.createDataFrame([(1, "a1", 20)], schema),
                keys=["k"], order_col="v",
            )
        with pytest.raises(ValueError, match="merge config mismatch"):
            append_keyed_mor(
                spark, t,
                spark.createDataFrame([(1, "a1", 20)], schema),
                keys=["k", "v"], order_col="ord",
            )

    def test_mor_compaction_bound_under_long_replay(self, spark, tmp_path):
        """max_open_generations is the Hudi compaction trigger: a long
        append stream keeps the open-generation count bounded (reads
        window over at most N+1 generations, never the whole history)
        and the merged view stays correct across the inline folds."""
        from nshm2022db_spark.streaming.sinks import (
            append_keyed_mor,
            current_commit,
            read_keyed_mor,
        )

        t = str(tmp_path / "t")
        schema = "k long, v string, ord long"
        for i in range(7):
            append_keyed_mor(
                spark, t,
                spark.createDataFrame([(i % 3, f"v{i}", i)], schema),
                keys=["k"], order_col="ord", batch_id=i,
                max_open_generations=2,
            )
            assert len(current_commit(t)["dirs"]) <= 2
        got = {(r.k, r.v) for r in read_keyed_mor(spark, t).collect()}
        assert got == {(0, "v6"), (1, "v4"), (2, "v5")}

    def test_compaction_enables_rowgroup_skip(self, spark, tmp_path):
        """Two-level skipping, level two: after sorted multi-file
        compaction, a range scan's parquet pushdown drops the row groups
        whose footer min/max disprove the range. Pinned from the
        EXECUTED plan's scan metric: numOutputRows falls from the whole
        partition (pre-compaction, interleaved files — nothing
        skippable) to just the overlapping sorted slices, and matches
        exactly what the footers predict."""
        import pyarrow.parquet as pq

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            read_keyed_table,
            table_history,
        )

        def scan_rows(df):
            df.collect()
            total = 0
            it = df._jdf.queryExecution().executedPlan().collectLeaves().iterator()
            while it.hasNext():
                m = it.next().metrics()
                if m.contains("numOutputRows"):
                    total += m.apply("numOutputRows").value()
            return total

        t = str(tmp_path / "t")
        n, lo, hi = 1000, 100, 299
        ev = spark.range(n).select(
            F.col("id").alias("uid"),
            (F.col("id") % 2).cast("string").alias("k"),
        )
        for i in range(3):  # hash-shuffled appends: every file spans 0..n
            append_partition_transaction(
                spark, t, "k",
                ev.filter(F.col("uid") % 3 == i).repartition(2, "uid"),
                stats_cols=["uid"],
            )
        pre_version = table_history(t)[-1]["version"]
        rng = F.col("uid").between(lo, hi)
        pre = scan_rows(read_keyed_table(spark, t).filter(rng))
        assert pre == n  # nothing skippable: every row group overlaps

        compact_partition_table(
            spark, t, max_files_per_partition=2,
            sort_within=["uid"], max_records_per_file=100,
        )
        m = table_history(t)[-1]
        post = scan_rows(read_keyed_table(spark, t).filter(rng))
        # footers predict exactly which row groups survive the range
        expect, n_groups, live_groups = 0, 0, 0
        for entry, d in m["partitions"].items():
            pdir = os.path.join(t, d if isinstance(d, str) else d[0], entry)
            for fname in os.listdir(pdir):
                if not fname.endswith(".parquet"):
                    continue
                meta = pq.ParquetFile(os.path.join(pdir, fname)).metadata
                for g in range(meta.num_row_groups):
                    st = meta.row_group(g).column(0).statistics
                    n_groups += 1
                    if st.min <= hi and st.max >= lo:
                        live_groups += 1
                        expect += meta.row_group(g).num_rows
        assert post == expect
        assert live_groups < n_groups  # row groups actually skipped
        assert post < n / 2  # most of the table never surfaced
        # skipping is read-side only: the answer is the unpruned one
        got = read_keyed_table(spark, t).filter(rng).count()
        pre_v = read_keyed_table(spark, t, version=pre_version).filter(rng)
        assert got == pre_v.count() == hi - lo + 1

    def test_cluster_by_skips_rowgroups_on_both_columns(
        self, spark, tmp_path
    ):
        """Multi-column clustered compaction (r10, VERDICT r09 stretch
        #7): after `cluster_by=[uid, gid]` Z-order compaction, a range
        scan on EITHER column alone prunes row groups — the property a
        single-column sort cannot provide (sorting by uid leaves gid
        interleaved across every row group, and vice versa). Pinned
        from the EXECUTED plan's scan metric against the exact footer
        prediction, per column."""
        import pyarrow.parquet as pq

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            read_keyed_table,
            table_history,
        )

        def scan_rows(df):
            df.collect()
            total = 0
            it = (
                df._jdf.queryExecution().executedPlan().collectLeaves()
                .iterator()
            )
            while it.hasNext():
                m = it.next().metrics()
                if m.contains("numOutputRows"):
                    total += m.apply("numOutputRows").value()
            return total

        t = str(tmp_path / "t")
        n = 2000
        # gid decorrelated from uid: a uid sort leaves gid unsorted
        ev = spark.range(n).select(
            F.col("id").alias("uid"),
            ((F.col("id") * 37) % 1000).alias("gid"),
            F.lit("a").alias("k"),
        )
        for i in range(3):
            append_partition_transaction(
                spark, t, "k",
                ev.filter(F.col("uid") % 3 == i).repartition(2, "uid"),
                stats_cols=["uid", "gid"],
            )
        uid_rng = F.col("uid").between(100, 299)
        gid_rng = F.col("gid").between(100, 299)
        assert scan_rows(read_keyed_table(spark, t).filter(uid_rng)) == n
        # ~40 row groups: the Z-curve carves a fine enough grid that a
        # 20% range on either dimension keeps well under half the blocks
        compact_partition_table(
            spark, t, max_files_per_partition=2,
            cluster_by=["uid", "gid"], max_records_per_file=50,
        )
        m = table_history(t)[-1]

        def footer_expect(col_idx, lo, hi):
            expect, groups, live = 0, 0, 0
            for entry, d in m["partitions"].items():
                pdir = os.path.join(
                    t, d if isinstance(d, str) else d[0], entry
                )
                for fname in os.listdir(pdir):
                    if not fname.endswith(".parquet"):
                        continue
                    meta = pq.ParquetFile(
                        os.path.join(pdir, fname)
                    ).metadata
                    for g in range(meta.num_row_groups):
                        st = meta.row_group(g).column(col_idx).statistics
                        groups += 1
                        if st.min <= hi and st.max >= lo:
                            live += 1
                            expect += meta.row_group(g).num_rows
            return expect, groups, live

        # uid hits 200 rows; gid cycles twice over 2000 ids -> 400
        for col_idx, rng, col, n_match in (
            (0, uid_rng, "uid", 200), (1, gid_rng, "gid", 400)
        ):
            post = scan_rows(read_keyed_table(spark, t).filter(rng))
            expect, groups, live = footer_expect(col_idx, 100, 299)
            assert post == expect, col
            assert live < groups, f"no row groups skipped on {col}"
            assert post <= 0.6 * n, f"{col} scan surfaced most of the table"
            # skipping is read-side only: the answer is unchanged
            assert read_keyed_table(spark, t).filter(rng).count() == n_match

    def test_cluster_by_excludes_sort_within(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
        )

        t = str(tmp_path / "t")
        append_partition_transaction(
            spark, t, "k",
            spark.range(10).select(
                F.col("id").alias("uid"), F.lit("a").alias("k")
            ),
        )
        with pytest.raises(ValueError, match="not both"):
            compact_partition_table(
                spark, t, sort_within=["uid"], cluster_by=["uid"]
            )

    def test_key_tombstones(self, spark, tmp_path):
        """MOR DELETE via key tombstones: O(keys) commit hides every row
        of the keys from every read (including later appends), earlier
        snapshots still show them, key mismatch and replay are rejected/
        no-ops, and materialize rewrites the survivors and clears the
        list."""
        import pytest as _pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            materialize_tombstones,
            read_keyed_table,
            tombstone_keys,
        )

        t = str(tmp_path / "t")
        schema = "user_id long, k string, v long"
        append_partition_transaction(  # v1
            spark, t, "k",
            spark.createDataFrame(
                [(1, "a", 10), (2, "a", 20), (2, "b", 21), (3, "b", 30)],
                schema,
            ),
            stats_cols=["v"],
        )
        doomed = spark.createDataFrame([(2,)], "user_id long")
        tombstone_keys(spark, t, "user_id", doomed, batch_id=7)  # v2

        def users():
            return {r.user_id for r in read_keyed_table(spark, t).collect()}

        assert users() == {1, 3}
        # time travel: the pre-delete snapshot still shows user 2
        v1 = read_keyed_table(spark, t, version=1)
        assert {r.user_id for r in v1.collect()} == {1, 2, 3}
        # replayed delete no-ops; mismatched key column is rejected
        tombstone_keys(spark, t, "user_id", doomed, batch_id=7)
        assert current_commit(t)["version"] == 2
        with _pytest.raises(ValueError, match="tombstones key"):
            tombstone_keys(
                spark, t, "v", spark.createDataFrame([(10,)], "v long")
            )
        # appends carry the tombstones: new rows for a tombstoned key
        # stay hidden (GDPR semantics) until a materialize clears them
        append_partition_transaction(  # v3
            spark, t, "k",
            spark.createDataFrame([(2, "a", 22), (4, "a", 40)], schema),
        )
        assert users() == {1, 3, 4}
        # materialize: survivors rewritten, tombstones cleared
        assert materialize_tombstones(spark, t) is not None
        m = current_commit(t)
        assert "dv" not in m
        assert users() == {1, 3, 4}
        # the resurrect-on-append behavior ENDS once cleared
        append_partition_transaction(
            spark, t, "k", spark.createDataFrame([(2, "a", 23)], schema)
        )
        assert users() == {1, 2, 3, 4}
        assert materialize_tombstones(spark, t) is None  # nothing to do

    def test_write_audit_publish(self, spark, tmp_path):
        """WAP: the audit sees exactly what would become visible, and a
        rejected batch leaves NO trace — version unchanged, stage
        removed, reads identical. Audit exceptions propagate with the
        same cleanup; a passing audit publishes normally."""
        import pytest as _pytest

        from nshm2022db_spark.streaming.sinks import (
            AuditError,
            append_partition_transaction,
            current_commit,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        schema = "uid long, k string"
        no_null_uids = lambda df: df.filter(F.col("uid").isNull()).count() == 0

        append_partition_transaction(
            spark, t, "k", spark.createDataFrame([(1, "a")], schema),
            audit=no_null_uids,
        )
        assert current_commit(t)["version"] == 1

        bad = spark.createDataFrame([(None, "a"), (2, "b")], schema)
        with _pytest.raises(AuditError):
            append_partition_transaction(spark, t, "k", bad, audit=no_null_uids)
        assert current_commit(t)["version"] == 1  # nothing published
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {1}
        # the rejected stage was cleaned up, not left for vacuum
        assert [d for d in os.listdir(t) if d.startswith("data-")] == [
            current_commit(t)["dir"]
        ]

        def exploding(df):
            raise RuntimeError("boom")

        with _pytest.raises(RuntimeError, match="boom"):
            append_partition_transaction(
                spark, t, "k", spark.createDataFrame([(3, "a")], schema),
                audit=exploding,
            )
        assert current_commit(t)["version"] == 1
        # a passing audit publishes
        append_partition_transaction(
            spark, t, "k", spark.createDataFrame([(4, "b")], schema),
            audit=no_null_uids,
        )
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {1, 4}

    def test_partition_evolution(self, spark, tmp_path):
        """Iceberg-style spec change: evolve the partition column
        without rewriting old data; reads union layouts (each pruning on
        its own column), appends land in the new spec and old-column
        appends are rejected, erasure-style rewrites demand migration,
        and migration folds everything into the current spec in one
        commit."""
        import pytest as _pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            committed_partition_transaction,
            compact_partition_table,
            evolve_partition_column,
            migrate_legacy_layouts,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        schema = "uid long, k string, day string"
        append_partition_transaction(  # v1: partitioned by k
            spark, t, "k",
            spark.createDataFrame(
                [(1, "a", "d1"), (2, "b", "d1"), (3, "a", "d2")], schema
            ),
            stats_cols=["uid"],
        )
        v2 = evolve_partition_column(spark, t, "day")  # metadata-only
        assert v2 == 2
        # appends now land by day; the old column is rejected
        with _pytest.raises(ValueError, match="partitioned by 'day'"):
            append_partition_transaction(
                spark, t, "k",
                spark.createDataFrame([(4, "a", "d2")], schema),
            )
        append_partition_transaction(  # v3: new-spec append
            spark, t, "day",
            spark.createDataFrame([(4, "a", "d2"), (5, "c", "d3")], schema),
            stats_cols=["uid"],
        )

        def rows():
            return {
                (r.uid, r.k, r.day)
                for r in read_keyed_table(spark, t).collect()
            }

        want = {
            (1, "a", "d1"), (2, "b", "d1"), (3, "a", "d2"),
            (4, "a", "d2"), (5, "c", "d3"),
        }
        assert rows() == want
        # each layout prunes on its own stats: uid in (4,5) disproves
        # the legacy entries ([1,3] bounds) and the scan opens only the
        # new-spec generation
        pruned = read_keyed_table(spark, t, prune={"uid": (4, 5)})
        assert {r.uid for r in pruned.filter(F.col("uid") >= 4).collect()} \
            == {4, 5}
        gen_dirs = {f.rsplit("/", 2)[0] for f in pruned.inputFiles()}
        assert len(gen_dirs) == 1
        # the old snapshot still reads the old layout (time travel)
        v1 = read_keyed_table(spark, t, version=1)
        assert {r.uid for r in v1.collect()} == {1, 2, 3}
        # rewrite transactions refuse an unmigrated table...
        with _pytest.raises(ValueError, match="unmigrated legacy"):
            committed_partition_transaction(
                spark, t, "day", lambda b: b.filter(F.lit(False)),
                affected=["d1"],
            )
        # ...but current-layout compaction is allowed
        compact_partition_table(spark, t, max_files_per_partition=0)
        assert rows() == want
        # migration folds legacy rows into the day layout, one commit
        assert migrate_legacy_layouts(spark, t) is not None
        m = table_history(t)[-1]
        assert "legacy_layouts" not in m
        assert set(m["partitions"]) >= {"day=d1", "day=d2", "day=d3"}
        assert rows() == want
        # and rewrites work again
        committed_partition_transaction(
            spark, t, "day",
            lambda b: b.filter(F.col("day") == "d1").filter(F.col("uid") != 2),
            affected=["d1"],
        )
        assert rows() == want - {(2, "b", "d1")}
        assert migrate_legacy_layouts(spark, t) is None  # nothing left

    def test_timestamp_as_of_time_travel(self, spark, tmp_path):
        """TIMESTAMP AS OF: manifests record their publish wall-clock
        once, and a read as of any instant resolves to the newest
        version published by then — before the table existed → None,
        between commits → the earlier snapshot, now → the head. The
        recorded time survives later commits (setdefault)."""
        import time as _time

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_mor,
            append_keyed_mor,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        schema = "uid long, k string"
        t0 = _time.time()
        _time.sleep(0.02)
        append_partition_transaction(
            spark, t, "k", spark.createDataFrame([(1, "a")], schema)
        )
        t1 = _time.time()
        _time.sleep(0.02)
        append_partition_transaction(
            spark, t, "k", spark.createDataFrame([(2, "a")], schema)
        )
        assert read_keyed_table(spark, t, as_of=t0) is None
        assert {
            r.uid for r in read_keyed_table(spark, t, as_of=t1).collect()
        } == {1}
        assert {
            r.uid
            for r in read_keyed_table(spark, t, as_of=_time.time()).collect()
        } == {1, 2}
        times = [m["committed_at"] for m in table_history(t)]
        assert times == sorted(times) and len(times) == 2

        # MOR twin resolves the same way
        m = str(tmp_path / "mor")
        ms = "k long, v string, ord long"
        append_keyed_mor(
            spark, m, spark.createDataFrame([(1, "old", 1)], ms),
            keys=["k"], order_col="ord",
        )
        tm = _time.time()
        _time.sleep(0.02)
        append_keyed_mor(
            spark, m, spark.createDataFrame([(1, "new", 2)], ms),
            keys=["k"], order_col="ord",
        )
        assert [r.v for r in read_keyed_mor(spark, m, as_of=tm).collect()] == [
            "old"
        ]

    def test_null_count_stats_prune(self, spark, tmp_path):
        """Manifest null counts (footer-read, exact) drive IS NOT NULL /
        IS NULL skipping: the all-null partition vanishes from the scan
        for "notnull", the no-null partition for "null", the mixed one
        survives both, and a stat-less append drops the certainty."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(None, "allnull"), (None, "allnull"),
             (1.0, "mixed"), (None, "mixed"),
             (2.0, "full"), (3.0, "full")],
            "v double, k string",
        )
        append_partition_transaction(spark, t, "k", df, stats_cols=["v"])
        m = table_history(t)[-1]
        assert m["stats"]["k=allnull"]["nulls"] == {"v": 2}
        assert m["stats"]["k=mixed"]["nulls"] == {"v": 1}
        assert m["stats"]["k=full"]["nulls"] == {"v": 0}

        notnull = read_keyed_table(spark, t, prune={"v": "notnull"})
        assert not any("k=allnull" in f for f in notnull.inputFiles())
        got = {
            (r.v, r.k)
            for r in notnull.filter(F.col("v").isNotNull()).collect()
        }
        assert got == {(1.0, "mixed"), (2.0, "full"), (3.0, "full")}

        isnull = read_keyed_table(spark, t, prune={"v": "null"})
        assert not any("k=full" in f for f in isnull.inputFiles())
        assert isnull.filter(F.col("v").isNull()).count() == 3

        # an append with stats keeps counts additive…
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(None, "full")], "v double, k string"),
            stats_cols=["v"],
        )
        m2 = table_history(t)[-1]
        assert m2["stats"]["k=full"]["nulls"] == {"v": 1}
        # …so "null" pruning no longer skips the formerly no-null entry
        isnull2 = read_keyed_table(spark, t, prune={"v": "null"})
        assert any("k=full" in f for f in isnull2.inputFiles())
        assert isnull2.filter(F.col("v").isNull()).count() == 4

    def test_bloom_equality_skipping(self, spark, tmp_path):
        """Per-partition Bloom bitmaps drive equality skipping where
        min/max cannot (every partition spans the whole id range):
        probes open only the holding partition, appends OR-merge
        bitmaps, a bloom-less or spec-mismatched append DROPS the
        touched entry's bitmap (bloom-less = never pruned, always
        safe), and compaction recomputes bitmaps so skipping survives
        maintenance."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            current_commit,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 3}") for i in range(300)], "id long, k string"
        )
        append_partition_transaction(
            spark, t, "k", df.filter("id < 150"),
            bloom_cols=["id"], bloom_bits=8192,
        )
        append_partition_transaction(
            spark, t, "k", df.filter("id >= 150"),
            bloom_cols=["id"], bloom_bits=8192,
        )
        m = table_history(t)[-1]
        assert set(m["bloom"]) == {"k=k0", "k=k1", "k=k2"}

        # id=100 lives in k=k1 via append #1, id=200 in k=k2 via append
        # #2 — the OR-merged bitmaps answer both; sibling partitions are
        # skipped (100 keys in 8192 bits: FP ~1e-6, and the fixture is
        # deterministic, so exact skipping is pinnable)
        for probe, home in [(100, "k=k1"), (200, "k=k2")]:
            r = read_keyed_table(spark, t, prune={"id": ("eq", probe)})
            files = r.inputFiles()
            assert any(home in f for f in files)
            assert not any(
                o in f for f in files
                for o in set(m["bloom"]) - {home}
            )
            got = r.filter(F.col("id") == probe).collect()
            assert [(x.id, x.k) for x in got] == [
                (probe, home.split("=")[1])
            ]

        # safety sweep: every present id survives its own probe
        for probe in range(0, 300, 37):
            r = read_keyed_table(spark, t, prune={"id": ("eq", probe)})
            assert r.filter(F.col("id") == probe).count() == 1

        # a bloom-less append drops the touched entry's bitmap; the
        # entry is then never pruned, even for an absent id
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(1000, "k0")], "id long, k string"),
        )
        m2 = table_history(t)[-1]
        assert "k=k0" not in m2.get("bloom", {})
        assert "k=k1" in m2["bloom"]  # untouched entries keep theirs
        r = read_keyed_table(spark, t, prune={"id": ("eq", 424242)})
        assert any("k=k0" in f for f in r.inputFiles())

        # a spec-mismatched append can't OR bitmaps of different sizes:
        # it drops instead of merging wrong
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(2000, "k1")], "id long, k string"),
            bloom_cols=["id"], bloom_bits=4096,
        )
        assert "k=k1" not in table_history(t)[-1].get("bloom", {})

        # compaction recomputes bitmaps for every rewritten entry —
        # including the two that lost theirs — so skipping is restored
        assert compact_partition_table(spark, t, max_files_per_partition=1)
        m3 = current_commit(t)
        assert set(m3["bloom"]) == {"k=k0", "k=k1", "k=k2"}
        for probe, home in [(100, "k=k1"), (1000, "k=k0")]:
            r = read_keyed_table(spark, t, prune={"id": ("eq", probe)})
            assert not any(
                o in f for f in r.inputFiles()
                for o in set(m3["bloom"]) - {home}
            )
            assert r.filter(F.col("id") == probe).count() == 1

    def test_incremental_agg_maintenance_exactly_once(
        self, spark, tmp_path
    ):
        """maintain_incremental_agg folds each source commit into the
        derived aggregate exactly once: the cursor is the destination's
        own committed batch ids, so a re-run applies nothing, a new
        source commit applies only itself, metadata-only commits are
        skipped, non-append history RAISES (additive folds would
        double-count a rewrite or miss a restore), and the rollup
        always equals a full recompute."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            maintain_incremental_agg,
            read_keyed_table,
            restore_table_version,
            set_table_constraints,
        )

        src = str(tmp_path / "bronze")
        dst = str(tmp_path / "silver")
        rows = [(i, f"k{i % 2}", float(i)) for i in range(40)]
        df = spark.createDataFrame(rows, "id long, k string, v double")

        def agg(d):
            return d.groupBy("k").agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
            )

        def merge(cur, add):
            if cur is None:
                return add
            return cur.unionByName(add).groupBy("k").agg(
                F.sum("n").alias("n"), F.sum("s").alias("s")
            )

        append_partition_transaction(spark, src, "k", df.filter("id < 10"))
        append_partition_transaction(
            spark, src, "k", df.filter("id >= 10 and id < 20")
        )
        assert maintain_incremental_agg(spark, src, dst, agg, merge) == 2
        # idempotent: nothing new → nothing applied
        assert maintain_incremental_agg(spark, src, dst, agg, merge) == 0
        # metadata-only commit (ADD CONSTRAINT): skipped, not folded
        set_table_constraints(spark, src, ["id >= 0"])
        assert maintain_incremental_agg(spark, src, dst, agg, merge) == 0
        # one new commit → exactly one fold, and the rollup equals a
        # full recompute over the source
        append_partition_transaction(spark, src, "k", df.filter("id >= 20"))
        assert maintain_incremental_agg(spark, src, dst, agg, merge) == 1
        got = {
            (r.k, r.n, r.s)
            for r in read_keyed_table(spark, dst).collect()
        }
        want = {
            (r.k, r.n, r.s)
            for r in agg(read_keyed_table(spark, src)).collect()
        }
        assert got == want
        # non-append history is refused, not silently double-counted:
        # a RESTORE in the unfolded range raises
        restore_table_version(src, 2)
        with pytest.raises(ValueError, match="restore"):
            maintain_incremental_agg(spark, src, dst, agg, merge)

    def test_change_feed_reads_only_requested_commits(self, spark, tmp_path):
        """read_table_changes returns exactly what each commit in the
        range added (tagged with its version), scans nothing outside the
        range, SKIPS dataChange=false compactions (r11 — a restatement
        is not a change), and surfaces a state-CHANGING rewrite's new
        partition contents."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            committed_partition_transaction,
            read_table_changes,
        )

        t = str(tmp_path / "t")
        schema = "uid long, k string"
        append_partition_transaction(  # v1
            spark, t, "k", spark.createDataFrame([(1, "a"), (2, "b")], schema)
        )
        append_partition_transaction(  # v2
            spark, t, "k", spark.createDataFrame([(3, "a")], schema)
        )
        append_partition_transaction(  # v3
            spark, t, "k", spark.createDataFrame([(4, "b"), (5, "b")], schema)
        )
        got = {
            (r.uid, r.k, r._commit_version)
            for r in read_table_changes(spark, t, 1).collect()
        }
        assert got == {(3, "a", 2), (4, "b", 3), (5, "b", 3)}
        # bounded range
        got2 = {
            (r.uid, r._commit_version)
            for r in read_table_changes(spark, t, 1, to_version=2).collect()
        }
        assert got2 == {(3, 2)}
        # the feed only lists/reads the in-range stage dirs
        feed = read_table_changes(spark, t, 2)
        assert all("data-" in f for f in feed.inputFiles())
        assert len({f.rsplit("/k=", 1)[0] for f in feed.inputFiles()}) == 1
        # a compaction is dataChange=false: the feed skips it entirely
        compact_partition_table(spark, t, max_files_per_partition=1)  # v4
        assert read_table_changes(spark, t, 3) is None
        # a state-CHANGING rewrite (erasure shape) still surfaces as
        # the rewritten partition's upsert image
        committed_partition_transaction(  # v5
            spark, t, "k",
            lambda base: base.filter("k = 'b' AND uid <> 2"),
            affected=["b"],
        )
        reb = {
            (r.uid, r.k, r._commit_version)
            for r in read_table_changes(spark, t, 4).collect()
        }
        assert {v for _, _, v in reb} == {5}
        assert {u for u, k, _ in reb if k == "b"} == {4, 5}
        # empty range → None
        assert read_table_changes(spark, t, 5) is None

    def test_sorted_compaction_tightens_row_groups(self, spark, tmp_path):
        """OPTIMIZE ... ZORDER-style: compaction with sort_within writes
        each partition sorted, so parquet row-group min/max are tight
        (verified from the footers — the stats a scan's pushdown prunes
        row groups with)."""
        import pyarrow.parquet as pq

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        # interleaved appends: each generation spans the full uid range
        for lo in (0, 1, 2):
            append_partition_transaction(
                spark, t, "k",
                spark.createDataFrame(
                    [(lo + 10 * i, "a") for i in range(20)], "uid long, k string"
                ),
                stats_cols=["uid"],
            )
        before = {r.uid for r in read_keyed_table(spark, t).collect()}

        compacted = compact_partition_table(
            spark, t, max_files_per_partition=1, sort_within=["uid"]
        )
        assert compacted == ["k=a"]
        m = table_history(t)[-1]
        d = os.path.join(t, m["partitions"]["k=a"], "k=a")
        files = [f for f in os.listdir(d) if f.startswith("part-")]
        assert len(files) == 1
        md = pq.ParquetFile(os.path.join(d, files[0])).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        prev_max = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx["uid"]).statistics
            if prev_max is not None:
                assert st.min >= prev_max  # disjoint, ordered row groups
            prev_max = st.max
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == before
        assert m["stats"]["k=a"]["cols"]["uid"] == [min(before), max(before)]

    def test_restore_and_retention_vacuum(self, spark, tmp_path):
        """RESTORE republishes an old snapshot as a new commit with zero
        data movement; vacuum_versions drops old versions but never a
        data dir a retained version still references (append generations
        are shared across manifests)."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            committed_partition_transaction,
            read_keyed_table,
            restore_table_version,
            table_history,
            vacuum_versions,
        )

        t = str(tmp_path / "t")
        b0 = spark.createDataFrame([(1, "a"), (50, "b")], "uid long, k string")
        b1 = spark.createDataFrame([(2, "a")], "uid long, k string")
        append_partition_transaction(spark, t, "k", b0)  # v1
        append_partition_transaction(spark, t, "k", b1)  # v2: k=a gains gen
        committed_partition_transaction(  # v3: drop uid=1 from k=a
            spark, t, "k",
            lambda base: base.filter("k = 'a' AND uid <> 1"),
            affected=["a"],
        )
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {2, 50}

        v4 = restore_table_version(t, 2)  # back to pre-delete state
        assert v4 == 4
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {1, 2, 50}
        # restore moved history FORWARD; v3 still readable pre-vacuum
        assert {
            r.uid for r in read_keyed_table(spark, t, version=3).collect()
        } == {2, 50}

        out = vacuum_versions(t, keep_last=2)  # keep v3, v4
        assert out["versions"] == [1, 2]
        # v4 restored v2's dirs — they are retained, so nothing v4 needs
        # was deleted and the head still reads
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {1, 2, 50}
        assert [m["version"] for m in table_history(t)] == [3, 4]
        import pytest as _pytest

        with _pytest.raises(ValueError, match="not committed"):
            read_keyed_table(spark, t, version=1)

    def test_append_schema_evolution(self, spark, tmp_path):
        """A batch appended with a NEW column reads back with NULLs for
        the older generations — parquet schema evolution through the
        manifest read."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(1, "a")], "uid long, k string"),
        )
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame(
                [(2, "a", "en"), (3, "b", "fr")],
                "uid long, k string, lang string",
            ),
        )
        got = {r.uid: r.lang for r in read_keyed_table(spark, t).collect()}
        assert got == {1: None, 2: "en", 3: "fr"}

    def test_cas_rejects_taken_version(self, tmp_path):
        from nshm2022db_spark.streaming.sinks import try_commit

        t = str(tmp_path / "t")
        os.makedirs(t)
        assert try_commit(t, {"version": 1, "dir": "data-a", "batch_ids": []})
        assert not try_commit(t, {"version": 1, "dir": "data-b", "batch_ids": []})
        assert try_commit(t, {"version": 2, "dir": "data-b", "batch_ids": []})

    def test_stale_writer_retries_and_no_update_lost(self, spark, tmp_path):
        """Deterministic interleave: writer A reads v0, writer B commits
        v1 meanwhile; A's CAS on v1 must fail, and a full transaction
        from A must land BOTH writers' rows at v2."""
        from nshm2022db_spark.streaming.sinks import (
            committed_transaction,
            current_commit,
            read_keyed_table,
            try_commit,
        )

        t = str(tmp_path / "t")

        def add_row(k, v):
            row = spark.createDataFrame([(k, v)], "k int, v int")

            def compute(base):
                return row if base is None else base.unionByName(row)

            return compute

        stale = current_commit(t) if os.path.isdir(t) else {"version": 0, "batch_ids": []}
        committed_transaction(spark, t, add_row(1, 10))  # writer B wins v1
        # writer A, holding the stale v0 view, tries to claim v1 directly
        assert not try_commit(
            t, {"version": stale["version"] + 1, "dir": "data-stale", "batch_ids": []}
        )
        committed_transaction(spark, t, add_row(2, 20))  # A retries properly
        cur = current_commit(t)
        assert cur["version"] == 2
        got = {(r.k, r.v) for r in read_keyed_table(spark, t).collect()}
        assert got == {(1, 10), (2, 20)}

    def test_threaded_writers_serialize(self, spark, tmp_path):
        """8 racing threads each add a distinct row through full
        transactions; every row must survive and the log must hold
        exactly 8 versions."""
        import threading

        from nshm2022db_spark.streaming.sinks import (
            committed_transaction,
            current_commit,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        errs = []

        def writer(i):
            row = spark.createDataFrame([(i, i * 10)], "k int, v int")
            try:
                committed_transaction(
                    spark,
                    t,
                    lambda base: row if base is None else base.unionByName(row),
                    max_retries=32,
                )
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errs
        assert current_commit(t)["version"] == 8
        got = {(r.k, r.v) for r in read_keyed_table(spark, t).collect()}
        assert got == {(i, i * 10) for i in range(8)}

    def test_ledger_checkpoint_keeps_batchids_o_tail(self, spark, tmp_path):
        """Every _CKPT_EVERY commits the batch-id ledger rolls into a
        checkpoint; committed_batch_ids reads checkpoint + tail only,
        and vacuum preserves the ledger — a replayed ancient batch still
        no-ops after its manifest is retired."""
        from nshm2022db_spark.streaming import sinks
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            committed_batch_ids,
            read_keyed_table,
            table_history,
            vacuum_versions,
        )

        t = str(tmp_path / "t")
        n = sinks._CKPT_EVERY + 3
        for i in range(n):
            append_partition_transaction(
                spark, t, "k",
                spark.createDataFrame([(i, "a")], "uid long, k string"),
                batch_id=i,
            )
        log = os.path.join(t, "_commits")
        ckpts = [f for f in os.listdir(log) if f.endswith(".checkpoint.json")]
        assert len(ckpts) == 1 and ckpts[0].startswith(f"{sinks._CKPT_EVERY:020d}")
        assert committed_batch_ids(t) == set(range(n))

        vacuum_versions(t, keep_last=2)
        assert [m["version"] for m in table_history(t)] == [n - 1, n]
        # ledger survives retention: replaying batch 0 must no-op
        assert committed_batch_ids(t) == set(range(n))
        before = table_history(t)[-1]["version"]
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(999, "a")], "uid long, k string"),
            batch_id=0,
        )
        assert table_history(t)[-1]["version"] == before
        assert read_keyed_table(spark, t).filter("uid = 999").count() == 0

    def test_threaded_appenders_serialize(self, spark, tmp_path):
        """8 racing APPEND writers (the foreachBatch shape, minus the
        stream): every batch's rows survive, stats cover the union, and
        the hot partition's generation list holds one dir per writer."""
        import threading

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        errs = []

        def writer(i):
            batch = spark.createDataFrame([(i, "hot")], "uid long, k string")
            try:
                append_partition_transaction(
                    spark, t, "k", batch, stats_cols=["uid"], max_retries=32
                )
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errs
        m = table_history(t)[-1]
        assert m["version"] == 8
        assert len(m["partitions"]["k=hot"]) == 8  # one generation each
        assert m["stats"]["k=hot"] == {
            "n": 8, "cols": {"uid": [0, 7]}, "nulls": {"uid": 0},
        }
        got = {r.uid for r in read_keyed_table(spark, t).collect()}
        assert got == set(range(8))

    def test_vacuum_spares_committed_and_fresh(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            committed_transaction,
            current_commit,
            read_keyed_table,
            vacuum_uncommitted,
        )

        t = str(tmp_path / "t")
        row = spark.createDataFrame([(1, 1)], "k int, v int")
        committed_transaction(spark, t, lambda base: row)
        # orphan stage: crashed writer, old mtime
        orphan = os.path.join(t, "data-orphan")
        os.makedirs(orphan)
        os.utime(orphan, (0, 0))
        fresh = os.path.join(t, "data-fresh")
        os.makedirs(fresh)  # in-flight writer, current mtime

        removed = vacuum_uncommitted(t, grace_sec=60.0)
        assert removed == ["data-orphan"]
        assert os.path.isdir(fresh)
        assert os.path.isdir(os.path.join(t, current_commit(t)["dir"]))
        assert read_keyed_table(spark, t).count() == 1

    def test_vacuum_sweeps_orphan_tmp_manifests(self, spark, tmp_path):
        """ADVICE r04: a writer crashing between mkstemp and try_commit's
        finally leaves a *.tmp manifest in _commits/ that nothing else
        removes; vacuum sweeps stale ones but spares a live writer's
        fresh tmp."""
        from nshm2022db_spark.streaming.sinks import (
            committed_transaction,
            read_keyed_table,
            vacuum_uncommitted,
        )

        t = str(tmp_path / "t")
        row = spark.createDataFrame([(1, 1)], "k int, v int")
        committed_transaction(spark, t, lambda base: row)
        log = os.path.join(t, "_commits")
        stale = os.path.join(log, "crashed-writer.tmp")
        with open(stale, "w") as f:
            f.write("{}")
        os.utime(stale, (0, 0))
        fresh = os.path.join(log, "live-writer.tmp")
        with open(fresh, "w") as f:
            f.write("{}")

        removed = vacuum_uncommitted(t, grace_sec=60.0)
        assert removed == [os.path.join("_commits", "crashed-writer.tmp")]
        assert not os.path.exists(stale)
        assert os.path.exists(fresh)
        # committed manifests untouched, table still readable
        assert read_keyed_table(spark, t).count() == 1

    def test_legacy_pointer_fallback(self, spark, tmp_path):
        """Tables written by the pre-log layout (v{N} dirs + _CURRENT
        pointer) stay readable, and the first new commit moves them onto
        the log."""
        import json

        from nshm2022db_spark.streaming.sinks import (
            committed_transaction,
            current_commit,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        os.makedirs(t)
        spark.createDataFrame([(1, 1)], "k int, v int").write.parquet(
            os.path.join(t, "v3")
        )
        with open(os.path.join(t, "_CURRENT"), "w") as f:
            json.dump({"version": 3, "batch_ids": [0, 1, 2]}, f)

        assert read_keyed_table(spark, t).count() == 1
        row = spark.createDataFrame([(2, 2)], "k int, v int")
        committed_transaction(
            spark, t, lambda base: base.unionByName(row), batch_id=7
        )
        cur = current_commit(t)
        assert cur["version"] == 4 and cur["batch_ids"] == [0, 1, 2, 7]
        assert read_keyed_table(spark, t).count() == 2

    def test_time_travel_and_history(self, spark, tmp_path):
        """Every committed version stays readable; history lists the
        audit trail in order."""
        from nshm2022db_spark.streaming.sinks import (
            committed_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        for i in range(1, 4):
            row = spark.createDataFrame([(i, i * 10)], "k int, v int")
            committed_transaction(
                spark,
                t,
                lambda base, row=row: row if base is None else base.unionByName(row),
            )
        hist = table_history(t)
        assert [m["version"] for m in hist] == [1, 2, 3]
        assert read_keyed_table(spark, t, version=1).count() == 1
        assert read_keyed_table(spark, t, version=2).count() == 2
        assert read_keyed_table(spark, t).count() == 3
        import pytest as _pytest

        with _pytest.raises(ValueError):
            read_keyed_table(spark, t, version=9)

    def test_manifests_carry_delta_batch_ids(self, spark, tmp_path):
        """Manifests store only THEIR transaction's batch ids (the
        cumulative scheme grew the log O(B^2)); membership is the union
        over history."""
        from nshm2022db_spark.streaming.sinks import (
            committed_batch_ids,
            committed_transaction,
            table_history,
        )

        t = str(tmp_path / "t")
        for bid in (0, 1, 2):
            row = spark.createDataFrame([(bid, bid)], "k int, v int")
            committed_transaction(
                spark,
                t,
                lambda base, row=row: row if base is None else base.unionByName(row),
                batch_id=bid,
            )
        hist = table_history(t)
        assert [m["batch_ids"] for m in hist] == [[0], [1], [2]]
        assert committed_batch_ids(t) == {0, 1, 2}
        # replaying any of them is a no-op
        boom = spark.createDataFrame([(9, 9)], "k int, v int")
        committed_transaction(spark, t, lambda base: boom, batch_id=1)
        assert len(table_history(t)) == 3

    def test_vacuumed_stage_fails_loudly_and_unpublishes(
        self, spark, tmp_path, monkeypatch
    ):
        """If a (mis-configured) vacuum deletes a stage between staging
        and CAS, the transaction must raise and un-publish its manifest
        — never leave the log pointing at a missing dir."""
        import shutil as _shutil

        import pytest as _pytest

        from nshm2022db_spark.streaming import sinks as sk

        t = str(tmp_path / "t")
        row = spark.createDataFrame([(1, 1)], "k int, v int")
        sk.committed_transaction(spark, t, lambda base: row)

        real_try_commit = sk.try_commit

        def sabotaging_try_commit(table_dir, manifest):
            _shutil.rmtree(os.path.join(table_dir, manifest["dir"]))
            return real_try_commit(table_dir, manifest)

        monkeypatch.setattr(sk, "try_commit", sabotaging_try_commit)
        row2 = spark.createDataFrame([(2, 2)], "k int, v int")
        with _pytest.raises(RuntimeError, match="vacuumed before commit"):
            sk.committed_transaction(spark, t, lambda base: base.unionByName(row2))
        monkeypatch.undo()

        # log is still consistent: one committed version, readable
        assert sk.current_commit(t)["version"] == 1
        assert sk.read_keyed_table(spark, t).count() == 1


class TestPartitionCounts:
    def test_metadata_only_when_fully_statted(self, spark, tmp_path):
        """A fully footer-scanned table answers per-partition counts
        with ZERO files opened; a stat-less entry is scanned (and only
        it); tombstones force the honest full-read path."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_partition_counts,
            tombstone_keys,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 3}", float(i)) for i in range(30)],
            "id long, k string, v double",
        )
        append_partition_transaction(spark, t, "k", df, stats_cols=["id"])
        counts = read_partition_counts(spark, t)
        assert counts.inputFiles() == []  # pure metadata answer
        assert {(r.k, r.n) for r in counts.collect()} == {
            ("k0", 10), ("k1", 10), ("k2", 10)
        }

        # a stat-less append: only the touched partition is scanned
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(100, "k0", 1.0)], "id long, k string, v double"),
        )
        counts2 = read_partition_counts(spark, t)
        files = counts2.inputFiles()
        assert files and all("k=k0" in f for f in files)
        assert {(r.k, r.n) for r in counts2.collect()} == {
            ("k0", 11), ("k1", 10), ("k2", 10)
        }

        # tombstones: manifest counts would overcount deleted rows —
        # the fallback full read keeps the answer honest
        tombstone_keys(
            spark, t, "id",
            spark.createDataFrame([(0,), (4,)], "id long"),
        )
        counts3 = read_partition_counts(spark, t)
        assert {(r.k, r.n) for r in counts3.collect()} == {
            ("k0", 10), ("k1", 9), ("k2", 10)
        }


class TestCheckConstraints:
    def test_constraints_gate_every_write(self, spark, tmp_path):
        """ADD CONSTRAINT validates existing data; after it, every
        write transaction enforces the checks before its CAS — a
        violating batch (including a NULL predicate result) publishes
        nothing and leaves no stage garbage; constraints survive
        appends, rewrites, and restores."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            ConstraintViolation,
            append_partition_transaction,
            committed_partition_transaction,
            current_commit,
            read_keyed_table,
            restore_table_version,
            set_table_constraints,
        )

        t = str(tmp_path / "t")
        ok_rows = spark.createDataFrame(
            [(1, "k0", 5.0), (2, "k1", 7.5)], "id long, k string, v double"
        )
        append_partition_transaction(spark, t, "k", ok_rows)
        v = set_table_constraints(spark, t, ["v > 0", "id IS NOT NULL"])
        assert current_commit(t)["version"] == v

        # adding a constraint the data violates refuses
        with pytest.raises(ConstraintViolation):
            set_table_constraints(spark, t, ["v > 6"])

        # a violating append publishes nothing
        before = current_commit(t)["version"]
        with pytest.raises(ConstraintViolation):
            append_partition_transaction(
                spark, t, "k",
                spark.createDataFrame([(3, "k0", -1.0)], "id long, k string, v double"),
            )
        assert current_commit(t)["version"] == before
        assert not [
            d for d in __import__("os").listdir(t)
            if d.startswith("data-")
            and d not in {
                m["dir"]
                for m in __import__(
                    "nshm2022db_spark.streaming.sinks", fromlist=["table_history"]
                ).table_history(t)
            }
        ]

        # NULL predicate result counts as a violation (strict CHECK)
        with pytest.raises(ConstraintViolation):
            append_partition_transaction(
                spark, t, "k",
                spark.createDataFrame([(4, "k0", None)], "id long, k string, v double"),
            )

        # a good append passes; the constraint carries forward
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(5, "k2", 1.0)], "id long, k string, v double"),
        )
        assert current_commit(t)["constraints"] == ["id IS NOT NULL", "v > 0"]

        # rewrite transactions are gated too
        with pytest.raises(ConstraintViolation):
            committed_partition_transaction(
                spark, t, "k",
                lambda base: base.withColumn("v", F.lit(-5.0)),
            )
        assert {r.id for r in read_keyed_table(spark, t).collect()} == {1, 2, 5}

        # restore keeps the constraint in the re-published manifest
        restore_table_version(t, v)
        assert current_commit(t)["constraints"] == ["id IS NOT NULL", "v > 0"]


class TestShallowClone:
    def test_clone_is_zero_copy_and_isolated(self, spark, tmp_path):
        """A shallow clone reads identically to its source version
        without copying a byte; afterwards each table evolves
        independently — appends to one never change the other."""
        import os as _os

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            clone_table_shallow,
            read_keyed_table,
        )

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}", float(i)) for i in range(20)],
            "id long, k string, v double",
        )
        append_partition_transaction(spark, src, "k", df, stats_cols=["id"])
        clone_table_shallow(src, dst)
        # zero copy: the clone dir holds no parquet of its own
        assert not [
            f
            for root, _, files in _os.walk(dst)
            for f in files
            if f.endswith(".parquet") or f.startswith("part-")
        ]
        same = lambda d: {  # noqa: E731
            (r.id, r.k, r.v) for r in read_keyed_table(spark, d).collect()
        }
        assert same(dst) == same(src) and len(same(src)) == 20

        # clone evolves independently of the source…
        append_partition_transaction(
            spark, dst, "k",
            spark.createDataFrame([(100, "k0", 1.0)], "id long, k string, v double"),
        )
        assert len(same(dst)) == 21 and len(same(src)) == 20
        # …and vice versa
        append_partition_transaction(
            spark, src, "k",
            spark.createDataFrame([(200, "k1", 2.0)], "id long, k string, v double"),
        )
        assert len(same(src)) == 21
        assert {r.id for r in read_keyed_table(spark, dst).collect()} == (
            set(range(20)) | {100}
        )

        # cloning a historical version time-travels the starting point
        old = str(tmp_path / "old")
        clone_table_shallow(src, old, version=1)
        assert len(same(old)) == 20

        # stats/constraints metadata rides along: the clone still
        # prunes on the carried manifest stats
        pruned = read_keyed_table(spark, old, prune={"id": (0, 0)})
        assert pruned.filter(F.col("id") == 0).count() == 1


class TestOperationHistory:
    def test_history_records_operations(self, spark, tmp_path):
        """DESCRIBE HISTORY parity: every commit carries its op tag, in
        order, across the whole mutation surface."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            restore_table_version,
            set_table_constraints,
            table_history,
            tombstone_keys,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}", float(i)) for i in range(40)],
            "id long, k string, v double",
        )
        for j in range(3):
            append_partition_transaction(
                spark, t, "k", df.filter(f"id % 3 = {j}")
            )
        compact_partition_table(spark, t, max_files_per_partition=1)
        set_table_constraints(spark, t, ["id >= 0"])
        tombstone_keys(
            spark, t, "id", spark.createDataFrame([(1,)], "id long")
        )
        restore_table_version(t, 4)
        assert [m.get("op") for m in table_history(t)] == [
            "append", "append", "append", "rewrite",
            "set-constraints", "delete", "restore",
        ]


class TestBloomTypeSafety:
    def test_probe_literal_type_never_false_negatives(self, spark, tmp_path):
        """An int probe against a DOUBLE bloom column (and a float probe
        against a LONG one) must cast through the recorded column type
        before hashing — probing the raw literal's string form would
        silently skip the partition that holds the value."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(float(i), i, f"k{i % 2}") for i in range(50)],
            "dv double, lv long, k string",
        )
        append_partition_transaction(
            spark, t, "k", df, bloom_cols=["dv", "lv"], bloom_bits=8192
        )
        spec = table_history(t)[-1]["bloom"]["k=k0"]
        assert spec["dv"]["t"] == "double" and spec["lv"]["t"] == "bigint"
        # int probe against the double column: 3 must find 3.0
        r = read_keyed_table(spark, t, prune={"dv": ("eq", 3)})
        assert r.filter(F.col("dv") == 3).count() == 1
        # float probe against the long column: 4.0 must find 4
        r = read_keyed_table(spark, t, prune={"lv": ("eq", 4.0)})
        assert r.filter(F.col("lv") == 4.0).count() == 1
        # an uncastable probe never prunes (and the filter matches 0)
        r = read_keyed_table(spark, t, prune={"lv": ("eq", "abc")})
        assert len(r.inputFiles()) > 0

    def test_legacy_format_sidecar_never_prunes(self, spark, tmp_path):
        """A bitmap persisted under an older hash-input format (no
        ``v`` stamp — pre signed-zero canonicalization) hashed keys
        under strings today's probe may not compute; the probe side
        must treat it as no-bloom rather than risk false-pruning the
        match's partition (ADVICE r14)."""
        from nshm2022db_spark.streaming.sinks import (
            _BLOOM_FORMAT,
            _bloom_may_contain,
            append_partition_transaction,
            table_history,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}") for i in range(40)], "id long, k string"
        )
        append_partition_transaction(
            spark, t, "k", df, bloom_cols=["id"], bloom_bits=8192
        )
        sp = table_history(t)[-1]["bloom"]["k=k0"]["id"]
        assert sp["v"] == _BLOOM_FORMAT
        # current-format spec proves an absent key absent...
        assert _bloom_may_contain(spark, sp, 12345) is False
        assert _bloom_may_contain(spark, sp, 4) is True
        # ...but stripped of its format stamp (a pre-v2 writer's
        # sidecar) the same bitmap can never prune
        legacy = {k: v for k, v in sp.items() if k != "v"}
        assert _bloom_may_contain(spark, legacy, 12345) is True

    def test_bad_bloom_geometry_rejected_before_staging(
        self, spark, tmp_path
    ):
        """bloom_bits that can't byte-pack is rejected up front — no
        staged orphan, no commit."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
        )

        t = str(tmp_path / "t")
        with pytest.raises(ValueError, match="multiple of 8"):
            append_partition_transaction(
                spark, t, "k",
                spark.createDataFrame([(1, "a")], "id long, k string"),
                bloom_cols=["id"], bloom_bits=1001,
            )
        assert current_commit(t)["version"] == 0
        import os as _os

        assert not _os.path.isdir(t) or not [
            d for d in _os.listdir(t) if d.startswith("data-")
        ]

    def test_maintain_refuses_clone_and_untagged_sources(
        self, spark, tmp_path
    ):
        """A shallow-cloned source hides its base table behind an empty
        stage; an untagged commit could be anything — both refuse
        instead of silently under/over-counting."""
        import json as _json
        import os as _os

        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            clone_table_shallow,
            maintain_incremental_agg,
        )

        agg = lambda d: d.groupBy("k").agg(F.count(F.lit(1)).alias("n"))  # noqa: E731
        merge = lambda c, a: a if c is None else c.unionByName(a).groupBy(  # noqa: E731
            "k"
        ).agg(F.sum("n").alias("n"))

        src = str(tmp_path / "src")
        append_partition_transaction(
            spark, src, "k",
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string"),
        )
        dst = str(tmp_path / "clone")
        clone_table_shallow(src, dst)
        append_partition_transaction(
            spark, dst, "k",
            spark.createDataFrame([(3, "a")], "id long, k string"),
        )
        with pytest.raises(ValueError, match="clone"):
            maintain_incremental_agg(
                spark, dst, str(tmp_path / "s1"), agg, merge
            )
        # untagged legacy commit: strip the op field in place
        log = _os.path.join(src, "_commits")
        name = sorted(_os.listdir(log))[0]
        p = _os.path.join(log, name)
        m = _json.load(open(p))
        del m["op"]
        tmp = p + ".tmp"
        _json.dump(m, open(tmp, "w"))
        _os.replace(tmp, p)
        with pytest.raises(ValueError, match="append-only"):
            maintain_incremental_agg(
                spark, src, str(tmp_path / "s2"), agg, merge
            )


class TestTombstoneSurvival:
    def test_tombstones_survive_evolution_and_migration(
        self, spark, tmp_path
    ):
        """A metadata-only spec change must not resurrect deleted rows:
        partition evolution and legacy migration both carry the
        outstanding deletion vectors forward."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            evolve_partition_column,
            migrate_legacy_layouts,
            read_keyed_table,
            tombstone_keys,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}", f"g{i % 3}") for i in range(12)],
            "id long, k string, g string",
        )
        append_partition_transaction(spark, t, "k", df)
        tombstone_keys(
            spark, t, "id", spark.createDataFrame([(0,), (5,)], "id long")
        )
        assert read_keyed_table(spark, t).count() == 10
        evolve_partition_column(spark, t, "g")
        assert read_keyed_table(spark, t).count() == 10  # still hidden
        migrate_legacy_layouts(spark, t)
        got = {r.id for r in read_keyed_table(spark, t).collect()}
        assert got == set(range(12)) - {0, 5}

    def test_as_of_unknowable_on_untimed_manifests(self, spark, tmp_path):
        """Manifests without a publish timestamp can never RESOLVE a
        TIMESTAMP AS OF — a pre-creation instant must answer None, not
        current data."""
        import json as _json
        import os as _os

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            resolve_version_as_of,
        )

        t = str(tmp_path / "t")
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(1, "a")], "id long, k string"),
        )
        log = _os.path.join(t, "_commits")
        for name in _os.listdir(log):
            if not name.endswith(".json") or "checkpoint" in name:
                continue
            p = _os.path.join(log, name)
            m = _json.load(open(p))
            m.pop("committed_at", None)
            tmp = p + ".tmp"
            _json.dump(m, open(tmp, "w"))
            _os.replace(tmp, p)
        assert resolve_version_as_of(t, 0.0) is None
        assert resolve_version_as_of(t, 9e12) is None


class TestVacuumCloneSafety:
    def test_vacuum_on_clone_never_touches_source(self, spark, tmp_path):
        """Retention vacuum on a shallow clone must not reach through
        the clone's absolute references and delete the SOURCE table's
        committed data."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            clone_table_shallow,
            committed_partition_transaction,
            read_keyed_table,
            vacuum_versions,
        )

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}") for i in range(10)], "id long, k string"
        )
        append_partition_transaction(spark, src, "k", df)
        clone_table_shallow(src, dst)
        # rewrite the clone so its head no longer references the source
        committed_partition_transaction(
            spark, dst, "k", lambda base: base.filter("id < 5")
        )
        out = vacuum_versions(dst, keep_last=1)
        assert all("/" not in d for d in out["dirs"])
        # the source is fully intact
        assert read_keyed_table(spark, src).count() == 10

    def test_clone_refuses_nonempty_target(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            clone_table_shallow,
        )

        src = str(tmp_path / "src")
        other = str(tmp_path / "other")
        df = spark.createDataFrame([(1, "a")], "id long, k string")
        append_partition_transaction(spark, src, "k", df)
        append_partition_transaction(spark, other, "k", df)
        with pytest.raises(ValueError, match="not an empty table"):
            clone_table_shallow(src, other)

    def test_restore_refuses_vacuumed_target(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            committed_partition_transaction,
            restore_table_version,
            table_history,
            vacuum_versions,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}") for i in range(6)], "id long, k string"
        )
        append_partition_transaction(spark, t, "k", df)
        committed_partition_transaction(
            spark, t, "k", lambda base: base.filter("id < 3")
        )
        committed_partition_transaction(
            spark, t, "k", lambda base: base.filter("id < 2")
        )
        vacuum_versions(t, keep_last=1)
        # v1's data dirs are gone along with its manifest; restoring a
        # REMAINING version whose dirs were vacuumed must refuse
        remaining = [m["version"] for m in table_history(t)]
        assert remaining == [3]
        with pytest.raises(ValueError):
            restore_table_version(t, 1)


class TestUncoveredStatsMerge:
    def test_uncovered_column_never_carries_stale_bounds(
        self, spark, tmp_path
    ):
        """A generation whose footer lacks min/max for a column (foreign
        writer) must DROP the entry's bounds on merge — carrying the old
        bounds forward would let range pruning skip rows the bounds
        never covered."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from nshm2022db_spark.streaming.sinks import (
            _collect_stage_stats,
        )

        d = tmp_path / "stage" / "k=a"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({"x": [500, 600]}),
            str(d / "foreign.parquet"),
            write_statistics=False,
        )
        stats = _collect_stage_stats(
            str(tmp_path / "stage"), {"k=a"}, ["x"]
        )
        # no bounds published at all: absent = never pruned, and the
        # append merge drops the column instead of keeping old bounds
        assert "x" not in stats["k=a"]["cols"]
        assert stats["k=a"]["n"] == 2


class TestAppendRebase:
    """CAS losers re-manifest their immutable stage when every
    intervening commit is provably disjoint (Delta-style logical
    conflict resolution) — the batch is written ONCE no matter how the
    race resolves; a logical conflict (same entry touched) falls back
    to the full optimistic re-run."""

    def _batch(self, spark, lo, hi, day):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("v"),
            F.lit(day).alias("day"),
        )

    def _seed(self, spark, d):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
        )

        append_partition_transaction(
            spark, d, "day", self._batch(spark, 900, 901, "seed")
        )

    def test_disjoint_loser_rebases_without_recompute(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        calls = []

        cls = type(spark.range(1))
        orig_write = cls.write
        n_stages = [0]

        def counting_write(df):
            n_stages[0] += 1
            return orig_write.fget(df)

        def audit(staged):
            # the audit runs AFTER staging, BEFORE the CAS — landing the
            # winner here makes the loser's first CAS fail
            # deterministically.
            calls.append(1)
            if len(calls) == 1:
                append_partition_transaction(
                    spark, d, "day",
                    self._batch(spark, 0, 4, "2024-01-01"),
                    stats_cols=["k"],
                )
            return True

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cls, "write", property(counting_write))
            append_partition_transaction(
                spark, d, "day", self._batch(spark, 10, 14, "2024-01-02"),
                stats_cols=["k"], audit=audit,
            )
        # staged exactly once (the winner's write is the second): a
        # rebase, not a re-run — but the audit re-ran on the rebase
        # attempt against the post-winner base (r9: table-state
        # invariants must hold on the actual publish base)
        assert n_stages[0] == 2  # loser's stage + winner's stage
        assert calls == [1, 1]
        cur = current_commit(d)
        assert cur["version"] == 3  # seed + winner + rebased loser
        got = read_keyed_table(spark, d)
        assert {(r.k, r.day) for r in got.collect() if r.day != "seed"} == (
            {(k, "2024-01-01") for k in range(0, 4)}
            | {(k, "2024-01-02") for k in range(10, 14)}
        )
        # the rebased manifest carries BOTH sides' stats bounds
        st = cur["stats"]
        assert st["day=2024-01-01"]["cols"]["k"] == [0, 3]
        assert st["day=2024-01-02"]["cols"]["k"] == [10, 13]

    def test_same_partition_conflict_reruns(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        calls = []

        def audit(staged):
            calls.append(1)
            if len(calls) == 1:
                append_partition_transaction(
                    spark, d, "day",
                    self._batch(spark, 0, 4, "2024-01-01"),
                )
            return True

        append_partition_transaction(
            spark, d, "day", self._batch(spark, 10, 14, "2024-01-01"),
            audit=audit,
        )
        # same entry touched by the winner: the loser must re-run (and
        # re-audit) against the new base — rebasing would merge against
        # a stale per-entry state
        assert calls == [1, 1]
        got = read_keyed_table(spark, d)
        assert sorted(
            r.k for r in got.collect() if r.day == "2024-01-01"
        ) == [0, 1, 2, 3, 10, 11, 12, 13]
        assert current_commit(d)["version"] == 3

    def test_rebase_rerunning_audit_can_reject(self, spark, tmp_path):
        """A table-state-dependent audit that passed against the
        pre-race base must get a second look on rebase: here it
        rejects once the winner's rows exist, so the loser's stage is
        never published (and does not leak) even though the commits
        are disjoint."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            AuditError,
            append_partition_transaction,
            current_commit,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)

        def audit(staged):
            # table-wide invariant: total row count stays under 4 —
            # true when the loser audits against the pre-race table,
            # false after the winner's 4 rows land
            n = read_keyed_table(spark, d).count()
            if n < 4:
                append_partition_transaction(
                    spark, d, "day", self._batch(spark, 0, 4, "2024-01-01")
                )
                return True
            return False

        with pytest.raises(AuditError, match="rebased"):
            append_partition_transaction(
                spark, d, "day", self._batch(spark, 10, 14, "2024-01-02"),
                audit=audit,
            )
        cur = current_commit(d)
        assert cur["version"] == 2  # seed + winner only
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got if r.day != "seed") == [0, 1, 2, 3]

    def test_retry_revalidates_against_latest_head(self, spark, tmp_path):
        """ADVICE r08 (TOCTOU): a commit landing BETWEEN the failed CAS
        and the retry's manifest rebuild must still be conflict-checked
        before the kept stage publishes. Here a constraint change lands
        exactly at the retry's head read: the loser must discard its
        stage, re-stage against the new base, and enforce the new
        constraint — publishing the stale stage would be a constraint
        bypass under concurrent-writer load."""
        import pytest

        import nshm2022db_spark.streaming.sinks as sinks
        from nshm2022db_spark.streaming.sinks import (
            ConstraintViolation,
            append_partition_transaction,
            current_commit,
            read_keyed_table,
            set_table_constraints,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        state = {"audit_done": False, "injected": False, "in_inject": False}

        def audit(staged):
            if not state["audit_done"]:
                # land a DISJOINT winner so the loser's first CAS fails
                # and it enters the rebase retry with a kept stage
                append_partition_transaction(
                    spark, d, "day", self._batch(spark, 0, 4, "2024-01-01")
                )
                state["audit_done"] = True
            return True

        real_cc = sinks.current_commit

        def injecting_cc(table_dir):
            # fire ONCE, on the retry's own head read — after the failed
            # CAS already conflict-checked nothing (the fix moves all
            # validation to this read)
            if (
                state["audit_done"]
                and not state["injected"]
                and not state["in_inject"]
            ):
                state["in_inject"] = True
                try:
                    set_table_constraints(
                        spark, d, ["k < 200 OR day = 'seed'"]
                    )
                finally:
                    state["injected"] = True
                    state["in_inject"] = False
            return real_cc(table_dir)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(sinks, "current_commit", injecting_cc)
            with pytest.raises(ConstraintViolation):
                # k in [300, 305) violates the injected constraint: the
                # retry must re-stage and enforce, never publish stale
                append_partition_transaction(
                    spark, d, "day",
                    self._batch(spark, 300, 305, "2024-01-02"),
                    audit=audit,
                )
        cur = current_commit(d)
        assert cur["version"] == 3  # seed + winner + set-constraints
        assert cur["constraints"] == ["k < 200 OR day = 'seed'"]
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got if r.day != "seed") == [0, 1, 2, 3]
        # no unpublished stage leaked
        import os as _os

        live = set()
        for m in cur["partitions"].values():
            live |= set(m) if isinstance(m, list) else {m}
        stray = [
            n
            for n in _os.listdir(d)
            if n.startswith("data-")
            and n not in live
            and _os.listdir(_os.path.join(d, n))
        ]
        assert not stray, f"leaked non-empty stages: {stray}"

class TestOverwritePartition:
    """INSERT OVERWRITE / replaceWhere (VERDICT r08 stretch #8): replace
    semantics both modes, predicate containment, deletion of listed
    values, time travel, replay idempotence, and the race contracts —
    disjoint concurrent appends rebase, an append INTO a replaced
    partition is a real conflict and re-runs."""

    def _batch(self, spark, lo, hi, day):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("v"),
            F.lit(day).alias("day"),
        )

    def _seed(self, spark, d):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
        )

        append_partition_transaction(
            spark, d, "day",
            self._batch(spark, 0, 3, "a")
            .union(self._batch(spark, 10, 13, "b"))
            .union(self._batch(spark, 20, 23, "c")),
            stats_cols=["k"],
        )

    def test_dynamic_overwrite_replaces_present_partitions_only(
        self, spark, tmp_path
    ):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 100, 102, "a"),
            stats_cols=["k"],
        )
        got = {(r.k, r.day) for r in read_keyed_table(spark, d).collect()}
        assert got == (
            {(100, "a"), (101, "a")}
            | {(k, "b") for k in range(10, 13)}
            | {(k, "c") for k in range(20, 23)}
        )
        cur = current_commit(d)
        assert cur["op"] == "overwrite"
        # stats REPLACED for 'a', carried for others
        assert cur["stats"]["day=a"]["cols"]["k"] == [100, 101]
        assert cur["stats"]["day=b"]["cols"]["k"] == [10, 12]
        # time travel still serves the pre-overwrite state
        old = read_keyed_table(spark, d, version=1)
        assert sorted(r.k for r in old.collect() if r.day == "a") == [0, 1, 2]

    def test_replace_where_deletes_listed_empty_and_enforces_containment(
        self, spark, tmp_path
    ):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        with pytest.raises(ValueError, match="outside replace_where"):
            overwrite_partition_transaction(
                spark, d, "day", self._batch(spark, 100, 102, "b"),
                replace_where=["a"],
            )
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 100, 102, "a"),
            replace_where=["a", "c"],  # c listed, no rows: full delete
        )
        got = {(r.k, r.day) for r in read_keyed_table(spark, d).collect()}
        assert got == (
            {(100, "a"), (101, "a")} | {(k, "b") for k in range(10, 13)}
        )

    def test_deletion_only_overwrite_still_runs_audit(self, spark, tmp_path):
        """ADVICE r09: a deletion-only replaceWhere batch (listed
        values, zero staged rows) must still run the WAP audit — an
        audited pipeline must not be able to delete partitions
        un-audited. The audit sees an empty frame in the batch's
        schema; rejecting it aborts with nothing deleted."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            AuditError,
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        empty = self._batch(spark, 0, 0, "a")
        seen = {}

        def audit(staged):
            seen["n"] = staged.count()
            seen["cols"] = set(staged.columns)
            return False

        with pytest.raises(AuditError):
            overwrite_partition_transaction(
                spark, d, "day", empty, replace_where=["a"], audit=audit
            )
        assert seen == {"n": 0, "cols": {"k", "v", "day"}}
        days = {r.day for r in read_keyed_table(spark, d).collect()}
        assert "a" in days  # rejected: nothing was deleted
        # an approving audit lets the deletion publish
        overwrite_partition_transaction(
            spark, d, "day", empty, replace_where=["a"],
            audit=lambda s: s.count() == 0,
        )
        days = {r.day for r in read_keyed_table(spark, d).collect()}
        assert "a" not in days

    def test_overwrite_batch_id_replay_noop(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        for _ in range(2):
            overwrite_partition_transaction(
                spark, d, "day", self._batch(spark, 100, 102, "a"),
                batch_id=7,
            )
        assert current_commit(d)["version"] == 2  # second call no-ops
        assert sorted(
            r.k
            for r in read_keyed_table(spark, d).collect()
            if r.day == "a"
        ) == [100, 101]

    def test_disjoint_concurrent_append_rebases_overwrite(
        self, spark, tmp_path
    ):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        cls = type(spark.range(1))
        orig = cls.write
        n_stages = [0]

        def counting_write(df):
            n_stages[0] += 1
            return orig.fget(df)

        calls = []

        def audit(staged):
            calls.append(1)
            if len(calls) == 1:
                # land a winner appending to UNTOUCHED partition 'b'
                append_partition_transaction(
                    spark, d, "day", self._batch(spark, 50, 52, "b")
                )
            return True

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cls, "write", property(counting_write))
            overwrite_partition_transaction(
                spark, d, "day", self._batch(spark, 100, 102, "a"),
                audit=audit,
            )
        # overwrite staged ONCE (second write is the winner's):
        # a rebase, with the audit re-run on the rebase attempt
        assert n_stages[0] == 2
        assert calls == [1, 1]
        cur = current_commit(d)
        assert cur["version"] == 3  # seed + append + rebased overwrite
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got if r.day == "a") == [100, 101]
        assert sorted(r.k for r in got if r.day == "b") == [
            10, 11, 12, 50, 51,
        ]

    def test_append_into_replaced_partition_conflicts_and_reruns(
        self, spark, tmp_path
    ):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        cls = type(spark.range(1))
        orig = cls.write
        n_stages = [0]

        def counting_write(df):
            n_stages[0] += 1
            return orig.fget(df)

        calls = []

        def audit(staged):
            calls.append(1)
            if len(calls) == 1:
                # a concurrent append INTO the partition being replaced —
                # rebasing would silently erase it without either writer
                # ever seeing the other
                append_partition_transaction(
                    spark, d, "day", self._batch(spark, 50, 52, "a")
                )
            return True

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cls, "write", property(counting_write))
            overwrite_partition_transaction(
                spark, d, "day", self._batch(spark, 100, 102, "a"),
                audit=audit,
            )
        # real conflict: the overwrite re-staged (3 writes total) and
        # re-audited against the post-append base
        assert n_stages[0] == 3
        assert calls == [1, 1]
        cur = current_commit(d)
        assert cur["version"] == 3
        got = read_keyed_table(spark, d).collect()
        # the retried overwrite's content wins — the append is replaced
        # KNOWINGLY (the re-run read the post-append head), Delta's
        # retry-after-ConcurrentAppendException semantics
        assert sorted(r.k for r in got if r.day == "a") == [100, 101]

    def test_appender_rerun_after_published_overwrite(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        calls = []

        def audit(staged):
            calls.append(1)
            if len(calls) == 1:
                # a non-append op lands mid-race: the appender must NOT
                # rebase across it (op tag barrier) — full re-run
                overwrite_partition_transaction(
                    spark, d, "day", self._batch(spark, 100, 102, "a")
                )
            return True

        append_partition_transaction(
            spark, d, "day", self._batch(spark, 50, 52, "b"), audit=audit
        )
        assert calls == [1, 1]  # re-staged + re-audited: no rebase
        assert current_commit(d)["version"] == 3
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got if r.day == "a") == [100, 101]
        assert sorted(r.k for r in got if r.day == "b") == [
            10, 11, 12, 50, 51,
        ]

    def test_vacuum_reclaims_replaced_dirs(self, spark, tmp_path):
        """Retention after an overwrite: the replaced partition's old
        dir is referenced ONLY by pre-overwrite manifests, so once
        those drop out of the retention window the dir is reclaimed —
        while dirs the overwrite carried forward (untouched partitions)
        survive because the retained manifest still references them."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            overwrite_partition_transaction,
            read_keyed_table,
            vacuum_versions,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)  # v1: days a/b/c in one seed dir
        seed_dir = current_commit(d)["partitions"]["day=a"]
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 100, 102, "a")
        )  # v2: day=a replaced; b/c still point at the seed dir
        rep = vacuum_versions(d, keep_last=1)
        # the seed dir is STILL referenced by v2 (days b/c carry
        # forward) — vacuum must not reclaim it
        assert seed_dir not in rep["dirs"]
        assert os.path.isdir(os.path.join(d, seed_dir))
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got if r.day == "a") == [100, 101]
        assert sorted(r.k for r in got if r.day == "b") == [10, 11, 12]
        # now overwrite b and c too: the seed dir becomes unreferenced
        # by every retained manifest and IS reclaimed
        overwrite_partition_transaction(
            spark, d, "day",
            self._batch(spark, 200, 202, "b").union(
                self._batch(spark, 300, 302, "c")
            ),
        )
        rep2 = vacuum_versions(d, keep_last=1)
        assert seed_dir in rep2["dirs"]
        assert not os.path.isdir(os.path.join(d, seed_dir))
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got) == [100, 101, 200, 201, 300, 301]

    def test_legacy_layouts_refuse_overwrite(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            evolve_partition_column,
            overwrite_partition_transaction,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        evolve_partition_column(spark, d, "k")
        with pytest.raises(ValueError, match="legacy"):
            overwrite_partition_transaction(
                spark, d, "k", self._batch(spark, 100, 102, "a")
            )

    def test_empty_replace_where_still_checks_the_bloom_spec(
        self, spark, tmp_path
    ):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            overwrite_partition_transaction,
        )

        d = str(tmp_path / "t")
        with pytest.raises(ValueError, match="bloom_bits"):
            overwrite_partition_transaction(
                spark, d, "day", self._batch(spark, 0, 2, "a"),
                replace_where=[], bloom_cols=["k"], bloom_bits=12,
            )
        # a valid spec: replace nothing is a no-op that publishes nothing
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 0, 2, "a"),
            replace_where=[], bloom_cols=["k"],
        )
        assert os.path.isdir(d) and not os.listdir(d)

    def test_containment_error_lists_the_callers_values(
        self, spark, tmp_path
    ):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            overwrite_partition_transaction,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        with pytest.raises(ValueError, match=r"replace_where \[2, 10\]"):
            overwrite_partition_transaction(
                spark, d, "day", self._batch(spark, 0, 2, "a"),
                replace_where=[10, 2],
            )

    def test_emptied_map_reads_as_an_empty_table(self, spark, tmp_path):
        """A replaceWhere listing every live value with an empty batch,
        and a DELETE of every row, empty the partition map: the table
        still reads — no rows, its last schema, column renames applied
        — and takes a MERGE, where it used to read as no table."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            delete_table,
            merge_into_table,
            overwrite_partition_transaction,
            read_keyed_table,
            rename_column,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 0, 0, "a"),
            replace_where=["a", "b", "c"],
        )
        assert current_commit(d)["partitions"] == {}
        got = read_keyed_table(spark, d)
        assert got.columns == ["k", "v", "day"] and got.count() == 0
        # metadata-only commits carry the schema while the map is empty
        rename_column(spark, d, "v", "w")
        got = read_keyed_table(spark, d, prune={"k": (0, 5)})
        assert got.columns == ["k", "w", "day"] and got.count() == 0
        merge_into_table(
            spark, d,
            spark.createDataFrame([(7, 1.0, "a")], "k long, w double, day string"),
            ["k"],
            when_not_matched_insert=True,
        )
        assert "empty_schema" not in current_commit(d)
        assert [tuple(r) for r in read_keyed_table(spark, d).collect()] == [
            (7, 1.0, "a")
        ]
        delete_table(spark, d, where="k = 7")
        assert current_commit(d)["partitions"] == {}
        got = read_keyed_table(spark, d)
        assert got.columns == ["k", "w", "day"] and got.count() == 0
        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame([(8, 2.0, "b")], "k long, w double, day string"),
        )
        assert [tuple(r) for r in read_keyed_table(spark, d).collect()] == [
            (8, 2.0, "b")
        ]


class TestAppendRebaseRace:
    def _batch(self, spark, lo, hi, day):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("v"),
            F.lit(day).alias("day"),
        )

    def _seed(self, spark, d):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
        )

        append_partition_transaction(
            spark, d, "day", self._batch(spark, 900, 901, "seed")
        )

    def test_8_thread_disjoint_race_stages_each_batch_once(
        self, spark, tmp_path
    ):
        import threading

        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        cls = type(spark.range(1))
        orig = cls.write
        n_stages = [0]
        lock = threading.Lock()

        def counting_write(df):
            with lock:
                n_stages[0] += 1
            return orig.fget(df)

        barrier = threading.Barrier(8)
        errs = []

        def worker(i):
            try:
                df = self._batch(spark, i * 10, i * 10 + 5, f"day-{i}")
                barrier.wait()
                append_partition_transaction(
                    spark, d, "day", df, stats_cols=["k"], max_retries=32
                )
            except Exception as e:  # pragma: no cover - diagnostic
                errs.append(e)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cls, "write", property(counting_write))
            ts = [
                threading.Thread(target=worker, args=(i,)) for i in range(8)
            ]
            for t in ts:
                t.start()
            for t in ts:
                t.join()
        assert not errs
        # disjoint partitions: every CAS loser rebases its immutable
        # stage — 8 writers, exactly 8 stage writes, zero re-runs
        assert n_stages[0] == 8
        cur = current_commit(d)
        assert cur["version"] == 9  # seed + 8 racing commits, none lost
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got if r.day != "seed") == sorted(
            k for i in range(8) for k in range(i * 10, i * 10 + 5)
        )
        # stats survived every rebase re-merge
        for i in range(8):
            assert cur["stats"][f"day=day-{i}"]["cols"]["k"] == [
                i * 10, i * 10 + 4,
            ]


class TestTypedChangeFeed:
    """read_table_changes_typed: Delta CDF's _change_type surface over
    the commit log — insert/delete image pairing, tombstone delete
    reconstruction, metadata-only transparency, and the refusals."""

    def _batch(self, spark, lo, hi, day):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("v"),
            F.lit(day).alias("day"),
        )

    def test_append_only_matches_untyped_feed(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 3, "a"))
        append_partition_transaction(spark, d, "day", self._batch(spark, 3, 6, "b"))
        typed = read_table_changes_typed(spark, d, 0)
        assert {r._change_type for r in typed.collect()} == {"insert"}
        untyped = read_table_changes(spark, d, 0)
        a = sorted((r.k, r._commit_version) for r in typed.collect())
        b = sorted((r.k, r._commit_version) for r in untyped.collect())
        assert a == b

    def test_overwrite_emits_upsert_image_pair(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            overwrite_partition_transaction,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(
            spark, d, "day",
            self._batch(spark, 0, 3, "a").union(self._batch(spark, 10, 13, "b")),
        )
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 100, 102, "a")
        )
        rows = read_table_changes_typed(spark, d, 1).collect()
        ins = sorted(r.k for r in rows if r._change_type == "insert")
        dels = sorted(r.k for r in rows if r._change_type == "delete")
        assert ins == [100, 101]  # the new content of the touched entry
        assert dels == [0, 1, 2]  # its prior content; 'b' never appears
        assert {r._commit_version for r in rows} == {2}

    def test_tombstone_emits_prior_version_delete_images(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes_typed,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 6, "a"))
        tombstone_keys(
            spark, d, "k", spark.range(2, 4).select(F.col("id").alias("k"))
        )
        # a SECOND tombstone must not re-delete already-hidden rows
        tombstone_keys(
            spark, d, "k", spark.range(3, 5).select(F.col("id").alias("k"))
        )
        rows = read_table_changes_typed(spark, d, 1).collect()
        v2 = sorted(r.k for r in rows if r._commit_version == 2)
        v3 = sorted(r.k for r in rows if r._commit_version == 3)
        assert v2 == [2, 3]
        assert v3 == [4]  # 3 was already tombstoned at v2 — no re-delete
        assert {r._change_type for r in rows} == {"delete"}

    def test_metadata_only_commits_emit_nothing(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes_typed,
            set_table_constraints,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 3, "a"))
        set_table_constraints(spark, d, ["k >= 0"])
        rows = read_table_changes_typed(spark, d, 1)
        assert rows is None  # the only in-range commit moved no rows

    def test_overwrite_images_respect_prior_tombstones(self, spark, tmp_path):
        """r9 review #1: images are STATE diffs — a row hidden by a
        version's tombstones is not part of that state, so an overwrite
        after a tombstone must not re-emit the hidden rows as deletes
        (a folding consumer would double-subtract them)."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            overwrite_partition_transaction,
            read_table_changes_typed,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 6, "a"))
        tombstone_keys(
            spark, d, "k", spark.range(2, 4).select(F.col("id").alias("k"))
        )
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 100, 102, "a")
        )
        rows = read_table_changes_typed(spark, d, 2).collect()
        dels = sorted(r.k for r in rows if r._change_type == "delete")
        ins = sorted(r.k for r in rows if r._change_type == "insert")
        assert dels == [0, 1, 4, 5]  # 2, 3 were hidden at v2 — no re-delete
        assert ins == [100, 101]

    def test_vacuumed_diff_base_raises(self, spark, tmp_path):
        """r9 review #2: a vacuumed manifest one version BELOW the range
        must raise like an in-range vacuum — defaulting it to an empty
        table would emit the whole table as inserts."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            overwrite_partition_transaction,
            read_table_changes_typed,
            vacuum_versions,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 3, "a"))
        append_partition_transaction(spark, d, "day", self._batch(spark, 3, 6, "b"))
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 100, 102, "a")
        )
        vacuum_versions(d, keep_last=1)  # only v3 retained
        with pytest.raises(ValueError, match="diff base"):
            read_table_changes_typed(spark, d, 2)

    def test_vacuumed_diff_base_ok_when_range_is_appends(self, spark, tmp_path):
        """ADVICE r09: only overwrite/rewrite/delete commits diff
        against v-1 — a from_version just below the retention horizon
        must NOT fail when every in-range commit is a plain append
        (its inserts are its own stage)."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes_typed,
            vacuum_versions,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 3, "a"))
        append_partition_transaction(spark, d, "day", self._batch(spark, 3, 6, "b"))
        append_partition_transaction(spark, d, "day", self._batch(spark, 6, 9, "c"))
        vacuum_versions(d, keep_last=2)  # v1 dropped; v2's diff base gone
        rows = read_table_changes_typed(spark, d, 1).collect()
        assert sorted(r.k for r in rows) == [3, 4, 5, 6, 7, 8]
        assert {r._change_type for r in rows} == {"insert"}

    def test_commit_timestamp_from_manifest(self, spark, tmp_path):
        """_commit_timestamp mirrors the manifest's committed_at
        publish wall-clock (Delta CDF's metadata column — ADVICE r09)
        on every image family, including tombstone delete images."""
        import datetime

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes_typed,
            table_history,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 4, "a"))
        tombstone_keys(
            spark, d, "k", spark.range(1, 3).select(F.col("id").alias("k"))
        )
        at = {m["version"]: m["committed_at"] for m in table_history(d)}
        for r in read_table_changes_typed(spark, d, 0).collect():
            want = datetime.datetime.fromtimestamp(
                at[r._commit_version], datetime.timezone.utc
            ).replace(tzinfo=None)
            assert abs((r._commit_timestamp - want).total_seconds()) < 1e-3

    def test_apply_typed_changes_reconstructs_head(self, spark, tmp_path):
        """CDC APPLY (r10): folding EVERY typed image over a mixed
        append/overwrite/tombstone/merge history — including duplicate
        physical rows, whose multiplicity the multiset fold must
        preserve — reconstructs exactly the head state."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            apply_typed_changes,
            merge_into_table,
            overwrite_partition_transaction,
            read_keyed_table,
            read_table_changes_typed,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        dup = self._batch(spark, 50, 51, "b")  # duplicated row, survives
        append_partition_transaction(
            spark, d, "day",
            self._batch(spark, 0, 8, "a").union(dup).union(dup),
        )
        overwrite_partition_transaction(
            spark, d, "day",
            self._batch(spark, 0, 8, "a").filter("k % 2 = 0"),
            replace_where=["a"],
        )
        tombstone_keys(
            spark, d, "k", spark.range(0, 3).select(F.col("id").alias("k"))
        )
        merge_into_table(
            spark, d,
            spark.range(2, 5).select(
                F.col("id").alias("k"), (F.col("id") * 9.0).alias("nv")
            ),
            ["k"],
            when_matched_delete="t.v > 7",
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'n'"},
        )
        replica = apply_typed_changes(
            read_table_changes_typed(spark, d, 0), ["k", "v", "day"]
        )
        head = read_keyed_table(spark, d)
        assert sorted(
            (r.k, r.v, r.day) for r in replica.collect()
        ) == sorted((r.k, r.v, r.day) for r in head.collect())
        # the duplicate row kept its multiplicity through the fold
        assert replica.filter("k = 50").count() == 2

    def test_restore_and_untagged_raise(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes_typed,
            restore_table_version,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 3, "a"))
        append_partition_transaction(spark, d, "day", self._batch(spark, 3, 6, "b"))
        restore_table_version(d, 1)
        with pytest.raises(ValueError, match="row images"):
            read_table_changes_typed(spark, d, 0)
        # ranges that stop before the restore still read fine
        assert read_table_changes_typed(spark, d, 0, to_version=2).count() == 6


class TestMergeIntoTable:
    """Conditional multi-clause MERGE INTO (VERDICT r09 #1): the full
    Delta MERGE surface as one commit — clause matrix, dup-source
    error, touched-partition economics (carry / tombstone / extend /
    rewrite), DV resurrection, replay idempotence, the race contracts,
    and the typed change feed over merge commits."""

    def _batch(self, spark, lo, hi, day):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("v"),
            F.lit(day).alias("day"),
        )

    def _seed(self, spark, d):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
        )

        append_partition_transaction(
            spark, d, "day",
            self._batch(spark, 0, 5, "a")
            .union(self._batch(spark, 10, 15, "b"))
            .union(self._batch(spark, 20, 25, "c")),
            stats_cols=["k"],
        )

    def _src(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 100.0).alias("nv")
        )

    def test_clause_matrix_and_partition_economics(self, spark, tmp_path):
        """All three clause families in one merge, plus the cost
        contracts: an untouched (stats-pruned) partition keeps its
        mapping; a delete-only partition is TOMBSTONED, not rewritten;
        inserts create a new entry; updated partitions rewrite."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = dict(current_commit(d)["partitions"])
        m = merge_into_table(
            spark, d, self._src(spark, 3, 12), ["k"],
            when_matched_update={"v": "s.nv"},
            when_matched_update_condition="s.nv > t.v + 500",
            when_matched_delete="t.v < 8",
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'n'"},
            when_not_matched_insert_condition="s.nv >= 500",
        )
        # matched: k=3 (del: v=6<8), k=4 (carry), k=10, 11 (update);
        # unmatched source 5..9 insert into new partition 'n'
        assert (m["updated"], m["deleted"], m["inserted"]) == (2, 1, 5)
        cur = current_commit(d)
        assert cur["version"] == 2 and cur["op"] == "merge"
        # c: outside source key range -> mapping carried byte-identical
        assert cur["partitions"]["day=c"] == before["day=c"]
        # a: only change is a whole-key delete -> tombstoned, not
        # rewritten (the deletion-vector trade)
        assert cur["partitions"]["day=a"] == before["day=a"]
        assert cur.get("dv") and cur["dv_key"] == "k"
        # b rewritten, n created
        assert cur["partitions"]["day=b"] != before["day=b"]
        assert "day=n" in cur["partitions"]
        got = sorted(
            (r.k, r.v, r.day) for r in read_keyed_table(spark, d).collect()
        )
        assert got == (
            [(0, 0.0, "a"), (1, 2.0, "a"), (2, 4.0, "a"), (4, 8.0, "a")]
            + [(5, 500.0, "n"), (6, 600.0, "n"), (7, 700.0, "n"),
               (8, 800.0, "n"), (9, 900.0, "n")]
            + [(10, 1000.0, "b"), (11, 1100.0, "b"), (12, 24.0, "b"),
               (13, 26.0, "b"), (14, 28.0, "b")]
            + [(20, 40.0, "c"), (21, 42.0, "c"), (22, 44.0, "c"),
               (23, 46.0, "c"), (24, 48.0, "c")]
        )

    def test_by_source_clauses(self, spark, tmp_path):
        """NOT MATCHED BY SOURCE update + delete (forces a full scan):
        unmatched target rows age out or flag."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        m = merge_into_table(
            spark, d, self._src(spark, 0, 3), ["k"],
            when_matched_update={"v": "t.v + s.nv"},
            when_not_matched_by_source_update={"v": "-1.0"},
            when_not_matched_by_source_update_condition="t.day = 'b'",
            when_not_matched_by_source_delete="t.day = 'c'",
        )
        assert m["deleted"] == 5  # all of c
        assert m["updated"] == 3 + 5  # matched 0..2 + all of b flagged
        got = {(r.k, r.v, r.day) for r in read_keyed_table(spark, d).collect()}
        assert {r for r in got if r[2] == "c"} == set()
        assert all(v == -1.0 for _, v, day in got if day == "b")
        assert (1, 102.0, "a") in got  # 2.0 + 100.0

    def test_multiple_matched_sources_raise(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import merge_into_table

        d = str(tmp_path / "t")
        self._seed(spark, d)
        dup = self._src(spark, 3, 5).union(self._src(spark, 4, 6))
        with pytest.raises(Exception, match="multiple source rows"):
            merge_into_table(
                spark, d, dup, ["k"],
                when_matched_update={"v": "s.nv"},
            )
        # unmatched duplicate source keys each insert (Delta semantics)
        from nshm2022db_spark.streaming.sinks import read_keyed_table

        dup_unmatched = (
            self._src(spark, 50, 51).union(self._src(spark, 50, 51))
        )
        merge_into_table(
            spark, d, dup_unmatched, ["k"],
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'x'"},
        )
        assert (
            read_keyed_table(spark, d).filter("day = 'x'").count() == 2
        )

    def test_null_keys_never_match(self, spark, tmp_path):
        """SQL equality: a NULL source key matches nothing (insert
        clause applies); NULL target keys are untouched by matched
        clauses."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        src = spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS k, 999.0 AS nv"
        )
        m = merge_into_table(
            spark, d, src, ["k"],
            when_matched_update={"v": "s.nv"},
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'z'"},
        )
        assert (m["updated"], m["inserted"]) == (0, 1)
        z = read_keyed_table(spark, d).filter("day = 'z'").collect()
        assert len(z) == 1 and z[0].k is None

    def test_partition_moving_update(self, spark, tmp_path):
        """An UPDATE that changes the partition column rewrites BOTH
        the departure and arrival partitions; key tombstones are not
        involved (they would hide the arrived row too)."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        m = merge_into_table(
            spark, d, self._src(spark, 3, 4), ["k"],
            when_matched_update={"v": "s.nv", "day": "'b'"},  # a -> b
        )
        assert m["updated"] == 1
        cur = current_commit(d)
        assert not cur.get("dv")
        got = read_keyed_table(spark, d)
        assert got.filter("k = 3").collect()[0].day == "b"
        assert got.filter("day = 'a'").count() == 4
        assert got.filter("day = 'b'").count() == 6

    def test_reinsert_clears_tombstone(self, spark, tmp_path):
        """A key hidden by a deletion vector is NOT MATCHED; inserting
        it must consolidate the DV minus that key or the old tombstone
        would hide the new row."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
            read_keyed_table,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        tombstone_keys(
            spark, d, "k", spark.range(1, 3).select(F.col("id").alias("k"))
        )
        assert read_keyed_table(spark, d).filter("k = 1").count() == 0
        m = merge_into_table(
            spark, d, self._src(spark, 1, 2), ["k"],
            when_matched_update={"v": "s.nv"},  # k=1 hidden -> NOT matched
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'a'"},
        )
        assert (m["updated"], m["inserted"]) == (0, 1)
        got = read_keyed_table(spark, d)
        assert got.filter("k = 1").collect()[0].v == 100.0
        assert got.filter("k = 2").count() == 0  # other tombstone survives
        assert len(current_commit(d)["dv"]) == 1  # consolidated

    def test_merge_key_vs_dv_key_mismatch_raises(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        tombstone_keys(
            spark, d, "k", spark.range(1, 2).select(F.col("id").alias("k"))
        )
        with pytest.raises(ValueError, match="deletion vectors"):
            merge_into_table(
                spark, d,
                self._src(spark, 0, 1).withColumn("v", F.col("nv")),
                ["k", "v"],
                when_matched_update={"v": "s.nv"},
            )

    def test_batch_id_replay_noop(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        for _ in range(2):
            m = merge_into_table(
                spark, d, self._src(spark, 3, 4), ["k"],
                when_matched_update={"v": "s.nv"},
                batch_id=42,
            )
        assert m.get("replayed") is True
        assert current_commit(d)["version"] == 2

    def test_noop_merge_publishes_nothing(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        m = merge_into_table(
            spark, d, self._src(spark, 3, 5), ["k"],
            when_matched_update={"v": "s.nv"},
            when_matched_update_condition="s.nv < t.v",  # never true
        )
        # carried = every row of the one scanned partition (a; b and c
        # prune on the source key bounds 3..4)
        assert m == {
            "version": 1, "updated": 0, "deleted": 0, "inserted": 0,
            "carried": 5,
        }
        assert current_commit(d)["version"] == 1

    def test_disjoint_concurrent_append_rebases_over_merge(
        self, spark, tmp_path
    ):
        """VERDICT r09 #1 race contract: an append racing a merge that
        commits first REBASES when its partitions are disjoint from
        everything the merge touched (op 'merge' is rebase-transparent
        like an append) — the append's batch stages exactly once."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        batch = self._batch(spark, 50, 52, "c")
        # count STAGE attempts of this batch via _to_physical_batch —
        # the append's stage-write pipeline is the only caller that
        # receives the batch object (counting DataFrame.write by
        # identity broke when the stage write gained its hash
        # distribution wrapper)
        import nshm2022db_spark.streaming.sinks as sinks_mod

        orig_tpb = sinks_mod._to_physical_batch
        batch_writes = [0]

        def counting_tpb(df, manifest):
            if df is batch:
                batch_writes[0] += 1
            return orig_tpb(df, manifest)

        def audit(staged):
            if batch_writes[0] == 1 and current_commit(d)["version"] == 1:
                # land a merge updating partition 'b' (disjoint from 'c';
                # no delete clause, so the dv stays unchanged)
                merge_into_table(
                    spark, d, self._src(spark, 10, 12), ["k"],
                    when_matched_update={"v": "s.nv"},
                )
            return True

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(sinks_mod, "_to_physical_batch", counting_tpb)
            append_partition_transaction(
                spark, d, "day", batch, audit=audit
            )
        assert batch_writes[0] == 1  # rebased, never re-staged
        cur = current_commit(d)
        assert cur["version"] == 3  # seed + merge + rebased append
        got = read_keyed_table(spark, d)
        assert got.filter("day = 'c'").count() == 7
        assert got.filter("k = 10").collect()[0].v == 1000.0

    def test_append_into_merged_partition_conflicts_and_reruns(
        self, spark, tmp_path
    ):
        """The same race with OVERLAP: the merge rewrote the entry the
        append targets, so the append's stage is discarded and the
        whole transaction re-runs (stages twice)."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        batch = self._batch(spark, 50, 52, "b")
        # stage attempts counted via _to_physical_batch, as in the
        # disjoint-rebase test above
        import nshm2022db_spark.streaming.sinks as sinks_mod

        orig_tpb = sinks_mod._to_physical_batch
        batch_writes = [0]

        def counting_tpb(df, manifest):
            if df is batch:
                batch_writes[0] += 1
            return orig_tpb(df, manifest)

        def audit(staged):
            if batch_writes[0] == 1 and current_commit(d)["version"] == 1:
                merge_into_table(
                    spark, d, self._src(spark, 10, 12), ["k"],
                    when_matched_update={"v": "s.nv"},
                )
            return True

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(sinks_mod, "_to_physical_batch", counting_tpb)
            append_partition_transaction(
                spark, d, "day", batch, audit=audit
            )
        assert batch_writes[0] == 2  # conflict: full optimistic re-run
        got = read_keyed_table(spark, d)
        # both the merge's update and the append's rows survive
        assert got.filter("k = 10").collect()[0].v == 1000.0
        assert sorted(
            r.k for r in got.filter("day = 'b'").collect()
        ) == [10, 11, 12, 13, 14, 50, 51]

    def test_typed_feed_over_merge(self, spark, tmp_path):
        """The typed change feed over a merge commit WITH the CDC
        sidecar (the r11 default — Delta's _change_data): exact
        row-level images — updates as update_preimage/update_postimage
        PAIRS, deletes as before-images, inserts as after-images,
        carried rows ABSENT — and a later re-insert consolidation
        emits only its insert (nothing re-deleted, no purge noise)."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        # v2: k=3 deletes (tombstone), k=10/11 update (rewrite b),
        # 5..9 insert into pruned c (generation extension)
        merge_into_table(
            spark, d, self._src(spark, 3, 12), ["k"],
            when_matched_update={"v": "s.nv"},
            when_matched_update_condition="s.nv > t.v + 500",
            when_matched_delete="t.v < 8",
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'c'"},
            when_not_matched_insert_condition="s.nv >= 500",
        )
        rows = read_table_changes_typed(spark, d, 1).collect()
        by = {}
        for r in rows:
            by.setdefault(r._change_type, []).append((r.k, r.v))
        assert sorted(by["insert"]) == [
            (5, 500.0), (6, 600.0), (7, 700.0), (8, 800.0), (9, 900.0)
        ]
        assert sorted(by["delete"]) == [(3, 6.0)]  # the BEFORE image
        # update pairs keyed by construction: pre carries the old v,
        # post the SET result; carried rows (e.g. k=4, 12..14) absent
        assert sorted(by["update_preimage"]) == [(10, 20.0), (11, 22.0)]
        assert sorted(by["update_postimage"]) == [(10, 1000.0), (11, 1100.0)]
        assert all(r._commit_timestamp is not None for r in rows)
        # v3: re-insert 3 (dv consolidation + stale purge) — the feed
        # emits ONLY the insert: the purge rewrites are restatements
        merge_into_table(
            spark, d, self._src(spark, 3, 4), ["k"],
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'a'"},
            when_matched_update={"v": "s.nv"},
        )
        rows3 = read_table_changes_typed(spark, d, 2).collect()
        assert [(r.k, r.v, r._change_type) for r in rows3] == [
            (3, 300.0, "insert")
        ]

    def test_typed_feed_merge_fallback_without_cdc(self, spark, tmp_path):
        """change_data=False (and any pre-r11 merge commit): the feed
        falls back to the map-diff reconstruction — rewritten entries
        emit pairs, EXTENDED entries emit only the added generation as
        inserts, tombstoned keys emit delete images via the dv key
        diff."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        merge_into_table(
            spark, d, self._src(spark, 3, 12), ["k"],
            when_matched_update={"v": "s.nv"},
            when_matched_update_condition="s.nv > t.v + 500",
            when_matched_delete="t.v < 8",
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'c'"},
            when_not_matched_insert_condition="s.nv >= 500",
            change_data=False,
        )
        rows = read_table_changes_typed(spark, d, 1).collect()
        ins = sorted(r.k for r in rows if r._change_type == "insert")
        dels = sorted(r.k for r in rows if r._change_type == "delete")
        # inserts: extended c gains ONLY 5..9 (not its old 20..24),
        # rewritten b re-states its full new content 10..14
        assert ins == [5, 6, 7, 8, 9, 10, 11, 12, 13, 14]
        # deletes: b's prior content (pair) + the tombstoned key 3
        assert dels == [3, 10, 11, 12, 13, 14]
        assert all(r._commit_timestamp is not None for r in rows)

    def test_fallback_feed_extend_plus_tombstone_same_partition(
        self, spark, tmp_path
    ):
        """r11 review #1 (reproduced pre-fix): a non-cdc merge that
        EXTENDS a partition with inserts while TOMBSTONING keys there
        lost the delete images — the extension's pair images are
        insert-only and the dv key-diff read only untouched entries.
        The extended entry's PRIOR generations now join the
        delete-image base; the CDC fold must equal the head."""
        from nshm2022db_spark.streaming.sinks import (
            apply_typed_changes,
            merge_into_table,
            read_keyed_table,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)  # a: 0-4, b: 10-14, c: 20-24 (stats on k)
        src = spark.createDataFrame(
            [(2, 0.0), (100, 100.0)], "k long, nv double"
        )
        m = merge_into_table(
            spark, d, src, ["k"],
            when_matched_delete=True,  # whole-key: k=2 tombstones
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'a'"},
            change_data=False,  # the map-diff fallback path
        )
        assert (m["deleted"], m["inserted"]) == (1, 1)
        rows = read_table_changes_typed(spark, d, 1).collect()
        dels = {(r.k, r.v) for r in rows if r._change_type == "delete"}
        ins = {(r.k, r.v) for r in rows if r._change_type == "insert"}
        assert dels == {(2, 4.0)}  # the lost image, now present
        assert (100, 100.0) in ins
        replica = apply_typed_changes(
            read_table_changes_typed(spark, d, 0), ["k", "v", "day"]
        )
        head = read_keyed_table(spark, d)
        assert sorted((r.k, r.v) for r in replica.collect()) == sorted(
            (r.k, r.v) for r in head.collect()
        )

    def test_compaction_data_change_false_emits_nothing(
        self, spark, tmp_path
    ):
        """Delta's dataChange=false (VERDICT r10 #1 second half): a
        compaction (and a tombstone materialization) provably restates
        rows — both change feeds skip the commit entirely instead of
        emitting no-op pairs, and the CDC fold over the whole history
        still equals the head."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            apply_typed_changes,
            compact_partition_table,
            current_commit,
            materialize_tombstones,
            read_keyed_table,
            read_table_changes,
            read_table_changes_typed,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        # fragment one partition across several appends
        for lo in (0, 5, 10):
            append_partition_transaction(
                spark, d, "day", self._batch(spark, lo, lo + 5, "a"),
                stats_cols=["k"],
            )
        tombstone_keys(
            spark, d, "k", spark.createDataFrame([(1,)], "k long")
        )
        assert compact_partition_table(
            spark, d, max_files_per_partition=2
        ) == ["day=a"]
        v_compact = current_commit(d)["version"]
        assert current_commit(d).get("data_change") is False
        materialize_tombstones(spark, d)
        v_mat = current_commit(d)["version"]
        # neither feed emits anything for the two maintenance commits
        assert read_table_changes(spark, d, v_compact - 1, v_mat) is None
        typed = read_table_changes_typed(spark, d, v_compact - 1, v_mat)
        assert typed is None
        # the full-history CDC fold is unaffected by the skips
        feed = read_table_changes_typed(spark, d, 0)
        replica = apply_typed_changes(feed, ["k", "v", "day"])
        head = read_keyed_table(spark, d)
        assert sorted((r.k, r.v) for r in replica.collect()) == sorted(
            (r.k, r.v) for r in head.collect()
        )

    def test_merge_on_schema_evolved_table_with_pruning(
        self, spark, tmp_path
    ):
        """r10 review #1: the target struct is the FULL table schema,
        but stats pruning may drop every partition carrying an evolved
        column — the pruned base must pad it as a typed NULL instead
        of failing to resolve."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)  # a: 0-4, b: 10-14, c: 20-24 (stats on k)
        # evolved column 'tag' exists ONLY in partition c's generation
        append_partition_transaction(
            spark, d, "day",
            self._batch(spark, 25, 27, "c").withColumn("tag", F.lit("zz")),
            stats_cols=["k"],
        )
        # source keys 3..4 prune c (k >= 20 there) — the scanned base
        # has no 'tag' column
        m = merge_into_table(
            spark, d, self._src(spark, 3, 5), ["k"],
            when_matched_update={"v": "s.nv"},
        )
        assert m["updated"] == 2
        got = read_keyed_table(spark, d)
        assert got.filter("k = 3").collect()[0].v == 300.0
        assert got.filter("k = 3").collect()[0].tag is None
        assert got.filter("k = 25").collect()[0].tag == "zz"

    def test_update_to_null_partition_raises_cleanly(self, spark, tmp_path):
        """r10 review #5: an UPDATE nulling the partition column gets
        the same clean raise as the insert path — not an opaque
        TypeError from the driver rollup."""
        import pytest

        from nshm2022db_spark.streaming.sinks import merge_into_table

        d = str(tmp_path / "t")
        self._seed(spark, d)
        with pytest.raises(Exception, match="NULL partition column"):
            merge_into_table(
                spark, d, self._src(spark, 3, 4), ["k"],
                when_matched_update={"day": "CAST(NULL AS STRING)"},
            )

    def test_no_double_delete_when_key_spans_rewritten_partition(
        self, spark, tmp_path
    ):
        """r10 review #2: key k has rows in TWO partitions; a merge
        matched-deletes k (one partition delete-only -> tombstoned,
        the other rewritten for an unrelated update, k dropped
        in-place). The typed feed must emit exactly one delete image
        per physical row — the dv key-diff must not re-emit the
        rewritten partition's row the pair already covered."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            merge_into_table,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(
            spark, d, "day",
            self._batch(spark, 7, 9, "a").union(self._batch(spark, 7, 12, "b")),
            stats_cols=["k"],
        )
        # k=7 lives in a AND b; delete k=7 everywhere, update k=10 (b)
        m = merge_into_table(
            spark, d,
            spark.createDataFrame([(7, 0.0), (10, 999.0)], "k long, nv double"),
            ["k"],
            when_matched_update={"v": "s.nv"},
            when_matched_update_condition="s.nv > 100",
            when_matched_delete=True,
        )
        # per-ROW actions: k=7's two rows (a, b) both delete, k=10
        # updates
        assert (m["updated"], m["deleted"]) == (1, 2)
        rows = read_table_changes_typed(spark, d, 1).collect()
        dels = [(r.k, r.day) for r in rows if r._change_type == "delete"]
        assert sorted(dels).count((7, "b")) == 1  # exactly once
        assert sorted(dels).count((7, "a")) == 1

    def test_evolve_schema_adds_source_columns(self, spark, tmp_path):
        """Delta's MERGE schema auto-merge: with evolve_schema the
        source-only column joins the target schema (SET can assign it,
        carried rows read NULL); without it, output schema unchanged."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        merge_into_table(
            spark, d, self._src(spark, 3, 5), ["k"],
            when_matched_update={"nv": "s.nv"},
        )
        assert "nv" not in read_keyed_table(spark, d).columns
        merge_into_table(
            spark, d, self._src(spark, 3, 5), ["k"],
            when_matched_update={"nv": "s.nv"},
            evolve_schema=True,
        )
        got = read_keyed_table(spark, d)
        assert "nv" in got.columns
        assert got.filter("k = 3").collect()[0].nv == 300.0
        assert got.filter("k = 0").collect()[0].nv is None  # carried
        # untouched partitions' old files read the column as NULL
        assert got.filter("day = 'c'").collect()[0].nv is None
        # inserting through evolution works too (insert=True includes
        # the evolved column by name)
        merge_into_table(
            spark, d,
            self._src(spark, 60, 61).withColumn("v", F.lit(1.0))
            .withColumn("day", F.lit("b")),
            ["k"],
            when_not_matched_insert=True,
            evolve_schema=True,
        )
        row = read_keyed_table(spark, d).filter("k = 60").collect()[0]
        assert (row.v, row.nv, row.day) == (1.0, 6000.0, "b")

    def test_merge_stream_sink_applies_and_replays_idempotently(
        self, spark, tmp_path
    ):
        """merge_stream_to_table: per-batch conditional merge with
        batch-id idempotence — a restart from the same checkpoint (and
        a replayed batch) must not double-apply."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_stream_to_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)  # a: 0-4, b: 10-14, c: 20-24
        src_dir = str(tmp_path / "src")
        feed = spark.createDataFrame(
            [(3, "delete", 0.0), (4, "upsert", 77.0),
             (10, "upsert", 88.0), (21, "delete", 0.0)],
            "k long, op string, nv double",
        )
        for i in range(2):  # two disjoint-key files -> two batches
            feed.filter(F.col("k") % 2 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src_dir)
        ckpt = str(tmp_path / "ckpt")

        def run():
            stream = spark.readStream.schema(
                "k long, op string, nv double"
            ).option("maxFilesPerTrigger", 1).parquet(src_dir)
            q = merge_stream_to_table(
                stream, d, ckpt, ["k"],
                when_matched_update={"v": "s.nv"},
                when_matched_update_condition="s.op = 'upsert'",
                when_matched_delete="s.op = 'delete'",
            )
            q.awaitTermination()

        run()
        v_after = current_commit(d)["version"]
        got = {(r.k, r.v) for r in read_keyed_table(spark, d).collect()}
        assert (4, 77.0) in got and (10, 88.0) in got
        assert not any(k in (3, 21) for k, _ in got)
        # restart from the same checkpoint: nothing new, no new commits
        run()
        assert current_commit(d)["version"] == v_after
        assert {
            (r.k, r.v) for r in read_keyed_table(spark, d).collect()
        } == got

    def test_merge_stream_reduce_order_col(self, spark, tmp_path):
        """r10 sweep: the per-batch latest-per-key reduce — a CDC feed
        carrying several changes for one key in one batch must apply
        only the NEWEST row (tiebreak deterministic), not raise on
        multiple matches."""
        from nshm2022db_spark.streaming.sinks import (
            merge_stream_to_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        src_dir = str(tmp_path / "src")
        # one batch, three changes for k=3 (latest seq wins) plus an
        # equal-seq pair for k=10 (tiebreak on nv: greatest wins)
        spark.createDataFrame(
            [(3, 1, 10.0), (3, 3, 30.0), (3, 2, 20.0),
             (10, 5, 51.0), (10, 5, 52.0)],
            "k long, seq long, nv double",
        ).coalesce(1).write.parquet(src_dir)
        stream = spark.readStream.schema(
            "k long, seq long, nv double"
        ).parquet(src_dir)
        q = merge_stream_to_table(
            stream, d, str(tmp_path / "ckpt"), ["k"],
            reduce_order_col="seq",
            reduce_tiebreak=["nv"],
            when_matched_update={"v": "s.nv"},
        )
        q.awaitTermination()
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[3] == 30.0
        assert got[10] == 52.0

    def test_clause_list_shape_errors(self, spark, tmp_path):
        """r10 sweep: malformed clause lists raise ValueError with the
        expected-shape message (not IndexError), and a bare clause
        tuple is accepted as a single-clause list."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        with pytest.raises(ValueError, match="list of"):
            merge_into_table(
                spark, d, self._src(spark, 0, 1), ["k"],
                when_matched=[()],
            )
        # bare tuple = single-clause list (the easy API mistake)
        merge_into_table(
            spark, d, self._src(spark, 1, 2), ["k"],
            when_matched=("update", None, {"v": "s.nv"}),
        )
        assert (
            read_keyed_table(spark, d).filter("k = 1").collect()[0].v == 100.0
        )

    def test_ordered_clause_list_first_match_wins(self, spark, tmp_path):
        """Delta's general form: N ordered conditional clauses; the
        FIRST satisfied clause claims the row, each update clause
        keeps its own SET map, and mixing list + keyword sugar
        raises."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        m = merge_into_table(
            spark, d, self._src(spark, 0, 5), ["k"],
            when_matched=[
                # k=0 (v=0): first clause
                ("update", "t.v <= 0", {"v": "-1.0"}),
                # k=1 (v=2): second clause (also true for k=0 — must
                # NOT fire there)
                ("update", "t.v <= 2", {"v": "s.nv + t.v"}),
                # k=2 (v=4): delete
                ("delete", "t.v <= 4"),
                # k=3, 4: unconditional fallback update
                ("update", None, {"v": "99.0"}),
            ],
        )
        assert (m["updated"], m["deleted"]) == (4, 1)
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[0] == -1.0
        assert got[1] == 102.0  # s.nv(100) + t.v(2)
        assert 2 not in got
        assert got[3] == got[4] == 99.0
        # by-source list form too
        m2 = merge_into_table(
            spark, d, self._src(spark, 0, 1), ["k"],
            when_matched_update={"v": "t.v"},
            when_not_matched_by_source=[
                ("update", "t.day = 'b'", {"v": "0.5"}),
                ("delete", "t.day = 'c'"),
            ],
        )
        got2 = read_keyed_table(spark, d)
        assert got2.filter("day = 'c'").count() == 0
        assert {r.v for r in got2.filter("day = 'b'").collect()} == {0.5}
        assert m2["deleted"] == 5
        with pytest.raises(ValueError, match="not both"):
            merge_into_table(
                spark, d, self._src(spark, 0, 1), ["k"],
                when_matched_update={"v": "s.nv"},
                when_matched=[("delete", None)],
            )

    def test_concurrent_merges_serialize(self, spark, tmp_path):
        """Two merges racing on DISJOINT keys: the CAS serializes them
        (the loser re-runs against the winner's head) and both apply —
        no lost update regardless of commit order."""
        import threading

        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        errs: list[Exception] = []

        def worker(lo: int, hi: int):
            try:
                merge_into_table(
                    spark, d, self._src(spark, lo, hi), ["k"],
                    when_matched_update={"v": "s.nv"},
                )
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ts = [
            threading.Thread(target=worker, args=(0, 3)),
            threading.Thread(target=worker, args=(10, 13)),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs
        assert current_commit(d)["version"] == 3  # seed + two merges
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[0] == 0.0 and got[1] == 100.0 and got[2] == 200.0
        assert got[10] == 1000.0 and got[12] == 1200.0
        assert got[20] == 40.0  # untouched partition intact

    def test_merge_requires_clause_and_commits(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import merge_into_table

        d = str(tmp_path / "t")
        with pytest.raises(ValueError, match="at least one clause"):
            merge_into_table(spark, d, self._src(spark, 0, 1), ["k"])
        with pytest.raises(ValueError, match="no commits"):
            merge_into_table(
                spark, d, self._src(spark, 0, 1), ["k"],
                when_matched_update={"v": "s.nv"},
            )

    def test_insert_into_scanned_partition_extends_not_rewrites(
        self, spark, tmp_path
    ):
        """VERDICT r10 #3: a new key landing in a scanned but otherwise
        unchanged partition appends a generation holding ONLY the new
        rows — the old generation dir is carried in the entry's dir
        list, not rewritten (Delta's pure-insert append economics)."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = current_commit(d)["partitions"]["day=a"]
        # k=2 matches (no satisfied clause -> carry, but forces 'a'
        # into the scan set); k=100 is new and inserts into 'a'
        src = spark.createDataFrame(
            [(2, 0.0), (100, 999.0)], "k long, nv double"
        )
        m = merge_into_table(
            spark, d, src, ["k"],
            when_matched_update={"v": "s.nv"},
            when_matched_update_condition="s.nv > 1e9",  # never fires
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'a'"},
        )
        assert (m["updated"], m["inserted"]) == (0, 1)
        cur = current_commit(d)
        entry = cur["partitions"]["day=a"]
        # generation list: the pre-merge dir carried byte-identical,
        # plus exactly one appended generation
        assert isinstance(entry, list) and len(entry) == 2
        assert entry[0] == before and entry[1] != before
        # the appended generation holds ONLY the inserted row
        new_gen = spark.read.parquet(
            str(tmp_path / "t" / entry[1] / "day=a")
        )
        assert new_gen.count() == 1 and new_gen.collect()[0].k == 100
        got = read_keyed_table(spark, d).filter("day = 'a'")
        assert got.count() == 6  # 5 carried + 1 inserted

    def test_insert_plus_update_in_scanned_partition_rewrites(
        self, spark, tmp_path
    ):
        """The extend shortcut applies ONLY to insert-only partitions:
        an in-place update in the same partition still rewrites it
        (and the insert rides the rewrite)."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = current_commit(d)["partitions"]["day=a"]
        src = spark.createDataFrame(
            [(2, 777.0), (100, 999.0)], "k long, nv double"
        )
        merge_into_table(
            spark, d, src, ["k"],
            when_matched_update={"v": "s.nv"},
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'a'"},
        )
        entry = current_commit(d)["partitions"]["day=a"]
        assert isinstance(entry, str) and entry != before  # rewritten
        got = {
            (r.k, r.v)
            for r in read_keyed_table(spark, d).filter("day = 'a'").collect()
        }
        assert (2, 777.0) in got and (100, 999.0) in got and len(got) == 6

    def test_empty_insert_dict_rejected(self, spark, tmp_path):
        """ADVICE r10 low: {} used to count as a truthy insert clause
        with an empty SET map, staging all-NULL rows that only failed
        later via the opaque NULL-partition-column raise_error."""
        import pytest

        from nshm2022db_spark.streaming.sinks import merge_into_table

        d = str(tmp_path / "t")
        self._seed(spark, d)
        with pytest.raises(ValueError, match="all-NULL"):
            merge_into_table(
                spark, d, self._src(spark, 50, 51), ["k"],
                when_not_matched_insert={},
            )

    def test_row_divergent_delete_forces_rewrite(self, spark, tmp_path):
        """ADVICE r10 high: a key with duplicate target rows and a
        row-divergent delete condition (one row deletes, the other
        carries elsewhere) must NOT take the key-tombstone path — the
        key-wide DV would hide the surviving row everywhere. The
        delete-only partition rewrites instead."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        dup = spark.createDataFrame(
            [(30, 30.0, "d"), (30, 100.0, "e")], "k long, v double, day string"
        )
        append_partition_transaction(spark, d, "day", dup, stats_cols=["k"])
        m = merge_into_table(
            spark, d,
            spark.createDataFrame([(30,)], "k long").withColumn(
                "nv", F.lit(0.0)
            ),
            ["k"],
            when_matched_delete="t.v < 50",
        )
        assert m["deleted"] == 1
        cur = current_commit(d)
        # no key tombstone was taken (it would hide the v=100 row too)
        assert not cur.get("dv")
        assert "day=d" not in cur["partitions"]  # fully deleted, dropped
        got = read_keyed_table(spark, d).filter("k = 30").collect()
        assert [(r.v, r.day) for r in got] == [(100.0, "e")]

    def test_whole_key_delete_still_tombstones(self, spark, tmp_path):
        """The guard above must not cost the DV economics when the
        delete IS whole-key: every row of the key deletes, so the
        delete-only partition still takes a tombstone, not a rewrite."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = dict(current_commit(d)["partitions"])
        m = merge_into_table(
            spark, d, self._src(spark, 0, 2), ["k"],
            when_matched_delete=True,
        )
        assert m["deleted"] == 2
        cur = current_commit(d)
        assert cur.get("dv")  # DV path taken
        assert cur["partitions"]["day=a"] == before["day=a"]  # not rewritten

    def test_null_key_by_source_delete_rewrites(self, spark, tmp_path):
        """ADVICE r10 medium: a BY SOURCE delete can select NULL-key
        target rows; a NULL key in a DV parquet hides nothing (the
        anti-join never matches NULL) and poisons sorted-key-set
        consumers. The partition must rewrite so the row actually
        dies, and no NULL ever lands in a dv file."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        nrow = spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS k, 1.0 AS v, 'z' AS day"
        )
        append_partition_transaction(spark, d, "day", nrow, stats_cols=["k"])
        m = merge_into_table(
            spark, d, self._src(spark, 0, 1), ["k"],
            when_matched_update={"v": "s.nv"},
            when_not_matched_by_source_delete="t.day = 'z'",
        )
        assert m["deleted"] == 1
        cur = current_commit(d)
        assert not cur.get("dv")  # no NULL tombstone was written
        assert "day=z" not in cur["partitions"]
        assert read_keyed_table(spark, d).filter("day = 'z'").count() == 0

    def test_bloom_probe_prunes_scattered_source_keys(
        self, spark, tmp_path, monkeypatch
    ):
        """VERDICT r10 stretch #7: partitions hold INTERLEAVED key
        ranges (every min/max spans the whole domain — range stats
        prune nothing), but each key lives in exactly one partition.
        A small scattered source must scan ONLY the partitions whose
        Bloom bitmaps may contain a source key; the result is
        unchanged."""
        import nshm2022db_spark.streaming.sinks as sinks
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        days = ["a", "b", "c"]
        rows = [
            (k, float(k), days[k % 3]) for k in range(30)
        ]  # every partition spans k in [0+r, 27+r]
        append_partition_transaction(
            spark, d,
            "day",
            spark.createDataFrame(rows, "k long, v double, day string"),
            stats_cols=["k"], bloom_cols=["k"],
        )
        seen: list[set] = []
        orig = sinks._read_partition_map

        def spy(spark_, table_dir_, manifest, prune=None):
            seen.append(set(manifest.get("partitions", {})))
            return orig(spark_, table_dir_, manifest, prune)

        monkeypatch.setattr(sinks, "_read_partition_map", spy)
        m = merge_into_table(
            spark, d,
            spark.createDataFrame([(3, 999.0), (6, 666.0)], "k long, nv double"),
            ["k"],
            when_matched_update={"v": "s.nv"},
        )
        assert m["updated"] == 2
        # the scan read covered ONLY day=a (keys 3, 6 are both % 3 == 0);
        # the full-schema resolve still sees all entries
        assert {"day=a"} in seen
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[3] == 999.0 and got[6] == 666.0 and got[4] == 4.0

    def test_composite_key_merge_delete_uses_dv(self, spark, tmp_path):
        """VERDICT r10 #2: composite natural keys get the full DV
        economics — a delete-only partition under a multi-column merge
        key is tombstoned with key TUPLES (not rewritten), the typed
        feed reconstructs its delete images, the CDC fold still equals
        the head, and a re-insert consolidates the tuple DV."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            apply_typed_changes,
            current_commit,
            merge_into_table,
            read_keyed_table,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        rows = [
            (g, k, float(k), day)
            for day, g in (("a", "x"), ("b", "y"))
            for k in range(5)
        ]
        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                rows, "g string, k long, v double, day string"
            ),
            stats_cols=["k"],
        )
        before = dict(current_commit(d)["partitions"])
        src = spark.createDataFrame(
            [("x", k) for k in range(5)], "g string, k long"
        )
        m = merge_into_table(
            spark, d, src, ["g", "k"], when_matched_delete=True
        )
        assert m["deleted"] == 5
        cur = current_commit(d)
        assert cur.get("dv") and cur["dv_key"] == ["g", "k"]
        # the delete-only partition took the DV, not a rewrite
        assert cur["partitions"]["day=a"] == before["day=a"]
        got = read_keyed_table(spark, d)
        assert got.filter("day = 'a'").count() == 0
        assert got.filter("day = 'b'").count() == 5
        # typed feed over the tuple DV; CDC fold == head
        feed = read_table_changes_typed(spark, d, from_version=0)
        replica = apply_typed_changes(feed, ["g", "k", "v", "day"])
        assert sorted((r.g, r.k, r.v, r.day) for r in replica.collect()) == (
            sorted((r.g, r.k, r.v, r.day) for r in got.collect())
        )
        # re-insert one tuple: consolidation clears it, stale row purged
        m2 = merge_into_table(
            spark, d,
            spark.createDataFrame(
                [("x", 2, 99.0, "a")], "g string, k long, v double, day string"
            ),
            ["g", "k"],
            when_not_matched_insert=True,
        )
        assert m2["inserted"] == 1
        got2 = read_keyed_table(spark, d).filter("day = 'a'").collect()
        assert [(r.g, r.k, r.v) for r in got2] == [("x", 2, 99.0)]

    def test_composite_key_tombstone_keys_and_typed_feed(
        self, spark, tmp_path
    ):
        """tombstone_keys with a key-column LIST: the dv file carries
        tuples, reads anti-join on both columns (same k, different g
        survives), and the typed feed's delete images match."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            read_table_changes_typed,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        rows = [
            (g, k, float(k), "a") for g in ("x", "y") for k in range(4)
        ]
        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                rows, "g string, k long, v double, day string"
            ),
            stats_cols=["k"],
        )
        tombstone_keys(
            spark, d, ["g", "k"],
            spark.createDataFrame([("x", 1), ("x", 3)], "g string, k long"),
        )
        got = read_keyed_table(spark, d)
        assert got.count() == 6
        # same k under the other g survives — tuple, not column, match
        assert got.filter("k = 1").collect()[0].g == "y"
        feed = read_table_changes_typed(spark, d, from_version=1)
        dels = {
            (r.g, r.k)
            for r in feed.filter("_change_type = 'delete'").collect()
        }
        assert dels == {("x", 1), ("x", 3)}

    def test_tombstone_keys_drops_null_keys(self, spark, tmp_path):
        """tombstone_keys filters NULLs out of the dv key file: a NULL
        tombstone hides nothing by anti-join semantics, and recording
        it would break the typed stream reader's sorted key sets."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            read_keyed_table,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        tombstone_keys(
            spark, d, "k",
            spark.sql(
                "SELECT CAST(NULL AS BIGINT) AS k UNION ALL SELECT 3"
            ),
        )
        cur = current_commit(d)
        dv = spark.read.parquet(
            *[str(tmp_path / "t" / x) for x in cur["dv"]]
        ).collect()
        assert [r.k for r in dv] == [3]
        assert read_keyed_table(spark, d).filter("k = 3").count() == 0


class TestUpdateTable:
    """Standalone UPDATE ... SET ... WHERE (r11) — the DML triad's
    third leg: partition economics, moves, CDC pairs, NULL-predicate
    semantics, replay idempotence, and the typed feed over op=update."""

    def _seed(self, spark, d):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
        )

        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                [(k, float(k), "a" if k < 5 else "b") for k in range(10)],
                "k long, v double, day string",
            ),
            stats_cols=["k"],
        )

    def test_update_in_place_and_economics(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            read_keyed_table,
            update_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = dict(current_commit(d)["partitions"])
        m = update_table(
            spark, d, {"v": "v * 10"}, where="k % 2 = 0 AND day = 'a'",
            stats_cols=["k"],
        )
        assert m["updated"] == 3 and m["carried"] == 7
        cur = current_commit(d)
        assert cur["op"] == "update" and cur.get("cdc")
        # only the partition holding matched rows rewrote
        assert cur["partitions"]["day=b"] == before["day=b"]
        assert cur["partitions"]["day=a"] != before["day=a"]
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[0] == 0.0 and got[2] == 20.0 and got[4] == 40.0
        assert got[1] == 1.0 and got[6] == 6.0

    def test_partition_move_and_extend(self, spark, tmp_path):
        """A partition-moving update rewrites the departure side and
        creates/extends the arrival; with prune, untouched partitions
        are never scanned."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            read_keyed_table,
            update_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = dict(current_commit(d)["partitions"])
        m = update_table(
            spark, d, {"day": "'hot'", "v": "v + 100"}, where="k IN (1, 7)",
            prune={"k": (1, 7)}, stats_cols=["k"],
        )
        assert m["updated"] == 2
        cur = current_commit(d)
        assert "day=hot" in cur["partitions"]
        got = read_keyed_table(spark, d)
        assert {
            (r.k, r.v) for r in got.filter("day = 'hot'").collect()
        } == {(1, 101.0), (7, 107.0)}
        assert got.count() == 10
        # second move INTO the now-existing hot partition from a pruned
        # scan: hot's recorded stats (k in [1, 7]) disprove k=9, so it
        # is unscanned and the arrival EXTENDS it with just the row
        m2 = update_table(
            spark, d, {"day": "'hot'"}, where="k = 9", prune={"k": (9, 9)}
        )
        assert m2["updated"] == 1
        entry = current_commit(d)["partitions"]["day=hot"]
        assert isinstance(entry, list) and len(entry) == 2
        assert read_keyed_table(spark, d).filter("day = 'hot'").count() == 3
        # day=a held no matched rows in either update: mapping carried
        assert current_commit(d)["partitions"]["day=a"] == (
            cur["partitions"]["day=a"]
        )
        assert before["day=a"] != cur["partitions"]["day=a"]  # 1st moved k=1

    def test_null_predicate_not_matched_and_null_pcol_raises(
        self, spark, tmp_path
    ):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            read_keyed_table,
            update_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        # NULL predicate result = not matched (Delta's rule)
        m = update_table(
            spark, d, {"v": "-1.0"},
            where="CASE WHEN k < 3 THEN NULL ELSE k = 3 END",
        )
        assert m["updated"] == 1
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[3] == -1.0
        assert got[0] == 0.0 and got[1] == 1.0 and got[2] == 2.0
        with pytest.raises(Exception, match="NULL partition column"):
            update_table(
                spark, d, {"day": "CAST(NULL AS STRING)"}, where="k = 4"
            )
        with pytest.raises(ValueError, match="non-empty SET"):
            update_table(spark, d, {})

    def test_typed_feed_and_replay(self, spark, tmp_path):
        """op=update commits emit exact pre/post pairs from the CDC
        sidecar (batch and stream), the CDC fold equals the head, and
        a replayed batch id no-ops."""
        from nshm2022db_spark.streaming.sinks import (
            apply_typed_changes,
            current_commit,
            read_keyed_table,
            read_table_changes_typed,
            update_table,
        )
        from nshm2022db_spark.streaming.table_source import (
            register_commitlog_source,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        update_table(
            spark, d, {"v": "v + 0.5"}, where="k >= 8", batch_id=7
        )
        rows = read_table_changes_typed(spark, d, 1).collect()
        by = {}
        for r in rows:
            by.setdefault(r._change_type, set()).add((r.k, r.v))
        assert by == {
            "update_preimage": {(8, 8.0), (9, 9.0)},
            "update_postimage": {(8, 8.5), (9, 9.5)},
        }
        replica = apply_typed_changes(
            read_table_changes_typed(spark, d, 0), ["k", "v", "day"]
        )
        head = read_keyed_table(spark, d)
        assert sorted((r.k, r.v) for r in replica.collect()) == sorted(
            (r.k, r.v) for r in head.collect()
        )
        # stream equals batch over the update commit
        register_commitlog_source(spark)
        q = (
            spark.readStream.format("commitlog")
            .option("path", d)
            .option("changeTypes", "true")
            .load()
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("upd_cdf")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        stream_rows = spark.sql(
            "select k, v, _commit_version, _change_type from upd_cdf"
        ).collect()
        spark.catalog.dropTempView("upd_cdf")
        batch_rows = read_table_changes_typed(spark, d, 0).select(
            "k", "v", "_commit_version", "_change_type"
        ).collect()
        key = lambda rs: sorted(
            (r.k, r.v, r._commit_version, r._change_type) for r in rs
        )
        assert key(stream_rows) == key(batch_rows)
        # replay no-ops
        v = current_commit(d)["version"]
        m = update_table(spark, d, {"v": "v + 0.5"}, where="k >= 8", batch_id=7)
        assert m.get("replayed") and current_commit(d)["version"] == v

    def test_no_match_publishes_nothing(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            update_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        v = current_commit(d)["version"]
        m = update_table(spark, d, {"v": "0.0"}, where="k > 1000")
        assert m["updated"] == 0 and current_commit(d)["version"] == v

    def test_eq_prune_spec_and_bloom(self, spark, tmp_path):
        """r11 review: the ('eq', v) prune form must go through
        _split_prune (stats degenerate range + Bloom probes), not be
        mis-parsed as (lo, hi) bounds — and it must still UPDATE the
        matching row."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            update_table,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                [(k, float(k), "a" if k % 2 == 0 else "b") for k in range(8)],
                "k long, v double, day string",
            ),
            stats_cols=["k"], bloom_cols=["k"],
        )
        m = update_table(
            spark, d, {"v": "777.0"}, where="k = 3",
            prune={"k": ("eq", 3)},
        )
        assert m["updated"] == 1
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[3] == 777.0 and got[2] == 2.0

    def test_update_refuses_set_on_dv_key_column(self, spark, tmp_path):
        """r11 review: assigning a tombstoned key column could write a
        value the carried deletion vector HIDES — refuse up front."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            tombstone_keys,
            update_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        tombstone_keys(
            spark, d, "k", spark.createDataFrame([(5,)], "k long")
        )
        with pytest.raises(ValueError, match="deletion vector"):
            update_table(spark, d, {"k": "5"}, where="k = 6")
        # updates NOT touching the key column stay fine on a dv table
        m = update_table(spark, d, {"v": "v + 1"}, where="k = 6")
        assert m["updated"] == 1


class TestDeleteTable:
    """First-class predicate DELETE (r12 — VERDICT r11 #1): partition
    economics, fully-deleted entry drop, NULL-predicate semantics, CDC
    delete-image sidecar through both typed feeds, the map-diff
    fallback, dv interaction, replay idempotence, and rebase
    transparency."""

    def _seed(self, spark, d, **kw):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
        )

        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                [(k, float(k), "a" if k < 5 else "b") for k in range(10)],
                "k long, v double, day string",
            ),
            stats_cols=["k"], **kw,
        )

    def test_economics_and_full_partition_drop(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            delete_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = dict(current_commit(d)["partitions"])
        m = delete_table(spark, d, where="k % 2 = 0 AND day = 'a'")
        assert m["deleted"] == 3 and m["carried"] == 7
        cur = current_commit(d)
        assert cur["op"] == "delete" and cur.get("cdc")
        # only the partition holding matched rows rewrote; day=b's
        # mapping (and files) carried byte-identical
        assert cur["partitions"]["day=b"] == before["day=b"]
        assert cur["partitions"]["day=a"] != before["day=a"]
        assert sorted(
            r.k for r in read_keyed_table(spark, d).collect()
        ) == [1, 3, 5, 6, 7, 8, 9]
        # a partition whose rows ALL match simply leaves the manifest
        m2 = delete_table(spark, d, where="day = 'a'",
                          partition_values=["a"])
        assert m2["deleted"] == 2 and m2["carried"] == 0
        cur2 = current_commit(d)
        assert "day=a" not in cur2["partitions"]
        assert cur2["partitions"]["day=b"] == before["day=b"]
        assert read_keyed_table(spark, d).count() == 5
        # ...but stays readable as history
        assert read_keyed_table(
            spark, d, version=cur["version"]
        ).count() == 7

    def test_null_predicate_survives_and_where_required(
        self, spark, tmp_path
    ):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            delete_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        # NULL predicate result = not matched → the row SURVIVES
        m = delete_table(
            spark, d, where="CASE WHEN k < 3 THEN NULL ELSE k = 3 END"
        )
        assert m["deleted"] == 1
        assert sorted(
            r.k for r in read_keyed_table(spark, d).collect()
        ) == [0, 1, 2, 4, 5, 6, 7, 8, 9]
        with pytest.raises(ValueError, match="explicit WHERE"):
            delete_table(spark, d, where=None)

    def test_prune_eq_bloom_and_no_match_noop(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            delete_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d, bloom_cols=["k"])
        m = delete_table(
            spark, d, where="k = 7", prune={"k": ("eq", 7)}
        )
        assert m["deleted"] == 1
        # day=a's stats (k in [0,4]) disprove the probe: never scanned,
        # so it is not even counted as carried
        assert m["carried"] == 4
        v = current_commit(d)["version"]
        m2 = delete_table(spark, d, where="k > 1000")
        assert m2["deleted"] == 0 and current_commit(d)["version"] == v

    def test_typed_feeds_replay_and_fold(self, spark, tmp_path):
        """op=delete commits serve the sidecar's exact delete images
        (batch and stream), the CDC fold equals the head, and a
        replayed batch id no-ops."""
        from nshm2022db_spark.streaming.sinks import (
            apply_typed_changes,
            current_commit,
            delete_table,
            read_keyed_table,
            read_table_changes_typed,
        )
        from nshm2022db_spark.streaming.table_source import (
            register_commitlog_source,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        delete_table(spark, d, where="k IN (2, 8)", batch_id=9)
        rows = read_table_changes_typed(spark, d, 1).collect()
        assert {(r.k, r.v, r._change_type) for r in rows} == {
            (2, 2.0, "delete"), (8, 8.0, "delete"),
        }
        replica = apply_typed_changes(
            read_table_changes_typed(spark, d, 0), ["k", "v", "day"]
        )
        head = read_keyed_table(spark, d)
        assert sorted((r.k, r.v) for r in replica.collect()) == sorted(
            (r.k, r.v) for r in head.collect()
        )
        # stream equals batch over the delete commit
        register_commitlog_source(spark)
        q = (
            spark.readStream.format("commitlog")
            .option("path", d)
            .option("changeTypes", "true")
            .load()
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("del_cdf")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        stream_rows = spark.sql(
            "select k, v, _commit_version, _change_type from del_cdf"
        ).collect()
        spark.catalog.dropTempView("del_cdf")
        batch_rows = read_table_changes_typed(spark, d, 0).select(
            "k", "v", "_commit_version", "_change_type"
        ).collect()
        key = lambda rs: sorted(
            (r.k, r.v, r._commit_version, r._change_type) for r in rs
        )
        assert key(stream_rows) == key(batch_rows)
        # replay no-ops
        v = current_commit(d)["version"]
        m = delete_table(spark, d, where="k IN (2, 8)", batch_id=9)
        assert m.get("replayed") and current_commit(d)["version"] == v

    def test_change_data_false_falls_back_to_pair_images(
        self, spark, tmp_path
    ):
        from nshm2022db_spark.streaming.sinks import (
            apply_typed_changes,
            current_commit,
            delete_table,
            read_keyed_table,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        delete_table(spark, d, where="k = 6", change_data=False)
        assert "cdc" not in current_commit(d)
        rows = read_table_changes_typed(spark, d, 1).collect()
        by = {}
        for r in rows:
            by.setdefault(r._change_type, set()).add(r.k)
        # a rewrite diff: day=b's survivors restate as inserts, its
        # prior contents as deletes; day=a contributes nothing
        assert by == {
            "insert": {5, 7, 8, 9},
            "delete": {5, 6, 7, 8, 9},
        }
        replica = apply_typed_changes(
            read_table_changes_typed(spark, d, 0), ["k", "v", "day"]
        )
        assert sorted(r.k for r in replica.collect()) == sorted(
            r.k for r in read_keyed_table(spark, d).collect()
        )

    def test_dv_hidden_rows_never_delete(self, spark, tmp_path):
        """The base is read THROUGH the tombstones: a dv-hidden row is
        not counted, emits no delete image, and the rewrite physically
        purges it (state-identical, dv carried forward)."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            delete_table,
            read_keyed_table,
            read_table_changes_typed,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        tombstone_keys(
            spark, d, "k", spark.createDataFrame([(6,)], "k long")
        )
        m = delete_table(spark, d, where="k IN (6, 7)")
        assert m["deleted"] == 1  # k=6 is hidden — only k=7 matches
        cur = current_commit(d)
        assert cur.get("dv")  # carried forward
        imgs = read_table_changes_typed(spark, d, 2).collect()
        assert {(r.k, r._change_type) for r in imgs} == {(7, "delete")}
        got = sorted(r.k for r in read_keyed_table(spark, d).collect())
        assert got == [0, 1, 2, 3, 4, 5, 8, 9]
        # the rewritten partition's files no longer hold k=6 physically
        stage = cur["partitions"]["day=b"]
        raw = spark.read.parquet(
            f"{d}/{stage if isinstance(stage, str) else stage[0]}/day=b"
        )
        assert sorted(r.k for r in raw.collect()) == [5, 8, 9]

    def test_rebase_transparency(self, spark, tmp_path):
        """A disjoint concurrent append rebases over a published
        predicate delete (map-diff disjointness); a key-tombstone
        delete trips the dv check instead."""
        from nshm2022db_spark.streaming.sinks import (
            _rebase_conflict,
            current_commit,
            delete_table,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        base = current_commit(d)
        delete_table(spark, d, where="k < 2 AND day = 'a'")
        head = current_commit(d)
        assert _rebase_conflict(d, base, head, {"day=c"}) is None
        assert _rebase_conflict(d, base, head, {"day=a"}) is not None
        tombstone_keys(
            spark, d, "k", spark.createDataFrame([(5,)], "k long")
        )
        head2 = current_commit(d)
        assert _rebase_conflict(d, base, head2, {"day=c"}) == "dv changed"


class TestZorderExpr:
    def test_four_columns_stay_below_sign_bit(self):
        """r10 review #6: with n columns the interleave must fit below
        BIGINT bit 63 (bit 63 flips sort order; >=64 wraps mod 64 in
        Java shifts) — per-dimension bits shrink as columns grow."""
        import re

        from nshm2022db_spark.streaming.sinks import _zorder_sort_expr

        for n in (2, 3, 4, 5):
            cols = [f"c{i}" for i in range(n)]
            expr = str(
                _zorder_sort_expr(cols, {c: (0, 1000) for c in cols})._jc
            )
            shifts = [int(s) for s in re.findall(r"<<\s*(\d+)", expr)]
            assert shifts and max(shifts) < 63, (n, max(shifts))


class TestBloomProbeFastPath:
    def test_values_fold_path_matches_job_path(self, spark):
        """r14: the VALUES-inline-table probe batch (plan-time folded,
        zero tasks) must produce bit-identical probe positions to the
        single-value local-relation job for every fold-safe type —
        including the strings the hex encoding exists for (quotes,
        backslashes, newlines, unicode) and numeric/bool keys."""
        from nshm2022db_spark.streaming.sinks import (
            _PROBE_CACHE,
            _bloom_probes,
            _bloom_probes_prefetch,
            _sql_probe_literal,
        )

        m, k = 2**14, 5
        vals = [
            "plain", "d'quote", 'a"b', "back\\slash", "new\nline",
            "tab\tsep", "ünïcode✓", "", 5, -(2**62), True, False,
            # 12345678.0: DECIMAL vs DOUBLE canonical strings diverge
            # ('12345678.0' vs '1.2345678E7') — pins the explicit
            # DOUBLE cast in _sql_probe_literal
            0.1, 1e300, 2.5, 12345678.0,
        ]
        # fast path fills the cache under each value's own type name
        _PROBE_CACHE.clear()
        _bloom_probes_prefetch(spark, vals, m, k, "string")
        fast = {
            (type(v).__name__, v): _PROBE_CACHE[
                (type(v).__name__, v, m, k, "string")
            ]
            for v in vals
        }
        # recompute each through the 1-row job path
        _PROBE_CACHE.clear()
        for v in vals:
            assert _bloom_probes(spark, v, m, k, "string") == fast[
                (type(v).__name__, v)
            ], repr(v)
        # exotic types (no fold-safe literal) fall back, still probe
        assert _sql_probe_literal(float("nan")) is None
        assert _sql_probe_literal(2**70) is None
        assert _sql_probe_literal(b"bytes") is None
        _PROBE_CACHE.clear()
        _bloom_probes_prefetch(spark, [2**70], m, k, "decimal(25,0)")
        # beyond-long ints can't ride the local-relation job either
        # (LongType overflow → NULL literal) — the conservative cache
        # entry is None: "cannot prune", never a false skip
        assert _PROBE_CACHE[("int", 2**70, m, k, "decimal(25,0)")] is None

    def test_signed_zero_probes_like_positive_zero(self, spark):
        """-0.0 = 0.0 in SQL equality, but their canonical strings
        differ — before the r14 normalization a 0.0 probe against a
        bitmap built over -0.0 rows falsely pruned the partition
        holding its match. Build-side and probe-side positions must
        now coincide for both zeros."""
        from pyspark.sql import functions as F

        from nshm2022db_spark.streaming.sinks import _bloom_position_cols

        row = spark.range(1).select(
            *[
                c.alias(f"n{i}")
                for i, c in enumerate(
                    _bloom_position_cols(F.lit(-0.0), 2**14, 5)
                )
            ],
            *[
                c.alias(f"p{i}")
                for i, c in enumerate(
                    _bloom_position_cols(F.lit(0.0), 2**14, 5)
                )
            ],
        ).first()
        assert [row[f"n{i}"] for i in range(5)] == [
            row[f"p{i}"] for i in range(5)
        ]


class TestBloomFormatMerge:
    def test_version_mismatched_append_drops_column_bloom(
        self, spark, tmp_path
    ):
        """An append OR-merging its fresh v2 bitmap into an entry whose
        persisted bitmap carries another (or no) format version must
        DROP that column's bloom rather than merge incompatible probe
        spaces — bloom-less is always safe, a mixed bitmap is not."""
        import json
        import os

        from nshm2022db_spark.streaming.sinks import (
            _COMMITS,
            append_partition_transaction,
            table_history,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}") for i in range(20)], "id long, k string"
        )
        append_partition_transaction(
            spark, t, "k", df, bloom_cols=["id"], bloom_bits=8192
        )
        # simulate a pre-v2 writer: strip the format stamp in the
        # newest manifest on disk
        log = os.path.join(t, _COMMITS)
        name = sorted(
            n for n in os.listdir(log)
            if n.endswith(".json") and not n.endswith(".checkpoint.json")
        )[-1]
        p = os.path.join(log, name)
        m = json.load(open(p))
        for specs in m["bloom"].values():
            for sp in specs.values():
                sp.pop("v", None)
        json.dump(m, open(p, "w"))
        # a v2 append onto the legacy entry: the merge must not OR the
        # two bitmaps; the touched column's bloom drops
        df2 = spark.createDataFrame(
            [(i, f"k{i % 2}") for i in range(20, 40)], "id long, k string"
        )
        append_partition_transaction(
            spark, t, "k", df2, bloom_cols=["id"], bloom_bits=8192
        )
        cur = table_history(t)[-1]
        for e in ("k=k0", "k=k1"):
            assert "id" not in cur.get("bloom", {}).get(e, {})


class TestManifestDirSchemas:
    """r16 #1 (VERDICT r15 #1): writers record the staged files' schema
    in the manifest (``dir_schemas``) at commit time, readers supply it
    instead of footer-scanning — and pre-feature manifests (no key)
    keep reading through the footer/inference fallback unchanged."""

    def test_commits_record_dir_schemas(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            committed_partition_transaction,
            table_history,
        )

        t = str(tmp_path / "t")
        rows = spark.createDataFrame(
            [(1, "a"), (2, "b")], "uid long, k string"
        )
        committed_partition_transaction(spark, t, "k", lambda base: rows)
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(3, "a")], "uid long, k string"),
        )
        v1, v2 = table_history(t)
        # every referenced data dir has a recorded schema of its FILES
        # (data columns only — partitionBy keeps `k` in dir names)
        for m in (v1, v2):
            ds = m["dir_schemas"]
            assert set(ds) == {m["dir"]} | {
                d
                for v in m["partitions"].values()
                for d in ([v] if isinstance(v, str) else v)
            }
            for sj in ds.values():
                assert [f["name"] for f in sj["fields"]] == ["uid"]
                assert all(f["nullable"] for f in sj["fields"])
        # v2 carries v1's entry forward untouched
        assert v1["dir_schemas"][v1["dir"]] == v2["dir_schemas"][v1["dir"]]

    def test_pre_feature_manifest_falls_back(self, spark, tmp_path):
        """Stripping dir_schemas from a committed manifest (an r15-era
        table) must leave the read identical — the footer path serves
        it."""
        import json
        import os

        from nshm2022db_spark.streaming.sinks import (
            _COMMITS,
            committed_partition_transaction,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        rows = spark.createDataFrame(
            [(1, "a", 2.5), (2, "b", None)], "uid long, k string, v double"
        )
        committed_partition_transaction(spark, t, "k", lambda base: rows)
        before = {
            (r.uid, r.k, r.v) for r in read_keyed_table(spark, t).collect()
        }
        log = os.path.join(t, _COMMITS)
        for n in os.listdir(log):
            p = os.path.join(log, n)
            with open(p) as f:
                m = json.load(f)
            if m.pop("dir_schemas", None) is not None:
                os.unlink(p)  # the commit files are hardlinked read-only
                with open(p, "w") as f:
                    json.dump(m, f)
        got = {
            (r.uid, r.k, r.v) for r in read_keyed_table(spark, t).collect()
        }
        assert got == before
        assert {r.k for r in read_keyed_table(spark, t).collect()} == {
            "a", "b",
        }

    def test_recorded_schema_matches_footer_derivation(self, spark, tmp_path):
        """The manifest-supplied read and the footer fast path must
        produce the same schema (types AND nullability) — the recorded
        json IS what `_footer_schema` would have derived."""
        from nshm2022db_spark.streaming.sinks import (
            _footer_schema,
            committed_transaction,
            current_commit,
        )
        import os

        t = str(tmp_path / "t")
        rows = spark.createDataFrame(
            [(1, [1.5, 2.5], "x")],
            "uid long, vec array<double>, s string",
        )
        committed_transaction(spark, t, lambda base: rows)
        cur = current_commit(t)
        sj = cur["dir_schemas"][cur["dir"]]
        derived = _footer_schema([os.path.join(t, cur["dir"])])
        assert derived is not None
        assert sj == derived.jsonValue()

    def test_recorded_schema_strips_field_metadata(self, spark, tmp_path):
        """Column metadata, char/varchar and nested struct fields record
        as plain nullable types with empty metadata — the same json the
        footer derivation yields, so a manifest-supplied read and a
        footer read resolve one schema."""
        from nshm2022db_spark.streaming.sinks import (
            _footer_schema,
            committed_transaction,
            current_commit,
        )

        from pyspark.sql import types as T

        t = str(tmp_path / "t")
        tagged = {"comment": "tagged"}
        rows = spark.createDataFrame(
            [(1, "a", ("n",))],
            T.StructType([
                T.StructField("uid", T.LongType(), False),
                T.StructField("m", T.StringType(), False, tagged),
                T.StructField(
                    "st",
                    T.StructType([T.StructField("x", T.StringType(), False, tagged)]),
                    False,
                ),
            ]),
        ).selectExpr(
            "uid", "m", "CAST('abc' AS VARCHAR(5)) AS v",
            "CAST('xy' AS CHAR(3)) AS c", "st",
        )
        assert rows.schema["m"].metadata == tagged
        committed_transaction(spark, t, lambda base: rows)
        cur = current_commit(t)
        sj = cur["dir_schemas"][cur["dir"]]
        fields = {f["name"]: f for f in sj["fields"]}
        for name in ("m", "v", "c"):
            assert fields[name] == {
                "name": name, "type": "string", "nullable": True, "metadata": {},
            }
        assert fields["st"]["type"]["fields"] == [
            {"name": "x", "type": "string", "nullable": True, "metadata": {}}
        ]
        assert all(f["metadata"] == {} and f["nullable"] for f in sj["fields"])
        assert sj == _footer_schema([os.path.join(t, cur["dir"])]).jsonValue()


class TestDmlJobBudget:
    """Spark jobs per warm call of the table-format writers, on an
    8-partition table whose commits record ``event_id`` stats. Each op
    runs once to warm plans and Python workers; the second call is
    counted under its own job group."""

    TYPES = ("click", "view", "search", "cart", "buy", "share", "login", "logout")
    STATS = ["event_id"]
    BUDGETS = {"append": 2, "compact": 2, "merge": 9, "update": 5, "delete": 5}

    def _rows(self, spark, lo, n):
        return spark.createDataFrame(
            [
                (i, (i // 8) % 50, self.TYPES[i % 8], i * 3)
                for i in range(lo, lo + n)
            ],
            "event_id long, user_id long, event_type string, amount long",
        )

    def _ops(self, spark, t) -> dict:
        """op name -> (untimed set-up or None, the op) for call ``i``."""
        from nshm2022db_spark.streaming import sinks

        def append(i):
            sinks.append_partition_transaction(
                spark, t, "event_type", self._rows(spark, 10_000 + 400 * i, 400),
                stats_cols=self.STATS,
            )

        def compact(i):
            sinks.compact_partition_table(
                spark, t, max_files_per_partition=1, stats_cols=self.STATS
            )

        def merge(i):
            src = self._rows(spark, 1_000 * i, 80).unionByName(
                self._rows(spark, 20_000 + 20 * i, 20)
            )
            sinks.merge_into_table(
                spark, t, src, ["event_id"],
                when_matched_update={"amount": "s.amount + 1"},
                when_not_matched_insert=True, stats_cols=self.STATS,
            )

        def update(i):
            sinks.update_table(
                spark, t, {"amount": "amount + 7"},
                where=f"user_id % 50 = {i} AND event_type = 'click'",
                stats_cols=self.STATS,
            )

        def delete(i):
            sinks.delete_table(
                spark, t,
                where=f"user_id % 50 = {10 + i} AND event_type = 'view'",
                stats_cols=self.STATS,
            )

        return {
            "append": (None, append),
            # every partition holds two files again, so compaction rewrites
            "compact": (lambda i: append(10 + i), compact),
            "merge": (None, merge),
            "update": (None, update),
            "delete": (None, delete),
        }

    @pytest.mark.parametrize("name", sorted(BUDGETS))
    def test_warm_call_within_budget(self, spark, tmp_path, name):
        from conftest import count_jobs

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
        )

        t = str(tmp_path / "events")
        append_partition_transaction(
            spark, t, "event_type", self._rows(spark, 0, 4_000),
            stats_cols=self.STATS,
        )
        setup, op = self._ops(spark, t)[name]
        for i in (0, 1):  # the first call warms, the second is counted
            if setup is not None:
                setup(i)
            before = current_commit(t)["version"]
            jobs = count_jobs(spark, lambda: op(i))
            assert current_commit(t)["version"] == before + 1  # it committed
        assert jobs <= self.BUDGETS[name]


GOLDEN_DML = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "golden", "dml_manifests.json"
)


def _golden_dml_sequence(spark, t: str) -> None:
    """One scripted history through every partition-mapped writer: the
    k ranges are partition-aligned (a: 0-9, b: 10-19, c: 20-29, d:
    30-39), so stats pruning decides which entries each DML scans."""
    from nshm2022db_spark.streaming import sinks

    schema = "k long, v double, g string, day string"

    def rows(ks, day=None):
        return spark.createDataFrame(
            [(k, float(k), str(k % 3), day or "abcd"[k // 10]) for k in ks],
            schema,
        )

    kw = {"stats_cols": ["k"]}
    sinks.append_partition_transaction(
        spark, t, "day", rows(range(40)), bloom_cols=["k"], **kw
    )
    sinks.rename_column(spark, t, "v", "score")
    sinks.set_table_constraints(spark, t, ["score >= 0"])

    def src(ks, day=None):
        return rows(ks, day).withColumnRenamed("v", "score")

    sinks.overwrite_partition_transaction(
        spark, t, "day", src(range(30, 35)), replace_where=["d"],
        bloom_cols=["k"], **kw,
    )
    # upsert: in-place updates in a, a brand-new partition e
    sinks.merge_into_table(
        spark, t, src([1, 2]).unionByName(src([40, 41], "e")), ["k"],
        when_matched_update={"score": "s.score + 100"},
        when_not_matched_insert=True, **kw,
    )
    # whole-key delete: a tombstones (deletion vector), no rewrite
    sinks.merge_into_table(
        spark, t, src([5, 6]), ["k"], when_matched_delete=True, **kw
    )
    # re-insert a tombstoned key: the DV consolidates, a is purged
    sinks.merge_into_table(
        spark, t, src([5]).unionByName(src([50], "e")), ["k"],
        when_not_matched_insert=True, **kw,
    )
    # a row moves from a into c, which the prune leaves unscanned
    sinks.update_table(
        spark, t, {"day": "'c'", "score": "score + 1"}, where="k = 3",
        prune={"k": (0, 9)}, **kw,
    )
    # every scanned row matches: e empties and leaves the map
    sinks.delete_table(
        spark, t, where="day = 'e'", partition_values=["e"], **kw
    )
    sinks.delete_table(spark, t, where="k = 12", **kw)
    sinks.compact_partition_table(spark, t, max_files_per_partition=1, **kw)
    sinks.evolve_partition_column(spark, t, "g")
    sinks.migrate_legacy_layouts(spark, t, **kw)

    def by_g(pairs):
        return spark.createDataFrame(
            [(k, float(k), g, "a") for k, g in pairs],
            "k long, score double, g string, day string",
        )

    # into stat-carrying, bloom-less 0 (stats merge) and a new 3
    sinks.append_partition_transaction(
        spark, t, "g", by_g([(60, "0"), (61, "3")]), bloom_cols=["k"], **kw
    )
    # 3 now carries a bloom: its stats merge and its bloom OR-merges
    sinks.append_partition_transaction(
        spark, t, "g", by_g([(62, "3"), (63, "0")]), bloom_cols=["k"], **kw
    )
    # an unscanned generation: 0 and 3 drop their stats, 3 its bloom
    sinks.append_partition_transaction(
        spark, t, "g", by_g([(64, "0"), (65, "3")])
    )
    # dynamic overwrite: 1 and 3 hold the stage alone, fresh stats/bloom
    sinks.overwrite_partition_transaction(
        spark, t, "g", by_g([(66, "1"), (67, "3")]), bloom_cols=["k"], **kw
    )
    # replaceWhere listing 3 with no batch rows: 3 leaves the map
    sinks.overwrite_partition_transaction(
        spark, t, "g", by_g([(68, "2")]), replace_where=["2", "3"], **kw
    )
    sinks.tombstone_keys(
        spark, t, "k", spark.createDataFrame([(60,), (61,)], "k long")
    )
    sinks.drop_column(spark, t, "day")


def _golden_dml_record(t: str) -> dict:
    """The history's manifests, CDC sidecar rows and every referenced
    dir's file schemas, with ``data-*``/``cdc-*`` uuids renamed to
    ordinals in order of first appearance, bloom bitmaps replaced by
    their digests and commit times dropped."""
    import hashlib
    import json
    import re

    import pyarrow.parquet as pq

    from nshm2022db_spark.streaming.sinks import (
        _manifest_dirs,
        table_history,
    )

    hist = table_history(t)
    names: dict[str, str] = {}

    def norm(s: str) -> str:
        s = re.sub(
            r'"bits": "([^"]*)"',
            lambda m: '"bits": "%s"' % hashlib.sha1(m.group(1).encode()).hexdigest(),
            s,
        )
        return re.sub(
            r"(data|cdc)-[0-9a-f]{32}",
            lambda m: names.setdefault(m.group(0), f"{m.group(1)}-{len(names)}"),
            s,
        )

    manifests, cdc, schemas = [], {}, {}
    for m in hist:
        m = {k: v for k, v in m.items() if k != "committed_at"}
        manifests.append(json.loads(norm(json.dumps(m, sort_keys=True))))
        for d in sorted(_manifest_dirs(m)):
            root = os.path.join(t, d)
            files = sorted(
                os.path.join(r, f)
                for r, _, fs in os.walk(root)
                for f in fs
                if f.endswith(".parquet")
            )
            schemas[norm(d)] = sorted(
                {
                    pq.read_schema(f).metadata[
                        b"org.apache.spark.sql.parquet.row.metadata"
                    ].decode()
                    for f in files
                }
            )
        if m.get("cdc"):
            tab = pq.read_table(os.path.join(t, m["cdc"]))
            cdc[norm(m["cdc"])] = {
                "schema": str(tab.schema.remove_metadata()),
                "rows": sorted(
                    json.dumps(r, sort_keys=True) for r in tab.to_pylist()
                ),
            }
    return {"manifests": manifests, "cdc": cdc, "file_schemas": schemas}


class TestGoldenManifests:
    """The on-disk artifacts of a scripted history — manifests, CDC
    sidecars, file schemas — equal the recorded golden copy, so a
    refactor of the writers cannot change a published byte's meaning."""

    def test_history_matches_golden(self, spark, tmp_path):
        import json

        t = str(tmp_path / "t")
        _golden_dml_sequence(spark, t)
        got = _golden_dml_record(t)
        with open(GOLDEN_DML) as f:
            want = json.load(f)
        assert len(got["manifests"]) == len(want["manifests"])
        for g, w in zip(got["manifests"], want["manifests"]):
            assert g == w, g["version"]
        assert got["cdc"] == want["cdc"]
        assert got["file_schemas"] == want["file_schemas"]
