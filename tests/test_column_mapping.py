"""Column mapping (Delta's columnMapping mode=name, r12 — VERDICT r11
stretch #5): RENAME/DROP COLUMN as metadata-only ``op: "evolve"``
commits. Physical parquet names never change; every read projects
through the manifest's logical→physical map, appends translate
incoming logical names (and reject stale ones), time travel is
map-correct per version, the typed feed serves the END version's
logical schema, and operations whose artifacts address columns by
physical name refuse the remap."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nshm2022db_spark.streaming.sinks import (
    append_partition_transaction,
    compact_partition_table,
    current_commit,
    delete_table,
    drop_column,
    merge_into_table,
    overwrite_partition_transaction,
    read_keyed_table,
    read_table_changes,
    read_table_changes_typed,
    rename_column,
    set_table_constraints,
    tombstone_keys,
    update_table,
)


def _seed(spark, d, **kw):
    append_partition_transaction(
        spark, d, "day",
        spark.createDataFrame(
            [(k, float(k), "x" * k, "a" if k < 5 else "b") for k in range(10)],
            "k long, v double, s string, day string",
        ),
        stats_cols=["k"], **kw,
    )


class TestRenameColumn:
    def test_metadata_only_rename_and_read(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        before = dict(current_commit(d)["partitions"])
        ver = rename_column(spark, d, "v", "score")
        cur = current_commit(d)
        assert cur["version"] == ver and cur["op"] == "evolve"
        assert cur["column_map"] == {"score": "v"}
        # metadata-only: every partition mapping carried byte-identical,
        # the commit's stage dir is empty
        assert cur["partitions"] == before
        assert os.listdir(os.path.join(d, cur["dir"])) == []
        t = read_keyed_table(spark, d)
        assert "score" in t.columns and "v" not in t.columns
        assert {(r.k, r.score) for r in t.collect()} == {
            (k, float(k)) for k in range(10)
        }

    def test_time_travel_is_map_correct(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        old = read_keyed_table(spark, d, version=1)
        assert "v" in old.columns and "score" not in old.columns
        new = read_keyed_table(spark, d, version=2)
        assert "score" in new.columns

    def test_append_translates_new_name_rejects_old(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        batch = spark.createDataFrame(
            [(100, 100.0, "zz", "c")], "k long, score double, s string, day string"
        )
        append_partition_transaction(spark, d, "day", batch, stats_cols=["k"])
        t = read_keyed_table(spark, d)
        assert {r.score for r in t.filter("day = 'c'").collect()} == {100.0}
        # the staged file carries the stable PHYSICAL name
        entry = current_commit(d)["partitions"]["day=c"]
        stage = entry[0] if isinstance(entry, list) else entry
        raw = spark.read.parquet(os.path.join(d, stage, "day=c"))
        assert "v" in raw.columns and "score" not in raw.columns
        # an old-name append is a caller bug, not a new column
        stale = spark.createDataFrame(
            [(101, 1.0, "q", "c")], "k long, v double, s string, day string"
        )
        with pytest.raises(ValueError, match="renamed to 'score'"):
            append_partition_transaction(spark, d, "day", stale)

    def test_prune_uses_logical_names(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "k", "id")
        pruned = read_keyed_table(spark, d, prune={"id": (7, 7)}).filter(
            "id = 7"
        )
        full = read_keyed_table(spark, d).filter("id = 7")
        assert sorted(r.id for r in pruned.collect()) == sorted(
            r.id for r in full.collect()
        ) == [7]

    def test_rename_back_clears_map(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        rename_column(spark, d, "score", "v")
        cur = current_commit(d)
        assert "column_map" not in cur
        assert "v" in read_keyed_table(spark, d).columns

    def test_refusals(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        with pytest.raises(ValueError, match="partition column"):
            rename_column(spark, d, "day", "dt")
        with pytest.raises(ValueError, match="no column"):
            rename_column(spark, d, "nope", "x")
        with pytest.raises(ValueError, match="already exists"):
            rename_column(spark, d, "v", "k")
        tombstone_keys(spark, d, "k", spark.createDataFrame([(3,)], "k long"))
        with pytest.raises(ValueError, match="tombstone key"):
            rename_column(spark, d, "k", "id")
        set_table_constraints(spark, d, ["v >= 0"])
        with pytest.raises(ValueError, match="constraint"):
            rename_column(spark, d, "v", "score")

    def test_new_name_cannot_shadow_another_physical(self, spark, tmp_path):
        """r12 review #3: after rename(v->score), renaming k to 'v'
        (score's physical name) would make stale-name detection
        ambiguous — refuse; renaming score BACK to v stays legal."""
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        with pytest.raises(ValueError, match="physical name"):
            rename_column(spark, d, "k", "v")
        rename_column(spark, d, "score", "v")  # rename-back unaffected

    def test_reserved_and_invalid_new_names_refused(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        for bad in ("_commit_version", "_x", "a.b", "a b", ""):
            with pytest.raises(ValueError):
                rename_column(spark, d, "v", bad)

    def test_set_constraints_survives_materialize(self, spark, tmp_path):
        """A constraint declared in LOGICAL names on a mapped table
        (r13 — the r12 refusal lifted) keeps enforcing after
        materialize folds the map in (the names become physical)."""
        from nshm2022db_spark.streaming.sinks import (
            materialize_column_mapping,
        )

        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        set_table_constraints(spark, d, ["score >= 0"])
        materialize_column_mapping(spark, d)
        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                [(77, 7.0, "q", "a")],
                "k long, score double, s string, day string",
            ),
        )
        assert read_keyed_table(spark, d).count() == 11

    def test_evolve_partition_to_mapped_name_refused(self, spark, tmp_path):
        """r12 review #4: evolving the partition spec onto a renamed or
        dropped column would brick appends (batches translate to
        physical names before partitionBy)."""
        from nshm2022db_spark.streaming.sinks import (
            evolve_partition_column,
        )

        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        with pytest.raises(ValueError, match="renamed or dropped"):
            evolve_partition_column(spark, d, "score")
        with pytest.raises(ValueError, match="renamed or dropped"):
            evolve_partition_column(spark, d, "v")

    def test_rewrite_stats_translate_to_physical(self, spark, tmp_path):
        """r12 review #5: a rewrite transaction given LOGICAL stats_cols
        (materialize_tombstones is the mapped-table caller) must record
        stats under the PHYSICAL footer name instead of silently
        dropping every entry's stats; compaction (which passes the
        manifest's own physical keys) must keep them too."""
        from nshm2022db_spark.streaming.sinks import (
            materialize_tombstones,
        )

        d = str(tmp_path / "t")
        _seed(spark, d)
        tombstone_keys(spark, d, "k", spark.createDataFrame([(3,)], "k long"))
        rename_column(spark, d, "v", "score")
        materialize_tombstones(spark, d, stats_cols=["score"])
        st = current_commit(d)["stats"]
        assert st and all("v" in s["cols"] for s in st.values())
        compact_partition_table(spark, d, max_files_per_partition=0)
        st2 = current_commit(d)["stats"]
        assert st2 and all("v" in s["cols"] for s in st2.values())
        # the logical prune still goes through those stats
        pruned = read_keyed_table(
            spark, d, prune={"score": (7.0, 7.0)}
        ).filter("score = 7.0")
        assert [r.k for r in pruned.collect()] == [7]

    def test_compaction_carries_the_map(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                [(200, 1.5, "y", "a")],
                "k long, score double, s string, day string",
            ),
        )
        compact_partition_table(spark, d, max_files_per_partition=0)
        cur = current_commit(d)
        assert cur["column_map"] == {"score": "v"}
        t = read_keyed_table(spark, d)
        assert "score" in t.columns and t.count() == 11


class TestDropColumn:
    def test_metadata_only_drop_and_time_travel(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        before = dict(current_commit(d)["partitions"])
        drop_column(spark, d, "s")
        cur = current_commit(d)
        assert cur["op"] == "evolve" and cur["dropped_columns"] == ["s"]
        assert cur["partitions"] == before
        t = read_keyed_table(spark, d)
        assert "s" not in t.columns and t.count() == 10
        assert "s" in read_keyed_table(spark, d, version=1).columns

    def test_readd_dropped_name_rejected(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        drop_column(spark, d, "s")
        batch = spark.createDataFrame(
            [(50, 2.0, "new", "a")], "k long, v double, s string, day string"
        )
        with pytest.raises(ValueError, match="dropped"):
            append_partition_transaction(spark, d, "day", batch)

    def test_drop_renamed_column_records_physical(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "s", "text")
        drop_column(spark, d, "text")
        cur = current_commit(d)
        assert cur["dropped_columns"] == ["s"] and "column_map" not in cur
        assert "text" not in read_keyed_table(spark, d).columns


class TestMappedFeedsAndGuards:
    def test_typed_feed_serves_end_schema(self, spark, tmp_path):
        """Images from commits BEFORE the rename surface under the
        renamed (end-version) logical name — one coherent schema for
        the whole range, Delta CDF's end-schema contract."""
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                [(300, 3.0, "w", "b")],
                "k long, score double, s string, day string",
            ),
        )
        feed = read_table_changes_typed(spark, d, 0)
        assert "score" in feed.columns and "v" not in feed.columns
        by_v = {
            r.k: r.score
            for r in feed.filter("_commit_version = 1").collect()
        }
        assert by_v[4] == 4.0  # pre-rename image, end-schema name
        assert {
            r.k for r in feed.filter("_commit_version = 3").collect()
        } == {300}
        untyped = read_table_changes(spark, d, 0)
        assert "score" in untyped.columns and "v" not in untyped.columns

    def test_feed_range_ending_before_rename_keeps_old_name(
        self, spark, tmp_path
    ):
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        feed = read_table_changes_typed(spark, d, 0, to_version=1)
        assert "v" in feed.columns and "score" not in feed.columns

    def test_update_delete_run_logically_on_mapped_tables(
        self, spark, tmp_path
    ):
        """UPDATE/DELETE accept LOGICAL names on a mapped table (r12):
        the decision frame runs on the logical view, staged files and
        CDC sidecars carry the stable physical names, and the typed
        feed serves the end-schema logical names."""
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        m = update_table(
            spark, d, {"score": "score * 10"}, where="k = 2",
            stats_cols=["k"],
        )
        assert m["updated"] == 1
        m2 = delete_table(spark, d, where="score = 9.0")  # k=9
        assert m2["deleted"] == 1
        t = read_keyed_table(spark, d)
        got = {r.k: r.score for r in t.collect()}
        assert got[2] == 20.0 and 9 not in got and len(got) == 9
        # staged files + CDC sidecar carry the PHYSICAL name
        cur = current_commit(d)
        entry = cur["partitions"]["day=b"]
        stage = entry[-1] if isinstance(entry, list) else entry
        raw = spark.read.parquet(os.path.join(d, stage, "day=b"))
        assert "v" in raw.columns and "score" not in raw.columns
        cdc_raw = spark.read.parquet(os.path.join(d, cur["cdc"]))
        assert "v" in cdc_raw.columns
        # the typed feed serves logical names for every image
        feed = read_table_changes_typed(spark, d, 1)
        assert "score" in feed.columns and "v" not in feed.columns
        by = {
            (r._change_type, r.k): r.score
            for r in feed.collect()
        }
        assert by[("update_preimage", 2)] == 2.0
        assert by[("update_postimage", 2)] == 20.0
        assert by[("delete", 9)] == 9.0
        # stats recorded under the physical footer name for rewrites
        assert all("k" in s["cols"] for s in cur["stats"].values())

    def test_set_constraints_in_logical_names_on_mapped_table(
        self, spark, tmp_path
    ):
        """r13 stretch: rename → constrain (logical names) → append —
        the constraint enforces on every later write, projected
        through the map; a violating batch never publishes."""
        from nshm2022db_spark.streaming.sinks import ConstraintViolation

        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        set_table_constraints(spark, d, ["score >= 0.0"])
        ok = spark.createDataFrame(
            [(50, 5.0, "y", "c")], "k long, score double, s string, day string"
        )
        append_partition_transaction(spark, d, "day", ok)
        bad = spark.createDataFrame(
            [(51, -1.0, "n", "c")], "k long, score double, s string, day string"
        )
        v_before = current_commit(d)["version"]
        with pytest.raises(ConstraintViolation):
            append_partition_transaction(spark, d, "day", bad)
        assert current_commit(d)["version"] == v_before
        # a stale PHYSICAL name fails the declaration scan loudly
        with pytest.raises(Exception, match="v"):
            set_table_constraints(spark, d, ["v > 0"])
        # the constrained logical column now refuses RENAME
        with pytest.raises(ValueError, match="CHECK constraint"):
            rename_column(spark, d, "score", "points")
        # mapped MERGE/UPDATE also enforce the logical constraint
        with pytest.raises(ConstraintViolation):
            update_table(spark, d, {"score": "-score - 1"}, where="k = 1")
        with pytest.raises(ConstraintViolation):
            merge_into_table(
                spark, d,
                spark.createDataFrame([(1, -9.0)], "k long, score double"),
                ["k"], when_matched_update={"score": "s.score"},
            )
        t = read_keyed_table(spark, d)
        assert {r.score for r in t.filter("k = 1").collect()} == {1.0}

    def test_materialize_clears_map_and_reenables_dml(self, spark, tmp_path):
        """The escape hatch: one data_change=false rewrite restates the
        table under the logical names, clears the map, re-enables DML;
        feeds skip it, time travel keeps per-version maps."""
        from nshm2022db_spark.streaming.sinks import (
            materialize_column_mapping,
        )

        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        drop_column(spark, d, "s")
        ver = materialize_column_mapping(spark, d, stats_cols=["k"])
        cur = current_commit(d)
        assert cur["version"] == ver
        assert "column_map" not in cur and "dropped_columns" not in cur
        assert cur.get("data_change") is False
        t = read_keyed_table(spark, d)
        assert set(t.columns) == {"k", "score", "day"} and t.count() == 10
        # physically logical now
        entry = cur["partitions"]["day=a"]
        stage = entry[-1] if isinstance(entry, list) else entry
        raw = spark.read.parquet(os.path.join(d, stage, "day=a"))
        assert "score" in raw.columns and "s" not in raw.columns
        # a feed RANGE spanning the materialize raises (it re-based the
        # physical names — Delta CDF's incompatible-schema-change error,
        # r12 review #1); from the materialize version onward it's clean
        with pytest.raises(ValueError, match="materialized a column"):
            read_table_changes_typed(spark, d, 0)
        with pytest.raises(ValueError, match="materialized a column"):
            read_table_changes(spark, d, 2)
        assert read_table_changes_typed(spark, d, ver) is None
        # DML works again
        m = update_table(spark, d, {"score": "score + 1"}, where="k = 0")
        assert m["updated"] == 1
        # pre-materialize versions keep their own map
        assert "score" in read_keyed_table(spark, d, version=2).columns
        assert materialize_column_mapping(spark, d) is None  # no-op now

    def test_maintain_refuses_spanning_a_rename(self, spark, tmp_path):
        """r12 sweep 2 #1: an additive fold across a RENAME would union
        old- and new-named measures as NULL-padded columns — the rename
        commit must raise like any other non-additive op."""
        from nshm2022db_spark.streaming.sinks import (
            maintain_incremental_agg,
        )

        d = str(tmp_path / "t")
        dest = str(tmp_path / "agg")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        with pytest.raises(ValueError, match="cannot span a schema rename"):
            maintain_incremental_agg(
                spark, d, dest,
                # folds v1 fine (stable column); v2's rename must raise
                agg=lambda delta: delta.groupBy("day").agg(
                    F.sum("k").alias("s")
                ),
                merge=lambda base, add: add if base is None else
                base.unionByName(add).groupBy("day").agg(
                    F.sum("s").alias("s")
                ),
            )

    def test_maintain_stable_map_clone_not_a_false_rename(
        self, spark, tmp_path
    ):
        """r12 sweep 3 #1: a commit whose predecessor is absent (a
        CLONE's v1 carries the source's map with no prior manifest)
        must not read its stable carried map as a rename and wedge the
        maintainer — only an actual map CHANGE between retained
        manifests raises."""
        from nshm2022db_spark.streaming.sinks import (
            clone_table_shallow,
            maintain_incremental_agg,
        )

        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        c = str(tmp_path / "c")
        clone_table_shallow(d, c)
        assert current_commit(c)["column_map"] == {"score": "v"}
        # stable-map appends onto the clone
        append_partition_transaction(
            spark, c, "day",
            spark.createDataFrame(
                [(200, 2.0, "y", "a")],
                "k long, score double, s string, day string",
            ),
        )

        def agg(delta):
            return delta.groupBy("day").agg(F.count("*").alias("n"))

        def merge(base, add):
            return add if base is None else base.unionByName(add).groupBy(
                "day"
            ).agg(F.sum("n").alias("n"))

        dest = str(tmp_path / "agg")
        # v1 clone is op="clone" (not additive) — the maintainer's op
        # gate raises on it, but it must be the OP error, not a bogus
        # "schema rename" one from the {} predecessor comparison
        with pytest.raises(ValueError) as ei:
            maintain_incremental_agg(spark, c, dest, agg=agg, merge=merge)
        assert "rename" not in str(ei.value)

    def test_audit_sees_logical_schema(self, spark, tmp_path):
        """r12 sweep 2 #2: WAP audits are written against the table's
        logical schema; the staged frame carries physical names."""
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        seen = {}

        def audit(staged):
            seen["cols"] = set(staged.columns)
            return staged.filter("score >= 0").count() == staged.count()

        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                [(40, 4.0, "q", "a")],
                "k long, score double, s string, day string",
            ),
            audit=audit,
        )
        assert "score" in seen["cols"] and "v" not in seen["cols"]
        assert read_keyed_table(spark, d).count() == 11

    def test_feed_cursor_at_materialize_advances(self, spark, tmp_path):
        """r12 sweep 2 #3: a consumer whose cursor sits one below the
        materialize version reads an empty-but-legal range instead of
        wedging (the materialize itself emits nothing)."""
        from nshm2022db_spark.streaming.sinks import (
            materialize_column_mapping,
        )

        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        mver = materialize_column_mapping(spark, d)
        assert read_table_changes_typed(spark, d, mver - 1) is None
        assert read_table_changes(spark, d, mver - 1) is None
        with pytest.raises(ValueError, match="materialized a column"):
            read_table_changes_typed(spark, d, mver - 2)

    def test_vacuum_sweeps_dml_scratch(self, spark, tmp_path):
        """r12 sweep 2 #4: a SIGKILLed DML writer's scratch-* decision
        materialization (full-row copies, incl. rows a GDPR delete
        meant to erase) must fall to vacuum, not live forever."""
        import time as _time

        from nshm2022db_spark.streaming.sinks import vacuum_uncommitted

        d = str(tmp_path / "t")
        _seed(spark, d)
        leak = os.path.join(d, "scratch-deadbeef")
        os.makedirs(leak)
        os.utime(leak, (_time.time() - 7200, _time.time() - 7200))
        removed = vacuum_uncommitted(d, grace_sec=3600)
        assert "scratch-deadbeef" in removed and not os.path.isdir(leak)

    def test_pruned_empty_dml_is_metadata_only_noop(self, spark, tmp_path):
        """r12 sweep 2 #6: a fully-disproven UPDATE/DELETE returns
        without the full-footer schema resolve (no version bump)."""
        from nshm2022db_spark.streaming.sinks import current_commit

        d = str(tmp_path / "t")
        _seed(spark, d)
        v = current_commit(d)["version"]
        m = update_table(
            spark, d, {"v": "0.0"}, where="k = 999",
            prune={"k": (999, 999)},
        )
        assert m == {"version": v, "updated": 0, "carried": 0}
        m2 = delete_table(
            spark, d, where="k = 999", prune={"k": (999, 999)}
        )
        assert m2 == {"version": v, "deleted": 0, "carried": 0}

    def test_tombstone_on_unmapped_key_still_works(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        # a RENAMED column cannot key tombstones (dv files address the
        # physical name) — checked on a table with no dv_key yet
        with pytest.raises(ValueError, match="renamed or dropped"):
            tombstone_keys(
                spark, d, "score",
                spark.createDataFrame([(1.0,)], "score double"),
            )
        # an identity-mapped key on the same mapped table works fine
        tombstone_keys(spark, d, "k", spark.createDataFrame([(2,)], "k long"))
        t = read_keyed_table(spark, d)
        assert sorted(r.k for r in t.collect()) == [
            0, 1, 3, 4, 5, 6, 7, 8, 9
        ]


class TestMappedMerge:
    """MERGE INTO through column mapping (r13 — VERDICT r12 #1): keys,
    clause expressions, and the insert map are LOGICAL; staged files,
    CDC sidecar, and dv key files carry the stable PHYSICAL names."""

    def test_merge_full_surface_across_renames(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        rename_column(spark, d, "k", "id")
        before = dict(current_commit(d)["partitions"])
        src = spark.createDataFrame(
            [(2, 222.0), (100, 100.0)], "id long, score double"
        )
        m = merge_into_table(
            spark, d, src, ["id"],
            when_matched_update={"score": "s.score"},
            when_not_matched_insert={
                "id": "s.id", "score": "s.score", "s": "'new'",
                "day": "'c'",
            },
            stats_cols=["id"],
        )
        assert m["updated"] == 1 and m["inserted"] == 1
        t = read_keyed_table(spark, d)
        got = {r.id: r.score for r in t.collect()}
        assert got[2] == 222.0 and got[100] == 100.0 and len(got) == 11
        cur = current_commit(d)
        # the map carried forward; stats recorded under physical names
        assert cur["column_map"] == {"score": "v", "id": "k"}
        assert all("k" in s["cols"] for s in cur["stats"].values())
        # day=b never held id 2 or 100: stats-pruned, entry untouched
        assert cur["partitions"]["day=b"] == before["day=b"]
        # staged files + CDC sidecar carry the PHYSICAL names
        entry = cur["partitions"]["day=a"]
        stage = entry[-1] if isinstance(entry, list) else entry
        raw = spark.read.parquet(os.path.join(d, stage, "day=a"))
        assert {"k", "v"} <= set(raw.columns) and "id" not in raw.columns
        cdc_raw = spark.read.parquet(os.path.join(d, cur["cdc"]))
        assert {"k", "v", "_change_type"} <= set(cdc_raw.columns)
        # the typed feed serves logical names with exact pair images
        feed = read_table_changes_typed(spark, d, 3)
        assert {"id", "score"} <= set(feed.columns)
        by = {(r._change_type, r.id): r.score for r in feed.collect()}
        assert by[("update_preimage", 2)] == 2.0
        assert by[("update_postimage", 2)] == 222.0
        assert by[("insert", 100)] == 100.0
        # a stale physical-name key is a caller bug, loudly
        with pytest.raises(ValueError, match="not a target column"):
            merge_into_table(
                spark, d,
                spark.createDataFrame([(1, 1.0)], "k long, score double"),
                ["k"], when_matched_update={"score": "s.score"},
            )

    def test_merge_delete_writes_physical_dv(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "k", "id")
        src = spark.createDataFrame([(i,) for i in range(5, 10)], "id long")
        m = merge_into_table(spark, d, src, ["id"], when_matched_delete=True)
        assert m["deleted"] == 5
        cur = current_commit(d)
        # delete-only partition day=b tombstoned, not rewritten; the dv
        # file and dv_key use the PHYSICAL name
        assert cur["dv_key"] == "k"
        dv_raw = spark.read.parquet(os.path.join(d, cur["dv"][0]))
        assert dv_raw.columns == ["k"]
        assert sorted(r.k for r in dv_raw.collect()) == [5, 6, 7, 8, 9]
        t = read_keyed_table(spark, d)
        assert sorted(r.id for r in t.collect()) == [0, 1, 2, 3, 4]
        # renaming the dv-keyed LOGICAL column now refuses (the dv
        # addresses its physical name)
        with pytest.raises(ValueError, match="tombstone key"):
            rename_column(spark, d, "id", "doc")
        # typed feed reconstructs delete images under logical names
        feed = read_table_changes_typed(spark, d, 2)
        dels = {
            r.id for r in feed.filter("_change_type = 'delete'").collect()
        }
        assert dels == {5, 6, 7, 8, 9}

    def test_merge_reinsert_consolidates_mapped_dv(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "k", "id")
        merge_into_table(
            spark, d,
            spark.createDataFrame([(i,) for i in range(5, 10)], "id long"),
            ["id"], when_matched_delete=True,
        )
        # re-insert a tombstoned key: the dv must lose it AND the stale
        # physical rows must purge in the same commit
        m = merge_into_table(
            spark, d,
            spark.createDataFrame([(7, 777.0)], "id long, v double"),
            ["id"],
            when_not_matched_insert={
                "id": "s.id", "v": "s.v", "s": "'re'",
                "day": "'b'",
            },
        )
        assert m["inserted"] == 1
        cur = current_commit(d)
        dv_keys = {
            r.k
            for r in spark.read.parquet(
                *[os.path.join(d, dd) for dd in cur["dv"]]
            ).collect()
        }
        assert dv_keys == {5, 6, 8, 9}
        t = read_keyed_table(spark, d)
        got = {r.id: r.v for r in t.collect()}
        assert got[7] == 777.0
        assert sorted(got) == [0, 1, 2, 3, 4, 7]

    def test_merge_evolve_schema_joins_the_map(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        drop_column(spark, d, "s")
        # a source-only column may not reuse a dropped physical name …
        with pytest.raises(ValueError, match="dropped"):
            merge_into_table(
                spark, d,
                spark.createDataFrame(
                    [(1, "zz")], "k long, s string"
                ),
                ["k"], evolve_schema=True,
                when_matched_update={"s": "s.s"},
            )
        # … nor another column's physical name
        with pytest.raises(ValueError, match="physical name"):
            merge_into_table(
                spark, d,
                spark.createDataFrame([(1, 5.0)], "k long, v double"),
                ["k"], evolve_schema=True,
                when_matched_update={"v": "s.v"},
            )
        m = merge_into_table(
            spark, d,
            spark.createDataFrame(
                [(1, 1.5), (200, 2.5)], "k long, extra double"
            ),
            ["k"], evolve_schema=True,
            when_matched_update={"extra": "s.extra"},
            when_not_matched_insert={
                "k": "s.k", "score": "0.0", "extra": "s.extra",
                "day": "'c'",
            },
        )
        assert m["updated"] == 1 and m["inserted"] == 1
        t = read_keyed_table(spark, d)
        got = {r.k: r.extra for r in t.collect()}
        assert got[1] == 1.5 and got[200] == 2.5
        assert got[0] is None  # old generations read the column as NULL
        # the new column is identity-mapped: staged file carries it
        # under its own name next to the physical 'v'
        cur = current_commit(d)
        entry = cur["partitions"]["day=a"]
        stage = entry[-1] if isinstance(entry, list) else entry
        raw = spark.read.parquet(os.path.join(d, stage, "day=a"))
        assert {"v", "extra"} <= set(raw.columns)
        assert "score" not in raw.columns

    def test_mapped_merge_bloom_prune_skips_partitions(
        self, spark, tmp_path
    ):
        """The merge's bloom-probe refinement looks bitmaps up by the
        PHYSICAL key name after a rename: a one-key CDC source must
        leave the partition whose bloom disproves it untouched."""
        d = str(tmp_path / "t")
        _seed(spark, d, bloom_cols=["k"])
        rename_column(spark, d, "k", "id")
        before = dict(current_commit(d)["partitions"])
        m = merge_into_table(
            spark, d,
            spark.createDataFrame([(2, 99.0)], "id long, v double"),
            ["id"], when_matched_update={"v": "s.v"},
            stats_cols=["id"],
        )
        assert m["updated"] == 1
        cur = current_commit(d)
        # id=2 lives only in day=a; day=b's stats/bloom disprove it
        assert cur["partitions"]["day=b"] == before["day=b"]
        assert cur["partitions"]["day=a"] != before["day=a"]
        t = read_keyed_table(spark, d)
        assert {r.v for r in t.filter("id = 2").collect()} == {99.0}

    def test_mapped_merge_by_source_clause(self, spark, tmp_path):
        """WHEN NOT MATCHED BY SOURCE in logical names on a mapped
        table: target rows absent from the source update/delete."""
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "v", "score")
        m = merge_into_table(
            spark, d,
            spark.createDataFrame(
                [(i,) for i in range(5)], "k long"
            ),
            ["k"],
            when_matched_update={"score": "t.score"},  # carry
            when_not_matched_by_source=[
                ("update", "t.k < 8", {"score": "t.score + 100"}),
                ("delete", None),
            ],
        )
        assert m["updated"] == 3 + 5 and m["deleted"] == 2  # 5,6,7 upd; 8,9 del
        t = read_keyed_table(spark, d)
        got = {r.k: r.score for r in t.collect()}
        assert got[5] == 105.0 and got[6] == 106.0 and got[7] == 107.0
        assert 8 not in got and 9 not in got
        assert got[0] == 0.0  # matched rows carried

    def test_j13_upsert_survives_rename(self, spark, tmp_path):
        """The reference's INSERT OR IGNORE upsert (nshmdb.py:263-266)
        is the degenerate MERGE — it must work regardless of
        schema-evolution history."""
        d = str(tmp_path / "t")
        _seed(spark, d)
        rename_column(spark, d, "k", "nshm_id")
        src = spark.createDataFrame(
            [(3, -1.0, "dup", "a"), (300, 30.0, "new", "c")],
            "nshm_id long, v double, s string, day string",
        )
        m = merge_into_table(
            spark, d, src, ["nshm_id"], when_not_matched_insert=True
        )
        assert m["inserted"] == 1 and m["updated"] == 0
        t = read_keyed_table(spark, d)
        got = {r.nshm_id: r.v for r in t.collect()}
        assert got[3] == 3.0  # INSERT OR IGNORE: existing row untouched
        assert got[300] == 30.0 and len(got) == 11


class TestMappingModel:
    """Model-based property test: a random valid sequence of
    rename / drop / append / overwrite / UPDATE / DELETE / MERGE /
    compact / materialize against a pandas twin — the logical view must
    equal the model after every sequence, the typed change feed must
    fold the starting model into it, and stats pruning must never drop
    a matching row, whatever interleaving hypothesis finds."""

    @staticmethod
    def _ops():
        from hypothesis import strategies as st

        return st.lists(
            st.tuples(
                st.sampled_from(
                    ["rename", "drop", "append", "overwrite", "update",
                     "delete", "merge", "compact", "materialize",
                     "tombstone"]
                ),
                st.integers(0, 9),
            ),
            min_size=3,
            max_size=7,
        )

    def test_logical_state_matches_pandas_model(self, spark):
        import json
        import shutil
        import tempfile
        from collections import Counter

        import pandas as pd
        from hypothesis import example, given, settings

        from nshm2022db_spark.streaming.sinks import (
            compact_partition_table,
            materialize_column_mapping,
        )

        pool = ["c1", "c2", "c3", "c4", "c5"]

        @settings(max_examples=5, deadline=None)
        @given(self._ops())
        # pinned: an unscanned append into an entry whose stats a
        # scanned append just merged must drop them
        @example([("overwrite", 3), ("append", 3), ("append", 1)])
        # pinned: replaceWhere leaves one entry, the DELETE empties the
        # map; the table must still read in its (renamed) schema
        @example([("rename", 1), ("overwrite", 1), ("delete", 0)])
        def run(ops):
            d = tempfile.mkdtemp(prefix="cmprop")
            try:
                path = os.path.join(d, "t")
                # model: k long, a double, b string, day string
                model = pd.DataFrame(
                    {
                        "k": range(12),
                        "a": [float(i) for i in range(12)],
                        "b": [f"s{i}" for i in range(12)],
                        "day": ["x" if i % 2 else "y" for i in range(12)],
                    }
                )
                append_partition_transaction(
                    spark, path, "day",
                    spark.createDataFrame(
                        model, "k long, a double, b string, day string"
                    ),
                    stats_cols=["k"],
                )
                fresh = list(pool)
                next_k = [100]
                # the feed is checked from feed_v: the model there, with
                # later renames/drops applied (the feed serves the END
                # version's logical schema)
                feed_v, feed_base = 1, model.copy()

                def schema_of(cols):
                    return ", ".join(
                        f"{c} " + (
                            "long" if c == "k"
                            else "double" if model[c].dtype == float
                            else "string"
                        )
                        for c in cols
                    )

                for op, n in ops:
                    data_cols = [c for c in model.columns if c != "day"]
                    if op == "rename" and fresh:
                        old = data_cols[n % len(data_cols)]
                        if old == "k":
                            continue  # keep the predicate key stable
                        new = fresh.pop(0)
                        rename_column(spark, path, old, new)
                        model = model.rename(columns={old: new})
                        feed_base = feed_base.rename(columns={old: new})
                    elif op == "drop":
                        cands = [c for c in data_cols if c != "k"]
                        if len(data_cols) <= 2 or not cands:
                            continue
                        col = cands[n % len(cands)]
                        drop_column(spark, path, col)
                        model = model.drop(columns=[col])
                        feed_base = feed_base.drop(columns=[col])
                    elif op in ("append", "overwrite"):
                        k = next_k[0]
                        next_k[0] += 1
                        row = {"k": k, "day": "x" if n % 2 else "z"}
                        for c in model.columns:
                            if c in ("k", "day"):
                                continue
                            row[c] = float(k) if model[c].dtype == float else f"s{k}"
                        batch = spark.createDataFrame(
                            pd.DataFrame([row])[list(model.columns)],
                            schema_of(model.columns),
                        )
                        # alternate draws footer-scan k: the stats merge
                        # and replace paths, or the drop path
                        kw = {"stats_cols": ["k"]} if n // 2 % 2 else {}
                        if op == "append":
                            append_partition_transaction(
                                spark, path, "day", batch, **kw
                            )
                        else:
                            # dynamic on even n; replaceWhere on odd n
                            # also lists y, which gets no batch rows and
                            # so leaves the map
                            gone = {row["day"]} | ({"y"} if n % 2 else set())
                            overwrite_partition_transaction(
                                spark, path, "day", batch,
                                replace_where=sorted(gone) if n % 2 else None,
                                **kw,
                            )
                            model = model[~model["day"].isin(gone)]
                        model = pd.concat(
                            [model, pd.DataFrame([row])], ignore_index=True
                        )
                    elif op == "update":
                        fcols = [
                            c for c in model.columns
                            if c not in ("k", "day") and model[c].dtype == float
                        ]
                        if not fcols:
                            continue
                        c = fcols[n % len(fcols)]
                        update_table(
                            spark, path, {c: f"{c} + 1000"},
                            where=f"k % 3 = {n % 3}",
                        )
                        sel = model["k"] % 3 == (n % 3)
                        model.loc[sel, c] = model.loc[sel, c] + 1000
                    elif op == "delete":
                        delete_table(spark, path, where=f"k % 5 = {n % 5}")
                        model = model[model["k"] % 5 != (n % 5)]
                    elif op == "merge":
                        # upsert one visible key's data columns, insert
                        # one new key
                        if model.empty:
                            continue
                        sets = [c for c in data_cols if c != "k"]
                        old = model.iloc[n % len(model)].to_dict()
                        hit = {
                            c: (old[c] + 0.5 if model[c].dtype == float
                                else f"{old[c]}m") if c in sets else old[c]
                            for c in model.columns
                        }
                        k = next_k[0]
                        next_k[0] += 1
                        new = {
                            c: k if c == "k" else "x" if c == "day"
                            else float(k) if model[c].dtype == float
                            else f"s{k}"
                            for c in model.columns
                        }
                        merge_into_table(
                            spark, path,
                            spark.createDataFrame(
                                pd.DataFrame([hit, new])[list(model.columns)],
                                schema_of(model.columns),
                            ),
                            ["k"],
                            when_matched_update={c: f"s.{c}" for c in sets},
                            when_not_matched_insert=True,
                        )
                        sel = model["k"] == old["k"]
                        for c in sets:
                            model.loc[sel, c] = hit[c]
                        model = pd.concat(
                            [model, pd.DataFrame([new])], ignore_index=True
                        )
                    elif op == "tombstone":
                        # MOR delete on the (never-renamed) key column:
                        # hides the keys from every read — including the
                        # model, which tracks visible rows only
                        keys = [
                            int(k) for k in model["k"] if k % 7 == n % 7
                        ]
                        if not keys:
                            continue
                        tombstone_keys(
                            spark, path, "k",
                            spark.createDataFrame(
                                [(k,) for k in keys], "k long"
                            ),
                        )
                        model = model[~model["k"].isin(keys)]
                    elif op == "compact":
                        compact_partition_table(
                            spark, path, max_files_per_partition=0
                        )
                    elif op == "materialize":
                        # a feed cannot span a materialize: restart it
                        if materialize_column_mapping(spark, path):
                            feed_v = current_commit(path)["version"]
                            feed_base = model.copy()
                def rows_of(df):
                    return sorted(
                        tuple(r[c] for c in sorted(model.columns))
                        for r in df.collect()
                    )

                got = read_keyed_table(spark, path)
                assert got is not None
                assert sorted(got.columns) == sorted(model.columns)
                m = sorted(
                    tuple(row[c] for c in sorted(model.columns))
                    for _, row in model.iterrows()
                )
                assert rows_of(got) == m
                # stats pruning never drops a matching row, the newest
                # key's included
                newest = next_k[0] - 1
                for lo, hi in ((5, 101), (100, None), (newest, newest)):
                    top = hi if hi is not None else 1 << 62
                    hit = read_keyed_table(spark, path, prune={"k": (lo, hi)})
                    assert rows_of(
                        hit.filter(F.col("k").between(lo, top))
                    ) == sorted(
                        tuple(row[c] for c in sorted(model.columns))
                        for _, row in model[model["k"].between(lo, top)]
                        .iterrows()
                    )
                # the typed feed folds the model at feed_v into the model
                cols = sorted(model.columns)
                sign = {"insert": 1, "update_postimage": 1,
                        "delete": -1, "update_preimage": -1}

                def key(vals):
                    return json.dumps([
                        float(v) if isinstance(v, (int, float)) else v
                        for v in vals
                    ])

                net = Counter(
                    key(row[c] for c in cols) for _, row in feed_base.iterrows()
                )
                feed = read_table_changes_typed(spark, path, feed_v)
                for r in feed.collect() if feed is not None else []:
                    net[key(r[c] for c in cols)] += sign[r["_change_type"]]
                assert +net == Counter(
                    key(row[c] for c in cols) for _, row in model.iterrows()
                )
                assert not -net
            finally:
                shutil.rmtree(d, ignore_errors=True)

        run()


class TestMappedPlanShape:
    def test_column_pruning_pushes_through_the_map(self, spark, tmp_path):
        """The logical projection is a pure alias select, so Catalyst
        pushes column pruning straight through it: a 2-column read of a
        renamed table scans exactly the 2 PHYSICAL columns (the wide
        string column never leaves parquet)."""
        d = str(tmp_path / "t")
        append_partition_transaction(
            spark, d, "day",
            spark.range(100).select(
                F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"),
                F.lpad(F.col("id").cast("string"), 200, "x").alias("s"),
                (F.col("id") % 4).cast("string").alias("day"),
            ),
            stats_cols=["k"],
        )
        rename_column(spark, d, "v", "score")
        t = read_keyed_table(spark, d).select("k", "score").filter("k < 10")
        fmt = t._jdf.queryExecution().explainString(
            t.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        reads = [ln for ln in fmt.splitlines() if "ReadSchema" in ln]
        assert reads, fmt
        for ln in reads:
            assert "s:string" not in ln and '"s"' not in ln, ln
            assert "v:double" in ln, ln
