"""``lakehouse_dml``: writes beside reads on the commit-log table format.

Set-up lands a seeded event table (8 ``event_type`` partitions). The
timed closed loop runs seeded rounds; each round commits one append, one
MERGE upsert whose keys favour recent ids, an UPDATE and a DELETE,
then reads the latest snapshot, an older version, a stats-pruned
id range and the typed change feed. Every ``MAINT_EVERY`` rounds, starting
with the first, it also compacts right after the append (so it does
rewrite) and drains the typed change stream into a rollup table with an
availableNow trigger.

The client keeps an in-memory model of the table. After the loop the
op sequence is replayed on it, and every read and drained rollup is
compared with the model's state at the matching version.
"""

from __future__ import annotations

import os
import time

import numpy as np

from harness import OpLog, dir_bytes

EVENT_TYPES = ("click", "view", "search", "cart", "buy", "share", "login", "logout")
INITIAL_ROWS = 30_000
USERS = 2_000
APPEND_ROWS = 2_000
MERGE_ROWS = 500
MERGE_NEW_FRAC = 0.2
MAINT_EVERY = 3  # rounds 0, 3, 6, ... also compact and drain
COMPACT_MAX_FILES = 1
USER_MOD = 50  # UPDATE / DELETE hit users with user_id % USER_MOD == k
STATS = ["event_id"]
# bytes per submitted row in the fixed-width encoding the client would
# send: event_id, user_id, amount, ts as int64 and event_type as 8 bytes
ROW_BYTES = 5 * 8
SCHEMA = "event_id long, user_id long, event_type string, amount long, ts long"

COMMIT_KINDS = ("append", "merge", "update", "delete", "compact", "drain")
READ_KINDS = ("read_latest", "read_as_of", "read_pruned", "changes_typed")
SIGN = {"insert": 1, "update_postimage": 1, "delete": -1, "update_preimage": -1}


def initial_rows(seed: int) -> list[tuple]:
    rng = np.random.default_rng(seed)
    return _rows(rng, 0, INITIAL_ROWS)


def _rows(rng, first_id: int, n: int) -> list[tuple]:
    ids = np.arange(first_id, first_id + n)
    users = rng.integers(0, USERS, n)
    types = rng.integers(0, len(EVENT_TYPES), n)
    amounts = rng.integers(1, 100_000, n)
    return [
        (int(i), int(u), EVENT_TYPES[t], int(a), int(i) * 10)
        for i, u, t, a in zip(ids, users, types, amounts)
    ]


class Model:
    """The table as the client expects it: event_id → row."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple] = {}

    def append(self, rows) -> None:
        for r in rows:
            self.rows[r[0]] = r

    def merge(self, rows) -> None:
        for eid, user, etype, amount, ts in rows:
            cur = self.rows.get(eid)
            self.rows[eid] = (eid, user, etype, amount, ts) if cur is None else (
                eid, user, cur[2], amount, cur[4]
            )

    def update(self, users: int, etype: str, delta: int) -> None:
        for eid, r in list(self.rows.items()):
            if r[1] % USER_MOD == users and r[2] == etype:
                self.rows[eid] = (r[0], r[1], r[2], r[3] + delta, r[4])

    def delete(self, users: int, etype: str) -> None:
        for eid in [e for e, r in self.rows.items() if r[1] % USER_MOD == users and r[2] == etype]:
            del self.rows[eid]

    def agg(self, lo: int | None = None, hi: int | None = None) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for r in self.rows.values():
            if lo is not None and not lo <= r[0] <= hi:
                continue
            a = out.setdefault(r[2], [0, 0])
            a[0] += 1
            a[1] += r[3]
        return {k: (v[0], v[1]) for k, v in out.items()}


def _diff(new: dict, old: dict) -> dict[str, tuple[int, int]]:
    out = {}
    for k in set(new) | set(old):
        n, o = new.get(k, (0, 0)), old.get(k, (0, 0))
        if (n[0] - o[0], n[1] - o[1]) != (0, 0):
            out[k] = (n[0] - o[0], n[1] - o[1])
    return out


def fold_changes(rows) -> dict[str, tuple[int, int]]:
    """Net (count, amount) per event_type of typed change rows
    ``(change_type, event_type, n, amount)``."""
    out: dict[str, list[int]] = {}
    for ct, etype, n, amount in rows:
        a = out.setdefault(etype, [0, 0])
        a[0] += SIGN[ct] * n
        a[1] += SIGN[ct] * amount
    return {k: (v[0], v[1]) for k, v in out.items() if (v[0], v[1]) != (0, 0)}


def _agg(df) -> dict[str, tuple[int, int]]:
    from pyspark.sql import functions as F

    rows = df.groupBy("event_type").agg(F.count(F.lit(1)), F.sum("amount")).collect()
    return {r[0]: (int(r[1]), int(r[2])) for r in rows}


class LakehouseDml:
    def __init__(self, spark, tracer, root: str, seed: int) -> None:
        self.spark, self.tracer, self.root, self.seed = spark, tracer, root, seed
        self.events: list[tuple] = []  # (kind, args, version_after, result, OpRecord)
        self.submitted_bytes = 0
        self._n_setups = 0

    def setup(self) -> None:
        from nshm2022db_spark.streaming.sinks import append_partition_transaction, current_commit
        from nshm2022db_spark.streaming.table_source import register_commitlog_source

        self._n_setups += 1
        base = os.path.join(self.root, f"lake{self._n_setups}")
        self.table = os.path.join(base, "events")
        self.rollup = os.path.join(base, "rollup")
        self.ckpt = os.path.join(base, "rollup_ckpt")
        rows = initial_rows(self.seed)
        df = self.spark.createDataFrame(rows, SCHEMA)
        append_partition_transaction(self.spark, self.table, "event_type", df, stats_cols=STATS)
        self.events = [("append", rows, current_commit(self.table)["version"], None, None)]
        self.submitted_bytes = len(rows) * ROW_BYTES
        self.next_id = INITIAL_ROWS
        register_commitlog_source(self.spark)

    def warm(self) -> None:
        """One untimed round with maintenance, so plans, Python workers and
        the stream source are warm. Its ops are part of the table's
        history, so the model replays them too."""
        self._round(np.random.default_rng(self.seed + 1), 0, OpLog(), maint=True)

    def run(self, seconds: float, log: OpLog) -> None:
        rng = np.random.default_rng(self.seed + 7919)
        deadline = time.perf_counter() + seconds
        r = 0
        while r == 0 or time.perf_counter() < deadline:
            self._round(rng, r, log, maint=(r % MAINT_EVERY == 0))
            r += 1

    # -- one round --------------------------------------------------------

    def _round(self, rng, r: int, log: OpLog, maint: bool) -> None:
        """append, [compact], merge, update, delete, the four reads, [drain]"""
        from nshm2022db_spark.streaming import sinks

        spark, t = self.spark, self.table
        batch = _rows(rng, self.next_id, APPEND_ROWS)
        self.next_id += APPEND_ROWS
        self._op(log, "append", batch, lambda: sinks.append_partition_transaction(
            spark, t, "event_type", spark.createDataFrame(batch, SCHEMA), stats_cols=STATS
        ))
        if maint:
            # right after an append every partition holds two files (the
            # last merge rewrote them to one), so this does rewrite
            self._op(log, "compact", None, lambda: sinks.compact_partition_table(
                spark, t, max_files_per_partition=COMPACT_MAX_FILES, stats_cols=STATS
            ))
        src = self._merge_source(rng)
        self._op(log, "merge", src, lambda: sinks.merge_into_table(
            spark, t, spark.createDataFrame(src, SCHEMA), ["event_id"],
            when_matched_update={"amount": "s.amount", "user_id": "s.user_id"},
            when_not_matched_insert=True, stats_cols=STATS,
        ))
        # 1/USER_MOD of the users, in one partition: never empty, and
        # only that partition rewrites
        target = (int(rng.integers(0, USER_MOD)), EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))])
        where = f"user_id % {USER_MOD} = {target[0]} AND event_type = '{target[1]}'"
        self._op(log, "update", target, lambda: sinks.update_table(
            spark, t, {"amount": "amount + 7"}, where=where, stats_cols=STATS
        ))
        # the next slice of users in the same partition
        gone = ((target[0] + 1) % USER_MOD, target[1])
        self._op(log, "delete", gone, lambda: sinks.delete_table(
            spark, t, where=f"user_id % {USER_MOD} = {gone[0]} AND event_type = '{gone[1]}'",
            stats_cols=STATS,
        ))
        self._reads(rng, log)
        if maint:
            self._op(log, "drain", None, self._drain, window=True)

    def _reads(self, rng, log: OpLog) -> None:
        from nshm2022db_spark.streaming import sinks

        spark, t = self.spark, self.table
        head = self._version()
        old = int(rng.integers(max(1, head - 8), head))
        lo = int(rng.integers(0, self.next_id - 5_000))
        hi = lo + 4_000
        frm = int(rng.integers(max(1, head - 4), head))
        self._op(log, "read_latest", None, lambda: _agg(sinks.read_keyed_table(spark, t)))
        self._op(log, "read_as_of", old, lambda: _agg(sinks.read_keyed_table(spark, t, version=old)))
        self._op(log, "read_pruned", (lo, hi), lambda: _agg(
            sinks.read_keyed_table(spark, t, prune={"event_id": (lo, hi)})
            .filter(f"event_id BETWEEN {lo} AND {hi}")
        ))
        self._op(log, "changes_typed", frm, lambda: _typed_rows(
            sinks.read_table_changes_typed(spark, t, from_version=frm)
        ))

    def _drain(self):
        from nshm2022db_spark.streaming.sinks import read_keyed_table, rollup_stream_to_table

        stream = (
            self.spark.readStream.format("commitlog")
            .option("path", self.table)
            .option("changeTypes", "true")
            .load()
            .select("event_type", "_change_type", "amount")
        )
        q = rollup_stream_to_table(
            stream, self.rollup, self.ckpt, keys=["event_type", "_change_type"],
            sum_cols={"amount": "amount"},
        )
        span = self.tracer.current()
        if span is not None:
            span.extra_groups.append(str(q.runId))
        q.awaitTermination()
        rows = read_keyed_table(self.spark, self.rollup).collect()
        return [(x["_change_type"], x["event_type"], int(x["n"]), int(x["amount"])) for x in rows]

    def _merge_source(self, rng) -> list[tuple]:
        n_new = int(MERGE_ROWS * MERGE_NEW_FRAC)
        n_old = MERGE_ROWS - n_new
        # existing keys favour recent ids: geometric distance back from the head
        back = rng.geometric(1.0 / 3000.0, 4 * n_old)
        ids = []
        seen = set()
        for b in back:
            eid = self.next_id - int(b)
            if eid >= 0 and eid not in seen:
                seen.add(eid)
                ids.append(eid)
            if len(ids) == n_old:
                break
        new = _rows(rng, self.next_id, n_new)
        self.next_id += n_new
        upd = [
            (eid, int(rng.integers(0, USERS)), EVENT_TYPES[eid % len(EVENT_TYPES)],
             int(rng.integers(1, 100_000)), eid * 10)
            for eid in ids
        ]
        return upd + new

    def _version(self) -> int:
        from nshm2022db_spark.streaming.sinks import current_commit

        return current_commit(self.table)["version"]

    def _op(self, log: OpLog, kind: str, args, fn, window: bool = False) -> None:
        klass = "light" if kind in READ_KINDS else "heavy"
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"sinks.{kind}" if kind != "drain" else "table_source.drain",
                                  self.tracer.new_request(), window=window):
                out = fn()
        except Exception as e:  # counted as failed, the loop goes on
            out = e
        rec = log.add(kind, klass, time.perf_counter() - t0)
        version = self._version() if kind in COMMIT_KINDS else None
        if kind in ("append", "merge"):
            self.submitted_bytes += len(args) * ROW_BYTES
        self.events.append((kind, args, version, out, rec))

    # -- correctness ------------------------------------------------------

    def check(self) -> list[str]:
        """Replay the op sequence on the model and compare every read."""
        model = Model()
        by_version: dict[int, dict] = {}
        errors = []
        for kind, args, version, out, rec in self.events:
            err = None
            if isinstance(out, Exception):
                err = f"raised {out!r}"
            elif kind == "append":
                model.append(args)
            elif kind == "merge":
                model.merge(args)
            elif kind == "update":
                model.update(*args, 7)
            elif kind == "delete":
                model.delete(*args)
            elif kind == "read_latest":
                if out != model.agg():
                    err = "latest snapshot differs from the model"
            elif kind == "read_as_of":
                if out != by_version.get(args):
                    err = f"version {args} differs from the model"
            elif kind == "read_pruned":
                if out != model.agg(*args):
                    err = f"pruned range {args} differs from the model"
            elif kind == "changes_typed":
                if fold_changes(out) != _diff(model.agg(), by_version.get(args, {})):
                    err = f"change feed from {args} does not fold to the model's diff"
            elif kind == "drain":
                if fold_changes(out) != _diff(model.agg(), by_version.get(0, {})):
                    err = "drained rollup does not fold to the model"
            if version is not None:
                by_version[version] = model.agg()
            if err:
                if rec is not None:
                    rec.ok = False
                errors.append(f"{kind}: {err}")
        return errors

    def storage(self) -> tuple[int, int]:
        """(bytes of the event and rollup tables on disk, bytes of rows the
        client submitted in the fixed-width encoding)."""
        return dir_bytes(self.table) + dir_bytes(self.rollup), self.submitted_bytes

    def layer_stats(self) -> dict:
        from nshm2022db_spark.streaming.sinks import read_keyed_table

        t_bytes = dir_bytes(self.table)
        t_files = [f for _, _, fs in os.walk(self.table) for f in fs if f.endswith(".parquet")]
        live = read_keyed_table(self.spark, self.table).inputFiles()
        live_bytes = sum(os.path.getsize(p.removeprefix("file:")) for p in live)
        commits = sum(1 for e in self.events if e[0] in COMMIT_KINDS and e[0] != "drain")
        return {
            "sinks.commits": commits,
            "sinks.data_files": len(t_files),
            "sinks.space_amp": t_bytes / live_bytes if live_bytes else 0.0,
            "live_bytes": live_bytes,
        }


def _typed_rows(feed) -> list[tuple]:
    if feed is None:
        return []
    from pyspark.sql import functions as F

    rows = (
        feed.groupBy("_change_type", "event_type")
        .agg(F.count(F.lit(1)), F.sum("amount"))
        .collect()
    )
    return [(x[0], x[1], int(x[2]), int(x[3])) for x in rows]
