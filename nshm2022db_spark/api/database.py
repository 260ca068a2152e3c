"""NSHMDB — the reference's public API (nshmdb/nshmdb.py:84-683) over a
directory of Parquet tables, one Spark engine for every path.

Differences from the reference, all deliberate and documented:
  * one engine — no SQLite/DuckDB split (nshmdb.py:655 re-attaches the
    SQLite file to DuckDB for the one analytical query);
  * `query()` hydrates every hit in one bridge scan — the reference
    issues one extra SQL round trip per result rupture (N+1,
    nshmdb.py:663-683);
  * `get_rupture_fault_info` filters on BOTH fault_system and nshm_id —
    the reference omits fault_system (nshmdb.py:589) and is ambiguous
    across systems since the natural key is only unique per system
    (schema.sql:47);
  * geometry stays in WGS84 lat/lon + depth km. The reference converts to
    the NZTM projected CRS on read through an external geodesy package
    (nshmdb.py:414,564); projection here is a pluggable hook
    (``projection=`` callable) rather than a hard dependency.

Scale: the three dimensions (parent_fault, fault, fault_plane) are held
on the driver as one snapshot, keyed on a stamp of their table dirs —
(path, size, mtime_ns) of every file, from os.walk, no Spark job. Any
append, through this instance or another on the same path, changes the
stamp and the next lookup reloads. Fault lookups then run no job; a
rupture lookup is two narrow scans with pushed predicates (the natural
key, then ``rupture_faults.rupture_id IN (...)``) and the driver labels,
orders and projects the geometry. At 100 TB partition the fact tables
by fault_system for partition pruning.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nshm2022db_spark import schemas
from nshm2022db_spark.operators import dense_surrogate_keys, upsert_missing
from nshm2022db_spark.operators.asof import nearest_ge_values
from nshm2022db_spark.plans.advanced_query import AdvancedQueryTables, advanced_query

# corner order matches the reference plane layout (schema.sql:22-31)
_CORNERS = ("top_left", "top_right", "bottom_right", "bottom_left")


@dataclass
class Plane:
    """A fault plane: 4×3 corner array [[lat, lon, depth_km] × 4]
    (reference: source_modelling Plane, constructed at nshmdb.py:406-415)."""

    corners: np.ndarray


@dataclass
class Fault:
    """A fault: list of planes (reference construction nshmdb.py:391-415)."""

    planes: list[Plane]

    @property
    def corners(self) -> np.ndarray:
        return np.vstack([p.corners for p in self.planes])


@dataclass
class FaultInfo:
    """reference: nshmdb.py:61-79"""

    fault_system: int
    fault_nshm_id: int
    name: str
    rake: float
    tect_type: int | None
    fault: Fault | None = None


@dataclass
class Rupture:
    """reference: nshmdb.py:40-58"""

    fault_system: int
    rupture_nshm_id: int
    magnitude: float | None
    area: float | None
    length: float | None
    rate: float | None
    faults: dict[str, Fault] = field(default_factory=dict)


def _corners(r) -> np.ndarray:
    """4×3 corner array of one fault_plane row."""
    return np.array(
        [
            [r[f"{c}_lat"], r[f"{c}_lon"], r["top_depth" if c.startswith("top") else "bottom_depth"]]
            for c in _CORNERS
        ]
    )


def _stamp(dirs: list[str]) -> frozenset:
    """(path, size, mtime_ns) of every file under ``dirs``; no Spark job."""
    out = set()
    for d in dirs:
        for dp, _, files in os.walk(d):
            for name in files:
                p = os.path.join(dp, name)
                try:
                    st = os.stat(p)
                except FileNotFoundError:  # moved by a concurrent writer
                    continue
                out.add((p, st.st_size, st.st_mtime_ns))
    return frozenset(out)


@dataclass
class _Dimensions:
    """Driver-held parent_fault, fault and fault_plane. A fault whose
    parent row is missing is left out, as the inner joins it replaces
    left it out."""

    stamp: frozenset
    fault_ids: dict[tuple[int, int], int]  # (fault_system, nshm_id) → fault_id
    faults: dict  # fault_id → fault Row
    names: dict[int, str]  # parent_id → name
    planes: dict[int, list[tuple[int, np.ndarray]]]  # fault_id → (plane_id, corners), by plane_id
    dim: DataFrame  # (fault_id, name): the membership DSL's dimension


class NSHMDB:
    """Parquet-directory database with the reference's method surface."""

    # fact tables partitioned by fault_system when partition_facts=True:
    # natural-key lookups and per-system queries then prune 2/3 of the
    # data at the file-listing level (SURVEY §1.4 / §4 scale note)
    _PARTITIONED = ("fault", "rupture")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        projection: Callable[[np.ndarray], np.ndarray] | None = None,
        partition_facts: bool = False,
    ):
        self.spark = spark
        self.path = path
        # hook for WGS→projected-CRS conversion (reference applies NZTM on
        # read, nshmdb.py:414,564); identity by default
        self.projection = projection
        self.partition_facts = partition_facts
        self._dims: _Dimensions | None = None

    # -- lifecycle (reference: create/with-context, nshmdb.py:104-163) ------

    @classmethod
    def create(cls, spark: SparkSession, path: str, **kw) -> "NSHMDB":
        """Idempotently materialize the 6-table schema (CREATE TABLE IF NOT
        EXISTS, schema.sql applied at nshmdb.py:104-117)."""
        db = cls(spark, path, **kw)
        os.makedirs(path, exist_ok=True)
        for name, schema in schemas.NSHM_TABLES.items():
            if not os.path.exists(db._table_path(name)):
                if db._partition_cols(name):
                    # partitioned layout: an empty dir IS the empty table
                    os.makedirs(db._table_path(name), exist_ok=True)
                else:
                    spark.createDataFrame([], schema).write.parquet(
                        db._table_path(name)
                    )
        return db

    def _table_path(self, name: str) -> str:
        return os.path.join(self.path, f"{name}.parquet")

    def _partition_cols(self, name: str) -> list[str]:
        if self.partition_facts and name in self._PARTITIONED:
            return ["fault_system"]
        return []

    def table(self, name: str) -> DataFrame:
        return self.spark.read.schema(schemas.NSHM_TABLES[name]).parquet(
            self._table_path(name)
        )

    def _append(self, name: str, df: DataFrame) -> None:
        writer = df.select(
            *[F.col(f.name).cast(f.dataType) for f in schemas.NSHM_TABLES[name].fields]
        ).write.mode("append")
        pcols = self._partition_cols(name)
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(self._table_path(name))

    # -- inserts (reference: nshmdb.py:250-366,452-468) ----------------------

    def insert_parent_faults(self, names: DataFrame) -> None:
        """Upsert parent-fault names (INSERT OR IGNORE, nshmdb.py:263-266):
        anti-join against existing, windowed dense keys from MAX(id)."""
        existing = self.table("parent_fault")
        fresh = upsert_missing(names.select("name").distinct(), existing, ["name"])
        offset = existing.agg(F.coalesce(F.max("parent_id"), F.lit(0))).collect()[0][0]
        self._append(
            "parent_fault",
            dense_surrogate_keys(fresh, ["name"], "parent_id", offset=int(offset)),
        )

    def insert(self, name: str, df: DataFrame) -> None:
        """Bulk append (executemany / to_sql(if_exists='append'),
        nshmdb.py:263-308); natural-key duplicates are the caller's
        contract, as in the reference."""
        self._append(name, df)

    def insert_many_faults(self, faults: list[FaultInfo]) -> None:
        """Bulk fault + geometry insert (reference nshmdb.py:250-311):
        upsert parent names, assign dense surrogate fault_ids from
        MAX(fault_id)+1 in list order, flatten each plane's 4 corners to
        the fault_plane row layout.

        Deviation from the reference (documented): first fault_id is
        MAX+1 even on an empty table (reference starts at 0 only when
        empty, nshmdb.py:272) — parent_fault keys already start at 1 here,
        so both surrogate families are consistently 1-based."""
        spark = self.spark
        self.insert_parent_faults(
            spark.createDataFrame([(f.name,) for f in faults], "name string")
        )
        parent_ids = {
            r["name"]: r["parent_id"] for r in self.table("parent_fault").collect()
        }
        offset = int(
            self.table("fault")
            .agg(F.coalesce(F.max("fault_id"), F.lit(0)))
            .collect()[0][0]
        )

        fault_rows, plane_rows = [], []
        for i, f in enumerate(faults):
            fid = offset + 1 + i
            fault_rows.append(
                (fid, f.fault_nshm_id, f.fault_system, f.rake, f.tect_type,
                 parent_ids[f.name])
            )
            for plane in (f.fault.planes if f.fault else []):
                c = plane.corners
                plane_rows.append(
                    tuple(float(c[j][k]) for j in range(4) for k in (0, 1))
                    + (float(c[0][2]), float(c[2][2]), fid, len(plane_rows))
                )
        self._append(
            "fault",
            spark.createDataFrame(fault_rows, schemas.NSHM_TABLES["fault"]),
        )
        if plane_rows:
            corner_cols = [
                f"{c}_{ax}"
                for c in _CORNERS
                for ax in ("lat", "lon")
            ]
            schema_str = (
                ", ".join(f"{c} double" for c in corner_cols)
                + ", top_depth double, bottom_depth double"
                + ", fault_id long, __seq long"
            )
            planes = spark.createDataFrame(plane_rows, schema_str)
            existing_max = int(
                self.table("fault_plane")
                .agg(F.coalesce(F.max("plane_id"), F.lit(0)))
                .collect()[0][0]
            )
            self._append(
                "fault_plane",
                dense_surrogate_keys(
                    planes, ["__seq"], "plane_id", offset=existing_max
                ).drop("__seq"),
            )

    @staticmethod
    def _assert_resolved(df: DataFrame, id_cols: list[str], what: str) -> DataFrame:
        """Fail loudly if any natural key failed to resolve to a surrogate
        (NULL id after the left join). The reference's dict-lookup merge
        surfaces a missing key as a KeyError; the join-based resolution
        would otherwise append NULL ids that point lookups silently drop.
        One cheap aggregate per ingest batch."""
        cond = None
        for c in id_cols:
            term = F.col(c).isNull()
            cond = term if cond is None else (cond | term)
        n_bad = df.filter(cond).count()
        if n_bad:
            raise ValueError(
                f"{what}: {n_bad} rows reference natural keys not present in "
                f"the target tables (NULL {id_cols} after resolution); "
                "insert the referenced faults/ruptures first"
            )
        return df

    def _resolve_fault_ids(self, df: DataFrame) -> DataFrame:
        """Natural (fault_system, fault_nshm_id) → surrogate fault_id
        broadcast left join (reference left-merge, nshmdb.py:313-322)."""
        idmap = self.table("fault").select(
            "fault_system", F.col("nshm_id").alias("fault_nshm_id"), "fault_id"
        )
        return df.join(F.broadcast(idmap), ["fault_system", "fault_nshm_id"], "left")

    def _resolve_rupture_ids(self, df: DataFrame) -> DataFrame:
        """Natural (fault_system, rupture_nshm_id) → surrogate rupture_id
        (reference nshmdb.py:324-334)."""
        idmap = self.table("rupture").select(
            "fault_system", F.col("nshm_id").alias("rupture_nshm_id"), "rupture_id"
        )
        return df.join(F.broadcast(idmap), ["fault_system", "rupture_nshm_id"], "left")

    def insert_many_ruptures(
        self, ruptures: DataFrame, rupture_faults: DataFrame
    ) -> None:
        """Bulk rupture + bridge insert (reference nshmdb.py:336-366).

        ``ruptures``: columns (nshm_id, fault_system, magnitude, area,
        len, rate). ``rupture_faults``: NATURAL keys — (rupture_nshm_id,
        fault_nshm_id, fault_system) — resolved to surrogates via the two
        broadcast id-map joins before the bridge append."""
        offset = int(
            self.table("rupture")
            .agg(F.coalesce(F.max("rupture_id"), F.lit(0)))
            .collect()[0][0]
        )
        self._append(
            "rupture",
            dense_surrogate_keys(
                ruptures, ["fault_system", "nshm_id"], "rupture_id", offset=offset
            ),
        )
        bridge = self._assert_resolved(
            self._resolve_rupture_ids(self._resolve_fault_ids(rupture_faults)),
            ["rupture_id", "fault_id"],
            "insert_many_ruptures bridge",
        )
        b_offset = int(
            self.table("rupture_faults")
            .agg(F.coalesce(F.max("rupture_fault_id"), F.lit(0)))
            .collect()[0][0]
        )
        self._append(
            "rupture_faults",
            dense_surrogate_keys(
                bridge.select("rupture_id", "fault_id"),
                ["rupture_id", "fault_id"],
                "rupture_fault_id",
                offset=b_offset,
            ),
        )

    def insert_solution(
        self,
        sol: dict,
        include_faults: bool = True,
        include_ruptures: bool = True,
        include_mfds: bool = True,
    ) -> None:
        """Ingest a composite solution (sources.nshm_api.composite_solution
        output) END-TO-END as DataFrames — the distributed twin of the
        reference's driver-side object pipeline (api.py:595-622 →
        nshmdb.py:250-366,452-468). Nothing but the tiny parent-name and
        id maps ever reaches the driver; plane construction runs as a
        shuffle-free mapInPandas over the trace partitions.

        ``sol`` keys: faults (fault_nshm_id, name, rake, dip, dip_dir,
        top_depth, bottom_depth, trace, fault_system),
        rupture_properties (nshm_id, magnitude, area, len, rate,
        fault_system), rupture_join_table (rupture_id, fault_id —
        NATURAL ids — fault_system), magnitude_frequency_distribution
        (nshm_id, magnitude, rate, fault_system) or None.

        The three include_* flags mirror the reference CLI's
        --skip-*-creation options (scripts/nshm_db_generator.py:57-59);
        as there, skipping faults while inserting ruptures only works
        against a database that already has the faults (unresolvable
        bridge keys raise via _assert_resolved)."""
        from nshm2022db_spark.functions.geo import traces_to_planes
        faults = sol["faults"]
        if not include_faults:
            if include_ruptures:
                self._insert_solution_ruptures(sol)
            if include_mfds:
                self._insert_solution_mfds(sol)
            return
        self.insert_parent_faults(faults.select("name"))
        parent_map = F.broadcast(self.table("parent_fault"))

        offset = int(
            self.table("fault")
            .agg(F.coalesce(F.max("fault_id"), F.lit(0)))
            .collect()[0][0]
        )
        keyed = dense_surrogate_keys(
            faults, ["fault_system", "fault_nshm_id"], "fault_id", offset=offset
        ).localCheckpoint(eager=True)  # keys must not be recomputed per branch below
        self._append(
            "fault",
            keyed.join(parent_map, "name").select(
                "fault_id",
                F.col("fault_nshm_id").alias("nshm_id"),
                "fault_system",
                "rake",
                F.lit(None).cast("int").alias("tect_type"),  # api.py:285
                "parent_id",
            ),
        )

        planes = traces_to_planes(keyed, id_cols=["fault_id"])
        p_offset = int(
            self.table("fault_plane")
            .agg(F.coalesce(F.max("plane_id"), F.lit(0)))
            .collect()[0][0]
        )
        self._append(
            "fault_plane",
            dense_surrogate_keys(
                planes, ["fault_id", "segment_idx"], "plane_id", offset=p_offset
            ),
        )

        if include_ruptures:
            self._insert_solution_ruptures(sol)
        if include_mfds:
            self._insert_solution_mfds(sol)

    def _insert_solution_ruptures(self, sol: dict) -> None:
        self.insert_many_ruptures(
            sol["rupture_properties"].select(
                "nshm_id", "fault_system", "magnitude", "area", "len", "rate"
            ),
            sol["rupture_join_table"].select(
                F.col("rupture_id").alias("rupture_nshm_id"),
                F.col("fault_id").alias("fault_nshm_id"),
                "fault_system",
            ),
        )

    def _insert_solution_mfds(self, sol: dict) -> None:
        mfds = sol.get("magnitude_frequency_distribution")
        if mfds is not None:
            self.insert_magnitude_frequency_distribution(
                mfds.select("nshm_id", "fault_system", "magnitude", "rate")
            )

    def insert_magnitude_frequency_distribution(self, mfds: DataFrame) -> None:
        """Bulk MFD insert (reference nshmdb.py:452-468): resolve
        (fault_system, nshm_id) → fault_id, append (fault_id, magnitude,
        rate) with dense entry ids."""
        resolved = self._assert_resolved(
            self._resolve_fault_ids(
                mfds.withColumnRenamed("nshm_id", "fault_nshm_id")
            ),
            ["fault_id"],
            "insert_magnitude_frequency_distribution",
        )
        offset = int(
            self.table("magnitude_frequency_distribution")
            .agg(F.coalesce(F.max("entry_id"), F.lit(0)))
            .collect()[0][0]
        )
        self._append(
            "magnitude_frequency_distribution",
            dense_surrogate_keys(
                resolved.select("fault_id", "magnitude", "rate"),
                ["fault_id", "magnitude"],
                "entry_id",
                offset=offset,
            ),
        )

    # -- point lookups (reference: nshmdb.py:368-527) ------------------------

    def _dimensions(self) -> _Dimensions:
        """The dimension snapshot; reloaded (three collects) only when a
        file under the three table dirs was added, removed or rewritten.
        The stamp is taken before the reads, so a write racing a reload
        leaves a stale stamp and the next call reloads again."""
        stamp = _stamp([self._table_path(t) for t in ("parent_fault", "fault", "fault_plane")])
        if self._dims is None or self._dims.stamp != stamp:
            names = {r.parent_id: r.name for r in self.table("parent_fault").collect()}
            faults = {r.fault_id: r for r in self.table("fault").collect() if r.parent_id in names}
            planes: dict[int, list[tuple[int, np.ndarray]]] = {}
            for r in sorted(self.table("fault_plane").collect(), key=lambda r: r.plane_id):
                planes.setdefault(r.fault_id, []).append((r.plane_id, _corners(r)))
            fault_ids = {(r.fault_system, r.nshm_id): fid for fid, r in faults.items()}
            dim = self.spark.createDataFrame(
                [(fid, names[r.parent_id]) for fid, r in faults.items()], "fault_id long, name string"
            )
            self._dims = _Dimensions(stamp, fault_ids, faults, names, planes, dim)
        return self._dims

    def _plane(self, corners: np.ndarray) -> Plane:
        # a copy per call: the caller owns the result, the snapshot stays
        # intact, and the projection hook runs on every call
        c = corners.copy()
        return Plane(self.projection(c) if self.projection else c)

    def _fault_info(self, d: _Dimensions, fault_id: int) -> FaultInfo:
        f = d.faults[fault_id]
        return FaultInfo(f.fault_system, f.nshm_id, d.names[f.parent_id], f.rake, f.tect_type)

    def get_fault(self, fault_system: int, fault_nshm_id: int) -> Fault:
        """reference: nshmdb.py:368-415 (J1); an unknown key gives an empty
        Fault"""
        d = self._dimensions()
        fid = d.fault_ids.get((fault_system, fault_nshm_id))
        return Fault([self._plane(c) for _, c in d.planes.get(fid, [])])

    def get_fault_info(self, fault_system: int, fault_nshm_id: int) -> FaultInfo:
        """reference: nshmdb.py:417-450 (J2)"""
        d = self._dimensions()
        fid = d.fault_ids.get((fault_system, fault_nshm_id))
        if fid is None:
            raise KeyError(f"no fault ({fault_system}, {fault_nshm_id})")
        return self._fault_info(d, fid)

    def _rupture_rows(self, fault_system: int, rupture_nshm_id: int) -> list:
        return (
            self.table("rupture")
            .filter(
                (F.col("nshm_id") == rupture_nshm_id)
                & (F.col("fault_system") == fault_system)
            )
            .collect()
        )

    def _sections(self, d: _Dimensions, rupture_ids: list[int]) -> dict[int, list[int]]:
        """rupture_id → fault_ids of its bridge rows that the snapshot
        knows, as the inner joins did: one narrow scan."""
        out: dict[int, list[int]] = {rid: [] for rid in rupture_ids}
        if rupture_ids:
            for r in (
                self.table("rupture_faults")
                .filter(F.col("rupture_id").isin(rupture_ids))
                .select("rupture_id", "fault_id")
                .collect()
            ):
                if r.fault_id in d.faults:
                    out[r.rupture_id].append(r.fault_id)
        return out

    def _geometry(self, d: _Dimensions, fault_ids: list[int]) -> dict[str, Fault]:
        """One rupture's planes in (parent_id, plane_id) order, grouped by
        the reference's labels (nshmdb.py:559-563): CRUSTAL ruptures merge
        every section of a parent into ONE fault keyed by the bare parent
        name (geometries are only connected in the crustal setting); other
        systems keep "<name>: Section <fault_id>" with the SURROGATE id,
        exactly as the reference formats it."""
        planes = sorted(
            (
                (d.faults[fid].parent_id, pid, fid, c)
                for fid in fault_ids
                for pid, c in d.planes.get(fid, [])
            ),
            key=lambda p: p[:2],
        )
        out: dict[str, Fault] = {}
        for parent_id, _, fid, c in planes:
            name = d.names[parent_id]
            crustal = d.faults[fid].fault_system == schemas.FAULT_SYSTEMS["Crustal"]
            label = name if crustal else f"{name}: Section {fid}"
            out.setdefault(label, Fault([])).planes.append(self._plane(c))
        return out

    def get_rupture_faults(self, rupture_id: int) -> dict[str, Fault]:
        """All fault geometry of one rupture, grouped by section label
        (reference: nshmdb.py:502-565, J3 + driver-side regrouping). The
        parameter is the INTERNAL rupture_id — the reference's docstring
        says nshm id but it is always called with internal ids
        (nshmdb.py:499,672); here the name tells the truth."""
        d = self._dimensions()
        return self._geometry(d, self._sections(d, [rupture_id])[rupture_id])

    def get_rupture(self, fault_system: int, rupture_nshm_id: int) -> Rupture:
        """reference: nshmdb.py:470-500 (P2 + chained geometry fetch)"""
        rows = self._rupture_rows(fault_system, rupture_nshm_id)
        if not rows:
            raise KeyError(f"no rupture ({fault_system}, {rupture_nshm_id})")
        r = rows[0]
        return Rupture(
            fault_system=r.fault_system,
            rupture_nshm_id=r.nshm_id,
            magnitude=r.magnitude,
            area=r.area,
            length=r.len,
            rate=r.rate,
            faults=self.get_rupture_faults(r.rupture_id),
        )

    def _rupture_fault_ids(self, d: _Dimensions, fault_system: int, rupture_nshm_id: int) -> list[int]:
        """The sections of a rupture known to the snapshot: two narrow scans."""
        rids = [r.rupture_id for r in self._rupture_rows(fault_system, rupture_nshm_id)]
        return [fid for fids in self._sections(d, rids).values() for fid in fids]

    def get_rupture_fault_info(
        self, fault_system: int, rupture_nshm_id: int
    ) -> list[FaultInfo]:
        """Fault info for every section of a rupture (reference:
        nshmdb.py:567-621, J4); [] for an unknown rupture. Fixed: filters
        on fault_system too."""
        d = self._dimensions()
        return [self._fault_info(d, fid) for fid in self._rupture_fault_ids(d, fault_system, rupture_nshm_id)]

    def get_fault_names(self) -> set[str]:
        """reference: nshmdb.py:596-607 (A9)"""
        return set(self._dimensions().names.values())

    def get_fault_ids(self) -> set[int]:
        """reference: nshmdb.py:609-621"""
        return {nshm_id for _, nshm_id in self._dimensions().fault_ids}

    # -- rates (reference: most_likely_fault, nshmdb.py:165-248) -------------

    def most_likely_fault(
        self, fault_system: int, rupture_nshm_id: int, magnitudes: dict[str, float]
    ) -> dict[str, float]:
        """Σ MFD rate per parent fault at the nearest-≥ magnitude
        (J11 + A1, nshmdb.py:204-234): round each requested magnitude up
        to the smallest distinct MFD magnitude ≥ it (clamped to max)
        over the rupture's GLOBAL magnitude set — all its faults, the
        reference's single searchsorted array — then sum rates per
        parent-fault name. A parent with no MFD row at its rounded
        magnitude is OMITTED from the result, exactly as the
        reference's equality join drops it (rounding within each
        parent's own set would fabricate an answer instead). The
        rupture's MFD rows (≤ sections × bins) come in one scan."""
        d = self._dimensions()
        fids = self._rupture_fault_ids(d, fault_system, rupture_nshm_id)
        mfd: dict[int, list[tuple[float, float]]] = {}
        if fids:
            for r in (
                self.table("magnitude_frequency_distribution")
                .filter(F.col("fault_id").isin(fids))
                .select("fault_id", "magnitude", "rate")
                .collect()
            ):
                mfd.setdefault(r.fault_id, []).append((r.magnitude, r.rate))
        rows = [(d.names[d.faults[fid].parent_id], m, rate) for fid in fids for m, rate in mfd.get(fid, [])]
        if not rows:
            return {}
        rounded = nearest_ge_values([m for _, m, _ in rows], list(magnitudes.values()))
        out = {}
        for name, target in zip(magnitudes, rounded):
            rates = [rate for n, m, rate in rows if n == name and m == target]
            if rates:
                out[name] = sum(rates)
        return out

    # -- the advanced query (reference: nshmdb.py:623-683) -------------------

    def query(
        self,
        query_str: str,
        rate_bounds: tuple[float | None, float | None] | None = None,
        magnitude_bounds: tuple[float | None, float | None] | None = None,
        limit: int = 100,
        fault_count_limit: int | None = None,
    ) -> list[Rupture]:
        """Membership-DSL query → hydrated Ruptures WITH geometry: the
        advanced_query plan over the snapshot's (fault_id, name)
        dimension, then one bridge scan for every hit's sections, with
        the geometry from the snapshot — no per-row round trips (§3.1)."""
        d = self._dimensions()
        t = AdvancedQueryTables(
            fact=self.table("rupture"),
            bridge=self.table("rupture_faults"),
            dim=d.dim,
            fact_key="rupture_id",
            bridge_fact_key="rupture_id",
            bridge_dim_key="fault_id",
            dim_key="fault_id",
            name_col="name",
            rate_col="rate",
            magnitude_col="magnitude",
        )
        rows = advanced_query(
            t,
            query_str,
            rate_bounds=rate_bounds,
            magnitude_bounds=magnitude_bounds,
            limit=limit,
            fault_count_limit=fault_count_limit,
        ).collect()
        sections = self._sections(d, [r.rupture_id for r in rows])
        return [
            Rupture(
                r.fault_system,
                r.nshm_id,
                r.magnitude,
                r.area,
                r.len,
                r.rate,
                faults=self._geometry(d, sections[r.rupture_id]),
            )
            for r in rows
        ]
