"""``nshm_lookup``: the reference's serving path over a seeded logic tree.

Set-up lands logic-tree branch dirs in the solution-zip member layout
(GeoJSON fault sections, ragged rupture indices, rate / property CSVs and
wide MFD CSVs) for the Crustal, Hikurangi and Puysegur fault systems,
builds the database through ``composite_solution`` and
``NSHMDB.insert_solution`` (called as its three ``include_*`` stages),
and warms each op kind. The timed closed loop then issues rounds of
point lookups and analytic ops with Zipf-skewed keys. The generator
keeps the ground truth, and every result is checked after the loop.
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np

from harness import OpLog, dir_bytes, median

# scale: the point-op latencies do not depend on it (the data is tiny),
# the set-up time does
CRUSTAL_PARENTS = 48
CRUSTAL_SECTIONS = (4, 12)  # sections per parent, inclusive
SUBDUCTION_SECTIONS = {"HIK": 120, "PUY": 40}
RUPTURES = {"CRU": 8000, "HIK": 1600, "PUY": 400}
BRANCHES = {"CRU": 2, "HIK": 1, "PUY": 1}
MFD_BINS = [round(6.05 + 0.1 * i, 2) for i in range(40)]
ZIPF_S = 1.1

POINT_KINDS = ("get_fault", "get_fault_info", "get_rupture", "get_rupture_fault_info")
ANALYTIC_KINDS = ("query", "most_likely_fault")
# one round of the closed loop: two of each point kind, one of each analytic
ROUND = POINT_KINDS * 2 + ANALYTIC_KINDS

_WORDS = (
    "Alpine", "Hope", "Wairau", "Awatere", "Clarence", "Kekerengu",
    "Wellington", "Ohariu", "Wairarapa", "Kakapo", "Porters Pass",
    "Ostler", "Paeroa", "Ruahine", "Mohaka", "Waimea", "Greendale",
    "Hundalee", "Jordan", "Papatea", "Fidget", "Needles", "Booboo",
    "Te Heka",
)


def crustal_names(n: int) -> list[str]:
    return [f"{_WORDS[i % len(_WORDS)]} {i // len(_WORDS) + 1}" for i in range(n)]


# -- input generation --------------------------------------------------------


def generate(seed: int) -> dict:
    """The whole logic tree as plain Python: sections, ruptures, per-branch
    rates and MFDs, and the branch weights. Depends on ``seed`` only."""
    from nshm2022db_spark.sources.nshm_api import HIKURANGI_NAME, PUYSEGUR_NAME

    rng = np.random.default_rng(seed)
    systems = {}
    names = crustal_names(CRUSTAL_PARENTS)

    def section(rng, nid, name, lon, lat, strike, n_pts, top, bottom, dip):
        pts, x, y = [], lon, lat
        for _ in range(n_pts):
            pts.append([round(x, 6), round(y, 6)])
            step = rng.uniform(0.03, 0.08)
            x += step * math.sin(strike) + rng.uniform(0.002, 0.01)
            y += step * math.cos(strike)
        dip_dir = None if rng.random() < 0.15 else round(float(rng.uniform(0, 360)), 3)
        return {
            "nid": nid, "name": name, "trace": pts, "top": top, "bottom": bottom,
            "dip": dip, "dip_dir": dip_dir, "rake": round(float(rng.uniform(-180, 180)), 3),
        }

    # Crustal: parents along a ring, each split into contiguous sections
    secs, by_parent, nid = [], [], 0
    for p, name in enumerate(names):
        lon0, lat0 = rng.uniform(166.5, 178.0), rng.uniform(-46.5, -36.0)
        strike = rng.uniform(0, 2 * math.pi)
        dip = 90.0 if rng.random() < 0.2 else round(float(rng.uniform(35, 85)), 2)
        bottom = round(float(rng.uniform(12, 20)), 2)
        ids = []
        for _ in range(int(rng.integers(CRUSTAL_SECTIONS[0], CRUSTAL_SECTIONS[1] + 1))):
            s = section(rng, nid, name, lon0, lat0, strike, int(rng.integers(2, 5)), 0.0, bottom, dip)
            lon0, lat0 = s["trace"][-1][0] + 0.01, s["trace"][-1][1] + 0.005
            secs.append(s)
            ids.append(nid)
            nid += 1
        by_parent.append(ids)
    ruptures = []
    for rid in range(RUPTURES["CRU"]):
        p = int(rng.integers(0, len(names)))
        ids = by_parent[p]
        start = int(rng.integers(0, len(ids)))
        chosen = ids[start : start + int(rng.integers(1, 7))]
        for hop in (1, 2):  # multi-fault ruptures jump to ring neighbours
            if rng.random() < (0.4 if hop == 1 else 0.15):
                nb = by_parent[(p + hop) % len(names)]
                chosen = chosen + nb[: int(rng.integers(1, min(4, len(nb)) + 1))]
        ruptures.append((rid, chosen))
    systems["CRU"] = {"sections": secs, "ruptures": ruptures, "system": 3}

    for short, sentinel, code in (("HIK", HIKURANGI_NAME, 1), ("PUY", PUYSEGUR_NAME, 2)):
        n = SUBDUCTION_SECTIONS[short]
        lon0, lat0 = (178.0, -41.5) if short == "HIK" else (166.0, -46.5)
        secs = []
        for i in range(n):
            row, col = divmod(i, 10)
            s = section(rng, i, sentinel, lon0 + 0.12 * col, lat0 + 0.1 * row, 0.5, 2,
                        5.0 + row, 8.0 + row, round(float(rng.uniform(8, 20)), 2))
            secs.append(s)
        ruptures = []
        for rid in range(RUPTURES[short]):
            start = int(rng.integers(0, n))
            ruptures.append((rid, list(range(start, min(n, start + int(rng.integers(1, 9)))))))
        systems[short] = {"sections": secs, "ruptures": ruptures, "system": code}

    for short, sysd in systems.items():
        nb = BRANCHES[short]
        w = rng.uniform(0.5, 1.5, nb)
        sysd["weights"] = [float(x) for x in w / w.sum()]
        sec_len = {s["nid"]: 8000.0 + 4000.0 * (len(s["trace"]) - 1) for s in sysd["sections"]}
        props = []
        for rid, chosen in sysd["ruptures"]:
            length = float(sum(sec_len[c] for c in chosen))
            area = length * float(rng.uniform(12e3, 20e3))
            mag = round(min(9.2, math.log10(area / 1e6) + 4.0 + float(rng.normal(0, 0.1))), 4)
            props.append((rid, mag, round(area, 1), round(length, 1)))
        sysd["props"] = props
        base = 10.0 ** rng.uniform(-7, -3, len(props))
        rates = []
        for _ in range(nb):
            r = base * rng.lognormal(0.0, 0.5, len(props))
            r[rng.random(len(props)) < 0.05] = 0.0
            rates.append(r)
        sysd["rates"] = rates
        n_sec = len(sysd["sections"])
        mfds = []
        for _ in range(nb):
            m = 10.0 ** rng.uniform(-8, -3, (n_sec, len(MFD_BINS)))
            m[rng.random(m.shape) < 0.3] = 0.0
            mfds.append(m)
        sysd["mfds"] = mfds
    return systems


def land(systems: dict, root: str) -> dict[str, list[tuple[float, str]]]:
    """Write every branch dir; returns the ``landed`` mapping that
    ``composite_solution`` takes."""
    from nshm2022db_spark.sources import nshm_api as api

    landed = {}
    for short, sysd in systems.items():
        feats = []
        for s in sysd["sections"]:
            props = {
                "FaultID": s["nid"], "ParentName": s["name"], "Rake": s["rake"],
                "DipDeg": s["dip"], "UpDepth": s["top"], "LowDepth": s["bottom"],
            }
            if s["dip_dir"] is not None:
                props["DipDir"] = s["dip_dir"]
            feats.append({
                "type": "Feature",
                "geometry": {"type": "LineString", "coordinates": s["trace"]},
                "properties": props,
            })
        geojson = json.dumps({"type": "FeatureCollection", "features": feats})
        indices = "Rupture Index,Num Sections,Sections\n" + "".join(
            f"{rid},{len(ch)}," + ",".join(map(str, ch)) + "\n" for rid, ch in sysd["ruptures"]
        )
        properties = 'Rupture Index,Magnitude,"Area (m^2)","Length (m)"\n' + "".join(
            f"{rid},{mag!r},{area!r},{length!r}\n" for rid, mag, area, length in sysd["props"]
        )
        header = "Section Index," + ",".join(f"{b:.2f}" for b in MFD_BINS) + "\n"
        landed[short] = []
        for b, w in enumerate(sysd["weights"]):
            d = os.path.join(root, short, f"branch_{b}")
            rates = "Rupture Index,Annual Rate\n" + "".join(
                f"{rid},{float(r)!r}\n" for rid, r in enumerate(sysd["rates"][b])
            )
            mfd = header + "".join(
                f"{s['nid']}," + ",".join(repr(float(x)) for x in row) + "\n"
                for s, row in zip(sysd["sections"], sysd["mfds"][b])
            )
            for member, text in (
                (api.FAULT_INFORMATION_PATH, geojson),
                (api.RUPTURE_FAULT_JOIN_PATH, indices),
                (api.RUPTURE_PROPERTIES_PATH, properties),
                (api.RUPTURE_RATES_PATH, rates),
                (api.MFDS_PATH, mfd),
            ):
                path = os.path.join(d, member)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "w") as f:
                    f.write(text)
            landed[short].append((w, d))
    return landed


class Truth:
    """Expected answers, computed with NumPy from the generated tree."""

    def __init__(self, systems: dict) -> None:
        self.faults = {}  # (system, nid) → section dict
        self.ruptures = {}  # (system, rid) → (mag, area, len, rate, [nid])
        self.mfd = {}  # (system, nid) → {magnitude: rate}
        for sysd in systems.values():
            code = sysd["system"]
            w = np.asarray(sysd["weights"])
            comp = np.tensordot(w, np.vstack(sysd["rates"]), axes=1)
            for (rid, chosen), (_, mag, area, length), rate in zip(
                sysd["ruptures"], sysd["props"], comp
            ):
                self.ruptures[(code, rid)] = (mag, area, length, float(rate), chosen)
            m = np.stack(sysd["mfds"])  # branch × section × bin
            comp_mfd = np.tensordot(w, m, axes=1)
            present = (m > 0).any(axis=0)
            for i, s in enumerate(sysd["sections"]):
                self.faults[(code, s["nid"])] = s
                self.mfd[(code, s["nid"])] = {
                    float(f"{b:.2f}"): float(comp_mfd[i, j])
                    for j, b in enumerate(MFD_BINS)
                    if present[i, j]
                }
        # surrogate fault_id = rank of the natural key (fault_system, nid)
        self.fault_id = {k: i + 1 for i, k in enumerate(sorted(self.faults))}

    def table_counts(self) -> dict[str, int]:
        return {
            "parent_fault": len({s["name"] for s in self.faults.values()}),
            "fault": len(self.faults),
            "fault_plane": sum(len(s["trace"]) - 1 for s in self.faults.values()),
            "rupture": len(self.ruptures),
            "rupture_faults": sum(len(r[4]) for r in self.ruptures.values()),
            "magnitude_frequency_distribution": sum(len(m) for m in self.mfd.values()),
        }

    def most_likely_fault(self, code: int, rid: int, targets: dict[str, float]) -> dict[str, float]:
        chosen = self.ruptures[(code, rid)][4]
        domain = sorted({m for c in chosen for m in self.mfd[(code, c)]})
        out: dict[str, float] = {}
        for name, t in targets.items():
            ge = [m for m in domain if m >= t]
            rounded = ge[0] if ge else domain[-1]
            rows = [
                self.mfd[(code, c)][rounded]
                for c in chosen
                if self.faults[(code, c)]["name"] == name and rounded in self.mfd[(code, c)]
            ]
            if rows:
                out[name] = float(sum(rows))
        return out


# -- the op mix --------------------------------------------------------------


def zipf_keys(rng, keys: list, n: int) -> list:
    order = rng.permutation(len(keys))
    p = 1.0 / np.arange(1, len(keys) + 1) ** ZIPF_S
    picks = rng.choice(len(keys), size=n, p=p / p.sum())
    return [keys[order[i]] for i in picks]


# expression shapes over ring neighbours A, B, C of one parent and a
# random parent D. Multi-fault ruptures hop to the next one or two
# parents, so every shape has dozens of hits: the hydrated result, and so
# the query's cost, does not swing between empty and full.
DSL_SHAPES = (
    "{A} | {B}",
    "{A} & {B}",
    "{A} & {B} | {C}",
    "({A} | {B}) & !{D}",
    "{A} & !{D} | {B} & {C}",
    "({A} & {B}) | ({C} & !{D})",
)
QUERY_LIMIT = 25


def random_dsl(rng, names: list[str]) -> str:
    """A 2-4 atom expression of one of ``DSL_SHAPES``."""
    p = int(rng.integers(0, len(names)))
    a, b, c = (names[(p + k) % len(names)] for k in range(3))
    d = names[(p + int(rng.integers(4, len(names) - 1))) % len(names)]
    return DSL_SHAPES[int(rng.integers(0, len(DSL_SHAPES)))].format(A=a, B=b, C=c, D=d)


def make_ops(seed: int, truth: Truth, n_rounds: int) -> list[tuple[str, tuple]]:
    """The seeded op sequence: ``n_rounds`` rounds of ``ROUND``, shuffled
    within each round."""
    rng = np.random.default_rng(seed + 7919)
    fault_keys = sorted(truth.faults)
    rupt_keys = sorted(truth.ruptures)
    n = n_rounds * 2
    fkeys = zipf_keys(rng, fault_keys, 2 * n)
    rkeys = zipf_keys(rng, rupt_keys, 3 * n)
    names = crustal_names(CRUSTAL_PARENTS)
    rates = sorted(r[3] for r in truth.ruptures.values() if r[3] > 0)
    ops = []
    for _ in range(n_rounds):
        kinds = list(ROUND)
        rng.shuffle(kinds)
        for kind in kinds:
            if kind in ("get_fault", "get_fault_info"):
                ops.append((kind, fkeys.pop()))
            elif kind in ("get_rupture", "get_rupture_fault_info"):
                ops.append((kind, rkeys.pop()))
            elif kind == "query":
                lo = rates[int(rng.integers(0, len(rates) // 4))] if rng.random() < 0.7 else None
                mag = (round(float(rng.uniform(6.0, 6.4)), 2), None) if rng.random() < 0.5 else None
                ops.append((kind, (random_dsl(rng, names), (lo, None), mag)))
            else:
                code, rid = rkeys.pop()
                parents = sorted({truth.faults[(code, c)]["name"] for c in truth.ruptures[(code, rid)][4]})
                targets = {
                    nm: round(float(rng.uniform(MFD_BINS[0] - 0.1, MFD_BINS[-1] + 0.1)), 3)
                    for nm in parents
                }
                ops.append((kind, (code, rid, targets)))
    return ops


def call(db, kind: str, args):
    if kind == "query":
        q, rate_bounds, mag_bounds = args
        return db.query(q, rate_bounds=rate_bounds, magnitude_bounds=mag_bounds, limit=QUERY_LIMIT)
    return getattr(db, kind)(*args)


# -- the workload ------------------------------------------------------------


class NshmLookup:
    def __init__(self, spark, tracer, root: str, seed: int) -> None:
        self.spark, self.tracer, self.root, self.seed = spark, tracer, root, seed
        self.results = []  # (OpRecord, kind, args, result)
        self.ingest_s: list[float] = []

    def setup(self) -> None:
        """Generate and land the logic tree, then build a fresh database
        from it. Repeated set-ups rebuild from scratch in a new dir."""
        from nshm2022db_spark.api import NSHMDB
        from nshm2022db_spark.sources.nshm_api import composite_solution

        base = os.path.join(self.root, f"rep{len(self.ingest_s) + 1}")
        systems = generate(self.seed)
        self.truth = Truth(systems)
        landed = land(systems, os.path.join(base, "landing"))
        self.source_bytes = dir_bytes(os.path.join(base, "landing"))
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("ingest", tr.new_request()):
            with tr.span("etl.composite_solution"):
                sol = composite_solution(self.spark, landed)
            self.db_path = os.path.join(base, "nshmdb")
            db = NSHMDB.create(self.spark, self.db_path)
            with tr.span("api.insert_faults"):
                db.insert_solution(sol, include_ruptures=False, include_mfds=False)
            with tr.span("api.insert_ruptures"):
                db.insert_solution(sol, include_faults=False, include_mfds=False)
            with tr.span("api.insert_mfds"):
                db.insert_solution(sol, include_faults=False, include_ruptures=False)
        self.ingest_s.append(time.perf_counter() - t0)
        self.db = db

    def warm(self) -> None:
        """One untimed call of every op kind (plans, broadcasts, Python
        workers)."""
        seen = set()
        for kind, args in make_ops(self.seed + 1, self.truth, 1):
            if kind not in seen:
                seen.add(kind)
                call(self.db, kind, args)

    def run(self, seconds: float, log: OpLog) -> None:
        from nshm2022db_spark.dsl import parse_query

        ops = make_ops(self.seed, self.truth, 400)
        tr = self.tracer
        deadline = time.perf_counter() + seconds
        i = 0
        while i < len(ops) and (i % len(ROUND) or time.perf_counter() < deadline):
            kind, args = ops[i]
            i += 1
            klass = "light" if kind in POINT_KINDS else "heavy"
            if tr.enabled and kind == "query":
                self._probe_plan(args, parse_query)
            req = tr.new_request()
            t0 = time.perf_counter()
            try:
                with tr.span(f"api.{kind}", req):
                    out = call(self.db, kind, args)
            except Exception as e:  # a failed op is counted, not fatal
                out = e
            rec = log.add(kind, klass, time.perf_counter() - t0)
            self.results.append((rec, kind, args, out))

    def _probe_plan(self, args, parse_query) -> None:
        """The DSL parse and the lazy plan build of a query, timed on their
        own (no action runs) so parser and planner changes show."""
        from pyspark.sql import functions as F

        from nshm2022db_spark.plans.advanced_query import AdvancedQueryTables, advanced_query

        q, rate_bounds, mag_bounds = args
        with self.tracer.span("dsl.parse_query"):
            parse_query(q)
        with self.tracer.span("plans.advanced_query"):
            db = self.db
            f, pf = db.table("fault").alias("f"), db.table("parent_fault").alias("pf")
            dim = f.join(F.broadcast(pf), F.col("f.parent_id") == F.col("pf.parent_id")).select(
                F.col("f.fault_id").alias("fault_id"), F.col("pf.name").alias("name")
            )
            advanced_query(
                AdvancedQueryTables(
                    fact=db.table("rupture"), bridge=db.table("rupture_faults"), dim=dim,
                    fact_key="rupture_id", bridge_fact_key="rupture_id",
                    bridge_dim_key="fault_id", dim_key="fault_id", name_col="name",
                    rate_col="rate", magnitude_col="magnitude",
                ),
                q, rate_bounds=rate_bounds, magnitude_bounds=mag_bounds, limit=QUERY_LIMIT,
            )

    # -- correctness, after the timed loop ------------------------------------

    def check(self) -> list[str]:
        import duckdb

        from nshm2022db_spark.plans.advanced_query import OracleNames, advanced_query_oracle_sql

        errors = []
        con = duckdb.connect()
        for t in self.truth.table_counts():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.db_path}/{t}.parquet/*.parquet')"
            )
        con.execute(
            "CREATE VIEW fault_dim AS SELECT f.fault_id, pf.name FROM fault f "
            "JOIN parent_fault pf ON f.parent_id = pf.parent_id"
        )
        bad = [
            f"{t} has {got} rows, expected {n}"
            for t, n in self.truth.table_counts().items()
            for got in [con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]]
            if got != n
        ]
        bad += [
            f"rupture ({code}, {nid}) rate {rate} != Σ w·rate"
            for code, nid, rate in con.execute("SELECT fault_system, nshm_id, rate FROM rupture").fetchall()
            if not math.isclose(rate, self.truth.ruptures[(code, nid)][3], rel_tol=1e-9, abs_tol=1e-300)
        ]
        if bad:
            errors.append(f"ingest: {len(bad)} mismatches, first: {bad[0]}")
        names = OracleNames(
            fact="rupture", bridge="rupture_faults", dim="fault_dim",
            fact_key="rupture_id", bridge_fact_key="rupture_id", bridge_dim_key="fault_id",
            dim_key="fault_id", name_col="name", rate_col="rate",
            fact_cols=("fault_system", "nshm_id", "rate"), magnitude_col="magnitude",
        )
        for rec, kind, args, out in self.results:
            err = self._check_one(con, names, advanced_query_oracle_sql, kind, args, out)
            if err:
                rec.ok = False
                errors.append(f"{kind}{args!r}: {err}")
        return errors

    def _check_one(self, con, names, oracle_sql, kind, args, out) -> str | None:
        if isinstance(out, Exception):
            return f"raised {out!r}"
        t = self.truth
        if kind in ("get_fault", "get_fault_info"):
            s = t.faults[args]
            if kind == "get_fault_info":
                got = (out.fault_system, out.fault_nshm_id, out.name, out.rake, out.tect_type)
                want = (args[0], s["nid"], s["name"], s["rake"], None)
                return None if got == want else f"{got} != {want}"
            return _check_planes(out.planes, s)
        mag, area, length, rate, chosen = t.ruptures[args] if kind.startswith("get_") else (None,) * 5
        if kind == "get_rupture_fault_info":
            got = sorted((f.fault_system, f.fault_nshm_id, f.name, f.rake) for f in out)
            want = sorted((args[0], c, t.faults[(args[0], c)]["name"], t.faults[(args[0], c)]["rake"]) for c in chosen)
            return None if got == want else "sections differ"
        if kind == "get_rupture":
            if (out.magnitude, out.area, out.length) != (mag, area, length):
                return "properties differ"
            if not math.isclose(out.rate, rate, rel_tol=1e-9, abs_tol=1e-300):
                return f"rate {out.rate} != {rate}"
            code = args[0]
            want_planes: dict[str, int] = {}
            for c in chosen:
                s = t.faults[(code, c)]
                label = s["name"] if code == 3 else f"{s['name']}: Section {t.fault_id[(code, c)]}"
                want_planes[label] = want_planes.get(label, 0) + len(s["trace"]) - 1
            got_planes = {k: len(f.planes) for k, f in out.faults.items()}
            return None if got_planes == want_planes else "geometry differs"
        if kind == "most_likely_fault":
            want = t.most_likely_fault(*args)
            if set(out) != set(want) or any(
                not math.isclose(out[k], want[k], rel_tol=1e-9, abs_tol=1e-300) for k in want
            ):
                return f"{out} != {want}"
            return None
        q, rate_bounds, mag_bounds = args
        sql = oracle_sql(names, q, rate_bounds=rate_bounds, magnitude_bounds=mag_bounds, limit=QUERY_LIMIT)
        want = [(a, b) for a, b, _ in con.execute(sql).fetchall()]
        got = [(r.fault_system, r.rupture_nshm_id) for r in out]
        return None if got == want else f"{len(got)} hits != oracle's {len(want)}"

    def storage(self) -> tuple[int, int]:
        """(bytes of the database on disk, bytes of the landed source)."""
        return dir_bytes(self.db_path), self.source_bytes

    def layer_stats(self) -> dict:
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(self.db_path)
            for f in fs
            if f.endswith(".parquet")
        ]
        return {
            "ingest.db_bytes": sum(os.path.getsize(p) for p in files),
            "ingest.db_files": len(files),
            "ingest.ruptures_per_s": len(self.truth.ruptures) / median(self.ingest_s),
        }


def _check_planes(planes, s) -> str | None:
    trace = s["trace"]
    if len(planes) != len(trace) - 1:
        return f"{len(planes)} planes for a {len(trace)}-point trace"
    for j, p in enumerate(planes):
        c = p.corners
        top = [[trace[j][1], trace[j][0], s["top"]], [trace[j + 1][1], trace[j + 1][0], s["top"]]]
        if not np.allclose(c[:2], top, rtol=0, atol=1e-9):
            return f"plane {j} top edge {c[:2].tolist()} != trace"
        if not np.allclose(c[2:, 2], s["bottom"]):
            return f"plane {j} bottom depth"
    return None
