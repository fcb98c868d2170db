"""The workloads. Each is a closed loop of jobs: one client, and the
next job starts only after the previous one finished and was checked.

A workload object holds the inputs built at set-up and offers:
  setup(tr)        generate and persist the seeded input (span ``sources``)
  prepare(j)       per-job input, outside the timed region
  job(inp)         the timed job: a fresh plan from input to result
  check(inp, out)  independent oracle → list of failed checks
  traced(tr, inp)  the same job with a span around each layer call
  cleanup(inp)     free what the harness itself allocated for the job
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import inputs

from morituri_spark.geo import cells as C
from morituri_spark.geo import knn
from morituri_spark.geo import pip
from morituri_spark.io import lineage
from morituri_spark.io import sink
from morituri_spark.operators import streets as S
from morituri_spark.operators import zsplit
from morituri_spark.pipelines import flagship
from morituri_spark.sources import synth

TILE_RES = 7  # flagship.tile_zone_rollup default


def _route(df) -> str:
    """The physical route geo.pip chose, read from the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "MapInPandas" in plan:
        return "arrow_kernel"
    if "Generate explode" in plan:
        return "catalyst_literal_edges"
    return "cell_cover_shuffle"


def _bbox_mask(px, py, rings):
    allr = np.vstack([pip.ring_np(r) for r in rings])
    return ((px >= allr[:, 0].min()) & (px <= allr[:, 0].max())
            & (py >= allr[:, 1].min()) & (py <= allr[:, 1].max()))


def _containment(px, py, zone_rows):
    """(point index, zone id) pairs by NumPy ray casting (pip's reference
    kernel), bbox-filtered per zone."""
    out = []
    for zid, rings in zone_rows:
        cand = np.flatnonzero(_bbox_mask(px, py, rings))
        inside = pip.points_in_polygon_np(px[cand], py[cand], rings)
        out.append((zid, cand[inside]))
    return out


def _digest(df):
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.expr("bit_xor(xxhash64(image_id, lon, lat, zone_id))").alias("d")).first()


class Workload:
    name = ""
    layers: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, fit: dict, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.parts = fit["shuffle_partitions"]
        self.data = None

    def _persist(self, tr, make):
        """Generate and persist the set-up input (span ``sources``),
        replacing an earlier repetition's copy."""
        if self.data is not None:
            self.data.unpersist(blocking=True)
        with tr.span("sources.call") if tr else contextlib.nullcontext():
            df = make().persist()
        with tr.span("sources.exec") if tr else contextlib.nullcontext():
            df.count()
        self.data = df

    def prepare(self, j):
        return None

    def cleanup(self, inp):
        pass


class ZoneTiles(Workload):
    """Seeded images × the 25-zone admin set → encode, assign, tile×zone
    rollup, collected. Nothing is written."""

    name = "zone_tiles"
    layers = ("geo.cells", "geo.pip", "pipelines.flagship")
    N_IMAGES = 400_000
    # The job is one wide scan of the input: four splits per core let the
    # other cores take over the splits of a core slowed by its neighbours.
    SPLITS_PER_CORE = 4

    def __init__(self, spark, seed, fit, work):
        super().__init__(spark, seed, fit, work)
        self.splits = self.SPLITS_PER_CORE * fit["cores"]
        self.rows = self.N_IMAGES
        self.zones = synth.zones_table(self.spark).persist()

    def setup(self, tr):
        self._persist(tr, lambda: inputs.images(self.spark, self.seed, self.N_IMAGES, self.splits))

    def expected(self):
        px, py = inputs.image_coords(self.seed, self.N_IMAGES)
        tiles = C.latlng_to_cell(px, py, TILE_RES)
        zone_rows = [(r[0], r[1]) for r in self.zones.select("zone_id", "rings").collect()]
        want = {}
        for zid, idx in _containment(px, py, zone_rows):
            # idx is ascending and ids are zero-padded, so the first index
            # per tile is the tile's minimum image_id
            t, first, n = np.unique(tiles[idx], return_index=True, return_counts=True)
            for tile, f, c in zip(t.tolist(), first.tolist(), n.tolist()):
                want[(tile, zid)] = (c, f"img{int(idx[f]):012d}")
        self.want = want

    def job(self, inp):
        return flagship.run_flagship(self.data, self.zones).collect()

    def check(self, inp, out):
        got = {(r["tile"], r["zone_id"]): (r["n_images"], r["first_image_id"]) for r in out}
        if len(got) != len(out):
            return ["duplicate (tile, zone) groups"]
        bad = [k for k in set(got) | set(self.want) if got.get(k) != self.want.get(k)]
        return [f"{len(bad)} of {len(self.want)} (tile, zone) groups differ from the NumPy rollup"] if bad else []

    def traced(self, tr, inp):
        m = {}
        with tr.span("geo.cells.call"):
            enc = self.data.select(C.cell_col(F.col("lon"), F.col("lat"), TILE_RES).alias("tile"))
        with tr.span("geo.cells.exec"):
            enc.agg(F.expr("bit_xor(tile)")).first()
        with tr.span("geo.pip.call") as sp:
            assigned = pip.assign_zones(self.data.select("image_id", "lon", "lat"),
                                        self.zones.select("zone_id", "rings"), res=10)
        with tr.span("geo.pip.exec"):
            m["geo.pip.rows_out"] = assigned.count()
        sp.attrs["route"] = _route(assigned)
        m["geo.pip.rows_in"] = self.rows
        with tr.span("pipelines.flagship.call"):
            roll = flagship.run_flagship(self.data, self.zones)
        with tr.span("pipelines.flagship.exec"):
            out = roll.collect()
        m["pipelines.flagship.groups_out"] = len(out)
        return out, m


class ZoneCommitResume(Workload):
    """Images × 64 admin polygons of 102 edges (the PIP Arrow-kernel route);
    per-image rows go through resumable_write: half the buckets, then a
    resume that completes them, then verify_lineage."""

    name = "zone_commit_resume"
    layers = ("geo.pip", "io.lineage")
    N_IMAGES = 200_000
    N_BUCKETS = 16

    def __init__(self, *a):
        super().__init__(*a)
        self.rows = self.N_IMAGES
        self.zones = inputs.admin_polygons(self.spark, self.seed).persist()

    def setup(self, tr):
        self._persist(tr, lambda: inputs.images(self.spark, self.seed, self.N_IMAGES, self.parts))

    def _assign(self):
        return pip.assign_zones(self.data.select("image_id", "lon", "lat"),
                                self.zones.select("zone_id", "rings"), res=10)

    def expected(self):
        px, py = inputs.image_coords(self.seed, self.N_IMAGES)
        zone_rows = [(r[0], r[1]) for r in self.zones.select("zone_id", "rings").collect()]
        self.want_np = sum(len(idx) for _, idx in _containment(px, py, zone_rows))
        self.want = tuple(_digest(self._assign()))

    def prepare(self, j):
        return os.path.join(self.work, f"commit-{j}")

    def _half(self, assigned):
        return (lineage.with_bucket(assigned, "image_id", self.N_BUCKETS)
                .where(F.col("bucket") < self.N_BUCKETS // 2).drop("bucket"))

    def job(self, path):
        assigned = self._assign()
        first = lineage.resumable_write(self._half(assigned), path, "image_id", self.N_BUCKETS)
        t0 = time.perf_counter()
        resume = lineage.resumable_write(assigned, path, "image_id", self.N_BUCKETS)
        resume_s = time.perf_counter() - t0
        bad = lineage.verify_lineage(self.spark, path, "image_id").collect()
        return {"first": first, "resume": resume, "bad": bad, "resume_s": resume_s}

    def check(self, path, out):
        fails = []
        half = self.N_BUCKETS // 2
        if out["bad"]:
            fails.append(f"verify_lineage reports {len(out['bad'])} mismatched buckets")
        if (out["first"]["written"], out["resume"]["written"], out["resume"]["skipped"]) != (half, half, half):
            fails.append(f"bucket counts {out['first']} then {out['resume']}, want {half} written, "
                         f"then {half} written and {half} skipped")
        got = tuple(_digest(lineage.read_with_lineage(self.spark, path).drop("bucket")))
        if got != self.want:
            fails.append(f"read-back (count, digest) {got} != unwritten assignment {self.want}")
        if got[0] != self.want_np:
            fails.append(f"read-back count {got[0]} != NumPy containment count {self.want_np}")
        return fails

    def cleanup(self, path):
        shutil.rmtree(path, ignore_errors=True)

    def traced(self, tr, path):
        m = {}
        with tr.span("geo.pip.call") as sp:
            assigned = self._assign()
        with tr.span("geo.pip.exec"):
            m["geo.pip.rows_out"] = assigned.count()
        sp.attrs["route"] = _route(assigned)
        m["geo.pip.rows_in"] = self.rows
        with tr.span("io.lineage.call"):
            with tr.span("io.lineage.half_commit"):
                first = lineage.resumable_write(self._half(assigned), path, "image_id", self.N_BUCKETS)
            with tr.span("io.lineage.resume") as rs:
                resume = lineage.resumable_write(assigned, path, "image_id", self.N_BUCKETS)
            with tr.span("io.lineage.verify"):
                audit = lineage.verify_lineage(self.spark, path, "image_id")
        with tr.span("io.lineage.exec"):
            bad = audit.collect()
        tr.drain()
        # rows out of the PIP kernel (either route) while the resume ran
        computed = tr.plan_rows(tr.job_ids(tr.subtree(rs)), ("MapInPandas", "Generate"), "zone_id")
        files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(path, "data"))
                 for f in fs if f.endswith(".parquet")]
        m.update({
            "io.lineage.rows_written": first["rows_written"] + resume["rows_written"],
            "io.lineage.bytes_written_mb": sum(os.path.getsize(f) for f in files) / 2**20,
            "io.lineage.files_written": len(files),
            "io.lineage.buckets_written": first["written"] + resume["written"],
            "io.lineage.buckets_skipped": first["skipped"] + resume["skipped"],
            "io.lineage.verify_s": tr.find("io.lineage.verify")[0].dur + tr.find("io.lineage.exec")[0].dur,
            "io.lineage.resume_s": rs.dur,
            "io.lineage.resume_recompute_ratio": computed / max(resume["rows_written"], 1),
        })
        return {"first": first, "resume": resume, "bad": bad, "resume_s": rs.dur}, m


class NavteqConvert(Workload):
    """Seeded NAVSTREETS-shaped links, z-levels, conditions and modifiers →
    convert_streets → OPL file through io.sink. A new input every job."""

    name = "navteq_convert"
    layers = ("operators.streets", "io.sink")
    N_LINKS = 1_000
    LINK_BASE = 1_000_000_000

    def __init__(self, *a):
        super().__init__(*a)
        self.rows = self.N_LINKS
        self.cntry_ref = synth.mtd_cntry_ref_table(self.spark).persist()

    def setup(self, tr):
        # the per-job tables are drawn in prepare(); set-up holds the area
        # dimension shared by every job
        self._persist(tr, lambda: synth.mtd_area_table(self.spark))

    def expected(self):
        pass

    def prepare(self, j):
        pdfs = inputs.streets(self.seed, j, self.N_LINKS, self.LINK_BASE)
        tables = {k: v.persist() for k, v in inputs.street_tables(self.spark, pdfs, self.parts).items()}
        for t in tables.values():
            t.count()
        return {"pdfs": pdfs, "tables": tables, "path": os.path.join(self.work, f"streets-{j}.opl")}

    def _convert(self, t):
        return S.convert_streets(t["streets"], t["zlevels"], t["cdms"], t["cnd_mod"],
                                 self.data, self.cntry_ref)

    def job(self, inp):
        out = self._convert(inp["tables"])
        return sink.write_osm(inp["path"], nodes=out["nodes"], ways=out["ways"])

    def check(self, inp, counts):
        pdfs = inp["pdfs"]
        z = pdfs["zlevels"][pdfs["zlevels"]["Z_LEVEL"] != 0]
        pairs = {k: list(zip(g["POINT_NUM"] - 1, g["Z_LEVEL"])) for k, g in z.groupby("LINK_ID")}
        st = pdfs["streets"]
        want_ways = sum(
            len(zsplit.split_link(len(geom), pairs[lid], ferry in ("B", "R"))) if lid in pairs else 1
            for lid, geom, ferry in zip(st["LINK_ID"], st["geometry"], st["FERRY_TYPE"])
        )
        node_ids, way_refs = [], []
        with open(inp["path"], encoding="utf-8") as f:
            for line in f:
                if line[0] == "n":
                    node_ids.append(line[1:line.index(" ")])
                elif line[0] == "w":  # the node list is the last field; tags escape spaces
                    way_refs.append(line.rsplit(" N", 1)[1].strip().split(","))
        ids = set(node_ids)
        unresolved = sum(r[:1] != "n" or r[1:] not in ids for refs in way_refs for r in refs)
        fails = []
        if len(way_refs) != want_ways:
            fails.append(f"{len(way_refs)} ways written, split_link over the input gives {want_ways}")
        if len(ids) != len(node_ids):
            fails.append(f"{len(node_ids) - len(ids)} duplicate node ids")
        if unresolved:
            fails.append(f"{unresolved} node refs do not resolve to a written node")
        if (len(node_ids), len(way_refs)) != (counts["nodes"], counts["ways"]):
            fails.append(f"OPL lines (nodes {len(node_ids)}, ways {len(way_refs)}) != sink counts {counts}")
        return fails

    def cleanup(self, inp):
        for t in inp["tables"].values():
            t.unpersist()
        if os.path.exists(inp["path"]):
            os.remove(inp["path"])

    def traced(self, tr, inp):
        m = {}
        originals = {n: getattr(S, n) for n in
                     ("street_ways", "street_nodes", "resolve_way_node_refs", "link_restrictions")}

        def wrap(name, fn):
            def traced_call(*a, **kw):
                with tr.span(f"operators.streets.{name}"):
                    return fn(*a, **kw)
            return traced_call

        try:
            for n, fn in originals.items():
                setattr(S, n, wrap(n, fn))
            with tr.span("operators.streets.call"):
                out = self._convert(inp["tables"])
        finally:
            for n, fn in originals.items():
                setattr(S, n, fn)
        with tr.span("operators.streets.exec"):
            n_ways = out["ways"].count()
            n_nodes = out["nodes"].count()
        for n in originals:
            m[f"operators.streets.{n}_s"] = sum(s.dur for s in tr.find(f"operators.streets.{n}"))
        m["operators.streets.ways_per_link"] = n_ways / self.rows
        m["operators.streets.nodes_out"] = n_nodes
        with tr.span("io.sink.call") as sp:
            counts = sink.write_osm(inp["path"], nodes=out["nodes"], ways=out["ways"])
        objects = counts["nodes"] + counts["ways"] + counts["relations"]
        m["io.sink.objects"] = objects
        m["io.sink.bytes_mb"] = os.path.getsize(inp["path"]) / 2**20
        m["io.sink.objects_per_s"] = objects / sp.dur
        return counts, m


class KnnEnrich(Workload):
    """k = 5 nearest candidates for a fresh seeded query set every job, half
    dense urban and half sparse rural queries."""

    name = "knn_enrich"
    layers = ("geo.cells", "geo.knn")
    N_CANDIDATES = 100_000
    N_QUERIES = 100
    K = 5
    N_SAMPLED = 20
    RES = 10  # knn_join default

    def __init__(self, *a):
        super().__init__(*a)
        self.rows = self.N_QUERIES

    def setup(self, tr):
        self._persist(tr, lambda: inputs.candidates(self.spark, self.seed, self.N_CANDIDATES, self.parts))

    def expected(self):
        self.cx, self.cy = inputs.candidate_coords(self.seed, self.N_CANDIDATES)

    def prepare(self, j):
        qpdf = inputs.queries(self.seed, j, self.N_QUERIES)
        return qpdf, self.spark.createDataFrame(qpdf, "query_id long, lon double, lat double")

    def job(self, inp):
        return knn.knn_join(inp[1], self.data, k=self.K, res=self.RES).collect()

    def check(self, inp, out):
        qpdf = inp[0]
        got: dict[int, list] = {}
        for r in out:
            got.setdefault(r["query_id"], []).append((r["rank"], r["cand_id"], r["dist"]))
        fails = []
        short = [q for q in qpdf["query_id"] if len(got.get(q, ())) != self.K]
        if short:
            fails.append(f"{len(short)} queries without exactly k={self.K} results")
        rng = np.random.default_rng([self.seed, int(qpdf["query_id"].iloc[0])])
        for i in rng.choice(len(qpdf), self.N_SAMPLED, replace=False):
            q = qpdf.iloc[i]
            d = np.hypot(self.cx - q["lon"], self.cy - q["lat"])
            order = np.lexsort((np.arange(len(d)), d))[: self.K]
            rows = sorted(got.get(int(q["query_id"]), []))
            if [r[1] for r in rows] != order.tolist() or not np.allclose(
                    [r[2] for r in rows], d[order], rtol=0, atol=1e-8):
                fails.append(f"query {int(q['query_id'])} differs from the NumPy brute force")
        return fails

    def traced(self, tr, inp):
        m = {}
        with tr.span("geo.cells.call"):
            qc = inp[1].select(C.cell_col(F.col("lon"), F.col("lat"), self.RES).alias("c"))
            cc = self.data.select(C.cell_col(F.col("lon"), F.col("lat"), self.RES).alias("c"))
        with tr.span("geo.cells.exec"):
            qc.unionByName(cc).agg(F.expr("bit_xor(c)")).first()
        with tr.span("geo.knn.call"):
            res = knn.knn_join(inp[1], self.data, k=self.K, res=self.RES)
        with tr.span("geo.knn.exec"):
            out = res.collect()
        m["geo.knn.results"] = len(out)
        return out, m


class CommitKnnConvert(Workload):
    """One job runs zone_commit_resume, knn_enrich and navteq_convert in
    turn, each on its own seeded input and checked by its own oracle: every
    layer the zone_tiles path leaves idle, in one closed loop."""

    name = "commit_knn_convert"
    PARTS = (ZoneCommitResume, KnnEnrich, NavteqConvert)

    def __init__(self, spark, seed, fit, work):
        self.subs = [P(spark, seed, fit, work) for P in self.PARTS]
        self.layers = tuple(dict.fromkeys(lay for w in self.subs for lay in w.layers))
        self.rows = sum(w.rows for w in self.subs)

    def setup(self, tr):
        for w in self.subs:
            w.setup(tr)

    def expected(self):
        for w in self.subs:
            w.expected()

    def prepare(self, j):
        return [w.prepare(j) for w in self.subs]

    def job(self, inp):
        out = {"part_s": {}}
        for w, i in zip(self.subs, inp):
            t0 = time.perf_counter()
            out[w.name] = w.job(i)
            out["part_s"][w.name] = time.perf_counter() - t0
        out["resume_s"] = out["zone_commit_resume"]["resume_s"]
        return out

    def check(self, inp, out):
        return [f"{w.name}: {f}" for w, i in zip(self.subs, inp) for f in w.check(i, out[w.name])]

    def cleanup(self, inp):
        for w, i in zip(self.subs, inp):
            w.cleanup(i)

    def traced(self, tr, inp):
        out, m = {}, {}
        for w, i in zip(self.subs, inp):
            out[w.name], part = w.traced(tr, i)
            m.update(part)
        return out, m


WORKLOADS = {w.name: w for w in (ZoneTiles, CommitKnnConvert, ZoneCommitResume, NavteqConvert, KnnEnrich)}

