"""Seeded input generators. The program under test sees only these rows.

Positions are a pure function of (seed, stream, row id), so the driver can
recompute any row for an oracle without collecting it from Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

BBOX = (0.0, 40.0, 10.0, 50.0)
URBAN_CENTER = (5.0, 45.0)
URBAN_RADIUS = 0.05


def unit_hash(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Uniform [0, 1) per (seed, stream, id): SplitMix64 finalizer."""
    z = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    z += np.uint64((seed * 1_000_003 + stream) * 0xBF58476D1CE4E5B9 % 2**64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def clustered_points(ids: np.ndarray, seed: int, stream: int, urban_frac: float,
                     bbox=BBOX) -> tuple[np.ndarray, np.ndarray]:
    """A share ``urban_frac`` of points in the urban disk, the rest uniform
    over ``bbox``."""
    u = unit_hash(ids, seed, stream)
    v = unit_hash(ids, seed, stream + 1)
    w = unit_hash(ids, seed, stream + 2)
    urban = u < urban_frac
    theta = 2 * np.pi * v
    r = URBAN_RADIUS * np.sqrt(w)
    lon = np.where(urban, URBAN_CENTER[0] + r * np.cos(theta), bbox[0] + v * (bbox[2] - bbox[0]))
    lat = np.where(urban, URBAN_CENTER[1] + r * np.sin(theta), bbox[1] + w * (bbox[3] - bbox[1]))
    return lon, lat


IMAGE_URBAN_FRAC = 0.3
IMAGES_SCHEMA = StructType([
    StructField("image_id", StringType(), False),
    StructField("lon", DoubleType(), False),
    StructField("lat", DoubleType(), False),
])


def image_ids(ids: np.ndarray) -> list[str]:
    return [f"img{i:012d}" for i in ids]


def images(spark: SparkSession, seed: int, n: int, partitions: int) -> DataFrame:
    """(image_id, lon, lat): uniform over the bbox plus an urban
    mega-cluster, generated on the executors."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            lon, lat = clustered_points(ids, seed, 10, IMAGE_URBAN_FRAC)
            yield pd.DataFrame({"image_id": image_ids(ids), "lon": lon, "lat": lat})

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, IMAGES_SCHEMA)


def image_coords(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    return clustered_points(np.arange(n), seed, 10, IMAGE_URBAN_FRAC)


# --------------------------------------------------------------------- zones

RINGS = ArrayType(ArrayType(ArrayType(DoubleType())))


def regular_polygon(cx: float, cy: float, r: float, n_edges: int) -> list[list[float]]:
    ang = 2 * np.pi * np.arange(n_edges + 1) / n_edges
    ring = [[float(cx + r * np.cos(a)), float(cy + r * np.sin(a))] for a in ang]
    ring[-1] = ring[0]
    return ring


def admin_polygons(spark: SparkSession, seed: int, n_side: int = 8, n_edges: int = 102) -> DataFrame:
    """n_side² regular polygons of ``n_edges`` edges on a jittered grid over
    the bbox (zone_id, admin_lvl, rings): 64 × 102 edges is past the PIP
    planner's literal-edge budget, so it takes the Arrow-kernel route."""
    rng = np.random.default_rng(seed)
    step = (BBOX[2] - BBOX[0]) / n_side
    rows = []
    for z in range(n_side * n_side):
        cx = BBOX[0] + step * (z % n_side + 0.5) + rng.uniform(-0.1, 0.1)
        cy = BBOX[1] + step * (z // n_side + 0.5) + rng.uniform(-0.1, 0.1)
        rows.append((z, 4, [regular_polygon(cx, cy, rng.uniform(0.45, 0.6), n_edges)]))
    schema = StructType([
        StructField("zone_id", LongType(), False),
        StructField("admin_lvl", IntegerType(), False),
        StructField("rings", RINGS, False),
    ])
    return spark.createDataFrame(rows, schema)


# ----------------------------------------------------------------------- kNN

CAND_URBAN_FRAC = 0.4
# Queries also fall in an empty margin around the candidate bbox: those
# searches need several ring blocks (driver rounds) before they finish.
QUERY_BBOX = (-4.0, 36.0, 14.0, 54.0)
CANDIDATES_SCHEMA = StructType([
    StructField("cand_id", LongType(), False),
    StructField("lon", DoubleType(), False),
    StructField("lat", DoubleType(), False),
])


def candidates(spark: SparkSession, seed: int, n: int, partitions: int) -> DataFrame:
    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            lon, lat = clustered_points(ids, seed, 20, CAND_URBAN_FRAC)
            yield pd.DataFrame({"cand_id": ids, "lon": lon, "lat": lat})

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, CANDIDATES_SCHEMA)


def candidate_coords(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    return clustered_points(np.arange(n), seed, 20, CAND_URBAN_FRAC)


def queries(seed: int, job: int, n: int) -> pd.DataFrame:
    """A fresh query set per job: half dense urban, half sparse rural."""
    ids = np.arange(n, dtype=np.int64) + job * n
    lon, lat = clustered_points(ids, seed, 30, 0.5, QUERY_BBOX)
    return pd.DataFrame({"query_id": ids, "lon": lon, "lat": lat})


# ---------------------------------------------------------------- NAVSTREETS

ROW = 50  # links per chained row: link i's last vertex is link i+1's first
STEP = 0.001


def streets(seed: int, job: int, n_links: int, link_base: int) -> dict[str, pd.DataFrame]:
    """NAVSTREETS-shaped Streets, Zlevels, Cdms and CndMod tables, shaped
    like the fixture generators in sources.synth but drawn from (seed, job)
    with per-job link ids, so no two jobs share an input."""
    rng = np.random.default_rng([seed, job])
    i = np.arange(n_links)
    n_vertices = rng.integers(2, 9, n_links)
    link_ids = link_base + job * 10_000_000 + i
    # chain each row: a link starts where the previous one in its row ends
    span = (n_vertices - 1) * STEP
    row_end = np.cumsum(span)
    row_first = (i // ROW) * ROW
    x0 = 10.0 + row_end - span - (row_end[row_first] - span[row_first])
    y0 = 10.0 + (i // ROW) * 0.01
    geometry = [
        [[float(round(x + j * STEP, 9)), float(y)] for j in range(nv)]
        for x, y, nv in zip(x0, y0, n_vertices)
    ]

    def yn(p):
        return np.where(rng.uniform(size=n_links) < p, "Y", "N")

    def pick(choices):
        return rng.choice(np.asarray(choices, dtype=object), size=n_links)

    attrs = {
        "ST_NAME": pick(["E20 ", "main STREET", "ELM st", ""]),
        "FUNC_CLASS": rng.integers(1, 6, n_links).astype(str),
        "ROUTE_TYPE": np.where(rng.uniform(size=n_links) < 0.5, rng.integers(1, 7, n_links).astype(str), ""),
        "SPEED_CAT": rng.integers(1, 9, n_links).astype(str),
        "FR_SPD_LIM": pick(["0", "30", "50", "100", "130", "998", "999"]),
        "TO_SPD_LIM": pick(["0", "30", "50", "100", "130", "998", "999"]),
        "DIR_TRAVEL": pick(["F", "T", "B"]),
        "AR_AUTO": yn(0.9), "AR_BUS": yn(0.8), "AR_TAXIS": yn(0.8),
        "AR_CARPOOL": yn(0.8), "AR_PEDEST": yn(0.7), "AR_TRUCKS": yn(0.7),
        "AR_TRAFF": yn(0.9), "AR_EMERVEH": yn(0.95), "AR_MOTOR": yn(0.9),
        "PAVED": yn(0.8), "PRIVATE": yn(0.1), "BRIDGE": yn(0.1),
        "TUNNEL": yn(0.05), "TOLLWAY": yn(0.1), "ROUNDABOUT": yn(0.05),
        "FOURWHLDR": yn(0.05), "URBAN": yn(0.5), "PUB_ACCESS": yn(0.9),
        "FERRY_TYPE": pick(["H"] * 18 + ["B", "R"]),
        "PHYS_LANES": rng.integers(0, 5, n_links).astype(str),
        "L_POSTCODE": pick(["5500", "5501", ""]),
        "R_POSTCODE": pick(["5500", "5501", ""]),
        "ADDR_TYPE": pick(["B", "", ""]),
        "L_REFADDR": "2", "L_NREFADDR": "40", "L_ADDRSCH": "E",
        "R_REFADDR": "1", "R_NREFADDR": "41", "R_ADDRSCH": "O",
    }
    streets_pdf = pd.DataFrame({"LINK_ID": link_ids, "geometry": geometry, **attrs,
                                "L_AREA_ID": rng.integers(1, 6, n_links),
                                "R_AREA_ID": rng.integers(1, 6, n_links)})

    # z-levels: a third of the links carry a per-vertex sequence, mostly 0
    # with runs of nonzero levels (bridges, tunnels)
    z_rows = []
    for k in np.flatnonzero(rng.uniform(size=n_links) < 0.33):
        nv = int(n_vertices[k])
        zs = np.where(rng.uniform(size=nv) < 0.4, rng.integers(-2, 4, nv), 0)
        z_rows.extend((int(link_ids[k]), j + 1, int(z)) for j, z in enumerate(zs))
    zlevels_pdf = pd.DataFrame(z_rows, columns=["LINK_ID", "POINT_NUM", "Z_LEVEL"]).astype(
        {"LINK_ID": np.int64, "POINT_NUM": np.int32, "Z_LEVEL": np.int32})

    n_cond = rng.integers(0, 3, n_links)
    cond_links = np.repeat(link_ids, n_cond)
    cond_ids = link_base + job * 10_000_000 + np.arange(len(cond_links))
    cdms_pdf = pd.DataFrame({
        "LINK_ID": cond_links, "COND_ID": cond_ids,
        "COND_TYPE": rng.choice(np.array([3, 7, 7, 9], dtype=np.int32), len(cond_links)),
    })
    has_mod = rng.uniform(size=len(cond_ids)) < 0.7
    cnd_mod_pdf = pd.DataFrame({
        "COND_ID": cond_ids[has_mod],
        "MOD_TYPE": rng.choice(np.array([41, 42, 43, 44, 45], dtype=np.int32), int(has_mod.sum())),
        "MOD_VAL": rng.integers(100, 5000, int(has_mod.sum())),
    })
    return {"streets": streets_pdf, "zlevels": zlevels_pdf, "cdms": cdms_pdf, "cnd_mod": cnd_mod_pdf}


STREETS_SCHEMA = StructType(
    [StructField("LINK_ID", LongType(), False),
     StructField("geometry", ArrayType(ArrayType(DoubleType())), False)]
    + [StructField(c, StringType(), False) for c in [
        "ST_NAME", "FUNC_CLASS", "ROUTE_TYPE", "SPEED_CAT", "FR_SPD_LIM", "TO_SPD_LIM",
        "DIR_TRAVEL", "AR_AUTO", "AR_BUS", "AR_TAXIS", "AR_CARPOOL", "AR_PEDEST",
        "AR_TRUCKS", "AR_TRAFF", "AR_EMERVEH", "AR_MOTOR", "PAVED", "PRIVATE", "BRIDGE",
        "TUNNEL", "TOLLWAY", "ROUNDABOUT", "FOURWHLDR", "URBAN", "PUB_ACCESS",
        "FERRY_TYPE", "PHYS_LANES", "L_POSTCODE", "R_POSTCODE", "ADDR_TYPE",
        "L_REFADDR", "L_NREFADDR", "L_ADDRSCH", "R_REFADDR", "R_NREFADDR", "R_ADDRSCH"]]
    + [StructField("L_AREA_ID", LongType(), False), StructField("R_AREA_ID", LongType(), False)]
)
TABLE_SCHEMAS = {
    "streets": STREETS_SCHEMA,
    "zlevels": "LINK_ID long, POINT_NUM int, Z_LEVEL int",
    "cdms": "LINK_ID long, COND_ID long, COND_TYPE int",
    "cnd_mod": "COND_ID long, MOD_TYPE int, MOD_VAL long",
}


def street_tables(spark: SparkSession, pdfs: dict[str, pd.DataFrame], partitions: int) -> dict[str, DataFrame]:
    out = {}
    for name, pdf in pdfs.items():
        cols = [f.name for f in STREETS_SCHEMA.fields] if name == "streets" else list(pdf.columns)
        out[name] = spark.createDataFrame(pdf[cols], TABLE_SCHEMAS[name]).repartition(partitions)
    return out
