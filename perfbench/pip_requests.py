"""Dense point-in-polygon requests: spatial.assign_cells, then
spatial.pip_join (broadcast path) of seeded points against one of two
polygon sets.

- grid: the 32 x 32 axis-aligned grid, where every cover cell lies
  fully inside one polygon, so the refine keeps every candidate;
- diamonds: 25 rotated diamonds (the pip_diamond query's shapes), whose
  cover cells are only partly covered, so the refine rejects points.

Points are ordinals ``offset .. offset + n`` placed by the image
geolocation formula, so every tenth point falls in one hot-spot box.
Expected row counts and checksums come from the closed-form arithmetic
of the ``pip_grid`` / ``pip_diamond`` oracles, evaluated with numpy on
the same ordinals.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from geotrellis_spark.core import geom as G
from geotrellis_spark.functions import exprs
from geotrellis_spark.operators import spatial

from checks import observe_noop

SETS = ("grid", "diamonds")
ZOOM = 5
DIAMOND_RX, DIAMOND_RY = 20.0, 12.0
PARTITIONS = 16
# per-row checksum: pmod(event_id * H_MULT + geom_id, H_MOD), summed
H_MULT, H_MOD = 1_000_003, 2_147_483_647


def point_offset(seed: int) -> int:
    return 1 + (seed * 7_919_993) % (1 << 31)


def _diamond_centers() -> tuple[np.ndarray, np.ndarray]:
    k = np.arange(25, dtype=np.int64)
    return exprs.lonlat_np((k + 1) * 37, (k + 1) * 53)


def _grid_polys(spark):
    rows = []
    for gy in range(32):
        for gx in range(32):
            lon0, top = -180.0 + gx * 11.25, 90.0 - gy * 5.625
            ring = np.array([[lon0, top - 5.625], [lon0 + 11.25, top - 5.625],
                             [lon0 + 11.25, top], [lon0, top]])
            rows.append((gy * 32 + gx, bytearray(G.wkb_write_polygon([ring]))))
    return spark.createDataFrame(rows, "geom_id long, wkb binary")


def _diamond_polys(spark):
    cx, cy = _diamond_centers()
    rows = []
    for k in range(25):
        x, y = float(cx[k]), float(cy[k])
        ring = np.array([[x - DIAMOND_RX, y], [x, y - DIAMOND_RY],
                         [x + DIAMOND_RX, y], [x, y + DIAMOND_RY]])
        rows.append((k, bytearray(G.wkb_write_polygon([ring]))))
    return spark.createDataFrame(rows, "geom_id long, wkb binary")


def expected(offset: int, n: int) -> dict:
    """(row count, checksum) of each join, from closed-form arithmetic."""
    ids = np.arange(offset, offset + n, dtype=np.int64)
    lon, lat = exprs.image_lonlat_np(ids)
    gid = (np.floor((90 - lat) / 180 * 32) * 32
           + np.floor((lon + 180) / 360 * 32)).astype(np.int64)
    out = {"grid": (n, int(((ids * H_MULT + gid) % H_MOD).sum()))}
    cx, cy = _diamond_centers()
    count, total = 0, 0
    for k in range(25):
        inside = (np.abs(lon - cx[k]) / DIAMOND_RX
                  + np.abs(lat - cy[k]) / DIAMOND_RY) < 1
        count += int(inside.sum())
        total += int(((ids[inside] * H_MULT + k) % H_MOD).sum())
    out["diamonds"] = (count, total)
    return out


class PipRequests:
    def __init__(self, spark, offset: int):
        self.spark = spark
        self.offset = offset
        self.polys = {"grid": _grid_polys(spark),
                      "diamonds": _diamond_polys(spark)}

    def points(self, n: int):
        return self.spark.range(
            self.offset, self.offset + n, numPartitions=PARTITIONS
        ).selectExpr(
            "id as event_id",
            f"{exprs.image_lon_sql('id')} as lon",
            f"{exprs.image_lat_sql('id')} as lat",
        )

    def join(self, which: str, n: int, tr) -> tuple[int, int]:
        """Run one join to the noop sink under tracer ``tr``; return
        (rows, checksum)."""
        with tr.span("spatial.assign_cells"):
            pts = tr.force(spatial.assign_cells(
                self.points(n), "lon", "lat", ZOOM, impl="expr"))
        with tr.span("spatial.pip_join"):
            out = spatial.pip_join(pts, self.polys[which], zoom=ZOOM,
                                   points_have_cells=True)
            got = observe_noop(
                out,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.expr(f"pmod(event_id * {H_MULT} + geom_id, {H_MOD})"))
                .alias("h"),
            )
        return got["n"], got["h"]
