"""``ingest`` workload: the jobs/ingest.py call sequence over seeded
synthetic images.

Set-up writes images ``offset .. offset + N_IMAGES`` (synth.make_row,
so every tenth image falls in the hot-spot box) to parquet; the seed
sets the offset. One operation is a whole ingest into a fresh
warehouse: checkpointed_stage(tile_images), write_tiles,
collect_metadata, write_layer_metadata, then per pyramid level a
checkpointed pyramid_up and write_tiles. It checks each level's tile
count and key bounds against the numpy image_anchor arithmetic, and
two base-zoom tiles (the hot-spot tile and a seeded pick) pixel by
pixel against a painter that mirrors synth.paint_region.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geotrellis_spark import synth
from geotrellis_spark.checkpoint import checkpointed_stage
from geotrellis_spark.core import codecs, imagery
from geotrellis_spark.operators import tiling
from geotrellis_spark.sources import iceberg_shape as ice

from checks import Outcome
from tracer import Tracer

ARROW_BATCH = 128
N_IMAGES = 200
WARM_IMAGES = 8
ZOOM = 8
TILE = 256
SALT = 8
LAYER = "images"
JOB_ID = "bench-ingest"


def image_offset(seed: int) -> int:
    # merge_tiles keeps ordinals in uint32 planes
    return 1 + (seed * 104_729) % (1 << 30)


_IMAGE_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()),
])


def write_images(offset: int, n: int, path: str, files: int = 8) -> None:
    """synth.make_row images ``offset .. offset + n`` as parquet files."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    rows = [synth.make_row(i) for i in range(offset, offset + n)]
    table = pa.Table.from_pylist(rows, schema=_IMAGE_SCHEMA)
    step = -(-n // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))


class Expected:
    """Tile keys per zoom level, from the images' anchors alone."""

    def __init__(self, images_path: str, rng: random.Random):
        t = pq.read_table(images_path, columns=["image_id", "w", "h", "bytes"])
        self.ords = np.array([int(s[3:]) for s in t["image_id"].to_pylist()],
                             dtype=np.int64)
        order = np.argsort(self.ords)
        self.ords = self.ords[order]
        self.w = t["w"].to_numpy().astype(np.int64)[order]
        self.h = t["h"].to_numpy().astype(np.int64)[order]
        self.input_bytes = sum(len(b) for b in t["bytes"].to_pylist())
        self.gx, self.gy = tiling.image_anchor(self.ords, self.w, self.h,
                                               ZOOM, TILE)
        keys, hits = set(), {}
        for gx, gy, w, h in zip(self.gx, self.gy, self.w, self.h):
            for c in range(gx // TILE, (gx + w - 1) // TILE + 1):
                for r in range(gy // TILE, (gy + h - 1) // TILE + 1):
                    keys.add((int(c), int(r)))
                    hits[(int(c), int(r))] = hits.get((int(c), int(r)), 0) + 1
        self.levels = {}
        for z in (ZOOM, ZOOM - 1):
            cs = [k[0] for k in keys]
            rs = [k[1] for k in keys]
            self.levels[z] = (len(keys), min(cs), min(rs), max(cs), max(rs))
            keys = {(c >> 1, r >> 1) for c, r in keys}
        hot = max(hits, key=hits.get)
        other = rng.choice(sorted(k for k in hits if k != hot))
        self.sample = [hot, other]

    def paint(self, c: int, r: int) -> np.ndarray:
        """Tile (c, r) at ZOOM as synth.paint_region paints it: lower
        ordinal wins, NoData (0) where no image has data."""
        x0, y0 = c * TILE, r * TILE
        canvas = np.full((TILE, TILE), np.nan)
        for k in range(len(self.ords)):
            ix0, iy0 = int(self.gx[k]), int(self.gy[k])
            w, h = int(self.w[k]), int(self.h[k])
            rx0, rx1 = max(ix0, x0), min(ix0 + w, x0 + TILE)
            ry0, ry1 = max(iy0, y0), min(iy0 + h, y0 + TILE)
            if rx0 >= rx1 or ry0 >= ry1:
                continue
            px = imagery.synth_pixels(int(self.ords[k]), w, h)
            piece = px[ry0 - iy0:ry1 - iy0, rx0 - ix0:rx1 - ix0].astype(np.float64)
            view = canvas[ry0 - y0:ry1 - y0, rx0 - x0:rx1 - x0]
            win = np.isnan(view) & (piece != 0)
            view[win] = piece[win]
        return np.nan_to_num(canvas, nan=0.0)


def _dir_stats(path: str) -> tuple[int, int]:
    """(total bytes, parquet data files) under ``path``."""
    size, files = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


class Workload:
    NAME = "ingest"
    WORK_NAME = "ingest_tiles_per_s"
    P50_NAME = "ingest_p50_s"
    P90_NAME = "ingest_p90_s"

    def __init__(self, bench):
        self.b = bench
        self.offset = image_offset(bench.seed)
        self.images = os.path.join(bench.work, "images.parquet")
        self.warm_images = os.path.join(bench.work, "warm_images.parquet")
        self.n_ops = 0
        self.op_stats: list[dict] = []
        bench.spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                             "dynamic")

    def prepare(self) -> None:
        write_images(self.offset, N_IMAGES, self.images)
        write_images(self.offset + N_IMAGES, WARM_IMAGES, self.warm_images)
        self.expect = Expected(self.images, random.Random(self.b.seed))

    def ingest(self, images_path: str, wh: str) -> None:
        """The jobs/ingest.py call sequence, with one pyramid level."""
        tiles = self._base(images_path, wh, self.b.tracer)
        self._level(tiles, wh, self.b.tracer)

    def _base(self, images_path: str, wh: str, tr: Tracer):
        """Base zoom: the checkpointed tiling stage, its write and its
        layer metadata. Returns the stage's tiles."""
        spark = self.b.spark
        base = os.path.join(wh, "_jobs")
        images = spark.read.parquet(images_path)

        def make_tiles():
            with tr.span("tiling.tile_images"):
                return tr.force(tiling.tile_images(images, ZOOM, TILE, SALT,
                                                   layer=LAYER))

        with tr.span("checkpoint.checkpointed_stage"):
            tiles = checkpointed_stage(
                make_tiles, spark=spark, base=base, job_id=JOB_ID,
                stage=f"tile_z{ZOOM}", bucket_col="cell_id", n_buckets=16,
                output_path=os.path.join(wh, f"_stage/{JOB_ID}/z{ZOOM}"),
                input_snapshot=images_path,
                params={"zoom": ZOOM, "salt_buckets": SALT},
            )
        with tr.span("iceberg_shape.write_tiles"):
            ice.write_tiles(tiles, wh, mode="overwrite")
        with tr.span("iceberg_shape.collect_metadata"):
            md = ice.collect_metadata(tiles)
        n = 1 << ZOOM
        with tr.span("iceberg_shape.write_layer_metadata"):
            ice.write_layer_metadata(
                spark, wh, LAYER, ZOOM, cell_type=md["cell_type"],
                tile_cols=TILE, tile_rows=TILE, layout_cols=n, layout_rows=n,
                extent=(-180, -90, 180, 90), key_bounds=md["key_bounds"],
            )
        return tiles

    def _level(self, tiles, wh: str, tr: Tracer) -> None:
        """One pyramid level, written but not checkpointed: a checkpointed
        level repeats the base stage's calls and would not fit the run
        budget (see perfbench/README.md)."""
        with tr.span("tiling.pyramid_up"):
            level = tr.force(tiling.pyramid_up(tiles, ZOOM, TILE))
        with tr.span("iceberg_shape.write_tiles"):
            ice.write_tiles(level, wh, mode="overwrite")

    def check(self, wh: str, expect: Expected) -> bool:
        spark = self.b.spark
        tiles = ice.read_tiles(spark, wh, layer=LAYER)
        got = {
            r["zoom"]: (r["n"], r["c0"], r["r0"], r["c1"], r["r1"])
            for r in tiles.groupBy("zoom").agg(
                F.count("*").alias("n"),
                F.min("key_col").alias("c0"), F.min("key_row").alias("r0"),
                F.max("key_col").alias("c1"), F.max("key_row").alias("r1"),
            ).collect()
        }
        if got != expect.levels:
            print(f"# ingest levels: got {got}, expected {expect.levels}",
                  file=sys.stderr)
            return False
        for c, r in expect.sample:
            row = tiles.where(
                (F.col("zoom") == ZOOM) & (F.col("key_col") == c)
                & (F.col("key_row") == r)
            ).select("tile", "fmt", "w", "h").collect()
            if len(row) != 1:
                print(f"# ingest tile ({c}, {r}) missing", file=sys.stderr)
                return False
            t = codecs.decode_tile(bytes(row[0]["tile"]), row[0]["w"],
                                   row[0]["h"], row[0]["fmt"])
            if not np.array_equal(t.astype(np.float64), expect.paint(c, r)):
                print(f"# ingest tile ({c}, {r}) pixels differ", file=sys.stderr)
                return False
        return True

    def warm_up(self) -> None:
        """Every call of an ingest once, on the warm-up images. The base
        zoom and the pyramid level run concurrently, into two
        warehouses, so the cold start takes less of the run."""
        spark = self.b.spark
        wh_base = os.path.join(self.b.work, "wh-warm-base")
        wh_level = os.path.join(self.b.work, "wh-warm-level")
        tiles = tiling.tile_images(spark.read.parquet(self.warm_images),
                                   ZOOM, TILE, SALT, layer=LAYER)
        with ThreadPoolExecutor(2) as pool:
            runs = [
                pool.submit(self._base, self.warm_images, wh_base,
                            Tracer(spark, False)),
                pool.submit(self._level, tiles, wh_level,
                            Tracer(spark, False)),
            ]
            for r in runs:
                r.result()
        shutil.rmtree(wh_base)
        shutil.rmtree(wh_level)

    def _op(self):
        self.n_ops += 1
        wh = os.path.join(self.b.work, f"wh-{self.n_ops}")
        traced = self.b.tracer.enabled
        self.ingest(self.images, wh)
        # tiles committed at both levels; ``check`` confirms the table
        # holds exactly these
        units = sum(v[0] for v in self.expect.levels.values())

        def check() -> bool:
            try:
                ok = self.check(wh, self.expect)
                size, _ = _dir_stats(wh)
                files = sum(_dir_stats(os.path.join(wh, d))[1]
                            for d in ("tiles", "_meta"))
                self.op_stats.append({
                    "traced": traced, "committed": units,
                    "stored_ratio": size / self.expect.input_bytes,
                    "files": files,
                })
                return ok
            finally:
                shutil.rmtree(wh, ignore_errors=True)

        return Outcome(units, check)

    def cycle(self, k: int):
        return [("ingest", self._op)]

    def named_metrics(self, ops: list) -> dict:
        ratios = [s["stored_ratio"] for s in self.op_stats]
        return {"ingest_stored_bytes_ratio": (
            statistics.median(ratios) if ratios else 0.0, "ratio")}

    def layer_metrics(self, rows: list, ops: list, n_cycles: int) -> dict:
        by = {}
        for r in rows:
            by.setdefault(r["name"], []).append(r)

        def total(names, key="self_s"):
            return sum(r.get(key, 0.0) for n in names for r in by.get(n, []))

        # the cut is the stage that shuffles the pieces: the one writing
        # the most shuffle records (the forcing count shuffles one per task)
        cut_s = pieces = 0.0
        for r in by.get("tiling.tile_images", []):
            cut = max(r["stages"],
                      key=lambda st: st.get("shuffle_records_written", 0))
            cut_s += cut["end"] - cut["start"]
            pieces += cut["shuffle_records_written"]
        traced = [s for s in self.op_stats if s["traced"]]
        writes = by.get("iceberg_shape.write_tiles", [])
        ckpt = ("checkpoint.checkpointed_stage",)
        return {
            "tiling.cut_s": cut_s / n_cycles,
            "tiling.merge_s": (total(["tiling.tile_images"]) - cut_s) / n_cycles,
            "tiling.pieces_per_image": pieces / (N_IMAGES * n_cycles),
            "tiling.shuffle_write_mb": total(
                ["tiling.tile_images", "tiling.pyramid_up"], "shuffle_write_mb"
            ) / n_cycles,
            "tiling.pyramid_s": total(["tiling.pyramid_up"]) / n_cycles,
            "checkpoint.stage_s": total(ckpt) / n_cycles,
            "checkpoint.spark_jobs": total(ckpt, "jobs") / n_cycles,
            "iceberg_shape.write_s": total(
                ["iceberg_shape.write_tiles",
                 "iceberg_shape.write_layer_metadata"]) / n_cycles,
            "iceberg_shape.collect_metadata_s": total(
                ["iceberg_shape.collect_metadata"]) / n_cycles,
            "iceberg_shape.rows_rescanned": (
                sum(r.get("records_read", 0.0) for r in writes)
                - sum(s["committed"] for s in traced)
            ) / n_cycles,
            "iceberg_shape.files_written": statistics.median(
                [s["files"] for s in traced]) if traced else 0.0,
            "iceberg_shape.stored_bytes_ratio": statistics.median(
                [s["stored_ratio"] for s in traced]) if traced else 0.0,
        }
