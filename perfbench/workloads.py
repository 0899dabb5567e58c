"""The benchmark's workloads: seeded inputs, one closed-loop iteration,
output checks and the single-threaded kernel replay.

Every input row is a pure function of its row index (the fixture layout:
W/H size cycle, png/jpeg/webp mix, 20% of rows in a ±0.5° hot cluster at
(2.3, 48.8)); the seed only picks which rows ``[seed*N, seed*N + N)`` are
generated. The program under test receives the generated inputs as
parquet and nothing else.

An iteration calls the program's public operators through ``op(name,
fn)``, which times the call and tags its Spark jobs so the event log can
be split per operator. ``check`` returns a list of problems (empty when
every output is right) and fills ``self.layers`` with the kernel numbers
of the replay.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
import zlib

import numpy as np
import pandas as pd

SAMPLE_IMAGES = 20  # images whose pyramids are replayed
SAMPLE_POINTS = 200


def write_images(spark, path: str, start: int, n: int) -> None:
    """Rows [start, start+n) of the image fixture, written as parquet."""
    from gdal_spark.fixtures.images import generate_images_pdf

    pdf = generate_images_pdf(n, start=start)
    spark.createDataFrame(pdf).repartition(16).write.mode("overwrite").parquet(path)


def fixture_points(start: int, n: int, id_col: str) -> pd.DataFrame:
    """Point rows with the fixture's 80/20 uniform/hot layout."""
    from gdal_spark.fixtures.images import row_meta

    idx = np.arange(start, start + n, dtype=np.int64)
    meta = row_meta(idx)
    return pd.DataFrame({id_col: idx, "lon": meta["lon"].to_numpy(),
                         "lat": meta["lat"].to_numpy()})


class Workload:
    name = ""
    items = 0
    ops: tuple = ()

    def __init__(self, seed: int, data_dir: str):
        self.seed = seed
        self.data = data_dir
        self.layers: dict = {}
        self.kernel_spans: list = []  # (name, start, end) of the replay

    def path(self, name: str) -> str:
        return os.path.join(self.data, name)

    def kernel(self, name: str, fn, *args):
        """Call a kernel from the replay and keep its span."""
        t0 = time.time()
        out = fn(*args)
        self.kernel_spans.append((name, t0, time.time()))
        return out

    def kernel_ms(self, name: str) -> float:
        """Mean milliseconds of one replayed call of ``name``."""
        times = [e - s for n, s, e in self.kernel_spans if n == name]
        return 1e3 * sum(times) / max(len(times), 1)

    def warmup(self, spark, op) -> None:
        """The untimed iteration of set-up."""
        self.iterate(spark, op)

    def traced(self, spark, op) -> list[str]:
        """Extra probes of the traced run; returns problems found."""
        return []

    def cleanup(self) -> None:
        pass


def _tile_chain(imgs, grid):
    """bench.py's e2e chain: cell -> z6 tile join -> base render -> agg."""
    from pyspark.sql import functions as F

    from gdal_spark.functions import cells as C
    from gdal_spark.operators.spatial_join import spatial_join_points_tiles
    from gdal_spark.operators.tiling import render_base_tiles

    joined = spatial_join_points_tiles(
        imgs.withColumn("cell", C.cell("lon", "lat", "7")), grid, 6
    ).select("image_id", "bytes", "lon", "lat", "gsd_m", "cell", "x", "y")
    return render_base_tiles(joined).agg(
        F.count("*").alias("n"),
        F.sum("cs1").alias("s1"),
        F.sum(F.crc32(F.col("tile"))).alias("sbytes"),
        F.sum(F.length("tile")).alias("nbytes"),
    )


def _pyramid(imgs):
    from gdal_spark.operators.tiling import build_tile_pyramid

    return build_tile_pyramid(imgs, tminz=8, codec="png")


def _dir_stats(root: str) -> tuple[int, int]:
    """(tile files, their bytes) under a tile directory, lineage excluded."""
    files = size = 0
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if x != "_lineage"]
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(d, name))
    return files, size


class TileE2E(Workload):
    """Raster read and write paths over one seeded image table.

    ``tile_e2e`` is bench.py's chain: cell encode -> broadcast z6 tile
    join -> base tile render (png) -> count / sum(cs1) / sum(crc32(tile)).
    ``pyramid_sink`` builds the per-image pyramid down to z8 (png) and
    writes it as a tile directory with lineage, into a fresh directory
    every iteration.
    """

    name = "tile_e2e"
    items = 480  # eight periods of the W/H (5), fmt (3) and gsd (4) cycles
    ops = ("tile_e2e", "pyramid_sink")

    def __init__(self, seed: int, data_dir: str):
        super().__init__(seed, data_dir)
        self.sinks = 0
        self.last_sink = ""

    def generate(self, spark) -> None:
        from gdal_spark.fixtures.tile_grid import tile_grid_df

        write_images(spark, self.path("images"), self.seed * self.items,
                     self.items)
        self.grid = tile_grid_df(spark, 6, 6)

    def warmup(self, spark, op) -> None:
        # two of the 16 input files run every operator and kernel once at
        # an eighth of a full iteration's cost
        files = sorted(glob.glob(os.path.join(self.path("images"), "*.parquet")))
        self._run(spark, op, spark.read.parquet(*files[:2]))

    def iterate(self, spark, op):
        return self._run(spark, op, spark.read.parquet(self.path("images")))

    def _run(self, spark, op, imgs):
        from gdal_spark.operators.tiling import read_tile_lineage, write_tile_directory

        spark.catalog.clearCache()
        row = op("tile_e2e", lambda: _tile_chain(imgs, self.grid).collect()[0])

        if self.last_sink:
            shutil.rmtree(self.last_sink, ignore_errors=True)
        self.sinks += 1
        root = self.last_sink = os.path.join(self.data, f"sink-{self.sinks}")
        spark.catalog.clearCache()
        tiles = _pyramid(imgs)
        count = op("pyramid_sink",
                   lambda: write_tile_directory(tiles, root, lineage=True))
        files, size = _dir_stats(root)
        with open(os.path.join(root, "_lineage", "_summary.json")) as f:
            summary = json.load(f)
        parts = read_tile_lineage(root)
        return (int(row["n"]), int(row["s1"]), int(row["sbytes"]),
                int(row["nbytes"]), int(count), files, size,
                int(summary["n_tiles"]), int(sum(p["bytes"] for p in parts)),
                len(parts))

    def plans(self, spark):
        imgs = spark.read.parquet(self.path("images"))
        return [df._jdf.queryExecution().executedPlan().toString()
                for df in (_tile_chain(imgs, self.grid), _pyramid(imgs))]

    def check(self, spark, results, op) -> list[str]:
        from gdal_spark.codecs.registry import decode, encode
        from gdal_spark.oracle.checksum import checksum_image
        from gdal_spark.oracle.tiling import build_pyramid, render_image_tiles

        problems = []
        main = results[-1]
        if len(set(results)) != 1:
            problems.append(f"tile_e2e: iterations disagree: {sorted(set(results))}")
        for r in results:
            count, files, size, n_summary, lin_bytes = r[4:9]
            if not count == files == n_summary or size != lin_bytes:
                problems.append(
                    f"pyramid_sink: returned {count} tiles, {files} files on "
                    f"disk, summary {n_summary}; {size} B on disk vs "
                    f"{lin_bytes} B in lineage")
        images = spark.read.parquet(self.path("images")).select(
            "image_id", "bytes", "lon", "lat", "gsd_m").toPandas()

        def encode_png(tile):
            return self.kernel("codecs.encode", encode,
                               np.ascontiguousarray(tile, dtype=np.uint8), "png")

        tiles = t_s1 = t_crc = t_bytes = 0
        for r in images.itertuples(index=False):
            arr = self.kernel("codecs.decode", decode, bytes(r.bytes))
            rendered = self.kernel("tiling.render", lambda: list(
                render_image_tiles(arr, r.lon, r.lat, r.gsd_m, "nearest")))
            for _, _, _, tile in rendered:
                t_s1 += self.kernel("checksum", checksum_image, tile)[0]
                png = encode_png(tile)
                tiles += 1
                t_crc += zlib.crc32(png)
                t_bytes += len(png)
        if (tiles, t_s1, t_crc, t_bytes) != main[:4]:
            problems.append(f"tile_e2e: replay of {len(images)} images gave "
                            f"{(tiles, t_s1, t_crc, t_bytes)}, the pipeline {main[:4]}")
        missing = []
        pyr_tiles = 0
        sample = images.sort_values("image_id").iloc[:SAMPLE_IMAGES]
        for r in sample.itertuples(index=False):
            arr = decode(bytes(r.bytes))
            pyr = self.kernel("tiling.pyramid", build_pyramid,
                              arr, r.lon, r.lat, r.gsd_m, 8)
            pyr_tiles += len(pyr)
            for (z, x, y), tile in pyr.items():
                self.kernel("checksum", checksum_image, tile)
                encode_png(tile)
                path = os.path.join(self.last_sink, str(z), str(x),
                                    f"{(1 << z) - 1 - y}.png")
                if not os.path.exists(path):
                    missing.append((r.image_id, z, x, y))
        if len(images) != self.items:
            problems.append(f"tile_e2e: read back {len(images)} of {self.items} images")
        if missing:
            problems.append(f"pyramid_sink: {len(missing)} tiles of the replayed "
                            f"pyramids missing on disk, e.g. {missing[:3]}")
        n, nbytes, count, files, size, manifests = (
            main[0], main[3], main[4], main[5], main[6], main[9])
        self.layers.update({
            "codecs.decode_ms_per_image": self.kernel_ms("codecs.decode"),
            "codecs.encode_ms_per_tile": self.kernel_ms("codecs.encode"),
            "codecs.png_bytes_per_tile": nbytes / max(n, 1),
            "tiling.render_ms_per_image": self.kernel_ms("tiling.render"),
            "tiling.pyramid_ms_per_image": self.kernel_ms("tiling.pyramid"),
            "tiling.tiles_per_image": n / self.items,
            "checksum.ms_per_tile": self.kernel_ms("checksum"),
            "sink.files": files,
            "sink.bytes_written_mb": size / 1e6,
            "sink.manifests": manifests,
            "sink.bytes_per_tile": size / max(files, 1),
            # both calls decode every image; each tile is checksummed and encoded
            "kernel.ms_per_item": 2 * self.kernel_ms("codecs.decode")
            + self.kernel_ms("tiling.render") + self.kernel_ms("tiling.pyramid")
            + (self.kernel_ms("checksum") + self.kernel_ms("codecs.encode"))
            * (tiles / max(len(images), 1) + pyr_tiles / max(len(sample), 1)),
        })
        return problems

    def cleanup(self) -> None:
        if self.last_sink:
            shutil.rmtree(self.last_sink, ignore_errors=True)


def diamonds(n: int) -> pd.DataFrame:
    """A fixed polygon table (the same for every seed): ``n`` diamonds on
    a low-discrepancy uniform layout with half-diagonals cycling through
    50, 150 and 300 km, in EPSG:3857 with their bboxes and WKB."""
    from gdal_spark.fixtures.tile_grid import wkb_polygon
    from gdal_spark.oracle import mercator as M

    j = np.arange(1, n + 1, dtype=np.float64)
    lon = (j * 0.6180339887498949) % 1.0 * 356.0 - 178.0
    lat = ((j * 0.7548776662466927) % 1.0 * 2.0 - 1.0) * 80.0
    mx, my = M.lonlat_to_meters(lon, lat)
    s = np.array([5e4, 1.5e5, 3e5])[np.arange(n) % 3]
    rings = [[(x + r, y), (x, y + r), (x - r, y), (x, y - r), (x + r, y)]
             for x, y, r in zip(mx, my, s)]
    return pd.DataFrame({
        "poly_id": np.arange(n, dtype=np.int64),
        "minx": mx - s, "miny": my - s, "maxx": mx + s, "maxy": my + s,
        "wkb": [wkb_polygon(r) for r in rings],
    })


def digest(df: pd.DataFrame, cols) -> str:
    """Order-free fingerprint of the integer columns ``cols`` of a result."""
    arr = df[list(cols)].to_numpy(dtype=np.int64)
    arr = arr[np.lexsort(arr.T[::-1])] if len(arr) else arr
    return hashlib.sha256(np.ascontiguousarray(arr).tobytes()).hexdigest()[:16]


def knn_problems(label: str, got: pd.DataFrame, q: pd.DataFrame,
                 c: pd.DataFrame, k: int, kernel) -> list[str]:
    """Every query point has exactly ranks 1..k, and the points of a fixed
    sample have the brute-force oracle's neighbours in rank order."""
    from gdal_spark.oracle import mercator as M
    from gdal_spark.oracle.knn import brute_force_knn

    problems = []
    per = got.groupby("pid")["rank"].agg(["count", "min", "max", "nunique"])
    if (len(per) != len(q) or not (per["count"] == k).all()
            or not (per["nunique"] == k).all() or per["min"].min() != 1
            or per["max"].max() != k):
        problems.append(f"{label}: {len(got)} rows for {len(per)} of {len(q)} "
                        f"points; want ranks 1..{k} for every point")
    sample = q.iloc[:SAMPLE_POINTS]
    c = c.sort_values("sid", ignore_index=True)
    qx, qy = M.lonlat_to_meters(sample["lon"].to_numpy(), sample["lat"].to_numpy())
    cx, cy = M.lonlat_to_meters(c["lon"].to_numpy(), c["lat"].to_numpy())
    idx, _ = kernel("knn.oracle", brute_force_knn, qx, qy, cx, cy, k)
    want = {int(p): [int(c["sid"][j]) for j in row]
            for p, row in zip(sample["pid"], idx)}
    mine = got[got["pid"].isin(list(want))].sort_values(["pid", "rank"])
    have = {int(p): [int(v) for v in g["sid"]] for p, g in mine.groupby("pid")}
    bad = [p for p in want if have.get(p) != want[p]]
    if bad:
        problems.append(f"{label}: differs from the brute-force oracle for "
                        f"{len(bad)} of {len(want)} sampled points, e.g. pid {bad[0]}")
    return problems


class VectorJoin(Workload):
    """No pixel work: point-in-polygon join against broadcast diamonds,
    then kNN against a candidate table under ``broadcast_cap`` (map-only).
    The traced run also runs kNN with both sides over the cap (the
    ring-expansion shuffles) and a projection-only pass of the cell
    functions."""

    name = "vector_join"
    ops = ("pip_join", "knn_broadcast")
    k = 4
    ring_cap = 1000
    # rows per seeded input table; the polygons are the same every seed
    sizes = {"points": 16000, "cands": 5000, "ring_points": 1000,
             "ring_cands": 4000}
    n_polys = 5000
    items = sizes["points"]

    def generate(self, spark) -> None:
        frames = {"polys": diamonds(self.n_polys)}
        for base, (name, n) in enumerate(self.sizes.items()):
            frames[name] = fixture_points(base * 10**9 + self.seed * n, n,
                                          "sid" if "cands" in name else "pid")
        self.frames = frames
        for name, pdf in frames.items():
            spark.createDataFrame(pdf).repartition(4).write.mode(
                "overwrite").parquet(self.path(name))

    def _read(self, spark, name):
        return spark.read.parquet(self.path(name))

    def _pip(self, spark):
        from gdal_spark.operators.spatial_join import spatial_join_points_polygons

        return spatial_join_points_polygons(
            self._read(spark, "points"), self._read(spark, "polys"), zoom=6,
            broadcast_polys=True).select("pid", "poly_id")

    def _knn(self, spark, ring: bool):
        from gdal_spark.operators.knn import knn_join

        if ring:
            df = knn_join(self._read(spark, "ring_points"),
                          self._read(spark, "ring_cands"), k=self.k,
                          broadcast_cap=self.ring_cap)
        else:
            df = knn_join(self._read(spark, "points"), self._read(spark, "cands"),
                          k=self.k)
        return df.select("pid", "sid", "rank")

    def iterate(self, spark, op):
        spark.catalog.clearCache()
        pip = op("pip_join", lambda: self._pip(spark).toPandas())
        knn = op("knn_broadcast", lambda: self._knn(spark, False).toPandas())
        self.last = (pip, knn)
        return (len(pip), digest(pip, ("pid", "poly_id")),
                len(knn), digest(knn, ("pid", "sid", "rank")))

    def plans(self, spark):
        return [df._jdf.queryExecution().executedPlan().toString()
                for df in (self._pip(spark), self._knn(spark, False))]

    def _pip_oracle(self, pts: pd.DataFrame) -> set:
        from gdal_spark.fixtures.tile_grid import parse_wkb_polygon
        from gdal_spark.oracle import mercator as M
        from gdal_spark.oracle.pip import point_in_ring

        mx, my = M.lonlat_to_meters(pts["lon"].to_numpy(), pts["lat"].to_numpy())
        polys = self.frames["polys"]
        want = set()
        for poly_id, blob in zip(polys["poly_id"], polys["wkb"]):
            hit = self.kernel("pip.oracle", point_in_ring, mx, my,
                              parse_wkb_polygon(bytes(blob)))
            want.update((int(p), int(poly_id)) for p in pts["pid"][hit])
        return want

    def check(self, spark, results, op) -> list[str]:
        problems = []
        if len(set(results)) != 1:
            problems.append(f"vector_join: iterations disagree: {sorted(set(results))}")
        pip, knn = self.last
        pts = self.frames["points"].iloc[:SAMPLE_POINTS]
        want = self._pip_oracle(pts)
        mine = pip[pip["pid"].isin(pts["pid"])]
        got = {(int(a), int(b)) for a, b in zip(mine["pid"], mine["poly_id"])}
        if got != want:
            problems.append(f"vector_join: PIP on {len(pts)} sampled points gave "
                            f"{len(got)} matches, oracle.pip {len(want)}")
        problems += knn_problems("vector_join: knn_broadcast", knn,
                                 self.frames["points"], self.frames["cands"],
                                 self.k, self.kernel)
        self.matches = len(pip)
        return problems

    def traced(self, spark, op) -> list[str]:
        """Ring kNN, the refine replay and the cell pass (traced run only)."""
        from pyspark.sql import functions as F

        from gdal_spark.fixtures.tile_grid import parse_wkb_polygon
        from gdal_spark.functions import cells as C
        from gdal_spark.oracle.pip import point_in_ring
        from gdal_spark.operators.spatial_join import covering_cells

        ring = op("knn_ring", lambda: self._knn(spark, True).toPandas())
        problems = knn_problems("vector_join: knn_ring", ring,
                                self.frames["ring_points"],
                                self.frames["ring_cands"], self.k, self.kernel)

        # the refine as pip_refine runs it: candidate pairs in Arrow-sized
        # batches, each distinct ring parsed and cast once per batch
        sample = self.frames["points"].iloc[:SAMPLE_POINTS]
        pts = self._read(spark, "points").where(
            F.col("pid").isin([int(v) for v in sample["pid"]]))
        p = pts.select("pid", C.tile_x("lon", "6").alias("_tx"),
                       C.tile_y_tms("lat", "6").alias("_ty"),
                       C.mercator_x("lon").alias("_mx"),
                       C.mercator_y("lat").alias("_my"))
        cov = F.broadcast(covering_cells(self._read(spark, "polys"), 6))
        cand = op("candidates", lambda: p.join(
            cov, (p["_tx"] == cov["cov_x"]) & (p["_ty"] == cov["cov_y"])
        ).select("_mx", "_my", "wkb").toPandas())
        hits = 0
        t_refine = 0.0
        for lo in range(0, len(cand), 256):
            b = cand.iloc[lo:lo + 256]
            codes, uniques = pd.factorize(b["wkb"])
            xs, ys = b["_mx"].to_numpy(), b["_my"].to_numpy()
            t0 = time.time()
            for u, blob in enumerate(uniques):
                sel = codes == u
                hits += int(point_in_ring(xs[sel], ys[sel],
                                          parse_wkb_polygon(bytes(blob))).sum())
            self.kernel_spans.append(("pip.refine", t0, time.time()))
            t_refine += time.time() - t0
        want = len(self._pip_oracle(sample))
        if hits != want:
            problems.append(f"vector_join: refine replay found {hits} matches, "
                            f"oracle.pip {want}")

        t0 = time.perf_counter()
        op("cells", lambda: self._read(spark, "points").select(
            F.max(C.tile_x("lon", "6")), F.max(C.tile_y_tms("lat", "6")),
            F.max(C.mercator_x("lon")), F.max(C.mercator_y("lat"))).collect())
        self.layers.update({
            "cells.rows_per_s": self.items / (time.perf_counter() - t0),
            "pip.us_per_pair": 1e6 * t_refine / max(len(cand), 1),
            "spatial_join.matches": self.matches,
        })
        return problems


WORKLOADS = {w.name: w for w in (TileE2E, VectorJoin)}
