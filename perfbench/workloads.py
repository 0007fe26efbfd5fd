"""The benchmark's workloads.

Each workload generates its inputs from the seed on the driver, loads
and caches them in Spark (together the set-up), and then serves rounds
of requests in a closed loop: one client, and the next request starts
only when the previous one has returned. A request's result is checked after the
timed window against an independent computation made by ``check``.

Traced requests make the same calls as untraced ones, but each call
into a layer runs in a span of its own, and the DataFrame a layer
returns is cached and counted inside that span, so the layer's time and
Spark jobs are its own.
"""

from __future__ import annotations

import gzip
import os
import shutil
from contextlib import nullcontext

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as entry
from hgt2osm2_spark.config import ContourOptions
from hgt2osm2_spark.kernels import codecs, marching, postprocess, stitch
from hgt2osm2_spark.ops import contours, mosaic, spatial, terrain
from hgt2osm2_spark.plans.pipeline import run_contour_pipeline
from hgt2osm2_spark.sinks import osm_xml
from hgt2osm2_spark.sources import synthetic

OPT = ContourOptions()
PIP_RES = 6
NV = int(codecs.NOVALUE)
#: tiles_pip tiles whose node stream is checked against the fused-grain
#: reference, and which the traced run exports as OSM XML files
SAMPLE = 4


class NoTrace:
    """Stand-in tracer for untraced requests: spans cost nothing."""

    def span(self, name):
        return nullcontext()


NO_TRACE = NoTrace()


def _tiles_df(spark, rows, partitions):
    df = spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)
    return df.repartition(partitions).cache()


def _materialize(df):
    """Cache and count: runs the layer that produced df, on its own."""
    df = df.cache()
    df.count()
    return df


def _points(nodes):
    return nodes.select(
        F.concat_ws("/", "image_id", "node_id").alias("q_id"), "lat", "lon")


def ray_cast(px, py, xs, ys):
    """Even-odd point-in-polygon over numpy point arrays, one ring."""
    inside = np.zeros(len(px), dtype=bool)
    j = len(xs) - 1
    for i in range(len(xs)):
        xi, yi, xj, yj = xs[i], ys[i], xs[j], ys[j]
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= ((yi > py) != (yj > py)) & (px < xint)
        j = i
    return inside


def _same_nodes(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    cols = ["image_id", "level", "poly_ord", "node_id", "lat", "lon"]
    a = got[cols].sort_values(["image_id", "node_id"]).reset_index(drop=True)
    b = want[cols].sort_values(["image_id", "node_id"]).reset_index(drop=True)
    return len(a) == len(b) and all(
        np.array_equal(a[c].to_numpy(), b[c].to_numpy()) for c in cols)


class Workload:
    """Inputs, requests and output checks of one workload."""

    name = ""

    def __init__(self, ncores: int, tiny: bool, out_dir: str) -> None:
        self.ncores = ncores
        self.out_dir = out_dir  # output files are written below it
        self.cached = []

    def generate(self, seed: int) -> None:
        """Make the inputs on the driver."""
        raise NotImplementedError

    def load(self, spark) -> None:
        """Load the generated inputs into Spark and cache them."""
        raise NotImplementedError

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []

    def kinds(self) -> list[str]:
        """Request kinds of one round, in order."""
        return [self.name]

    def request(self, kind: str, tr=NO_TRACE):
        raise NotImplementedError

    def check(self) -> list[str]:
        """The warm-up request, with its output checked against an
        independent computation, which also serves the later requests'
        checks; returns the problems found. Runs outside the timed
        window."""
        raise NotImplementedError

    def verify(self, kind: str, result) -> bool:
        raise NotImplementedError

    def size(self, kind: str) -> tuple[int, int]:
        """(tiles, grid cells w*h) one request of this kind reads."""
        return self.n_tiles, self.n_tiles * self.grid * self.grid

    def counters(self, tr) -> tuple[dict, list[str]]:
        """Per-layer counts, measured once per traced run, and the
        problems found checking any output they make."""
        return {}, []


class TilesPip(Workload):
    """Many small synthetic tiles, fused contour grain, then a PIP join
    of the contour nodes against the entry polygons (the frozen bench's
    headline shape)."""

    name = "tiles_pip"

    def __init__(self, ncores, tiny, out_dir):
        super().__init__(ncores, tiny, out_dir)
        self.n_tiles, self.grid = (8, 65) if tiny else (128, 201)

    def generate(self, seed):
        self.rows = [synthetic.make_tile_row(i, self.grid, seed)
                     for i in range(self.n_tiles)]
        self.sample = sorted(r["image_id"] for r in self.rows)[:SAMPLE]
        self.sample_rows = [r for r in self.rows if r["image_id"] in self.sample]

    def load(self, spark):
        self.tiles = _tiles_df(spark, self.rows, 2 * self.ncores)
        self.sample_tiles = _tiles_df(spark, self.sample_rows, SAMPLE)
        self.polys = spark.createDataFrame(pd.DataFrame([
            {"poly_id": pid, "xs": [v[0] for v in vs] + [vs[0][0]],
             "ys": [v[1] for v in vs] + [vs[0][1]]}
            for pid, vs in entry.PIP_POLYGONS
        ])).cache()
        self.cached = [self.tiles, self.sample_tiles, self.polys]
        for df in self.cached:
            df.count()

    def pipeline(self, tiles, tr=NO_TRACE):
        with tr.span("plans.pipeline.run_contour_pipeline"):
            return run_contour_pipeline(
                tiles, OPT, shuffle_partitions=2 * self.ncores, band_rows=None)

    def request(self, kind, tr=NO_TRACE):
        res = self.pipeline(self.tiles, tr)
        nodes, cached = res.nodes, []
        try:
            if tr is not NO_TRACE:
                with tr.span("ops.contours.fused"):
                    cached.append(_materialize(res.post))
                with tr.span("ops.ids.assign"):
                    nodes = _materialize(res.nodes)
                    cached.append(nodes)
            with tr.span("ops.spatial.pip_join"):
                return spatial.pip_join(
                    _points(nodes), self.polys, res=PIP_RES).count()
        finally:
            for df in cached:
                df.unpersist()

    def check(self):
        problems = []
        xs = [v[0] for _p, vs in entry.PIP_POLYGONS for v in vs]
        ys = [v[1] for _p, vs in entry.PIP_POLYGONS for v in vs]
        nodes = self.pipeline(self.tiles).nodes.cache()
        try:
            hits = spatial.pip_join(_points(nodes), self.polys, res=PIP_RES) \
                .select("q_id", "poly_id").toPandas()
            # only nodes inside the polygons' bounding box can be hits
            boxed = nodes.filter(
                F.col("lon").between(min(xs), max(xs))
                & F.col("lat").between(min(ys), max(ys))).toPandas()
            sampled = nodes.filter(F.col("image_id").isin(self.sample)).toPandas()
        finally:
            nodes.unpersist()
        got = set(zip(hits["q_id"], hits["poly_id"]))
        q_id = boxed["image_id"] + "/" + boxed["node_id"].astype(str)
        px, py = boxed["lon"].to_numpy(), boxed["lat"].to_numpy()
        want = set()
        for pid, vs in entry.PIP_POLYGONS:
            rx = np.array([v[0] for v in vs] + [vs[0][0]])
            ry = np.array([v[1] for v in vs] + [vs[0][1]])
            want.update((q, pid) for q in q_id[ray_cast(px, py, rx, ry)])
        if len(got) != len(hits):
            problems.append(f"pip_join returned {len(hits) - len(got)} duplicate hits")
        if got != want:
            problems.append(
                f"pip_join: {len(got - want)} hits not in the ray cast, "
                f"{len(want - got)} ray-cast hits missing")
        if not want:
            problems.append("pip_join: no node lies in any polygon")
        self.ref = contours.fused_tile_nodes(self.sample_tiles, OPT).toPandas()
        if not _same_nodes(sampled, self.ref) or sampled.empty:
            problems.append("node stream differs from fused_tile_nodes")
        self.want_hits = len(hits)
        # the first request after the cold one still runs up to a third
        # slower while the JVM and the Python workers warm up
        if not self.verify(self.name, self.request(self.name)):
            problems.append("second warm-up request: hit count differs")
        return problems

    def verify(self, kind, result):
        return result == self.want_hits

    def kernel_pass(self, tr) -> dict:
        """Driver-side calls into the contour kernels on every input
        tile, one span per call."""
        segs = polys = kept = 0
        with tr.span("kernels"):
            for r in self.rows:
                w = int(r["w"])
                with tr.span("kernels.codecs.decode"):
                    grid = codecs.decode(r["bytes"], r["fmt"], w, int(r["h"]))
                with tr.span("kernels.marching.extract_segments"):
                    seg = marching.extract_segments(
                        grid, OPT.minor_distance, OPT.fake_distance)
                segs += len(seg)
                if len(seg) == 0:
                    continue
                with tr.span("kernels.stitch.stitch_tile_arrays"):
                    _lv, offs, fx, fy = stitch.stitch_tile_arrays(seg)
                with tr.span("kernels.postprocess.run_polylines_batch"):
                    status = postprocess.run_polylines_batch(
                        fx, fy, offs, OPT.min_vertice_points,
                        OPT.min_bounding_box, 1.0 / w, OPT.douglas_peucker,
                    )[3]
                polys += len(status)
                kept += int((status == 0).sum())
        return {
            "kernels.marching.segments": segs,
            "kernels.postprocess.kept_ratio": kept / polys if polys else 0.0,
        }

    def export(self, tr) -> tuple[dict, list[str]]:
        """The reference tool's own output for the sample tiles: one
        gzip OSM XML file each, from tile_xml and
        write_tile_files_distributed under spans of their own, checked
        against the node and way DataFrames and the fused-grain nodes."""
        out = os.path.join(self.out_dir, f"{self.name}-{os.getpid()}")
        shutil.rmtree(out, ignore_errors=True)
        res = self.pipeline(self.sample_tiles)
        # nodes and ways both derive from the assigned polylines
        cached = [res.assigned.cache()]
        try:
            n_nodes, n_ways = res.nodes.count(), res.ways.count()
            with tr.span("sinks.osm_xml.tile_xml") as to_xml:
                xml = _materialize(osm_xml.tile_xml(res.nodes, res.ways))
                cached.append(xml)
            with tr.span("sinks.osm_xml.write") as write:
                n = osm_xml.write_tile_files_distributed(xml, out)
            got_nodes = res.nodes.toPandas()
        finally:
            for df in cached:
                df.unpersist()
        files = {}
        for f in sorted(os.listdir(out)):
            with open(os.path.join(out, f), "rb") as fh:
                files[f] = fh.read()
        shutil.rmtree(out)
        problems = []
        want = [f"cl{i}.osm.gz" for i in self.sample]
        if n != SAMPLE or sorted(files) != want:
            problems.append(f"wrote {sorted(files)} ({n}), want {want}")
        text = "".join(gzip.decompress(b).decode() for b in files.values())
        if (text.count("<node "), text.count("<way ")) != (n_nodes, n_ways):
            problems.append(
                f"XML holds {text.count('<node ')} nodes, {text.count('<way ')}"
                f" ways; the DataFrames {n_nodes} and {n_ways}")
        if not _same_nodes(got_nodes, self.ref):
            problems.append("exported node stream differs from fused_tile_nodes")
        return {
            "sinks.osm_xml.tile_xml_s": to_xml.self_s,
            "sinks.osm_xml.write_s": write.self_s,
            "sinks.osm_xml.bytes_out": sum(len(b) for b in files.values()),
        }, problems

    def counters(self, tr):
        out = self.kernel_pass(tr)
        nodes = _materialize(self.pipeline(self.tiles).nodes)
        try:
            pts = _points(nodes).withColumn(
                "cell", spatial.cell_expr(F.col("lat"), F.col("lon"), PIP_RES))
            cand = pts.join(
                spatial.polygon_cover_cells(self.polys, PIP_RES), "cell").count()
            out["ops.ids.nodes"] = nodes.count()
        finally:
            nodes.unpersist()
        out["ops.spatial.pip_candidates"] = cand
        out["ops.spatial.pip_hits"] = self.want_hits
        out["ops.spatial.pip_hit_ratio"] = self.want_hits / cand if cand else 0.0
        sink, problems = self.export(tr)
        out.update(sink)
        return out, problems


def assemble(rows, nx, ny, size, lat0, lon0):
    """The whole mosaic grid from the encoded tile rows (adjacent tiles
    share their border row or column, which must agree), plus the
    global cell offsets of its north-west corner."""
    g = np.full((ny * (size - 1) + 1, nx * (size - 1) + 1), NV, dtype=np.int16)
    for row in rows:
        lat, lon, _k = mosaic.parse_tile_id(row["image_id"])
        y0, x0 = ((lat0 + ny - 1) - lat) * (size - 1), (lon - lon0) * (size - 1)
        tile = codecs.decode(row["bytes"], row["fmt"], size, size)
        cur = g[y0:y0 + size, x0:x0 + size]
        seen = cur != NV
        if not np.array_equal(cur[seen], tile[seen]):
            raise ValueError(f"seam mismatch at tile {row['image_id']}")
        g[y0:y0 + size, x0:x0 + size] = tile
    return g, mosaic.cell_gx(lon0, 0, size), mosaic.cell_gy(lat0 + ny - 1, 0, size)


class MosaicDrainage(Workload):
    """Cross-tile drainage on one cached 2x2 crater mosaic: a closed
    loop over the fill, flow-accumulation and routed-flow drivers."""

    name = "mosaic_drainage"
    DRIVERS = {
        "mosaic_fill": (mosaic.mosaic_fill, ("z", "zfill")),
        "mosaic_flow_accumulation": (
            mosaic.mosaic_flow_accumulation,
            ("z", "acc", "outlet_gx", "outlet_gy")),
        "mosaic_routed_flow": (
            mosaic.mosaic_routed_flow, ("acc", "outlet_gx", "outlet_gy")),
    }
    NX = NY = 2
    LAT0, LON0 = 47, 8

    def __init__(self, ncores, tiny, out_dir):
        super().__init__(ncores, tiny, out_dir)
        self.n_tiles, self.grid = self.NX * self.NY, 33

    def kinds(self):
        return list(self.DRIVERS)

    def generate(self, seed):
        self.rows = synthetic.mosaic_tile_rows(
            self.NX, self.NY, self.grid, seed, self.LAT0, self.LON0,
            craters=True)

    def load(self, spark):
        self.tiles = spark.createDataFrame(
            pd.DataFrame(self.rows), synthetic.TILES_SCHEMA).cache()
        self.cached = [self.tiles]
        self.tiles.count()

    def request(self, kind, tr=NO_TRACE):
        with tr.span(f"ops.mosaic.{kind}"):
            return self.DRIVERS[kind][0](self.tiles).collect()

    def check(self):
        g, gx0, gy0 = assemble(self.rows, self.NX, self.NY, self.grid,
                               self.LAT0, self.LON0)
        filled = terrain.fill_grid(g)
        ys, xs = np.nonzero(g != NV)
        want = {"mosaic_fill": {
            (gx0 + int(x), gy0 + int(y)): (int(g[y, x]), int(filled[y, x]))
            for y, x in zip(ys, xs)}}
        ys, xs, acc, oy, ox = terrain.flow_accumulate_grid(g)
        want["mosaic_flow_accumulation"] = {
            (gx0 + int(x), gy0 + int(y)):
                (int(g[y, x]), int(a), gx0 + int(qx), gy0 + int(qy))
            for y, x, a, qy, qx in zip(ys, xs, acc, oy, ox)}
        routed_in = filled.astype(np.int16)
        routed_in[g == NV] = NV
        ys, xs, acc, oy, ox = terrain.routed_flow_grid(routed_in)
        want["mosaic_routed_flow"] = {
            (gx0 + int(x), gy0 + int(y)): (int(a), gx0 + int(qx), gy0 + int(qy))
            for y, x, a, qy, qx in zip(ys, xs, acc, oy, ox)}
        self.want = want
        # the warm-up runs the routed driver only: it goes through the
        # fill and accumulation passes the other two drivers use
        if not self.verify("mosaic_routed_flow", self.request("mosaic_routed_flow")):
            return ["mosaic_routed_flow differs from the whole-mosaic twin"]
        return []

    def verify(self, kind, rows):
        cols = self.DRIVERS[kind][1]
        got = {(r["gx"], r["gy"]): tuple(r[c] for c in cols) for r in rows}
        return len(got) == len(rows) and got == self.want[kind]


WORKLOADS = {w.name: w for w in (TilesPip, MosaicDrainage)}
