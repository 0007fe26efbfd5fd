"""Cross-tile (mosaic-scale) drainage: flow accumulation, outlets and
basin statistics whose truths span tile borders — the r7 terrain
family's one genuine scale boundary, closed.

The reference is strictly per-tile (each HGT file is processed
independently, Program.cs:93-113), and so is ``ops/terrain.py``'s
``flow_accumulation`` — its D8 universe stops at the tile border, so
its accumulation and basin labels are per-tile truths. Real watersheds
cross 1-degree tiles. This module computes the WHOLE-MOSAIC truth
with the two-level tile/border decomposition of Barnes 2016
("Parallelized non-divergent flow accumulation for trillion-cell
digital elevation models") re-expressed Spark-first:

 1. **halo exchange** — every tile ships its 8 neighbors one 1-cell
    strip (perimeter-sized rows, never the raster); a cogroup
    assembles each tile's (h+2, w+2) augmented grid, NOVALUE where the
    mosaic ends. HGT convention: adjacent tiles SHARE their border
    row/column (HGTReader.cs:50-52), so the strip a neighbor needs is
    the SECOND row/column in from the shared edge.
 2. **per-tile pass** (one Arrow kernel, vectorized worklist Kahn —
    the ops/terrain.py machinery generalized to weights): local
    accumulation over the tile's OWNED cells, plus two perimeter-sized
    summaries — exit edges (terminal cell whose D8 target leaves the
    owned box: global src/dst + local outflow) and the entry registry
    (ring cells a neighbor could drain into: their local terminal and
    whether it exits). Ownership: local x < w-1 and y < h-1 — every
    mosaic cell has exactly one owner, and shared border cells belong
    to the tile that holds them at x=0 / y=0.
 3. **border solve** — the exit edges form a FUNCTIONAL graph (each
    terminal has one D8 target, each entry one local exit), weighted
    accumulation on it is the same worklist-Kahn shape one level up.
    The graph is O(n_tiles * perimeter) — for planet SRTM-1 about
    25k tiles x 14k ring cells upper-bounded, in practice the cells
    that actually receive cross flow — and runs in ONE executor task
    (groupBy on a constant key), the same single-node border solve
    Barnes uses at trillion-cell scale. An edge whose target is not in
    the receiving tile's universe (NOVALUE-adjacent or mosaic edge) is
    DEAD: the flow terminates at the source cell, exactly as the
    whole-mosaic kernel would decide.
 4. **relabel/weighted pass** — per-entry inflow deltas broadcast back
    (rows in the same strip frame) and the per-tile kernel reruns with
    cell weights 1 + delta: the weighted local accumulation IS the
    mosaic accumulation (every external upstream cell is counted by
    the delta at the entry it flowed through). The solved
    edge-terminal map rides the SAME strip frame back to its owner
    tile (side='t'), so outlets resolve in-kernel with one
    searchsorted over the tile's own exit edges — never a
    raster-sized join.

Everything the gate hashes is integer-exact: counts, int16 elevations,
global int64 cell coordinates gx = (lon+180)*(w-1)+x,
gy = (89-lat)*(h-1)+y (row 0 = north). Exactness of the seam match is
structural, not numeric — shared border cells are the same int16
values in both tiles (lossless formats required; asserted by the
synthetic mosaic generator).

Scale shape: the raster crosses an Exchange only at the two cogroups
(at 100 TB, bucketing the Iceberg table by image_id makes both
co-located, shuffle-free); strips, border rows, deltas and the edge
terminal map are perimeter-sized; the border solve's one task is the
documented Barnes trade (a distributed-rounds variant — one join per
tile-crossing of the longest river, ~70 for Earth — is the fallback
if a mosaic's border graph ever outgrows one executor's memory).

Correctness contract (tests/test_mosaic.py): per-tile passes + border
solve reproduce ``terrain.flow_accumulate_grid`` run on the assembled
whole-mosaic grid BIT-EXACTLY (acc, outlet, universe membership), on
rectangular and L-shaped mosaics, with NOVALUE patches crossing seams
and a multi-tile river.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..kernels import codecs
from ..sources.decode import map_tiles
from .terrain import D8_NEIGHBORS, d8_grid

NOVALUE = int(codecs.NOVALUE)

STRIP_SCHEMA = "image_id string, side string, pos int, pos2 int, val long"
BORDER_SCHEMA = (
    "kind string, img string, ax long, ay long, bx long, by long, "
    "lx int, ly int, v long, s long, c long"
)
SOLVE_SCHEMA = (
    "kind string, img string, lx int, ly int, ax long, ay long, "
    "bx long, by long, v long, s long, c long"
)
CELLS_SCHEMA = "gx long, gy long, z int, acc long, outlet_gx long, outlet_gy long"
LEN_CELLS_SCHEMA = "gx long, gy long, steps long, n_card long, n_diag long"

# Solved per-edge maps ride BACK to their owner tile inside the strip
# frame (sides the halo assembler ignores), so the second per-tile pass
# resolves whole-mosaic outlets/lengths IN-KERNEL instead of a
# raster-sized broadcast join afterwards (measured ~20% of the
# flow_acc wall at SRTM-1 grain, BENCH/mosaic_srtm1.json):
#   side='t'  pos/pos2 = edge src ly/lx, val = (outlet_gx<<32)|outlet_gy
#   side='u'  pos/pos2 = edge src ly/lx, val = (d_steps<<32)|d_card
# Packing is safe: global coords < 2^21, and a 2^31-step drainage path
# would need two billion cells in ONE path — beyond any planet mosaic.
_PACK = np.int64(1) << np.int64(32)

#: solved rows routed back to their owner tile by _solved_strips:
#: (solve kind, strip side, value column[, low 32-bit column])
_DELTAS = ("d", "d", "v")
_OUTLETS = ("t", "t", "bx", "by")
_EDGE_LENGTHS = ("t", "u", "s", "c")

_DTYPES = {"string": object, "int": np.int32, "long": np.int64}


def _empty(schema: str) -> pd.DataFrame:
    """Zero-row frame with the columns and dtypes of a DDL schema."""
    cols = (c.split() for c in schema.split(","))
    return pd.DataFrame({n: pd.Series([], dtype=_DTYPES[t]) for n, t in cols})


def _lookup_map(rows: pd.DataFrame, w: int, ys: np.ndarray, xs: np.ndarray):
    """side='t'/'u' strip rows (keyed by local src ly/lx) looked up at
    the local cells (ys, xs) -> (found, hi, lo) per cell; hi/lo are
    the two packed halves, meaningful where found."""
    src = rows["pos"].to_numpy(np.int64) * w + rows["pos2"].to_numpy(np.int64)
    order = np.argsort(src, kind="stable")
    src, val = src[order], rows["val"].to_numpy(np.int64)[order]
    key = ys.astype(np.int64) * w + xs
    pos = np.clip(np.searchsorted(src, key), 0, len(src) - 1)
    return src[pos] == key, val[pos] >> np.int64(32), val[pos] & np.int64(0xFFFFFFFF)


def parse_tile_id(image_id: str) -> tuple[int, int, str]:
    """`[ns]DD[ew]DDD_k` -> (lat, lon, k) — the scalar twin of
    ids.with_tile_key's column parse."""
    lat = int(image_id[1:3]) * (-1 if image_id[0] in "sS" else 1)
    lon = int(image_id[4:7]) * (-1 if image_id[3] in "wW" else 1)
    return lat, lon, image_id.split("_", 1)[1] if "_" in image_id else "0"


def tile_id(lat: int, lon: int, k: str) -> str:
    ns = "s" if lat < 0 else "n"
    ew = "w" if lon < 0 else "e"
    return f"{ns}{abs(lat):02d}{ew}{abs(lon):03d}_{k}"


def cell_gx(lon: int, x: int, w: int) -> int:
    return (lon + 180) * (w - 1) + x


def cell_gy(lat: int, y: int, h: int) -> int:
    return (89 - lat) * (h - 1) + y


# ---------------------------------------------------------- shared helpers

class _Tile(NamedTuple):
    """One decoded tile inside a cogroup body."""

    img: str
    lat: int
    lon: int
    k: str
    grid: np.ndarray
    gx0: int  # global coords of local (0, 0)
    gy0: int

    @classmethod
    def decode(cls, tile_pdf: pd.DataFrame) -> "_Tile":
        img = tile_pdf["image_id"].iloc[0]
        lat, lon, k = parse_tile_id(img)
        (_, grid), = codecs.iter_decoded_tiles(tile_pdf)
        h, w = grid.shape
        return cls(img, lat, lon, k, grid, cell_gx(lon, 0, w), cell_gy(lat, 0, h))

    def cells(self, ys: np.ndarray, xs: np.ndarray, **cols) -> pd.DataFrame:
        """Per-cell rows: global gx, gy of local (ys, xs), then cols."""
        return pd.DataFrame({
            "gx": self.gx0 + xs.astype(np.int64),
            "gy": self.gy0 + ys.astype(np.int64),
            **cols,
        })


def _receivers(h: int, w: int):
    """The 8 halo receivers of an (h, w) tile, in emission order:
    (side the strip fills on the RECEIVER's ring, receiver dlat, dlon,
    sender rows, sender columns, slot position along that side).

    With the shared-border convention the strip a neighbor's halo
    needs is the SECOND row/column in from the shared edge: row 0 is
    the north edge, so the north neighbor (lat+1) gets our row 1 as
    ITS south halo, the south neighbor (lat-1) gets our row h-2, the
    west neighbor our column 1, the east our column w-2; corners are
    the single matching interior-corner cell."""
    col, row, slot0 = np.arange(w), np.arange(h), np.zeros(1, np.int64)
    return (
        ("s", 1, 0, np.full(w, 1), col, col),        # to north nbr
        ("n", -1, 0, np.full(w, h - 2), col, col),   # to south nbr
        ("e", 0, -1, row, np.full(h, 1), row),       # to west nbr
        ("w", 0, 1, row, np.full(h, w - 2), row),    # to east nbr
        ("se", 1, -1, np.array([1]), np.array([1]), slot0),
        ("sw", 1, 1, np.array([1]), np.array([w - 2]), slot0),
        ("ne", -1, -1, np.array([h - 2]), np.array([1]), slot0),
        ("nw", -1, 1, np.array([h - 2]), np.array([w - 2]), slot0),
    )


def _halo_rows(img: str, plane: np.ndarray, prefix: str = "") -> pd.DataFrame:
    """One tile's (h, w) value plane -> its 8 outgoing STRIP_SCHEMA
    strips, addressed to the neighbors, sides prefixed with `prefix`."""
    lat, lon, k = parse_tile_id(img)
    return pd.concat([pd.DataFrame({
        "image_id": tile_id(lat + dlat, lon + dlon, k),
        "side": prefix + side,
        "pos": pos.astype(np.int32),
        "pos2": np.zeros(len(pos), dtype=np.int32),
        "val": np.asarray(plane[ys, xs], dtype=np.int64),
    }) for side, dlat, dlon, ys, xs, pos in _receivers(*plane.shape)],
        ignore_index=True)


_RING_SIDES = ("n", "s", "w", "e", "nw", "ne", "sw", "se")


def _place_ring(plane: np.ndarray, strips: pd.DataFrame, prefix: str = ""):
    """Write every `prefix`-ed ring strip into the ring of an aug-frame
    (h+2, w+2) plane, in place. Other sides (weight deltas, solved
    edge maps, the other prefix's ring) are ignored."""
    h, w = plane.shape[0] - 2, plane.shape[1] - 2
    for side, g in strips.groupby("side"):
        base = side[len(prefix):]
        if not side.startswith(prefix) or base not in _RING_SIDES:
            continue
        # an n/s letter pins the row, a w/e letter the column; an edge
        # side's free coordinate runs along it (a corner pins both)
        along = 1 + g["pos"].to_numpy()
        y = {"n": 0, "s": h + 1}.get(base[0], along)
        x = {"w": 0, "e": w + 1}.get(base[-1], along)
        plane[np.atleast_1d(y), np.atleast_1d(x)] = g["val"].to_numpy(np.int64)


def _kahn(succ: np.ndarray, acc: np.ndarray, what: str) -> list:
    """Forward worklist Kahn over a functional graph (succ[i] = node
    i's one successor, -1 at terminals): adds every node's final acc
    into its successor, in place, one vectorized round per level.
    Returns the rounds' frontiers, upstream first, for reverse chains."""
    indeg = np.zeros(len(succ), dtype=np.int64)
    np.add.at(indeg, succ[succ >= 0], 1)
    rounds = []
    frontier = np.flatnonzero(indeg == 0)
    n_done = 0
    while frontier.size:
        rounds.append(frontier)
        n_done += frontier.size
        fs = succ[frontier]
        has = fs >= 0
        tgt = fs[has]
        if tgt.size == 0:
            break
        order = np.argsort(tgt, kind="stable")
        st = tgt[order]
        sa = acc[frontier][has][order]
        cuts = np.flatnonzero(np.r_[True, st[1:] != st[:-1]])
        uniq = st[cuts]
        acc[uniq] += np.add.reduceat(sa, cuts)
        indeg[uniq] -= np.diff(np.r_[cuts, len(st)])
        frontier = uniq[indeg[uniq] == 0]
    assert n_done == len(succ), f"{what} must be acyclic"
    return rounds


def _owned_graph(ys, xs, t_ys, t_xs, live, h: int, w: int,
                 weights: np.ndarray | None, what: str):
    """The owned-box tail both per-tile kernels share: owned cells
    (ys, xs) with their target coords (t_ys, t_xs; own coords where
    `live` is False) -> the mosaic_tile_arrays 10-tuple. Links in-box
    targets, marks cross cells, accumulates (worklist Kahn) and chains
    terminals and path splits back down the Kahn rounds."""
    n = len(ys)
    lookup = np.full(h * w, -1, dtype=np.int64)
    lookup[ys.astype(np.int64) * w + xs] = np.arange(n)
    in_box = (
        live
        & (t_xs >= 0) & (t_xs < w - 1)
        & (t_ys >= 0) & (t_ys < h - 1)
    )
    t = np.full(n, -1, dtype=np.int64)
    t[in_box] = lookup[t_ys[in_box] * w + t_xs[in_box]]
    # t == -1 now means terminal: pit/flat (no target), dead in-box
    # target (owned but mosaic-invalid), or out-of-box target (cross)
    cross = live & ~in_box

    if weights is None:
        acc = np.ones(n, dtype=np.int64)
    else:
        acc = weights[ys, xs].astype(np.int64).copy()
    rounds = _kahn(t, acc, what)

    term = np.arange(n, dtype=np.int64)
    steps = np.zeros(n, dtype=np.int64)
    ncard = np.zeros(n, dtype=np.int64)
    # step cell->target is cardinal iff the target shares a row or
    # column (meaningful only where t >= 0)
    is_card = ((t_xs == xs) | (t_ys == ys)).astype(np.int64)
    for frontier in reversed(rounds):
        ft = t[frontier]
        has_t = ft >= 0
        idx = frontier[has_t]
        term[idx] = term[ft[has_t]]
        steps[idx] = steps[ft[has_t]] + 1
        ncard[idx] = ncard[ft[has_t]] + is_card[idx]
    return ys, xs, acc, term, cross, t_ys, t_xs, steps, ncard, t


# ------------------------------------------------------------------ kernel

def mosaic_tile_arrays(aug: np.ndarray, weights: np.ndarray | None = None):
    """One tile's drainage pass over its (h+2, w+2) augmented grid.
    Dispatches to the C fast path (kernels/terrain_cext.py
    mosaic_accumulate — the r8 drainage C twin generalized to weights
    and the owned-box cut); the numpy body (mosaic_tile_arrays_py)
    stays the ORACLE and the fallback, bit-equality pinned in
    tests/test_terrain_cext.py. See mosaic_tile_arrays_py for the
    full return contract."""
    from ..kernels import terrain_cext

    res = terrain_cext.mosaic_accumulate(aug, weights)
    if res is not None:
        return res
    return mosaic_tile_arrays_py(aug, weights)


def mosaic_tile_arrays_py(aug: np.ndarray, weights: np.ndarray | None = None):
    """One tile's drainage pass over its (h+2, w+2) augmented grid.

    Returns (ys, xs, acc, term, cross, t_ys, t_xs) over the tile's
    OWNED universe cells (local coords, x < w-1 and y < h-1, fully
    valid 3x3 in the AUGMENTED grid — i.e. mosaic-valid):
      acc   weighted local accumulation (weights default to 1),
      term  index (into these arrays) of each cell's local terminal,
      cross boolean per cell index: True where the cell's own D8
            target leaves the owned box (an exit-edge source),
      t_ys/t_xs the D8 target's local coords (meaningful where the
            cell has a descent target; may be -1 / w-1 / h-1),
      steps/ncard per-cell D8 steps (total / cardinal) to the local
            terminal,
      t     index (into these arrays) of each cell's IMMEDIATE in-box
            target, -1 at terminals and cross cells — so a cell has a
            live mosaic target iff (t >= 0) | cross.

    Same vectorized worklist-Kahn rounds as
    terrain.flow_accumulate_grid (acyclic by strict descent), with two
    generalizations: per-cell initial weights, and the owned-box
    universe cut. ``weights`` is indexed like the returned arrays
    (dense (h-1, w-1) owned-box plane)."""
    h, w = aug.shape[0] - 2, aug.shape[1] - 2
    ys, xs, d8, _ = d8_grid(aug)
    ys = ys - 1  # d8_grid coords are in the AUGMENTED frame; shift to
    xs = xs - 1  # tile coords (aug pads one ring on every side)
    own = (xs < w - 1) & (ys < h - 1)
    ys, xs, d8 = ys[own], xs[own], d8[own]
    t_xs = xs.astype(np.int64).copy()
    t_ys = ys.astype(np.int64).copy()
    for c, dx, dy, _card in D8_NEIGHBORS:
        sel = d8 == c
        t_xs[sel] += dx
        t_ys[sel] += dy
    return _owned_graph(ys, xs, t_ys, t_xs, d8 > 0, h, w, weights,
                        "mosaic D8 graph (strict descent)")


def _assemble_aug(grid: np.ndarray, strips: pd.DataFrame) -> np.ndarray:
    """Own grid + neighbor strips -> (h+2, w+2) augmented grid with
    NOVALUE where the mosaic has no neighbor."""
    h, w = grid.shape
    aug = np.full((h + 2, w + 2), NOVALUE, dtype=np.int64)
    aug[1 : h + 1, 1 : w + 1] = grid.astype(np.int64)
    _place_ring(aug, strips)
    return aug


def _d8_arrays(grid: np.ndarray, strips: pd.DataFrame,
               weights: np.ndarray | None = None):
    """Strict-descent mosaic kernel over the halo-augmented grid."""
    return mosaic_tile_arrays(_assemble_aug(grid, strips), weights)


# ------------------------------------------------------------ spark stages
#
# Every driver composes the same few stages: halo strips out of each
# tile (halo_strips), a cogroup of the tiles with the strips addressed
# to them (_cogroup), a bounded ONE-task solve (_one_task), and solved
# rows routed back to their owner tile in the strip frame
# (_solved_strips). _drainage chains them into the Barnes shape the
# drainage drivers share.

def _cogroup(tiles: DataFrame, strips: DataFrame, body, schema: str,
             *args) -> DataFrame:
    """Cogroup every tile with the strips addressed to it and run
    body(_Tile, strips, *args) once per tile -> `schema` rows. Strips
    addressed past the mosaic edge group with no tile and yield none."""
    def run(tile_pdf: pd.DataFrame, strip_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(tile_pdf) == 0:
            return _empty(schema)
        return body(_Tile.decode(tile_pdf), strip_pdf, *args)

    return (
        tiles.groupby("image_id")
        .cogroup(strips.groupby("image_id"))
        .applyInPandas(run, schema=schema)
    )


def _one_task(df: DataFrame, solve, schema: str) -> DataFrame:
    """Every row of `df` into ONE executor task running solve(pdf) —
    the bounded single-node solve of the Barnes decomposition."""
    return df.groupBy(F.lit(0).alias("_g")).applyInPandas(
        lambda _k, pdf: solve(pdf), schema=schema
    )


def _solved_strips(solved: DataFrame, kind: str, side: str, hi: str,
                   lo: str | None = None) -> DataFrame:
    """The `kind` rows of a SOLVE_SCHEMA frame, addressed back to their
    owner tile in the strip frame as `side` rows at pos/pos2 = ly/lx.
    val is column `hi`, or hi<<32 | lo when `lo` is given."""
    val = F.col(hi) if lo is None else F.col(hi) * F.lit(int(_PACK)) + F.col(lo)
    return solved.filter(F.col("kind") == kind).select(
        F.col("img").alias("image_id"),
        F.lit(side).alias("side"),
        F.col("ly").alias("pos"),
        F.col("lx").alias("pos2"),
        val.alias("val"),
    )


def _scope():
    """The mosaic cache scope, with the previous call's perimeter
    caches dropped."""
    from ..cache import scope

    sc = scope("mosaic")
    sc.release()
    return sc


def _drainage(tiles: DataFrame, strips: DataFrame, sc, kernel, back,
              body, schema: str, *args) -> DataFrame:
    """The Barnes shape every drainage driver shares, over the cached
    ring `strips`: border cogroup (kernel's unweighted local pass) ->
    ONE-task border solve -> each _solved_strips route in `back` rides
    the strip frame back to its owner tile -> final cogroup
    body(tile, strips, kernel, *args). The solve is cached (in `sc`)
    only when more than one route reads it."""
    border = _cogroup(tiles, strips, _border_pass, BORDER_SCHEMA, kernel)
    solved = _one_task(border, solve_border_graph, SOLVE_SCHEMA)
    if len(back) > 1:
        solved = sc.hold(solved.cache())
    for route in back:
        strips = strips.unionByName(_solved_strips(solved, *route))
    return _cogroup(tiles, strips, body, schema, kernel, *args)


def halo_strips(tiles: DataFrame) -> DataFrame:
    """Every tile -> 8 perimeter strips addressed to its neighbors
    (STRIP_SCHEMA rows; the raster itself never leaves the task). The
    strip geometry is _receivers'."""
    return map_tiles(tiles, STRIP_SCHEMA, _halo_rows)


def _border_pass(tile: _Tile, strips: pd.DataFrame, kernel) -> pd.DataFrame:
    """Stage-2 cogroup body: unweighted local pass -> BORDER_SCHEMA
    rows (exit edges kind='x', entry registry kind='e'). Entry rows
    carry the entry cell's LOCAL path split (s=steps, c=cardinal steps
    to its local terminal) so the border solve can also chain
    whole-mosaic flow-path lengths; exit rows leave s/c at 0 (the
    edge's own cardinality is derivable from its global endpoints)."""
    img, gx0, gy0 = tile.img, tile.gx0, tile.gy0
    h, w = tile.grid.shape
    ys, xs, acc, term, cross, t_ys, t_xs, steps, ncard, _t = kernel(
        tile.grid, strips)
    out = []
    xi = np.flatnonzero(cross)  # exit-edge sources (terminals by def.)
    if xi.size:
        out.append(pd.DataFrame({
            "kind": "x", "img": img,
            "ax": gx0 + xs[xi].astype(np.int64),
            "ay": gy0 + ys[xi].astype(np.int64),
            "bx": gx0 + t_xs[xi],
            "by": gy0 + t_ys[xi],
            "lx": xs[xi].astype(np.int32),
            "ly": ys[xi].astype(np.int32),
            "v": acc[xi],
            "s": np.zeros(xi.size, np.int64),
            "c": np.zeros(xi.size, np.int64),
        }))
    ring = np.flatnonzero(
        (xs == 0) | (xs == w - 2) | (ys == 0) | (ys == h - 2)
    )
    if ring.size:
        tr = term[ring]
        out.append(pd.DataFrame({
            "kind": "e", "img": img,
            "ax": gx0 + xs[ring].astype(np.int64),
            "ay": gy0 + ys[ring].astype(np.int64),
            "bx": gx0 + xs[tr].astype(np.int64),
            "by": gy0 + ys[tr].astype(np.int64),
            "lx": xs[ring].astype(np.int32),
            "ly": ys[ring].astype(np.int32),
            "v": cross[tr].astype(np.int64),
            "s": steps[ring],
            "c": ncard[ring],
        }))
    return pd.concat(out, ignore_index=True) if out else _empty(BORDER_SCHEMA)


def solve_border_graph(border: pd.DataFrame) -> pd.DataFrame:
    """The tiny global fixpoint: weighted accumulation over the
    functional exit-edge graph (worklist Kahn, numpy) -> SOLVE_SCHEMA
    rows: per-entry inflow deltas (kind='d', with owner tile + local
    coords for the broadcast back) and the per-edge mosaic terminal
    map (kind='t', also owner-tile-addressed via img/lx/ly so it can
    ride the strip frame back; its s/c columns carry the edge's
    DOWNSTREAM whole-mosaic path split: total D8 steps / cardinal
    steps from the edge's source terminal to the mosaic terminal).
    Pure pandas/numpy — runs as ONE executor task."""
    ex = border[border["kind"] == "x"].reset_index(drop=True)
    en = border[border["kind"] == "e"].reset_index(drop=True)
    if len(ex) == 0:
        return _empty(SOLVE_SCHEMA)

    def key(xa, ya):
        return (np.asarray(xa, np.int64) << np.int64(32)) | np.asarray(ya, np.int64)

    src_k = key(ex["ax"], ex["ay"])
    dst_k = key(ex["bx"], ex["by"])
    base = ex["v"].to_numpy(np.int64)
    m = len(ex)
    # entry lookup by cell key
    cell_k = key(en["ax"], en["ay"])
    e_order = np.argsort(cell_k, kind="stable")
    cell_sorted = cell_k[e_order]
    # edge lookup by src key (functional: one exit per terminal)
    x_order = np.argsort(src_k, kind="stable")
    src_sorted = src_k[x_order]

    def find(sorted_keys, order, keys):
        if len(sorted_keys) == 0:
            return np.full(len(keys), -1, dtype=np.int64)
        pos = np.searchsorted(sorted_keys, keys)
        pos_c = np.clip(pos, 0, len(sorted_keys) - 1)
        ok = sorted_keys[pos_c] == keys
        return np.where(ok, order[pos_c], -1)

    ent = find(cell_sorted, e_order, dst_k)      # entry row per edge, -1 dead
    dead = ent < 0
    term_k = key(en["bx"], en["by"])             # entry's local terminal
    ent_cross = en["v"].to_numpy(np.int64)
    succ = np.full(m, -1, dtype=np.int64)
    live = ~dead
    crossing = np.zeros(m, dtype=bool)
    crossing[live] = ent_cross[ent[live]] == 1
    succ[crossing] = find(src_sorted, x_order, term_k[ent[crossing]])
    assert (succ[crossing] >= 0).all(), (
        "entry marked crossing but its terminal has no exit edge"
    )

    flow = base.copy()
    rounds = _kahn(succ, flow, "border-edge graph")

    # mosaic terminal per edge: dead -> its own src; pit entry -> the
    # entry's local terminal; crossing -> terminal of the successor
    # (final before us in reverse Kahn order). The SAME reverse pass
    # chains the downstream path split: a dead edge contributes
    # nothing (the whole-mosaic kernel terminates the path AT the
    # source when the D8 target is mosaic-invalid); a live edge is one
    # step (cardinal iff src/target share a global row or column) plus
    # the entry's local split plus, when the entry's terminal crosses
    # again, the successor edge's downstream split.
    t_out = np.where(dead, src_k, 0).astype(np.int64)
    pit = live & ~crossing
    t_out[pit] = term_k[ent[pit]]
    ex_card = (
        (ex["ax"].to_numpy(np.int64) == ex["bx"].to_numpy(np.int64))
        | (ex["ay"].to_numpy(np.int64) == ex["by"].to_numpy(np.int64))
    ).astype(np.int64)
    en_s = en["s"].to_numpy(np.int64) if len(en) else np.zeros(0, np.int64)
    en_c = en["c"].to_numpy(np.int64) if len(en) else np.zeros(0, np.int64)
    d_steps = np.zeros(m, dtype=np.int64)
    d_card = np.zeros(m, dtype=np.int64)
    d_steps[live] = 1 + en_s[ent[live]]
    d_card[live] = ex_card[live] + en_c[ent[live]]
    for frontier in reversed(rounds):
        fc = frontier[crossing[frontier]]
        t_out[fc] = t_out[succ[fc]]
        d_steps[fc] += d_steps[succ[fc]]
        d_card[fc] += d_card[succ[fc]]

    out = [pd.DataFrame({
        "kind": "t", "img": ex["img"].to_numpy(object),
        "lx": ex["lx"].to_numpy(np.int32), "ly": ex["ly"].to_numpy(np.int32),
        "ax": src_k >> np.int64(32),
        "ay": src_k & np.int64(0xFFFFFFFF),
        "bx": t_out >> np.int64(32),
        "by": t_out & np.int64(0xFFFFFFFF),
        "v": flow,
        "s": d_steps,
        "c": d_card,
    })]
    # per-entry inflow delta = sum of FINAL flow over live edges in
    li = np.flatnonzero(live)
    if li.size:
        tgt_ent = ent[li]
        order = np.argsort(tgt_ent, kind="stable")
        st = tgt_ent[order]
        sf = flow[li][order]
        cuts = np.flatnonzero(np.r_[True, st[1:] != st[:-1]])
        uniq_e = st[cuts]
        dsum = np.add.reduceat(sf, cuts)
        out.append(pd.DataFrame({
            "kind": "d",
            "img": en["img"].to_numpy(object)[uniq_e],
            "lx": en["lx"].to_numpy(np.int32)[uniq_e],
            "ly": en["ly"].to_numpy(np.int32)[uniq_e],
            "ax": np.zeros(uniq_e.size, np.int64),
            "ay": np.zeros(uniq_e.size, np.int64),
            "bx": np.zeros(uniq_e.size, np.int64),
            "by": np.zeros(uniq_e.size, np.int64),
            "v": dsum,
            "s": np.zeros(uniq_e.size, np.int64),
            "c": np.zeros(uniq_e.size, np.int64),
        }))
    return pd.concat(out, ignore_index=True)


def _weights(strips: pd.DataFrame, h: int, w: int) -> np.ndarray:
    """Owned-box cell weights: 1 plus the side='d' inflow deltas."""
    weights = np.ones((h - 1, w - 1), dtype=np.int64)
    d = strips[strips["side"] == "d"]
    if len(d):
        weights[d["pos"].to_numpy(), d["pos2"].to_numpy()] += d["val"].to_numpy(np.int64)
    return weights


def _weighted_pass(tile: _Tile, strips: pd.DataFrame, kernel) -> pd.DataFrame:
    """Stage-4 cogroup body: weighted local pass (weights 1 + delta
    rows riding the strip frame as side='d') -> CELLS_SCHEMA rows in
    global coordinates. The solved edge-terminal map rides the same
    frame as side='t' rows, so whole-mosaic outlets resolve HERE with
    one searchsorted over the tile's own exit edges — no raster-sized
    join downstream."""
    grid = tile.grid
    h, w = grid.shape
    ys, xs, acc, term, *_ = kernel(grid, strips, _weights(strips, h, w))
    # local terminal -> whole-mosaic outlet, where the terminal is an
    # exit-edge source the border solve resolved; pits keep themselves
    out_gx = tile.gx0 + xs[term].astype(np.int64)
    out_gy = tile.gy0 + ys[term].astype(np.int64)
    tmap = strips[strips["side"] == "t"]
    if len(tmap):
        ok, hi, lo = _lookup_map(tmap, w, ys[term], xs[term])
        out_gx = np.where(ok, hi, out_gx)
        out_gy = np.where(ok, lo, out_gy)
    return tile.cells(ys, xs, z=grid[ys, xs].astype(np.int32), acc=acc,
                      outlet_gx=out_gx, outlet_gy=out_gy)


def mosaic_flow_accumulation(tiles: DataFrame) -> DataFrame:
    """PRODUCTION mosaic drainage: tiles (input_hint schema; one tile
    per (lat, lon), lossless formats) -> per-owned-cell
    (gx, gy, z, acc, outlet_gx, outlet_gy) where acc and outlet are
    WHOLE-MOSAIC truths (bit-equal to running the per-tile kernel on
    the assembled mosaic grid — pinned in tests/test_mosaic.py)."""
    sc = _scope()
    # strips feed BOTH cogroups; perimeter-sized, so caching trades a
    # few MB for a second decode+strip pass over every tile
    strips = sc.hold(halo_strips(tiles).cache())
    # solved per-entry deltas and edge -> mosaic outlet map (val packs
    # the outlet's global coords) ride back so _weighted_pass resolves
    # outlets in-kernel
    return _drainage(tiles, strips, sc, _d8_arrays, (_DELTAS, _OUTLETS),
                     _weighted_pass, CELLS_SCHEMA)


def mosaic_basin_stats(tiles: DataFrame) -> DataFrame:
    """Mosaic-scale watershed statistics: basins keyed by the
    WHOLE-MOSAIC outlet cell (basins that cross tile borders aggregate
    as one row — the thing ops/terrain.basin_stats cannot do). One
    partial+final hash aggregate on the outlet key downstream of
    mosaic_flow_accumulation."""
    cells = mosaic_flow_accumulation(tiles)
    return cells.groupBy("outlet_gx", "outlet_gy").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.min("z").cast("long").alias("min_z"),
        F.max("z").cast("long").alias("max_z"),
        F.sum("z").cast("long").alias("sum_z"),
        (F.sum("z").cast("long") / F.count("*").cast("long")).alias("mean_z"),
    )

STREAM_CELLS_SCHEMA = "gx long, gy long, acc long, tgt_gx long, tgt_gy long"
MOSAIC_STREAM_SCHEMA = "gx long, gy long, acc long, sorder long"


def _stream_pass(tile: _Tile, strips: pd.DataFrame, kernel,
                 min_acc: int) -> pd.DataFrame:
    """Cogroup body for mosaic_stream_order: WEIGHTED local pass
    (deltas riding the strip frame as side='d', so acc is the mosaic
    accumulation) -> the tile's owned STREAM cells (acc >= min_acc)
    with their immediate D8 target in global coordinates (-1/-1 at
    terminals). Only the sparse stream skeleton leaves the task."""
    h, w = tile.grid.shape
    ys, xs, acc, _term, cross, t_ys, t_xs, _s, _c, t = kernel(
        tile.grid, strips, _weights(strips, h, w))
    keep = acc >= min_acc
    has_tgt = (t >= 0) | cross  # live descent target somewhere in the mosaic
    tgx = np.where(has_tgt, tile.gx0 + t_xs, np.int64(-1))
    tgy = np.where(has_tgt, tile.gy0 + t_ys, np.int64(-1))
    return tile.cells(ys[keep], xs[keep], acc=acc[keep],
                      tgt_gx=tgx[keep], tgt_gy=tgy[keep])


def solve_stream_order(cells: pd.DataFrame) -> pd.DataFrame:
    """Strahler over the whole-mosaic stream skeleton: the
    (max order, count-at-max) worklist-Kahn of
    terrain.stream_order_grid, run once on the assembled sparse edge
    list. A target absent from the node set is a terminal (dead edge
    or sub-threshold — the latter cannot happen: mosaic acc is
    nondecreasing along flow, so the skeleton is descent-closed).
    Pure pandas/numpy — ONE executor task."""
    n = len(cells)
    if n == 0:
        return _empty(MOSAIC_STREAM_SCHEMA)
    gx = cells["gx"].to_numpy(np.int64)
    gy = cells["gy"].to_numpy(np.int64)
    acc = cells["acc"].to_numpy(np.int64)
    tgx = cells["tgt_gx"].to_numpy(np.int64)
    tgy = cells["tgt_gy"].to_numpy(np.int64)
    key = (gx << np.int64(32)) | gy
    order_k = np.argsort(key, kind="stable")
    key_sorted = key[order_k]
    has = tgx >= 0
    tkey = (tgx << np.int64(32)) | tgy
    st = np.full(n, -1, dtype=np.int64)
    pos = np.searchsorted(key_sorted, tkey[has])
    pos_c = np.clip(pos, 0, n - 1)
    ok = key_sorted[pos_c] == tkey[has]
    st[np.flatnonzero(has)[ok]] = order_k[pos_c[ok]]

    indeg = np.zeros(n, dtype=np.int64)
    np.add.at(indeg, st[st >= 0], 1)
    mx = np.zeros(n, dtype=np.int64)
    cnt = np.zeros(n, dtype=np.int64)
    sorder = np.zeros(n, dtype=np.int64)
    frontier = np.flatnonzero(indeg == 0)
    n_done = 0
    while frontier.size:
        sorder[frontier] = np.where(
            mx[frontier] == 0, 1, mx[frontier] + (cnt[frontier] >= 2)
        )
        n_done += frontier.size
        ft = st[frontier]
        hs = ft >= 0
        tgt = ft[hs]
        if tgt.size == 0:
            break
        o = sorder[frontier][hs]
        srt = np.lexsort((o, tgt))
        tgt_s, o_s = tgt[srt], o[srt]
        cuts = np.flatnonzero(np.r_[True, tgt_s[1:] != tgt_s[:-1]])
        ends = np.r_[cuts[1:], len(tgt_s)] - 1
        uniq = tgt_s[cuts]
        rmx = o_s[ends]
        at_max = (o_s == np.repeat(
            rmx, np.diff(np.r_[cuts, len(tgt_s)]))).astype(np.int64)
        rcnt = np.add.reduceat(at_max, cuts)
        better = rmx > mx[uniq]
        same = rmx == mx[uniq]
        mx[uniq] = np.where(better, rmx, mx[uniq])
        cnt[uniq] = np.where(better, rcnt, cnt[uniq] + np.where(same, rcnt, 0))
        indeg[uniq] -= np.diff(np.r_[cuts, len(tgt_s)])
        frontier = uniq[indeg[uniq] == 0]
    assert n_done == n, "mosaic stream subgraph must be acyclic"
    return pd.DataFrame({"gx": gx, "gy": gy, "acc": acc, "sorder": sorder})


def mosaic_stream_order(tiles: DataFrame, min_acc: int = 5) -> DataFrame:
    """PRODUCTION mosaic-scale Strahler stream order: tiles
    (input_hint schema) -> per-stream-cell (gx, gy, acc, sorder) where
    BOTH the stream mask (mosaic accumulation >= min_acc) and the
    Strahler orders are WHOLE-MOSAIC truths (bit-equal to running
    ``terrain.stream_order_grid`` on the assembled mosaic grid —
    pinned in tests/test_mosaic.py). The mosaic closure of the r8
    per-tile ``stream_order``, whose orders reset at tile borders.

    Composition: the drainage pipeline through the delta broadcast
    (halo exchange, border pass, one-task border solve — so the
    weighted per-tile pass sees the MOSAIC accumulation), then a
    stream pass that emits only the sparse stream skeleton (owned
    cells at/above threshold + their immediate D8 target in global
    coords), and ONE more bounded task running the (max, count-at-max)
    Kahn over the assembled skeleton. Strahler is neither additive nor
    functional-path-shaped (a junction's order depends on the multiset
    of inflow orders), so it rides the skeleton, not the border solve.

    Scale shape: the raster crosses two cogroups (co-located under
    image_id bucketing); everything else is perimeter-sized except the
    skeleton itself, which is ~n_valid/min_acc rows (production
    thresholds ~10^3-10^4 make it 3-4 orders sparser than the raster;
    the documented fallback if a mosaic's skeleton outgrows one
    executor is the same distributed-rounds variant as the border
    solve's). Integer-exact gate surface (counts and orders)."""
    sc = _scope()
    strips = sc.hold(halo_strips(tiles).cache())
    skeleton = _drainage(tiles, strips, sc, _d8_arrays, (_DELTAS,),
                         _stream_pass, STREAM_CELLS_SCHEMA, min_acc)
    return _one_task(skeleton, solve_stream_order, MOSAIC_STREAM_SCHEMA)


def _length_pass(tile: _Tile, strips: pd.DataFrame, kernel) -> pd.DataFrame:
    """Cogroup body for mosaic_flow_length: unweighted local pass ->
    per-owned-cell WHOLE-MOSAIC path split. The solved per-edge
    downstream splits ride the strip frame as side='u' rows
    (val = (d_steps<<32)|d_card keyed by the edge src's local coords),
    so total = local split + the terminal edge's downstream split
    resolves HERE — no raster-sized join downstream."""
    ys, xs, _acc, term, _cross, _t_ys, _t_xs, steps, ncard, _t = kernel(
        tile.grid, strips)
    umap = strips[strips["side"] == "u"]
    if len(umap):
        ok, d_steps, d_card = _lookup_map(
            umap, tile.grid.shape[1], ys[term], xs[term])
        steps = steps + np.where(ok, d_steps, 0)
        ncard = ncard + np.where(ok, d_card, 0)
    return tile.cells(ys, xs, steps=steps, n_card=ncard, n_diag=steps - ncard)


def mosaic_flow_length(tiles: DataFrame) -> DataFrame:
    """PRODUCTION mosaic flow-path length: tiles (input_hint schema) ->
    per-owned-cell (gx, gy, steps, n_card, n_diag) where steps counts
    the WHOLE-MOSAIC downstream D8 path (bit-equal to running
    ``terrain.flow_length_grid`` on the assembled mosaic grid — pinned
    in tests/test_mosaic.py). The mosaic closure of the per-tile
    ``terrain.flow_path_length``, whose paths stop at tile borders.

    Composition: the drainage family's halo exchange + border pass
    (``_border_pass`` now also ships each entry cell's local path
    split), the one-task border solve (whose reverse-Kahn chains
    per-edge downstream splits alongside the terminal map), then ONE
    more per-tile pass with the solved per-edge splits riding the
    strip frame back (side='u') — total = local split + edge
    downstream split, resolved in-kernel. Unlike accumulation, length
    is purely additive along the path (no inflow), so no weighted
    rerun / delta strips are needed: the raster crosses exactly two
    cogroups and nothing else shuffles (strips, border rows and the
    edge map stay perimeter-sized). Integer-exact gate surface:
    steps/n_card/n_diag are counts; the metric length
    n_card + sqrt(2)*n_diag never enters a hashed column."""
    sc = _scope()
    strips = sc.hold(halo_strips(tiles).cache())
    return _drainage(tiles, strips, sc, _d8_arrays, (_EDGE_LENGTHS,),
                     _length_pass, LEN_CELLS_SCHEMA)


# -------------------------------------------------- seam-correct stencils

MOSAIC_TERRAIN_SCHEMA = (
    "gx long, gy long, z int, ndx long, ndy long, slope_q long, "
    "aspect_oct int, tpi8 long, tri long, rough long, "
    "zxx long, zyy long, ixy4 long"
)


def _terrain_pass(tile: _Tile, strips: pd.DataFrame) -> pd.DataFrame:
    """Cogroup body: halo-augmented grid -> the full first- AND
    second-order stencil surface over the tile's OWNED cells, in global
    coordinates. Pure reuse: ``terrain.horn_grid`` / ``terrain.
    morph_grid`` run UNCHANGED on the (h+2, w+2) augmented grid — the
    halo ring turns every owned border cell into an interior cell with
    its true cross-seam 3x3 neighborhood, so the mosaic union is
    bit-equal to running the per-tile kernels on the assembled
    whole-mosaic grid (pinned in tests/test_mosaic.py)."""
    from .terrain import aspect_octant, horn_grid, morph_grid

    grid = tile.grid
    h, w = grid.shape
    aug = _assemble_aug(grid, strips)
    ys, xs, ndx, ndy = horn_grid(aug)
    mys, mxs, tpi8, tri, rough, zxx, zyy, ixy4 = morph_grid(aug)
    # both kernels suppress on the same condition (any NOVALUE in the
    # 3x3, center included) in the same row-major order
    assert np.array_equal(ys, mys) and np.array_equal(xs, mxs)
    ly = ys - 1  # aug frame -> local tile frame
    lx = xs - 1
    keep = (lx < w - 1) & (ly < h - 1)  # ownership: shared border cells
    ly, lx = ly[keep], lx[keep]         # belong to the tile at x=0/y=0
    ndx, ndy = ndx[keep], ndy[keep]
    return tile.cells(
        ly, lx,
        z=grid[ly, lx].astype(np.int32),
        ndx=ndx,
        ndy=ndy,
        slope_q=ndx * ndx + ndy * ndy,
        aspect_oct=aspect_octant(ndx, ndy),
        tpi8=tpi8[keep],
        tri=tri[keep],
        rough=rough[keep],
        zxx=zxx[keep],
        zyy=zyy[keep],
        ixy4=ixy4[keep],
    )


MOSAIC_HILLSHADE_SCHEMA = "gx long, gy long, shade int"


def _hillshade_pass(
    tile: _Tile,
    strips: pd.DataFrame,
    azimuth_deg: float,
    altitude_deg: float,
    z_factor: float,
) -> pd.DataFrame:
    """Cogroup body: halo-augmented grid -> quantized uint8 hillshade
    over the tile's OWNED cells in global coordinates. Pure reuse:
    ``terrain.hillshade_grid`` runs UNCHANGED on the (h+2, w+2)
    augmented grid, so owned border cells render with their true
    cross-seam 3x3 neighborhood."""
    from .terrain import hillshade_grid, horn_grid

    h, w = tile.grid.shape
    aug = _assemble_aug(tile.grid, strips)
    ys, xs, _ndx, _ndy = horn_grid(aug)  # valid cells, aug frame
    shade = hillshade_grid(aug, azimuth_deg, altitude_deg, z_factor)
    ly = ys - 1  # aug frame -> local tile frame; shade's interior
    lx = xs - 1  # render is indexed by the same local coords
    keep = (lx < w - 1) & (ly < h - 1)
    ly, lx = ly[keep], lx[keep]
    return tile.cells(ly, lx, shade=shade[ly, lx].astype(np.int32))


def mosaic_hillshade_cells(
    tiles: DataFrame,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    z_factor: float = 1.0,
) -> DataFrame:
    """PRODUCTION seam-correct hillshade: tiles (input_hint schema) ->
    per-owned-cell QUANTIZED uint8 shade in GLOBAL coordinates,
    correct ACROSS tile seams — the mosaic closure of
    ``terrain.hillshade_cells`` (which, like every per-tile stencil,
    cannot render tile-border cells and shades each seam cell from a
    truncated neighborhood).

    Same scale shape as mosaic_terrain_cells: one perimeter-sized halo
    exchange, the UNCHANGED per-tile kernel over the augmented grid,
    ownership cut, no Exchange downstream. The gate hashes ONLY the
    quantized integer (0..255); the trig stays inside the kernel,
    re-derived per-cell with math-module trig over the assembled
    whole-mosaic grid by the golden twin (tools/make_golden.py)."""
    return _cogroup(tiles, halo_strips(tiles), _hillshade_pass,
                    MOSAIC_HILLSHADE_SCHEMA, azimuth_deg, altitude_deg, z_factor)


def mosaic_terrain_cells(tiles: DataFrame) -> DataFrame:
    """PRODUCTION seam-correct terrain derivatives: tiles (input_hint
    schema; one tile per (lat, lon), lossless formats) -> per-owned-cell
    Horn ndx/ndy/slope_q/aspect_oct + TPI/TRI/roughness/curvature
    numerators in GLOBAL coordinates, correct ACROSS tile seams.

    The per-tile ops (``terrain.terrain_cells``/``morphometry_cells``)
    never emit tile-border cells — no full 3x3 inside one tile; at 1201
    or 3601 grains that silently drops ~0.3%/0.1% of the planet's cells
    and every cross-seam gradient. This op closes that boundary the
    same way the drainage family does: one perimeter-sized halo
    exchange (``halo_strips`` — the raster itself never shuffles), then
    the UNCHANGED per-tile stencil kernels over the augmented grid and
    an ownership cut so every mosaic cell is emitted exactly once.

    Scale shape: strips are perimeter-sized rows; the raster crosses
    only the one cogroup (co-located and shuffle-free under image_id
    bucketing at 100 TB); the stencil pass itself stays one narrow
    Arrow kernel per tile with no Exchange downstream. Integer-exact
    gate surface throughout (same discipline as the per-tile ops)."""
    return _cogroup(tiles, halo_strips(tiles), _terrain_pass,
                    MOSAIC_TERRAIN_SCHEMA)


# ------------------------------------------------- mosaic depression fill

MOSAIC_FILL_SCHEMA = "gx long, gy long, z int, zfill int"
#: round-1 boundary estimate at every EXISTING neighbor seam: an
#: impassable-high pass. Must exceed every true elevation (HGT valid
#: range tops out ~8850 m; the synthetic generators clip at 32000) —
#: the cells pass asserts no WALL survives to the fixpoint output.
FILL_WALL = 32767


def _fill_W(tile: _Tile, strips: pd.DataFrame) -> np.ndarray:
    """Fill one tile's halo-augmented grid whose RING carries the
    neighbor-W values (absent ring = NOVALUE = mosaic edge drains) ->
    the owned-plane (h, w) view. Ring cells sit on the aug boundary,
    so fill_grid's own seed rule (< 8 valid neighbors) makes them
    seeds at exactly the ring values — the per-tile exact solve, zero
    kernel changes."""
    from .terrain import fill_grid

    return fill_grid(_assemble_aug(tile.grid, strips))[1:-1, 1:-1]


def _fill_strips_pass(tile: _Tile, strips: pd.DataFrame) -> pd.DataFrame:
    """Cogroup body for one Jacobi halo round: per-tile fill -> the NEW
    outgoing W strips (the halo_strips geometry, in the RECEIVER's
    frame)."""
    return _halo_rows(tile.img, _fill_W(tile, strips))


def _fill_cells_pass(tile: _Tile, strips: pd.DataFrame) -> pd.DataFrame:
    """Final cogroup body: per-tile fill with the CONVERGED ring ->
    owned valid cells in global coordinates."""
    grid = tile.grid
    W = _fill_W(tile, strips)
    h, w = grid.shape
    ys, xs = np.nonzero(grid != NOVALUE)
    # Ownership, fill edition: the drainage family's cut (x < w-1,
    # y < h-1) suffices there because the D8 universe never includes
    # tile-border cells — fill's universe DOES, so the mosaic's global
    # last row/column need owners. Rule: the owner of a shared cell is
    # the EXISTING holder with the lexicographically smallest local
    # (x, y); locally decidable because an incoming 'e'/'s'/'se' strip
    # exists iff that neighbor exists.
    have = set(strips["side"].unique()) if len(strips) else set()
    xmax = w - 2 if "e" in have else w - 1
    ymax = h - 2 if "s" in have else h - 1
    own = (xs <= xmax) & (ys <= ymax)
    if "e" not in have and "s" not in have and "se" in have:
        own &= ~((xs == w - 1) & (ys == h - 1))
    # concave-corner case (ADVICE r8 #1): with an NE neighbor but no E
    # neighbor, the shared corner cell is local (w-1, 0) here and
    # (0, h-1) in the NE holder — lexicographically smaller there, so
    # the NE tile owns it (previously BOTH tiles emitted it when the
    # mutual SE/E tile was missing, duplicating the cell)
    if "e" not in have and "ne" in have:
        own &= ~((xs == w - 1) & (ys == 0))
    ys, xs = ys[own], xs[own]
    zf = W[ys, xs]
    assert (zf < FILL_WALL).all(), (
        "mosaic_fill: WALL leaked past the fixpoint (elevation >= 32767?)"
    )
    return tile.cells(ys, xs, z=grid[ys, xs].astype(np.int32),
                      zfill=zf.astype(np.int32))


# --------------------- single-solve fill (Barnes 2016 shape, r9) ----------

PROFILE_SCHEMA = ("kind string, img string, side string, pos int, "
                  "ka long, kb long, lam long")

#: node-key sentinels for the fill border solve (real keys pack the
#: non-negative global cell coords as gx * 2^32 + gy)
_K_OUT = -1       # the mosaic "outside" (water drains freely)
_K_NOVALUE = -2   # invalid band cell (its strip slot carries NOVALUE)


def fill_profile_events(aug: np.ndarray) -> list[tuple[int, int, int]]:
    """Border minimax profile of ONE tile: the single-linkage
    dendrogram of the tile's filled-surface minimax metric, restricted
    to the width-2 BORDER BAND plus the OUT drain — the O(perimeter)
    exact compression of the O(perimeter^2) border-to-border minimax
    matrix (it is an ultrametric, so its dendrogram tree reproduces
    every pairwise value as a tree-path max).

    Input is the z-ringed aug grid (_assemble_aug of the halo z
    strips): the ring only decides GLOBAL seed-ness (a cell drains iff
    it has < 8 valid neighbors in the assembled mosaic — locally
    decidable from the one-cell ring). Kruskal sweep: activate valid
    cells in increasing z, union with active 8-neighbors (union with
    OUT when the cell is a global seed), and emit an event
    (rep_a, rep_b, z_cur) whenever two components that each contain a
    node (band cell or OUT) merge; a band cell activating into a
    noded component emits its attach event at its own z. Returns
    events as (key_a, key_b, lam) over LOCAL linear indices (y*w + x;
    _K_OUT for the drain); the minimax between any two nodes through
    THIS tile equals the max event level on their tree path — the
    property the global border solve consumes. Event VALUES are
    tie-order-invariant (equal-z merges all record the same level),
    so the solved W is deterministic."""
    h2, w2 = aug.shape
    h, w = h2 - 2, w2 - 2
    g = np.ascontiguousarray(aug[1:-1, 1:-1])
    valid = g != NOVALUE
    vp = (aug != NOVALUE).astype(np.int8)
    nnb = np.zeros((h, w), dtype=np.int8)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue
            nnb += vp[1 + dy: h + 1 + dy, 1 + dx: w + 1 + dx]
    seed = valid & (nnb < 8)
    band = np.zeros((h, w), dtype=bool)
    band[(0, 1, h - 2, h - 1), :] = True
    band[:, (0, 1, w - 2, w - 1)] = True
    band &= valid

    from ..kernels import terrain_cext

    ev = terrain_cext.fill_profile(g, seed, band)
    if ev is not None:
        return ev
    return _fill_profile_events_py(g, valid, seed, band)


def _fill_profile_events_py(g, valid, seed, band):
    """Pure-Python Kruskal twin of the C fill_profile kernel — the
    oracle and the fallback (bit-equality pinned in tests)."""
    h, w = g.shape
    z = g.ravel()
    idx = np.flatnonzero(valid.ravel())
    order = idx[np.lexsort((idx, z[idx]))]
    n = h * w
    OUTC = n                       # union-find slot of the OUT drain
    parent = np.arange(n + 1, dtype=np.int64)
    rep = np.full(n + 1, -3, dtype=np.int64)   # -3 = component has no node
    rep[OUTC] = _K_OUT
    active = np.zeros(n, dtype=bool)
    seed_f = seed.ravel()
    band_f = band.ravel()
    events: list[tuple[int, int, int]] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for c in order:
        c = int(c)
        active[c] = True
        zc = int(z[c])
        rep[c] = c if band_f[c] else -3
        y, x = divmod(c, w)
        root = c
        # find() at VISIT time (not pre-collected), dy-major neighbor
        # order, min-rep keep rule — the C kernel mirrors all three, so
        # the event LISTS are bit-identical, not just the solved values
        nbrs = []
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                ny, nx = y + dy, x + dx
                if 0 <= ny < h and 0 <= nx < w and active[ny * w + nx]:
                    nbrs.append(ny * w + nx)
        if seed_f[c]:
            nbrs.append(OUTC)
        for o in nbrs:
            r = find(o)
            root = find(root)
            if r == root:
                continue
            ra, rb = rep[root], rep[r]
            if ra != -3 and rb != -3:
                events.append((int(ra), int(rb), zc))
            keep = ra if rb == -3 else (rb if ra == -3 else min(ra, rb))
            parent[r] = root
            rep[root] = keep
    return events


def _fill_profile_pass(tile: _Tile, strips: pd.DataFrame) -> pd.DataFrame:
    """Cogroup body of the ONE profile pass: decode the tile, build the
    z-ringed aug, emit (a) its border-band dendrogram events with node
    keys in GLOBAL coordinates — shared border cells of neighboring
    tiles get the SAME key, which is exactly how the per-tile trees
    join into the mosaic graph — and (b) one destination row per strip
    slot the converged-Jacobi iteration would have emitted (same
    receiver/side/pos enumeration, _receivers), carrying the
    slot's cell key so the solver can write the strip values itself."""
    grid = tile.grid
    h, w = grid.shape
    events = fill_profile_events(_assemble_aug(grid, strips))
    gx0, gy0 = np.int64(tile.gx0), np.int64(tile.gy0)

    def key(lin: np.ndarray) -> np.ndarray:
        out = np.asarray(lin, dtype=np.int64)
        pos = out >= 0
        ys_, xs_ = out[pos] // w, out[pos] % w
        packed = (gx0 + xs_) * (np.int64(1) << np.int64(32)) + (gy0 + ys_)
        res = out.copy()
        res[pos] = packed
        return res

    frames = []
    if events:
        ea = np.array([e[0] for e in events], dtype=np.int64)
        eb = np.array([e[1] for e in events], dtype=np.int64)
        el = np.array([e[2] for e in events], dtype=np.int64)
        frames.append(pd.DataFrame({
            "kind": "e", "img": tile.img, "side": "",
            "pos": np.zeros(len(ea), dtype=np.int32),
            "ka": key(ea), "kb": key(eb), "lam": el,
        }))
    gi = grid.astype(np.int64).ravel()
    for side, dlat, dlon, ys_, xs_, pos in _receivers(h, w):
        lin = ys_.astype(np.int64) * w + xs_.astype(np.int64)
        ka = np.where(gi[lin] == NOVALUE, np.int64(_K_NOVALUE), key(lin))
        frames.append(pd.DataFrame({
            "kind": "d", "img": tile_id(tile.lat + dlat, tile.lon + dlon, tile.k),
            "side": side, "pos": pos.astype(np.int32),
            "ka": ka, "kb": np.int64(0), "lam": np.int64(0),
        }))
    return pd.concat(frames, ignore_index=True)


def solve_fill_border(pdf: pd.DataFrame) -> pd.DataFrame:
    """ONE bounded task (O(tiles x perimeter), the border-solve
    precedent of solve_border_graph): minimax-Dijkstra from OUT over
    the union of every tile's dendrogram events — shared border cells
    carry the same global key, so the per-tile trees concatenate into
    the mosaic's border graph — then write the converged W strips
    directly from the destination rows. W(node) = min over paths to
    OUT of the max event level = the true mosaic fill at that cell;
    feeding these strips to the UNCHANGED _fill_cells_pass reproduces
    the Jacobi fixpoint bit-for-bit (equality pinned in
    tests/test_mosaic.py against the iterated path)."""
    import heapq

    ev = pdf[pdf["kind"] == "e"]
    adj: dict[int, list] = {}
    for ka, kb, lam in zip(ev["ka"].to_numpy(np.int64),
                           ev["kb"].to_numpy(np.int64),
                           ev["lam"].to_numpy(np.int64)):
        adj.setdefault(int(ka), []).append((int(kb), int(lam)))
        adj.setdefault(int(kb), []).append((int(ka), int(lam)))
    dist: dict[int, int] = {}
    NEG = -(1 << 62)
    heap = [(NEG, _K_OUT)]
    while heap:
        d, u = heapq.heappop(heap)
        if u in dist:
            continue
        dist[u] = d
        for v, lam in adj.get(u, ()):  # pragma: no branch
            if v not in dist:
                heapq.heappush(heap, (max(d, lam), v))
    dd = pdf[pdf["kind"] == "d"]
    ka = dd["ka"].to_numpy(np.int64)
    vals = np.empty(len(ka), dtype=np.int64)
    for i, kk in enumerate(ka):
        kk = int(kk)
        if kk == _K_NOVALUE:
            vals[i] = NOVALUE
        else:
            wv = dist.get(kk)
            if wv is None:
                raise RuntimeError(
                    "solve_fill_border: band cell unreachable from the "
                    "mosaic drain — profile events are incomplete")
            vals[i] = wv
    return pd.DataFrame({
        "image_id": dd["img"].to_numpy(object),
        "side": dd["side"].to_numpy(object),
        "pos": dd["pos"].to_numpy(np.int32),
        "pos2": np.zeros(len(ka), dtype=np.int32),
        "val": vals,
    })


def _solved_fill_strips(tiles: DataFrame, sc) -> DataFrame:
    """Single-solve replacement for _converged_fill_strips (VERDICT r8
    #1): ONE profile cogroup + ONE bounded solve task instead of
    (depression seam-span) halo rounds each re-decoding and re-filling
    every tile. Returns the same converged W strips frame (cached in
    `sc`); the iterated path stays as the mechanism-independent twin,
    equality pinned in tests/test_mosaic.py."""
    zstrips = sc.hold(halo_strips(tiles).cache())
    prof = _cogroup(tiles, zstrips, _fill_profile_pass, PROFILE_SCHEMA)
    return sc.hold(_one_task(prof, solve_fill_border, STRIP_SCHEMA).cache())


def mosaic_fill(tiles: DataFrame) -> DataFrame:
    """PRODUCTION mosaic-scale depression filling: tiles (input_hint
    schema) -> per-owned-valid-cell (gx, gy, z, zfill) where zfill is
    the WHOLE-MOSAIC Priority-Flood surface (bit-equal to fill_grid on
    the assembled mosaic — pinned in tests/test_mosaic.py, including
    bowls that straddle seams).

    Distributed shape — the Barnes 2016 single border solve
    (_solved_fill_strips):
     1. one profile cogroup: each tile, given its z halo ring, emits
        its border-band minimax dendrogram (fill_profile_events,
        O(perimeter) events keyed by global cell, so shared border
        cells join the per-tile trees) plus one destination row per
        outgoing strip slot;
     2. ONE bounded task (solve_fill_border) runs minimax-Dijkstra
        from the mosaic drain over the union of all events and writes
        the converged W strips directly;
     3. a final cogroup runs the UNCHANGED per-tile fill kernel on the
        W-ringed augmented grid (the ring seeds by fill_grid's own
        < 8-valid-neighbors rule) and emits owned cells.

    Only perimeter-sized rows shuffle, and the job count does not
    depend on how many tiles a depression spans. The block-Jacobi halo
    iteration this replaced (_converged_fill_strips: seams start as an
    impassable WALL and relax one seam per round to the greatest
    fixpoint) stays as the mechanism-independent twin; the two strip
    frames are pinned equal in tests/test_mosaic.py."""
    sc = _scope()
    return _cogroup(tiles, _solved_fill_strips(tiles, sc), _fill_cells_pass,
                    MOSAIC_FILL_SCHEMA)


def _strip_checksum(df: DataFrame):
    """Order-free fingerprint of a strip frame: one tiny agg job."""
    row = df.agg(
        F.expr("bit_xor(xxhash64(image_id, side, pos, pos2, val))"),
        F.count("*"),
    ).collect()[0]
    return (row[0], row[1])


def _converged_fill_strips(tiles: DataFrame, sc, max_rounds: int) -> DataFrame:
    """The block-Jacobi fill halo iteration, the test twin of
    _solved_fill_strips: returns the CONVERGED perimeter W strips
    (cached in `sc`). Round 1 treats every interior seam as an
    impassable-high WALL; each round refills every tile with the
    current W ring and emits fresh strips; the monotone-decreasing
    iteration stops when an order-free strip checksum repeats."""
    zstrips = sc.hold(halo_strips(tiles).cache())
    strips = zstrips.select(
        "image_id", "side", "pos", "pos2",
        F.when(F.col("val") == int(NOVALUE), F.col("val"))
        .otherwise(F.lit(FILL_WALL)).cast("long").alias("val"),
    )
    prev = None
    for _round in range(max_rounds):
        strips = sc.hold(strips.cache())
        nxt = sc.hold(
            _cogroup(tiles, strips, _fill_strips_pass, STRIP_SCHEMA).cache())
        chk = _strip_checksum(nxt)
        if chk == prev:
            return strips
        prev = chk
        strips = nxt
    raise RuntimeError(
        f"mosaic_fill did not converge in {max_rounds} rounds"
    )


# -------------------------------------- mosaic conditioned drainage

#: unreachable-flat sentinel for the cross-seam BFS iteration (int64,
#: far above any real hop count; strips carry it verbatim)
DIST_INF = np.int64(1) << np.int64(40)


def _routed_core(grid: np.ndarray, strips: pd.DataFrame):
    """Shared derivation for the mosaic conditioned-drainage passes:
    decode-side core over ONE tile given the converged fill ring
    (n/s/e/w/corner sides carry W) and the current flat-distance ring
    (q-prefixed sides, absent = +inf).

    Returns (augW, univ, d8p, tgt_y, tgt_x, dplane) in AUG coords:
      augW   the tile's filled surface incl. the ring (fill_grid of
             the W-ringed aug — the per-tile exact solve at the fill
             fixpoint),
      univ   the mosaic-universe mask (valid 3x3 on augW),
      d8p    D8 codes on augW (0 = flat/pit),
      tgt_*  strict-descent target coords per universe cell,
      dplane BFS hop distance to a draining equal-W cell, seeded by
             local draining cells (0) and the ring distances, relaxed
             to the local fixpoint (min-plus rounds; the CROSS-SEAM
             fixpoint emerges from the outer strip iteration)."""
    from .terrain import D8_NEIGHBORS, d8_grid, fill_grid

    aug = _assemble_aug(grid, strips)
    augW = fill_grid(aug)
    ha, wa = augW.shape
    ys, xs, d8, _ = d8_grid(augW)
    univ = np.zeros((ha, wa), dtype=bool)
    univ[ys, xs] = True
    d8p = np.zeros((ha, wa), dtype=np.int32)
    d8p[ys, xs] = d8
    tgt_y = np.tile(np.arange(ha, dtype=np.int64)[:, None], (1, wa))
    tgt_x = np.tile(np.arange(wa, dtype=np.int64)[None, :], (ha, 1))
    for c, dx, dy, _card in D8_NEIGHBORS:
        sel = d8p == c
        tgt_x[sel] += dx
        tgt_y[sel] += dy

    # ring distances from the q strips (aug boundary positions); a
    # ring position without a q strip yet (round 1) stays +inf, which
    # is exactly right: equal-W adjacency through it only helps once
    # its distance arrives
    rdist = np.full((ha, wa), DIST_INF, dtype=np.int64)
    _place_ring(rdist, strips, "q")

    dplane = np.full((ha, wa), DIST_INF, dtype=np.int64)
    dplane[univ & (d8p > 0)] = 0
    np.minimum(dplane, rdist, out=dplane)
    flat = univ & (d8p == 0)
    # min-plus relaxation to the LOCAL fixpoint: rounds <= local flat
    # diameter; candidates flow through universe cells and ring cells
    # of EQUAL filled elevation
    part = univ | (rdist < DIST_INF)
    while True:
        best = np.full((ha, wa), DIST_INF, dtype=np.int64)
        for _c, dx, dy, _card in D8_NEIGHBORS:
            sy0, sy1 = max(dy, 0), ha + min(dy, 0)
            ty0, ty1 = max(-dy, 0), ha + min(-dy, 0)
            sx0, sx1 = max(dx, 0), wa + min(dx, 0)
            tx0, tx1 = max(-dx, 0), wa + min(-dx, 0)
            nb_d = dplane[sy0:sy1, sx0:sx1]
            nb_w = augW[sy0:sy1, sx0:sx1]
            nb_ok = part[sy0:sy1, sx0:sx1]
            cand = np.where(
                nb_ok & (nb_w == augW[ty0:ty1, tx0:tx1]),
                nb_d, DIST_INF - 1,
            ) + 1
            np.minimum(best[ty0:ty1, tx0:tx1], cand,
                       out=best[ty0:ty1, tx0:tx1])
        nd = np.where(flat, np.minimum(dplane, best), dplane)
        if np.array_equal(nd, dplane):
            break
        dplane = nd
    return augW, univ, d8p, tgt_y, tgt_x, dplane


def _routed_arrays(grid: np.ndarray, strips: pd.DataFrame,
                   weights: np.ndarray | None = None):
    """Routed mosaic kernel: the mosaic_tile_arrays 10-tuple contract
    (ys, xs, acc, term, cross, t_ys, t_xs, steps, ncard, t) computed
    over the FILLED surface with flat routing — strict-descent targets
    where d8 > 0, else the equal-W neighbor minimizing (BFS dist, ESRI
    code) among universe AND ring cells (a best ring target is a
    cross-seam flat edge, handled by the existing border machinery).
    Acyclic: strict edges drop W, flat edges drop the global BFS dist."""
    from .terrain import D8_NEIGHBORS

    augW, univ, d8p, tgt_y, tgt_x, dplane = _routed_core(grid, strips)
    ha, wa = augW.shape
    h, w = ha - 2, wa - 2
    part = univ | (dplane < DIST_INF)  # routing candidates incl. ring

    # routed targets for flat universe cells: stacked per-code planes,
    # first-minimum = smallest ESRI code (np.argmin ties)
    flat = univ & (d8p == 0)
    cand = np.full((8, ha, wa), DIST_INF, dtype=np.int64)
    for k, (_c, dx, dy, _card) in enumerate(D8_NEIGHBORS):
        sy0, sy1 = max(dy, 0), ha + min(dy, 0)
        ty0, ty1 = max(-dy, 0), ha + min(-dy, 0)
        sx0, sx1 = max(dx, 0), wa + min(dx, 0)
        tx0, tx1 = max(-dx, 0), wa + min(-dx, 0)
        nb_d = dplane[sy0:sy1, sx0:sx1]
        nb_w = augW[sy0:sy1, sx0:sx1]
        nb_ok = part[sy0:sy1, sx0:sx1]
        cand[k][ty0:ty1, tx0:tx1] = np.where(
            nb_ok & (nb_w == augW[ty0:ty1, tx0:tx1]), nb_d, DIST_INF
        )
    bestk = np.argmin(cand, axis=0)
    bestd = np.take_along_axis(cand, bestk[None], axis=0)[0]
    routed = flat & (bestd < DIST_INF)
    dxs = np.array([d[1] for d in D8_NEIGHBORS], dtype=np.int64)
    dys = np.array([d[2] for d in D8_NEIGHBORS], dtype=np.int64)
    tgt_x = np.where(routed, tgt_x + dxs[bestk] * routed, tgt_x)
    tgt_y = np.where(routed, tgt_y + dys[bestk] * routed, tgt_y)
    has_tgt = (d8p > 0) | routed

    # compact owned universe (row-major), tile coords — the
    # mosaic_tile_arrays contract
    uy, ux = np.nonzero(univ)
    own = (ux - 1 < w - 1) & (uy - 1 < h - 1)
    uy, ux = uy[own], ux[own]
    live = has_tgt[uy, ux]
    # unrouted terminals keep own coords as target coords (the
    # mosaic_tile_arrays convention for pits)
    t_ys = np.where(live, tgt_y[uy, ux], uy) - 1
    t_xs = np.where(live, tgt_x[uy, ux], ux) - 1
    return _owned_graph((uy - 1).astype(np.int32), (ux - 1).astype(np.int32),
                        t_ys, t_xs, live, h, w, weights, "routed mosaic graph")


def _dist_strips_pass(tile: _Tile, strips: pd.DataFrame) -> pd.DataFrame:
    """Cogroup body for one flat-distance halo round: per-tile BFS
    relaxation (given the converged W ring + current q-dist ring) ->
    fresh outgoing q strips (the dist at the SECOND row/column in from
    each shared edge — the halo_strips geometry, q-prefixed)."""
    dplane = _routed_core(tile.grid, strips)[-1]
    return _halo_rows(tile.img, dplane[1:-1, 1:-1], "q")


#: Bound on mosaic_routed_flow's flat-distance halo rounds: one round
#: per seam crossing of the longest shortest-flat-path.
_ROUTED_MAX_ROUNDS = 64


def mosaic_routed_flow(tiles: DataFrame) -> DataFrame:
    """PRODUCTION whole-mosaic CONDITIONED drainage: fill (cross-tile
    priority-flood) + flat routing (cross-seam Garbrecht-Martz) +
    accumulation — per-owned-cell (gx, gy, acc, outlet_gx, outlet_gy)
    bit-equal to routed_flow_grid(fill_grid(assembled mosaic)) (pinned
    in tests/test_mosaic.py, including bowls straddling seams whose
    drainage must CROSS the seam after conditioning).

    Three exchange stages, all perimeter-sized:
     1. the mosaic_fill single border solve (_solved_fill_strips: one
        profile cogroup + one minimax-Dijkstra task -> the converged W
        strips, the boundary condition under which every tile
        reproduces its slice of the mosaic-filled surface locally);
     2. a flat-distance halo iteration (q strips): per-tile min-plus
        BFS relaxation seeded by local draining cells and the ring
        distances — monotone decreasing from +inf, so it converges to
        the global BFS fixpoint in (seam crossings of the longest
        shortest-flat-path) rounds, at most _ROUTED_MAX_ROUNDS;
     3. the drainage decomposition (border pass -> ONE-task border
        solve -> weighted relabel), running on the ROUTED graph: the
        border machinery is unchanged because routed flat edges are
        functional exactly like strict D8 edges — a best ring target
        is simply a cross-seam exit edge. Acyclic end to end (strict
        edges drop W, flat edges drop the global BFS dist).

    Cost: each halo round decodes + fills every tile once; the routed
    kernel is the numpy body (no C twin yet — gate-scale; documented
    next step if this enters a hot path)."""
    sc = _scope()
    wstrips = _solved_fill_strips(tiles, sc)
    cur = wstrips
    prev = None
    for _round in range(_ROUTED_MAX_ROUNDS):
        qnxt = sc.hold(
            _cogroup(tiles, cur, _dist_strips_pass, STRIP_SCHEMA).cache())
        chk = _strip_checksum(qnxt)
        if chk == prev:
            break
        prev = chk
        cur = wstrips.unionByName(qnxt)
    else:
        raise RuntimeError(
            f"mosaic_routed_flow dist iteration did not converge "
            f"in {_ROUTED_MAX_ROUNDS} rounds"
        )
    base = sc.hold(wstrips.unionByName(qnxt).cache())
    cells = _drainage(tiles, base, sc, _routed_arrays, (_DELTAS, _OUTLETS),
                      _weighted_pass, CELLS_SCHEMA)
    return cells.select("gx", "gy", "acc", "outlet_gx", "outlet_gy")
