"""The tile-local map combinator (sources/decode.map_tiles) and the
drivers built on it.

Every per-tile operator decodes a tile, runs a kernel and emits vector
rows through one helper, which owns the batch loop, the column order
and the empty-batch rule. So each ported driver must:

- return zero rows with its declared schema on an empty tiles frame;
- return the same rows whether the tiles sit in one partition or four
  (the helper concatenates once per Arrow batch, and a batch boundary
  must not be observable).

One shared frame of four 33x33 crater tiles (mixed encodings, mosaic
tile ids so the halo strips resolve) keeps the test cheap.
"""

import numpy as np
import pandas as pd
import pytest

from hgt2osm2_spark.ops import contours, mosaic, pyramid, terrain, zonal
from hgt2osm2_spark.sources import synthetic
from hgt2osm2_spark.sources.decode import map_tiles

#: driver -> (call on a tiles frame, declared output schema)
DRIVERS = {
    "terrain_cells": (terrain.terrain_cells, terrain.TERRAIN_SCHEMA),
    "flow_accumulation": (terrain.flow_accumulation, terrain.FLOWACC_SCHEMA),
    "basin_cells": (terrain.basin_cells, terrain.BASIN_CELLS_SCHEMA),
    "flow_direction": (terrain.flow_direction, terrain.D8_SCHEMA),
    "hillshade_cells": (terrain.hillshade_cells, terrain.HILLSHADE_SCHEMA),
    "morphometry_cells": (terrain.morphometry_cells, terrain.MORPH_SCHEMA),
    "flow_path_length": (terrain.flow_path_length, terrain.FLOWLEN_SCHEMA),
    "stream_order": (terrain.stream_order, terrain.STREAM_ORDER_SCHEMA),
    "fill_sinks": (terrain.fill_sinks, terrain.FILL_SCHEMA),
    "filled_flow_accumulation": (terrain.filled_flow_accumulation,
                                 terrain.FLOWACC_SCHEMA),
    "flat_routed_flow": (terrain.flat_routed_flow, terrain.FLOWACC_SCHEMA),
    "viewshed": (lambda t: terrain.viewshed(t, radius=12),
                 terrain.VIEWSHED_SCHEMA),
    "explode_cells": (pyramid.explode_cells,
                      "image_id string, x int, y int, value int"),
    "pyramid_cells": (lambda t: pyramid.pyramid_cells(t, levels=2),
                      "level int, image_id string, x int, y int, value int"),
    "cells_geo": (zonal.cells_geo, "image_id string, x int, y int, "
                  "value int, lon double, lat double"),
    "halo_strips": (mosaic.halo_strips, mosaic.STRIP_SCHEMA),
    "extract_contour_segments": (contours.extract_contour_segments,
                                 contours.SEGMENTS_SCHEMA),
    "split_tile_bands": (lambda t: contours.split_tile_bands(t, band_rows=8),
                         contours.BANDS_SCHEMA),
}


@pytest.fixture(scope="module")
def tiles(spark):
    rows = synthetic.mosaic_tile_rows(2, 2, 33, 7, 47, 8, craters=True)
    return spark.createDataFrame(pd.DataFrame(rows), synthetic.TILES_SCHEMA)


def _fields(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def _declared(spark, schema):
    if isinstance(schema, str):
        schema = spark.createDataFrame([], schema).schema
    return _fields(schema)


@pytest.mark.parametrize("name", sorted(DRIVERS))
def test_empty_tiles_give_no_rows_and_declared_schema(spark, name):
    fn, schema = DRIVERS[name]
    out = fn(spark.createDataFrame([], synthetic.TILES_SCHEMA))
    assert out.collect() == []
    assert _fields(out.schema) == _declared(spark, schema)


def test_drivers_partition_invariant(tiles):
    for name, (fn, _schema) in DRIVERS.items():
        one = sorted(tuple(r) for r in fn(tiles.repartition(1)).collect())
        four = sorted(tuple(r) for r in fn(tiles.repartition(4)).collect())
        assert one, name
        assert one == four, name


def test_batch_without_rows_yields_nothing(tiles):
    """Tiles whose kernel emits no rows leave nothing behind (an empty
    tiles frame never reaches the batch loop, so this is the case that
    exercises it)."""
    out = map_tiles(tiles, "image_id string, n int", lambda img, grid: {
        "image_id": img, "n": np.empty(0, np.int32)})
    assert out.collect() == []
