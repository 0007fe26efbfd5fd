"""Mosaic drivers: outputs independent of parallelism, and Spark job
counts held under a ceiling.

Parallelism invariance (ROADMAP 4(d)): each of the seven public mosaic
drivers (mosaic_basin_stats is only an aggregate over
mosaic_flow_accumulation) must give the same rows whether the tiles
frame sits in one partition with one shuffle partition, or in four
partitions with eight shuffle partitions. Checkpoint resume and
streaming replay rely on it.

Job ceilings: the drivers share one halo-exchange shape whose cache
placements decide how many Spark jobs a call runs. The ceilings are
the counts measured on the benchmark's mosaic_drainage input (2x2
crater mosaic of 33x33 tiles, seed 1, tiles frame cached), so a change
to the shared helpers cannot add jobs unnoticed; lower them when a
change removes jobs.
"""

import pandas as pd

from hgt2osm2_spark.ops import mosaic
from hgt2osm2_spark.sources import synthetic

DRIVERS = {
    "flow_accumulation": mosaic.mosaic_flow_accumulation,
    "stream_order": mosaic.mosaic_stream_order,
    "flow_length": mosaic.mosaic_flow_length,
    "hillshade_cells": mosaic.mosaic_hillshade_cells,
    "terrain_cells": mosaic.mosaic_terrain_cells,
    "fill": mosaic.mosaic_fill,
    "routed_flow": mosaic.mosaic_routed_flow,
}

#: Spark jobs per collected driver call on the benchmark input
JOB_CEILINGS = {
    "mosaic_fill": 8,
    "mosaic_flow_accumulation": 10,
    "mosaic_routed_flow": 29,
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _layout(spark, tiles, n_parts, shuffle_parts):
    """Every driver's sorted rows with the tiles frame in `n_parts`
    partitions and `shuffle_parts` shuffle partitions."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_parts))
    try:
        parted = tiles.repartition(n_parts)
        assert parted.rdd.getNumPartitions() == n_parts
        return {name: _rows(fn(parted)) for name, fn in DRIVERS.items()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_mosaic_drivers_parallelism_invariant(spark):
    # the crater gate mosaic and an L-shape (2x2 less one tile), ten
    # degrees apart in one tiles frame: one driver call covers both
    rows = (synthetic.mosaic_tile_rows(2, 2, 33, 7, 47, 8, craters=True)
            + synthetic.mosaic_tile_rows(2, 2, 33, 9, 47, 18, skip=((1, 1),),
                                         craters=True))
    tiles = spark.createDataFrame(rows, synthetic.TILES_SCHEMA)
    one = _layout(spark, tiles, 1, 1)
    many = _layout(spark, tiles, 4, 8)
    for name in DRIVERS:
        assert one[name], name
        assert one[name] == many[name], name


def test_mosaic_driver_job_ceilings(spark):
    rows = synthetic.mosaic_tile_rows(2, 2, 33, 1, 47, 8, craters=True)
    tiles = spark.createDataFrame(
        pd.DataFrame(rows), synthetic.TILES_SCHEMA).cache()
    tiles.count()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        for name, ceiling in JOB_CEILINGS.items():
            group = f"job-ceiling-{name}"
            sc.setJobGroup(group, name)
            try:
                assert getattr(mosaic, name)(tiles).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            n_jobs = len(tracker.getJobIdsForGroup(group))
            assert 0 < n_jobs <= ceiling, (name, n_jobs, ceiling)
    finally:
        tiles.unpersist()
