"""Tile + cell assignment operators.

The deterministic tile-id projection is the heart of the engine (north
rule: "identical tile-id assignment for every query geometry";
reference analog: ``GeoboxTiles`` enumeration ``accessors/gee.py:58-60``
and chunk layout asserted in ``tests/test_creation.py:77-87``).

Assignment is a *projection*, not a join: pure column math, evaluated
either JVM-side (shared SQL expressions from functions/sqlgen — stays
inside WholeStageCodegen) or in an Arrow pandas UDF calling the numpy
kernel (needed when a non-trivial CRS projection runs first). Both
paths are tested to agree.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from smart_geocubes_spark.geo.geobox import TileGrid
from smart_geocubes_spark.geo.projection import normalize_antimeridian, project


def with_tiles_native(df: DataFrame, grid: TileGrid, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """JVM-side tile assignment (identity-CRS grids): floor affine math
    as native columns — no Python in the hot path at all."""
    gb = grid.geobox
    t = grid.tile_size
    tx = F.floor((F.col(lon) - F.lit(gb.x0)) / F.lit(t)).cast("long")
    ty = F.floor((F.lit(gb.y0) - F.col(lat)) / F.lit(t)).cast("long")
    return (
        df.withColumn("tile_x", tx)
        .withColumn("tile_y", ty)
        .withColumn("tile_id", F.col("tile_y") * F.lit(grid.n_tiles_x) + F.col("tile_x"))
    )


def in_extent_filter(grid: TileGrid, lon: str = "lon", lat: str = "lat") -> Column:
    minx, miny, maxx, maxy = grid.geobox.extent
    return (
        (F.col(lon) >= F.lit(minx))
        & (F.col(lon) < F.lit(maxx))
        & (F.col(lat) > F.lit(miny))
        & (F.col(lat) <= F.lit(maxy))
    )


def make_tile_udf(grid: TileGrid, crs: str):
    """Arrow-batched tile assignment through a real CRS projection
    (polar stereographic etc.): lon/lat -> project -> grid floor."""

    @F.pandas_udf("tile_x long, tile_y long, tile_id long, px double, py double")
    def tile_udf(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        x, y = project(lon.to_numpy(), lat.to_numpy(), crs)
        tx, ty = grid.xy_to_tile(x, y)
        return pd.DataFrame(
            {"tile_x": tx, "tile_y": ty, "tile_id": grid.tile_id(tx, ty), "px": x, "py": y}
        )

    return tile_udf


# imported, not copied: every fused kernel MUST parse exactly what the
# unfused lat/lon path parses (a second copy of the regex OR the float
# path would silently desync — parse_latlon_np is the one definition)
from smart_geocubes_spark.operators.geoparse import parse_latlon_np  # noqa: E402


def make_geoparse_cell_udf(res: int):
    """FUSED url -> Morton cell UDF (geoparse + encode in ONE Arrow
    hop; -1 for urls without coordinates). Shared parse/float path via
    geoparse.parse_latlon_np, fused per CLAUDE.md rule 4 so queries
    that only need the cell pay a single ArrowEvalPython node.
    ``asNondeterministic`` pins one evaluation (see geoparse.py)."""
    import numpy as np

    from smart_geocubes_spark.geo.cells import cell_encode as _enc

    @F.pandas_udf("long")
    def _udf(url: pd.Series) -> pd.Series:
        lat, lon, has = parse_latlon_np(url)
        cell = np.where(has, _enc(np.nan_to_num(lon), np.nan_to_num(lat), res), -1)
        return pd.Series(cell)

    return _udf.asNondeterministic()


def make_geoparse_tile_udf(grid: TileGrid, crs: str):
    """FUSED url -> projected tile assignment in ONE Arrow hop
    (geoparse + CRS projection + grid floor; ``has`` False for urls
    without coordinates). Shared parse/float path via
    geoparse.parse_latlon_np, fused per CLAUDE.md rule 4 — the
    previous two-hop chain (geoparse UDF then tile UDF) pays a second
    ArrowEvalPython worker round-trip. ``asNondeterministic`` pins one
    evaluation per plan."""
    import numpy as np

    @F.pandas_udf("tile_id long, px double, py double, has boolean")
    def _udf(url: pd.Series) -> pd.DataFrame:
        lat, lon, has = parse_latlon_np(url)
        x, y = project(np.nan_to_num(lon), np.nan_to_num(lat), crs)
        tx, ty = grid.xy_to_tile(x, y)
        return pd.DataFrame({"tile_id": grid.tile_id(tx, ty), "px": x, "py": y, "has": has})

    return _udf.asNondeterministic()


def make_geoparse_norm_lon_udf():
    """FUSED url + lon-shift -> (lat, lon_norm, has) in ONE Arrow hop:
    geoparse (shared parse via geoparse.parse_latlon_np), apply the
    JVM-computed shift, and antimeridian-normalize (reference
    ``accessors/gee.py:211-215``). The shift add and the normalization
    run in numpy over the same float64 values the JVM would produce,
    so parity with the fmod oracle is unchanged from the two-hop
    version."""
    import numpy as np

    @F.pandas_udf("lat double, lon_norm double, has boolean")
    def _udf(url: pd.Series, shift: pd.Series) -> pd.DataFrame:
        lat, lon, has = parse_latlon_np(url)
        lon_norm = normalize_antimeridian(lon + shift.to_numpy(dtype=np.float64))
        return pd.DataFrame({"lat": lat, "lon_norm": lon_norm, "has": has})

    return _udf.asNondeterministic()


_UDF_CACHE: dict[str, object] = {}


def normalize_lon_udf():
    """Antimeridian normalization (reference ``accessors/gee.py:211-215``)."""
    if "norm_lon" not in _UDF_CACHE:

        @F.pandas_udf("double")
        def _udf(lon: pd.Series) -> pd.Series:
            return pd.Series(normalize_antimeridian(lon.to_numpy()))

        # consumers reference lon_norm from several expressions (extent
        # filter + tile math): pin one evaluation per plan
        _UDF_CACHE["norm_lon"] = _udf.asNondeterministic()
    return _UDF_CACHE["norm_lon"]
