"""User-facing accessor — the API-parity layer with the reference.

A smart-geocubes user works with a dataset accessor class exposing
``create / load / load_like / procedural_download / loaded_patches /
current_state`` (reference: ``core/accessor.py:206-498``). This module
re-exposes the same surface over the Spark engine, including preset
dataset grids mirroring the reference's dataset modules
(``datasets/arcticdem.py:333`` EPSG:3413, ``datasets/tctrend.py:35``
EPSG:4326 — scaled-down pixel counts, identical math shape).

Reference -> engine mapping:
  load(aoi, toi, persist, create)    -> GeocubeAccessor.load (materialize
                                        + pruned scan; persist => driver read)
  procedural_download                -> GeocubeAccessor.fill (idempotent)
  loaded_patches (zarr attrs)        -> lineage chunk keys
  current_state                      -> lineage join tile bounds
  create(overwrite)                  -> create with FileExistsError parity
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid
from smart_geocubes_spark.plans.materialize import (
    CubeSpec,
    add_channel as cube_add_channel,
    create_cube,
    event_durations,
    fill_load_local,
    load as load_blocks,
    materialize,
    materialize_patch,
    open_spec,
    read_lineage,
    snapshots as cube_snapshots,
)
from smart_geocubes_spark.toi import normalize_toi

BBox = tuple[float, float, float, float]


@dataclass
class GeocubeAccessor:
    """One cube = one accessor instance (reference: one dataset class).

    Subclass extension seam: ``post_init`` runs once after construction
    and ``post_create`` after a successful ``create()`` — the reference's
    hook pair (``core/accessor.py:125-127`` and ``:298-300``), used by
    dataset accessors to e.g. warm auxiliary indexes."""

    spark: SparkSession
    path: str
    spec: CubeSpec

    def __post_init__(self) -> None:
        self.post_init()

    def post_init(self) -> None:
        """Hook: runs after construction. Override in subclasses
        (reference ``core/accessor.py:125-127``)."""

    def post_create(self) -> None:
        """Hook: runs after a successful ``create()`` (reference
        ``core/accessor.py:298-300``)."""

    def create(self, overwrite: bool = False) -> None:
        """DDL (reference ``create()``, exists/overwrite semantics of
        ``tests/test_creation.py:122-140``)."""
        if overwrite and os.path.exists(self.path):
            shutil.rmtree(self.path)
        create_cube(self.path, self.spec)
        self.post_create()

    @property
    def created(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_meta.json"))

    def assert_created(self) -> None:
        if not self.created:
            raise FileNotFoundError(f"cube not created: {self.path}")

    def add_channel(self, name: str) -> None:
        """Schema evolution: append a channel (lazy backfill — see
        plans.materialize.add_channel). Refreshes the cached spec so
        subsequent fills/loads through this accessor see it."""
        self.assert_created()
        self.spec = cube_add_channel(self.path, name)

    def _normalize_toi(self, toi_epochs, toi_method: str) -> list[int] | None:
        """Snap an arbitrary TOI (scalar / list / slice / ISO string /
        datetime / None) onto the cube's epoch axis (reference
        ``normalize_toi``, core/toi.py:10-42). Atemporal cubes pass
        None through and raise on anything else — the same guard the
        plans layer enforces for direct callers."""
        return normalize_toi(self.spec.time_epochs, toi_epochs, method=toi_method)

    def fill(
        self,
        roi: BBox | list[BBox],
        toi_epochs=None,
        toi_method: str = "nearest",
    ) -> dict:
        """procedural_download analog: idempotent cache fill. ``roi``
        may be a LIST of bboxes (reference GeoDataFrame batch branch,
        core/accessor.py:400-426) — one job fills the deduped union —
        or a single-ring POLYGON (WKT string or (x, y) vertex pairs;
        reference Geometry branch, core/accessor.py:331-358), refined
        with the exact rect×polygon test so a concave AOI fills
        strictly fewer chunks than its bbox.
        ``toi_epochs`` accepts exact axis epochs OR arbitrary
        timestamps/slices, snapped via ``toi_method`` (reference
        normalize_toi semantics)."""
        self.assert_created()
        return materialize(
            self.spark, self.path, roi, self._normalize_toi(toi_epochs, toi_method)
        )

    def fill_patch(
        self,
        patch_bbox: BBox,
        patch_id: str,
        toi_epochs=None,
        toi_method: str = "nearest",
        value_offset: float = 0.0,
    ) -> dict:
        """Merge-on-write fill for a PARTIALLY-covering patch
        (reference ``core/backend.py:263-272``: NaN borders in the
        downloaded patch are back-filled from existing cube data, so
        overlapping patches preserve each other's pixels). Re-applying
        a ``patch_id`` is a no-op (``loaded_patches`` semantics).
        Single patch/maintenance actor at a time, and a patched chunk
        counts as CACHED: ``fill()`` will not regenerate its uncovered
        pixels — only further patches complete them (reference
        behavior) — see plans.materialize.materialize_patch."""
        self.assert_created()
        return materialize_patch(
            self.spark,
            self.path,
            patch_bbox,
            patch_id,
            self._normalize_toi(toi_epochs, toi_method),
            value_offset=value_offset,
        )

    def load(
        self,
        roi: BBox | list[BBox],
        toi_epochs=None,
        persist: bool = False,
        create: bool = False,
        toi_method: str = "nearest",
        channels: list[str] | None = None,
        value_range: tuple[float, float] | None = None,
    ) -> DataFrame | pd.DataFrame:
        """The flagship four-step query (docs/how_it_works.md:48-53):
        intersect -> download new -> store -> return ROI slice.
        ``persist=True`` reads the crop on the driver with pyarrow
        (xarray-load analog; plans.materialize.fill_load_local, whose
        read reuses the fill's lineage read when the ROI was cached) and
        returns the pandas frame ``load(...).toPandas()`` would, without
        a Spark job; otherwise the lazy Spark DataFrame is the dask-lazy
        view.

        ``roi`` may be a LIST of bboxes (reference GeoDataFrame branch,
        core/accessor.py:400-426): ONE fill job covering the deduped
        union, then ONE pruned scan whose result carries a ``roi_idx``
        column naming the requesting ROI per row (a block covered by k
        ROIs appears k times). Polygons (WKT or vertex pairs) are
        accepted anywhere a bbox is — the reference Geometry branch."""
        if create:
            try:
                self.create(overwrite=False)
            except FileExistsError:
                pass
        self.assert_created()
        # normalize ONCE so the fill and the scan see the same axis
        # steps — materialize() is called directly (self.fill would
        # re-normalize, under its own default method); TOI-on-atemporal
        # raises here (and again in the shared plans layer for direct
        # materialize/load_blocks callers)
        toi = self._normalize_toi(toi_epochs, toi_method)
        # validate the band list BEFORE the fill: a typo'd channel name
        # must cost nothing, not an hours-long materialize (load_blocks
        # re-checks against the on-disk meta for direct callers)
        if channels is not None:
            unknown = [c for c in channels if c not in self.spec.channels]
            if unknown:
                raise ValueError(
                    f"unknown channels {unknown}; cube has {list(self.spec.channels)}"
                )
        # the FILL still covers every channel (cache completeness —
        # reference downloads whole patches regardless of band slice);
        # only the returned scan projects (band slicing, P4)
        if persist:
            return fill_load_local(
                self.spark, self.path, roi, toi, channels=channels, value_range=value_range
            )
        materialize(self.spark, self.path, roi, toi)
        return load_blocks(
            self.spark, self.path, roi, toi, channels=channels, value_range=value_range
        )

    def chunk_stats(
        self,
        roi: BBox | list[BBox],
        toi_epochs=None,
        toi_method: str = "nearest",
        channels: list[str] | None = None,
    ) -> DataFrame:
        """Zone-map manifest for the ROI: one row per visible chunk with
        its stored value bounds (v_min/v_max/n_valid) — the metadata
        read behind ``load(value_range=...)`` pruning. Never touches
        block arrays."""
        from smart_geocubes_spark.plans.materialize import chunk_stats

        self.assert_created()
        toi = self._normalize_toi(toi_epochs, toi_method)
        return chunk_stats(self.spark, self.path, roi, toi, channels=channels)

    def build_overviews(self, factors: tuple[int, ...] = (2,), roi=None) -> dict:
        """Materialize reduced-resolution pyramid levels (COG-overview
        role); see plans.materialize.build_overviews."""
        from smart_geocubes_spark.plans.materialize import build_overviews

        self.assert_created()
        return build_overviews(self.spark, self.path, factors=factors, roi_bbox=roi)

    def refresh_overviews(self, factors: tuple[int, ...] = (2,)) -> dict:
        """Incremental pyramid refresh (CDC-composed): re-derives only
        chunks changed since each level's build."""
        from smart_geocubes_spark.plans.materialize import refresh_overviews

        self.assert_created()
        return refresh_overviews(self.spark, self.path, factors=factors)

    def load_overview(
        self, roi: BBox | list[BBox], factor: int,
        channels: list[str] | None = None,
    ) -> DataFrame:
        """ROI read of a pyramid level; raises on missing/stale levels."""
        from smart_geocubes_spark.plans.materialize import load_overview

        self.assert_created()
        return load_overview(self.spark, self.path, roi, factor, channels=channels)

    def load_changes(
        self, roi: BBox | list[BBox], since_batch: str,
        toi_epochs=None, toi_method: str = "nearest",
        channels: list[str] | None = None,
    ) -> DataFrame:
        """Provenance CDC: visible blocks whose content changed after
        the given snapshot; see plans.materialize.load_changes."""
        from smart_geocubes_spark.plans.materialize import load_changes

        self.assert_created()
        toi = self._normalize_toi(toi_epochs, toi_method)
        return load_changes(
            self.spark, self.path, roi, since_batch,
            toi_epochs=toi, channels=channels,
        )

    def load_like(
        self, ref: DataFrame, persist: bool = False, buffer: int = 0
    ) -> DataFrame | pd.DataFrame:
        """Derive ROI AND TOI from another result frame (reference
        ``load_like``, core/accessor.py:302-329: aoi from ``ref.geobox``,
        toi from ``ref``'s time coordinate when the cube is temporal).
        Here the time coordinate is ``time_idx``: its distinct values map
        back onto the cube's epoch axis, so a temporal-cube user gets
        exactly the reference frame's time steps, not all of them.
        ``buffer``: pixels added around the derived ROI (the reference's
        ``buffer`` load param)."""
        spec = self.spec
        b = ref.agg(
            F.min("tile_x"), F.min("tile_y"), F.max("tile_x"), F.max("tile_y")
        ).collect()[0]
        if b[0] is None:
            # an empty ref (e.g. fully filtered) would otherwise surface
            # as a NaN-to-int crash deep inside the tile math
            raise ValueError("load_like: reference frame is empty — no ROI to derive")
        minx, _, _, maxy0 = spec.grid.tile_bounds(pd.Series([b[0]]), pd.Series([b[1]]))
        _, miny, maxx, _ = spec.grid.tile_bounds(pd.Series([b[2]]), pd.Series([b[3]]))
        eps = spec.grid.geobox.res / 2
        buf = buffer * spec.grid.geobox.res
        roi = (
            float(minx[0]) + eps - buf,
            float(miny[0]) + eps - buf,
            float(maxx[0]) - eps + buf,
            float(maxy0[0]) - eps + buf,
        )

        toi_epochs = None
        if spec.time_epochs is not None and "time_idx" in ref.columns:
            # clamp BOTH ends: a ref frame from a different/longer-axis
            # cube may carry time_idx values past this cube's epoch axis
            idxs = sorted(
                int(r[0])
                for r in ref.select("time_idx").distinct().collect()
                if r[0] is not None and 0 <= int(r[0]) < len(spec.time_epochs)
            )
            if idxs:
                toi_epochs = [spec.time_epochs[i] for i in idxs]
        return self.load(roi, toi_epochs=toi_epochs, persist=persist)

    def snapshots(self) -> list[dict]:
        """Committed versions in commit order (icechunk commit-log
        analog); each fill/compaction is a readable snapshot:
        {seq, batch_id, committed_at}."""
        return [
            {k: s[k] for k in ("seq", "batch_id", "committed_at")}
            for s in cube_snapshots(self.path)
        ]

    def read_snapshot(
        self,
        roi: BBox | list[BBox],
        as_of_batch: str,
        toi_epochs=None,
        toi_method: str = "nearest",
    ) -> DataFrame:
        """TIME TRAVEL: the ROI exactly as it was visible when
        ``as_of_batch`` committed. Read-only — never fills."""
        self.assert_created()
        if not isinstance(as_of_batch, str):
            # an all-cached fill returns batch_id None; passing that
            # through would silently disable time travel (live read)
            raise ValueError(
                f"as_of_batch must be a committed batch id, got {as_of_batch!r} "
                "(an all-cached fill returns batch_id=None — use snapshots() "
                "for the latest committed id)"
            )
        return load_blocks(
            self.spark,
            self.path,
            roi,
            self._normalize_toi(toi_epochs, toi_method),
            as_of_batch=as_of_batch,
        )

    def loaded_patches(self) -> list[str]:
        """The lineage chunk keys (reference zarr-attr list,
        core/accessor.py:155-166). NOTE: returns a driver-side list for
        API parity — it is cube-sized (one entry per committed chunk).
        At 100 TB use ``read_lineage(spark, path)`` and keep it a
        DataFrame; the engine itself never calls this (the cache skip
        in plans/materialize.py collects only the keys of the ROI's
        tiles — bounded by the query, not the cube)."""
        return [
            r.chunk_key
            for r in read_lineage(self.spark, self.path).select("chunk_key").distinct().collect()
        ]

    def current_state(self) -> pd.DataFrame | None:
        """Materialized-tile extents (reference ``current_state``,
        core/accessor.py:474-483): one row per committed chunk with its
        tile bounds; None when nothing is loaded."""
        lin = read_lineage(self.spark, self.path)
        pdf = lin.select("chunk_key", "tile_id", "time_idx", "channel").distinct().toPandas()
        if pdf.empty:
            return None
        nx = self.spec.grid.n_tiles_x
        tx, ty = pdf["tile_id"] % nx, pdf["tile_id"] // nx
        minx, miny, maxx, maxy = self.spec.grid.tile_bounds(tx, ty)
        return pdf.assign(minx=minx, miny=miny, maxx=maxx, maxy=maxy)

    def metrics(self) -> pd.DataFrame:
        """Per-run metrics (event-log analog, core/backend.py:23-28),
        in COMMIT order (the metrics filenames are uuid-hex — sorting
        them would order runs randomly; the commit counter is the
        operational timeline the Gantt renders)."""
        import glob
        import json

        from smart_geocubes_spark.plans.materialize import snapshots

        seq = {s["batch_id"]: s["seq"] for s in snapshots(self.path)}
        rows = []
        for p in sorted(glob.glob(os.path.join(self.path, "metrics", "*.json"))):
            with open(p) as f:
                rows.append(json.load(f))
        rows.sort(key=lambda r: seq.get(r.get("batch_id"), 1 << 62))
        return pd.DataFrame(rows)

    def visualize_state(self, width: int = 40) -> str:
        """Text Gantt of fill runs (reference ``visualize_state``
        renders the event log with matplotlib, ``core/backend.py:95-185``;
        plotting libs are out of scope here so the duration rollup is
        rendered as ASCII bars — the *data* half is identical). Per-run
        bars from the run metrics, indented per-PARTITION bars (the
        reference's per-thread lanes) from the committed event log."""
        m = self.metrics()
        if m.empty:
            return "(no fill runs)"
        lanes: dict[str, list] = {}
        for r in event_durations(self.spark, self.path).collect():
            lanes.setdefault(r["batch_id"], []).append(r)
        top = max(float(m["sec"].max()), 1e-9)
        lines = []
        for _, r in m.iterrows():
            bar = "#" * max(1, int(round(width * float(r["sec"]) / top)))
            lines.append(f"{r['batch_id']}  {bar} {float(r['sec']):.2f}s ({int(r['written'])} chunks)")
            rows = sorted(
                lanes.get(str(r["batch_id"]), []),
                key=lambda e: (e["partition_id"], e["action"]),
            )
            lane_top = max([e["duration_us"] for e in rows], default=0) or 1
            for e in rows:
                # two lanes per partition (reference download vs write
                # actions, core/backend.py:23-28): '=' generate, '~' write
                ch = "=" if e["action"] == "generate" else "~"
                lbar = ch * max(1, int(round(width * e["duration_us"] / lane_top)))
                lines.append(
                    f"  p{e['partition_id']:03d} {e['action']:<8} {lbar} "
                    f"{e['duration_us'] / 1e6:.3f}s ({e['n_chunks']} chunks, {e['n_bytes']} B)"
                )
        return "\n".join(lines)


# ---------------------------------------------------------------------------
# dataset presets (reference datasets/, scaled pixel counts)
# ---------------------------------------------------------------------------

def arcticdem_like(spark: SparkSession, path: str, chunk_px: int = 100) -> GeocubeAccessor:
    """EPSG:3413 polar-stereographic DEM cube: channels dem:float32 +
    datamask:bool — the reference's per-channel encodings verbatim
    (``datasets/arcticdem.py:158-172,333``: float32 DEM, bool
    datamask, applied at ``core/accessor.py:269-276``). Storage is
    typed (the datamask lands as a parquet BOOLEAN bitmap); ``load``
    returns ``array<double>`` regardless. The synthetic fixture values
    are halves < 2^24, so the float32 round-trip is exact and every
    golden-stat test holds bit-for-bit."""
    gb = GeoBox(crs="EPSG:3413", x0=-4_000_000.0, y0=4_000_000.0, res=3200.0, width=2500, height=2500)
    spec = CubeSpec(
        grid=TileGrid(geobox=gb, chunk_px=chunk_px),
        channels=("dem", "datamask"),
        dtypes=("float32", "bool"),
        time_epochs=None,
    )
    return GeocubeAccessor(spark=spark, path=path, spec=spec)


def tctrend_like(spark: SparkSession, path: str, chunk_px: int = 100) -> GeocubeAccessor:
    """EPSG:4326 temporal trend cube: TCB/TCG/TCW slopes over 4 yearly
    steps (reference ``datasets/tctrend.py:35-57``,
    ``datasets/alphaearth.py:36``). The reference stores these slopes
    as uint8; the dtype system supports that (range-guarded, see
    ``plans/materialize.DTYPES`` + the uint8 overflow pytest), but this
    preset keeps float64 because the synthetic fixture formula's
    values exceed 255 by construction — a uint8 preset would trip the
    in-plan guard on every fill, which is the guard working."""
    gb = GeoBox(crs="EPSG:4326", x0=-180.0, y0=84.0, res=0.015, width=24000, height=1600)
    spec = CubeSpec(
        grid=TileGrid(geobox=gb, chunk_px=chunk_px),
        channels=("tcb_slope", "tcg_slope", "tcw_slope"),
        time_epochs=(1577836800, 1609459200, 1640995200, 1672531200),
    )
    return GeocubeAccessor(spark=spark, path=path, spec=spec)


# yearly epochs 2017-01-01 .. 2024-01-01 (UTC midnight), mirroring
# pd.date_range("2017-01-01", "2024-01-01", freq="YS") in the reference
_ALPHAEARTH_EPOCHS = (
    1483228800, 1514764800, 1546300800, 1577836800,
    1609459200, 1640995200, 1672531200, 1704067200,
)


def alphaearth_like(spark: SparkSession, path: str, chunk_px: int = 100) -> GeocubeAccessor:
    """AlphaEarth-style temporal EMBEDDING cube: 64 channels A00..A63
    over 8 yearly steps on a global EPSG:4326 grid (reference
    ``datasets/alphaearth.py:17-36``: channels ``[f"A{i:02d}" for i in
    range(64)]``, yearly temporal extent, chunk 3600; pixel counts
    scaled down like the other presets, math shape identical). The 64
    channels are the cube-store mirror of the ``embeddings`` table's
    64-dim ``array<float>`` column — one channel per embedding dim."""
    gb = GeoBox(crs="EPSG:4326", x0=-180.0, y0=90.0, res=0.09, width=4000, height=2000)
    spec = CubeSpec(
        grid=TileGrid(geobox=gb, chunk_px=chunk_px),
        channels=tuple(f"A{i:02d}" for i in range(64)),
        # embeddings store as float32 (the embeddings table's
        # array<float> dim type) — halves < 2^24 round-trip exactly, and
        # the 64 channels share ONE dt-float leaf (writes are grouped
        # by storage type, not by channel)
        dtypes=("float32",) * 64,
        time_epochs=_ALPHAEARTH_EPOCHS,
    )
    return GeocubeAccessor(spark=spark, path=path, spec=spec)
