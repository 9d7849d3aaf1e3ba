"""The three benchmark workloads.

Each is a closed loop with one client: the next request goes out when
the previous one returns. A workload provides

- ``make_data(dir)``: its seeded input tables and expected outputs,
  before any Spark session exists (not timed);
- ``session_setup(bench)``: per-session state, timed as set-up;
- ``request(bench, i)``: request ``i``, the timed part;
- ``check(result)``: the work units the request completed; raises
  :class:`WrongOutput` when the engine's rows disagree with the
  benchmark's own recount;
- ``end_to_end(ops)``: its end-to-end figures from the timed requests
  (``request_cpu_s`` and ``throughput``), and ``latency(ops)``, their
  median wall;
- ``layers(bench, log)``: its per-layer figures from a traced run;
- ``probes()``: workloads whose one request a traced run adds, after
  the loop, to measure layers this workload does not exercise.

Every call into the engine sits inside ``bench.span(name)``, which
records a span and, when tracing, sets the Spark job group.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import data
import tracing


class WrongOutput(Exception):
    """An op returned rows that disagree with the benchmark's recount."""


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise WrongOutput(what)


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _named(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


class Workload:
    """Defaults for the optional parts of a workload."""

    #: requests per round; the loop only stops at a round's end
    round = 1
    #: a session's first requests pay Python-worker and JVM warm-up:
    #: the loop makes and checks them before it starts the clock
    warmup = 1
    #: whether requests read the driver tables as views
    views = True

    def session_setup(self, b) -> None:
        pass

    def live_layers(self, b) -> dict:
        """Per-layer figures that need the traced session still open."""
        return {}

    def scale_layers(self, b, ops) -> dict:
        """Per-layer figures that need sessions of their own."""
        return {}

    def probes(self, b) -> list:
        return []


# ---------------------------------------------------------------------------
# webtext_join
# ---------------------------------------------------------------------------

#: order rows in the pages source; each fans out to ``mult`` pages
N_ORDERS = 25_000
#: pages per request per core: sized so per-page work (the Arrow hop
#: and the joins) is most of a request at local[nproc], with enough
#: requests in a run for a steady median
PAGES_PER_CORE = 37_500
KNN_K = 5


def synth_points(page_ids: np.ndarray):
    """``sources.synth.pages_sql``'s geotag columns recomputed in numpy:
    (has_geo, lat, lon, extracted-text length)."""
    h1 = (page_ids * 1103515245 + 12345) % 2147483648
    h2 = (h1 * 1103515245 + 54321) % 2147483648
    h3 = (h2 * 1103515245 + 99991) % 2147483648
    hot = (h3 % 10) < 3
    k = h3 % 3
    lat_e5 = np.where(hot, np.choose(k, [6500000, 7000000, 7800000]) + h1 % 50000,
                      6000000 + h1 % 2400000)
    lon_e5 = np.where(hot, np.choose(k, [-15000000, 2000000, 10000000]) + h2 % 50000,
                      (h2 % 36000000) - 18000000)
    # "page {id}\ngeo {lat},{lon}\nlorem ipsum dolor {id}"
    text_len = (2 * np.char.str_len(page_ids.astype(str))
                + np.char.str_len(lat_e5.astype(str))
                + np.char.str_len(lon_e5.astype(str)) + 30)
    return (h3 % 100) < 97, lat_e5 / 1e5, lon_e5 / 1e5, text_len


def patch_recount(pid, lat, lon, text_len) -> dict:
    """Per patch (count, sum page_id, sum text length) of the points in
    its bbox and diamond, from ``sources.synth``'s 120 x 8 catalog."""
    n_cols, n_rows = 120, 8
    base_c = np.floor((lon + 180.0) / 3.0).astype(np.int64)
    base_r = np.floor((84.0 - lat) / 3.0).astype(np.int64)
    n = np.zeros(n_cols * n_rows, np.int64)
    s = np.zeros(n_cols * n_rows, np.int64)
    tl = np.zeros(n_cols * n_rows, np.int64)
    for dc in (-1, 0, 1):
        for dr in (-1, 0, 1):
            c, r = base_c + dc, base_r + dr
            cf, rf = c.astype(np.float64), r.astype(np.float64)
            inside = ((c >= 0) & (c < n_cols) & (r >= 0) & (r < n_rows)
                      & (lon >= -180.0 + cf * 3.0 - 0.5) & (lon < -180.0 + cf * 3.0 + 3.5)
                      & (lat >= 84.0 - rf * 3.0 - 3.5) & (lat < 84.0 - rf * 3.0 + 0.5)
                      & (np.abs(lon - (-180.0 + cf * 3.0 + 1.5)) / 2.0
                         + np.abs(lat - (84.0 - rf * 3.0 - 1.5)) / 1.6 < 1.0))
            idx = (r * n_cols + c)[inside]
            np.add.at(n, idx, 1)
            np.add.at(s, idx, pid[inside])
            np.add.at(tl, idx, text_len[inside])
    return {f"p_{i // n_cols}_{i % n_cols}": (int(n[i]), int(s[i]), int(tl[i]))
            for i in np.flatnonzero(n)}


def knn_recount(pid, lat, lon, queries, k: int) -> set:
    """Brute-force top-k per query, by squared distance then id."""
    out = set()
    for qid, qx, qy in queries:
        d2 = (lon - qx) * (lon - qx) + (lat - qy) * (lat - qy)
        cand = np.flatnonzero(d2 <= np.partition(d2, k - 1)[k - 1])
        best = cand[np.lexsort((pid[cand], d2[cand]))][:k]
        out.update((int(qid), int(pid[j]), r + 1) for r, j in enumerate(best))
    return out


class WebtextJoin(Workload):
    name = "webtext_join"
    unit = "pages"
    #: a run times at least two requests after the warm-up one
    round = 2

    def __init__(self, seed: int, cores: int):
        self.seed = seed
        self.mult = max(1, PAGES_PER_CORE * cores // N_ORDERS)
        self.pages = N_ORDERS * self.mult

    def make_data(self, d: str) -> None:
        import pyarrow.parquet as pq

        # the documents table is the dedup probe's corpus
        data.write_tables(d, self.seed, n_orders=N_ORDERS, n_docs=N_DOCS)
        keys = pq.read_table(os.path.join(d, "orders.parquet"), columns=["o_orderkey"])
        keys = keys.column(0).to_numpy()
        pid = (keys[:, None] * self.mult + np.arange(self.mult)[None, :]).ravel()
        has_geo, lat, lon, tl = synth_points(pid)
        self.points = (pid[has_geo], lat[has_geo], lon[has_geo], tl[has_geo])
        self.expected = patch_recount(*self.points)
        self.knn_expected = None

    def session_setup(self, b) -> None:
        from smart_geocubes_spark.operators.spatial_join import explode_catalog_to_cells
        from smart_geocubes_spark.sources.synth import catalog_df

        # the patch catalog is static: a long-lived service explodes it once
        with b.span("spatial_join.catalog_cells"):
            self.cells = explode_catalog_to_cells(b.spark, catalog_df(b.spark))
        # the knn_ring query set: every 48th patch centre, offset
        self.queries = (catalog_df(b.spark).filter("patch_idx % 48 = 13")
                        .selectExpr("patch_idx AS qid", "cx + 0.123 AS qx", "cy - 0.217 AS qy")
                        .toPandas())
        if self.knn_expected is None:
            pid, lat, lon, _ = self.points
            self.knn_expected = knn_recount(
                pid, lat, lon, self.queries.itertuples(index=False), KNN_K)

    def request(self, b, i: int):
        from pyspark.sql import functions as F

        from smart_geocubes_spark.operators.knn import knn_join
        from smart_geocubes_spark.operators.prep import prep_pages
        from smart_geocubes_spark.operators.spatial_join import pip_join
        from smart_geocubes_spark.sources.synth import pages_df

        with b.span("prep"):
            pages = pages_df(b.spark, b.data_dir, mult=self.mult, parallelism=3 * b.cores)
            # both joins read the points: one fused Arrow hop per request
            pts = prep_pages(pages).localCheckpoint(eager=True)
        with b.span("spatial_join"):
            rows = (pip_join(pts, self.cells).groupBy("patch_id")
                    .agg(F.count("*").alias("n"), F.sum("page_id").alias("s"),
                         F.sum("text_len").alias("tl"))
                    .collect())
        with b.span("knn"):
            knn = knn_join(b.spark, pts.withColumnRenamed("page_id", "point_id"),
                           self.queries, k=KNN_K)
        with b.span("knn.collect"):
            nn = knn.collect()
        self.last_points = pts
        return rows, nn

    def check(self, result) -> int:
        rows, nn = result
        _check({r["patch_id"]: (r["n"], r["s"], r["tl"]) for r in rows} == self.expected,
               "per-patch counts differ from the recount")
        _check({(r["qid"], r["neighbor_id"], r["rank"]) for r in nn} == self.knn_expected,
               "kNN neighbours differ from the brute-force recount")
        return self.pages

    def latency(self, ops) -> float:
        return _median(o["wall"] for o in ops)

    def end_to_end(self, ops) -> dict:
        return {"request_cpu_s": _median(o["cpu"] for o in ops),
                "throughput": self.pages * len(ops) / sum(o["cpu"] for o in ops)}

    def probes(self, b) -> list:
        # the dedup layer, on this run's own documents table
        self.dedup = DedupDocs(self.seed, b.cores)
        self.dedup.expect(b.data_dir)
        return [self.dedup]

    def live_layers(self, b) -> dict:
        from smart_geocubes_spark.operators.spatial_join import bbox_join, pip_join

        # cell-join candidates (bbox survivors) per diamond match
        cand = bbox_join(self.last_points, self.cells).count()
        return {"spatial_join.candidates_per_match":
                cand / max(pip_join(self.last_points, self.cells).count(), 1)}

    def scale_layers(self, b, ops) -> dict:
        """Throughput at local[4] / (4 x throughput at local[1]), same
        input, each leg in a fresh session."""
        walls = {}
        for n in (4, 1):
            if n == b.cores:
                walls[n] = self.latency(ops)
                continue
            b.start_session(self, n)
            # one warm-up request, as in the loop, then the timed one
            for i in range(2):
                t0 = time.perf_counter()
                result = self.request(b, i)
                walls[n] = time.perf_counter() - t0
                self.check(result)
        return {"webtext.scale_eff_1_to_4": walls[1] / (4.0 * walls[4])}

    def layers(self, b, log: tracing.EventLog) -> dict:
        from smart_geocubes_spark.geo.cells import cell_encode
        from smart_geocubes_spark.geo.pip import points_in_polygon
        from smart_geocubes_spark.text.extract import extract_text

        spans = b.spans.spans
        m: dict[str, float] = {}
        prep = _named(spans, "prep")
        per_op = [tracing.python_boundary(tracing.engine_stats(log, tracing.jobs_of_span(log, s, spans)))
                  for s in prep]
        for k in per_op[0] if per_op else ():
            m[k] = _median(p[k] for p in per_op)
        m["spatial_join.catalog_cells_s"] = _median(
            _dur(s) for s in _named(spans, "spatial_join.catalog_cells"))
        m["spatial_join.broadcast_bytes"] = _median(
            tracing.broadcast_bytes(log, tracing.jobs_of_span(log, s, spans))
            for s in _named(spans, "spatial_join"))
        knn = list(zip(_named(spans, "knn"), _named(spans, "knn.collect")))
        m["knn.jobs"] = _median(len(tracing.jobs_of_span(log, a, spans))
                                + len(tracing.jobs_of_span(log, c, spans)) for a, c in knn)
        # knn_join's eager work before it returns: the provisional top-k
        # checkpoint and the bound-stats collect round trip
        m["knn.driver_s"] = _median(_dur(a) for a, _ in knn)

        # kernels in-process, on the generator's own inputs
        pid, lat, lon, _ = self.points
        n = min(len(pid), 50_000)
        htmls = [(f"<html><head><title>page {p}</title></head><body><p>geo {round(a * 1e5)},"
                  f"{round(o * 1e5)}</p><p>lorem ipsum dolor {p}</p></body></html>").encode()
                 for p, a, o in zip(pid[:n], lat[:n], lon[:n])]
        t0 = time.perf_counter()
        for h in htmls:
            extract_text(h)
        m["extract.pages_per_s"] = n / (time.perf_counter() - t0)
        t0 = time.perf_counter()
        cell_encode(lon, lat, 12)
        m["cells.encode_points_per_s"] = len(lon) / (time.perf_counter() - t0)
        # the patch diamond, points relative to their nearest patch centre
        dx = lon[:n] + 178.5 - np.round((lon[:n] + 178.5) / 3.0) * 3.0
        dy = lat[:n] - 82.5 - np.round((lat[:n] - 82.5) / 3.0) * 3.0
        t0 = time.perf_counter()
        points_in_polygon(dx, dy, np.array([-2.0, 0.0, 2.0, 0.0]), np.array([0.0, 1.6, 0.0, -1.6]))
        m["pip.points_per_s"] = n / (time.perf_counter() - t0)
        m.update(self.dedup.layers(b, log))
        return m


# ---------------------------------------------------------------------------
# cube_cache
# ---------------------------------------------------------------------------

#: a cold ROI covers one fresh block of BW x BH tiles, extended one tile
#: into an already loaded neighbour when there is one (a partial overlap)
BW, BH = 4, 3
#: a cached ROI is WW x WH tiles inside a loaded block: one size, so
#: that the seed moves where it reads and not how much
WW, WH = 3, 2
#: fully cached re-loads after each cold load (a cold load costs about
#: ten cached ones in CPU); a run makes at least one such round
WARM_PER_COLD = 3


class CubeCache(Workload):
    name = "cube_cache"
    unit = "chunks"
    round = WARM_PER_COLD + 1
    views = False
    #: no warm-up: the session's first cold load is the round's cold
    #: load, and the median of the cached loads leaves out the first
    warmup = 0

    def __init__(self, seed: int, cores: int):
        self.rng = np.random.default_rng(seed)
        self.seed = seed
        self.n_cubes = 0

    def make_data(self, d: str) -> None:
        pass  # the cube's blocks are generated by the engine's fill kernel

    def session_setup(self, b) -> None:
        from smart_geocubes_spark.accessor import arcticdem_like

        self.n_cubes += 1
        self.acc = arcticdem_like(b.spark, os.path.join(b.work, f"cube{self.n_cubes}"))
        with b.span("accessor.create"):
            self.acc.create()
        grid = self.acc.spec.grid
        self.grid = grid
        self.channels = list(self.acc.spec.channels)
        nbx, nby = grid.n_tiles_x // BW, grid.n_tiles_y // BH
        self.blocks = [(int(k) % nbx, int(k) // nbx) for k in self.rng.permutation(nbx * nby)]
        self.loaded_blocks: list[tuple[int, int]] = []
        self.cached: set[tuple[int, int]] = set()
        self.load_info: list[dict] = []

    def _bbox(self, x0: int, y0: int, x1: int, y1: int):
        """Tiles [x0, x1) x [y0, y1) as a bbox strictly inside their edges."""
        gb, t = self.grid.geobox, self.grid.tile_size
        e = t / 1000.0
        return (gb.x0 + x0 * t + e, gb.y0 - y1 * t + e, gb.x0 + x1 * t - e, gb.y0 - y0 * t - e)

    def _next_roi(self, i: int):
        if i % (WARM_PER_COLD + 1) == 0:
            bx, by = self.blocks[len(self.loaded_blocks)]
            x0, y0, x1, y1 = bx * BW, by * BH, (bx + 1) * BW, (by + 1) * BH
            done = set(self.loaded_blocks)
            sides = [s for s, nb in (("w", (bx - 1, by)), ("e", (bx + 1, by)),
                                     ("n", (bx, by - 1)), ("s", (bx, by + 1))) if nb in done]
            if sides:
                side = sides[int(self.rng.integers(len(sides)))]
                x0, x1 = x0 - (side == "w"), x1 + (side == "e")
                y0, y1 = y0 - (side == "n"), y1 + (side == "s")
            self.loaded_blocks.append((bx, by))
            return True, (x0, y0, x1, y1)
        bx, by = self.loaded_blocks[int(self.rng.integers(len(self.loaded_blocks)))]
        x0 = bx * BW + int(self.rng.integers(0, BW - WW + 1))
        y0 = by * BH + int(self.rng.integers(0, BH - WH + 1))
        return False, (x0, y0, x0 + WW, y0 + WH)

    def _lineage_batches(self) -> set:
        d = os.path.join(self.acc.path, "lineage")
        return {n for n in os.listdir(d) if n.startswith("batch=")} if os.path.isdir(d) else set()

    def request(self, b, i: int):
        cold, rect = self._next_roi(i)
        bbox = self._bbox(*rect)
        with b.span("geobox.roi_tiles"):
            tiles = {tuple(int(v) for v in t) for t in self.grid.tiles_overlapping_bbox(*bbox)}
        before = (self._lineage_batches(), _tree_size(self.acc.path) if b.traced else None)
        with b.span("accessor.load"):
            pdf = self.acc.load(bbox, persist=True)
        return cold, tiles, before, pdf

    def check(self, result) -> int:
        import pyarrow.parquet as pq

        from smart_geocubes_spark.plans.materialize import block_base_values

        cold, tiles, (batches, store), pdf = result
        missing = tiles - self.cached
        self.cached |= missing
        info = {"cold": cold, "candidates": len(tiles) * len(self.channels),
                "missing": len(missing) * len(self.channels)}
        if store is not None:
            after = _tree_size(self.acc.path)
            info["files"], info["bytes"] = after[0] - store[0], after[1] - store[1]
        self.load_info.append(info)
        written = sum(pq.read_table(os.path.join(self.acc.path, "lineage", d)).num_rows
                      for d in self._lineage_batches() - batches)
        _check(cold == bool(missing), "a cold ROI must hold missing tiles and a warm one none")
        _check(written == len(missing) * len(self.channels),
               f"load wrote {written} chunks, the grid is missing {len(missing)} tiles")
        got = sorted(zip(pdf["tile_x"], pdf["tile_y"], pdf["channel"]))
        _check(got == sorted((x, y, c) for x, y in tiles for c in self.channels),
               "returned chunks differ from the ROI's tiles")
        sample = pdf.iloc[:: max(1, len(pdf) // 4)]
        ramp = np.arange(len(sample["block"].iloc[0]), dtype=np.float64) * 0.5
        for base, ch, block in zip(block_base_values(sample), sample["channel"], sample["block"]):
            want = base + ramp
            if self.acc.spec.dtypes[self.channels.index(ch)] == "bool":
                want = (want != 0).astype(np.float64)
            _check(np.array_equal(np.asarray(block, dtype=np.float64), want),
                   "block values differ from block_base_values")
        return written

    def latency(self, ops) -> float:
        return _median(o["wall"] for o in ops if o["units"] == 0)

    def end_to_end(self, ops) -> dict:
        # a run makes at least one round: one cold load and the rest cached
        cold = [o for o in ops if o["units"] > 0]
        return {"request_cpu_s": _median(o["cpu"] for o in ops if o["units"] == 0),
                "throughput": sum(o["units"] for o in cold) / sum(o["cpu"] for o in cold)}

    def layers(self, b, log: tracing.EventLog) -> dict:
        spans = b.spans.spans
        funcs = tracing.FunctionIndex()

        def phase_of(j: tracing.Job) -> str:
            return tracing.materialize_phase(j, funcs)

        per_load = []
        for s, info in zip(_named(spans, "accessor.load"), self.load_info):
            jobs = tracing.jobs_of_span(log, s, spans)
            phases: dict[str, float] = {}
            first_collect = True
            for j, gap, dur in tracing.job_intervals(jobs, s["start"], s["end"]):
                ph = phase_of(j)
                if ph == "load.collect" and first_collect:
                    # listing, lineage prune and winner build in load()
                    phases["load.plan"] = phases.get("load.plan", 0.0) + gap
                    gap, first_collect = 0.0, False
                phases[ph] = phases.get(ph, 0.0) + gap + dur
            phases["tail"] = _dur(s) - sum(phases.values())
            es = tracing.engine_stats(log, [j for j in jobs if phase_of(j) == "load.collect"])
            per_load.append((info, phases, jobs, es, phase_of))
        cold = [p for p in per_load if p[0]["cold"]]
        m: dict[str, float] = {}
        for ph in ("plan", "count", "write", "commit"):
            m[f"materialize.{ph}_s"] = _median(p[1].get(f"materialize.{ph}", 0.0) for p in cold)
        m["materialize.jobs_per_fill"] = _median(
            sum(1 for j in p[2] if p[4](j).startswith("materialize")) for p in cold)
        cand = sum(p[0]["candidates"] for p in per_load)
        m["materialize.skip_ratio"] = sum(
            p[0]["candidates"] - p[0]["missing"] for p in per_load) / max(cand, 1)
        m["store.bytes_written_per_tile"] = _median(
            p[0]["bytes"] / max(p[0]["missing"] // len(self.channels), 1) for p in cold)
        m["store.files_per_fill"] = _median(p[0]["files"] for p in cold)
        m["load.plan_s"] = _median(p[1].get("load.plan", 0.0) for p in per_load)
        m["load.collect_s"] = _median(p[1].get("load.collect", 0.0) for p in per_load)
        m["load.scan_bytes_per_tile"] = _median(
            p[3].input_bytes / max(p[0]["candidates"] // len(self.channels), 1) for p in per_load)
        # the load wall not inside any job or the driver gap before one
        m["accessor.overhead_s"] = _median(p[1]["tail"] for p in per_load)
        m["geobox.roi_tiles_s"] = _median(_dur(s) for s in _named(spans, "geobox.roi_tiles"))
        return m


def _tree_size(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


# ---------------------------------------------------------------------------
# dedup_docs
# ---------------------------------------------------------------------------

#: corpus size: below 1000 the ids the dedup corpus injects (+1000
#: exact copies, +2000 truncated copies) never collide with real ones
N_DOCS = 400
DEDUP_QUERIES = ("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_clusters")


def components(pairs) -> dict[int, int]:
    """doc id -> least id of its connected component over ``pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, c in pairs:
        ra, rc = find(int(a)), find(int(c))
        if ra != rc:
            parent[max(ra, rc)] = min(ra, rc)
    return {x: find(x) for x in parent}


class DedupDocs(Workload):
    """On demand (``--workload dedup_docs``); the benchmark's webtext
    runs carry one pass of it as a probe when traced."""

    name = "dedup_docs"
    unit = "docs"

    def __init__(self, seed: int, cores: int):
        self.seed = seed
        self.rng = np.random.default_rng(seed)

    def make_data(self, d: str) -> None:
        data.write_tables(d, self.seed, n_orders=10, n_docs=N_DOCS)
        self.expect(d)

    def expect(self, d: str) -> None:
        """The three queries' rows on the tables in ``d``."""
        import pandas as pd

        import __spark_entry__ as entry
        from smart_geocubes_spark.testing import duckdb_connection

        oracles = entry.oracle_sql()
        con = duckdb_connection(d)
        try:
            self.expected = {q: con.execute(oracles[q]).df() for q in DEDUP_QUERIES[:2]}
        finally:
            con.close()
        cc = components(self.expected["dedup_minhash_lsh"][["id_a", "id_b"]].itertuples(index=False))
        self.expected["dedup_clusters"] = pd.DataFrame(
            {"doc_id": list(cc), "cluster_id": list(cc.values())}, dtype="int64")
        self.fns = entry.queries()

    def request(self, b, i: int):
        got = {}
        for q in (DEDUP_QUERIES[k] for k in self.rng.permutation(len(DEDUP_QUERIES))):
            with b.span(q):
                with b.span("dedup.build"):
                    df = self.fns[q](b.spark, b.data_dir)
                with b.span("dedup.collect"):
                    got[q] = df.toPandas()
        return got

    def check(self, got) -> int:
        from smart_geocubes_spark.testing import compare_frames

        for q, pdf in got.items():
            problems = compare_frames(pdf, self.expected[q])
            _check(not problems, f"{q}: {problems[:1]}")
        return N_DOCS

    def latency(self, ops) -> float:
        return _median(o["wall"] for o in ops)

    def end_to_end(self, ops) -> dict:
        return {"request_cpu_s": _median(o["cpu"] for o in ops),
                "throughput": N_DOCS * len(ops) / sum(o["cpu"] for o in ops)}

    def layers(self, b, log: tracing.EventLog) -> dict:
        spans = b.spans.spans
        # its own requests, or the one a traced run added as a probe
        top = "op" if b.workload is self else self.name
        ops = [s for s in spans if s["parent"] is None and s["name"] == top]
        build, eager, shuffle, mem = [], [], [], 0
        for op in ops:
            bs = [s for s in spans if s["op"] == op["op"] and s["name"] == "dedup.build"]
            bjobs = [j for s in bs for j in tracing.jobs_of_span(log, s, spans)]
            es = tracing.engine_stats(log, tracing.jobs_of_span(log, op, spans))
            build.append(sum(_dur(s) for s in bs))
            eager.append(len(bjobs))
            shuffle.append(es.shuffle_write_bytes)
            mem = max(mem, es.peak_exec_mem_bytes)
        return {"dedup.build_s": _median(build), "dedup.eager_jobs": _median(eager),
                "dedup.shuffle_write_bytes": _median(shuffle),
                "dedup.peak_exec_mem_bytes": float(mem)}


WORKLOADS = {w.name: w for w in (WebtextJoin, CubeCache, DedupDocs)}
