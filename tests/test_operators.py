"""Operator-level unit tests beyond the DuckDB oracle gate."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from smart_geocubes_spark.operators.geoparse import geoparsed_points
from smart_geocubes_spark.operators.knn import knn_join
from smart_geocubes_spark.operators.prep import prep_pages
from smart_geocubes_spark.operators.skew import salted_count_sum
from smart_geocubes_spark.sources.synth import pages_df
from smart_geocubes_spark.text.extract import extract_text

SF = "/root/testdata/sf0.001"


class TestKNN:
    def test_exact_vs_bruteforce(self, spark):
        """Ring-expansion kNN == numpy brute force on every query,
        including sparse neighborhoods that exercise the fallback."""
        rng = np.random.default_rng(11)
        pts_pdf = pd.DataFrame(
            {
                "point_id": np.arange(3000),
                "lon": rng.uniform(-20, 20, 3000),
                "lat": rng.uniform(60, 80, 3000),
            }
        )
        # queries: some dense, some far outside the point cloud (force fallback)
        q_pdf = pd.DataFrame(
            {
                "qid": np.arange(8),
                "qx": [0.0, 5.0, -10.0, 19.0, 150.0, -170.0, 0.5, 3.3],
                "qy": [65.0, 70.0, 75.0, 61.0, 70.0, 62.0, 79.9, 60.1],
            }
        )
        got = knn_join(
            spark, spark.createDataFrame(pts_pdf), q_pdf, k=5, cell_deg=0.5, radius_cells=2
        ).toPandas()
        for _, q in q_pdf.iterrows():
            d2 = (pts_pdf["lon"] - q.qx) ** 2 + (pts_pdf["lat"] - q.qy) ** 2
            order = np.lexsort((pts_pdf["point_id"].to_numpy(), d2.to_numpy()))
            want = pts_pdf["point_id"].to_numpy()[order][:5]
            g = got[got.qid == q.qid].sort_values("rank")["neighbor_id"].to_numpy()
            assert (g == want).all(), f"qid {q.qid}"

    def test_k_larger_than_candidates(self, spark):
        pts = spark.createDataFrame(
            pd.DataFrame({"point_id": [1, 2], "lon": [0.0, 1.0], "lat": [70.0, 70.0]})
        )
        q = pd.DataFrame({"qid": [0], "qx": [0.1], "qy": [70.0]})
        got = knn_join(spark, pts, q, k=5).toPandas()
        assert len(got) == 2  # only 2 points exist


class TestPrepKernel:
    def test_prep_matches_individual_operators(self, spark):
        """Fused kernel == composition of geoparse + extract + cell."""
        pages = pages_df(spark, SF).select("page_id", "url", "html", "warc_epoch", "host_id")
        fused = prep_pages(pages).select("page_id", "lat", "lon", "text_len").toPandas()
        pts = geoparsed_points(pages).select("page_id", "lat", "lon").toPandas()
        a = fused.sort_values("page_id").reset_index(drop=True)
        b = pts.sort_values("page_id").reset_index(drop=True)
        assert (a["page_id"] == b["page_id"]).all()
        assert np.array_equal(a["lat"].to_numpy(), b["lat"].to_numpy())
        assert np.array_equal(a["lon"].to_numpy(), b["lon"].to_numpy())

    # (url, what it checks) — each parsed as Spark SQL's regexp_extract does
    EDGE_URLS = [
        ("https://h/geo/-0,-0/p", "-0 parses to +0.0"),
        ("https://h/geo/0070000,-000123/p", "leading zeros"),
        ("https://h/geo/٣٤,5/p", "non-ASCII digits: no match"),
        ("https://h/geo/٣,5/geo/7,8/p", "non-ASCII digits, then an ASCII match"),
        ("https://h/geo/1,2/geo/3,4/p", "two /geo/ segments: the first wins"),
        ("https://h/geo/12,x/geo/-5,6/p", "a broken segment, then a match"),
        ("https://h/about/p", "no geo"),
        (None, "null url"),
    ]

    def test_prep_parse_edge_cases_match_regexp_extract(self, spark):
        """The fused kernel's RE2 parse == the JVM's regexp_extract +
        CAST AS BIGINT / 100000.0, bit for bit (lat/lon viewed as int64)."""
        from smart_geocubes_spark.operators.geoparse import _GEO_URL_RE
        from smart_geocubes_spark.sources import local_frame

        pdf = pd.DataFrame({
            "page_id": np.arange(len(self.EDGE_URLS), dtype=np.int64),
            "url": [u for u, _ in self.EDGE_URLS],
            "html": [b"<p>x</p>"] * len(self.EDGE_URLS),
            "warc_epoch": np.zeros(len(self.EDGE_URLS), dtype=np.int64),
        })
        pages = local_frame(spark, pdf, "page_id long, url string, html binary, warc_epoch long")
        got = prep_pages(pages).select("page_id", "lat", "lon").toPandas()
        la, lo = (F.regexp_extract("url", _GEO_URL_RE, g) for g in (1, 2))
        want = (
            pages.filter((la != "") & (lo != ""))
            .select("page_id",
                    (la.cast("bigint") / F.lit(100000.0)).alias("lat"),
                    (lo.cast("bigint") / F.lit(100000.0)).alias("lon"))
            .toPandas()
        )
        got, want = (d.sort_values("page_id").reset_index(drop=True) for d in (got, want))
        assert got["page_id"].tolist() == want["page_id"].tolist() == [0, 1, 3, 4, 5]
        for c in ("lat", "lon"):
            assert np.array_equal(got[c].to_numpy().view(np.int64), want[c].to_numpy().view(np.int64)), c

    def test_prep_batch_without_geo_rows_is_typed_and_empty(self, spark):
        from pyspark.sql.pandas.types import from_arrow_schema

        from smart_geocubes_spark.operators.prep import PREP_SCHEMA, _prep_batches
        from smart_geocubes_spark.sources import local_frame

        batch = pa.RecordBatch.from_pydict(
            {"page_id": [1, 2], "url": ["https://h/about/1", None],
             "html": [b"<p>a</p>", None], "warc_epoch": [0, 0]},
            schema=pa.schema([("page_id", pa.int64()), ("url", pa.string()),
                              ("html", pa.binary()), ("warc_epoch", pa.int64())]),
        )
        (out,) = list(_prep_batches(iter([batch])))
        assert out.num_rows == 0 and out.schema == PREP_SCHEMA
        pages = local_frame(spark, batch.to_pandas(), "page_id long, url string, html binary, warc_epoch long")
        df = prep_pages(pages)
        assert df.collect() == []
        assert df.schema == from_arrow_schema(PREP_SCHEMA)

    def test_fused_tile_and_norm_udfs_match_column_api(self, spark):
        """The url-fused kernels (make_geoparse_tile_udf /
        make_geoparse_norm_lon_udf) must agree bit-for-bit with the
        general lon/lat-COLUMN operators (make_tile_udf /
        normalize_lon_udf) composed after geoparse — the column API is
        what a reference user with existing coordinate columns calls."""
        from smart_geocubes_spark.geo.geobox import polar_3413_grid
        from smart_geocubes_spark.operators.tiles import (
            make_geoparse_norm_lon_udf,
            make_geoparse_tile_udf,
            make_tile_udf,
            normalize_lon_udf,
        )

        grid = polar_3413_grid()
        pages = pages_df(spark, SF).select("page_id", "url")
        pts = geoparsed_points(pages.withColumn("warc_epoch", F.lit(0)).withColumn("host_id", F.lit(0)))

        fused = (
            pages.select("page_id", make_geoparse_tile_udf(grid, "EPSG:3413")(F.col("url")).alias("t"))
            .filter(F.col("t.has"))
            .select("page_id", F.col("t.tile_id").alias("tile_id"), "t.px", "t.py")
            .toPandas().sort_values("page_id").reset_index(drop=True)
        )
        col = (
            pts.select("page_id", make_tile_udf(grid, "EPSG:3413")(F.col("lon"), F.col("lat")).alias("t"))
            .select("page_id", F.col("t.tile_id").alias("tile_id"), "t.px", "t.py")
            .toPandas().sort_values("page_id").reset_index(drop=True)
        )
        assert np.array_equal(fused["page_id"].to_numpy(), col["page_id"].to_numpy())
        assert np.array_equal(fused["tile_id"].to_numpy(), col["tile_id"].to_numpy())
        assert np.array_equal(fused["px"].to_numpy(), col["px"].to_numpy())
        assert np.array_equal(fused["py"].to_numpy(), col["py"].to_numpy())

        fused_n = (
            pages.select("page_id", make_geoparse_norm_lon_udf()(F.col("url"), F.lit(360.0)).alias("g"))
            .filter(F.col("g.has"))
            .select("page_id", F.col("g.lon_norm").alias("lon_norm"))
            .toPandas().sort_values("page_id").reset_index(drop=True)
        )
        col_n = (
            pts.select("page_id", normalize_lon_udf()(F.col("lon") + F.lit(360.0)).alias("lon_norm"))
            .toPandas().sort_values("page_id").reset_index(drop=True)
        )
        assert np.array_equal(fused_n["lon_norm"].to_numpy(), col_n["lon_norm"].to_numpy())

    def test_text_byte_identical_per_url(self, spark):
        """input_hint invariant: extracted text is a pure function of the
        html — re-extraction gives byte-identical output, and it matches
        the generator's text column."""
        pdf = pages_df(spark, SF).select("page_id", "html", "text").limit(500).toPandas()
        for _, r in pdf.iterrows():
            t1 = extract_text(bytes(r.html))
            t2 = extract_text(bytes(r.html))
            assert t1 == t2 == r.text, f"page {r.page_id}"


class TestSkew:
    def test_salted_agg_equals_plain(self, spark):
        pages = pages_df(spark, SF).select("page_id", "host_id")
        got = salted_count_sum(pages, "host_id", "page_id", n_salts=16, sum_col="page_id")
        want = pages.groupBy("host_id").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("page_id").cast("long").alias("sum_page_id"),
        )
        g = {r.host_id: (r.n, r.sum_page_id) for r in got.collect()}
        w = {r.host_id: (r.n, r.sum_page_id) for r in want.collect()}
        assert g == w

class TestMultimodal:
    def test_real_codec_seam_raises(self, spark):
        from smart_geocubes_spark.operators.multimodal import (
            decode_image_stats,
            media_table,
        )

        media = media_table(spark, 3, "image").withColumn("fmt", F.lit("jpeg"))
        with pytest.raises(Exception, match="NotImplementedError|real codec"):
            decode_image_stats(media).collect()

    def test_bmp_roundtrip_padding_and_row_order(self, spark):
        """The registered BMP parser decodes REAL header bytes: padded
        rows (width not a multiple of 4), bottom-up storage, and the
        explicit top-down (negative height) variant."""
        import struct

        import numpy as np

        from smart_geocubes_spark.operators.multimodal import (
            decode_bmp_gray8,
            encode_bmp_gray8,
        )

        w, h = 5, 3  # stride 8 -> 3 pad bytes per row
        px = (np.arange(w * h) * 29 % 256).astype(np.uint8)
        payload = encode_bmp_gray8(w, h, px)
        assert payload[:2] == b"BM"
        gw, gh, gpx = decode_bmp_gray8(payload)
        assert (gw, gh) == (w, h) and (gpx == px).all()
        # top-down variant: flip height sign and row order in the body
        (offset,) = struct.unpack_from("<I", payload, 10)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, -h, 1, 8, 0, 8 * h, 2835, 2835, 256, 0
        )
        stride = 8
        body = payload[offset:]
        flipped = b"".join(
            body[y * stride : (y + 1) * stride] for y in range(h - 1, -1, -1)
        )
        td = payload[:14] + dib + payload[54:offset] + flipped
        gw, gh, gpx = decode_bmp_gray8(td)
        assert (gw, gh) == (w, h) and (gpx == px).all()

    def test_wav_roundtrip_chunk_walk(self, spark):
        import numpy as np

        from smart_geocubes_spark.operators.multimodal import (
            decode_wav_pcm16,
            encode_wav_pcm16,
        )

        s = np.array([0, 1, -1, 32767, -32768, 123], dtype=np.int16)
        n, got = decode_wav_pcm16(encode_wav_pcm16(s))
        assert n == 6 and (got == s.astype(np.int64)).all()
        # odd-sized leading chunk exercises word alignment in the walk
        import struct

        extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
        payload = encode_wav_pcm16(s)
        with_extra = payload[:12] + extra + payload[12:]
        n, got = decode_wav_pcm16(with_extra)
        assert n == 6 and (got == s.astype(np.int64)).all()

    def test_bmp_and_wav_dispatch_match_raw(self, spark):
        """The seam routes real container files through the registered
        decoders inside the Spark kernels — results must equal the RAW
        path bit-for-bit."""
        from smart_geocubes_spark.operators.multimodal import (
            audio_features,
            decode_image_stats,
            media_table,
        )

        raw = decode_image_stats(media_table(spark, 8, "image")).toPandas()
        bmp = decode_image_stats(media_table(spark, 8, "image", fmt="bmp")).toPandas()
        assert raw.sort_values("media_id").equals(bmp.sort_values("media_id"))
        araw = audio_features(media_table(spark, 8, "audio")).toPandas()
        awav = audio_features(media_table(spark, 8, "audio", fmt="wav")).toPandas()
        assert araw.sort_values("media_id").equals(awav.sort_values("media_id"))

    def test_roundtrip_resize_halves_dims(self, spark):
        from smart_geocubes_spark.operators.multimodal import (
            image_dims,
            media_table,
            resize_image_halve,
        )

        out = resize_image_halve(media_table(spark, 10, "image")).toPandas()
        for _, r in out.iterrows():
            w, h = image_dims(int(r.media_id))
            assert (r.width, r.height) == (w // 2, h // 2)


class TestPagesContract:
    def test_mandated_schema(self, spark):
        """input_hint: (url:string, warc_ts:timestamp, html:binary,
        text:string, lang:string)."""
        df = pages_df(spark, SF)
        types = dict(df.dtypes)
        assert types["url"] == "string"
        assert types["warc_ts"] == "timestamp"
        assert types["html"] == "binary"
        assert types["text"] == "string"
        assert types["lang"] == "string"

    def test_dropped_views_are_registered_again(self, spark):
        """The per-session registration cache is checked against the
        catalog, not trusted from its conf key: a dropped base view (or
        the spread ``orders`` view) is registered again by the next call
        with the same ``sf_dir``."""
        from smart_geocubes_spark.sources.synth import ensure_base_views

        ensure_base_views(spark, SF)
        spark.catalog.dropTempView("orders")
        ensure_base_views(spark, SF)
        assert spark.table("orders").limit(1).count() == 1
        pages_df(spark, SF, parallelism=2)
        spark.catalog.dropTempView("orders_spread")
        assert pages_df(spark, SF, parallelism=2).limit(1).count() == 1

    @pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
    def test_views_register_with_spark_schemas_and_no_job(self, spark, sf):
        """A view registration reads each table's schema from its footer
        on the driver: the schema Spark's own inference gives (a
        timestamp without a time zone is TIMESTAMP_NTZ), and no Spark
        job — inference runs one per table."""
        from smart_geocubes_spark.sources.synth import TABLES, ensure_base_views
        from smart_geocubes_spark.testing import spark_jobs

        sf_dir = f"/root/testdata/{sf}"
        for t in (*TABLES, "orders_spread"):
            spark.catalog.dropTempView(t)
        with spark_jobs(spark) as jobs:
            ensure_base_views(spark, sf_dir)
            pages_df(spark, sf_dir, parallelism=2)
        assert not jobs, jobs
        for t in TABLES:
            assert spark.table(t).schema == spark.read.parquet(f"{sf_dir}/{t}.parquet").schema, t

    def test_skew_clusters_exist(self, spark):
        """~30% of geo pages live in 3 dense clusters (FIXTURES.md)."""
        pts = geoparsed_points(
            pages_df(spark, SF).select("page_id", "url", "warc_epoch", "host_id")
        )
        n = pts.count()
        in_c = pts.filter(
            ((F.col("lat").between(65.0, 65.5)) & (F.col("lon").between(-150.0, -149.5)))
            | ((F.col("lat").between(70.0, 70.5)) & (F.col("lon").between(20.0, 20.5)))
            | ((F.col("lat").between(78.0, 78.5)) & (F.col("lon").between(100.0, 100.5)))
        ).count()
        assert 0.25 < in_c / n < 0.35


class TestEmbeddingNeardup:
    def test_blockgrid_equals_allpairs(self, spark):
        """The distributed block-grid GEMM join must return EXACTLY the
        all-pairs theta-join's pairs (it is exact by construction — the
        grid covers every block pair once)."""
        from smart_geocubes_spark.operators.similarity import (
            embedding_neardup_pairs,
            embedding_neardup_pairs_allpairs,
        )
        from smart_geocubes_spark.queries import ensure_base_views

        ensure_base_views(spark, "/root/testdata/sf0.01")
        emb = spark.table("embeddings")
        got = sorted(
            map(tuple, embedding_neardup_pairs(spark, emb, tau=0.45).collect())
        )
        want = sorted(
            map(tuple, embedding_neardup_pairs_allpairs(spark, emb, tau=0.45).collect())
        )
        assert got == want and len(got) > 0

    def test_blockgrid_odd_block_count(self, spark):
        """Same equivalence when n_blocks doesn't divide the table."""
        from smart_geocubes_spark.operators.similarity import (
            embedding_neardup_pairs,
            embedding_neardup_pairs_allpairs,
        )
        from smart_geocubes_spark.queries import ensure_base_views

        ensure_base_views(spark, "/root/testdata/sf0.01")
        emb = spark.table("embeddings")
        got = sorted(
            map(tuple, embedding_neardup_pairs(spark, emb, tau=0.45, n_blocks=7).collect())
        )
        want = sorted(
            map(tuple, embedding_neardup_pairs_allpairs(spark, emb, tau=0.45).collect())
        )
        assert got == want

    def test_empty_residue_class_emits_no_phantom_pairs(self, spark):
        """An off-diagonal grid pair (bi, bj) whose bj residue class is
        EMPTY (sparse/filtered vec_ids) carries only side-0 rows; the
        kernel must emit nothing for it — not re-emit block bi's intra
        pairs (the diagonal is identified by bi == bj, never by side-1
        emptiness)."""
        from pyspark.sql import functions as F

        from smart_geocubes_spark.operators.similarity import (
            embedding_neardup_pairs,
            embedding_neardup_pairs_allpairs,
        )
        from smart_geocubes_spark.queries import ensure_base_views

        ensure_base_views(spark, "/root/testdata/sf0.01")
        emb = spark.table("embeddings").filter(F.col("vec_id") % 7 != 3)
        got = sorted(
            map(tuple, embedding_neardup_pairs(spark, emb, tau=0.45, n_blocks=7).collect())
        )
        want = sorted(
            map(tuple, embedding_neardup_pairs_allpairs(spark, emb, tau=0.45).collect())
        )
        assert got == want and len(got) > 0


class TestDedupClustersAdversarial:
    """Pin the convergence contract of iterative min-label propagation:
    O(diameter) rounds, and a RAISE (never silently-wrong labels) when a
    component's diameter exceeds max_iter."""

    def test_long_chain_past_max_iter_raises_then_converges(self, spark):
        import pytest

        from smart_geocubes_spark.operators.dedup import dedup_clusters

        n = 12  # path graph 0-1-...-12, diameter 12
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup_clusters(spark, pairs, max_iter=3)
        out = {
            (r.doc_id, r.cluster_id)
            for r in dedup_clusters(spark, pairs, max_iter=n + 1).collect()
        }
        assert out == {(i, 0) for i in range(n + 1)}

    def test_wide_star_converges_in_constant_rounds(self, spark):
        from smart_geocubes_spark.operators.dedup import dedup_clusters

        pairs = spark.createDataFrame(
            [(0, i) for i in range(1, 60)], "id_a long, id_b long"
        )
        # diameter 2: must converge well under the width of the star
        out = {
            (r.doc_id, r.cluster_id)
            for r in dedup_clusters(spark, pairs, max_iter=3).collect()
        }
        assert out == {(i, 0) for i in range(60)}


class TestSimhashParams:
    def test_bands_must_divide_bits(self, spark):
        import pytest

        from smart_geocubes_spark.operators.dedup import simhash_neardup

        with pytest.raises(AssertionError, match="divide"):
            simhash_neardup(spark, max_hamming=2, n_bands=5, n_bits=16)


class TestDistanceJoinSelfExclusion:
    def test_exclude_self_flag(self, spark):
        """Default drops point_id == qid (shared-id-space self-join);
        exclude_self=False keeps a coincidental id match from unrelated
        id spaces."""
        from smart_geocubes_spark.operators.knn import distance_join

        points = spark.createDataFrame(
            [(1, 0.0, 0.0)], "point_id long, lon double, lat double"
        )
        queries = spark.createDataFrame(
            [(1, 0.1, 0.0)], "qid long, qx double, qy double"
        )
        assert distance_join(points, queries, radius=0.5).count() == 0
        got = distance_join(
            points, queries, radius=0.5, exclude_self=False
        ).collect()
        assert [(r.qid, r.point_id) for r in got] == [(1, 1)]


class TestPyramidOverview:
    def test_iterated_pool_equals_direct_mean(self, spark):
        """Iterated 2x2 pooling must equal the direct 2^L x 2^L mean
        (exact for the dyadic block values) — checked against a
        brute-force numpy pooling of the same closed-form block."""
        import numpy as np

        from smart_geocubes_spark.operators.zonal import pyramid_overview
        from smart_geocubes_spark.queries import GRID, ZONAL_ROIS

        out = pyramid_overview(
            spark, GRID, [ZONAL_ROIS[0]], ["dem"], levels=[1, 2]
        ).toPandas()
        W = GRID.chunk_px
        ramp = np.arange(W * W, dtype=np.float64) * 0.5
        for _, r in out.iterrows():
            ty, tx = divmod(int(r.tile_id), GRID.n_tiles_x)
            g = (ty * 1000.0 + tx + ramp).reshape(W, W)
            k = 1 << int(r.level)
            direct = g.reshape(W // k, k, W // k, k).mean(axis=(1, 3))
            assert r.n_px == (W // k) ** 2
            assert int(r.sum_x32) == int(round(direct.sum() * 32))


class TestPolygonZonal:
    def test_rectangle_polygon_equals_closed_form(self, spark):
        """INDEPENDENT check of the in-codegen PIP mask: for an
        axis-aligned rectangle polygon, pixel-center membership is
        plain comparisons — no ray cast, no shared generator — so a
        bug common to the numpy kernel and the SQL mirror cannot hide
        here."""
        import numpy as np

        from smart_geocubes_spark.operators.zonal import polygon_zonal_stats
        from smart_geocubes_spark.queries import GRID

        # rectangle straddling tile borders: lon [-9.3, -6.6], lat [62.4, 64.2]
        rect = [(-9.3, 62.4), (-6.6, 62.4), (-6.6, 64.2), (-9.3, 64.2)]
        out = polygon_zonal_stats(spark, GRID, rect, ["dem"]).toPandas()
        W = GRID.chunk_px
        gb = GRID.geobox
        ramp = np.arange(W * W, dtype=np.float64) * 0.5
        checked = 0
        for ty in range(GRID.n_tiles_y):
            for tx in range(GRID.n_tiles_x):
                cols = gb.x0 + (tx * W + np.arange(W) + 0.5) * gb.res
                rows_y = gb.y0 - (ty * W + np.arange(W) + 0.5) * gb.res
                in_x = (cols > -9.3) & (cols < -6.6)
                in_y = (rows_y > 62.4) & (rows_y < 64.2)
                n_in = int(in_x.sum()) * int(in_y.sum())
                sel = out[out.tile_id == ty * GRID.n_tiles_x + tx]
                if n_in == 0:
                    assert len(sel) == 0
                    continue
                mask = (in_y[:, None] & in_x[None, :]).ravel()
                vals = ty * 1000.0 + tx + ramp
                assert len(sel) == 1
                assert int(sel.n_in.iloc[0]) == n_in
                assert int(sel.sum_x2.iloc[0]) == int(vals[mask].sum() * 2)
                checked += 1
        assert checked == len(out) > 0

    def test_store_path_equals_synthetic_path(self, spark, tmp_path):
        """polygon_zonal_stats_cube over a REAL filled cube returns
        exactly what the synthetic-block path returns for the same
        polygon — the store round-trip (typed or not) is lossless and
        the mask math is one definition."""
        from smart_geocubes_spark.operators.zonal import (
            polygon_zonal_stats,
            polygon_zonal_stats_cube,
        )
        from smart_geocubes_spark.plans.materialize import (
            CubeSpec,
            create_cube,
            materialize,
        )
        from smart_geocubes_spark.queries import GRID, _POLY_ROI

        path = str(tmp_path / "pzcube")
        create_cube(
            path,
            CubeSpec(
                grid=GRID,
                channels=("dem", "slope"),
                dtypes=("float32", "float64"),
                time_epochs=None,
            ),
        )
        materialize(spark, path, _POLY_ROI)
        got = sorted(
            map(tuple, polygon_zonal_stats_cube(spark, path, _POLY_ROI).collect())
        )
        want = sorted(
            map(
                tuple,
                polygon_zonal_stats(spark, GRID, _POLY_ROI, ["dem", "slope"]).collect(),
            )
        )
        assert got == want and len(got) > 0

    def test_cube_zonal_is_valid_aware_on_partial_chunks(self, spark, tmp_path):
        """r6 correctness fix (advisor item #2): on a PARTIALLY covered
        chunk (patch fill) the polygon fold must skip NULL/NaN holes —
        previously sum_x2 came back NULL (NULL propagates through the
        aggregate) and n_in counted no-data pixels as inside."""
        import numpy as np

        from smart_geocubes_spark.operators.zonal import polygon_zonal_stats_cube
        from smart_geocubes_spark.plans.materialize import (
            CubeSpec,
            create_cube,
            materialize_patch,
        )
        from tests.test_materialize import SMALL_GRID

        path = str(tmp_path / "pz_partial")
        create_cube(
            path, CubeSpec(grid=SMALL_GRID, channels=("dem",), time_epochs=None)
        )
        # fill only the LEFT half of tile (tx=2, ty=3): x in [2.0, 2.5)
        materialize_patch(spark, path, (2.0, 16.0, 2.5, 17.0), "p_left")
        # polygon = the whole tile footprint; half its pixels are holes
        poly = [(2.0, 16.0), (3.0, 16.0), (3.0, 17.0), (2.0, 17.0)]
        rows = polygon_zonal_stats_cube(spark, path, poly).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["sum_x2"] is not None, "NULL holes must not poison the fold"
        assert r["n_in"] == 100 * 50  # only the filled half counts
        # exact expected sum over the valid half: value = ty*1000+tx+0.5*i
        # for columns 0..49 of each row (patch has value_offset 0)
        i = np.arange(100 * 100).reshape(100, 100)
        vals = 3 * 1000.0 + 2 + 0.5 * i
        assert int(r["sum_x2"]) == int(vals[:, :50].sum() * 2)

    def test_wkt_accepted(self, spark):
        from smart_geocubes_spark.operators.zonal import polygon_zonal_stats
        from smart_geocubes_spark.queries import GRID

        a = polygon_zonal_stats(
            spark, GRID,
            "POLYGON ((-9.3 62.4, -6.6 62.4, -6.6 64.2, -9.3 64.2, -9.3 62.4))",
            ["dem"],
        )
        b = polygon_zonal_stats(
            spark, GRID,
            [(-9.3, 62.4), (-6.6, 62.4), (-6.6, 64.2), (-9.3, 64.2)],
            ["dem"],
        )
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


class TestAhoCorasick:
    def test_automaton_matches_bruteforce(self, spark):
        """Adversarial needle sets: overlapping needles, needles that
        are prefixes/suffixes/infixes of each other, failure-chain
        matches (a match reachable only via fail links)."""
        from smart_geocubes_spark.operators.decontam import (
            _contains_any,
            build_automaton,
        )

        needles = ["abc", "bcd", "c", "cab", "abcabd", "dab", "bb"]
        auto = build_automaton(needles)
        texts = [
            "xxabcxx", "xbcdx", "zzz", "cc", "ab", "abcab", "abcabd",
            "aabb", "dabc", "xyabcaby", "bbbb", "", "abcabcabd",
        ]
        for t in texts:
            assert _contains_any(auto, t) == any(n in t for n in needles), t
        # single-needle degenerate
        auto2 = build_automaton(["zz"])
        assert _contains_any(auto2, "azza") and not _contains_any(auto2, "az")
        # empty needle: contains(text, '') is TRUE in both engines, so
        # silently skipping it would diverge from the EXISTS/contains
        # oracle — the constructor must refuse loudly
        import pytest as _pytest

        with _pytest.raises(ValueError, match="empty needle"):
            build_automaton(["", "zz"])

    def test_dense_dfa_equals_csr_and_handles_utf8(self):
        """The executor-side dense DFA compile must agree with the CSR
        walk on adversarial needle sets, including multi-byte UTF-8
        needles (the automaton is byte-level; UTF-8 self-synchronization
        makes byte matches == char matches)."""
        from smart_geocubes_spark.operators.decontam import (
            _contains_any,
            _scan_dense,
            build_automaton,
            to_dense,
        )

        needles = ["abc", "bcd", "c", "cab", "abcabd", "dab", "bb", "héllo", "日本"]
        auto = build_automaton(needles)
        delta, outa = to_dense(auto)
        texts = [
            "xxabcxx", "xbcdx", "zzz", "cc", "ab", "abcab", "abcabd",
            "aabb", "dabc", "xyabcaby", "bbbb", "", "abcabcabd",
            "say héllo!", "héllx", "東京は日本の首都", "日本x", "日", "é",
        ]
        for t in texts:
            want = any(n in t for n in needles)
            assert _contains_any(auto, t) == want, t
            assert _scan_dense(delta, outa, t.encode("utf-8")) == want, t

    def test_ac_equals_exists_contains_on_corpus(self, spark):
        """The distributed AC pass must flag exactly the docs the JVM
        exists(contains) projection flags, on the same needle set."""
        from smart_geocubes_spark.operators.decontam import decontaminate_ac
        from smart_geocubes_spark.operators.dedup import corpus_df
        from smart_geocubes_spark.queries import ensure_base_views, q_decontaminate

        ensure_base_views(spark, "/root/testdata/sf0.01")
        corpus = corpus_df(spark)
        needles = [
            r[0]
            for r in spark.sql(
                "SELECT substr(text, 21, 40) FROM (SELECT doc_id, text FROM documents)"
                " WHERE doc_id % 97 = 0 AND length(text) >= 60"
            ).collect()
        ]
        got = {r.doc_id for r in decontaminate_ac(corpus, needles).collect()}
        want = {r.doc_id for r in q_decontaminate(spark, "/root/testdata/sf0.01").collect()}
        # q_decontaminate derives needles from the CORPUS (superset of
        # documents): every doc this AC run flags must be flagged there
        assert got and got <= want


class TestMinhashRecall:
    def test_more_bands_more_recall(self, spark):
        """LSH recall is a deployment knob: ground truth = exact Jaccard
        >= 0.5 over ALL shingle-sharing pairs; 8 hashes / 4 bands misses
        true pairs ((1-J^2)^4 ~ 10% at J=0.66), which is why the
        PRODUCTION DEFAULT is 16/8 — it must dominate 8/4 and capture
        (essentially) all of them."""
        from pyspark.sql import functions as F

        from smart_geocubes_spark.operators.dedup import (
            corpus_df,
            dedup_minhash_lsh,
            exact_jaccard,
            shingles,
        )
        from smart_geocubes_spark.queries import ensure_base_views

        ensure_base_views(spark, "/root/testdata/sf0.01")
        sh = shingles(corpus_df(spark))
        # complete candidate set: any pair sharing >=1 shingle (J>0
        # requires a shared shingle, so this is exhaustive)
        all_pairs = (
            sh.select(F.col("doc_id").alias("id_a"), "shingle")
            .join(sh.select(F.col("doc_id").alias("id_b"), "shingle"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        truth = {
            (r.id_a, r.id_b)
            for r in exact_jaccard(all_pairs, sh)
            .filter(F.col("n_inter") * 2 >= F.col("n_union"))
            .collect()
        }
        got_8_4 = {(r.id_a, r.id_b) for r in dedup_minhash_lsh(spark, 8, 4).collect()}
        got_16_8 = {(r.id_a, r.id_b) for r in dedup_minhash_lsh(spark).collect()}  # default 16/8
        assert truth, "fixture must contain true near-dups"
        assert got_8_4 <= truth and got_16_8 <= truth  # exact verify => no FPs
        assert len(got_16_8) >= len(got_8_4)
        assert len(got_16_8) / len(truth) >= 0.95


class TestAsofNearest:
    def _run(self, spark, axis_rows, ts_list):
        import pandas as pd

        from smart_geocubes_spark.operators.temporal import asof_nearest

        axis = spark.createDataFrame(
            pd.DataFrame(axis_rows, columns=["time_idx", "epoch"])
        ).selectExpr("CAST(time_idx AS INT) time_idx", "CAST(epoch AS LONG) epoch")
        ev = spark.createDataFrame(
            pd.DataFrame({"rid": range(len(ts_list)), "warc_epoch": ts_list})
        )
        out = asof_nearest(ev, axis).orderBy("rid").collect()
        return [r.time_idx for r in out]

    def test_exact_midpoint_snaps_earlier(self, spark):
        # midpoint of (100, 200) is 150: abs-tie -> smaller time_idx
        got = self._run(spark, [(0, 100), (1, 200)], [150, 149, 151, 100, 200, 0, 999])
        assert got == [0, 0, 1, 0, 1, 0, 1]

    def test_duplicate_epochs_take_min_idx(self, spark):
        # two axis rows share epoch 200 -> the window formulation picked
        # the smaller time_idx; the lookup must too
        got = self._run(spark, [(0, 100), (1, 200), (2, 200), (3, 300)], [199, 201, 251])
        assert got == [1, 1, 3]

    def test_single_step_axis(self, spark):
        got = self._run(spark, [(7, 500)], [0, 500, 10**9])
        assert got == [7, 7, 7]

    def test_duplicate_event_rows_preserved(self, spark):
        import pandas as pd

        from smart_geocubes_spark.operators.temporal import asof_nearest

        axis = spark.createDataFrame(
            pd.DataFrame({"time_idx": [0, 1], "epoch": [100, 200]})
        ).selectExpr("CAST(time_idx AS INT) time_idx", "CAST(epoch AS LONG) epoch")
        ev = spark.createDataFrame(pd.DataFrame({"warc_epoch": [120, 120, 120]}))
        assert asof_nearest(ev, axis).count() == 3


class TestIvf:
    def test_kernel_assignment_path_matches_literal(self, spark):
        """Forcing the Arrow-kernel assignment (max_literal_centroids=0)
        must reproduce the literal-argmax path's output exactly —
        fixture argmax margins dwarf float-order differences."""
        from smart_geocubes_spark.operators.similarity import ann_ivf_topk
        from smart_geocubes_spark.queries import ensure_base_views

        ensure_base_views(spark, "/root/testdata/sf0.01")
        emb = spark.table("embeddings")
        lit = sorted(map(tuple, ann_ivf_topk(spark, emb, k=5, nprobe=3).collect()))
        ker = sorted(
            map(
                tuple,
                ann_ivf_topk(
                    spark, emb, k=5, nprobe=3, max_literal_centroids=0
                ).collect(),
            )
        )
        assert lit == ker and len(lit) == 100

    def test_centroid_cap_raises(self, spark):
        from smart_geocubes_spark.operators.similarity import ann_ivf_topk
        from smart_geocubes_spark.queries import ensure_base_views

        ensure_base_views(spark, "/root/testdata/sf0.01")
        emb = spark.table("embeddings")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="centroid_mod"):
            ann_ivf_topk(spark, emb, centroid_mod=1, max_centroids=10)


class TestMergeAsofBy:
    def test_no_match_and_empty_table(self, spark):
        import pandas as pd

        from smart_geocubes_spark.operators.temporal import merge_asof_backward

        ev = spark.createDataFrame(
            pd.DataFrame({"grp": [0, 0, 1, 2], "ts": [50, 150, 150, 150]})
        )
        tab = spark.createDataFrame(
            pd.DataFrame({"grp": [0, 0, 1], "t": [100, 140, 200]})
        )
        got = {
            (r.grp, r.ts): r.asof_t
            for r in merge_asof_backward(ev, tab, "grp", "ts", "t").collect()
        }
        # ts=50 before any t in grp 0 -> null; ts=150 -> 140; grp 1 ts<200
        # -> null; grp 2 has no axis -> null
        assert got == {(0, 50): None, (0, 150): 140, (1, 150): None, (2, 150): None}

        empty = spark.createDataFrame(pd.DataFrame({"grp": [], "t": []}), "grp long, t long")
        out = merge_asof_backward(ev, empty, "grp", "ts", "t")
        assert [r.asof_t for r in out.collect()] == [None] * 4

    def test_null_and_nan_keys_ignored(self, spark):
        """A table row with a NULL or NaN key must be dropped (pandas
        merge_asof semantics), not crash plan building."""
        import pandas as pd

        from smart_geocubes_spark.operators.temporal import merge_asof_backward

        ev = spark.createDataFrame(pd.DataFrame({"grp": [0, 1], "ts": [150, 150]}))
        tab = spark.createDataFrame(
            pd.DataFrame({"grp": [0.0, None], "t": [100.0, 200.0]})
        )
        got = sorted((r.grp, r.asof_t) for r in
                     merge_asof_backward(ev, tab, "grp", "ts", "t").collect())
        assert got == [(0, 100), (1, None)]


class TestFocalMean3:
    """Halo-exchange focal op: brute-force parity on a tiny grid, and
    proof the halo genuinely changes interior chunk borders."""

    W = 2

    def _grid(self):
        from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid

        return TileGrid(
            geobox=GeoBox(crs="EPSG:4326", x0=0.0, y0=2.0, res=0.5, width=4, height=4),
            chunk_px=self.W,
        )

    def _brute(self, grid, roi):
        W = self.W
        t = grid.tiles_overlapping_bbox(*roi)
        r_lo, r_hi = t[:, 1].min() * W, (t[:, 1].max() + 1) * W - 1
        c_lo, c_hi = t[:, 0].min() * W, (t[:, 0].max() + 1) * W - 1

        def v2(R, C):
            return 2 * ((R // W) * 1000 + (C // W)) + (R % W) * W + (C % W)

        want = {}
        for R in range(r_lo, r_hi + 1):
            for C in range(c_lo, c_hi + 1):
                s = cnt = 0
                for dr in (-1, 0, 1):
                    for dc in (-1, 0, 1):
                        if r_lo <= R + dr <= r_hi and c_lo <= C + dc <= c_hi:
                            s += v2(R + dr, C + dc)
                            cnt += 1
                f = (36 // cnt) * s
                key = ((R // W) * grid.n_tiles_x + (C // W), "dem")
                e = want.setdefault(key, [0, 10**18, -(10**18)])
                e[0] += f
                e[1] = min(e[1], f)
                e[2] = max(e[2], f)
        return {k: tuple(v) for k, v in want.items()}

    def test_matches_brute_force(self, spark):
        from smart_geocubes_spark.operators.focal import focal_mean3_72

        grid = self._grid()
        roi = (0.1, 0.1, 1.9, 1.9)  # all 2x2 tiles
        got = {
            (r.tile_id, r.channel): (r.f72_sum, r.f72_min, r.f72_max)
            for r in focal_mean3_72(spark, grid, [roi], ["dem"]).collect()
        }
        assert got == self._brute(grid, roi)

    def test_halo_genuinely_crosses_chunk_borders(self, spark):
        """Without the exchange, every chunk would see a clipped kernel
        at ITS OWN border: f72 there uses cnt<9 and misses neighbor
        values. Assert the exchanged result differs from the
        chunk-local clipped computation on interior borders."""
        import numpy as np

        from smart_geocubes_spark.operators.focal import focal_mean3_72

        grid = self._grid()
        roi = (0.1, 0.1, 1.9, 1.9)
        got = {
            (r.tile_id, r.channel): r.f72_sum
            for r in focal_mean3_72(spark, grid, [roi], ["dem"]).collect()
        }
        # chunk-local clipped focal (no halo), tile (0,0)
        W = self.W
        v2 = np.arange(W * W, dtype=np.int64).reshape(W, W)  # base 0
        s = np.zeros((W, W), np.int64)
        cnt = np.zeros((W, W), np.int64)
        pad = np.zeros((W + 2, W + 2), np.int64)
        m = np.zeros((W + 2, W + 2), np.int64)
        pad[1:-1, 1:-1] = v2
        m[1:-1, 1:-1] = 1
        for dr in range(3):
            for dc in range(3):
                s += pad[dr : dr + W, dc : dc + W]
                cnt += m[dr : dr + W, dc : dc + W]
        local_sum = int(((36 // cnt) * s).sum())
        assert got[(0, "dem")] != local_sum  # halo changed the answer

    def test_cube_store_path_equals_synth_path(self, spark, tmp_path):
        """focal over REAL store blocks (load -> 2x doubling -> halo)
        equals focal over the synthetic generator on the same grid/ROI
        — the production read path produces the identical field."""
        from smart_geocubes_spark.operators.focal import (
            focal_mean3_72,
            focal_mean3_cube,
        )
        from smart_geocubes_spark.plans.materialize import (
            CubeSpec,
            create_cube,
            materialize,
        )

        grid = self._grid()
        roi = (0.1, 0.1, 1.9, 1.9)
        cube = str(tmp_path / "cube")
        create_cube(cube, CubeSpec(grid=grid, channels=("dem",), time_epochs=None))
        materialize(spark, cube, roi)
        got = {
            (r.tile_id, r.channel): (r.f72_sum, r.f72_min, r.f72_max)
            for r in focal_mean3_cube(spark, cube, roi).collect()
        }
        want = {
            (r.tile_id, r.channel): (r.f72_sum, r.f72_min, r.f72_max)
            for r in focal_mean3_72(spark, grid, [roi], ["dem"]).collect()
        }
        assert got == want and len(got) == 4

    def test_cube_path_keeps_time_steps_separate(self, spark, tmp_path):
        """time_idx is part of the halo group key: a temporal cube's
        steps never merge — each step reproduces the atemporal field
        (the synthetic block formula is time-invariant)."""
        from smart_geocubes_spark.operators.focal import (
            focal_mean3_72,
            focal_mean3_cube,
        )
        from smart_geocubes_spark.plans.materialize import (
            CubeSpec,
            create_cube,
            materialize,
        )

        grid = self._grid()
        roi = (0.1, 0.1, 1.9, 1.9)
        cube = str(tmp_path / "tcube")
        create_cube(
            cube,
            CubeSpec(grid=grid, channels=("dem",),
                     time_epochs=(1577836800, 1577923200)),
        )
        materialize(spark, cube, roi)
        got = focal_mean3_cube(spark, cube, roi).collect()
        assert len(got) == 8  # 4 tiles x 2 time steps, not merged
        assert {r.time_idx for r in got} == {0, 1}
        want = {
            (r.tile_id, r.channel): r.f72_sum
            for r in focal_mean3_72(spark, grid, [roi], ["dem"]).collect()
        }
        # the fill kernel shifts step t's field by a CONSTANT 10*t
        # (materialize "time shift so temporal chunks differ per
        # step"); focal mean of (v + 10t) = mean + 10t, so f72_sum
        # shifts by exactly 72*10*t per pixel = 720*t*W^2 per chunk
        for r in got:
            shift = 720 * r.time_idx * self.W * self.W
            assert r.f72_sum == want[(r.tile_id, r.channel)] + shift

    def test_cube_path_refuses_nan_blocks(self, spark, tmp_path):
        """Patch-filled cubes can carry NaN cells; the exact-BIGINT
        focal contract must refuse them loudly, not throw mid-plan
        under ANSI or silently zero without it."""
        from smart_geocubes_spark.operators.focal import focal_mean3_cube
        from smart_geocubes_spark.plans.materialize import (
            CubeSpec,
            create_cube,
            materialize_patch,
        )

        grid = self._grid()
        cube = str(tmp_path / "pcube")
        create_cube(cube, CubeSpec(grid=grid, channels=("dem",), time_epochs=None))
        # a patch covering only ONE pixel center of its tile -> the
        # other cells are NaN borders
        materialize_patch(spark, cube, (0.1, 0.1, 0.4, 0.4), "p0")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="NaN-free"):
            focal_mean3_cube(spark, cube, (0.1, 0.1, 0.4, 0.4))

    def test_mean_reduce_rejects_holes(self):
        """A non-rectangular region (missing diagonal neighbor) yields
        cnt=8 somewhere — the reduce must raise, never floor-divide."""
        import numpy as np
        import pytest as _pytest

        from smart_geocubes_spark.operators.focal import _mean72_reduce

        w = 2
        pad = np.zeros((w + 2, w + 2), dtype=np.int64)
        mask = np.zeros((w + 2, w + 2), dtype=np.int64)
        mask[1:-1, 1:-1] = 1
        # full halo EXCEPT one diagonal corner -> cnt=8 at that pixel
        mask[0, 1:] = 1
        mask[1:, 0] = 1
        mask[-1, 1:-1] = 1
        mask[1:-1, -1] = 1
        mask[-1, -1] = 1
        with _pytest.raises(ValueError, match="not a full rectangle"):
            _mean72_reduce(pad, mask, w)


def test_temporal_composite_stats_and_invalid_pixels(spark):
    """Lower-median/mean/min/max across time steps, per pixel, with
    NULL and NaN steps excluded; a pixel with no valid step is NULL."""
    import math

    from smart_geocubes_spark.operators.algebra import temporal_composite

    rows = [
        (0, 0, 0, "c", 0, [1.0, None, 7.0]),
        (0, 0, 0, "c", 1, [3.0, 5.0, float("nan")]),
        (0, 0, 0, "c", 2, [2.0, float("nan"), None]),
    ]
    df = spark.createDataFrame(
        rows,
        "tile_y long, tile_x long, tile_id long, channel string, "
        "time_idx int, block array<double>",
    )
    got = {
        s: temporal_composite(df, stat=s).collect()[0]["block"]
        for s in ("median", "mean", "min", "max")
    }
    assert got["median"] == [2.0, 5.0, 7.0]
    assert got["mean"] == [2.0, 5.0, 7.0]
    assert got["min"] == [1.0, 5.0, 7.0]
    assert got["max"] == [3.0, 5.0, 7.0]
    # even T: LOWER median, deterministic
    df4 = spark.createDataFrame(
        [(0, 0, 0, "c", t, [float(v)]) for t, v in enumerate([4.0, 1.0, 3.0, 2.0])],
        "tile_y long, tile_x long, tile_id long, channel string, "
        "time_idx int, block array<double>",
    )
    assert temporal_composite(df4, "median").collect()[0]["block"] == [2.0]
    # all-invalid pixel -> NULL
    dfn = spark.createDataFrame(
        [(0, 0, 0, "c", 0, [None, 1.0]), (0, 0, 0, "c", 1, [float("nan"), 2.0])],
        "tile_y long, tile_x long, tile_id long, channel string, "
        "time_idx int, block array<double>",
    )
    b = temporal_composite(dfn, "median").collect()[0]["block"]
    assert b[0] is None and b[1] == 1.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        temporal_composite(df, "mode")


class TestRareShinglePairs:
    """Pin the r6 single-shuffle codegen pair generation in
    dedup_ngram_jaccard against the rare-shingle co-occurrence
    DEFINITION, recomputed brute-force in Python."""

    def _sh(self, spark):
        # crafted df spectrum: s1 df=1 (excluded), s2 df=2, s3 df=5
        # (= RARE_DF, included), s4 df=6 (excluded), s5 df=2 repeating
        # a pair s2 already produced (distinct must collapse it)
        rows = (
            [(10, "s1")]
            + [(i, "s2") for i in (1, 2)]
            + [(i, "s3") for i in (1, 3, 4, 5, 6)]
            + [(i, "s4") for i in (1, 2, 3, 4, 5, 7)]
            + [(i, "s5") for i in (1, 2)]
        )
        return spark.createDataFrame(rows, "doc_id long, shingle string")

    def test_matches_bruteforce_definition(self, spark):
        from smart_geocubes_spark.operators.dedup import rare_shingle_pairs

        sh = self._sh(spark)
        got = {tuple(r) for r in rare_shingle_pairs(sh, max_df=5).collect()}
        by_shingle = {}
        for did, s in sh.collect():
            by_shingle.setdefault(s, set()).add(did)
        want = {
            (a, b)
            for ids in by_shingle.values()
            if 2 <= len(ids) <= 5
            for a in ids
            for b in ids
            if a < b
        }
        assert got == want
        assert (1, 2) in got and (10, 7) not in got  # df=1/df=6 excluded

    def test_single_shuffle_no_join(self, spark):
        """The pair generation must stay one groupBy + one distinct —
        no join anywhere (the pre-r6 shape had a df-count + rare join +
        rsh self-join)."""
        from smart_geocubes_spark.operators.dedup import rare_shingle_pairs

        plan = rare_shingle_pairs(self._sh(spark))._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert plan.count("Exchange") <= 2  # groupBy + distinct
