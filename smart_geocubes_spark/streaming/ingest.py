"""Streaming ingestion into the transactional cube store.

A Structured Streaming query over FILL REQUESTS (control-plane rows:
one bbox per row) drives the same ``materialize`` path batch fills
use, via ``foreachBatch``. The exactly-once story composes three
existing mechanisms rather than inventing a new one:

1. **Source side** — the streaming checkpoint: each request file is
   processed in exactly one micro-batch; an availableNow re-run with
   the same checkpoint processes nothing new.
2. **Sink side, replay** — a micro-batch replayed after a driver
   crash (sink ran, checkpoint commit didn't) re-enters
   ``materialize``, whose lineage cache skip sees every chunk already
   committed and skips the whole fill ("all cached"): chunk-level
   idempotency, independent of Spark's epoch bookkeeping.
3. **Sink side, mid-fill crash** — a fill that died between the block
   write and the commit ticket left ORPHAN block files that the
   min-batch_id read rule never surfaces; the replayed batch fills
   fresh under a new batch_id and ``vacuum`` reaps the orphans — the
   same crash contract ``tests/test_materialize.py`` pins for batch
   fills.

The reference's closest analog is the threaded loader's queue of
patch downloads feeding icechunk commits
(``/root/reference/src/smart_geocubes/backends/threaded.py``); here
the queue is a file stream and the commit is the store's atomic
ticket.

Scale shape: request rows are control-plane (a handful per trigger) —
the ``collect()`` is driver-trivial BY CONTRACT and guarded; the data
plane stays inside ``materialize``'s pinned-partition fill kernel.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from smart_geocubes_spark.plans.materialize import materialize, open_spec
from smart_geocubes_spark.toi import normalize_toi

# a micro-batch carrying more distinct ROIs than this is not a
# control-plane stream any more — fail loudly instead of silently
# collecting a data-sized frame onto the driver
MAX_REQUESTS_PER_BATCH = 10_000


def stream_fill_requests(
    spark: SparkSession,
    requests_parquet_dir: str,
    cube_path: str,
    checkpoint_dir: str,
    toi_epochs: list[int] | None = None,
) -> list[dict]:
    """Drain fill requests (rows: minx/miny/maxx/maxy) into the cube
    with availableNow, one ``materialize`` run per micro-batch.

    PER-REQUEST TOI (the reference's request unit is one (aoi, toi)
    call, ``core/accessor.py:331``): request rows may carry nullable
    ``toi_start`` / ``toi_end`` epoch columns. Each micro-batch is
    grouped by that pair; every group runs its own ``materialize``
    with the TOI normalized onto the cube axis via
    :func:`smart_geocubes_spark.toi.normalize_toi` (slice semantics —
    a null end is open). Rows with BOTH columns null — and every row
    of a stream without the columns — fall back to the
    ``toi_epochs`` argument, so pre-TOI request streams are
    unchanged.

    Returns the per-materialize summaries (trigger order, then TOI
    group order). Chunks requested by several batches are filled
    exactly once — later batches see them in lineage and skip.
    """
    schema = spark.read.parquet(requests_parquet_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(requests_parquet_dir)
    )
    spec = open_spec(cube_path)
    results: list[dict] = []

    def sink(batch_df, batch_id: int) -> None:
        toi_cols = [c for c in ("toi_start", "toi_end") if c in batch_df.columns]
        reqs = batch_df.select("minx", "miny", "maxx", "maxy", *toi_cols).distinct()
        rows = reqs.limit(MAX_REQUESTS_PER_BATCH + 1).collect()
        if len(rows) > MAX_REQUESTS_PER_BATCH:
            raise ValueError(
                f"micro-batch {batch_id} carries >{MAX_REQUESTS_PER_BATCH} "
                "distinct ROIs — not a control-plane request stream"
            )
        groups: dict[tuple, list[tuple]] = {}
        for r in rows:
            ts = r["toi_start"] if "toi_start" in toi_cols else None
            te = r["toi_end"] if "toi_end" in toi_cols else None
            groups.setdefault((ts, te), []).append((r.minx, r.miny, r.maxx, r.maxy))
        # deterministic group order: the default group first, then by bound
        for (ts, te) in sorted(
            groups, key=lambda k: (k != (None, None), k[0] or 0, k[1] or 0)
        ):
            if (ts, te) == (None, None):
                toi = toi_epochs
            else:
                toi = normalize_toi(spec.time_epochs, slice(ts, te))
            res = materialize(spark, cube_path, groups[(ts, te)], toi)
            results.append(
                {"stream_batch": int(batch_id), "toi_start": ts, "toi_end": te, **res}
            )

    q = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return results
