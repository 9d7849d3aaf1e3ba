"""Deduplication operators for training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle -> minhash -> band ->
bucket self-join -> exact-Jaccard verify), n-gram Jaccard with
rare-shingle candidate pruning, and SimHash signatures. These are the
web-scale complement of the geocube engine: the same
candidates -> refine -> lineage shape as the spatial join, applied to
text identity instead of geometry.

Scale design:
- shingling is JVM-side (``sequence`` + ``transform`` + ``explode`` —
  whole-stage codegen, no Python);
- MinHash uses ``min(md5(seed || shingle))`` per seed: a valid
  min-wise permutation family, pure built-ins, and bit-identical in
  the DuckDB oracle;
- the LSH self-join is an equi-join on (band_idx, band_key), so
  Catalyst hash-joins it; candidate count is O(true-pair-ish), never
  O(n^2);
- exact verify is an integer comparison (2*|∩| >= |∪| for tau=0.5) —
  no float thresholds to drift.

Documents fixture has no duplicates, so dedup queries run over a
``corpus`` with deterministically injected exact (+1000 ids) and
truncated near (+2000 ids) duplicates — same CTE in engine and oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# production default 16 hashes / 8 bands (2 rows per band): the recall
# test (tests/test_operators.py::TestMinhashRecall) measures 8/4 missing
# ~10% of true J>=0.5 pairs on the fixture while 16/8 captures >=95%.
N_MINHASH = 16
N_BANDS = 8  # 2 rows per band
SHINGLE = 12  # char 12-grams
RARE_DF = 5  # rare-shingle candidate threshold for ngram-jaccard

CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
UNION ALL
SELECT doc_id + 2000 AS doc_id,
       substr(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
FROM documents WHERE doc_id % 7 = 0
"""


def corpus_df(spark: SparkSession) -> DataFrame:
    """documents + injected exact/near duplicates (shared CTE)."""
    return spark.sql(CORPUS_SQL)


def shingles(corpus: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) char 12-grams — JVM-side higher-order
    functions, stays in codegen."""
    return corpus.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(length(text) - {SHINGLE - 1}, 1)),"
                f" i -> substring(text, i, {SHINGLE}))"
            )
        ).alias("shingle"),
    ).distinct()


def dedup_exact(corpus: DataFrame) -> DataFrame:
    """Exact dedup: hash groupBy on full text; keeper = min(doc_id)."""
    return corpus.groupBy("text").agg(
        F.min("doc_id").cast("long").alias("keeper_id"),
        F.count("*").cast("long").alias("n_copies"),
    ).select("keeper_id", "n_copies")


def minhash_signatures(sh: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """``n_hashes`` min-wise hashes per doc: min over
    md5('<seed>|' || shingle). Parameterized because recall is a
    deployment knob: 8 hashes / 4 bands misses ~(1-J^2)^4 of true pairs
    (10% at J=0.66), which is why the DEFAULT is 16/8 — see the
    tests/test_operators.py recall test that justified the flip."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    sig: DataFrame, n_hashes: int = N_MINHASH, n_bands: int = N_BANDS
) -> DataFrame:
    """Band the signatures (n_hashes/n_bands rows per band) and
    self-join on band key. Miss probability per true pair with Jaccard
    J is (1 - J^rows)^bands — tune (n_hashes, n_bands) to the corpus."""
    rows = n_hashes // n_bands
    assert rows * n_bands == n_hashes, "n_bands must divide n_hashes"
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat(*[F.col(f"h{rows * b + r}") for r in range(rows)])
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_key")
    # the self-join's two subtrees would otherwise EACH recompute the
    # whole signature pipeline (shingle explode + n_hashes md5-min
    # aggs) — CLAUDE.md rule 6: 2+ consumers -> localCheckpoint. The
    # banded frame is n_docs x n_bands rows (keys only), tiny to
    # materialize at any scale (r6, measured as part of the
    # minhash 17.3 -> 6.2 s win).
    bands = bands.localCheckpoint(eager=True)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def exact_jaccard(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (integer output:
    intersection + union sizes; thresholds compare integers).

    r6 (guide §3.2 "reduce the big side before shuffling it"): only
    docs that appear in a candidate pair can contribute a row to the
    intersection or be looked up in the size table, so the shingle
    table is semi-joined down to the candidate doc set FIRST — a
    broadcast of |2 x pairs| distinct ids (candidate sets are
    banding-bounded and small by design) replaces shuffling the FULL
    corpus shingle table through the (id_b, shingle) join and the
    sizes groupBy. Join output is unchanged (inner joins on pair ids
    could never match non-pair docs)."""
    # rule 6 inside the operator too: pairs feeds pair_docs (x2) + the
    # intersection join, and the semi-joined shingle frame feeds three
    # subtrees (sizes, both intersection sides) — un-checkpointed, the
    # candidate-generation join re-executed once per reference (first
    # cut of this prefilter showed the bands join replicated ~6x in
    # the plan). Both frames are candidate-sized.
    pairs = pairs.localCheckpoint(eager=True)
    pair_docs = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sh = sh.join(F.broadcast(pair_docs), "doc_id", "left_semi").localCheckpoint(
        eager=True
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # intersection via one join on shingle between the two sides
    sh_a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        pairs.join(sh_a, "id_a").join(sh_b, ["id_b", "shingle"]).groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_inter",
            (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("long").alias("n_union"),
        )
    )
    return out


def dedup_minhash_lsh(
    spark: SparkSession, n_hashes: int = N_MINHASH, n_bands: int = N_BANDS
) -> DataFrame:
    """Full MinHash-LSH dedup: near-dup pairs at Jaccard >= 0.5
    (verified exactly; LSH only generates candidates). Defaults are the
    production 16/8 (the recall test pins >= 95% capture at J=0.66; 8/4
    missed ~10%); the oracle SQL is built from the same N_MINHASH /
    N_BANDS constants, so defaults and oracle cannot diverge."""
    corpus = corpus_df(spark)
    # sh feeds FOUR subtrees (signatures, both exact-Jaccard sides, the
    # doc sizes) — un-checkpointed, each one re-ran the corpus scan +
    # shingle explode + distinct shuffle (CLAUDE.md rule 6). Measured
    # r6: 17.3 -> 6.2 s on identical output (min-of-2, local[32],
    # sf0.1).
    sh = shingles(corpus).localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(minhash_signatures(sh, n_hashes), n_hashes, n_bands)
    j = exact_jaccard(pairs, sh)
    return j.filter(F.col("n_inter") * 2 >= F.col("n_union")).select(
        "id_a", "id_b", "n_inter", "n_union"
    )


def rare_shingle_pairs(sh: DataFrame, max_df: int = RARE_DF) -> DataFrame:
    """Candidate pairs (id_a < id_b, distinct) of docs sharing >= 1
    shingle with document frequency in [2, max_df] — in ONE shuffle
    (r6): group shingle -> doc-id set; a rare group holds <= max_df
    ids, so its <= C(max_df, 2) ordered pairs are generated IN CODEGEN
    from the array. This replaced the previous df-count groupBy +
    sh-x-rare join + rsh self-join (three passes over the shingle
    rows). size(ids) equals a count(*) df because ``sh`` is
    (doc_id, shingle) DISTINCT (shingles() contract). Output proven
    row-identical; measured 13.4 -> 10.8 s min-of-3 interleaved at
    sf0.1 (and 2-3x in degraded reps)."""
    grouped = (
        sh.groupBy("shingle")
        .agg(F.collect_set("doc_id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_df))
    )
    return (
        grouped.select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(ids, a -> transform(ids, b -> "
                    "struct(a AS id_a, b AS id_b)))), p -> p.id_a < p.id_b)"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def dedup_ngram_jaccard(spark: SparkSession) -> DataFrame:
    """n-gram Jaccard near-dup with rare-shingle candidate pruning:
    candidates share >=1 shingle of document frequency <= RARE_DF,
    then exact Jaccard >= 0.3 (integer form 10*inter >= 3*union)."""
    corpus = corpus_df(spark)
    # sh feeds the pair generation and exact Jaccard (rule 6)
    sh = shingles(corpus).localCheckpoint(eager=True)
    pairs = rare_shingle_pairs(sh)
    j = exact_jaccard(pairs, sh)
    return j.filter(F.col("n_inter") * 10 >= F.col("n_union") * 3).select(
        "id_a", "id_b", "n_inter", "n_union"
    )


def simhash_neardup(
    spark: SparkSession, max_hamming: int = 3, n_bands: int = 4, n_bits: int = 16
) -> DataFrame:
    """SimHash near-dup pairs: docs whose 16-bit simhash signatures
    differ in <= ``max_hamming`` bits, WITHOUT an all-pairs join.

    Banding with a pigeonhole GUARANTEE (unlike MinHash banding, which
    is probabilistic): the signature is split into ``n_bands`` bit
    slices; a pair differing in <= n_bands-1 bits must agree on at
    least one whole band, so the band equi-join provably generates
    every qualifying candidate (requires max_hamming <= n_bands - 1,
    asserted). Exact verify = bit_count(xor) <= max_hamming. The oracle
    computes the ALL-PAIRS hamming join directly, so the gate checks
    the banding's completeness, not just self-consistency."""
    assert max_hamming <= n_bands - 1, "pigeonhole guarantee needs max_hamming < n_bands"
    width = n_bits // n_bands
    # bands must tile the signature exactly, or the top n_bits % n_bands
    # bits fall outside every band key (mirrors lsh_candidate_pairs)
    assert width * n_bands == n_bits, "n_bands must divide n_bits"
    sig = simhash_signatures(spark, n_bits)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("simhash"), width * b)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    # rule 6 again: both self-join sides would recompute the signature
    # pipeline (md5 + n_bits conditional sums per shingle row); the
    # banded frame is n_docs x n_bands small rows
    bands = bands.localCheckpoint(eager=True)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.filter(ham <= max_hamming).select(
        "id_a", "id_b", ham.cast("long").alias("hamming")
    )


def dedup_clusters(spark: SparkSession, pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components over near-dup pairs -> one canonical doc
    per duplicate CLUSTER (cluster_id = min doc_id reachable): the step
    that turns pairwise candidates into the keep/drop decision of a
    training-data pipeline.

    Iterative min-label propagation on DataFrames: each round every
    vertex takes the min of its own label and its neighbors' labels
    (one hash join + one groupBy per round); converges in O(component
    diameter) rounds — near-dup clusters are shallow (dozens of docs,
    diameter a few hops), so this is a handful of rounds even at 10^12
    docs. Each round is checkpointed via localCheckpoint to truncate
    the lineage (iterative plans otherwise grow unboundedly). This is
    plain min-label propagation, not large-star/small-star.
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    edges = edges.distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # labels still moving after max_iter rounds: emitting them would
        # be SILENTLY wrong (one component, several cluster_ids) — the
        # keep/drop decision downstream would keep duplicates.
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds — a "
            "component has diameter > max_iter; raise max_iter"
        )
    return labels.select(
        F.col("id").cast("long").alias("doc_id"), F.col("lbl").cast("long").alias("cluster_id")
    )


def simhash_signatures(spark: SparkSession, n_bits: int = 16) -> DataFrame:
    """SimHash over shingle md5s: bit j of the signature is the sign of
    sum(+-1) where +-1 comes from the parity of hex digit j of each
    shingle's md5. Pure built-ins (bit source = ascii(substr(md5,j,1))%2),
    identical in the oracle."""
    corpus = corpus_df(spark)
    sh = shingles(corpus).withColumn("h", F.md5("shingle"))
    bit_sums = sh.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.ascii(F.substring("h", j + 1, 1)) % 2 == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                )
            ).alias(f"s{j}")
            for j in range(n_bits)
        ]
    )
    sig = bit_sums.select(
        "doc_id",
        sum(
            (F.when(F.col(f"s{j}") > 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(1 << j))
            for j in range(n_bits)
        ).cast("long").alias("simhash"),
    )
    return sig


def prefix_superseded(
    docs: DataFrame, key_col: str = "dedup_key", bucket_chars: int = 4
) -> DataFrame:
    """Sort-neighbor prefix dedup: flag docs whose key is a prefix of
    the next key in sorted order.

    The O(n log n) alternative to an O(n^2) containment self-join: sort
    all keys; a key x is a (proper or equal) prefix of SOME other key
    iff it is a prefix of its IMMEDIATE successor, because every string
    z with x < z < x+suffix must itself start with x (strings between a
    string and any of its extensions share that prefix). Equal keys
    dedup as a byproduct: all but the last (key, doc_id)-ordered row of
    an equal-key group see an equal successor and are flagged.

    Scale: a single global sort would be a one-partition window — so
    the window partitions by the first ``bucket_chars`` characters of
    the key instead.  That is EXACT, not approximate, provided every
    key is at least ``bucket_chars`` long (caller contract, asserted
    per-row): an extension of x shares x's first ``bucket_chars``
    chars, so prefix pairs never straddle buckets, and cross-bucket
    successors can never be extensions.  At 100 TB this is a plain
    hash-shuffle on the bucket + per-bucket sort; no global ordering
    structure is ever built.
    """
    raw = F.col(key_col)
    # guard the exactness contract in a PRE-WINDOW PROJECTION, not
    # inside lead(): a key shorter than the bucket width could have
    # extensions in other buckets -> silent false negatives, and a
    # lead()-embedded guard is never evaluated for the last (or only)
    # row of a partition — exactly the single-row-bucket case a unique
    # short key produces. The projection feeds the shuffle hash, so it
    # runs for every row unconditionally.
    guarded = F.when(F.length(raw) >= bucket_chars, raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"prefix_superseded: key shorter than bucket_chars={bucket_chars}: "),
                raw,
            )
        )
    )
    docs = docs.select("doc_id", guarded.alias("_pkey"))
    key = F.col("_pkey")
    bucket = F.substring(key, 1, bucket_chars)
    w = Window.partitionBy(bucket).orderBy("_pkey", "doc_id")
    nxt = F.lead(key).over(w)
    superseded = nxt.isNotNull() & (F.substring(nxt, 1, F.length(key).cast("int")) == key)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length(key).cast("long").alias("key_len"),
        superseded.cast("long").alias("is_superseded"),
    )
