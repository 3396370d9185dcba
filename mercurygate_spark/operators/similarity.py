"""Similarity search over embedding columns (north-star surface):
brute-force cosine top-k baseline + random-hyperplane-LSH-bucketed
variant as the scale path.

Embeddings are array<float>; all math is done in DOUBLE after an
explicit cast so the DuckDB oracle (list ops over DOUBLE[]) computes
bit-identical dot products (same sequential accumulation order).

Scale notes:
- brute-force is broadcast(queries) × candidates — one pass over the
  corpus, no shuffle of the corpus; right for |queries| small.
- the LSH variant buckets both sides by deterministic hyperplane sign
  bits (md5-derived planes, no RNG) and only scores within buckets —
  candidate work scales with bucket sizes. At 1000 executors the
  bucket is the shuffle key.
Public-knowledge basis: Charikar random-hyperplane LSH (STOC 2002).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 8  # LSH sign bits → up to 256 buckets


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — same accumulation order as
    DuckDB's list_dot_product, so doubles match exactly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine() with both norms precomputed per VECTOR instead of per
    PAIR. Bit-identical to cosine(): norm() is a deterministic fold of
    the row's own array, so hoisting it into a projection before a
    join changes only the evaluation COUNT — in a pairwise join with
    fanout f each vector's two folds run once instead of f times
    (guide §2.3: compute the lightweight proxy once; the knn-graph /
    brute-topk / eval-screen joins have fanout = list size, corpus
    size, and eval-cap respectively). ``na``/``nb`` must be
    norm(_as_double(vec)) of the same vectors."""
    return dot(_as_double(a), _as_double(b)) / (na * nb)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_scale: int = 4,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set
    against the corpus, rank per query by (rounded cosine desc, id) —
    the rounding makes the ranking stable across engines whose last-ulp
    cosines could differ.

    Returns (query_id, candidate_id, cos, rk), excluding self-matches.
    """
    # norms once per VECTOR, not per (query, candidate) pair — the
    # cross join has fanout |queries| on the corpus side and |corpus|
    # on the query side (cosine_pre; bit-identical)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("candidate_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id",
            "candidate_id",
            (F.floor(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                * 10**round_scale + F.lit(0.5)
            ) / 10**round_scale).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("candidate_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def signs_matrix(dims: int = 64, n_planes: int = N_PLANES):
    """The md5-derived hyperplane sign matrix (n_planes × dims) as
    numpy — numerically identical to _plane_signs / duck_plane_signs_sql
    (same md5 parity rule). Plane p's row depends only on p, so the
    matrix for a smaller n_planes is an exact PREFIX of the matrix for
    a larger one — the property the occupancy dial's substr() oracle
    twin relies on."""
    import hashlib

    import numpy as np

    m = np.empty((n_planes, dims), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dims):
            first_hex = hashlib.md5(f"p{p}:{d}".encode()).hexdigest()[0]
            m[p, d] = 1.0 if int(first_hex, 16) % 2 == 0 else -1.0
    return m


def lsh_bucket(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out: str = "bucket",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Random-hyperplane LSH bucket id: ``n_planes`` projection sign
    bits concatenated into a string key. Computed via an Arrow-batched
    mapInPandas numpy projection (V @ S.T) — the Column-expression
    equivalent (zip_with folds) evaluates interpreted and is ~100×
    slower per row; values are identical up to BLAS ulp, which only
    matters for projections within ~1e-13 of zero."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    in_schema = df.select(id_col, vec_col).schema
    schema = StructType(list(in_schema.fields) + [StructField(out, StringType())])

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        signs = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if signs is None:
                signs = signs_matrix(vecs.shape[1], n_planes)
            bits = (vecs @ signs.T) >= 0
            pdf[out] = ["".join("1" if b else "0" for b in row) for row in bits]
            yield pdf
    return df.select(id_col, vec_col).mapInPandas(bucketize, schema)


N_TABLES = 4        # multi-table LSH: number of independent hash tables
N_PLANES_MULTI = 5  # planes per table (32 buckets/table)


def seeded_signs(seed_prefix: str, n_planes: int, dims: int = 64):
    """Seeded hyperplane sign matrix (n_planes × dims) — same md5
    parity rule as signs_matrix, namespaced by ``seed_prefix`` so each
    LSH table gets independent planes. Deterministic: both engines
    (and the oracle literal below) derive the identical matrix."""
    import hashlib

    import numpy as np

    m = np.empty((n_planes, dims), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dims):
            first_hex = hashlib.md5(f"{seed_prefix}p{p}:{d}".encode()).hexdigest()[0]
            m[p, d] = 1.0 if int(first_hex, 16) % 2 == 0 else -1.0
    return m


def duck_bucket_sql_seeded(vec_expr: str, seed_prefix: str, n_planes: int,
                           dims: int = 64) -> str:
    """DuckDB twin of a seeded bucket: the ±1 sign vectors are computed
    HERE (hashlib, same parity rule) and embedded as literal DOUBLE
    lists — numerically identical to seeded_signs, and keeps the SQL
    small enough to stack n_tables × n_planes of them."""
    m = seeded_signs(seed_prefix, n_planes, dims)
    bits = " || ".join(
        "(CASE WHEN list_dot_product({v}::DOUBLE[], [{s}]::DOUBLE[]) >= 0 "
        "THEN '1' ELSE '0' END)".format(
            v=vec_expr,
            s=", ".join(str(x) for x in m[p]),
        )
        for p in range(n_planes)
    )
    return bits


def lsh_bucket_multi(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES_MULTI,
    out: str = "bucket",
    sig_width: int | None = None,
) -> DataFrame:
    """Multi-table LSH buckets: one output row per (input row, table)
    with the table's seeded bucket id. One Arrow pass computes all
    tables' projections (V @ S_t.T per table on the same batch); the
    n_tables-fold row expansion is the inherent cost of multi-table
    LSH (union-of-candidates), paid as one shuffle of n_tables× rows
    rather than n_tables separate corpus shuffles.

    Sign decision: each bit is (v @ s) >= 0 under numpy/BLAS pairwise
    summation, while the DuckDB oracle twin sums sequentially
    (list_dot_product). The two orders agree unless a projection lands
    within ~1e-13 (a few ulp) of zero — with continuous random planes
    the measure of that set is ~0, and the synthetic embeddings here
    never hit it; with n_tables×n_planes bits the exposure multiplies,
    so if bucket hashes ever diverge between engines, check for
    near-zero projections before anything else.

    ``sig_width``: compute the signature at this FIXED width and emit
    the n_planes-char prefix as the bucket (the prefix property: plane
    p's signs depend only on p). The count-dialed radius keys pass
    OCC_MAX_PLANES — the production pattern: the stored signature is
    the dial ceiling's, so it survives every count-driven width change
    without recompute, and per-row signature cost is independent of
    the dial (otherwise a 10× probe measures the np growth itself —
    2.2× at toy scale where the Arrow pass dominates)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    width = sig_width or n_planes
    if width < n_planes:
        # correctness-critical (the signature-prefix property keeps
        # Spark buckets equal to the unchanged oracle) — a real error,
        # not an assert, so python -O cannot strip it
        raise ValueError(
            f"sig_width {width} < n_planes {n_planes}: the n_planes-char "
            "bucket prefix would not exist"
        )
    in_schema = df.select(id_col, vec_col).schema
    schema = StructType(
        list(in_schema.fields)
        + [StructField("lsh_table", IntegerType()), StructField(out, StringType())]
    )

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        signs = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if signs is None:
                signs = [
                    seeded_signs(f"t{t}", width, vecs.shape[1])
                    for t in range(n_tables)
                ]
            frames = []
            for t in range(n_tables):
                bits = (vecs @ signs[t].T) >= 0
                part = pdf[[id_col, vec_col]].copy()
                part["lsh_table"] = t
                part[out] = [
                    "".join("1" if b else "0" for b in row[:n_planes])
                    for row in bits
                ]
                frames.append(part)
            yield pd.concat(frames, ignore_index=True)

    return df.select(id_col, vec_col).mapInPandas(bucketize, schema)


def cosine_topk_lsh_multi(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_scale: int = 4,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES_MULTI,
) -> DataFrame:
    """Multi-table LSH ANN: candidates are the UNION of n_tables
    independent bucket matches (a pair is scored if ANY table hashes
    it together — the classical recall amplifier: miss probability
    decays exponentially in the table count). Candidate pairs are
    deduped BEFORE the cosine, so each unique pair pays one dot
    product regardless of how many tables matched it."""
    q = lsh_bucket_multi(queries, id_col, vec_col, n_tables, n_planes).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        "lsh_table", "bucket",
    )
    c = lsh_bucket_multi(corpus, id_col, vec_col, n_tables, n_planes).select(
        F.col(id_col).alias("candidate_id"), F.col(vec_col).alias("cv"),
        "lsh_table", "bucket",
    ).withColumn("cn", norm(_as_double(F.col("cv"))))
    # norms once per vector, not per surviving pair (cosine_pre;
    # bit-identical)
    pairs = (
        q.withColumn("qn", norm(_as_double(F.col("qv"))))
        .join(c, ["lsh_table", "bucket"])
        .where(F.col("query_id") != F.col("candidate_id"))
        .dropDuplicates(["query_id", "candidate_id"])
    )
    scored = pairs.select(
        "query_id",
        "candidate_id",
        (F.floor(
            cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
            * 10**round_scale + F.lit(0.5)
        ) / 10**round_scale).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("candidate_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def _plane_signs(plane: int) -> Column:
    return F.array(
        *[
            F.when(
                F.conv(F.substring(F.md5(F.lit(f"p{plane}:{d}")), 1, 1), 16, 10)
                .cast("int") % 2 == 0,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0))
            for d in range(64)
        ]
    )


def duck_plane_signs_sql(plane: int) -> str:
    """DuckDB twin of _plane_signs: a literal DOUBLE list expression."""
    comps = ", ".join(
        f"CASE WHEN ('0x' || substr(md5('p{plane}:{d}'), 1, 1))::INT % 2 = 0 "
        "THEN 1.0 ELSE -1.0 END"
        for d in range(64)
    )
    return f"[{comps}]::DOUBLE[]"


def duck_bucket_sql(vec_expr: str, n_planes: int = N_PLANES) -> str:
    """DuckDB twin of lsh_bucket's bit-string key."""
    bits = " || ".join(
        f"(CASE WHEN list_dot_product({vec_expr}::DOUBLE[], {duck_plane_signs_sql(p)}) >= 0 "
        "THEN '1' ELSE '0' END)"
        for p in range(n_planes)
    )
    return bits


# ---------------------------------------------------------------------------
# Occupancy dial (SCALING.md round-11 wave 2, VERDICT r11 next #1): a
# FIXED plane count means 10× corpus ⇒ ~10× rows per bucket ⇒ ~100×
# candidate pairs in radius/graph SELF-joins — the only measured
# superlinearity left in the repo (4.4× / 2.9× at 10×). The production
# dial derives n_planes from the corpus count so EXPECTED bucket
# occupancy stays constant: smallest p with OCC_TARGET · 2^p ≥ N, i.e.
# p ≈ log2(N / OCC_TARGET). Integer-threshold form (a CASE chain, no
# floats) so Spark and the DuckDB oracle can never disagree on the
# derived count; plane p's signs depend only on p (prefix property),
# so the oracle computes the OCC_MAX_PLANES-bit string once and takes
# a substr() prefix of the SQL-derived length.
# ---------------------------------------------------------------------------

OCC_TARGET = 32      # target expected rows per bucket under the dial
OCC_MIN_PLANES = 4   # floor: below this, buckets are too coarse to prune
OCC_MAX_PLANES = 16  # ceiling: 2^16 buckets ≈ 2M-row corpus per OCC_TARGET


def scaled_n_planes(n_rows: int) -> int:
    """Smallest p in [OCC_MIN_PLANES, OCC_MAX_PLANES] with
    OCC_TARGET · 2^p ≥ n_rows — integer-exact (no log2 floats)."""
    for p in range(OCC_MIN_PLANES, OCC_MAX_PLANES):
        if n_rows <= OCC_TARGET * (1 << p):
            return p
    return OCC_MAX_PLANES


def duck_scaled_np_sql(count_from: str = "embeddings") -> str:
    """DuckDB twin of scaled_n_planes: a scalar subquery deriving the
    plane count from count(*) via the SAME integer thresholds."""
    cases = " ".join(
        f"WHEN __n <= {OCC_TARGET * (1 << p)} THEN {p}"
        for p in range(OCC_MIN_PLANES, OCC_MAX_PLANES)
    )
    return (
        f"(SELECT CASE {cases} ELSE {OCC_MAX_PLANES} END "
        f"FROM (SELECT count(*) AS __n FROM {count_from}))"
    )


# ---------------------------------------------------------------------------
# Recall-HELD composition (VERDICT r12 next #2): the occupancy dial
# holds COST constant but each added sign bit halves a true pair's
# collision odds, so recall decays as the corpus grows (measured:
# docs/range_recall_r12.json, 0.054 → 0.007 at 10× for τ=0.3). The
# validated collision model (SCALING.md r12: p_pair = (1−acos(c)/π)^np,
# union recall 1−(1−p)^T) is INVERTED here: given the count-derived
# plane width, derive the table count that meets a recall TARGET at
# the design cosine. LSH theory prices this honestly — holding recall
# costs T ∝ p_bit^−np ≈ N^ρ with ρ = −ln(p_bit)/ln 2; at the
# near-duplicate design point (c*=0.95, ρ≈0.154) the 10× probe pays
# ~10^0.15 ≈ 1.4× over linear, vs ρ≈0.66 (≈4.6×) if one sized for the
# weak-similarity band — which is why the design point is the regime a
# production radius search actually serves (dedup at cosine ≈0.95),
# not the τ=0.3 reporting radius. Derived T by corpus size: 200→2,
# 2k→3, 20k→4, 200k→6, 2M→9 — every 10× decade costs ≤1.5× in tables.
# ---------------------------------------------------------------------------

RH_C_STAR = 0.95  # design cosine: near-duplicate pairs the table count protects
RH_TARGET = 0.8   # union recall target for a pair at cosine RH_C_STAR
RH_T_MAX = 16     # table ceiling — binds past ~2M rows, same horizon as OCC_MAX_PLANES


def tables_for_recall(n_planes: int) -> int:
    """Smallest T with 1−(1−p)^T ≥ RH_TARGET where
    p = (1−acos(RH_C_STAR)/π)^n_planes — i.e.
    ceil(ln(1−RH_TARGET)/ln(1−p)), clamped to [1, RH_T_MAX]. The float
    math runs ONCE, here, in Python: the Spark key calls this at
    runtime and the oracle embeds the resulting integers as a CASE
    chain over the plane count (duck_tables_for_recall_sql), so the
    two engines can never disagree on the derived table count."""
    import math

    p_bit = 1.0 - math.acos(RH_C_STAR) / math.pi
    p = p_bit**n_planes
    t = math.ceil(math.log(1.0 - RH_TARGET) / math.log(1.0 - p))
    return max(1, min(t, RH_T_MAX))


def duck_tables_for_recall_sql(np_sql: str) -> str:
    """DuckDB twin of tables_for_recall: an integer CASE over the
    (already count-derived) plane count, values precomputed by the
    Python model above — zero float derivations in SQL."""
    cases = " ".join(
        f"WHEN {p} THEN {tables_for_recall(p)}"
        for p in range(OCC_MIN_PLANES, OCC_MAX_PLANES + 1)
    )
    # ELSE must fail LOUDLY: without it a plane count outside
    # [OCC_MIN_PLANES, OCC_MAX_PLANES] would yield NULL and the oracle
    # would silently return zero rows instead of erroring.  error() is
    # DuckDB's supported explicit-failure expression and is guaranteed
    # lazy inside CASE (a failing CAST could legally be constant-folded
    # at bind time by a future optimizer).
    return (
        f"(SELECT CASE ({np_sql}) {cases} "
        "ELSE error('np out of range') END)"
    )


N_CENTROIDS = 16
N_PROBE = 2
KMEANS_ITERS = 3       # fixed Lloyd iterations — part of the deterministic spec
QUANT = 1000           # embedding quantization grid (3 decimal places)
EMBED_DIMS = 64        # testdata embedding width (oracle SQL is generated for it)


def _quantize(vecs):
    """float64 matrix → int64 grid: floor(x*QUANT + 0.5). One IEEE
    multiply-add + floor — bit-identical in numpy and DuckDB, which is
    why ALL k-means arithmetic below happens on this integer grid:
    integer squared distances and integer centroid updates are exact
    on both engines, so the oracle replays training bit-for-bit
    (double-precision distance sums would differ in the last ulp and
    cascade into different cluster assignments)."""
    import numpy as np

    return np.floor(vecs * QUANT + 0.5).astype(np.int64)


def _int_sq_dists(qvecs, cmat):
    """(n, k) integer squared euclidean distances — exact int64."""
    import numpy as np

    out = np.empty((qvecs.shape[0], cmat.shape[0]), dtype=np.int64)
    for c in range(cmat.shape[0]):
        diff = qvecs - cmat[c]
        out[:, c] = (diff * diff).sum(axis=1)
    return out


def kmeans_seeds(corpus: DataFrame, id_col: str, vec_col: str, k: int = N_CENTROIDS):
    """Deterministic seed-free init: the k corpus vectors ranked first
    by (md5(id), id) — a content-hash shuffle both engines compute
    identically, unbiased by insertion order (the classic 'first k
    rows' init degenerates when the corpus is sorted by topic).
    Returns the quantized (k, dims) int64 seed matrix."""
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col, F.md5(F.col(id_col).cast("string")).alias("__h"))
        .orderBy("__h", id_col)
        .limit(k)
        .collect()
    )
    return _quantize(np.array([list(r[vec_col]) for r in rows], dtype=np.float64))


TRAIN_SAMPLE_KEEP = 3   # default training sample: 3 of every
TRAIN_SAMPLE_MOD = 10   # 10 md5 buckets (~30% of the corpus)


def training_sample(
    corpus: DataFrame,
    id_col: str,
    keep: int = TRAIN_SAMPLE_KEEP,
    mod: int = TRAIN_SAMPLE_MOD,
) -> DataFrame:
    """Deterministic md5-bucket sample for k-means training: keep rows
    whose 60-bit md5(id) lands in the first ``keep`` of ``mod``
    buckets. Content-hash based — reproducible across runs/engines (a
    DuckDB oracle replays the predicate), no RNG, unbiased by insertion
    order. localCheckpoint materializes the sample once so the
    (iters+1) training passes scan the small materialized sample, not
    the full corpus — at 100 TB that turns k-means training from
    (iters+1) full-corpus scans into one scan plus cheap re-reads."""
    from mercurygate_spark.functions import md5_long

    sampled = corpus.where((md5_long(F.col(id_col)) % mod) < keep)
    return sampled.localCheckpoint(eager=True)


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = N_CENTROIDS,
    iters: int = KMEANS_ITERS,
    sample: tuple[int, int] | None = None,
):
    """Distributed Lloyd's k-means on the quantized grid, fixed
    ``iters`` iterations (no convergence test — determinism over the
    last fraction of a percent of inertia). Per iteration the cluster
    travels ONE Spark job: an Arrow-batched assignment pass emitting
    per-batch partial sums (k×dims rows each), a groupBy reduction,
    and a driver-side centroid recompute on ≤ k×dims collected longs —
    the corpus itself is never collected. Update rule per dimension:
    floor((2·sum + cnt) / (2·cnt)) = round-half-up of the mean, exact
    in IEEE double at these magnitudes (numerator ≪ 2^53), so numpy,
    Python, and DuckDB agree bit-for-bit. Empty clusters keep their
    previous centroid.

    ``sample=(keep, mod)`` trains on the deterministic md5-bucket
    sample instead of the full corpus — the 100 TB path (centroid
    quality needs a representative sample, not every row; the sample
    is materialized once instead of (iters+1) full scans)."""
    import math
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    if sample is not None:
        corpus = training_sample(corpus, id_col, keep=sample[0], mod=sample[1])
    cent = kmeans_seeds(corpus, id_col, vec_col, k)
    dims = cent.shape[1]
    part_schema = StructType(
        [
            StructField("cidx", IntegerType()),
            StructField("j", IntegerType()),
            StructField("s", LongType()),
            StructField("cnt", LongType()),
        ]
    )

    for _ in range(iters):
        cmat = cent  # closure-captured (broadcast-small pattern)

        def partial_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                qv = _quantize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
                d = _int_sq_dists(qv, cmat)
                nearest = np.lexsort(
                    (np.broadcast_to(np.arange(cmat.shape[0]), d.shape), d), axis=1
                )[:, 0]
                # vectorized partials (guide §4.2 — no per-row/-dim
                # Python loop): scatter-add member vectors per cluster,
                # emit only non-empty clusters (empty clusters keep
                # their previous centroid, same as the row-loop shape)
                k = cmat.shape[0]
                sums = np.zeros((k, dims), dtype=np.int64)
                np.add.at(sums, nearest, qv)
                cnts = np.bincount(nearest, minlength=k).astype(np.int64)
                nz = np.flatnonzero(cnts)
                yield pd.DataFrame(
                    {
                        "cidx": np.repeat(nz, dims).astype(np.int32),
                        "j": np.tile(np.arange(dims, dtype=np.int32), len(nz)),
                        "s": sums[nz].reshape(-1),
                        "cnt": np.repeat(cnts[nz], dims),
                    }
                )

        agg = (
            corpus.select(vec_col)
            .mapInPandas(partial_sums, part_schema)
            .groupBy("cidx", "j")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        new = cent.copy()
        for r in agg:
            new[r["cidx"], r["j"]] = math.floor(
                (2 * r["s"] + r["cnt"]) / (2.0 * r["cnt"])
            )
        cent = new
    return cent


def ivf_assign(
    df: DataFrame,
    cmat,
    id_col: str,
    vec_col: str,
    n_probe: int = 1,
    extra_cols: tuple[str, ...] = (),
    with_dist: bool = False,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids
    (integer squared euclidean on the quantized grid, tie-break by
    centroid index) via numpy per Arrow batch. ``cmat`` is the small
    (k, dims) int64 centroid matrix — closure-captured, sent once per
    executor (the broadcast-dim pattern). ``extra_cols`` are metadata
    columns carried through the Arrow pass unchanged (the filtered-ANN
    path: the filter attribute rides the SAME mapInPandas batch, so
    adding it costs zero extra shuffles or joins — at 100 TB joining
    the assignment back to the corpus on id would be a second full
    corpus shuffle). ``with_dist`` appends the exact int64 quantized
    squared distance per probe row — the boundary-adaptive probe gate
    compares these integers, so the margin rule is engine-exact."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    cols = [id_col, vec_col, *extra_cols]
    in_schema = df.select(*cols).schema
    schema = StructType(
        list(in_schema.fields)
        + [StructField("centroid_id", IntegerType()), StructField("probe_rank", IntegerType())]
        + ([StructField("probe_dist", LongType())] if with_dist else [])
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qv = _quantize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            d = _int_sq_dists(qv, cmat)
            order = np.lexsort(
                (np.broadcast_to(np.arange(cmat.shape[0]), d.shape), d), axis=1
            )[:, :n_probe]
            # vectorized batch assembly (guide §4.2 — the old shape
            # built the output with pdf.iloc[i] row-at-a-time): one
            # array take reproduces the interleaved (row, probe_rank)
            # order of the original loop exactly
            np_ = order.shape[1]
            idx = np.repeat(np.arange(len(pdf)), np_)
            out = pdf.iloc[idx][cols].reset_index(drop=True)
            out["centroid_id"] = order.reshape(-1).astype(np.int32)
            out["probe_rank"] = np.tile(
                np.arange(1, np_ + 1, dtype=np.int32), len(pdf)
            )
            if with_dist:
                out["probe_dist"] = d[idx, order.reshape(-1)]
            yield out

    return df.select(*cols).mapInPandas(assign, schema)


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_scale: int = 4,
    train_sample: tuple[int, int] | None = None,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """IVF ANN with TRAINED centroids: deterministic quantized-grid
    k-means (train_ivf_centroids) partitions the corpus into
    N_CENTROIDS inverted lists; each query probes its ``n_probe``
    nearest lists (default N_PROBE — the oracle replays that setting)
    and scores exact cosine only there. Candidate work per query
    is |corpus| * n_probe / n_centroids — the recall/cost dial
    (measured sweep: scripts/ann_recall.py → docs/SCALING.md).
    ``train_sample=(keep, mod)``
    trains centroids on the md5-bucket sample (the 100 TB path);
    assignment and scoring always cover the full corpus."""
    cmat = train_ivf_centroids(corpus, id_col, vec_col, sample=train_sample)
    # norms once per vector, not per in-list pair (cosine_pre;
    # bit-identical)
    corpus_assigned = ivf_assign(corpus, cmat, id_col, vec_col, n_probe=1).select(
        F.col(id_col).alias("candidate_id"), F.col(vec_col).alias("cv"), "centroid_id"
    ).withColumn("cn", norm(_as_double(F.col("cv"))))
    query_probes = ivf_assign(queries, cmat, id_col, vec_col, n_probe=n_probe).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "centroid_id"
    ).withColumn("qn", norm(_as_double(F.col("qv"))))
    scored = (
        query_probes.join(corpus_assigned, "centroid_id")
        .where(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id",
            "candidate_id",
            (F.floor(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                * 10**round_scale + F.lit(0.5)
            ) / 10**round_scale).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("candidate_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def _materialize_ctes(sql: str) -> str:
    """Inject ``AS MATERIALIZED`` into every CTE of a generated oracle.

    Load-bearing at big SF (the _bpe_chain_sql doctrine, measured r11):
    DuckDB inlines plain CTEs per reference, so the Lloyd chain —
    cent{i} referenced by assign{i+1} AND cent{i+1}, across 16 PQ
    subspaces — expands multiplicatively; at the sf1 evidence scale
    (20k vectors) the un-materialized duck_ivfpq_sql spilled >40 GB of
    DuckDB temp and ran >20 min, vs 33 s materialized, identical
    results. Only CTE headers match the pattern (column aliases are
    ``AS name`` with no following paren; casts are ``AS TYPE)``)."""
    import re

    return re.sub(r"(\w+ AS) \(", r"\1 MATERIALIZED (", sql)


def duck_ivf_kmeans_sql(
    iters: int = KMEANS_ITERS,
    k: int = N_CENTROIDS,
    dims: int = EMBED_DIMS,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix: str = "",
) -> str:
    """Generated DuckDB CTE chain replaying train_ivf_centroids()
    bit-for-bit: quantized embeddings (qemb), md5-ordered seeds
    (cent0), then one unrolled Lloyd iteration per CTE pair
    (assign{i}/cent{i}). All arithmetic is integer (or the one exact
    round-half-up double division), so Spark and DuckDB agree on every
    assignment. Ends with cent{iters} = the trained centroids.
    ``prefix`` namespaces every CTE so several independent trainings
    (PQ's per-subspace codebooks) can share one WITH clause."""
    q = (
        f"list_transform({vec_col}::DOUBLE[], "
        f"x -> CAST(floor(x * {QUANT} + 0.5) AS BIGINT))"
    )
    dist = (
        f"list_sum(list_transform(range(1, {dims + 1}), "
        "j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j])))"
    )
    p = prefix
    parts = [
        f"""{p}qemb AS (
      SELECT {id_col}, {vec_col}, {q} AS qe FROM {table}
    ), {p}cent0 AS (
      SELECT cidx, qe AS qc FROM (
        SELECT CAST(row_number() OVER (
                 ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}) AS INT) - 1 AS cidx,
               qe
        FROM {p}qemb
      ) WHERE cidx < {k}
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""{p}assign{i} AS (
      SELECT {id_col}, qe, cidx FROM (
        SELECT e.{id_col}, e.qe, c.cidx,
               row_number() OVER (PARTITION BY e.{id_col}
                                  ORDER BY {dist}, c.cidx) AS rn
        FROM {p}qemb e CROSS JOIN {p}cent{i - 1} c
      ) WHERE rn = 1
    ), {p}sums{i} AS (
      SELECT cidx, j, sum(qe[j + 1]) AS s, count(*) AS cnt
      FROM {p}assign{i}, (SELECT unnest(range({dims})) AS j)
      GROUP BY cidx, j
    ), {p}cent{i} AS (
      SELECT p.cidx, coalesce(n.qc, p.qc) AS qc
      FROM {p}cent{i - 1} p LEFT JOIN (
        SELECT cidx,
               list(CAST(floor((2 * s + cnt) / (2.0 * cnt)) AS BIGINT) ORDER BY j) AS qc
        FROM {p}sums{i} GROUP BY cidx
      ) n ON p.cidx = n.cidx
    )""")
    return _materialize_ctes(",\n    ".join(parts))


def cosine_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
    round_scale: int = 4,
) -> DataFrame:
    """All pairs within a blocking bucket with cosine ≥ threshold —
    the embedding near-dup primitive. Per-bucket numpy cosine matrix
    via cogrouped applyInPandas: one normalization per vector, one
    GEMM per bucket, upper-triangle thresholding. Work scales with
    Σ bucket², never n²; the bucket is the shuffle key."""
    from collections.abc import Iterator  # noqa: F401 — applyInPandas signature docs

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    block_field = df.schema[block_col]
    schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            block_field,
            StructField("cos", DoubleType()),
        ]
    )
    k = 10**round_scale

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(columns=["id_a", "id_b", block_col, "cos"])
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        normed = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        cos = normed @ normed.T
        cos = np.floor(cos * k + 0.5) / k
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = cos[ia, ib] >= threshold
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                block_col: pdf[block_col].iloc[0],
                "cos": cos[ia[keep], ib[keep]],
            }
        )

    return df.select(id_col, vec_col, block_col).groupBy(block_col).applyInPandas(pairs, schema)


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_scale: int = 4,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """ANN variant: score only candidates in the query's LSH bucket.
    Recall < 1 by design (pytest checks recall vs brute force); the
    candidate join is bucket-equi, so corpus work is bucket-local."""
    # norms once per vector, not per bucket pair (cosine_pre;
    # bit-identical)
    q = lsh_bucket(queries, id_col, vec_col, n_planes=n_planes).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "bucket"
    ).withColumn("qn", norm(_as_double(F.col("qv"))))
    c = lsh_bucket(corpus, id_col, vec_col, n_planes=n_planes).select(
        F.col(id_col).alias("candidate_id"), F.col(vec_col).alias("cv"), "bucket"
    ).withColumn("cn", norm(_as_double(F.col("cv"))))
    scored = (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id",
            "candidate_id",
            (F.floor(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                * 10**round_scale + F.lit(0.5)
            ) / 10**round_scale).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("candidate_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


# ---------------------------------------------------------------------------
# Product Quantization (Jégou, Douze, Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 — public algorithm): split each
# vector into PQ_M subvectors, train an independent PQ_K-code codebook
# per subspace (the same deterministic quantized-grid Lloyd's as IVF),
# store each corpus vector as PQ_M uint8-sized codes, and score queries
# with an asymmetric distance (ADC): exact query subvector vs the
# candidate's reconstructed centroid, summed over subspaces. This is
# the 100 TB memory path — EMBED_DIMS=64 floats (256 B) become
# PQ_M=16 one-byte codes (16 B), a 16× compression that lets a
# 1000-executor cluster hold a far larger slice of the index in RAM
# while the float vectors stay in parquet.
# ---------------------------------------------------------------------------

PQ_M = 16                       # subspaces (4-dim each: recall@10 ~0.42
                                # vs exact L2 at sf0.01 — best of the
                                # measured (M,K) grid; M=4/K=16 gave 0.12)
PQ_SUBDIM = EMBED_DIMS // PQ_M  # dims per subspace
PQ_K = 16                       # codes per subspace codebook


def _pq_partials_pdf(qv, cmats):
    """Vectorized per-batch PQ partial sums over the quantized matrix
    ``qv`` under the current codebooks — (m, cidx, j, s, cnt) rows for
    non-empty clusters only (guide §4.2: no per-row/-dim Python loop;
    empty clusters keep their previous centroid, exactly the old
    row-loop semantics)."""
    import numpy as np
    import pandas as pd

    ms, cidxs, js, ss, cnts_out = [], [], [], [], []
    for m in range(PQ_M):
        sub = qv[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        d = _int_sq_dists(sub, cmats[m])
        nearest = np.lexsort(
            (np.broadcast_to(np.arange(PQ_K), d.shape), d), axis=1
        )[:, 0]
        sums = np.zeros((PQ_K, PQ_SUBDIM), dtype=np.int64)
        np.add.at(sums, nearest, sub)
        cnts = np.bincount(nearest, minlength=PQ_K).astype(np.int64)
        nz = np.flatnonzero(cnts)
        ms.append(np.full(len(nz) * PQ_SUBDIM, m, dtype=np.int32))
        cidxs.append(np.repeat(nz, PQ_SUBDIM).astype(np.int32))
        js.append(np.tile(np.arange(PQ_SUBDIM, dtype=np.int32), len(nz)))
        ss.append(sums[nz].reshape(-1))
        cnts_out.append(np.repeat(cnts[nz], PQ_SUBDIM))
    return pd.DataFrame(
        {
            "m": np.concatenate(ms),
            "cidx": np.concatenate(cidxs),
            "j": np.concatenate(js),
            "s": np.concatenate(ss),
            "cnt": np.concatenate(cnts_out),
        }
    )


def pq_train_codebooks(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list:
    """Deterministic Lloyd's training of all PQ_M per-subspace
    codebooks — semantically one INDEPENDENT training per subspace
    (same md5-ordered seeds, fixed iterations, integer-grid update
    rule as train_ivf_centroids, so the DuckDB oracle replays each
    codebook bit-for-bit via its own prefixed CTE chain), but
    physically BATCHED: each Lloyd iteration is ONE Arrow pass
    emitting (subspace, cidx, dim, sum, cnt) partials for all
    subspaces at once + one groupBy, so the whole training costs
    KMEANS_ITERS jobs instead of PQ_M x KMEANS_ITERS. The seeds are
    one bounded collect (the PQ_K md5-first vectors, sliced — the
    slice of the quantized vector equals the quantized slice because
    quantization is elementwise). Returns PQ_M (PQ_K, PQ_SUBDIM)
    int64 matrices; empty clusters keep their previous centroid."""
    import math
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    seed_full = kmeans_seeds(corpus, id_col, vec_col, k=PQ_K)
    cmats = [
        seed_full[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM].copy()
        for m in range(PQ_M)
    ]
    part_schema = StructType(
        [
            StructField("m", IntegerType()),
            StructField("cidx", IntegerType()),
            StructField("j", IntegerType()),
            StructField("s", LongType()),
            StructField("cnt", LongType()),
        ]
    )
    for _ in range(KMEANS_ITERS):
        captured = [c.copy() for c in cmats]

        def partial_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                qv = _quantize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
                yield _pq_partials_pdf(qv, captured)

        agg = (
            corpus.select(vec_col)
            .mapInPandas(partial_sums, part_schema)
            .groupBy("m", "cidx", "j")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()  # bounded: <= PQ_M*PQ_K*PQ_SUBDIM rows
        )
        new = [c.copy() for c in cmats]
        for r in agg:
            new[r["m"]][r["cidx"], r["j"]] = math.floor(
                (2 * r["s"] + r["cnt"]) / (2.0 * r["cnt"])
            )
        cmats = new
    return cmats


def train_ivfpq_quantizers(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple:
    """FUSED training of the IVF coarse quantizer AND all PQ_M
    per-subspace codebooks: one seed collect + ONE Arrow pass per Lloyd
    iteration emitting both partial-sum families, instead of the two
    independent loops every IVFPQ call site used to run back to back
    (guide §1.2/§2.3 — at 100 TB the two trainings each scan the full
    corpus per iteration; fusing them halves the training scans, and
    halves the sequential job count locally). Bit-identical to
    (train_ivf_centroids(corpus), pq_train_codebooks(corpus)): the two
    update chains are independent (IVF partials depend only on the
    previous IVF centroids, PQ partials only on the previous
    codebooks), the seed rows are the same (md5, id)-first prefix —
    N_CENTROIDS and PQ_K slices of one max-k collect — and the driver
    update rule is the same exact integer floor. Proven by the
    unchanged IVFPQ oracles, which replay both trainings bit-for-bit,
    and pinned by tests/test_similarity_ops.py."""
    import math
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    seed = kmeans_seeds(corpus, id_col, vec_col, k=max(N_CENTROIDS, PQ_K))
    cent = seed[:N_CENTROIDS].copy()
    dims = cent.shape[1]
    cmats = [
        seed[:PQ_K, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM].copy()
        for m in range(PQ_M)
    ]
    # one schema for both partial families: IVF rows carry m = -1
    part_schema = StructType(
        [
            StructField("m", IntegerType()),
            StructField("cidx", IntegerType()),
            StructField("j", IntegerType()),
            StructField("s", LongType()),
            StructField("cnt", LongType()),
        ]
    )
    for _ in range(KMEANS_ITERS):
        cap_cent = cent.copy()
        cap_cmats = [c.copy() for c in cmats]

        def partial_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                qv = _quantize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
                # IVF partials (m = -1)
                d = _int_sq_dists(qv, cap_cent)
                nearest = np.lexsort(
                    (np.broadcast_to(np.arange(cap_cent.shape[0]), d.shape), d),
                    axis=1,
                )[:, 0]
                k = cap_cent.shape[0]
                sums = np.zeros((k, dims), dtype=np.int64)
                np.add.at(sums, nearest, qv)
                cnts = np.bincount(nearest, minlength=k).astype(np.int64)
                nz = np.flatnonzero(cnts)
                ivf = pd.DataFrame(
                    {
                        "m": np.full(len(nz) * dims, -1, dtype=np.int32),
                        "cidx": np.repeat(nz, dims).astype(np.int32),
                        "j": np.tile(np.arange(dims, dtype=np.int32), len(nz)),
                        "s": sums[nz].reshape(-1),
                        "cnt": np.repeat(cnts[nz], dims),
                    }
                )
                yield pd.concat(
                    [ivf, _pq_partials_pdf(qv, cap_cmats)], ignore_index=True
                )

        agg = (
            corpus.select(vec_col)
            .mapInPandas(partial_sums, part_schema)
            .groupBy("m", "cidx", "j")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()  # bounded: <= k*dims + PQ_M*PQ_K*PQ_SUBDIM rows
        )
        new_cent = cent.copy()
        new_cmats = [c.copy() for c in cmats]
        for r in agg:
            val = math.floor((2 * r["s"] + r["cnt"]) / (2.0 * r["cnt"]))
            if r["m"] < 0:
                new_cent[r["cidx"], r["j"]] = val
            else:
                new_cmats[r["m"]][r["cidx"], r["j"]] = val
        cent, cmats = new_cent, new_cmats
    return cent, cmats


def pq_encode(
    df: DataFrame, cmats: list, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Corpus → (id, k0..k{PQ_M-1}) codes in ONE Arrow pass: quantize,
    then per subspace the nearest codebook entry (integer squared
    distance, tie → lowest code index — the oracle's ORDER BY dist,
    cidx). The cmats are closure-captured small matrices (the
    broadcast-dim pattern); the pass is embarrassingly parallel."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    schema = StructType(
        [StructField(id_col, LongType())]
        + [StructField(f"k{m}", IntegerType()) for m in range(PQ_M)]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qv = _quantize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            cols = {id_col: pdf[id_col].astype("int64")}
            for m in range(PQ_M):
                sub = qv[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                d = _int_sq_dists(sub, cmats[m])
                nearest = np.lexsort(
                    (np.broadcast_to(np.arange(PQ_K), d.shape), d), axis=1
                )[:, 0]
                cols[f"k{m}"] = nearest.astype("int32")
            yield pd.DataFrame(cols)

    return df.select(id_col, vec_col).mapInPandas(encode, schema)


def pq_adc_topk(
    corpus: DataFrame,
    k: int,
    n_queries: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """End-to-end PQ ANN: train codebooks, encode the corpus, score
    each query against every candidate's code word by asymmetric
    distance (sum over subspaces of integer squared distance from the
    query's EXACT quantized subvector to the candidate's centroid) and
    rank top-k (adc asc, candidate id).

    Scale shape: the driver touches only bounded data — PQ_M codebooks
    (PQ_M×PQ_K×PQ_SUBDIM longs) and the n_queries query vectors, from
    which it precomputes the classic PQ distance TABLE
    (n_queries × PQ_M × PQ_K ints). Scoring is then a pure table
    lookup per (candidate, query) in one Arrow pass over the CODES
    frame — the float vectors are never rescanned, which is the whole
    point of PQ at 100 TB."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    cmats = pq_train_codebooks(corpus, id_col, vec_col)
    codes = pq_encode(corpus, cmats, id_col, vec_col)

    qrows = (
        corpus.where(F.col(id_col) < n_queries)
        .select(id_col, vec_col)
        .collect()  # bounded by construction: n_queries rows
    )
    qmat = _quantize(
        np.array([list(r[vec_col]) for r in qrows], dtype=np.float64)
    )
    qids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    # dtable[q, m, code] = ||query_q subvector m - codebook_m[code]||²
    dtable = np.empty((len(qids), PQ_M, PQ_K), dtype=np.int64)
    for m in range(PQ_M):
        sub = qmat[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        dtable[:, m, :] = _int_sq_dists(sub, cmats[m])

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("candidate_id", LongType()),
            StructField("adc", LongType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cand = pdf[id_col].to_numpy(dtype="int64")
            code_mat = np.stack(
                [pdf[f"k{m}"].to_numpy(dtype="int64") for m in range(PQ_M)], axis=1
            )
            # adc[q, c] = Σ_m dtable[q, m, code_mat[c, m]]
            adc = np.zeros((len(qids), len(cand)), dtype=np.int64)
            for m in range(PQ_M):
                adc += dtable[:, m, code_mat[:, m]]
            qcol = np.repeat(qids, len(cand))
            ccol = np.tile(cand, len(qids))
            yield pd.DataFrame(
                {"query_id": qcol, "candidate_id": ccol, "adc": adc.reshape(-1)}
            )

    scored = codes.mapInPandas(score, schema).where(
        F.col("query_id") != F.col("candidate_id")
    )
    w = Window.partitionBy("query_id").orderBy("adc", "candidate_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def duck_pq_sql(n_queries: int, top_k: int, table: str = "embeddings",
                prelude: str = "") -> str:
    """Generated DuckDB oracle replaying the FULL PQ pipeline: per
    subspace the identical unrolled Lloyd's chain (prefixed CTEs),
    code assignment, then ADC scoring + ranking. Integer arithmetic
    end to end, so every codebook entry, code word, and distance
    matches Spark exactly. ``table`` swaps the corpus (OPQ rotates it
    first); ``prelude`` injects CTEs at the head of the WITH clause
    (e.g. the rotation's variance/permutation chain)."""
    chains, code_ctes = [], []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        chains.append(
            duck_ivf_kmeans_sql(
                k=PQ_K,
                dims=PQ_SUBDIM,
                table=(
                    f"(SELECT vec_id, embedding[{lo}:{hi}] AS sub FROM {table})"
                ),
                vec_col="sub",
                prefix=f"s{m}_",
            )
        )
        dist = (
            f"list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), "
            "j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j])))"
        )
        code_ctes.append(
            f"""code{m} AS (
      SELECT vec_id, cidx AS code FROM (
        SELECT e.vec_id, c.cidx,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, c.cidx) AS rn
        FROM s{m}_qemb e CROSS JOIN s{m}_cent{KMEANS_ITERS} c
      ) WHERE rn = 1
    )"""
        )
    cand_joins = " ".join(
        f"JOIN code{m} c{m} USING (vec_id)" for m in range(1, PQ_M)
    )
    cand_cols = ", ".join(f"c{m}.code AS k{m}" for m in range(PQ_M))
    q_joins = " ".join(
        f"JOIN s{m}_qemb a{m} USING (vec_id)" for m in range(1, PQ_M)
    )
    q_cols = ", ".join(f"a{m}.qe AS qe{m}" for m in range(PQ_M))
    cc_joins = " ".join(
        f"JOIN s{m}_cent{KMEANS_ITERS} cc{m} ON cc{m}.cidx = cd.k{m}"
        for m in range(PQ_M)
    )
    terms = " + ".join(
        f"list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), "
        f"j -> (q.qe{m}[j] - cc{m}.qc[j]) * (q.qe{m}[j] - cc{m}.qc[j])))"
        for m in range(PQ_M)
    )
    chains_sql = ",\n    ".join(chains)
    codes_sql = _materialize_ctes(",\n    ".join(code_ctes))
    prelude = _materialize_ctes(prelude)
    return f"""
    WITH {prelude}{chains_sql},
    {codes_sql},
    cand AS (
      SELECT vec_id, {cand_cols}
      FROM code0 c0 {cand_joins}
    ),
    q AS (
      SELECT vec_id, {q_cols}
      FROM s0_qemb a0 {q_joins}
      WHERE vec_id < {n_queries}
    ),
    scored AS (
      SELECT q.vec_id AS query_id, cd.vec_id AS candidate_id,
             CAST({terms} AS BIGINT) AS adc
      FROM cand cd {cc_joins}
      CROSS JOIN q
      WHERE q.vec_id <> cd.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY adc, candidate_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, candidate_id, adc, rk FROM ranked WHERE rk <= {top_k}
    """


# ---------------------------------------------------------------------------
# OPQ — Optimized Product Quantization (Ge et al., CVPR 2013)
# restricted to PERMUTATION rotations: OPQ-parametric's "eigenvalue
# allocation" balances variance across subspaces via an orthogonal
# transform; with axis-aligned principal directions that transform IS a
# permutation, which keeps every step integer-exact on the quantized
# grid and therefore DuckDB-replayable (a dense learned rotation needs
# SVD — not expressible in the oracle). Measured decision probe
# (docs/opq_recall_r11.json): on variance-skewed data the permutation
# recovers recall 0.05 -> 0.78 (identity PQ vs OPQ-perm) while a dense
# Hadamard rotation only reaches 0.15; on this repo's native isotropic
# testdata NO rotation helps (even exact PCA: 0.320 vs identity 0.328)
# — OPQ's premise is correlated/variance-skewed dims, and the negative
# finding is pinned as a test so it can't regress into folklore.
# ---------------------------------------------------------------------------


def opq_variance_permutation(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[int]:
    """Learn the OPQ permutation: per-dimension variance on the
    quantized integer grid (var_num_j = n·Σq² − (Σq)², exact integer
    arithmetic — no float variance drift between engines), dims ranked
    by variance desc (tie: dim index), then allocated round-robin so
    each subspace receives one dim per variance tier (rank r → subspace
    r % PQ_M, slot r // PQ_M). Returns perm where permuted[p] =
    original[perm[p]].

    Driver traffic is ONE aggregated row of 2·dims+1 longs — the
    variance pass is a single partial-aggregable job over the corpus.
    At 100 TB Σq² can approach int64 range (1e12 rows × 4e6 per-row
    square ≈ 4e18 < 2^63); past that, learn the permutation on the
    md5-bucket training_sample — variance needs a representative
    sample, not every row (same doctrine as sampled IVF training)."""
    qe = F.transform(
        _as_double(F.col(vec_col)),
        lambda x: F.floor(x * QUANT + F.lit(0.5)).cast("long"),
    )
    dims = EMBED_DIMS
    d = corpus.select(qe.alias("qe"))
    aggs = (
        [F.sum(F.col("qe")[j]).alias(f"s{j}") for j in range(dims)]
        + [F.sum(F.col("qe")[j] * F.col("qe")[j]).alias(f"ss{j}") for j in range(dims)]
        + [F.count("*").alias("n")]
    )
    row = d.agg(*aggs).collect()[0]  # bounded: ONE row of 2*dims+1 longs
    n = row["n"]
    var_num = [n * row[f"ss{j}"] - row[f"s{j}"] ** 2 for j in range(dims)]
    order = sorted(range(dims), key=lambda j: (-var_num[j], j))
    perm = [0] * dims
    for r, dim in enumerate(order):
        perm[(r % PQ_M) * PQ_SUBDIM + r // PQ_M] = dim
    return perm


def opq_permute(df: DataFrame, perm: list[int], id_col: str, vec_col: str) -> DataFrame:
    """Apply the learned permutation as a pure codegen projection —
    no UDF, no shuffle; permuting floats commutes with elementwise
    quantization, so downstream PQ sees exactly the permuted grid."""
    return df.select(
        id_col,
        F.array(*[F.col(vec_col)[int(i)] for i in perm]).alias(vec_col),
    )


def opq_adc_topk(
    corpus: DataFrame,
    k: int,
    n_queries: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """End-to-end OPQ ANN: learn the variance-balancing permutation,
    rotate the corpus (queries live in the corpus, so they rotate with
    it), then the UNCHANGED PQ pipeline — training, encoding, and ADC
    scoring all operate in the rotated space, exactly as in Ge et al.
    (R is applied once up front; ADC distances are computed in the
    rotated coordinates)."""
    perm = opq_variance_permutation(corpus, id_col, vec_col)
    rot = opq_permute(corpus, perm, id_col, vec_col)
    return pq_adc_topk(rot, k=k, n_queries=n_queries, id_col=id_col, vec_col=vec_col)


def duck_opq_sql(n_queries: int, top_k: int) -> str:
    """DuckDB replay of the full OPQ pipeline: the variance/permutation
    chain as a prelude (integer variance numerators, rank, round-robin
    allocation, list-indexed rotation), then the standard PQ oracle
    over the rotated corpus."""
    q = (
        f"list_transform(embedding::DOUBLE[], "
        f"x -> CAST(floor(x * {QUANT} + 0.5) AS BIGINT))"
    )
    prelude = f"""opq_vstats AS (
      SELECT j,
             sum(qe[j]) AS s, sum(qe[j] * qe[j]) AS ss, count(*) AS n
      FROM (SELECT {q} AS qe FROM embeddings)
      CROSS JOIN (SELECT unnest(range(1, {EMBED_DIMS + 1})) AS j)
      GROUP BY j
    ), opq_ranked AS (
      SELECT j, CAST(row_number() OVER (ORDER BY (n * ss - s * s) DESC, j) AS INT) - 1 AS r
      FROM opq_vstats
    ), opq_permlist AS (
      SELECT list(j ORDER BY (r % {PQ_M}) * {PQ_SUBDIM} + r // {PQ_M}) AS pl
      FROM opq_ranked
    ), opq_rot AS (
      SELECT e.vec_id, list_transform(pl, jj -> e.embedding[jj]) AS embedding
      FROM embeddings e, opq_permlist
    ),
    """
    return duck_pq_sql(n_queries, top_k, table="opq_rot", prelude=prelude)


# ---------------------------------------------------------------------------
# IVFPQ — the composed production ANN shape (FAISS IVFADC; Jégou et al.
# 2011 §V): IVF partition-pruning picks the nprobe nearest inverted
# lists, then PQ asymmetric distance scores ONLY the candidates in the
# probed lists. The two halves above (train_ivf_centroids /
# pq_train_codebooks) compose unchanged; codes are computed on the RAW
# vectors (by_residual=false in FAISS terms), which keeps the oracle a
# pure union of the two parents' already-verified CTE chains. At
# 100 TB: the index frame is (id, list, PQ_M codes) ≈ 24 B/vector, the
# probe join touches only nprobe/N_CENTROIDS of it, and the float
# vectors are never read at query time.
# ---------------------------------------------------------------------------


def ivfpq_encode(
    corpus: DataFrame,
    cmat,
    cmats: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus → (id, centroid_id, k0..k{PQ_M-1}) — the full IVFPQ index
    frame — in ONE Arrow pass (one corpus scan, no self-join between
    the list assignment and the code assignment; both reuse the same
    quantized batch). cmat/cmats are the small trained matrices,
    closure-captured (broadcast-dim pattern)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    schema = StructType(
        [StructField(id_col, LongType()), StructField("centroid_id", IntegerType())]
        + [StructField(f"k{m}", IntegerType()) for m in range(PQ_M)]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qv = _quantize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            d = _int_sq_dists(qv, cmat)
            nearest = np.lexsort(
                (np.broadcast_to(np.arange(cmat.shape[0]), d.shape), d), axis=1
            )[:, 0]
            cols = {
                id_col: pdf[id_col].astype("int64"),
                "centroid_id": nearest.astype("int32"),
            }
            for m in range(PQ_M):
                sub = qv[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                dm = _int_sq_dists(sub, cmats[m])
                cols[f"k{m}"] = np.lexsort(
                    (np.broadcast_to(np.arange(PQ_K), dm.shape), dm), axis=1
                )[:, 0].astype("int32")
            yield pd.DataFrame(cols)

    return corpus.select(id_col, vec_col).mapInPandas(encode, schema)


def ivfpq_adc_topk(
    corpus: DataFrame,
    k: int,
    n_queries: int,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
    train_on: DataFrame | None = None,
    query_source: DataFrame | None = None,
    quantizers: tuple | None = None,
) -> DataFrame:
    """End-to-end IVFPQ ANN: train both quantizers, build the
    (id, list, codes) index in one pass, prune to each query's
    ``n_probe`` nearest lists via a BROADCAST equi-join on the list id
    (the inner join IS the partition pruning — unprobed lists never
    leave the scan), then rank candidates by the PQ distance table.

    Driver-bounded state only: the two trained quantizers, the
    n_queries query vectors, their list assignments (n_queries ×
    n_probe rows, computed driver-side with the SAME integer
    arithmetic ivf_assign uses), and the n_queries × PQ_M × PQ_K
    distance table. Per-candidate work at query time is PQ_M integer
    lookups — never a float-vector read.

    ``index``: a pre-built (id, centroid_id, k0..k{PQ_M-1}) frame —
    e.g. the persisted bucketed catalog table a serving deployment
    probes — used in place of the in-flight ivfpq_encode pass. The
    quantizers retrain either way (deterministic, so the same
    matrices; at serving time they'd be loaded, not retrained).

    ``train_on``: frame the quantizers train on (defaults to
    ``corpus``) — the incremental-append key trains on the original
    corpus only and FREEZES the quantizers for appended batches.
    ``query_source``: frame the query vectors come from (defaults to
    ``corpus``). ``quantizers``: a pre-trained (cmat, cmats) pair —
    e.g. the retrained pair ivfpq_retrain_swap returns — used instead
    of training here (a serving layer loads quantizers, it doesn't
    retrain per query batch)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    if quantizers is not None:
        cmat, cmats = quantizers
    else:
        cmat, cmats = train_ivfpq_quantizers(
            train_on if train_on is not None else corpus, id_col, vec_col
        )
    if index is None:
        index = ivfpq_encode(corpus, cmat, cmats, id_col, vec_col)

    qrows = (
        (query_source if query_source is not None else corpus)
        .where(F.col(id_col) < n_queries)
        .select(id_col, vec_col)
        .collect()  # bounded by construction: n_queries rows
    )
    qmat = _quantize(np.array([list(r[vec_col]) for r in qrows], dtype=np.float64))
    qids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    # query→probed-lists, driver-side (same _int_sq_dists + lexsort
    # tie-break as ivf_assign, so parity with the oracle is inherited)
    dq = _int_sq_dists(qmat, cmat)
    order = np.lexsort(
        (np.broadcast_to(np.arange(cmat.shape[0]), dq.shape), dq), axis=1
    )[:, :n_probe]
    spark = corpus.sparkSession
    qprobe = spark.createDataFrame(
        [(int(qids[i]), int(order[i, r])) for i in range(len(qids)) for r in range(n_probe)],
        "query_id long, centroid_id int",
    )
    dtable = np.empty((len(qids), PQ_M, PQ_K), dtype=np.int64)
    for m in range(PQ_M):
        sub = qmat[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        dtable[:, m, :] = _int_sq_dists(sub, cmats[m])
    qpos = {int(q): i for i, q in enumerate(qids)}

    pruned = index.join(F.broadcast(qprobe), "centroid_id").select(
        "query_id", F.col(id_col).alias("candidate_id"), *[f"k{m}" for m in range(PQ_M)]
    )

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("candidate_id", LongType()),
            StructField("adc", LongType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qi = pdf["query_id"].map(qpos).to_numpy(dtype="int64")
            adc = np.zeros(len(pdf), dtype=np.int64)
            for m in range(PQ_M):
                adc += dtable[qi, m, pdf[f"k{m}"].to_numpy(dtype="int64")]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype="int64"),
                    "candidate_id": pdf["candidate_id"].to_numpy(dtype="int64"),
                    "adc": adc,
                }
            )

    scored = pruned.mapInPandas(score, schema).where(
        F.col("query_id") != F.col("candidate_id")
    )
    w = Window.partitionBy("query_id").orderBy("adc", "candidate_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def duck_ivfpq_sql(n_queries: int, top_k: int, n_probe: int = N_PROBE) -> str:
    """Generated DuckDB oracle for IVFPQ: the IVF training chain
    (duck_ivf_kmeans_sql, unprefixed) and all PQ_M per-subspace chains
    (s{m}_ prefixes) from the two parents, then list assignment,
    query probes, and ADC ranking restricted to probed lists."""
    dist = (
        f"list_sum(list_transform(range(1, {EMBED_DIMS + 1}), "
        "j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j])))"
    )
    chains, code_ctes = [duck_ivf_kmeans_sql()], []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        chains.append(
            duck_ivf_kmeans_sql(
                k=PQ_K,
                dims=PQ_SUBDIM,
                table=f"(SELECT vec_id, embedding[{lo}:{hi}] AS sub FROM embeddings)",
                vec_col="sub",
                prefix=f"s{m}_",
            )
        )
        sdist = (
            f"list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), "
            "j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j])))"
        )
        code_ctes.append(
            f"""code{m} AS (
      SELECT vec_id, cidx AS code FROM (
        SELECT e.vec_id, c.cidx,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {sdist}, c.cidx) AS rn
        FROM s{m}_qemb e CROSS JOIN s{m}_cent{KMEANS_ITERS} c
      ) WHERE rn = 1
    )"""
        )
    cand_joins = " ".join(f"JOIN code{m} c{m} USING (vec_id)" for m in range(1, PQ_M))
    cand_cols = ", ".join(f"c{m}.code AS k{m}" for m in range(PQ_M))
    q_joins = " ".join(f"JOIN s{m}_qemb a{m} USING (vec_id)" for m in range(1, PQ_M))
    q_cols = ", ".join(f"a{m}.qe AS qe{m}" for m in range(PQ_M))
    cc_joins = " ".join(
        f"JOIN s{m}_cent{KMEANS_ITERS} cc{m} ON cc{m}.cidx = cd.k{m}"
        for m in range(PQ_M)
    )
    terms = " + ".join(
        f"list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), "
        f"j -> (q.qe{m}[j] - cc{m}.qc[j]) * (q.qe{m}[j] - cc{m}.qc[j])))"
        for m in range(PQ_M)
    )
    chains_sql = ",\n    ".join(chains)
    codes_sql = ",\n    ".join(code_ctes)
    return _materialize_ctes(f"""
    WITH {chains_sql},
    {codes_sql},
    ivfprobe AS (
      SELECT vec_id, cidx, probe_rank FROM (
        SELECT e.vec_id, c.cidx,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, c.cidx) AS probe_rank
        FROM qemb e CROSS JOIN cent{KMEANS_ITERS} c
      )
    ),
    cand AS (
      SELECT vec_id, a.cidx, {cand_cols}
      FROM (SELECT vec_id, cidx FROM ivfprobe WHERE probe_rank = 1) a
      JOIN code0 c0 USING (vec_id) {cand_joins}
    ),
    q AS (
      SELECT vec_id, {q_cols}
      FROM s0_qemb a0 {q_joins}
      WHERE vec_id < {n_queries}
    ),
    qprobe AS (
      SELECT vec_id AS query_id, cidx FROM ivfprobe
      WHERE vec_id < {n_queries} AND probe_rank <= {n_probe}
    ),
    scored AS (
      SELECT q.vec_id AS query_id, cd.vec_id AS candidate_id,
             CAST({terms} AS BIGINT) AS adc
      FROM cand cd
      JOIN qprobe p ON p.cidx = cd.cidx
      JOIN q ON q.vec_id = p.query_id
      {cc_joins}
      WHERE q.vec_id <> cd.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY adc, candidate_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, candidate_id, adc, rk FROM ranked WHERE rk <= {top_k}
    """)


IVFPQ_RERANK_R = 50  # code-ranked candidates re-scored exactly per query


def ivfpq_rerank_topk(
    corpus: DataFrame,
    k: int,
    n_queries: int,
    r: int = IVFPQ_RERANK_R,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 4,
) -> DataFrame:
    """IVFPQ + exact re-ranking — the full production ANN serving
    stack (FAISS IVFADC with refinement): the 16-byte codes rank the
    probed lists' candidates cheaply, the top ``r`` per query are then
    re-scored with EXACT cosine over the float vectors, and the final
    top ``k`` comes from the exact scores. This is the standard fix
    for the PQ recall ceiling measured in docs/SCALING.md (quantization
    error, not candidate coverage, binds IVFPQ recall): the expensive
    float reads collapse from |probed lists| to r per query —
    n_queries × r point lookups against the corpus, joined as a
    broadcast of the (query_id, candidate_id) winner frame (bounded by
    construction), so the corpus is scanned once and never shuffled."""
    cand = ivfpq_adc_topk(
        corpus, k=r, n_queries=n_queries, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "candidate_id")
    # norms once per vector, not per (query, candidate) rerank pair
    # (cosine_pre; bit-identical)
    qv = corpus.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", norm(_as_double(F.col("qv"))))
    cv = corpus.select(
        F.col(id_col).alias("candidate_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", norm(_as_double(F.col("cv"))))
    scored = (
        cv.join(F.broadcast(cand), "candidate_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "candidate_id",
            (F.floor(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                * 10**round_scale + F.lit(0.5)
            ) / 10**round_scale).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "candidate_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def duck_ivfpq_rerank_sql(
    n_queries: int, top_k: int, r: int = IVFPQ_RERANK_R, n_probe: int = N_PROBE
) -> str:
    """Oracle for ivfpq_rerank_topk: the full IVFPQ replay (nested
    WITH) producing the code-ranked top ``r``, then exact 4-dp cosine
    re-ranking over the raw embeddings."""
    return _materialize_ctes(f"""
    WITH ivfpq AS (
      {duck_ivfpq_sql(n_queries, r, n_probe)}
    ),
    rer AS (
      SELECT i.query_id, i.candidate_id,
             round(
               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
               {4}) AS cos
      FROM ivfpq i
      JOIN embeddings q ON q.vec_id = i.query_id
      JOIN embeddings c ON c.vec_id = i.candidate_id
    ),
    rranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, candidate_id
             ) AS rk
      FROM rer
    )
    SELECT query_id, candidate_id, cos, rk FROM rranked WHERE rk <= {top_k}
    """)


INCR_ANN_MOD = 5  # vec_id % mod == 0 → the appended batch; rest = corpus


def duck_frozen_chains_sql(corpus_select: str, full_select: str) -> str:
    """The shared CTE prefix every frozen-quantizer oracle starts
    from: trainset/fullset materialized ONCE (so arbitrarily expensive
    corpus definitions — e.g. a CDC log reduction + dedup gate — are
    not re-evaluated per subspace chain), the IVF training chain and
    all PQ_M per-subspace chains trained on trainset, and the
    quantized fullset frames (fq, fs0..fs{PQ_M-1}) every downstream
    assignment/scoring CTE reads."""
    qz = (
        "list_transform({v}::DOUBLE[], "
        f"x -> CAST(floor(x * {QUANT} + 0.5) AS BIGINT))"
    )
    parts = [
        f"trainset AS MATERIALIZED ({corpus_select})",
        f"fullset AS MATERIALIZED ({full_select})",
        duck_ivf_kmeans_sql(table="trainset"),
        f"fq AS (SELECT vec_id, {qz.format(v='embedding')} AS qe FROM fullset)",
    ]
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        parts.append(
            duck_ivf_kmeans_sql(
                k=PQ_K,
                dims=PQ_SUBDIM,
                table=(
                    f"(SELECT vec_id, embedding[{lo}:{hi}] AS sub "
                    "FROM trainset)"
                ),
                vec_col="sub",
                prefix=f"s{m}_",
            )
        )
        parts.append(
            f"fs{m} AS (SELECT vec_id, "
            f"{qz.format(v=f'embedding[{lo}:{hi}]')} AS qe FROM fullset)"
        )
    return _materialize_ctes(",\n    ".join(parts))


def duck_ivfpq_frozen_sql(
    n_queries: int,
    top_k: int,
    corpus_select: str,
    full_select: str,
    n_probe: int = N_PROBE,
) -> str:
    """Generalized frozen-quantizer IVFPQ oracle: both quantizers
    train ONLY on ``corpus_select`` (a SELECT yielding
    (vec_id, embedding)); codes and list assignments are then computed
    for EVERY vector of ``full_select`` under those frozen quantizers,
    and queries (drawn from the full set) rank the grown index —
    replaying exactly what a frozen-quantizer serving path does."""
    dist = (
        f"list_sum(list_transform(range(1, {EMBED_DIMS + 1}), "
        "j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j])))"
    )
    code_ctes = []
    for m in range(PQ_M):
        sdist = (
            f"list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), "
            "j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j])))"
        )
        code_ctes.append(
            f"""code{m} AS (
      SELECT vec_id, cidx AS code FROM (
        SELECT e.vec_id, c.cidx,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {sdist}, c.cidx) AS rn
        FROM fs{m} e CROSS JOIN s{m}_cent{KMEANS_ITERS} c
      ) WHERE rn = 1
    )"""
        )
    cand_joins = " ".join(f"JOIN code{m} c{m} USING (vec_id)" for m in range(1, PQ_M))
    cand_cols = ", ".join(f"c{m}.code AS k{m}" for m in range(PQ_M))
    q_joins = " ".join(f"JOIN fs{m} a{m} USING (vec_id)" for m in range(1, PQ_M))
    q_cols = ", ".join(f"a{m}.qe AS qe{m}" for m in range(PQ_M))
    cc_joins = " ".join(
        f"JOIN s{m}_cent{KMEANS_ITERS} cc{m} ON cc{m}.cidx = cd.k{m}"
        for m in range(PQ_M)
    )
    terms = " + ".join(
        f"list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), "
        f"j -> (q.qe{m}[j] - cc{m}.qc[j]) * (q.qe{m}[j] - cc{m}.qc[j])))"
        for m in range(PQ_M)
    )
    prefix_sql = duck_frozen_chains_sql(corpus_select, full_select)
    codes_sql = ",\n    ".join(code_ctes)
    return _materialize_ctes(f"""
    WITH {prefix_sql},
    {codes_sql},
    ivfprobe AS (
      SELECT vec_id, cidx, probe_rank FROM (
        SELECT e.vec_id, c.cidx,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, c.cidx) AS probe_rank
        FROM fq e CROSS JOIN cent{KMEANS_ITERS} c
      )
    ),
    cand AS (
      SELECT vec_id, a.cidx, {cand_cols}
      FROM (SELECT vec_id, cidx FROM ivfprobe WHERE probe_rank = 1) a
      JOIN code0 c0 USING (vec_id) {cand_joins}
    ),
    q AS (
      SELECT vec_id, {q_cols}
      FROM fs0 a0 {q_joins}
      WHERE vec_id < {n_queries}
    ),
    qprobe AS (
      SELECT vec_id AS query_id, cidx FROM ivfprobe
      WHERE vec_id < {n_queries} AND probe_rank <= {n_probe}
    ),
    scored AS (
      SELECT q.vec_id AS query_id, cd.vec_id AS candidate_id,
             CAST({terms} AS BIGINT) AS adc
      FROM cand cd
      JOIN qprobe p ON p.cidx = cd.cidx
      JOIN q ON q.vec_id = p.query_id
      {cc_joins}
      WHERE q.vec_id <> cd.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY adc, candidate_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, candidate_id, adc, rk FROM ranked WHERE rk <= {top_k}
    """)


def duck_ivfpq_incr_sql(
    n_queries: int, top_k: int, n_probe: int = N_PROBE, mod: int = INCR_ANN_MOD
) -> str:
    """Oracle for sim_ivfpq_incremental_append: the frozen-quantizer
    replay (duck_ivfpq_frozen_sql) with the train/full split on
    vec_id % mod — train on the original corpus (<> 0), assign/encode
    every vector, rank the grown index."""
    return duck_ivfpq_frozen_sql(
        n_queries,
        top_k,
        corpus_select=(
            f"SELECT vec_id, embedding FROM embeddings WHERE vec_id % {mod} <> 0"
        ),
        full_select="SELECT vec_id, embedding FROM embeddings",
        n_probe=n_probe,
    )


def ivfpq_vector_stats(
    df: DataFrame,
    cmat,
    cmats: list,
    batch_flag: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The STATELESS per-vector half of the drift monitor — one Arrow
    pass emitting (centroid_id, is_batch, code_word, coarse_err,
    rec_err) per vector under frozen quantizers. Split out so the
    streaming monitor (stream_index_drift_stats) can run it per
    micro-batch and keep only the 16-row aggregation as streaming
    state."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    flagged = df.select(id_col, vec_col, batch_flag.alias("is_batch"))
    schema = StructType(
        [
            StructField("centroid_id", IntegerType()),
            StructField("is_batch", BooleanType()),
            StructField("code_word", StringType()),
            StructField("coarse_err", LongType()),
            StructField("rec_err", LongType()),
        ]
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qv = _quantize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            d = _int_sq_dists(qv, cmat)
            nearest = np.lexsort(
                (np.broadcast_to(np.arange(cmat.shape[0]), d.shape), d), axis=1
            )[:, 0]
            rec = np.zeros(len(pdf), dtype=np.int64)
            codes = []
            for m in range(PQ_M):
                sub = qv[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                dm = _int_sq_dists(sub, cmats[m])
                rec += dm.min(axis=1)  # the chosen code's distance
                codes.append(
                    np.lexsort(
                        (np.broadcast_to(np.arange(PQ_K), dm.shape), dm), axis=1
                    )[:, 0]
                )
            code_mat = np.stack(codes, axis=1)
            yield pd.DataFrame(
                {
                    "centroid_id": nearest.astype("int32"),
                    "is_batch": pdf["is_batch"].astype(bool),
                    "code_word": [",".join(map(str, row)) for row in code_mat],
                    "coarse_err": d.min(axis=1),  # dist to the assigned list
                    "rec_err": rec,
                }
            )

    return flagged.mapInPandas(stats, schema)


def ivfpq_drift_stats(
    df: DataFrame,
    cmat,
    cmats: list,
    batch_flag: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-inverted-list drift statistics under FROZEN quantizers — the
    monitor that decides WHEN to run ivfpq_retrain_swap, closing the
    maintenance loop (append cheaply → watch this → swap when it
    moves): for every vector, one Arrow pass computes its frozen
    coarse assignment AND that assignment's distance (coarse_err —
    the per-vector inertia), its PQ code word, and its PQ
    reconstruction error (Σ_m of the chosen code's integer squared
    distance). Aggregated per inverted list: corpus/batch occupancy,
    distinct code words used by each side, and exact integer error
    sums. The pager alarm — MEASURED, tests/test_operators.py — is
    OCCUPANCY CONCENTRATION: under the drift that collapses frozen
    IVFPQ recall 0.288→0.026 (docs/reindex_recall_r10.json), the
    batch's top-list share jumps 0.084 → 0.556 (6.6×) while every
    error-style statistic stays nearly silent (coarse assignment
    error +9 %, PQ reconstruction error +2 %, distinct code words
    flat until extreme drift). The negative finding matters as much
    as the alarm: on ~unit-norm high-dim data, quantization error is
    noise-dominated and barely moves under drift — WHERE vectors land
    (occupancy histograms), not HOW FAR they quantize (error sums),
    is the production drift signal; the error/code-word columns stay
    as diagnostics for localizing which lists to inspect. All-integer
    output: both engines agree bit-for-bit, no ratios to round."""
    per_vec = ivfpq_vector_stats(df, cmat, cmats, batch_flag, id_col, vec_col)
    return (
        per_vec.groupBy("centroid_id")
        .agg(
            F.sum(F.when(~F.col("is_batch"), 1).otherwise(0))
            .cast("long")
            .alias("n_corpus"),
            F.sum(F.when(F.col("is_batch"), 1).otherwise(0))
            .cast("long")
            .alias("n_batch"),
            F.countDistinct(F.when(~F.col("is_batch"), F.col("code_word")))
            .cast("long")
            .alias("n_codes_corpus"),
            F.countDistinct(F.when(F.col("is_batch"), F.col("code_word")))
            .cast("long")
            .alias("n_codes_batch"),
            F.sum(F.when(~F.col("is_batch"), F.col("coarse_err")).otherwise(0))
            .cast("long")
            .alias("coarse_err_corpus"),
            F.sum(F.when(F.col("is_batch"), F.col("coarse_err")).otherwise(0))
            .cast("long")
            .alias("coarse_err_batch"),
            F.sum(F.when(~F.col("is_batch"), F.col("rec_err")).otherwise(0))
            .cast("long")
            .alias("rec_err_corpus"),
            F.sum(F.when(F.col("is_batch"), F.col("rec_err")).otherwise(0))
            .cast("long")
            .alias("rec_err_batch"),
        )
    )


def ivfpq_retrain_swap(
    grown: DataFrame,
    table_name: str,
    n_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizers: tuple | None = None,
):
    """The third index-maintenance operation (after append and
    compact): RETRAIN both quantizers on the grown corpus, re-encode
    every vector into a NEW bucketed index table, and atomically swap
    it into the live name — the production answer to frozen-quantizer
    drift (incremental appends under frozen quantizers are cheap but
    their recall decays as the data distribution moves away from the
    training snapshot; measured in docs/SCALING.md).

    Sequence:
      1. retrain: deterministic Lloyd's on the GROWN corpus — coarse
         centroids (train_ivf_centroids) + PQ codebooks
         (pq_train_codebooks); cost amortizes across every query batch
         until the next retrain, same as initial training;
      2. re-encode: ONE Arrow pass over the grown corpus
         (ivfpq_encode) written bucketed-by-list under
         ``{table_name}__new`` — the full-corpus rewrite happens OFF
         the serving path while readers keep probing the old index;
      3. swap: io.bucketing.swap_bucketed (the reference's
         snapshot-replace doctrine, mm_bronze_silver.py:230) — at
         every step either the old or the new index is intact, and a
         retry completes an interrupted swap; the bucket spec carries
         over, so the post-swap probe join still reads `Bucketed: true`
         with zero index-side Exchange (plan-pinned in tests/test_plans.py).

    ``quantizers`` (optional) bypasses step 1: it MUST be the output of
    ``train_ivfpq_quantizers(grown, id_col, vec_col)`` on the SAME
    grown frame/columns — the bypass exists so a caller that already
    ran that (deterministic) retrain concurrently with building the
    pre-swap state hands the result in instead of paying the training
    scans twice. Handing in quantizers trained on a different frame
    would silently build a wrong index; the shape is asserted below,
    the provenance is the caller's contract.

    Returns (cmat, cmats) — the retrained quantizers the serving layer
    must load alongside the swapped index (query-side distance tables
    built from stale quantizers against re-encoded codes would be
    garbage; shipping both under one swap is the whole contract)."""
    from mercurygate_spark.io.bucketing import swap_bucketed, write_bucketed

    spark = grown.sparkSession
    if quantizers is not None:
        cmat, cmats = quantizers
        if (
            cmat.shape[0] != N_CENTROIDS
            or len(cmats) != PQ_M
            or any(cm.shape != (PQ_K, PQ_SUBDIM) for cm in cmats)
        ):
            raise ValueError(
                "quantizers= must be train_ivfpq_quantizers() output: "
                f"got cmat {cmat.shape}, {len(cmats)} codebooks "
                f"(want {N_CENTROIDS}×dims, {PQ_M}×({PQ_K},{PQ_SUBDIM}))"
            )
    else:
        cmat, cmats = train_ivfpq_quantizers(grown, id_col, vec_col)
    staging = f"{table_name}__new"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    write_bucketed(
        ivfpq_encode(grown, cmat, cmats, id_col, vec_col),
        staging, "centroid_id", n_buckets, sort_by="centroid_id",
    )
    swap_bucketed(spark, table_name, staging)
    return cmat, cmats


def ivfpq_score_distributed(
    queries: DataFrame,
    index: DataFrame,
    cmat,
    cmats: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = N_PROBE,
) -> DataFrame:
    """Fully DISTRIBUTED IVFPQ scoring — no driver-side query state at
    all (ivfpq_adc_topk precomputes a per-query distance table on the
    driver, which is right for a bounded ad-hoc query set; this
    variant keeps everything in executors, so the query side may be
    UNBOUNDED or a STREAM). Two Arrow passes + one equi-join:

      1. probe pass: each query row → its ``n_probe`` nearest lists
         (same integer arithmetic as ivf_assign), carrying the query
         vector;
      2. list join on centroid_id (stream-static when the query side
         streams — the static index is re-planned per micro-batch, so
         an index refresh is picked up at the next batch);
      3. ADC pass: per joined row, the asymmetric distance is computed
         directly — Σ_m ‖q_sub_m − codebook_m[code_m]‖² on the
         quantized grid — numerically IDENTICAL to the distance-table
         lookup (same integers, summed per subspace).

    Returns un-ranked (query_id, candidate_id, adc); the caller ranks
    (streams rank batch-side on the bounded sink, the
    stream_incremental_dedup doctrine)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    vec_field = queries.schema[vec_col]
    probe_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("qv", vec_field.dataType),
            StructField("centroid_id", IntegerType()),
        ]
    )

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qv = _quantize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            d = _int_sq_dists(qv, cmat)
            order = np.lexsort(
                (np.broadcast_to(np.arange(cmat.shape[0]), d.shape), d), axis=1
            )[:, :n_probe]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        pdf[id_col].to_numpy(dtype="int64"), n_probe
                    ),
                    "qv": [
                        v for v in pdf[vec_col] for _ in range(n_probe)
                    ],
                    "centroid_id": order.reshape(-1).astype("int32"),
                }
            )

    probed = queries.select(id_col, vec_col).mapInPandas(probes, probe_schema)
    cand = index.select(
        F.col("vec_id").alias("candidate_id"),
        "centroid_id",
        *[f"k{m}" for m in range(PQ_M)],
    )
    joined = probed.join(cand, "centroid_id").select(
        "query_id", "qv", "candidate_id", *[f"k{m}" for m in range(PQ_M)]
    )

    adc_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("candidate_id", LongType()),
            StructField("adc", LongType()),
        ]
    )

    def adc_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = _quantize(np.array(pdf["qv"].tolist(), dtype=np.float64))
            adc = np.zeros(len(pdf), dtype=np.int64)
            for m in range(PQ_M):
                sub = q[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                cent = cmats[m][pdf[f"k{m}"].to_numpy(dtype="int64")]
                diff = sub - cent
                adc += (diff * diff).sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype="int64"),
                    "candidate_id": pdf["candidate_id"].to_numpy(dtype="int64"),
                    "adc": adc,
                }
            )

    return joined.mapInPandas(adc_pass, adc_schema).where(
        F.col("query_id") != F.col("candidate_id")
    )


# ---------------------------------------------------------------------------
# Per-inverted-list neighbor graph (VERDICT r11 next #4 — the graph-ANN
# refinement docs/SCALING.md:1203 names as the natural composition
# with IVF, in place of a monolithic HNSW): build a small kNN graph
# WITHIN each inverted list, then serve probes by deterministic beam
# search over that graph instead of exhaustively scoring the whole
# list. At 100 TB each list's graph builds independently inside its
# partition (the per-list self-join is bounded by list occupancy, the
# same contract as the LSH bucket join), and a probe touches
# ~1 + G + hops·B·G candidates instead of the full list.
# Public-knowledge basis: NN-descent (Dong et al. WWW'11) for in-list
# graph construction; greedy best-first graph search (Malkov &
# Yashunin HNSW, TPAMI'18) restricted to fixed rounds + fixed beam so
# the walk is deterministic and oracle-replayable.
# ---------------------------------------------------------------------------

LIST_OCC = 64        # target expected rows per inverted list under the dial
IVF_MIN_LOG2K = 2    # floor: 4 lists
IVF_MAX_LOG2K = 8    # ceiling: 256 lists


def scaled_n_centroids(n_rows: int) -> int:
    """The IVF twin of scaled_n_planes: smallest k = 2^p (p in
    [IVF_MIN_LOG2K, IVF_MAX_LOG2K]) with LIST_OCC · k ≥ n_rows —
    integer-exact, so expected list occupancy stays ≈LIST_OCC as the
    corpus grows (the k ∝ √N-to-∝N family of rules the ANN literature
    prescribes, in the threshold form an oracle can replay)."""
    for p in range(IVF_MIN_LOG2K, IVF_MAX_LOG2K):
        if n_rows <= LIST_OCC * (1 << p):
            return 1 << p
    return 1 << IVF_MAX_LOG2K


def duck_scaled_k_sql(count_from: str = "embeddings") -> str:
    """DuckDB twin of scaled_n_centroids: a scalar subquery deriving
    the centroid count from count(*) via the SAME integer thresholds."""
    cases = " ".join(
        f"WHEN __n <= {LIST_OCC * (1 << p)} THEN {1 << p}"
        for p in range(IVF_MIN_LOG2K, IVF_MAX_LOG2K)
    )
    return (
        f"(SELECT CASE {cases} ELSE {1 << IVF_MAX_LOG2K} END "
        f"FROM (SELECT count(*) AS __n FROM {count_from}))"
    )


GRAPH_G = 4      # out-degree of the per-list neighbor graph
GRAPH_B = 4      # beam width during search
GRAPH_HOPS = 2   # fixed expansion rounds (deterministic, unrollable)


def ivf_list_knn_graph(
    lists: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "centroid_id",
    g: int = GRAPH_G,
) -> DataFrame:
    """Each list member's top-``g`` in-list neighbors by (r4-rounded
    cosine DESC, neighbor id) — a list-equi self-join + per-node
    WindowGroupLimit, never a cross join. Returns
    (list_col, node_id, neighbor_id)."""
    # norms once per member, not per pair — the in-list self-join has
    # fanout = list occupancy (cosine_pre; bit-identical)
    a = lists.select(
        F.col(list_col), F.col(id_col).alias("node_id"), F.col(vec_col).alias("nv")
    ).withColumn("nn", norm(_as_double(F.col("nv"))))
    b = lists.select(
        F.col(list_col), F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("bv")
    ).withColumn("bn", norm(_as_double(F.col("bv"))))
    scored = (
        a.join(b, list_col)
        .where(F.col("node_id") != F.col("neighbor_id"))
        .select(
            list_col,
            "node_id",
            "neighbor_id",
            (F.floor(
                cosine_pre(F.col("nv"), F.col("bv"), F.col("nn"), F.col("bn"))
                * 10**4 + F.lit(0.5)
            ) / 10**4).alias("ncos"),
        )
    )
    w = Window.partitionBy("node_id").orderBy(F.col("ncos").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= g)
        .select(list_col, "node_id", "neighbor_id")
    )
