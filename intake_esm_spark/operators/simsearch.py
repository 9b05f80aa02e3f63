"""Similarity search over embedding columns (array<float>).

Two tiers:

* **brute-force cosine top-k** — exact baseline. The dot product is a
  built-in ``zip_with`` + ``aggregate`` fold (JVM-side); top-k per query is
  a window rank. Cost O(n_queries * n_corpus) — correct at any scale but
  quadratic; the oracle for the approximate tier.
* **IVF (inverted-file) cosine top-k** — the scale path. A driver-side
  k-means on a SAMPLE picks nprobe-independent centroids (the sample is
  bounded, so driver memory is constant); every corpus vector is assigned
  to its nearest centroid (one broadcast map-side pass, no shuffle); a
  query probes only the ``nprobe`` nearest centroid buckets. At 100 TB the
  corpus scan becomes a bucket-pruned scan when the table is written
  partitioned by centroid id.

Both return (query_id, vec_id, cos_sim) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from intake_esm_spark.util import read_text_sidecar, write_text_sidecar


def l2_norm(col: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: F.Column, b: F.Column) -> F.Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def with_norm(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Attach the vector's L2 norm as a column.

    Pairwise cosine plans should call this on EACH SIDE before the
    join/cross-join: the norm fold then runs once per input row instead of
    once per pair (O(n) vs O(n²) array traversals — at 2k vectors that is
    a 1000× reduction in norm work, and the per-pair expression collapses
    to a single dot fold). The quotient ``dot/(na*nb)`` is evaluated in the
    same order as :func:`cosine`, so results are bit-identical."""
    return df.withColumn(out_col, l2_norm(F.col(vec_col)))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, fold the dot product JVM-side, window-rank per query.

    The corpus never shuffles — the only exchange is the per-query top-k
    aggregation, which AQE keeps tiny (k rows per query per partition after
    partial top-k)."""
    q = with_norm(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec")),
        "__qvec",
        "__qnorm",
    )
    c = with_norm(
        corpus.select(F.col(id_col), F.col(vec_col).alias("__cvec")),
        "__cvec",
        "__cnorm",
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        (
            dot(F.col("__cvec"), F.col("__qvec"))
            / (F.col("__cnorm") * F.col("__qnorm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def cosine_pairs_blocked(
    df: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_rows: int | None = 8192,
) -> DataFrame:
    """All within-block vector pairs with cosine >= threshold, computed as
    a numpy matmul per block via Arrow ``applyInPandas`` — the vectorized
    kernel for the pairwise stage (one BLAS gemm per block replaces ~n²/2
    interpreted 64-dim folds). Blocks are the unit of shuffle; with IVF
    centroid ids (or labels) as blocks the operator scales linearly in
    block count.

    **Skew guard**: one in-memory gram matrix per group means a hot block
    (one label holding 1% of a 100 TB corpus) would OOM its worker — AQE
    can't help, this is a groupBy, not a join. Blocks larger than
    ``max_block_rows`` are therefore TILED: rows are salted into
    ``ceil(n/max_block_rows)`` hash-tiles, every unordered tile pair
    (ta <= tb) becomes its own ``applyInPandas`` group, and the kernel
    computes the within-tile upper triangle (ta == tb) or the cross-tile
    rectangle (ta < tb). Each unordered row pair lands in EXACTLY one
    group, so the pair set is identical to the untiled plan while peak
    per-task memory is bounded by ~(2·max_block_rows)² regardless of
    skew. Row duplication is n_tiles× only for oversized blocks; normal
    blocks (n_tiles == 1) pay one extra broadcast-joined count column.
    ``max_block_rows=None`` disables tiling.

    Returns (id_a, id_b, <block_col>, cos_sim) with id_a < id_b.
    """
    import numpy as np
    import pandas as pd

    dtypes = dict(df.dtypes)
    block_dtype, id_dtype = dtypes[block_col], dtypes[id_col]
    out_schema = (
        f"id_a {id_dtype}, id_b {id_dtype}, {block_col} {block_dtype}, cos_sim double"
    )

    def _normed(pdf: pd.DataFrame) -> "np.ndarray":
        X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)

    def _emit(block_val, a_ids, b_ids, sims, iu, ju):
        # iu/ju arrive PRE-MASKED (np.nonzero of the threshold test):
        # materializing full index grids before masking cost two
        # max_block_rows^2 int64 arrays (~540 MB each at 8192) on top of
        # the sims matrix; nonzero allocates only the surviving pairs
        a, b = a_ids[iu], b_ids[ju]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, block_col: block_val, "cos_sim": sims[iu, ju]}
        )

    def _upper_hits(sims):
        """Indices of >=threshold entries strictly above the diagonal."""
        return np.nonzero(np.triu(sims >= threshold, k=1))

    if max_block_rows is None:

        def _block(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf[id_col].to_numpy()
            X = _normed(pdf)
            sims = X @ X.T
            iu, ju = _upper_hits(sims)
            return _emit(pdf[block_col].iloc[0], ids, ids, sims, iu, ju)

        return df.select(id_col, vec_col, block_col).groupBy(block_col).applyInPandas(
            _block, out_schema
        )

    counts = df.groupBy(block_col).agg(F.count(F.lit(1)).alias("__bn"))
    # null-safe join: groupBy treats NULL as a real block, so the counts
    # attach must too — a plain equi-join would silently drop every
    # NULL-block row (and with it their pairs)
    cnt_key = counts.select(
        F.col(block_col).alias("__bkey"), "__bn"
    )
    tiled = (
        df.select(id_col, vec_col, block_col)
        .join(
            F.broadcast(cnt_key),
            F.col(block_col).eqNullSafe(F.col("__bkey")),
        )  # block cardinality is small
        .drop("__bkey")
        .withColumn("__nt", F.ceil(F.col("__bn") / F.lit(max_block_rows)).cast("int"))
        .withColumn("__tile", F.pmod(F.xxhash64(F.col(id_col)), F.col("__nt")).cast("int"))
        .withColumn("__ot", F.explode(F.sequence(F.lit(0), F.col("__nt") - 1)))
        .withColumn("__ta", F.least("__tile", "__ot"))
        .withColumn("__tb", F.greatest("__tile", "__ot"))
    )

    def _tile_pair(key, pdf):
        block_val, ta, tb = key
        if ta == tb:
            ids = pdf[id_col].to_numpy()
            X = _normed(pdf)
            sims = X @ X.T
            iu, ju = _upper_hits(sims)
            return _emit(block_val, ids, ids, sims, iu, ju)
        a_pdf = pdf[pdf["__tile"] == ta]
        b_pdf = pdf[pdf["__tile"] == tb]
        if not len(a_pdf) or not len(b_pdf):  # hash-tile happened to be empty
            return _emit(
                block_val,
                a_pdf[id_col].to_numpy(),
                b_pdf[id_col].to_numpy(),
                np.zeros((0, 0)),
                np.array([], dtype=np.intp),
                np.array([], dtype=np.intp),
            )
        A, B = _normed(a_pdf), _normed(b_pdf)
        sims = A @ B.T
        iu, ju = np.nonzero(sims >= threshold)
        return _emit(
            block_val, a_pdf[id_col].to_numpy(), b_pdf[id_col].to_numpy(), sims, iu, ju
        )

    return tiled.groupBy(block_col, "__ta", "__tb").applyInPandas(
        _tile_pair, out_schema
    )


def _kmeans_centroids(
    corpus: DataFrame, vec_col: str, n_centroids: int, sample_fraction: float, iters: int = 5
):
    """Driver-side k-means on a bounded sample (numpy). Returns list of
    centroid vectors. Deterministic: seeded sample + seeded init."""
    import numpy as np

    sample = (
        corpus.select(vec_col)
        .sample(fraction=min(1.0, sample_fraction), seed=42)
        .limit(50_000)
        .collect()
    )
    X = np.array([r[0] for r in sample], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(42)
    centroids = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ centroids.T
        assign = sims.argmax(axis=1)
        for j in range(len(centroids)):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                centroids[j] = c / max(np.linalg.norm(c), 1e-12)
    return [list(map(float, c)) for c in centroids]


def dedup_embeddings(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    pairs: DataFrame | None = None,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate removal: keep a vector iff it has no
    LOWER-id neighbor with cosine >= threshold — the embedding analogue of
    ``dedup_exact``'s min-id survivor rule (equivalently: drop the ``id_b``
    side of every near-dup pair; the two formulations are identical because
    x is dropped exactly when some y < x is within threshold).

    ``pairs`` supplies the pair plan; when omitted, ``block_col`` selects
    the DEFAULT plan: :func:`cosine_pairs_blocked` — one GEMM per block,
    never a corpus broadcast — which is the path that survives 100 TB.
    ``exact=True`` swaps in the within-block brute-force join with
    per-side pre-normalized norms and 6dp-rounded cos_sim: bit-portable
    across engines, used as the SQL-oracle baseline (it broadcasts the
    full block side, so keep it to oracle scales). The final anti-join's
    build side carries only the dropped ids."""
    if pairs is None:
        if block_col is None:
            raise ValueError("dedup_embeddings needs block_col or a pairs plan")
        if not exact:
            pairs = cosine_pairs_blocked(
                df, block_col, threshold, id_col=id_col, vec_col=vec_col
            )
    if pairs is None:
        a = with_norm(
            df.select(
                F.col(id_col).alias("id_a"),
                F.col(block_col),
                F.col(vec_col).alias("__ea"),
            ),
            "__ea",
            "__na",
        )
        b = with_norm(
            df.select(
                F.col(id_col).alias("id_b"),
                F.col(block_col),
                F.col(vec_col).alias("__eb"),
            ),
            "__eb",
            "__nb",
        )
        spread = a.sparkSession.sparkContext.defaultParallelism
        pairs = (
            a.repartition(spread)
            .join(F.broadcast(b), on=block_col)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cos_sim",
                F.round(
                    dot(F.col("__ea"), F.col("__eb"))
                    / (F.col("__na") * F.col("__nb")),
                    6,
                ),
            )
            .filter(F.col("cos_sim") >= threshold)
        )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, on=id_col, how="left_anti")


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float = 0.1,
    files_per_bucket: int | None = 1,
    refine_iters: int = 0,
) -> list[list[float]]:
    """Materialize the IVF index: the corpus written as parquet PARTITIONED
    BY nearest-centroid bucket, with the centroid vectors in an
    underscore-prefixed JSON sidecar (invisible to Spark's file index).

    This is what makes IVF an INDEX rather than a re-scan: a probe query
    filters on the ``bucket`` partition column, so the scan prunes to the
    nprobe probed directories (``PartitionFilters`` in the plan) and
    roughly nprobe/n_centroids of the bytes are read — the rest never
    leave storage. Returns the centroids (also persisted in the sidecar).

    The centroid sidecar is driver-written through the Hadoop FileSystem
    API (``util.write_text_sidecar``), NOT local ``open()``: the index
    must work on any Hadoop-supported filesystem (s3a/hdfs/file URIs),
    which is where a 100 TB index actually lives — and not via a one-row
    Spark write, which pays full job-commit machinery for one metadata
    file.

    Write shape: the assignment expression is ``n_centroids`` interpreted
    64-dim dot folds per row, so the corpus is SPREAD to every core first
    (a single-file table otherwise assigns serially — the same pitfall as
    the shingle pipeline, SCALE.md #1). ``files_per_bucket`` then bounds
    the output file count via one narrow repartition on (bucket, salt):
    at most n_centroids x files_per_bucket files with that many parallel
    writers, instead of input_partitions x n_centroids small files. At
    100 TB size files_per_bucket to bucket_bytes / target_file_size;
    ``None`` skips the repartition (direct write, unbounded file count).
    """
    import json as _json

    centroids = _kmeans_centroids(corpus, vec_col, n_centroids, sample_fraction)
    if refine_iters > 0:
        # sample-bootstrap, then full-corpus spherical-Lloyd refinement:
        # the sampled centroids are blind to tail clusters on skewed
        # corpora; refinement re-centers them over ALL vectors at one
        # extra job per iteration (map-side-partial update — shuffle is
        # partitions x k x d rows, independent of corpus size). Refined
        # centroids stay unit-norm (to 6dp), preserving the dot==cosine
        # assignment invariant below.
        from intake_esm_spark.operators.clustering import kmeans_refine

        centroids = kmeans_refine(corpus, centroids, iters=refine_iters, vec_col=vec_col)
    _write_assigned(corpus, centroids, path, id_col, vec_col, files_per_bucket, "overwrite")

    sidecar = _json.dumps(
        {"centroids": centroids, "vec_col": vec_col, "id_col": id_col}
    )
    write_text_sidecar(corpus.sparkSession, f"{path}/_ivf_centroids", sidecar)
    return centroids


def _nearest_centroid_expr(centroids: list[list[float]], vec_col: str) -> F.Column:
    """Bucket = argmax cosine(centroid, vec) as a codegen expression over
    LITERAL centroid arrays (centroids are unit-norm, so dot == cosine)."""
    cent_arr = F.array(*[F.array(*[F.lit(v) for v in c]) for c in centroids])
    sims = F.transform(cent_arr, lambda c: dot(F.col(vec_col), c))
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    pairs = F.zip_with(sims, idx, lambda s, i: F.struct(s.alias("sim"), i.alias("idx")))
    return F.reverse(F.array_sort(pairs))[0]["idx"]


def _write_assigned(
    rows: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str,
    vec_col: str,
    files_per_bucket: int | None,
    mode: str,
) -> None:
    from intake_esm_spark.operators._util import _spread

    assigned = _spread(rows).withColumn(
        "bucket", _nearest_centroid_expr(centroids, vec_col)
    )
    if files_per_bucket is not None:
        assigned = assigned.repartition(
            len(centroids) * files_per_bucket,
            F.col("bucket"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_bucket)),
        )
    assigned.write.mode(mode).partitionBy("bucket").parquet(path)


def write_ivf_index_int8(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float = 0.1,
    files_per_bucket: int | None = 1,
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """The int8-quantized IVF index — the composition
    :func:`quantize_int8` -> partitioned write that makes the index 4x
    smaller than float32: 4x fewer bytes scanned per probed bucket, 4x
    more of the index in page cache. The corpus is quantized per vector
    (qvec + scale), each vector is assigned to the centroid with the
    highest 6dp-ROUNDED cosine against its DEQUANTIZED form (ties to the
    higher centroid index — the same engine-portable rule as
    :func:`ivf_topk`, so the whole build is replayable by a SQL oracle),
    and (id, qvec, scale) rows are written partitioned by bucket. Only
    the quantized bytes hit storage; probes dequantize in the score
    expression (:func:`ivf_topk_indexed` reads the ``quantized`` sidecar
    stamp and does this automatically).

    ``centroids`` pins an explicit centroid set (full float — centroids
    are metadata-scale, n_centroids x dim, so quantizing THEM would save
    nothing and cost assignment accuracy); default is sampled k-means
    like :func:`write_ivf_index`. Assignment hoists the row norm into its
    own column first — the per-centroid lambda would otherwise recompute
    the O(dim) norm fold n_centroids times per row (no CSE inside
    lambdas) — and divides by driver-computed literal centroid norms."""
    import json as _json

    if centroids is None:
        centroids = _kmeans_centroids(corpus, vec_col, n_centroids, sample_fraction)
    _write_assigned_int8(
        corpus, centroids, path, id_col, vec_col, files_per_bucket, "overwrite"
    )

    sidecar = _json.dumps(
        {
            "centroids": centroids,
            "vec_col": vec_col,
            "id_col": id_col,
            "quantized": True,
            "qvec_col": "qvec",
            "scale_col": "scale",
            "assign": "cosine6-tiehigh",
        }
    )
    write_text_sidecar(corpus.sparkSession, f"{path}/_ivf_centroids", sidecar)
    return centroids


def _write_assigned_int8(
    rows: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str,
    vec_col: str,
    files_per_bucket: int | None,
    mode: str,
) -> None:
    """Quantize ``rows`` and write (id, qvec, scale) partitioned by the
    6dp-rounded-cosine nearest centroid of the DEQUANTIZED vector (ties to
    the higher centroid index) — shared by the one-shot int8 build and the
    append path so the two can never disagree on the assignment rule."""
    import math as _math

    from intake_esm_spark.operators._util import _spread

    cent_arr = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in centroids]
    )
    cnorms = [
        _math.sqrt(sum(float(v) * float(v) for v in c)) for c in centroids
    ]
    q = quantize_int8(rows, vec_col=vec_col, out_col="qvec", scale_col="scale")
    deq = dequantize(F.col("qvec"), F.col("scale"))
    staged = _spread(q).select(
        F.col(id_col), F.col("qvec"), F.col("scale"), deq.alias("__dvec")
    )
    staged = with_norm(staged, "__dvec", "__dnorm")
    sims = F.zip_with(
        cent_arr,
        F.array(*[F.lit(n) for n in cnorms]),
        lambda c, cn: F.round(dot(F.col("__dvec"), c) / (F.col("__dnorm") * cn), 6),
    )
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    pairs = F.zip_with(sims, idx, lambda s, i: F.struct(s.alias("sim"), i.alias("idx")))
    assigned = staged.withColumn(
        "bucket", F.reverse(F.array_sort(pairs))[0]["idx"]
    ).drop("__dvec", "__dnorm")
    if files_per_bucket is not None:
        assigned = assigned.repartition(
            len(centroids) * files_per_bucket,
            F.col("bucket"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_bucket)),
        )
    assigned.write.mode(mode).partitionBy("bucket").parquet(path)


def write_ivf_index_pq(
    corpus: DataFrame,
    path: str,
    codebooks: list[list[list[float]]],
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float = 0.1,
    files_per_bucket: int | None = 1,
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """The IVFPQ index (FAISS's workhorse shape): coarse inverted-file
    partitioning composed with product-quantized storage — each vector
    is assigned to its nearest centroid bucket by the FULL float vector
    (the 6dp-rounded-cosine / tie-high rule, so the build replays in
    SQL) and stored as its ``m``-int PQ code only. With 8 subspaces x
    16 codes that is 4 bytes/vector: 64x less index on disk than
    float32 (16x less than int8), 64x fewer bytes scanned per probed
    bucket. Probes prune partitions exactly like the other flavors and
    score the in-row PQ RECONSTRUCTION (``ivf_topk_indexed`` reads the
    ``pq`` sidecar stamp — codebooks travel IN the sidecar, so the
    probe needs no side channel). Accuracy is the PQ reconstruction's:
    train the codebooks (``pq.train_codebooks``) and raise nprobe to
    buy recall; rerank the top candidates against full vectors stored
    elsewhere when exact scores matter (the standard IVFPQ+refine
    recipe — the candidate ids this probe returns are the input to
    that join)."""
    import json as _json

    from intake_esm_spark.operators.pq import validate_codebooks

    validate_codebooks(codebooks)
    if centroids is None:
        centroids = _kmeans_centroids(corpus, vec_col, n_centroids, sample_fraction)
    _write_assigned_pq(
        corpus, centroids, codebooks, path, id_col, vec_col, files_per_bucket, "overwrite"
    )

    sidecar = _json.dumps(
        {
            "centroids": centroids,
            "vec_col": vec_col,
            "id_col": id_col,
            "pq": True,
            "codes_col": "pq_codes",
            "codebooks": codebooks,
            "assign": "cosine6-tiehigh",
        }
    )
    write_text_sidecar(corpus.sparkSession, f"{path}/_ivf_centroids", sidecar)
    return centroids


def _write_assigned_pq(
    rows: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str,
    vec_col: str,
    files_per_bucket: int | None,
    mode: str,
) -> None:
    """PQ-encode ``rows`` and write (id, pq_codes) partitioned by the
    6dp-rounded-cosine nearest centroid of the FULL vector (ties to the
    higher centroid index) — shared by the one-shot IVFPQ build and the
    append path so the two can never disagree. Assignment runs on the
    raw vector (not the reconstruction): the coarse quantizer should
    see the best available signal, and the rule stays identical to the
    int8 flavor's."""
    import math as _math

    from intake_esm_spark.operators._util import _spread
    from intake_esm_spark.operators.pq import pq_encode

    cent_arr = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in centroids]
    )
    cnorms = [
        _math.sqrt(sum(float(v) * float(v) for v in c)) for c in centroids
    ]
    staged = _spread(rows).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    staged = with_norm(staged, "__v", "__vn")
    sims = F.zip_with(
        cent_arr,
        F.array(*[F.lit(n) for n in cnorms]),
        lambda c, cn: F.round(dot(F.col("__v"), c) / (F.col("__vn") * cn), 6),
    )
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    pairs = F.zip_with(sims, idx, lambda s, i: F.struct(s.alias("sim"), i.alias("idx")))
    assigned = staged.select(
        F.col(id_col),
        pq_encode(F.col("__v"), codebooks).alias("pq_codes"),
        F.reverse(F.array_sort(pairs))[0]["idx"].alias("bucket"),
    )
    if files_per_bucket is not None:
        assigned = assigned.repartition(
            len(centroids) * files_per_bucket,
            F.col("bucket"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_bucket)),
        )
    assigned.write.mode(mode).partitionBy("bucket").parquet(path)


def ivf_index_append(
    new_rows: DataFrame,
    path: str,
    files_per_bucket: int | None = 1,
) -> None:
    """Incrementally add vectors to an existing :func:`write_ivf_index`
    table WITHOUT re-clustering: new rows are assigned to their nearest
    EXISTING centroid (read from the sidecar, so append and build can
    never disagree on the assignment rule) and appended into the matching
    bucket partitions. Probes see the union immediately — an appended
    index is plan-identical to one built in a single shot from the full
    corpus with the same centroids (asserted in tests).

    This is the index-maintenance path a streaming-ingest deployment
    needs: per-batch cost is one assignment pass + an append write of
    batch-sized data; the existing index bytes are never rewritten.
    Works on all three index flavors: an int8 index (``quantized``
    sidecar stamp) quantizes the batch, an IVFPQ index (``pq`` stamp)
    PQ-encodes it with the sidecar codebooks — each assigning with the
    build's rounded-cosine rule via the shared helper.
    Centroids drift from the true corpus clustering as appends accumulate
    (recall decays, correctness does not — probing is nearest-centroid on
    the same sidecar either way); rebuild with ``write_ivf_index`` when
    the appended fraction gets large. No return value: counting would
    re-execute the whole batch plan a second time (and could disagree
    with what a non-deterministic source actually wrote) — read the index
    back if a count is needed.
    """
    import json as _json

    spark = new_rows.sparkSession
    sidecar = _json.loads(read_text_sidecar(spark, f"{path}/_ivf_centroids"))
    if sidecar.get("pq"):
        _write_assigned_pq(
            new_rows,
            sidecar["centroids"],
            sidecar["codebooks"],
            path,
            sidecar["id_col"],
            sidecar["vec_col"],
            files_per_bucket,
            "append",
        )
        return
    if sidecar.get("quantized"):
        # quantize the batch and assign with the SAME sidecar centroids +
        # rounded-cosine rule the int8 build used (shared helper), so an
        # appended int8 index is plan-identical to a one-shot build
        _write_assigned_int8(
            new_rows,
            sidecar["centroids"],
            path,
            sidecar["id_col"],
            sidecar["vec_col"],
            files_per_bucket,
            "append",
        )
        return
    _write_assigned(
        new_rows,
        sidecar["centroids"],
        path,
        sidecar["id_col"],
        sidecar["vec_col"],
        files_per_bucket,
        "append",
    )


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str | None = None,
    vec_col: str | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str | None = None,
    max_queries: int = 10_000,
) -> DataFrame:
    """Approximate cosine top-k against a :func:`write_ivf_index` table.

    The query set is metadata-scale by contract (it is broadcast in every
    ANN formulation), so its probe buckets are computed driver-side with
    the sidecar centroids; their union becomes a ``bucket IN (...)``
    partition filter on the corpus scan — partition PRUNING, not a
    post-scan filter. Scoring and ranking are identical to ivf_topk.

    ``id_col``/``vec_col`` default to what :func:`write_ivf_index` recorded
    in the sidecar (that is what the sidecar is for); ``query_vec_col``
    names the query frame's vector column when it differs from the
    corpus's. Empty query sets return an empty result like the plan-based
    variants, instead of tripping numpy on a 0-row matmul.

    ``max_queries`` bounds the driver-side collect of the query set (the
    probe-bucket computation is inherently driver-side): pointing a
    million-row table at the query side gets a diagnostic instead of a
    driver OOM — batch the query table, or use the plan-based
    :func:`ivf_topk` for query sets that are themselves data-scale.
    """
    import json as _json

    import numpy as np

    sidecar = _json.loads(read_text_sidecar(spark, f"{path}/_ivf_centroids"))
    id_col = id_col or sidecar["id_col"]
    vec_col = vec_col or sidecar["vec_col"]
    query_vec_col = query_vec_col or vec_col
    quantized = bool(sidecar.get("quantized"))
    # float indexes store unit-norm k-means centroids (argmax dot == argmax
    # cosine); int8 indexes may pin arbitrary centroids and stamp the
    # 6dp-rounded-cosine assignment rule — the probe-bucket choice below
    # mirrors whichever rule built the index
    rounded_assign = sidecar.get("assign") == "cosine6-tiehigh"
    C = np.array(sidecar["centroids"], dtype=np.float64)

    q_rows = (
        queries.select(query_id_col, query_vec_col).limit(max_queries + 1).collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivf_topk_indexed collects the query set to the driver to plan "
            f"partition pruning; got more than max_queries={max_queries} rows. "
            "Batch the query table into chunks, or use ivf_topk for "
            "data-scale query sets."
        )
    qid_dtype = dict(queries.dtypes)[query_id_col]
    if not q_rows:
        id_dtype = dict(spark.read.parquet(path).dtypes)[id_col]
        return spark.createDataFrame(
            [], f"{query_id_col} {qid_dtype}, {id_col} {id_dtype}, cos_sim double"
        )
    Q = np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    sims = Q @ C.T  # argmax of dot == argmax of cosine when centroids unit-norm
    if rounded_assign:
        qn = np.linalg.norm(Q, axis=1, keepdims=True)
        cn = np.linalg.norm(C, axis=1, keepdims=True).T
        # replay the build's 'cosine6-tiehigh' rule EXACTLY: Spark F.round
        # and DuckDB round() are half-AWAY-FROM-ZERO, while np.round is
        # half-to-even — an exact .5 at the 7th decimal would probe a
        # different bucket than the build/oracle. Spark's Round(double)
        # rounds BigDecimal.valueOf(d) (the shortest round-trip decimal,
        # which is what python repr() also produces) with HALF_UP, so
        # Decimal(repr(x)).quantize(HALF_UP) is the faithful replay. The
        # matrix is queries x k (driver-side, metadata-scale), so the
        # per-element Decimal cost is irrelevant.
        from decimal import ROUND_HALF_UP, Decimal

        _q6 = Decimal("0.000001")
        sims = sims / (qn * cn)
        sims = np.array(
            [
                [
                    float(Decimal(repr(float(x))).quantize(_q6, rounding=ROUND_HALF_UP))
                    for x in row
                ]
                for row in sims
            ],
            dtype=np.float64,
        )
    probe: list[tuple] = []
    for qi, r in enumerate(q_rows):
        # desc sim, desc idx on ties — same order as reverse(array_sort(...))
        order = np.lexsort((np.arange(len(C)), sims[qi]))[::-1][:nprobe]
        for b in order:
            probe.append((r[0], int(b), [float(x) for x in Q[qi]]))
    buckets = sorted({b for _, b, _ in probe})

    corpus = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    if sidecar.get("pq"):
        # decode IN the score path: only the m-int code column is
        # scanned; the reconstruction is an in-row gather from the
        # sidecar codebooks (ADC with the lookup table precomputed)
        from intake_esm_spark.operators.pq import pq_decode

        cvec = pq_decode(F.col(sidecar["codes_col"]), sidecar["codebooks"])
    elif quantized:
        # dequantize IN the score path: only int8 bytes are scanned; the
        # float reconstruction q * scale happens per probed row, in-row
        cvec = dequantize(
            F.col(sidecar["qvec_col"]), F.col(sidecar["scale_col"])
        )
    else:
        cvec = F.col(vec_col)
    c = with_norm(
        corpus.select(F.col(id_col), F.col("bucket"), cvec.alias("__cvec")),
        "__cvec",
        "__cnorm",
    )
    q_bucketed = with_norm(
        spark.createDataFrame(
            probe, f"{query_id_col} {qid_dtype}, bucket int, __qvec array<double>"
        ),
        "__qvec",
        "__qnorm",
    )
    scored = c.join(F.broadcast(q_bucketed), on="bucket").select(
        query_id_col,
        id_col,
        (
            dot(F.col("__cvec"), F.col("__qvec"))
            / (F.col("__cnorm") * F.col("__qnorm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    sample_fraction: float = 0.1,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate cosine top-k via inverted-file partitioning.

    Corpus vectors are bucketed by nearest centroid (map-side, broadcast
    centroid array); each query scans only its ``nprobe`` closest buckets.
    Recall rises with nprobe; nprobe == n_centroids degenerates to exact.

    ``centroids`` overrides the sampled k-means (``n_centroids`` /
    ``sample_fraction`` are then ignored): any vectors work — they need
    not be unit-norm (assignment uses full cosine) — and an explicit,
    SQL-reproducible choice (e.g. the embeddings of fixed ids) makes the
    whole ANN pipeline exactly checkable against a SQL oracle. Bucket
    assignment compares 6dp-ROUNDED cosines with ties to the HIGHER
    centroid index: rounding is what lets two engines with different
    float-summation orders agree on the argmax, and the tie rule makes
    the quantized comparison total.
    """
    import math as _math

    if centroids is None:
        centroids = _kmeans_centroids(corpus, vec_col, n_centroids, sample_fraction)
    cent_arr = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in centroids]
    )
    # centroid norms as driver-side literals + the row norm HOISTED to a
    # column the score path needs anyway: assignment costs k dot folds
    # per row, not 2k+1 (the inlined l2_norm(vec) would re-fold the
    # vector once per centroid — no CSE inside lambdas). Python double
    # arithmetic is IEEE-identical to the engine's, so the rounded
    # assignment values are unchanged and the SQL oracle still matches.
    cnorm_arr = F.array(
        *[F.lit(_math.sqrt(sum(float(v) * float(v) for v in c))) for c in centroids]
    )

    def nearest_buckets(vec: F.Column, norm: F.Column, n: int) -> F.Column:
        sims = F.zip_with(
            cent_arr,
            cnorm_arr,
            lambda c, cn: F.round(dot(vec, c) / (norm * cn), 6),
        )
        idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
        pairs = F.zip_with(
            sims, idx, lambda s, i: F.struct(s.alias("sim"), i.alias("idx"))
        )
        return F.slice(F.reverse(F.array_sort(pairs)), 1, n)

    from intake_esm_spark.operators._util import _spread

    c_bucketed = with_norm(
        _spread(corpus).select(F.col(id_col), F.col(vec_col).alias("__cvec")),
        "__cvec",
        "__cnorm",
    ).select(
        id_col,
        "__cvec",
        "__cnorm",
        nearest_buckets(F.col("__cvec"), F.col("__cnorm"), 1)[0]["idx"].alias(
            "bucket"
        ),
    )
    q_bucketed = with_norm(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec")),
        "__qvec",
        "__qnorm",
    ).select(
        query_id_col,
        "__qvec",
        "__qnorm",
        F.explode(
            F.transform(
                nearest_buckets(F.col("__qvec"), F.col("__qnorm"), nprobe),
                lambda s: s["idx"],
            )
        ).alias("bucket"),
    )
    scored = c_bucketed.join(F.broadcast(q_bucketed), on="bucket").select(
        query_id_col,
        id_col,
        (
            dot(F.col("__cvec"), F.col("__qvec"))
            / (F.col("__cnorm") * F.col("__qnorm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = floor(x_i / scale + 0.5)`` clamped to [-127, 127] (explicit
    floor(+0.5) instead of round() so every engine — and any SQL oracle —
    computes the identical integer; an all-zero vector quantizes to zeros
    with scale 0).

    The storage lever for ANN at scale: an int8 index is 4x smaller than
    float32 — 4x less to scan per probed IVF bucket, 4x more of the index
    in page cache; compose with :func:`write_ivf_index` by quantizing
    before the write and dequantizing (``q * scale``) in the probe's
    score expression. Pure projection: zero shuffle, codegen'd array
    transform, no Python.

    The scale is materialized as its OWN column before the per-element
    transform references it: inlining ``array_max(...)/127`` into the
    lambda would re-evaluate the whole-array max once per element
    (O(d^2) per row — no CSE inside lambdas, SCALE.md pitfall #2)."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    amax = F.array_max(F.transform(x, F.abs))
    with_scale = df.withColumn(scale_col, amax / F.lit(127.0))
    sc = F.col(scale_col)
    q = F.when(sc == 0.0, F.transform(x, lambda v: F.lit(0))).otherwise(
        F.transform(
            x,
            lambda v: F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.floor(v / sc + F.lit(0.5)).cast("int")),
            ),
        )
    )
    return with_scale.withColumn(out_col, q)


def dequantize(qvec: F.Column, scale: F.Column) -> F.Column:
    """Reconstruct the float vector: ``q * scale`` (array<double>)."""
    return F.transform(qvec, lambda v: v.cast("double") * scale)


def hyperplane_coeffs(n_planes: int, dim: int, salt: str = "hp") -> list[list[float]]:
    """Deterministic random-projection hyperplanes: component (j, d) is
    uniform in [-1, 1], derived from ``md5(salt|j|d)`` — no RNG state, the
    SAME constants regenerate in any engine/process (the construction the
    MinHash permutations use, dedup.perm_coeffs), which is what lets the
    LSH bucketing be replayed exactly by a SQL oracle."""
    import hashlib

    def _u(tag: str) -> float:
        h = int.from_bytes(hashlib.md5(tag.encode()).digest()[:8], "big")
        return (h / float(1 << 64)) * 2.0 - 1.0

    return [[_u(f"{salt}|{j}|{d}") for d in range(dim)] for j in range(n_planes)]


def band_signatures(
    vec: F.Column, planes: list[list[float]], bands: int
) -> F.Column:
    """Array of ``bands`` band-signature structs ``(band, sig)`` for a
    vector: the planes are split round-robin-free into ``bands``
    contiguous groups of ``r = n_planes/bands`` planes; ``sig`` packs the
    r sign bits (``dot(vec, plane) >= 0``) of the band into one bigint.
    Two vectors collide on a band iff all r signs agree — the classic
    angular-LSH band amplification (collision prob = (1 - theta/pi)^r
    per band)."""
    n = len(planes)
    if n % bands != 0:
        raise ValueError(f"n_planes={n} not divisible by bands={bands}")
    r = n // bands
    # Formulation note (round 6): an alternative computing ALL n plane
    # partial sums in ONE F.aggregate fold (17-field struct accumulator,
    # n element_at + n FMA per step — the _rle_fold trick) was built and
    # A/B-measured against these per-plane folds: 38 ms vs 35 ms medians
    # over 64k rows x 7 repeats, i.e. statistically indistinguishable and
    # both inside fixed job overhead. The signature stage is <= 2% of
    # cosine_pairs_lsh (profiled: the query's seconds are the blocking
    # job + Arrow/Python GEMM startup at bench scale), so the simpler
    # per-plane form stays. See BASELINE.md round-6 notes.
    out = []
    for b in range(bands):
        sig = F.lit(0).cast("bigint")
        for i in range(r):
            plane = planes[b * r + i]
            lit_plane = F.array(*[F.lit(v) for v in plane])
            bit = (dot(vec, lit_plane) >= 0).cast("bigint")
            sig = sig + bit * F.lit(1 << i).cast("bigint")
        out.append(F.struct(F.lit(b).alias("band"), sig.alias("sig")))
    return F.array(*out)


def cosine_pairs_lsh(
    df: DataFrame,
    threshold: float,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "hp",
    max_block_rows: int | None = 8192,
    dim: int | None = None,
) -> DataFrame:
    """Approximate all-pairs cosine >= threshold via banded angular LSH:
    random-hyperplane band signatures block the corpus, the blocked-GEMM
    kernel (:func:`cosine_pairs_blocked`) scores within each (band, sig)
    bucket, and pairs colliding in several bands are deduplicated by a
    min-band rule. Recall is the LSH amplification curve (rises with
    ``bands``, falls with ``n_planes/bands``); precision is exact — every
    emitted pair's cosine is verified by the kernel.

    100 TB shape: signatures are in-row codegen (dot folds against
    literal plane arrays, zero shuffle); the only exchanges are the
    explode-by-band groupBy the GEMM kernel needs (rows x bands, keyed by
    short (band, sig) buckets) and the final pair dedup keyed by the pair
    id. Dimension is read from the first plane; no driver pass over data.
    """
    if dim is None:
        # 1-row schema probe; pass dim explicitly to keep the operator a
        # pure plan transform (no driver action at construction time)
        dim_probe = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        if not dim_probe:
            return cosine_pairs_blocked(
                df.withColumn("__sig", F.lit("")), "__sig", threshold,
                id_col=id_col, vec_col=vec_col, max_block_rows=max_block_rows,
            ).drop("__sig")
        dim = dim_probe[0]["d"]
    planes = hyperplane_coeffs(n_planes, dim, salt)
    sigs = band_signatures(F.col(vec_col), planes, bands)
    exploded = df.select(id_col, vec_col).withColumn("__band", F.explode(sigs))
    blocked = exploded.withColumn(
        "__sig",
        F.concat_ws(":", F.col("__band")["band"], F.col("__band")["sig"]),
    ).drop("__band")
    pairs = cosine_pairs_blocked(
        blocked, "__sig", threshold,
        id_col=id_col, vec_col=vec_col, max_block_rows=max_block_rows,
    )
    # a pair colliding in k bands appears k times with identical cos_sim
    # (same normed vectors through the same kernel); min() collapses the
    # duplicates deterministically in one exchange keyed by the pair id
    return pairs.groupBy("id_a", "id_b").agg(F.min("cos_sim").alias("cos_sim"))


def ivf_topk_rerank(
    spark,
    path: str,
    queries: DataFrame,
    full_vectors: DataFrame,
    k: int = 10,
    k_candidates: int | None = None,
    nprobe: int = 4,
    id_col: str | None = None,
    vec_col: str | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str | None = None,
) -> DataFrame:
    """The standard compressed-index + refine recipe: probe a
    :func:`write_ivf_index_pq` / :func:`write_ivf_index_int8` index for
    ``k_candidates`` (default ``4*k``) approximate candidates per query,
    then RERANK only those candidates against their FULL float vectors
    (``full_vectors`` — the source-of-truth table the index was built
    from) and return the exact-scored top ``k``.

    **Precondition: ``full_vectors`` must cover every id in the index**
    (including rows added later via :func:`ivf_index_append`). The
    rerank join is an inner join by design — a candidate id missing
    from ``full_vectors`` is silently dropped from the result, which is
    the correct behavior for a source-of-truth table (the index entry
    is stale) but means a DRIFTED table quietly lowers recall: if you
    append to the index, rerank against the equally-appended vector
    table.

    This is how a 100 TB deployment gets exact final scores without
    exact costs: the compressed index bounds the bytes scanned (the PQ
    index reads 4-byte codes from nprobe/n_centroids of the
    partitions), and the full-vector table is touched only via an
    id-keyed join of queries x k_candidates rows — candidate-set-sized,
    never corpus-sized. Recall is the index's candidate recall (raise
    ``nprobe`` / ``k_candidates`` to buy more); scores and the final
    ranking inside the candidate set are exact."""
    import json as _json

    from pyspark.sql import Window

    sidecar = _json.loads(read_text_sidecar(spark, f"{path}/_ivf_centroids"))
    id_col = id_col or sidecar["id_col"]
    vec_col = vec_col or sidecar["vec_col"]
    query_vec_col = query_vec_col or vec_col
    kc = k_candidates if k_candidates is not None else 4 * k
    if kc < k:
        raise ValueError(f"k_candidates={kc} must be >= k={k}")

    cand = ivf_topk_indexed(
        spark, path, queries, k=kc, nprobe=nprobe,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select(query_id_col, id_col)
    full = full_vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__fv")
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).cast("array<double>").alias("__qv"),
    )
    joined = (
        cand.join(full, id_col)
        .join(F.broadcast(q), query_id_col)
    )
    joined = with_norm(joined, "__fv", "__fn")
    joined = with_norm(joined, "__qv", "__qn")
    scored = joined.select(
        query_id_col,
        id_col,
        (
            dot(F.col("__fv"), F.col("__qv"))
            / (F.col("__fn") * F.col("__qn"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )
