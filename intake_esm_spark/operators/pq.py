"""Product quantization (PQ) for embedding compression and ANN scoring.

The third leg of the compression story after float32 and int8
(``simsearch.quantize_int8``): split each ``d``-dim vector into ``m``
subvectors, quantize every subvector to its nearest entry in a
per-subspace codebook of ``k`` centroids, and store only the ``m``
code indices — ``m·ceil(log2 k)`` bits per vector (8 subspaces ×
16 codes = 4 bytes here, vs 256 bytes float32: 64×). Jégou, Douze,
Schmid, "Product Quantization for Nearest Neighbor Search" (TPAMI
2011). (The reference engine has no vector surface; extension per
SURVEY §2.9, same family as ``operators.simsearch``.)

Spark-first shape
-----------------
* **Codebooks are plan literals** — this module takes them as plain
  python ``m × k × d/m`` lists, so encode/decode/score are pure IN-ROW
  codegen'd expressions: zero shuffle, zero Python, and a SQL oracle
  can replay them from the same constants (the hyperplane-LSH /
  IVF-pinned-centroid pattern). :func:`train_codebooks` refines seeds
  with distributed per-subspace Lloyd iterations (all m subspaces in
  one corpus pass); the driver entries derive seeds from the first
  ``k`` corpus vectors — deterministic AND data-shaped.
* **Encode** (:func:`pq_encode`): per subspace, squared-L2 distance to
  each centroid as one fixed-order fold (6dp-rounded — the cosine6
  convention absorbing nothing here since the order is pinned, but
  keeping every cross-engine comparison on the same contract), argmin
  with ties to the LOWEST code. Subvectors materialize in their own
  projection (no CSE inside lambdas — the standing pitfall).
* **Scoring** (:func:`pq_topk`): asymmetric distance computation
  (ADC) is mathematically ``score(q, decode(codes))`` — the classic
  per-query lookup table is just a precomputation of those partial
  distances. This module scores the RECONSTRUCTION directly: the scan
  reads only the ``m`` small code ints, the decode is an in-row
  gather from literal codebooks, and the cosine/top-k plan is
  identical to ``simsearch`` brute force — which keeps the oracle
  exact and the recall directly comparable to the float path. At 100
  TB the win is the scan: 64× fewer embedding bytes read, same
  shuffle shape (per-query partial top-k, corpus never shuffles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def validate_codebooks(codebooks: list[list[list[float]]]) -> tuple[int, int, int]:
    """Shape-check ``codebooks`` (m subspaces × k centroids × dsub dims)
    and return ``(m, k, dsub)``."""
    m = len(codebooks)
    if m == 0:
        raise ValueError("codebooks must be non-empty")
    k = len(codebooks[0])
    dsub = len(codebooks[0][0]) if k else 0
    if k == 0 or dsub == 0:
        raise ValueError("each subspace needs >= 1 centroid of >= 1 dim")
    for j, book in enumerate(codebooks):
        if len(book) != k or any(len(c) != dsub for c in book):
            raise ValueError(
                f"ragged codebooks: subspace {j} is not {k} x {dsub}"
            )
    return m, k, dsub


def _sub(vec: Column, j: int, dsub: int) -> Column:
    return F.slice(vec, j * dsub + 1, dsub)


def _books_lit(codebooks: list[list[list[float]]]) -> Column:
    return F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(v)) for v in codebooks[j][i]])
                    for i in range(len(codebooks[j]))
                ]
            )
            for j in range(len(codebooks))
        ]
    )


def pq_encode(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """PQ code array (``array<int>``, one code per subspace): nearest
    centroid by 6dp-rounded squared-L2, ties to the lowest code. Pass a
    MATERIALIZED (cast-to-double) vector column — each subspace slice
    references it, and an inlined upstream expression would re-evaluate
    per subspace.

    Expression SHAPE matters more than per-row arithmetic here: the
    k distances per subspace are ONE ``transform`` lambda over the
    shared literal codebook array, not k expanded fold subtrees — the
    expanded form (m*k independent zip/fold trees, 128 here) measured
    ~5x slower end-to-end, dominated by Catalyst analysis + codegen of
    the giant tree, not by row work. Same distances, same rounding,
    same tie rule either way (the SQL oracle is unchanged)."""
    m, k, dsub = validate_codebooks(codebooks)
    books = _books_lit(codebooks)
    codes = []
    for j in range(m):
        sub = _sub(vec, j, dsub)
        book_j = books[j]
        # plain closure over book_j/sub: F.transform consumes the lambda
        # EAGERLY (no loop late-binding hazard), and default-arg capture
        # would change the lambda's arity, which pyspark inspects
        pairs = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: F.named_struct(
                F.lit("d"),
                F.round(
                    F.aggregate(
                        F.zip_with(sub, book_j[i], lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    6,
                ),
                F.lit("i"),
                i,
            ),
        )
        codes.append(F.array_sort(pairs)[0]["i"])
    # loud dimension guard: a vector whose length != m*dsub would slice
    # short subvectors, null every distance via zip_with padding, and
    # silently encode as code 0 everywhere — a garbage index with no
    # error. CaseWhen evaluates branches lazily, so the error fires only
    # on an actual mismatched row.
    return F.when(F.size(vec) == m * dsub, F.array(*codes)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"pq_encode: vector dim != m*dsub = {m * dsub}, got "),
                F.size(vec).cast("string"),
            )
        )
    )


def pq_decode(codes: Column, codebooks: list[list[list[float]]]) -> Column:
    """Reconstructed vector (``array<double>``) from a PQ code array:
    concatenate the selected centroid of every subspace — an in-row
    gather from plan literals."""
    m, k, dsub = validate_codebooks(codebooks)
    books = _books_lit(codebooks)
    parts = [books[j][codes[j]] for j in range(m)]
    return F.concat(*parts)


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-``k`` per query against a PQ-encoded
    corpus: broadcast the (metadata-scale) query side, score every
    corpus row's RECONSTRUCTION in-row, partial top-k per query —
    ``(query_id, id, cos_sim)`` with the rounded-score/id total order
    the whole simsearch family ranks by. The corpus scan touches only
    the m-int code column."""
    from pyspark.sql import Window

    from intake_esm_spark.operators.simsearch import dot, l2_norm

    rec = corpus_codes.select(
        F.col(id_col),
        pq_decode(F.col(codes_col), codebooks).alias("__rv"),
    )
    rec = rec.withColumn("__rn", l2_norm(F.col("__rv")))
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).cast("array<double>").alias("__qv"),
    )
    q = q.withColumn("__qn", l2_norm(F.col("__qv")))
    scored = rec.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            dot(F.col("__rv"), F.col("__qv")) / (F.col("__rn") * F.col("__qn")),
            6,
        ).alias("cos_sim"),
    )
    # ties to the LOWER id — the same (rounded score desc, id asc)
    # total order brute_force_topk / ivf_topk / rerank rank by, so PQ
    # recall measured against the float path compares like with like
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def codebooks_from_rows(
    vectors: list[list[float]], m: int
) -> list[list[list[float]]]:
    """Codebooks from ``k`` sample vectors: centroid ``(j, i)`` is the
    j-th subvector of sample ``i`` — the deterministic, data-shaped
    seeding the driver entries use (the IVF pinned-centroid pattern);
    production replaces it with per-subspace k-means
    (``clustering.kmeans_refine`` over ``F.slice``-projected vectors)."""
    if not vectors:
        raise ValueError("need at least one sample vector")
    d = len(vectors[0])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return [
        [[float(v) for v in vec[j * dsub : (j + 1) * dsub]] for vec in vectors]
        for j in range(m)
    ]


def train_codebooks(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    iters: int = 1,
) -> list[list[list[float]]]:
    """Refine PQ ``codebooks`` with ``iters`` Lloyd iterations over the
    full corpus — the training step that turns the data-sampled seeds
    (:func:`codebooks_from_rows`) into proper per-subspace quantizers.
    All ``m`` subspaces train in ONE pass per iteration: the corpus
    explodes to (subspace, subvector) rows, assignment is an in-row
    argmin against the literal 3-D codebook array (indexed by the row's
    subspace — no per-subspace plan branches), and the update is a
    map-side-partial mean keyed by (subspace, code, position) — the
    shuffle carries ``partitions x m x k x dsub`` partial sums and only
    ``m x k x dsub`` rows reach the driver (1024 here). Empty codes keep
    their previous centroid (the ``kmeans_refine`` rule). Deterministic:
    assignment uses the same 6dp-rounded fixed-order distances as
    :func:`pq_encode`, means are rounded with the engine's HALF_UP rule,
    so the result is a pure function of (corpus multiset, seeds, iters).

    Same caller contract as ``clustering.kmeans_refine``: ``persist()``
    the input for ``iters > 1`` — each iteration is one action over
    ``df``."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    from intake_esm_spark.operators.clustering import _round6_half_up

    m, k, dsub = validate_codebooks(codebooks)
    current = [[[float(v) for v in c] for c in book] for book in codebooks]
    for _ in range(iters):
        books_lit = F.array(
            *[
                F.array(
                    *[
                        F.array(*[F.lit(float(v)) for v in current[j][i]])
                        for i in range(k)
                    ]
                )
                for j in range(m)
            ]
        )
        vec = F.col(vec_col).cast("array<double>")
        subs = df.select(
            F.posexplode(
                F.array(*[F.slice(vec, j * dsub + 1, dsub) for j in range(m)])
            ).alias("__j", "__sub")
        )
        # assignment: distances against THIS row's subspace book via one
        # literal-array index — the book element materializes in its own
        # column first (no CSE inside lambdas)
        withbook = subs.withColumn("__book", books_lit[F.col("__j")])
        # named_struct, not struct(...alias...): field aliases are lost
        # inside a transform() lambda (fields come out col1/x_1)
        pairs = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: F.named_struct(
                F.lit("d"),
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col("__sub"),
                            F.col("__book")[i],
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    6,
                ),
                F.lit("i"),
                i,
            ),
        )
        assigned = withbook.select(
            "__j",
            F.array_sort(pairs)[0]["i"].alias("__code"),
            F.posexplode(F.col("__sub")).alias("__pos", "__x"),
        )
        sums = (
            assigned.groupBy("__j", "__code", "__pos")
            .agg(F.sum("__x").alias("__s"), F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        acc: dict[tuple[int, int], list[float]] = {}
        for r in sums:
            key = (r["__j"], r["__code"])
            acc.setdefault(key, [0.0] * dsub)[r["__pos"]] = r["__s"] / r["__n"]
        nxt = []
        for j in range(m):
            book = []
            for i in range(k):
                if (j, i) in acc:
                    book.append([_round6_half_up(v) for v in acc[(j, i)]])
                else:
                    book.append([_round6_half_up(v) for v in current[j][i]])
            nxt.append(book)
        current = nxt
    return current
