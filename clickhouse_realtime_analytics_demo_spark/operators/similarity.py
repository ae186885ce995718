"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: exact baseline. The dot product is a
  sequential JVM fold (``F.aggregate`` over ``zip_with``) — order-
  deterministic, codegen'd, no Python.
- LSH-bucketed ANN (random hyperplane signs): the scale path — hash
  each vector to a signature, probe only matching buckets.
- Embedding-cosine near-dup: all candidate pairs with cosine ≥ t,
  LSH-blocked.

At 100 TB the brute-force path is a broadcast of the (small) query
set against a partitioned scan — linear, no shuffle; the LSH path cuts
the scanned fraction by bucketing.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.session import core_floor_partitions


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two double arrays (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    da, db = _to_double(a), _to_double(b)
    return dot(da, db) / (norm(da) * norm(db))


def brute_force_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors of one stored vector.

    Plan: 1-row query vector broadcast → map-side cosine per row →
    TakeOrderedAndProject top-k (no global sort). Tie-break on id.
    """
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("query_vec")
    )
    return (
        embeddings.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col(vec_col), F.col("query_vec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), "neighbor_id")
        .limit(k)
    )


def random_hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH signature: bit i = (vec · plane_i) >= 0. Returns bigint."""
    dvec = _to_double(vec)
    sig = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(dvec, plane_col) >= 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = sig.bitwiseOR(bit)
    return sig


def lsh_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe only vectors sharing the query's LSH
    bucket (plus re-rank by exact cosine).

    Scale: the bucket filter turns a full scan into ~1/2^planes of the
    data; signatures are computed once at write time in a real
    deployment (here inline).
    """
    planes = random_hyperplanes(dim, num_planes, seed)
    with_sig = embeddings.withColumn("lsh_sig", lsh_signature(F.col(vec_col), planes))
    q = with_sig.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("query_vec"), F.col("lsh_sig").alias("query_sig")
    )
    return (
        with_sig.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .filter(F.col("lsh_sig") == F.col("query_sig"))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col(vec_col), F.col("query_vec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), "neighbor_id")
        .limit(k)
    )


# Above this many centroid FLOATS (|C| × dim), the plan-literal
# assignment is replaced by the Arrow/numpy one: each centroid becomes
# |C| dot-product expressions folded into the plan, and past a few
# thousand literals Catalyst analysis/codegen time grows faster than
# the assignment itself (measured in SCALEPROBE "Semantic dedup vs
# corpus size"). 16 cells × 64 dims = 1,024 stays literal; a
# production 10⁴-10⁵-cell quantizer goes Arrow.
_LITERAL_ASSIGN_MAX_FLOATS = 4096


def assign_cells_arrow(
    embeddings: DataFrame, centroids: list[list[float]], id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, cell) nearest-centroid assignment for LARGE cell
    counts: one vectorized numpy matmul per Arrow batch against the
    broadcast centroid matrix — (B×D)·(D×|C|) then argmax, the
    FAISS-style production shape. No shuffle, no per-row Python; the
    centroid matrix ships once per task closure (|C|×D floats —
    kilobytes to megabytes, never data-sized). Ties break to the
    lowest cell index, same as the literal form's array_position."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64).T  # D × C
    cnorm = np.linalg.norm(cmat, axis=0)
    cnorm[cnorm == 0.0] = 1.0
    out_schema = f"id long, {vec_col_schema(embeddings, vec_col)}, cell int"

    def assign(batches):
        for pdf in batches:
            m = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
            vnorm = np.linalg.norm(m, axis=1, keepdims=True)
            vnorm[vnorm == 0.0] = 1.0
            sims = (m @ cmat) / (vnorm * cnorm)
            pdf = pdf.copy()
            pdf["cell"] = np.argmax(sims, axis=1).astype("int32")
            yield pdf

    pre = embeddings.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
    )
    return pre.mapInPandas(assign, schema=out_schema)


def vec_col_schema(df: DataFrame, vec_col: str) -> str:
    elem = dict((f.name, f.dataType) for f in df.schema.fields)[vec_col].elementType
    return f"vec array<{elem.simpleString()}>"


def _assign_cells(embeddings: DataFrame, centroids: list[list[float]], id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, cell): nearest-centroid assignment by cosine.

    Centroids are literal arrays folded into the plan (broadcast-by-
    construction); the argmax over |C| dot products is map-side JVM
    work — no shuffle, no Python. For cell counts past
    ``_LITERAL_ASSIGN_MAX_FLOATS`` total floats this defers to
    :func:`assign_cells_arrow` — the plan-literal form's analysis/
    codegen cost grows with |C| and a production coarse quantizer
    carries 10⁴-10⁵ cells.
    """
    if len(centroids) * len(centroids[0]) > _LITERAL_ASSIGN_MAX_FLOATS:
        return assign_cells_arrow(embeddings, centroids, id_col, vec_col)
    dvec = F.col("dvec")
    sims = F.array(
        *[
            dot(dvec, F.array(*[F.lit(x) for x in c])) / (norm(dvec) * F.lit(_l2(c)))
            for c in centroids
        ]
    )
    pre = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _to_double(F.col(vec_col)).alias("dvec"),
    )
    # materialize sims once (projection barrier — same Catalyst
    # re-evaluation hazard as operators/dedup.py shingling).
    with_sims = pre.select("id", "vec", sims.alias("sims"))
    return with_sims.select(
        "id",
        "vec",
        (F.array_position(F.col("sims"), F.array_max(F.col("sims"))) - 1).cast("int").alias("cell"),
    )


def _l2(v: list[float]) -> float:
    return sum(x * x for x in v) ** 0.5 or 1.0


def ivf_index(
    embeddings: DataFrame,
    num_cells: int = 16,
    lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: deterministic seed centroids (the
    ``num_cells`` lowest-id vectors) refined by ``lloyd_iters``
    k-means steps, then a cell assignment per vector.

    The Lloyd step is the iterative-algorithm pattern on DataFrames:
    assign (map-side) → per-(cell, dim) mean via posexplode + groupBy
    (one shuffle, |C|×dim tiny result) → collect centroids to the
    driver (|C|×dim floats — bounded, never data-sized) → next round
    folds them back in as literals. At 100 TB you train on a sample
    and only the final assignment touches the full table.
    """
    seeds = embeddings.orderBy(id_col).limit(num_cells).select(vec_col).collect()
    centroids = [[float(x) for x in r[0]] for r in seeds]
    for _ in range(lloyd_iters):
        assigned = _assign_cells(embeddings, centroids, id_col, vec_col)
        means = (
            assigned.select("cell", F.posexplode_outer(_to_double(F.col("vec"))).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ms"))
            .collect()
        )
        by_cell = {r.cell: [s.m for s in r.ms] for r in means}
        centroids = [by_cell.get(i, centroids[i]) for i in range(num_cells)]
    return _assign_cells(embeddings, centroids, id_col, vec_col), centroids


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 4,
    lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: probe only the ``nprobe`` cells whose centroids
    are nearest the query, exact-cosine re-rank inside them.

    Scanned fraction ≈ nprobe/num_cells of the corpus (vs 1/2^planes
    for sign-LSH, with much better recall tuning). The cell filter is
    a map-side predicate on the assignment — at scale the assignment
    is precomputed at write time and the table is partitioned by cell,
    turning the probe into partition pruning.
    """
    assigned, centroids = ivf_index(embeddings, num_cells, lloyd_iters, id_col, vec_col)
    qrow = embeddings.filter(F.col(id_col) == query_id).select(vec_col).collect()
    qvec = [float(x) for x in qrow[0][0]]
    qn = _l2(qvec)

    def cos_to_q(c: list[float]) -> float:
        return sum(a * b for a, b in zip(qvec, c)) / (qn * _l2(c))

    probe = sorted(range(len(centroids)), key=lambda i: (-cos_to_q(centroids[i]), i))[:nprobe]
    q = embeddings.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("query_vec"))
    return (
        assigned.filter(F.col("cell").isin(probe) & (F.col("id") != query_id))
        .crossJoin(F.broadcast(q))
        .select(
            F.col("id").alias("neighbor_id"),
            F.round(cosine(F.col("vec"), F.col("query_vec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), "neighbor_id")
        .limit(k)
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: LSH-bucket self-join →
    exact-cosine verify ≥ threshold. Same candidate-generation shape
    as MinHash-LSH text dedup.

    ``max_bucket_size`` is the opt-in quadratic-blowup valve (default
    None = report everything, matching operators/dedup.py): a
    degenerate signature bucket of B vectors contributes B² candidate
    pairs — e.g. a corpus with millions of zero/boilerplate embeddings
    sharing one signature. Buckets above the cap are dropped before
    the self-join — including any genuine giant near-dup cluster, the
    standard LSH-cap trade-off, so enable it deliberately at scale.
    The size filter shuffles on the same ``sig`` key as the join, so
    AQE reuses the exchange.
    """
    planes = random_hyperplanes(dim, num_planes, seed)
    sigs = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        lsh_signature(F.col(vec_col), planes).alias("sig"),
    )
    if max_bucket_size is not None:
        sizes = sigs.groupBy("sig").agg(F.count("*").alias("bucket_n"))
        sigs = (
            sigs.join(sizes, "sig").filter(F.col("bucket_n") <= max_bucket_size).drop("bucket_n")
        )
    # Spread the probe side explicitly (same hazard as
    # dedup.ngram_jaccard_pairs, measured there): per-pair vector math
    # is expression-heavy but byte-light, so the scan's split count —
    # not AQE — decides verify parallelism, and AQE's byte-based
    # coalescing would squeeze any exchange back down. An explicit
    # numPartitions repartition is never coalesced.
    n_parts = core_floor_partitions(embeddings.sparkSession)
    a = sigs.repartition(n_parts, "id").alias("a")
    # Broadcast the build side EXPLICITLY: the join is equi on `sig`,
    # so past the auto-broadcast threshold Spark would pick a
    # sort-merge join that re-shuffles BOTH sides on sig — silently
    # discarding the repartition above (ADVICE r6). A broadcast join
    # has no output partitioning requirement, so the probe-side spread
    # provably survives. Size bound: this operator is the small/mid-
    # scale verify stage (docstring) — at corpus scale the LSH-bucket
    # pipeline generates candidates instead of this self-join.
    b = F.broadcast(sigs.alias("b"))
    return (
        a.join(b, (F.col("a.sig") == F.col("b.sig")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.vec"), F.col("b.vec")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def label_centroids(
    embeddings: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Distributed per-label vector mean (class centroids) — the
    aggregation under IVF/k-means training, class prototypes, and
    embedding-drift monitors.

    Exactness contract: each component is quantized to fixed-point
    ``floor(x * scale)`` BIGINT *before* summing, so the sum is
    order-independent (integer) and bit-identical for any partition
    count — same pattern as queries/_det.py's decimal money sums,
    chosen over decimal casts because double→decimal rounding modes
    differ across engines while ``floor`` does not. At the default
    micro-unit scale the per-component quantization error is ≤1e-6
    on unit-scale embeddings.

    Scale shape: posexplode fans each vector into (dim, component)
    rows, but partial aggregation (map-side combine) collapses them
    to ≤ labels x dim rows per task before the ONE shuffle — at
    100 TB the exchange carries |labels| x dim x num_tasks rows, not
    n x dim.
    """
    comp = F.posexplode(vec_col)
    return (
        embeddings.select(F.col(label_col).alias("label"), comp.alias("dim", "_x"))
        .select(
            "label",
            "dim",
            F.floor(F.col("_x").cast("double") * F.lit(float(scale)))
            .cast("bigint")
            .alias("_micro"),
        )
        .groupBy("label", "dim")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("_micro").alias("sum_micro"),
        )
        .withColumn(
            "avg_micro", F.col("sum_micro").cast("double") / F.col("n_vecs").cast("double")
        )
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_cells: int = 16,
    lloyd_iters: int = 1,
    max_cluster_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: k-means cluster
    the embeddings (the :func:`ivf_index` coarse quantizer), then find
    exact-cosine ≥ threshold pairs WITHIN each cluster only — the
    published recipe (Abbas et al. 2023, "SemDeDup") that makes
    embedding dedup tractable at corpus scale: pairwise work drops
    from O(N²) to Σ cluster², and num_cells grows with the corpus so
    clusters stay bounded (SemDeDup uses ~100k clusters at web scale;
    a cluster is the semantic analog of dedup.py's LSH bucket).

    Differences vs :func:`cosine_near_dup_pairs` (random-hyperplane
    LSH blocking): clustering groups by SEMANTIC proximity rather than
    hash collision, so a near-dup pair is only missed when k-means
    splits it across cells (boundary pairs) — the same bounded-recall
    trade the paper documents — while LSH misses are signature-
    probabilistic. Both feed the same CC keep-one resolution.

    ``max_cluster_size`` is the quadratic valve (same contract as
    dedup.py's ``max_bucket_size``): clusters above the cap are
    dropped from pair generation rather than allowed to emit B² pairs.
    Returns (id_a, id_b, cosine_sim) with id_a < id_b.
    """
    assigned, _ = ivf_index(embeddings, num_cells, lloyd_iters, id_col, vec_col)
    if max_cluster_size is not None:
        sizes = assigned.groupBy("cell").agg(F.count("*").alias("cluster_n"))
        assigned = (
            assigned.join(sizes, "cell")
            .filter(F.col("cluster_n") <= max_cluster_size)
            .drop("cluster_n")
        )
    a = assigned.select("cell", F.col("id").alias("id_a"), F.col("vec").alias("va"))
    b = assigned.select("cell", F.col("id").alias("id_b"), F.col("vec").alias("vb"))
    return (
        a.join(b, ["cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def with_quantized(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "qvec",
    scale_col: str | None = None,
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q_i = round(x_i / s)``
    with ``s = max|x| / 127`` — the standard 4× (vs float32) memory cut
    a 100 TB embedding store takes before ANN. The scale is
    PRE-PROJECTED as a real column before the transform lambda
    references it (Catalyst re-evaluates expressions referenced inside
    HOF lambdas once per element — the documented dedup.py hazard; a
    real column keeps the barrier). With ``scale_col=None`` (default)
    the helper column is dropped so callers get exactly the input
    schema + ``q_col`` (ADVICE r10); pass a name to keep the per-vector
    scale — the write-time storage path needs it for dequantization."""
    dvec = _to_double(F.col(vec_col))
    s_col = scale_col or "_qscale"
    df = df.withColumn(
        s_col,
        F.greatest(F.array_max(F.transform(dvec, F.abs)), F.lit(1e-30)) / F.lit(127.0),
    ).withColumn(q_col, F.transform(dvec, lambda x: F.round(x / F.col(s_col)).cast("int")))
    return df if scale_col else df.drop(s_col)


def int_cosine(qa: Column, qb: Column) -> Column:
    """Cosine over integer-quantized vectors. All-integer dot/norms
    (exact, bit-portable to any SQL engine — no float-sum ordering),
    one double division at the end. Per-vector scales cancel in
    cosine, so they are not needed here. Zero vectors yield 0.0.
    Each element is widened to bigint BEFORE the product (ADVICE r10):
    products in the input integer type silently wrap (non-ANSI) for
    int32 components above ~46341, diverging from the all-bigint
    oracle arithmetic; int8 inputs never hit it, but this is a public
    helper with no int8 guard."""
    big = lambda c: c.cast("bigint")  # noqa: E731
    zero = F.lit(0).cast("bigint")
    dp = F.aggregate(F.zip_with(qa, qb, lambda x, y: big(x) * big(y)), zero, lambda a, x: a + x)
    na = F.aggregate(F.transform(qa, lambda x: big(x) * big(x)), zero, lambda a, x: a + x)
    nb = F.aggregate(F.transform(qb, lambda x: big(x) * big(x)), zero, lambda a, x: a + x)
    return F.when(
        (na > 0) & (nb > 0),
        dp.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))),
    ).otherwise(F.lit(0.0))


def quantized_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-over-quantized cosine top-k: the brute-force plan shape of
    :func:`brute_force_topk` (1-row broadcast → map-side score →
    TakeOrderedAndProject) run on int8 vectors — the memory-bound
    regime's baseline, and the re-rank scorer an IVF/LSH index uses
    over its probed cells. Recall vs the float baseline is measured in
    tests/test_similarity_ivf.py."""
    qz = with_quantized(embeddings, vec_col)
    return quantized_topk_scan(qz, query_id, k, id_col=id_col)


def quantized_topk_scan(
    qz: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    q_col: str = "qvec",
) -> DataFrame:
    """Top-k scorer over an ALREADY-quantized frame — the scan the
    write-time store (sources/quantized.py) serves: no per-query
    quantization, just the 1-row broadcast → integer map-side score →
    TakeOrderedAndProject over the ~3.56× smaller int8 column. This is
    where the storage quantization pays: the r10 probe showed inline
    quantization costs more than integer scoring saves, so the
    production path quantizes at write and scans here."""
    q = qz.filter(F.col(id_col) == query_id).select(F.col(q_col).alias("query_q"))
    return (
        qz.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.round(int_cosine(F.col(q_col), F.col("query_q")), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), "neighbor_id")
        .limit(k)
    )
