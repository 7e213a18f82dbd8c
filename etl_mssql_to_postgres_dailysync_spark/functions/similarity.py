"""Similarity search over embedding columns (``array<float>``).

Three tiers:
  * ``brute_force_topk`` — exact cosine top-k. Queries broadcast against the
    corpus (map-side), so the big side never shuffles; per-query top-k via a
    window. Baseline and oracle-comparable.
  * ``lsh_bucketed_topk`` — sign-bucket LSH (one bucket id per vector from
    the signs of the leading dimensions), equi-join on bucket, top-k within
    bucket. Shuffle is (bucket, vector) instead of a full cross join; recall
    trades off with bucket bits.
  * ``ivf_topk`` — inverted-file index: corpus vectors assigned to their
    nearest centroid cell (broadcast pass), queries probe their ``nprobe``
    nearest cells, search runs cell-local. At 100 TB the centroids come from
    offline k-means over a sample, the assigned corpus is written bucketed
    by cell_id, and each query touches nprobe/num_cells of the data. Here
    the centroids are a deterministic subset so the whole path stays
    oracle-checkable.

Scoring-path note (measured, tools/microbench_vectors.py, sf0.1, 20 queries
x 5k corpus, local[32]): a vectorized Arrow pandas_udf cosine runs ~25%
faster than the JVM zip_with/aggregate fold (0.83 vs 1.07 s/run) — numpy's
batched FMA beats codegen'd per-element folds at this density. The JVM fold
stays the default because its left-to-right fold order is bit-reproducible
against the DuckDB oracle and it needs no Python workers; for a pure-Spark
deployment at scale where bit-parity with an external engine is not a
requirement, swap `cosine_prenormed` for the Arrow UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_mssql_to_postgres_dailysync_spark.functions.hashing import bit_positions, pow2
from etl_mssql_to_postgres_dailysync_spark.functions.vectors import (
    cosine_prenormed,
    norm,
)

#: Default cap on rows collected to the driver for IVF / PQ training.
#: Training quality needs only a bounded sample (faiss trains IVF on
#: 30-256 vectors per centroid); an uncapped fit on a 100 TB corpus would
#: OOM the driver. The sample is the ``train_sample`` rows with the
#: smallest (md5(id), id) key — deterministic, engine-portable (no RNG),
#: and oracle-replayable as ``ORDER BY md5, id LIMIT n``. Spark executes
#: the ordered limit as TakeOrdered (per-partition top-N, no global sort
#: shuffle), so driver memory is O(train_sample) regardless of corpus size.
TRAIN_SAMPLE_DEFAULT = 1024


def _collect_train_rows(df: DataFrame, id_col: str, vec_col: str,
                        train_sample: int | None) -> list:
    """The shared fit-side collect for kmeans/PQ training: (md5 key, id,
    quantized vector), capped at ``train_sample`` rows by hash priority
    (None = uncapped, test-only). Because the sample keeps the globally
    smallest (md5, id) keys, the k seed rows of a capped fit are identical
    to the uncapped fit's seeds."""
    from etl_mssql_to_postgres_dailysync_spark.functions.hashing import md5_long

    sel = df.select(
        md5_long(F.col(id_col)).alias("mk"),
        F.col(id_col).alias("vid"),
        quantize_vec(F.col(vec_col)).alias("qv"),
    )
    if train_sample is not None:
        sel = sel.orderBy("mk", "vid").limit(train_sample)
    rows = sel.collect()
    rows.sort(key=lambda r: (r["mk"], r["vid"]))
    return rows


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding self).

    ``broadcast(queries)`` keeps the corpus scan shuffle-free; the only
    shuffle is the per-query top-k window over k*|queries| candidate rows
    (tiny). Ties break by neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("sim"),
        )
    )
    return _topk_per_query(scored, k)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_id_col: str = "cell_id",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroid cells (cosine;
    ties break to the lower cell id). Centroids broadcast — the corpus never
    shuffles for assignment; the only exchange is the per-vector top-nprobe
    window on |df| * |centroids| scored rows."""
    c = centroids.select(
        F.col(cell_id_col).alias("__cell__"),
        F.col(vec_col).alias("__cent_v__"),
        norm(F.col(vec_col)).alias("__cent_n__"),
    )
    scored = (
        df.withColumn("__vn__", norm(F.col(vec_col)))
        .crossJoin(F.broadcast(c))
        .withColumn(
            "__cs__",
            cosine_prenormed(
                F.col(vec_col), F.col("__cent_v__"), F.col("__vn__"), F.col("__cent_n__")
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__cs__").desc(), F.col("__cell__").asc())
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= nprobe)
        .select(*df.columns, F.col("__cell__").alias(cell_id_col))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_id_col: str = "cell_id",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: corpus in 1 cell each, queries probe their
    ``nprobe`` nearest cells, cosine top-k within the probed cells."""
    corp = ivf_assign(
        corpus, centroids, id_col=id_col, vec_col=vec_col, cell_id_col=cell_id_col, nprobe=1
    ).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"), cell_id_col
    )
    qs = ivf_assign(
        queries, centroids, id_col=id_col, vec_col=vec_col, cell_id_col=cell_id_col, nprobe=nprobe
    ).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"), cell_id_col
    )
    scored = (
        corp.join(F.broadcast(qs), cell_id_col)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("sim"),
        )
    )
    return _topk_per_query(scored, k)


def sign_bucket(vec, bits: int = 6):
    """LSH bucket id from the signs of the first ``bits`` dimensions:
    bucket = sum_j 2^j * [v[j] > 0]. Cheap, deterministic, oracle-friendly.
    A missing dimension (``vec`` shorter than ``bits``, or NULL) counts as
    not positive."""
    signs = _per_bit(
        vec, bits, lambda j, v: F.when(v > 0, pow2(j)).otherwise(F.lit(0).cast("long"))
    )
    return F.coalesce(
        F.aggregate(signs, F.lit(0).cast("long"), lambda acc, x: acc + x),
        F.lit(0).cast("long"),
    )


def sign_margins(vec, bits: int = 6):
    """Per-bit integer margins of ``sign_bucket``: array<long>
    ``|round(v[j] * QUANT_SCALE)|`` for j < ``bits``. The array is always
    ``bits`` long; a dimension past the end of ``vec`` is NULL."""
    return _per_bit(
        vec, bits, lambda j, v: F.abs(F.round(v.cast("double") * QUANT_SCALE).cast("long"))
    )


def _per_bit(vec, bits: int, f):
    """``[f(j, vec[j]) for j < bits]`` as one lambda, ``bits`` long, with
    ``vec[j]`` NULL past the end of ``vec``. The lambda sees only its own
    variables: Catalyst's constraint inference can move a lambda that reads
    a column from outside into a filter on the other side of a join, where
    that column does not exist (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)."""
    return F.zip_with(bit_positions(bits), F.slice(vec, 1, bits), f)


def _heap_probe_masks(margins: list[int], T: int) -> list[int]:
    """The T bit-flip subsets with the smallest (margin-sum, mask) key, by
    best-first heap expansion (Lv et al. 2007 §4.2 "query-directed probing")
    instead of enumerating all 2^bits subsets.

    Each bit j gets the combined weight ``w_j = margin_j * 2^bits + 2^j``.
    A subset's weight-sum is then exactly ``margin_sum * 2^bits + mask``
    (distinct origin-bit powers sum to the mask, which is < 2^bits), so
    ordering by the single scalar sum IS the (margin_sum asc, mask asc)
    lexicographic order of the full-enumeration implementation — with zero
    tie ambiguity, because distinct subsets always produce distinct sums.
    Python bigints make the combined key overflow-free at any bits.

    Generation tree (sorted-weight index space): pop a subset whose largest
    sorted index is i; push "extend" (add index i+1) and "shift" (replace
    index i with i+1). Every subset has a unique parent with a strictly
    smaller sum (weights are positive and strictly increasing), so pops
    come out in strictly increasing key order and the first T pops are the
    exact top-T. O(T log T) per query vs O(2^bits log 2^bits)."""
    import heapq

    bits = len(margins)
    scale = 1 << bits
    T = min(T, scale)
    w = sorted(int(m) * scale + (1 << j) for j, m in enumerate(margins))
    out: list[int] = []
    heap: list[tuple[int, int]] = [(0, -1)]  # (combined sum, max sorted index)
    while heap and len(out) < T:
        s, i = heapq.heappop(heap)
        out.append(s % scale)  # mask part of the combined key
        ni = i + 1
        if ni < bits:
            heapq.heappush(heap, (s + w[ni], ni))           # extend
            if i >= 0:
                heapq.heappush(heap, (s - w[i] + w[ni], ni))  # shift
    return out


def margin_probe_masks_udf(T: int):
    """Arrow pandas UDF: array<long> of per-bit integer margins -> the T
    probe masks in (margin-sum, mask) order. Runs only on the QUERY side
    (bounded rows), batched through Arrow — the corpus never sees Python."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def gen(margins):
        return margins.apply(lambda arr: _heap_probe_masks(list(arr), T))

    # Inline `margins: pd.Series` annotations would be stringified by the
    # module-level `from __future__ import annotations` and break
    # pandas_udf's signature inspection; setting __annotations__ with REAL
    # type objects keeps the modern typed-inference path (the legacy
    # no-hints path is deprecated since Spark 3.0 and warns).
    gen.__annotations__ = {"margins": pd.Series, "return": pd.Series}
    return pandas_udf("array<long>")(gen)


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 6,
    multiprobe: int = 0,
    margin_probes: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-bucket.

    At 100 TB the corpus is hash-partitioned (or bucketed on disk) by the
    bucket id, so each query touches one partition's worth of candidates —
    the cross join collapses to an equi-join on bucket.

    ``multiprobe=1`` additionally probes every bucket at Hamming distance 1
    from the query's (the standard multi-probe LSH recall lever: near
    neighbors most often differ in exactly one marginal sign bit). Probe
    fan-out is bits+1 buckets = (bits+1)/2^bits of the corpus; the corpus
    side still sits in exactly one bucket, so probes add no duplicates.

    ``margin_probes=T`` (overrides ``multiprobe``) is margin-ordered
    multi-probe (Lv et al. 2007, "Multi-Probe LSH"): rank bit-flip subsets
    by the summed |projection| of the flipped bits — a near neighbor most
    likely differs in the bits where the query's projection is smallest —
    and probe the T cheapest. Margins are integer micro-units
    (round(|v[j]| * 1e6), like the k-means quantization) and the ranking
    key is (margin-sum asc, mask asc), so the probe set replays exactly in
    any engine (the DuckDB oracle re-ranks a full 2^bits mask spine; see
    plans/driver_queries.py). Probe generation is the heap-based best-first
    expansion (``_heap_probe_masks``) on the query side only — O(T log T)
    per query, so ``bits`` can be 12-20 (the 100 TB regime, where bucket
    counts must exceed executor-partition counts) without ever enumerating
    2^bits masks. Probe fraction is T/2^bits regardless of bits — the
    recall/scan knob at scale. Measured on the RANDOM-vector fixture (the
    sign-LSH-adversarial case, tools/recall_report.py): bits=12, T=1024
    scans ~25% of the corpus for recall@5 ~0.6 (vs 0.30 for Hamming-1
    multiprobe at bits=6 and 100% scan for brute force)."""
    bucket = sign_bucket(F.col(vec_col), bits)
    if margin_probes is not None:
        q0 = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("qn"),
            bucket.alias("__b0__"),
            sign_margins(F.col(vec_col), bits).alias("__marg__"),
        )
        q = (
            q0.withColumn(
                "mask", F.explode(margin_probe_masks_udf(margin_probes)(F.col("__marg__")))
            )
            .select(
                "query_id", "qv", "qn",
                F.col("__b0__").bitwiseXOR(F.col("mask")).alias("bucket"),
            )
        )
    else:
        if multiprobe >= 1:
            probes = F.array(
                bucket, *[bucket.bitwiseXOR(F.lit(1 << j)) for j in range(bits)]
            )
            bucket_expr = F.explode(probes).alias("bucket")
        else:
            bucket_expr = bucket.alias("bucket")
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("qn"),
            bucket_expr,
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("sim"),
        )
    )
    return _topk_per_query(scored, k)


# ---------------------------------------------------------------------------
# Trained k-means for the IVF tier (integer-exact Lloyd)
# ---------------------------------------------------------------------------

QUANT_SCALE = 1_000_000


def quantize_vec(vec):
    """array<float> -> array<long> micro-units. All downstream k-means math
    is int64 (squared distances <= ~7e13, sums far below 2^63), so results
    are bit-identical regardless of partitioning or engine — which makes the
    TRAINING itself oracle-checkable, not just the final search."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long"))


def int_sqdist(a, b):
    """Exact squared L2 distance between two array<long> columns (JVM-side
    zip_with/aggregate fold — no Python, no floats)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _score_cells(q: DataFrame, cent: DataFrame) -> DataFrame:
    """Distance of every vector to every broadcast centroid. The corpus
    side never shuffles; nearest-cell selection happens with a map-side
    partial MIN aggregate (measured ~15% faster than the row_number window
    and far faster than inlining centroids as literal expression trees,
    which falls out of whole-stage codegen at k*dim literals)."""
    return q.crossJoin(F.broadcast(cent)).withColumn(
        "__d__", int_sqdist(F.col("qv"), F.col("cv"))
    )


def _assign_int(q: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest centroid per vector; ties to the lower cell id via
    lexicographic struct-min — identical ordering to ORDER BY d, cell_id."""
    return (
        _score_cells(q, cent)
        .groupBy("vid")
        .agg(
            F.min(F.struct("__d__", "cell_id"))["cell_id"].alias("cell_id"),
            F.first("qv").alias("qv"),
        )
        .select("vid", "qv", "cell_id")
    )


def _cells_udf(cent: list, n: int):
    """Arrow-vectorized nearest-cells assignment: qv (array<long>) -> the
    ``n`` nearest cell ids ordered by (distance, cell_id).

    Exact-int64 twin of ``_assign_int``'s crossJoin + struct-min: numpy
    int64 squared distances are the same integers the JVM fold computes, and
    a stable lexsort on (distance, cell_id) reproduces the struct-min
    tie-break. Replacing the k-way crossJoin + argmin SHUFFLE with a map
    (measured ~2x on the trained-IVF pipeline: k fan-out rows and one
    exchange disappear per assignment pass); the centroid matrix rides into
    the workers as a closure, the batch math is one (N, k, dim) broadcast
    subtraction."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    order = sorted(range(len(cent)), key=lambda i: cent[i][0])
    ids = np.array([cent[i][0] for i in order], dtype=np.int64)
    mat = np.array([cent[i][1] for i in order], dtype=np.int64)  # (k, dim)

    def assign(s):
        if len(ids) == 0:
            # untrained (empty corpus): no cells exist, so every row probes
            # nothing — the explode over [] drops it, and the search result
            # is empty even when THIS side (e.g. queries) is non-empty.
            return pd.Series([[] for _ in range(len(s))])
        qm = np.array(list(s), dtype=np.int64)  # (N, dim)
        diff = qm[:, None, :] - mat[None, :, :]  # (N, k, dim)
        d = (diff * diff).sum(axis=2)  # exact int64
        idx = np.argsort(d, axis=1, kind="stable")[:, :n]  # ties -> lower cell id
        return pd.Series([ids[row].tolist() for row in idx])

    def _fn(s):
        return assign(s)

    import pandas as _pd

    _fn.__annotations__ = {"s": _pd.Series, "return": _pd.Series}
    return F.pandas_udf(ArrayType(IntegerType()))(_fn)


def kmeans_fit(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    train_sample: int | None = TRAIN_SAMPLE_DEFAULT,
) -> DataFrame:
    """Distributed Lloyd's k-means over quantized vectors.

    * seeding: the k vectors with the smallest md5(id) — deterministic and
      engine-portable (no RNG);
    * assignment: broadcast centroids, exact int64 distances;
    * update: per-(cell, position) integer mean via posexplode + groupBy —
      ``sum div count`` truncating division (identical to DuckDB's ``//``),
      so every iteration is order-independent and cross-engine exact;
    * empty cells keep their previous centroid.

    Training runs driver-side over ONE collected pass of the quantized
    training set (how faiss/sklearn train IVF too: the trainer sees a
    bounded SAMPLE, the cluster only ever does assignment + search, which
    stay distributed). At 100 TB the caller feeds a sample; the iteration
    loop then costs numpy microseconds instead of one Spark job each.
    """
    return df.sparkSession.createDataFrame(
        kmeans_fit_list(df, id_col=id_col, vec_col=vec_col, k=k, iters=iters,
                        train_sample=train_sample),
        "cell_id int, cv array<bigint>",
    )


def kmeans_fit_list(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    train_sample: int | None = TRAIN_SAMPLE_DEFAULT,
) -> list:
    """kmeans_fit returning the raw [(cell_id, centroid)] list (the form the
    Arrow assignment UDF consumes without a re-collect).

    ONE Spark job: quantize + collect the training sample — the
    ``train_sample`` rows with the smallest (md5(id), id) keys, a TakeOrdered
    that bounds driver memory independent of corpus size (see
    :data:`TRAIN_SAMPLE_DEFAULT`). Seeding, assignment, and the centroid
    updates then run in exact int64 numpy on the driver — the same integers
    the old per-iteration Spark jobs produced (stable-argsort tie-breaks ≡
    struct-min; centroid mean = ``sum div count`` truncation-toward-zero ≡
    Spark ``div``), so the DuckDB oracle replay is unchanged bit-for-bit
    while 1 + 2·iters jobs collapse into one."""
    import numpy as np

    rows = _collect_train_rows(df, id_col, vec_col, train_sample)
    if not rows:
        # empty corpus: nothing to train on — no centroids. _cells_udf
        # assigns [] cells for an empty centroid list (even when the query
        # side is non-empty), so downstream search results are empty.
        return []
    qm = np.array([list(r["qv"]) for r in rows], dtype=np.int64)  # (n, dim)
    cent_mat = qm[:k].copy()  # seeds: k smallest (md5, id)
    for _ in range(iters):
        diff = qm[:, None, :] - cent_mat[None, :, :]  # (n, k, dim)
        d = (diff * diff).sum(axis=2)  # exact int64 squared distances
        # stable argsort ties -> lower cell id, same as _cells_udf
        nearest = np.argsort(d, axis=1, kind="stable")[:, 0]
        for c in range(k):
            members = qm[nearest == c]
            if len(members):  # empty cells keep their previous centroid
                s, n = members.sum(axis=0), len(members)
                # Spark `div` truncates toward zero; numpy // floors
                cent_mat[c] = np.sign(s) * (np.abs(s) // n)
    return [(i, cent_mat[i].tolist()) for i in range(k)]


def ivf_topk_trained(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    num_cells: int = 8,
    iters: int = 2,
    train_sample: int | None = TRAIN_SAMPLE_DEFAULT,
) -> DataFrame:
    """IVF search over TRAINED cells: fit integer k-means on the corpus
    (fit collects only the bounded hash-priority ``train_sample``), assign
    corpus (1 cell) and queries (nprobe cells) in exact int space, then
    cosine top-k within the probed cells (double cosine, rounded at 6dp
    exactly like the other similarity tiers)."""
    cent = kmeans_fit_list(corpus, id_col=id_col, vec_col=vec_col, k=num_cells,
                           iters=iters, train_sample=train_sample)

    def with_cells(df: DataFrame, n: int, out_id: str) -> DataFrame:
        assign = _cells_udf(cent, n)
        q = df.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("__v__"),
            norm(F.col(vec_col)).alias("__n__"),
            assign(quantize_vec(F.col(vec_col))).alias("__cells__"),
        )
        return q.select(
            F.col("vid").alias(out_id),
            F.col("__v__").alias(f"{out_id}_v"),
            F.col("__n__").alias(f"{out_id}_n"),
            F.explode("__cells__").alias("cell_id"),
        )

    corp = with_cells(corpus, 1, "neighbor_id")
    qs = with_cells(queries, nprobe, "query_id")
    scored = (
        corp.join(F.broadcast(qs), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed(
                F.col("query_id_v"),
                F.col("neighbor_id_v"),
                F.col("query_id_n"),
                F.col("neighbor_id_n"),
            ).alias("sim"),
        )
    )
    return _topk_per_query(scored, k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) search — the
# memory-compression tier below scalar quantization: m sub-codebooks of k
# codewords turn a dim-float vector into m small codes (here 8 bytes per
# 64-dim vector, 32x smaller than float32). Scan cost per query becomes one
# m x k lookup-table build + an integer table-gather per corpus vector.
# ---------------------------------------------------------------------------


def pq_fit_list(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 1,
    train_sample: int | None = TRAIN_SAMPLE_DEFAULT,
) -> list:
    """Train ``m`` per-subspace codebooks ([(sub, [[codeword]*k])]) with the
    SAME exact-int64 Lloyd rules as :func:`kmeans_fit_list` (md5-smallest-k
    seeding — the same seed ROWS serve every subspace — stable-argsort
    nearest assignment, truncating integer-mean update, empty cells keep
    their codeword), applied to each dim/m-wide slice independently. One
    collected pass over the hash-priority training sample (capped at
    ``train_sample`` rows, :data:`TRAIN_SAMPLE_DEFAULT`) trains all m
    codebooks."""
    import numpy as np

    rows = _collect_train_rows(df, id_col, vec_col, train_sample)
    if not rows:
        return []  # empty corpus: no codebooks (see kmeans_fit_list)
    qm = np.array([list(r["qv"]) for r in rows], dtype=np.int64)  # (n, dim)
    dim = qm.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    d = dim // m
    books = []
    for s in range(m):
        sub = qm[:, s * d:(s + 1) * d]
        cb = sub[:k].copy()  # seeds: k smallest (md5, id), sliced
        for _ in range(iters):
            diff = sub[:, None, :] - cb[None, :, :]
            dist = (diff * diff).sum(axis=2)
            nearest = np.argsort(dist, axis=1, kind="stable")[:, 0]
            for c in range(k):
                members = sub[nearest == c]
                if len(members):
                    t, n = members.sum(axis=0), len(members)
                    cb[c] = np.sign(t) * (np.abs(t) // n)
        books.append(cb)
    return [(s, books[s].tolist()) for s in range(m)]


def _pq_codes_udf(books: list):
    """Arrow-vectorized PQ encoder: quantized vector -> the m nearest-
    codeword ids (ties -> lower code id via stable argsort — the same
    ordering the oracle's ORDER BY dist, code_id replays)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    mats = [np.array(cb, dtype=np.int64) for _, cb in sorted(books)]
    d = mats[0].shape[1]

    def _fn(s):
        qm = np.array(list(s), dtype=np.int64)  # (N, dim)
        out = np.empty((len(qm), len(mats)), dtype=np.int64)
        for i, cb in enumerate(mats):
            sub = qm[:, i * d:(i + 1) * d]
            diff = sub[:, None, :] - cb[None, :, :]
            dist = (diff * diff).sum(axis=2)
            out[:, i] = np.argsort(dist, axis=1, kind="stable")[:, 0]
        return pd.Series([r.tolist() for r in out])

    _fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(ArrayType(IntegerType()))(_fn)


def _adc_udf(tables, qids):
    """Arrow-vectorized ADC scan: corpus code array -> int64 approximate
    distance to EVERY query (one output slot per query, ordered like
    ``qids``). ``tables`` is (n_queries, m, k) int64 — the per-query
    lookup tables; the gather is one numpy fancy-index per batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    t = np.asarray(tables, dtype=np.int64)  # (Q, m, k)
    qidx = np.arange(t.shape[0])[None, :, None]  # (1, Q, 1)
    sidx = np.arange(t.shape[1])[None, None, :]  # (1, 1, m)

    def _fn(s):
        codes = np.array(list(s), dtype=np.int64)  # (N, m)
        # dist[n, q] = sum_s t[q, s, codes[n, s]]
        gathered = t[qidx, sidx, codes[:, None, :]]  # (N, Q, m)
        dists = gathered.sum(axis=2)  # (N, Q)
        return pd.Series([r.tolist() for r in dists])

    _fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(ArrayType(LongType()))(_fn)


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    codebook_k: int = 16,
    iters: int = 1,
    n_candidates: int = 24,
    train_sample: int | None = TRAIN_SAMPLE_DEFAULT,
) -> DataFrame:
    """PQ-ADC ANN: train m sub-codebooks, encode the corpus to m-byte codes,
    score every (query, corpus) pair through per-query distance lookup
    tables (pure int64 gathers — the corpus floats are never touched during
    the scan), take ``n_candidates`` by ADC distance, then exact-cosine
    re-rank to top ``k`` (the Faiss IVFPQ + refine design, minus the coarse
    level which ``ivf_topk_trained`` already demonstrates).

    At 100 TB: codes are 32x smaller than float32 vectors — the scan tier
    fits in executor memory where raw floats cannot; tables ride in as a
    (Q, m, k) closure and the scan is shuffle-free until the per-query
    top-k window over Q x n_candidates rows."""
    import numpy as np

    books = pq_fit_list(corpus, id_col=id_col, vec_col=vec_col,
                        m=m, k=codebook_k, iters=iters, train_sample=train_sample)

    qrows = sorted(
        queries.select(F.col(id_col).alias("qid"),
                       quantize_vec(F.col(vec_col)).alias("qv")).collect(),
        key=lambda r: r["qid"],
    )
    if not books or not qrows:
        # no trained codebooks (empty corpus) or no query vectors: the
        # result set is empty by definition — return the empty relation
        # with the contract schema instead of building degenerate tables
        return corpus.sparkSession.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, adc_dist bigint, "
                "sim double, rank int"
        )
    mats = [np.array(cb, dtype=np.int64) for _, cb in books]
    d = mats[0].shape[1]
    qids = [r["qid"] for r in qrows]
    qm = np.array([list(r["qv"]) for r in qrows], dtype=np.int64)
    tables = np.stack([
        ((qm[:, s * d:(s + 1) * d][:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
        for s, cb in enumerate(mats)
    ], axis=1)  # (Q, m, k)

    enc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _pq_codes_udf(books)(quantize_vec(F.col(vec_col))).alias("codes"),
    )
    adc = enc.select(
        "neighbor_id", "cv",
        F.posexplode(_adc_udf(tables, qids)(F.col("codes"))).alias("qpos", "adc_dist"),
    ).select(
        F.element_at(F.array(*[F.lit(q) for q in qids]), F.col("qpos") + 1).alias("query_id"),
        "neighbor_id", "cv", "adc_dist",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    cand = adc.withColumn("qrank", F.row_number().over(wq)).filter(
        F.col("qrank") <= n_candidates
    )
    qv_df = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).alias("qv"),
                           norm(F.col(vec_col)).alias("qn"))
    rer = cand.join(F.broadcast(qv_df), "query_id").select(
        "query_id", "neighbor_id", "adc_dist",
        cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"),
                         norm(F.col("cv"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "sim", "rank")
    )


def semdedup_assign(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_id_col: str = "cell_id",
) -> DataFrame:
    """Nearest-centroid cell assignment (the first stage of SemDeDup):
    centroids broadcast, the corpus never shuffles — one cosine per
    (vector, centroid) in integer micro-units, argmax per vector with
    deterministic cell-id tie-break. Returned columns: id, vec, __vn__
    (precomputed norm), cell_id, cent_sim_micro. Exposed separately so
    scale tooling can measure the candidate-pair mass sum_c n_c*(n_c-1)/2
    of an assignment WITHOUT running the pair join (tools/scale_probe_xl
    uses it to verify the O(N^1.5) pair-growth claim empirically)."""
    c = centroids.select(
        F.col(cell_id_col).alias("__cell__"),
        F.col(vec_col).alias("__cent_v__"),
        norm(F.col(vec_col)).alias("__cent_n__"),
    )
    scored = (
        df.select(id_col, vec_col)
        .withColumn("__vn__", norm(F.col(vec_col)))
        .crossJoin(F.broadcast(c))
        .withColumn(
            "__cs__",
            F.round(
                cosine_prenormed(
                    F.col(vec_col), F.col("__cent_v__"), F.col("__vn__"), F.col("__cent_n__")
                )
                * 1_000_000
            ).cast("long"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__cs__").desc(), F.col("__cell__").asc())
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("__vn__"),
            F.col("__cell__").alias(cell_id_col),
            F.col("__cs__").alias("cent_sim_micro"),
        )
    )


def semdedup_prune(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_id_col: str = "cell_id",
    threshold_micro: int = 500_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster-assign every vector to its nearest centroid,
    compute pairwise cosine ONLY within each cell, and drop the
    less-prototypical member of every pair at or above the threshold.

    All comparisons run on integer micro-units (``round(cos * 1e6)`` as
    BIGINT) so the keep/drop decision is bit-identical across engines — no
    float ordering anywhere. Priority inside a pair: higher
    similarity-to-centroid wins; ties break to the lower id. Pruning is
    one-shot (pairs are judged against the ORIGINAL cell membership, not
    iteratively re-evaluated) — same as the reference algorithm.

    Scale shape: centroids broadcast, the corpus never shuffles for
    assignment; the pair join is cell-local, so with ~N/target_cell_size
    centroids (sqrt(N) is typical) the candidate-pair mass is
    O(N * cell_size), never O(N^2). Returns one row per input vector:
    (id, cell_id, cent_sim_micro, kept).
    """
    assigned = semdedup_assign(
        df, centroids, id_col=id_col, vec_col=vec_col, cell_id_col=cell_id_col
    )
    a = assigned.select(
        F.col(id_col).alias("__ida__"), F.col(vec_col).alias("__va__"),
        F.col("__vn__").alias("__na__"), cell_id_col,
        F.col("cent_sim_micro").alias("__csa__"),
    )
    b = assigned.select(
        F.col(id_col).alias("__idb__"), F.col(vec_col).alias("__vb__"),
        F.col("__vn__").alias("__nb__"), cell_id_col,
        F.col("cent_sim_micro").alias("__csb__"),
    )
    # a beats b: a is more prototypical (or tied with lower id); b above
    # threshold-similar to a -> b is dropped
    dropped = (
        a.join(b, cell_id_col)
        .filter(F.col("__ida__") != F.col("__idb__"))
        .filter(
            (F.col("__csa__") > F.col("__csb__"))
            | ((F.col("__csa__") == F.col("__csb__")) & (F.col("__ida__") < F.col("__idb__")))
        )
        .withColumn(
            "__sim__",
            F.round(
                cosine_prenormed(F.col("__va__"), F.col("__vb__"), F.col("__na__"), F.col("__nb__"))
                * 1_000_000
            ).cast("long"),
        )
        .filter(F.col("__sim__") >= F.lit(threshold_micro))
        .select(F.col("__idb__").alias("__dropped_id__"))
        .distinct()
    )
    return (
        assigned.join(
            dropped, assigned[id_col] == dropped["__dropped_id__"], "left"
        )
        .select(
            id_col,
            cell_id_col,
            "cent_sim_micro",
            F.col("__dropped_id__").isNull().cast("int").alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998): greedy
# diversified re-ranking of a bounded candidate set.  This is the canonical
# "Spark can't say it declaratively" operator: each selection step depends
# on the full set selected so far, so it runs as an Arrow-batched
# applyInPandas over per-query groups (candidate sets are index-bounded —
# top-k from a first-stage retriever — so the group is tiny however large
# the corpus).  Pure integer math inside: score keys are 7*rel - 3*maxsim
# in tenths-of-micro (lambda = 0.7 without any division), ties break on
# ascending candidate id, making the selection bit-reproducible and
# oracle-replayable.
# ---------------------------------------------------------------------------

MMR_LAMBDA_NUM = 7   # lambda = 0.7 as the exact fraction 7/10
MMR_LAMBDA_DEN_COMP = 3


def mmr_select(pair_frame: DataFrame, k: int) -> DataFrame:
    """Greedy MMR over per-query candidate sets.

    ``pair_frame`` columns: query_id, a (candidate id), rel (micro int
    relevance of a), b (other candidate id, b <> a), s (micro int pairwise
    similarity a~b).  Every candidate of a query appears as ``a`` with its
    full pair row set, so one group carries the whole matrix.  Returns
    (query_id, vec_id, mmr_rank, score_x10micro): rank r's score key is
    7*rel - 3*max(sim to already-selected), the first pick scoring 7*rel.
    """
    schema = ("query_id long, vec_id long, mmr_rank int, score_x10micro long")

    def _greedy(pdf):
        import pandas as pd

        rel = {}
        sim = {}
        for row in pdf.itertuples(index=False):
            rel[row.a] = row.rel
            sim[(row.a, row.b)] = row.s
        qid = pdf["query_id"].iloc[0]
        remaining = set(rel)
        selected = []
        out = []
        while remaining and len(selected) < k:
            best = None
            for c in remaining:
                ms = max((sim.get((c, s), 0) for s in selected), default=0)
                key = (MMR_LAMBDA_NUM * rel[c]
                       - (MMR_LAMBDA_DEN_COMP * ms if selected else 0))
                if best is None or (key, -c) > (best[0], -best[1]):
                    best = (key, c)
            key, c = best
            remaining.discard(c)
            selected.append(c)
            out.append((qid, c, len(selected), key))
        return pd.DataFrame(
            out, columns=["query_id", "vec_id", "mmr_rank", "score_x10micro"]
        )

    return pair_frame.groupBy("query_id").applyInPandas(_greedy, schema=schema)
