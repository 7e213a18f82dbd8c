"""Deduplication operators for large-scale document corpora: exact,
MinHash+LSH, SimHash, and n-gram Jaccard.

Scale design:
  * Exact dedup is a single hash-groupBy on a 60-bit content fingerprint —
    one shuffle of (hash, id), never of document text.
  * MinHash signatures are computed shuffle-free per row with higher-order
    functions (shingle -> md5 -> array_min); only the (band_hash, id) pairs
    shuffle for LSH bucketing, so the join cost is O(candidate pairs), not
    O(n^2). This is the standard web-scale near-dup pipeline (cf. the
    MinHashLSH design in Spark MLlib, re-expressed oracle-checkably).
  * SimHash is an ordered fold over tokens -> 60-bit signature per row,
    shuffle-free; banding the signature gives LSH-style candidate pairs.
  * All hashing is md5-based (functions/hashing.py) so every stage has an
    exact DuckDB-SQL twin for correctness checking.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_mssql_to_postgres_dailysync_spark.functions.hashing import bit_positions, md5_long, pow2
from etl_mssql_to_postgres_dailysync_spark.functions.text import normalize, tokens

SIMHASH_BITS = 60  # md5_long yields 60-bit positive values

# Universal-hash family for MinHash: h_i(x) = (a_i * x + b_i) mod P over the
# 31-bit shingle hash. P = 2^31 - 1 (prime); products stay < 2^62 so the
# arithmetic is overflow-free in signed int64 on every engine. One md5 per
# TOKEN total (shingle hashes are polynomial combinations of token hashes,
# and the per-seed hashes are derived arithmetically) — the difference
# between O(tokens) and O(shingles * num_hashes) string hashing at 100 TB.
MINHASH_P = 2147483647


def _mh_const(tag: str, mod: int) -> int:
    return int(hashlib.md5(tag.encode()).hexdigest()[:15], 16) % mod


# polynomial base for combining token hashes into a shingle hash
SHINGLE_C1 = _mh_const("sh-c1", MINHASH_P - 2) + 2


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, identical in engine and oracle."""
    return [
        (_mh_const(f"mh-a-{i}", MINHASH_P - 1) + 1, _mh_const(f"mh-b-{i}", MINHASH_P))
        for i in range(num_hashes)
    ]


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact near-zero-cost dedup: group by normalized-content fingerprint,
    keep the lowest id as representative, count duplicates."""
    return (
        df.select(
            F.col(id_col), md5_long(normalize(F.col(text_col))).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_hashes(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingle hashes (31-bit bigints) without materializing
    shingle strings: each token is md5-hashed ONCE, then the k-window hash is
    the polynomial fold ((h1*C1 + h2) mod P * C1 + h3) mod P over k shifted
    slices of the token-hash array — pure int64 arithmetic, zero string
    concatenation. Document text never leaves the row; every downstream
    shuffle key is an 8-byte long. Documents with < k tokens fall back to a
    single whole-document fold (matching the string-shingle fallback)."""
    th = F.transform(tokens(normalize(text)), lambda t: md5_long(t) % MINHASH_P)
    n = F.size(th)
    # number of windows when n >= k; clamped to 1 so the slice stays legal on
    # short documents (the when() below discards that branch anyway)
    m = F.greatest(n - F.lit(k - 1), F.lit(1))
    windowed = F.slice(th, 1, m)
    for j in range(1, k):
        windowed = F.zip_with(
            windowed,
            F.slice(th, 1 + j, m),
            lambda acc, h: (acc * SHINGLE_C1 + h) % MINHASH_P,
        )
    whole = F.aggregate(
        th,
        F.lit(-1).cast("long"),
        lambda acc, h: F.when(acc < 0, h).otherwise((acc * SHINGLE_C1 + h) % MINHASH_P),
    )
    return F.array_distinct(
        F.when(n >= k, windowed).otherwise(F.array(whole))
    )


# ---------------------------------------------------------------------------
# Arrow fast path. The HOF formulations above are pure Catalyst expressions,
# but Spark interprets lambda bodies (no whole-stage codegen inside
# higher-order functions): measured at sf0.1 the zip_with window fold costs
# ~2.4s for 260k shingles vs ~1.2s for the numpy-vectorized pandas_udf twin
# below, and the minhash aggregate (16 interpreted ops/shingle) is worse.
# Both paths produce IDENTICAL values (same md5 -> 15-hex-digit -> mod P
# token hashes, same exact-integer polynomial fold), so the oracle twins
# hold for either; the Arrow path is the default engine choice and the HOF
# path stays as the dependency-free reference implementation.
# ---------------------------------------------------------------------------


# Per-worker token-hash memo: corpus token frequency is zipfian, so most md5
# calls repeat ("the", "and", ...); caching hash-by-token cuts the dominant
# cost of every Arrow hashing path. Values are deterministic, so the cache
# can never change a result; bounded to keep executor memory flat.
_TOKEN_HASH_MEMO: dict[str, int] = {}
_TOKEN_HASH_MEMO_MAX = 1 << 20


def _token_hash_py(t: str) -> int:
    h = _TOKEN_HASH_MEMO.get(t)
    if h is None:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) % MINHASH_P
        if len(_TOKEN_HASH_MEMO) >= _TOKEN_HASH_MEMO_MAX:
            _TOKEN_HASH_MEMO.clear()
        _TOKEN_HASH_MEMO[t] = h
    return h


def _token_hashes_py(text: str):
    """Exact Python twin of ``md5_long(token) % P`` over
    ``tokens(normalize(text))``: lowercase, collapse whitespace, trim,
    split on single spaces (empty text -> one "" token, matching Spark's
    split of an empty string).

    Whitespace semantics are the JVM's, NOT Python's: Java regex ``\\s`` is
    the ASCII class [ \\t\\n\\x0b\\f\\r] (U+00A0 etc. are NOT whitespace —
    hypothesis found the divergence), and Spark's ``trim`` strips only the
    space character, unlike ``str.strip()``."""
    import re

    collapsed = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ")
    return [_token_hash_py(t) for t in collapsed.split(" ")]


def _shingle_hashes_py(text: str, k: int):
    """Exact twin of :func:`shingle_hashes` (distinct preserved-order window
    folds; < k tokens -> single whole-document fold)."""
    import numpy as np

    th = _token_hashes_py(text)
    if len(th) >= k:
        a = np.array(th, dtype=np.int64)
        acc = a[: len(th) - k + 1].copy()
        for j in range(1, k):
            acc = (acc * SHINGLE_C1 + a[j : len(th) - k + 1 + j]) % MINHASH_P
        return list(dict.fromkeys(acc.tolist()))
    acc = -1
    for h in th:
        acc = h if acc < 0 else (acc * SHINGLE_C1 + h) % MINHASH_P
    return [acc]


def shingle_hashes_arrow(text: Column, k: int = 3) -> Column:
    """Arrow-batched twin of :func:`shingle_hashes` (see block comment)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    # real (non-string) annotations: `from __future__ import annotations`
    # would otherwise stringify the hints pandas_udf introspects
    def _fn(s):
        return s.map(lambda t: _shingle_hashes_py(t, k))

    _fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(ArrayType(LongType()))(_fn)(text)


def minhash_signature_arrow(text: Column, num_hashes: int = 16, k: int = 3) -> Column:
    """Arrow-batched twin of :func:`minhash_signature`: sig[i] = min over
    shingle hashes h of (a_i*h + b_i) mod P, vectorized as one numpy outer
    product per document (h < 2^31 and a_i < 2^31 keep products inside
    int64)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    coeffs = minhash_coeffs(num_hashes)
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)

    def sig(text: str):
        h = np.array(_shingle_hashes_py(text, k), dtype=np.int64)
        if h.size == 0:
            return [MINHASH_P] * num_hashes
        return ((h[:, None] * a_vec[None, :] + b_vec[None, :]) % MINHASH_P).min(axis=0).tolist()

    def _fn(s):
        return s.map(sig)

    _fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(ArrayType(LongType()))(_fn)(text)


def minhash_signature(text: Column, num_hashes: int = 16, k: int = 3) -> Column:
    """MinHash signature as one array<bigint> column, computed in a single
    fold: sig[i] = min over shingle hashes of (a_i * h + b_i) mod P.
    One md5 per token; the per-seed hashes are integer arithmetic on the
    bound lambda variable. Shuffle-free."""
    coeffs = minhash_coeffs(num_hashes)
    hashes = shingle_hashes(text, k)
    init = F.array(*[F.lit(MINHASH_P).cast("long")] * num_hashes)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (F.lit(a).cast("long") * h + F.lit(b)) % MINHASH_P
                    for a, b in coeffs
                ]
            ),
            lambda m, x: F.least(m, x),
        ),
    )


def lsh_band_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc, band, band_hash) rows of the MinHash-LSH index: one signature per
    document, banded via a single explode of (band, band_hash) structs — NOT a
    per-band union, which would rescan the corpus ``bands`` times. This is the
    persistable LSH index: self-join it for in-corpus pairs
    (:func:`minhash_lsh_pairs`), probe it with a new batch's band rows
    (:func:`incremental_lsh_dedup`), or maintain it incrementally from a CDC
    stream (``extra_cols=("_sign",)`` carries the retraction sign through —
    the expression pipeline is streaming-safe)."""
    sigs = df.select(
        F.col(id_col).alias("doc"),
        *[F.col(c) for c in extra_cols],
        minhash_signature_arrow(F.col(text_col), num_hashes, k).alias("sigs"),
    )
    return _banded(sigs, num_hashes, bands, ("doc", *extra_cols))


def _banded(sigs: DataFrame, num_hashes: int, bands: int, keep: tuple[str, ...]) -> DataFrame:
    """``(*keep, band, band_hash)`` rows: the ``sigs`` signature array cut
    into ``bands`` bands of ``num_hashes / bands`` positions, each band's
    values md5-hashed with seed ``1000 + band``, in one explode."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        parts = [
            F.element_at(F.col("sigs"), b * rows_per_band + i + 1).cast("string")
            for i in range(rows_per_band)
        ]
        bh = md5_long(F.concat_ws("|", *parts), seed=1000 + b)
        band_structs.append(F.struct(F.lit(b).alias("band"), bh.alias("band_hash")))
    return sigs.select(*keep, F.explode(F.array(*band_structs)).alias("bx")).select(
        *keep, F.col("bx.band").alias("band"), F.col("bx.band_hash").alias("band_hash"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of their MinHash signature.

    rows_per_band = num_hashes / bands; P(candidate) ≈ 1-(1-J^r)^b. The
    signature is computed once per document (see minhash_signature). Only
    (band_hash, id) pairs shuffle, so join cost is O(candidate pairs), not
    O(n^2). Output: (id_a, id_b) with id_a < id_b, distinct.
    """
    band_rows = lsh_band_rows(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands, k=k
    )
    # NOTE (r10, measured): do NOT localCheckpoint the band rows here. Both
    # self-join sides hash-partition the identical subtree by (band,
    # band_hash), so runtime exchange reuse already runs the signature UDF
    # once; an eager barrier only serializes otherwise-parallel stages
    # (A/B: 1.05 s -> 1.27 s at sf0.1).
    left = band_rows.select(F.col("band"), F.col("band_hash"), F.col("doc").alias("id_a"))
    right = band_rows.select(F.col("band"), F.col("band_hash"), F.col("doc").alias("id_b"))
    return (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_estimate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Tiered near-dup verification, middle tier: for each LSH candidate
    pair, estimate Jaccard as the fraction of agreeing MinHash signature
    positions — O(num_hashes) integer compares per pair, no document text,
    no shingle re-expansion. Pipelines use it to discard weak candidates
    before the exact (shingle-intersection) verify tier touches them.

    One signature pass feeds BOTH the banding and the estimate: band rows
    derive from the signature array carried alongside, so candidate
    generation adds no second corpus scan. Output: (id_a, id_b, est_ppm)
    with est_ppm = agreeing positions * 1e6 / num_hashes, exact integers.
    """
    sigs = df.select(
        F.col(id_col).alias("doc"),
        minhash_signature_arrow(F.col(text_col), num_hashes, k).alias("sigs"),
    )
    band_rows = _banded(sigs, num_hashes, bands, ("doc", "sigs"))
    # NOTE (r10, measured): no localCheckpoint here either — the self-join
    # sides share one (band, band_hash) exchange at runtime (see
    # minhash_lsh_pairs), so the signature UDF already runs once.
    left = band_rows.select("band", "band_hash", F.col("doc").alias("id_a"), F.col("sigs").alias("sa"))
    right = band_rows.select("band", "band_hash", F.col("doc").alias("id_b"), F.col("sigs").alias("sb"))
    pairs = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sa", "sb")
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: F.when(x == y, 1).otherwise(0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    assert 1_000_000 % num_hashes == 0, "ppm scale must divide evenly for exact ints"
    return pairs.select(
        "id_a", "id_b",
        (agree * F.lit(1_000_000 // num_hashes)).alias("est_ppm"),
    )


def tiered_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    est_threshold: float = 0.25,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """The full tiered near-dup pipeline as ONE declarative plan:

      LSH banding  ->  signature-agreement estimate  ->  exact verify

    Tier costs at corpus scale: banding touches every document once
    (signature pass); the estimate tier touches only candidate pairs
    (O(num_hashes) int compares each); the exact tier — the only one that
    re-expands shingles — touches only estimate survivors. Spark sees the
    whole thing as one plan, so the survivor set streams straight into the
    verify join without materialization.

    Output: (id_a, id_b, est_ppm, jaccard_ppm) for pairs passing BOTH
    thresholds; exact integer arithmetic end to end.
    """
    est = minhash_estimate_pairs(
        df, text_col, id_col,
        num_hashes=num_hashes, bands=bands, k=k,
    )
    surv = est.filter(F.col("est_ppm") >= int(est_threshold * 1_000_000))
    sh = df.select(
        F.col(id_col).alias("doc"), shingle_hashes_arrow(F.col(text_col), k).alias("shs")
    )
    joined = (
        surv.join(sh.select(F.col("doc").alias("id_a"), F.col("shs").alias("sha")), ["id_a"])
        .join(sh.select(F.col("doc").alias("id_b"), F.col("shs").alias("shb")), ["id_b"])
    )
    inter = F.size(F.array_intersect("sha", "shb")).cast("long")
    union = (F.size("sha") + F.size("shb")).cast("long") - inter
    out = joined.select(
        "id_a", "id_b", "est_ppm", inter.alias("_i"), union.alias("_u")
    ).withColumn("jaccard_ppm", F.expr("_i * 1000000 div _u")).drop("_i", "_u")
    return out.filter(F.col("jaccard_ppm") >= int(jaccard_threshold * 1_000_000))


def incremental_lsh_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Dedup an incoming batch AGAINST an existing corpus (the daily-sync
    shape of near-dup removal): new documents that share any MinHash band
    with any corpus document are near-dup suspects.

    The corpus side is exactly :func:`lsh_band_rows` — at scale it is
    computed once, persisted as the LSH index table (partitioned by band),
    and only the batch's band rows are computed per run; the probe is a
    shuffle of O(|batch| * bands) 8-byte keys joined against the index, never
    a batch x corpus cross product, and never a corpus self-join.

    Output: one row per flagged batch document —
    (doc_id, n_corpus_matches) with n_corpus_matches = distinct corpus docs
    sharing >= 1 band. Unflagged docs are absent (anti-join the result to
    keep the clean ones).
    """
    kw = dict(num_hashes=num_hashes, bands=bands, k=k)
    corpus_bands = lsh_band_rows(corpus, text_col, id_col, **kw).select(
        "band", "band_hash", F.col("doc").alias("corpus_doc")
    )
    batch_bands = lsh_band_rows(batch, text_col, id_col, **kw)
    return (
        batch_bands.join(corpus_bands, ["band", "band_hash"])
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.countDistinct("corpus_doc").alias("n_corpus_matches"))
    )


def simhash(text: Column) -> Column:
    """SimHash fingerprint: per-token 60-bit hashes vote ±1 per bit position;
    the sign vector packs back into a bigint. Ordered fold -> deterministic.

    Bit positions are one lambda over ``bit_positions(SIMHASH_BITS)``, so
    the expression does not grow with the bit count. The per-token md5 is
    computed once via ``transform``, and the votes are one fold over those
    hashes (Catalyst does not share subexpressions inside lambdas, so a fold
    per bit would recompute md5 once per bit)."""
    js = bit_positions(SIMHASH_BITS)
    toks = F.array_distinct(tokens(normalize(text)))
    hashes = F.transform(toks, lambda t: md5_long(t))
    # counts[j] = sum over tokens of (bit j set ? +1 : -1)
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(js, lambda j: F.call_function("shiftright", h, j).bitwiseAND(F.lit(1))),
            lambda a, bit: a + F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    # pack sign bits: bit j contributes 1 << j when its count is positive
    return F.aggregate(
        F.zip_with(
            counts, js,
            lambda cnt, j: F.when(cnt > 0, pow2(j)).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two packed simhash bigints via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def sorted_pairs(arr: str, a: str, b: str) -> Column:
    """One row per pair of the array column ``arr``: ``struct<a, b>`` for
    every element ``a`` and every later element ``b`` (all i < j
    combinations, so a sorted array yields a < b), as a generator to alias.
    Quadratic per array: callers bound the array size (posting caps,
    basket sizes)."""
    return F.explode(
        F.flatten(
            F.transform(
                F.col(arr),
                lambda x, i: F.transform(
                    F.slice(F.col(arr), i + 2, F.greatest(F.size(arr) - i - 1, F.lit(1))),
                    lambda y: F.struct(x.alias(a), y.alias(b)),
                ),
            )
        )
    )


def _shingle_postings(
    df: DataFrame, text_col: str, id_col: str, k: int, block_col: str | None
) -> DataFrame:
    """``(blk, sh, docs)``: the shingle inverted index, one posting list per
    (block, shingle hash) holding >= 2 documents, each entry
    ``struct(doc, n_sh)`` with ``n_sh`` the document's distinct-shingle
    count, sorted by doc. Without ``block_col`` every document is in one
    block."""
    base = df.select(
        F.col(id_col).alias("doc"),
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")] ),
        shingle_hashes_arrow(F.col(text_col), k).alias("shingles"),
    ).withColumn("n_sh", F.size("shingles"))
    ex = base.select("doc", "blk", "n_sh", F.explode("shingles").alias("sh"))
    return ex.groupBy("blk", "sh").agg(
        F.array_sort(F.collect_list(F.struct("doc", "n_sh"))).alias("docs")
    ).filter(F.size("docs") >= 2)  # singleton postings generate no pairs


def _posting_intersections(postings: DataFrame) -> DataFrame:
    """``(id_a, id_b, na, nb, inter)`` with id_a < id_b: the number of
    posting lists the two documents share, next to their shingle counts."""
    pairs = postings.select(sorted_pairs("docs", "a", "b").alias("p"))
    return (
        pairs.select(
            F.col("p.a.doc").alias("id_a"),
            F.col("p.b.doc").alias("id_b"),
            F.col("p.a.n_sh").alias("na"),
            F.col("p.b.n_sh").alias("nb"),
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_posting: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Blocking (``block_col``, e.g. a source/bucket/LSH-band column) bounds the
    candidate set; without it this is a full O(n^2)-pair computation.

    Executed as a single-pass inverted index (NOT a self-join, which would
    recompute the shingle pipeline for both sides): explode distinct shingle
    hashes (8-byte longs — document text never shuffles), group by
    (block, shingle) collecting the posting list, emit sorted doc pairs from
    each posting, count intersections, |A∪B| = |A|+|B|-|A∩B|. One scan, two
    shuffles.

    ``max_posting`` is the stop-shingle cap (the mirror of
    :func:`substring_span_stats`'s ``max_occurrences``): posting lists longer
    than the ceiling — site boilerplate, licenses, stock phrases present in
    thousands of documents — are dropped before pair expansion, bounding the
    fan-out at cap^2 * |distinct hot shingles| instead of the hottest
    posting squared. Dropped shingles still count toward |A| and |B| (the
    per-doc distinct-shingle sizes are computed before the cap), so capped
    jaccard is a conservative UNDERestimate of true jaccard: the cap can
    only miss pairs whose overlap is mostly boilerplate, which is the point.
    Default None = exact (no cap).
    """
    postings = _shingle_postings(df, text_col, id_col, k, block_col)
    if max_posting is not None:
        postings = postings.filter(F.size("docs") <= max_posting)
    inter = _posting_intersections(postings)
    # jaccard_ppm is exact integer arithmetic (cross-engine reproducible);
    # the double `jaccard` is for human consumption.
    jac = inter.withColumn(
        "jaccard_ppm", F.expr("(inter * 1000000) div (na + nb - inter)")
    ).withColumn(
        "jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    )
    return jac.filter(F.col("jaccard_ppm") >= int(threshold * 1_000_000)).select(
        "id_a", "id_b", "jaccard", "jaccard_ppm"
    )


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    threshold_milli: int = 500,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (Bayardo et al. 2007
    "Scaling Up All Pairs Similarity Search", arXiv not required — WWW'07):
    for J(A,B) >= t, A and B must share at least one token among each
    side's first ``|X| - ceil(t*|X|) + 1`` tokens under ANY global total
    order. Ordering tokens rarest-document-frequency-first makes those
    prefixes land on rare tokens, so the inverted index holds only prefix
    postings — the candidate-pair mass that :func:`ngram_jaccard_pairs`
    bounds with a stop-shingle cap is here PROVABLY restricted without
    losing a single qualifying pair (no cap heuristic, no underestimate).

    Plan: one document-frequency aggregate (token-grain, map-side
    combined), a per-doc window to rank tokens by (df asc, hash asc), the
    prefix inverted index -> distinct candidate pairs, then one
    verification join computing exact |A∩B| from the full sorted shingle
    arrays. All shuffles carry 8-byte hashes or bounded arrays, never text.
    Prefix length uses exact integer arithmetic (ceil via
    ``(t_milli*n + 999) div 1000``), so the DuckDB oracle replays the
    same candidate set token-for-token.

    Returns the same (id_a, id_b, jaccard, jaccard_ppm) surface as
    :func:`ngram_jaccard_pairs` and provably the same rows at the same
    threshold (asserted in tests/test_functions.py)."""
    base = df.select(
        F.col(id_col).alias("doc"),
        shingle_hashes_arrow(F.col(text_col), k).alias("shingles"),
    ).withColumn("n_sh", F.size("shingles"))
    # NOTE (r10, measured): no eager materialization of `base` — its four
    # readers either share exchanges at runtime or execute as parallel
    # stages of the single action; an eager barrier serialized them and
    # cost +0.5 s at sf0.1.
    ex = base.select("doc", "n_sh", F.explode("shingles").alias("sh"))
    tf = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc").orderBy(F.col("df").asc(), F.col("sh").asc())
    ranked = ex.join(tf, "sh").withColumn("pos", F.row_number().over(wdoc))
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("n_sh") - F.expr(f"({threshold_milli} * n_sh + 999) div 1000") + 1
    )
    postings = (
        prefix.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    cand = (
        postings.select(sorted_pairs("docs", "a", "b").alias("p"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .distinct()
    )
    sets = base.select(
        "doc", F.array_sort("shingles").alias("ss"), "n_sh"
    )
    sa = sets.select(
        F.col("doc").alias("id_a"), F.col("ss").alias("ssa"), F.col("n_sh").alias("na")
    )
    sb = sets.select(
        F.col("doc").alias("id_b"), F.col("ss").alias("ssb"), F.col("n_sh").alias("nb")
    )
    v = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("ssa", "ssb")))
    )
    out = v.withColumn(
        "jaccard_ppm", F.expr("(inter * 1000000) div (na + nb - inter)")
    ).withColumn(
        "jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    )
    return out.filter(
        F.col("jaccard_ppm") >= threshold_milli * 1000
    ).select("id_a", "id_b", "jaccard", "jaccard_ppm")


def shingle_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT |A∩B| / min(|A|,|B|) for candidate
    pairs — the excerpt/quote detector: a short document wholly contained in
    a long one scores ~1.0 here but can score near 0 Jaccard (the union is
    dominated by the long side), so Jaccard-only dedup ships the same
    excerpt twice. Same single-pass inverted-index plan as
    :func:`ngram_jaccard_pairs` (posting lists on 8-byte shingle hashes,
    pair fan-out bounded by posting sizes); emits both directional
    containments plus the symmetric min-denominator score that the
    threshold applies to.
    """
    inter = _posting_intersections(_shingle_postings(df, text_col, id_col, k, block_col))
    cont = inter.select(
        "id_a", "id_b",
        F.expr("(inter * 1000000) div na").alias("containment_a_ppm"),
        F.expr("(inter * 1000000) div nb").alias("containment_b_ppm"),
        F.expr("(inter * 1000000) div least(na, nb)").alias("containment_ppm"),
    )
    return cont.filter(F.col("containment_ppm") >= int(threshold * 1_000_000))


def _window_hashes_py(text: str, w: int):
    """Positional (non-distinct) w-token window hashes: the same exact-integer
    polynomial fold as :func:`_shingle_hashes_py`, but keeping every window in
    document order (index in the returned list == 0-based window position) and
    producing NO windows for documents shorter than w tokens (short exact
    dupes are the exact-dedup operator's job, not span detection's)."""
    import numpy as np

    th = _token_hashes_py(text)
    if len(th) < w:
        return []
    a = np.array(th, dtype=np.int64)
    acc = a[: len(th) - w + 1].copy()
    for j in range(1, w):
        acc = (acc * SHINGLE_C1 + a[j : len(th) - w + 1 + j]) % MINHASH_P
    return acc.tolist()


def window_hashes_arrow(text: Column, w: int) -> Column:
    """Arrow-batched positional window hashes (see :func:`_window_hashes_py`)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    def _fn(s):
        return s.map(lambda t: _window_hashes_py(t, w))

    _fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(ArrayType(LongType()))(_fn)(text)


def window_hashes(text: Column, w: int) -> Column:
    """Catalyst-expression twin of :func:`window_hashes_arrow` (dependency-free
    reference path): the shingle window fold without the distinct, empty array
    below w tokens."""
    th = F.transform(tokens(normalize(text)), lambda t: md5_long(t) % MINHASH_P)
    n = F.size(th)
    m = F.greatest(n - F.lit(w - 1), F.lit(1))
    windowed = F.slice(th, 1, m)
    for j in range(1, w):
        windowed = F.zip_with(
            windowed,
            F.slice(th, 1 + j, m),
            lambda acc, h: (acc * SHINGLE_C1 + h) % MINHASH_P,
        )
    empty = F.array().cast("array<bigint>")
    return F.when(n >= w, windowed).otherwise(empty)


def substring_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    w: int = 8,
    max_occurrences: int | None = None,
) -> DataFrame:
    """Exact repeated-substring detection, the Spark shape of suffix-array
    training-data dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): a span is duplicated if its w-token windows
    appear in >= 2 distinct documents.

    Plan: hash every w-token window positionally (one md5 per token, rolling
    polynomial — document text never shuffles), posexplode to
    (doc, pos, window_hash), find cross-document window hashes with a
    min!=max groupBy (cheaper than a distinct count and enough for the >= 2
    docs predicate), flag the positions via an inner hash join on the 8-byte
    window hash, then merge consecutive flagged positions into maximal spans
    with the islands trick (pos - row_number). Two shuffles on long keys plus
    one per-doc window pass.

    Output, one row per document with >= 1 duplicated window:
    (doc_id, n_windows, n_dup_windows, n_spans, max_span_tokens, dup_ppm).
    dup_ppm = duplicated-window fraction in parts-per-million, exact integer
    arithmetic. 31-bit window hashes can collide; both engines fold
    identically so the oracle match is exact — production at 100 TB should
    widen to the 60-bit md5_long to make collisions negligible.

    ``max_occurrences`` is the stop-hash cap: window hashes hotter than the
    ceiling (site boilerplate, licenses — present in thousands of docs) are
    excluded from flagging. The flagged-row fan-out is bounded by
    cap * |distinct hot hashes| instead of the corpus's duplicate mass —
    the XL scaling probe's adversarial fully-duplicated corpus is exactly
    the case this bounds. Default None = exact (the oracle-checked mode).
    """
    base = df.select(
        F.col(id_col).alias("doc"), window_hashes_arrow(F.col(text_col), w).alias("whs")
    )
    spans = _duplicate_spans(base, max_occurrences)
    per_doc = spans.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("nwin").alias("n_dup_windows"),
        F.max(F.col("e") - F.col("s") + F.lit(w)).alias("max_span_tokens"),
    )
    sizes = base.select("doc", F.size("whs").alias("n_windows"))
    return (
        per_doc.join(sizes, ["doc"])
        .select(
            F.col("doc").alias("doc_id"),
            F.col("n_windows").cast("long").alias("n_windows"),
            "n_dup_windows",
            "n_spans",
            F.col("max_span_tokens").cast("long").alias("max_span_tokens"),
            F.expr("n_dup_windows * 1000000 div n_windows").alias("dup_ppm"),
        )
    )


def _duplicate_spans(base: DataFrame, max_occurrences: int | None) -> DataFrame:
    """``(doc, grp, s, e, nwin)``: the maximal runs of consecutive window
    positions of ``base``'s ``whs`` array (one row per ``doc``) whose window
    hash also occurs in another document, from window ``s`` to window ``e``
    (``nwin`` windows). Hashes in more than ``max_occurrences`` windows are
    not flagged (None: no cap). Consecutive positions share
    ``grp = pos - row_number`` (the islands trick)."""
    wins = base.select("doc", F.posexplode("whs").alias("pos", "wh"))
    dup = (
        wins.groupBy("wh")
        .agg(F.min("doc").alias("mn"), F.max("doc").alias("mx"),
             F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("mn") != F.col("mx"))
    )
    if max_occurrences is not None:
        dup = dup.filter(F.col("cnt") <= max_occurrences)
    flagged = wins.join(dup.select("wh"), ["wh"]).select("doc", "pos")
    isl = flagged.withColumn(
        "grp", F.col("pos") - F.row_number().over(Window.partitionBy("doc").orderBy("pos"))
    )
    return isl.groupBy("doc", "grp").agg(
        F.min("pos").alias("s"), F.max("pos").alias("e"), F.count(F.lit(1)).alias("nwin")
    )


def substring_span_removal(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    w: int = 8,
) -> DataFrame:
    """The transform half of substring dedup: rebuild each document with its
    cross-document duplicated spans REMOVED (what a training-data pipeline
    actually ships after span detection).

    Span detection is :func:`substring_span_stats`'s plan; removal collects
    each doc's maximal spans into an array (spans are few — bounded by
    duplicate mass, not document length) and drops covered token positions
    with one indexed ``filter`` higher-order pass over the token array — the
    reconstruction never explodes tokens into rows.

    Output per document: (doc_id, n_tokens, n_tokens_kept, kept_fp) where
    kept_fp is the 60-bit md5 fingerprint of the cleaned text — enough for
    the oracle to verify the exact reconstructed string without shipping
    text.
    """
    toks = tokens(normalize(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("doc"),
        toks.alias("tk"),
        window_hashes_arrow(F.col(text_col), w).alias("whs"),
    )
    spans = (
        _duplicate_spans(base, None)
        .groupBy("doc")
        .agg(F.collect_list(F.struct("s", "e")).alias("spans"))
    )
    joined = base.join(spans, ["doc"], "left").withColumn(
        "spans", F.coalesce(F.col("spans"), F.array().cast("array<struct<s:int,e:int>>"))
    )
    kept = F.filter(
        F.col("tk"),
        lambda t, i: ~F.exists(
            F.col("spans"), lambda sp: (i >= sp["s"]) & (i <= sp["e"] + F.lit(w - 1))
        ),
    )
    return joined.select(
        F.col("doc").alias("doc_id"),
        F.size("tk").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_tokens_kept"),
        md5_long(F.concat_ws(" ", kept)).alias("kept_fp"),
    )


def top_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    w: int = 8,
    top_n: int = 20,
) -> DataFrame:
    """Memorization audit: the corpus's most-duplicated w-token spans.
    Groups positional window hashes, keeps cross-document ones, ranks by
    (distinct docs, total occurrences) — a TakeOrdered top-N, never a global
    sort. Ties broken by window hash for determinism."""
    wins = df.select(
        F.col(id_col).alias("doc"), F.explode(window_hashes_arrow(F.col(text_col), w)).alias("wh")
    )
    agg = (
        wins.groupBy("wh")
        .agg(
            F.countDistinct("doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc").alias("example_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return agg.orderBy(
        F.desc("n_docs"), F.desc("n_occurrences"), F.asc("wh")
    ).limit(top_n)


CC_MAX_ITERS = 25  # label-propagation rounds before giving up on a fixed point


def connected_components(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a candidate-
    pair graph (LSH/SimHash/Jaccard pairs), hash-min label propagation.

    Each vertex starts labeled with its own id; every iteration takes the
    min label over itself and its neighbors (one join + one groupBy-min, all
    int64 — deterministic on any partitioning) until a fixed point. Labels
    are persisted per round and the loop stops on a converged change-count,
    so the plan doesn't snowball. At 100 TB scale the same loop runs with
    the large-star/small-star optimization (alternate joining only
    higher->lower degree directions) to cap skew from giant components;
    components here are near-dup clusters, which stay small by construction.

    Vertices are ``doc_id`` rows and edges ``(id_a, id_b)`` pairs. Returns
    (doc_id, component) where component = min doc id in the cluster — the
    canonical representative choice used by dedup_keep_representatives.
    """
    sym = edges.select(
        F.col("id_a").cast("long").alias("u"), F.col("id_b").cast("long").alias("n")
    ).union(
        edges.select(F.col("id_b").cast("long").alias("u"), F.col("id_a").cast("long").alias("n"))
    )
    labels = vertices.select(
        F.col("doc_id").cast("long").alias("u"), F.col("doc_id").cast("long").alias("comp")
    ).persist()
    labels.count()
    for _ in range(CC_MAX_ITERS):
        nbr = sym.alias("e").join(
            labels.alias("l"), F.col("e.n") == F.col("l.u")
        ).select(F.col("e.u").alias("u"), F.col("l.comp").alias("comp"))
        new_labels = (
            labels.union(nbr).groupBy("u").agg(F.min("comp").alias("comp")).persist()
        )
        changed = (
            new_labels.alias("a")
            .join(labels.alias("b"), "u")
            .filter(F.col("a.comp") != F.col("b.comp"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("u").alias("doc_id"), F.col("comp").alias("component"))


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD 2003; the
# MOSS algorithm).  A sparsification of the k-gram hash stream with a HARD
# detection guarantee the MinHash/SimHash family cannot give: every shared
# token run of length >= w + k - 1 produces at least one shared fingerprint,
# because the w-gram window that exactly covers the run's grams exists in
# both documents and its minimum hash is the same value in both.  Density is
# ~2/(w+1) of the gram stream, so the fingerprint index a 100 TB run joins
# on is a small, bounded fraction of corpus token volume.
# ---------------------------------------------------------------------------

WINNOW_K = 3      # tokens per gram
WINNOW_W = 4      # grams per window
_WINNOW_POS_M = 1 << 20   # position field width in the combined min key


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct winnowing fingerprints (id, fph) per document.

    Gram hash = first 10 md5 hex chars (40 bits) of the space-joined k
    tokens of the normalized text.  Each window min is taken over a combined
    integer ``h * 2^20 + (2^20 - 1 - pos)`` so ties on hash break to the
    RIGHTMOST occurrence (classic winnowing's robust tie rule) with pure
    integer min — engine-portable, no struct ordering.  Leading windows
    (pos < w) are evaluated over their partial frame, which only ADDS
    fingerprints and therefore preserves the detection guarantee.  The
    window is partitioned per document (never data-grain global).
    """
    toks = df.select(
        F.col(id_col), tokens(normalize(F.col(text_col))).alias("toks")
    ).filter(F.size("toks") >= WINNOW_K)
    grams = toks.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {WINNOW_K - 1}),"
                f" p -> concat_ws(' ', "
                + ", ".join(f"toks[p - 1 + {j}]" for j in range(WINNOW_K))
                + "))"
            )
        ).alias("p0", "gram"),
    ).select(
        F.col(id_col),
        (F.col("p0") + 1).alias("pos"),
        F.conv(F.substring(F.md5(F.col("gram")), 1, 10), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    combined = (
        F.col("h") * F.lit(_WINNOW_POS_M)
        + (F.lit(_WINNOW_POS_M - 1) - F.least(F.col("pos"), F.lit(_WINNOW_POS_M - 1)))
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(-(WINNOW_W - 1), 0)
    sel = grams.select(
        F.col(id_col), F.min(combined).over(win).alias("mc")
    ).select(
        F.col(id_col), F.expr(f"mc div {_WINNOW_POS_M}").alias("fph")
    )
    return sel.distinct()


def winnow_fingerprints_sql(table: str, id_expr: str, norm_sql: str) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` as a WITH-clause body
    producing ``sel(id, fph)`` — same gram hash, combined-min and
    partial-leading-window conventions."""
    gram_concat = " || ' ' || ".join(f"toks[i + {j}]" for j in range(WINNOW_K))
    return f"""
    nt AS (SELECT {id_expr} AS id, regexp_split_to_array({norm_sql}, ' ') AS toks
           FROM {table}),
    nk AS (SELECT id, toks FROM nt WHERE len(toks) >= {WINNOW_K}),
    g AS (SELECT id, i AS pos,
                 CAST('0x' || substr(md5({gram_concat}), 1, 10) AS BIGINT) AS h
          FROM nk, unnest(range(1, len(toks) - {WINNOW_K - 1} + 1)) AS u(i)),
    wmin AS (SELECT id,
                    min(h * {_WINNOW_POS_M}
                        + ({_WINNOW_POS_M - 1} - least(pos, {_WINNOW_POS_M - 1})))
                        OVER (PARTITION BY id ORDER BY pos
                              ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS mc
             FROM g),
    sel AS (SELECT DISTINCT id, mc // {_WINNOW_POS_M} AS fph FROM wmin)
    """
