"""Embedding similarity search over an ``array<float>`` column.

Two paths (SURVEY.md §7 Phase E / driver extension spec):

- ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query
  set, score every corpus vector with JVM array lambdas
  (``zip_with`` + ``aggregate`` dot product — no Python, no shuffle until
  the final per-query top-k), rank with a window partitioned by query.
- ``lsh_topk`` — the scale path: random-hyperplane (signed random
  projection) bucketing; only same-bucket candidates are scored exactly.
  Hyperplanes are generated driver-side from a fixed numpy seed and
  inlined as literal arrays (deterministic, no UDF).

At 100 TB the brute-force path is still the right *baseline* (one narrow
pass per query batch); IVF/LSH cuts the scored fraction once |queries| is
large.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clarite_python_spark.catalog import qname

__all__ = [
    "cosine",
    "cosine_topk",
    "quantize_embeddings",
    "quantized_topk",
    "truncated_topk",
    "rp_topk",
    "lsh_topk",
    "lsh_topk_multi",
    "ivf_topk",
    "cluster_embeddings",
    "tune_ivf_probe",
    "knn_graph",
    "knn_graph_recall",
    "embedding_neardup",
    "semantic_dedup",
    "label_centroids",
    "ann_recall",
    "embedding_drift",
    "pq_codes",
    "pq_topk",
    "ivf_pq_topk",
    "incremental_embedding_neardup",
    "mmr_rerank",
]


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean vector (class prototypes) in long form
    (label, pos, centroid, n).

    The scalable shape for element-wise vector aggregation:
    ``posexplode`` the array and groupBy (label, dimension) — a plain
    map-side-combined agg that shuffles #labels × dim partial sums, not
    vectors. (A driver-side fold or a collect_list of whole vectors
    would hold rows × dim; this holds nothing.) Long form is also what a
    downstream join against points wants; pivot to arrays only at the
    consumer edge if needed.
    """
    ex = df.select(F.col(label_col).alias("label"), F.posexplode(vec_col).alias("pos", "v"))
    return ex.groupBy("label", "pos").agg(
        F.avg("v").alias("centroid"), F.count(F.lit(1)).alias("n")
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


# --- SQL-text expression builders (r13) ---------------------------------
# Building literal-centroid expression forests through the Column API
# costs one py4j round trip per node (~14.6k round trips / 6.3 s of
# WARM driver time for one ivf_pq_topk construction, measured with
# cProfile). Rendering the identical expression as ONE SQL string and
# parsing it JVM-side is a single round trip. The parsed trees are the
# trees the Column API built — same fold, same literal doubles (repr()
# round-trips exactly through Double.parseDouble), same lambda
# structure — so every quantizer oracle stays bit-identical.


def _dlit(x: float) -> str:
    """Exact SQL double literal (repr round-trips the IEEE value)."""
    return repr(float(x)) + "D"


def _arr_sql(vals) -> str:
    return "array(" + ",".join(_dlit(v) for v in vals) + ")"


def _dot_sql(a: str, b: str) -> str:
    """SQL twin of :func:`_dot` — identical aggregate/zip_with tree."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)"
    )


def _cast_vec_sql(vec_col: str) -> str:
    return f"cast(`{vec_col}` as array<double>)"


# NOTE (measured, sf0.1 pair join): unrolling the dot product into dim
# explicit GetArrayItem+multiply terms is ~3x SLOWER than the
# zip_with/aggregate fold above — per-element array access pays repeated
# UnsafeArrayData navigation that the fold's single pass doesn't. Keep
# the fold; make pair predicates cheap by carrying norms as scalar
# columns (dot >= t*na*nb) instead of touching the arrays twice.


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<numeric> columns (JVM-side).

    A zero-norm side yields NULL (``try_divide``) rather than the ANSI
    DIVIDE_BY_ZERO error — so a degenerate all-zeros vector sorts last
    in every top-k (desc ordering puts nulls last) instead of killing
    the job; identical values for every nonzero pair."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_prenorm(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine` with the two norms PRECOMPUTED per row.

    Bit-identical to ``cosine(a, b)`` when ``na``/``nb`` carry
    ``_norm(a)``/``_norm(b)`` computed over the same array values (the
    product is IEEE-commutative, the division unchanged) — but the norm
    folds run once per ROW on each join side instead of once per PAIR.
    In every pair-scoring plan (n_pairs >> n_rows) this cuts the
    per-pair work from three interpreted array folds (dot + two norms;
    higher-order functions don't codegen) to one. Same idiom
    ``semantic_dedup`` has always used for its pair predicate."""
    return F.try_divide(_dot(a, b), na * nb)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries``: (query_id, vec). Plan: broadcast-nested-loop join of the
    tiny query set against the corpus (one corpus scan regardless of
    |queries|), JVM-side cosine, then per-query top-k via window. Ties
    broken by corpus id for determinism."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col).cast("array<double>")).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col).cast("array<double>")).alias("__cn"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_prenorm(
            F.col(vec_col).cast("array<double>"),
            F.col("__qvec").cast("array<double>"),
            F.col("__cn"),
            F.col("__qn"),
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Per-vector symmetric scalar quantization of an ``array<float>``
    column to ``bits``-bit integers — the standard 4x (int8) memory/IO
    lever for embedding stores: at 100 TB of vectors, reading tinyint
    arrays instead of floats cuts the scan and the shuffle by the same
    factor, and cosine ranking is scale-invariant so the quantized
    ranking needs no dequantize step (measure the rank damage with
    ``ann_recall(method='quantized')``, don't assume it).

    q[i] = clamp(round_half_up(v[i] / scale), -qmax, qmax) with
    scale = max(|v|) / qmax (per vector; qmax = 2^(bits-1) - 1).
    round-half-up is implemented as floor(x + 0.5) so the arithmetic is
    engine-reproducible (DuckDB/Spark agree exactly; banker's-rounding
    variants differ on .5 ties). An all-zero vector gets scale 1.0.

    Pure codegen projection: one ``aggregate`` fold for max(|v|), one
    ``transform`` for the cast — no shuffle, no Python, no job.
    Returns (id_col, qvec array<tinyint|smallint>, scale double).
    """
    if not 2 <= bits <= 16:
        raise ValueError("bits must be in [2, 16]")
    qmax = (1 << (bits - 1)) - 1
    itype = "tinyint" if bits <= 8 else "smallint"
    v = F.col(vec_col).cast("array<double>")
    amax = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(float(qmax))).otherwise(F.lit(1.0))
    qvec = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.least(
            F.greatest(F.floor(x / F.col("scale") + F.lit(0.5)), F.lit(-qmax)),
            F.lit(qmax),
        ).cast(itype),
    )
    return (
        df.select(F.col(id_col), F.col(vec_col), scale.alias("scale"))
        .withColumn("qvec", qvec)
        .select(id_col, "qvec", F.round("scale", 9).alias("scale"))
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine over int8/int16-quantized vectors — same
    plan as ``cosine_topk`` (broadcast query set, one corpus scan,
    per-query window) but the corpus-side arrays are ``bits``-bit
    integers, so the scan reads 4x less (int8 vs float32) and the dot
    product folds over tinyints. Cosine is scale-invariant, so the
    per-vector quantization scales cancel and never need to be read.

    Returns (query_id, id, rank, cosine_q) where cosine_q is the cosine
    of the QUANTIZED vectors (ties broken by corpus id). Use
    ``ann_recall(method='quantized')`` to measure how far the quantized
    ranking drifts from the float ranking on your corpus.
    """
    qc = quantize_embeddings(corpus, id_col, vec_col, bits)
    qq = quantize_embeddings(
        queries.select(F.col(query_id_col).alias("__qid"), F.col(vec_col)),
        "__qid",
        vec_col,
        bits,
    ).select(F.col("__qid").alias(query_id_col), F.col("qvec").alias("__qvec"))
    a = F.col("qvec").cast("array<double>")
    b = F.col("__qvec").cast("array<double>")
    scored = qc.crossJoin(F.broadcast(qq)).select(
        F.col(query_id_col),
        F.col(id_col),
        (_dot(a, b) / (_norm(a) * _norm(b))).alias("cosine_q"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_q"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


# the 32 in-word bit values as one constant array literal — indexed by
# the fold below instead of unrolling a WHEN term per dimension
_BIT_POWS = [1 << b for b in range(32)]


def quantize_binary(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "bvec",
    dim: int | None = None,
) -> DataFrame:
    """Sign-bit binarization of an ``array<float>`` column, packed into
    32-bit words carried as ``array<bigint>`` — the 32x compression
    lever for embedding stores (one BIT per float32 dimension): at
    100 TB of vectors the Hamming first-pass scans 1/32 of the bytes,
    and XOR+popcount replaces the float dot product entirely.

    bit j of word w is set iff ``v[32*w + j] > 0`` — the standard
    sign-bit sketch (Charikar 2002 SimHash with axis-aligned planes;
    for zero-centered embeddings Hamming distance on the sketch tracks
    angular distance). 32-bit words on purpose: ``1 << 63`` overflows
    signed-64 ANSI arithmetic in both engines, while 32 distinct powers
    of two SUM safely into a BIGINT, so the packing replays exactly in
    SQL (the gate oracle does).

    Pure projection, CONSTANT-size expression tree regardless of dim:
    ``transform`` over the word indices with an ``aggregate`` fold over
    each word's 32 bit positions (the powers as one literal array). The
    obvious alternative — unrolling one WHEN term per dimension — emits
    O(dim) codegen terms and hits Janino's 64 KB method limit at
    production dims: measured round 12 at 50k vectors, unrolled is 6x
    slower at dim=768/1536 and FAILS to compile at dim=4096
    (InternalCompilerException), while this fold is flat (identical
    checksums at every dim, faster even at dim=64 — see BASELINE.md
    round-12 binary-dims table). No shuffle, no Python, no job. ``dim``
    is read from the first row when not given (one tiny action at
    plan-build time; pass it explicitly in latency-sensitive
    pipelines). Returns (id_col, out_col).
    """
    if dim is None:
        row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(row["d"]) if row and row["d"] is not None else 0
    if dim <= 0:
        raise ValueError(f"vector dim must be positive, got {dim}")
    words = (dim + 31) // 32
    # rendered as ONE SQL parse (the r13 construction-cost idiom): the
    # Column-API build of the same tree costs ~100 py4j round trips
    # (32 literal bit-powers + the two fold lambdas) per call, and the
    # binary family constructs this 2-3x per query
    v_sql = qname(vec_col)
    pows_sql = "array(" + ", ".join(f"CAST({p} AS BIGINT)" for p in _BIT_POWS) + ")"
    word_sql = (
        f"aggregate(sequence((w * 32), least(((w * 32) + 31), {dim - 1})), "
        f"CAST(0 AS BIGINT), "
        f"(acc, i) -> acc + CASE WHEN (element_at({v_sql}, CAST((i + 1) AS INT)) > 0) "
        f"THEN element_at({pows_sql}, CAST(((i - (w * 32)) + 1) AS INT)) "
        f"ELSE CAST(0 AS BIGINT) END)"
    )
    return df.select(
        F.col(id_col),
        F.expr(f"transform(sequence(0, {words - 1}), w -> {word_sql})").alias(
            out_col
        ),
    )


def build_binary_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    store_vectors: bool = True,
) -> None:
    """Build and persist the sign-bit pack — the stored-state form of
    :func:`hamming_topk`, the same pattern as the text family's
    ``build_postings``: pay the corpus scan + packing ONCE, then every
    later query batch runs ``hamming_topk(None, queries,
    index_dir=path)`` scanning only the bit-pack parquet (dim/32 BIGINT
    words per vector — 1/32 of the float bytes, and zero re-packing).

    Layout under ``path``: ``bvec/`` (id, bvec), ``stats/`` (1 row:
    __dim) — the stored dim re-packs query batches identically at serve
    time, so a dim mismatch is impossible by construction — and, with
    ``store_vectors`` (default), ``vectors/`` (id, float vec): the
    exact-rerank sidecar that makes ``binary_rerank(None, queries,
    index_dir=path)`` fully index-resident — the serving path needs no
    live corpus mounted at all. Stage 1 still scans ONLY ``bvec/``; the
    sidecar is touched for O(queries × shortlist_k) id-keyed fetches.
    ``store_vectors=False`` keeps the index at 1/32 of the corpus bytes
    when rerank will always run against the live table."""
    if dim is None:
        row = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(row["d"]) if row and row["d"] is not None else 0
    if dim <= 0:
        raise ValueError(f"vector dim must be positive, got {dim}")
    # the three writes are independent jobs over disjoint output dirs
    # (bvec pack scan, raw-vector sidecar scan, 1-row stats) — submit
    # them from a driver thread pool so the sidecar write back-fills the
    # pack write's task tail instead of following it (guide §2.6);
    # bytes written and artifact contents are identical to the serial
    # form.
    from concurrent.futures import ThreadPoolExecutor

    spark = corpus.sparkSession

    def _labeled_write(desc: str, write_fn) -> None:
        spark.sparkContext.setJobDescription(desc)
        write_fn()
        spark.sparkContext.setJobDescription(None)

    jobs = [
        (
            "build_binary_index: bvec pack",
            lambda: quantize_binary(corpus, id_col, vec_col, dim=dim)
            .write.mode("overwrite")
            .parquet(f"{path}/bvec"),
        ),
        (
            "build_binary_index: stats",
            lambda: spark.createDataFrame([(dim,)], "__dim int")
            .write.mode("overwrite")
            .parquet(f"{path}/stats"),
        ),
    ]
    if store_vectors:
        jobs.insert(
            1,
            (
                "build_binary_index: vectors sidecar",
                lambda: corpus.select(F.col(id_col), F.col(vec_col))
                .write.mode("overwrite")
                .parquet(f"{path}/vectors"),
            ),
        )
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futs = [pool.submit(_labeled_write, d, fn) for d, fn in jobs]
        for f in futs:
            f.result()


def _hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length array<bigint> bit-packs
    (JVM-side: zip_with XOR -> bit_count -> fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def _hamming_sql(a: str, b: str) -> str:
    """SQL twin of :func:`_hamming` — identical fold, one parse."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> bit_count((x ^ y))), 0, "
        "(acc, x) -> acc + x)"
    )


def hamming_topk(
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
    index_dir: str | None = None,
) -> DataFrame:
    """Top-k by Hamming distance over sign-bit binarized vectors — the
    binary first-pass retriever. Same plan as ``cosine_topk`` (broadcast
    query set, one corpus scan, per-query window) but the scan carries
    dim/32 BIGINT words per vector instead of dim floats and the scoring
    is XOR+popcount. Ties broken by ascending corpus id (Hamming is
    integer-valued, so ties are common — determinism matters here more
    than in float ranking). Returns (query_id, id, hamming, rank).

    This ranks by the SKETCH, not the true cosine — compose with
    :func:`binary_rerank` (Hamming shortlist -> exact rerank) and price
    the recall with ``ann_recall(method='binary')``.

    Pass EITHER ``corpus`` (inline single-shot: packing happens in this
    query) OR ``index_dir`` (the directory a prior
    :func:`build_binary_index` wrote with the same ``id_col``;
    ``corpus`` is ignored and may be None — the scan reads only the
    bit-pack parquet, and the stored dim re-packs the query batch
    identically). Both paths score identically row-for-row.
    """
    if index_dir is not None:
        spark = queries.sparkSession
        bc = spark.read.parquet(f"{index_dir}/bvec")
        if id_col not in bc.columns:
            raise ValueError(
                f"stored binary index at {index_dir} carries id column "
                f"{[c for c in bc.columns if c != 'bvec']}, not "
                f"{id_col!r} — pass the id_col used at build time"
            )
        dim = int(
            spark.read.parquet(f"{index_dir}/stats").first()["__dim"]
        )
    elif corpus is None:
        raise ValueError("need a corpus DataFrame or index_dir")
    else:
        from pyspark import StorageLevel

        if dim is None:
            # infer ONCE, from the corpus, and reuse for the query pack:
            # two independent first-row probes could disagree (ragged
            # data), and zip_with pads the shorter pack with NULLs —
            # every Hamming distance silently NULL instead of an error.
            row = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
            dim = int(row["d"]) if row and row["d"] is not None else 0
            if dim <= 0:
                raise ValueError(f"corpus vector dim must be positive, got {dim}")
        # materialization barrier: without it CollapseProject inlines
        # the O(dim)-WHEN packing into the join's output projection and
        # recomputes the pack PER (corpus x query) PAIR — measured 260 s
        # vs 10.2 s from a stored pack at 1M vectors x 100 queries
        # (BASELINE.md round-11). DISK_ONLY: the pack is 1/32 of the
        # float bytes and streams back without touching the heap.
        bc = quantize_binary(corpus, id_col, vec_col, dim=dim).localCheckpoint(
            eager=False, storageLevel=StorageLevel.DISK_ONLY
        )
    bq = quantize_binary(
        queries.select(F.col(query_id_col).alias("__qid"), F.col(vec_col)),
        "__qid",
        vec_col,
        dim=dim,
    ).select(F.col("__qid").alias(query_id_col), F.col("bvec").alias("__qbvec"))
    scored = bc.crossJoin(F.broadcast(bq)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.expr(_hamming_sql("bvec", "__qbvec")).alias("hamming"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("hamming"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def binary_rerank(
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    shortlist_k: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
    index_dir: str | None = None,
) -> DataFrame:
    """Two-stage binary retrieval: Hamming-distance shortlist of
    ``shortlist_k`` candidates over the 32x-compressed sign-bit pack,
    then EXACT cosine rerank of only those candidates — the standard
    production shape for binary embedding indexes (scan the bits,
    rerank the shortlist from the float store).

    At 100 TB: stage 1 reads dim/32 words per vector (1/32 of the
    bytes) and never touches the floats; stage 2 re-fetches floats for
    O(queries x shortlist_k) rows via one id-keyed join against the
    float store — the same justified re-fetch as
    ``mmr_rerank(candidates=)``. Recall is decided by ``shortlist_k``;
    measure it with ``ann_recall(method='binary', shortlist_k=...)``
    instead of guessing.

    ``index_dir``: serve from a stored :func:`build_binary_index` —
    stage 1 always reads its ``bvec/`` pack, and when ``corpus`` is
    None stage 2 reads the ``vectors/`` sidecar too, so the whole query
    batch is INDEX-RESIDENT (no live corpus mounted; the sidecar must
    have been written with ``store_vectors=True`` and the same id/vec
    column names). Passing both serves stage 1 from the index and
    stage 2 from the live corpus. Stored and live paths score
    identically row-for-row. Returns (query_id, id, cosine, rank).
    """
    if corpus is None:
        if index_dir is None:
            raise ValueError(
                "binary_rerank needs a corpus DataFrame or an index_dir "
                "built with store_vectors=True"
            )
        spark = queries.sparkSession
        try:
            corpus = spark.read.parquet(f"{index_dir}/vectors")
        except Exception as e:
            raise ValueError(
                f"stored binary index at {index_dir} has no vectors/ "
                "sidecar — rebuild with build_binary_index(..., "
                "store_vectors=True) or pass the live corpus for stage 2"
            ) from e
        missing = {id_col, vec_col} - set(corpus.columns)
        if missing:
            raise ValueError(
                f"vectors/ sidecar at {index_dir} lacks column(s) "
                f"{sorted(missing)} — it carries {corpus.columns}; pass "
                "the id_col/vec_col used at build time"
            )
    short = hamming_topk(
        corpus, queries, shortlist_k, id_col, vec_col, query_id_col,
        dim=dim, index_dir=index_dir,
    ).select(query_id_col, id_col)
    withvec = short.join(
        corpus.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__v"),
            _norm(F.col(vec_col).cast("array<double>")).alias("__vn"),
        ),
        on=id_col,
    )
    qv = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
        _norm(F.col(vec_col).cast("array<double>")).alias("__qn"),
    )
    scored = withvec.join(F.broadcast(qv), on=query_id_col).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_prenorm(
            F.col("__v"), F.col("__qvec"), F.col("__vn"), F.col("__qn")
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def truncated_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine over the FIRST ``dim`` dimensions only —
    the Matryoshka-representation trick (Kusupati et al. 2022): if the
    embedding model front-loads information, a 4x dimension cut gives a
    4x cheaper scan/shuffle/dot with modest rank damage. Cosine
    renormalizes per-vector, so no rescaling is needed after the slice.

    Same plan as ``cosine_topk`` (broadcast queries, one corpus scan,
    per-query window); the slice is a row-local ``slice(vec, 1, dim)``.
    Measure the damage on YOUR vectors with
    ``ann_recall(method='truncated', dim=...)`` — a model that doesn't
    front-load (e.g. random features) keeps only dim/D of the signal.

    Returns (query_id, id, rank, cosine_t) — cosine of the truncated
    vectors, ties broken by corpus id.
    """
    if dim <= 0:
        raise ValueError("dim must be positive")
    tc = corpus.select(
        F.col(id_col),
        F.slice(F.col(vec_col), 1, dim).alias("__tvec"),
        _norm(F.slice(F.col(vec_col), 1, dim).cast("array<double>")).alias("__tn"),
    )
    tq = queries.select(
        F.col(query_id_col),
        F.slice(F.col(vec_col), 1, dim).alias("__tqvec"),
        _norm(F.slice(F.col(vec_col), 1, dim).cast("array<double>")).alias("__tqn"),
    )
    a = F.col("__tvec").cast("array<double>")
    b = F.col("__tqvec").cast("array<double>")
    scored = tc.crossJoin(F.broadcast(tq)).select(
        F.col(query_id_col),
        F.col(id_col),
        (_dot(a, b) / (F.col("__tn") * F.col("__tqn"))).alias("cosine_t"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_t"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Exact top-k by cosine in a Johnson-Lindenstrauss GAUSSIAN RANDOM
    PROJECTION of the vectors — the model-agnostic complement to
    :func:`truncated_topk`: Matryoshka truncation needs a model that
    front-loads information, JL projection preserves angles (in
    expectation, error ~ 1/sqrt(out_dim)) for ANY embedding model, at
    the same dim/D scan+shuffle+dot savings. Measured caveat: on
    ISOTROPIC vectors the two are equivalent (truncation is itself a
    random projection there — 0.22 vs 0.25 recall@10 at 16/64 on the
    gate corpus); JL's advantage appears exactly when coordinates are
    NOT exchangeable (back-loaded or correlated axes), where truncation
    can collapse to ~0 and JL's guarantee is unchanged.

    The projection matrix is seeded-numpy, inlined as literal plane
    arrays into the plan (the :func:`lsh_topk` idiom — same planes
    reproduce in any engine, which is what makes the operator
    oracle-checkable); each projected coordinate is one JVM
    ``zip_with``-free dot product against a literal array, row-local.
    Plan after projection is exactly ``cosine_topk``: broadcast
    projected queries, one corpus scan, per-query window. Measure the
    rank damage with ``ann_recall(method='rp', out_dim=...)``.

    Returns (query_id, id, rank, cosine_p) — cosine of the projected
    vectors, ties broken by corpus id.
    """
    if out_dim <= 0:
        raise ValueError("out_dim must be positive")
    dim = len(queries.select(vec_col).first()[0])
    planes = _hyperplanes(dim, out_dim, seed)

    # planes as data (_planes_row): identical projected coordinates
    # (same _dot folds over the same doubles), constant-size plan —
    # see incremental_embedding_neardup
    def proj(vec: Column) -> Column:
        return F.transform(F.col("__planes"), lambda p: _dot(vec, p))

    pc = _planes_row(corpus, planes).select(
        F.col(id_col), proj(F.col(vec_col).cast("array<double>")).alias("__pvec")
    ).withColumn("__pn", _norm(F.col("__pvec")))
    pq = _planes_row(queries, planes).select(
        F.col(query_id_col), proj(F.col(vec_col).cast("array<double>")).alias("__pqvec")
    ).withColumn("__pqn", _norm(F.col("__pqvec")))
    a = F.col("__pvec")
    b = F.col("__pqvec")
    scored = pc.crossJoin(F.broadcast(pq)).select(
        F.col(query_id_col),
        F.col(id_col),
        (_dot(a, b) / (F.col("__pn") * F.col("__pqn"))).alias("cosine_p"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_p"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def _bucket(vec: Column, planes: np.ndarray) -> Column:
    """Signed-random-projection bucket id: bit b = sign(vec . plane_b)."""
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(float(x)) for x in plane])) >= 0, F.lit(1 << b)).otherwise(
            F.lit(0)
        )
        for b, plane in enumerate(planes)
    ]
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    return out.cast("long")


def _planes_row(df: DataFrame, planes: "np.ndarray") -> DataFrame:
    """Attach the hyperplane matrix to ``df`` as DATA — one
    ``array<array<double>>`` value on a broadcast 1-row frame (the
    repo's scalar-broadcast crossJoin idiom) — instead of inlining
    every coefficient as a ``F.lit`` expression node.

    Why (guide §1.2, measured r13): the inlined form builds
    n_planes·dim Literal+CreateArray nodes PER CALL SITE, and the
    banded neardup paths instantiate it on both join sides plus again
    in the within-batch pass — Catalyst analysis/optimization of that
    forest cost 16-56 s per query CONSTRUCTION at
    incremental_embedding_neardup while the actual execution took
    under 1 s. The higher-order-function dot folds are interpreted
    either way, so a single data value evaluates identically (same
    doubles, same fold order) with a constant-size plan."""
    spark = df.sparkSession
    payload = [[float(x) for x in p] for p in np.asarray(planes)]
    pf = spark.createDataFrame([(payload,)], "__planes: array<array<double>>")
    return df.crossJoin(F.broadcast(pf))


def _bucket_from(vec: Column, planes_col: Column) -> Column:
    """:func:`_bucket` with the planes taken from a DATA column.

    Bit-identical bucket ids: the per-plane dot is the same
    :func:`_dot` fold over the same double values, and the bit pack
    folds ``acc*2 + bit`` over the REVERSED bit list — exact integer
    arithmetic equal to the Σ bit_b·2^b sum of the literal form."""
    bits = F.transform(
        planes_col,
        lambda p: F.when(_dot(vec, p) >= 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    return F.aggregate(
        F.reverse(bits),
        F.lit(0).cast("long"),
        lambda acc, b: acc * F.lit(2).cast("long") + b,
    )


def _band_buckets_from(
    vec: Column, planes_col: Column, n_planes: int, n_bands: int
) -> Column:
    """array of per-band bucket ids (band k uses planes
    [k·n_planes, (k+1)·n_planes)) — the data-column twin of the
    banded ``_bucket`` comprehension."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda kk: _bucket_from(
            vec, F.slice(planes_col, kk * n_planes + 1, F.lit(n_planes))
        ),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors that share the
    query's random-hyperplane bucket. Recall trades with ``n_planes``
    (8 planes => 256 buckets => ~1/256 of the corpus scored per query).

    The bucket expression is pure JVM arithmetic over literal hyperplanes;
    the candidate join is an equi-join on the bucket id (shuffle keyed on
    a small int — broadcastable when queries are few)."""
    dim = len(queries.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    # planes as data (_planes_row): identical buckets, constant-size
    # plan — see incremental_embedding_neardup
    c = (
        _planes_row(corpus, planes)
        .withColumn(
            "__bucket",
            _bucket_from(F.col(vec_col).cast("array<double>"), F.col("__planes")),
        )
        .withColumn("__cn", _norm(F.col(vec_col).cast("array<double>")))
        .drop("__planes")
    )
    q = _planes_row(queries, planes).select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        _bucket_from(F.col(vec_col).cast("array<double>"), F.col("__planes")).alias(
            "__bucket"
        ),
        _norm(F.col(vec_col).cast("array<double>")).alias("__qn"),
    )
    scored = c.join(F.broadcast(q), on="__bucket").select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_prenorm(
            F.col(vec_col).cast("array<double>"),
            F.col("__qvec").cast("array<double>"),
            F.col("__cn"),
            F.col("__qn"),
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def lsh_topk_multi(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    n_bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """OR-amplified multi-table LSH top-k: ``n_bands`` INDEPENDENT
    random-hyperplane tables (plane set b is seeded ``seed + b``); a
    corpus vector is a candidate for a query iff they share a bucket in
    at least one band, and candidates are re-ranked by exact cosine.

    This closes single-table :func:`lsh_topk`'s recall gap (measured
    0.155 recall@10 on the gate corpus at 8 planes): a neighbor at angle
    theta collides per band with p = (1 - theta/pi)^n_planes, so the
    OR over bands lifts candidate recall to 1 - (1 - p)^n_bands — the
    standard banding amplification (same shape as the MinHash bands in
    operators/dedup.py, applied to the signed-projection family).
    Expected candidates per query ~ n_bands * |corpus| / 2^n_planes.

    Plan: the corpus explodes to (band, bucket) rows — n_bands keyed
    copies, the classic LSH space/recall trade, same as
    ``embedding_neardup``'s banding — and equi-joins the broadcast
    (band, bucket)-exploded query set; duplicate candidates (pairs
    colliding in several bands) are collapsed by a (query, id) agg
    BEFORE ranking so each candidate is scored once in the window. No
    cross join anywhere; everything JVM-side over literal planes."""
    if n_bands <= 0:
        raise ValueError("n_bands must be positive")
    head = queries.select(vec_col).first()
    if head is None:
        return cosine_topk(corpus, queries, k, id_col, vec_col, query_id_col)
    dim = len(head[0])
    band_planes = [_hyperplanes(dim, n_planes, seed + b) for b in range(n_bands)]
    # per-band plane sets concatenated into ONE data matrix riding the
    # scalar-broadcast row (_planes_row): identical buckets per band,
    # constant-size plan — see incremental_embedding_neardup. banded()
    # emits struct(band int, bucket long) exactly like the literal form.
    allp = np.concatenate(band_planes, axis=0)

    def banded(vec: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda kk: F.struct(
                kk.cast("int").alias("band"),
                _bucket_from(
                    vec, F.slice(F.col("__planes"), kk * n_planes + 1, F.lit(n_planes))
                ).alias("bucket"),
            ),
        )

    c = _planes_row(corpus, allp).select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(banded(F.col(vec_col).cast("array<double>"))).alias("__bb"),
    ).select(
        id_col,
        vec_col,
        "__bb.band",
        "__bb.bucket",
        _norm(F.col(vec_col).cast("array<double>")).alias("__cn"),
    )
    q = _planes_row(queries, allp).select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.explode(banded(F.col(vec_col).cast("array<double>"))).alias("__bb"),
    ).select(
        query_id_col,
        "__qvec",
        "__bb.band",
        "__bb.bucket",
        _norm(F.col("__qvec").cast("array<double>")).alias("__qn"),
    )
    scored = (
        c.join(F.broadcast(q), on=["band", "bucket"])
        .select(
            F.col(query_id_col),
            F.col(id_col),
            cosine_prenorm(
                F.col(vec_col).cast("array<double>"),
                F.col("__qvec").cast("array<double>"),
                F.col("__cn"),
                F.col("__qn"),
            ).alias("cosine"),
        )
        # collapse multi-band collisions: one row per candidate pair
        .groupBy(query_id_col, id_col)
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def _train_centroids(
    df: DataFrame,
    vec_col: str,
    n_lists: int,
    seed: int,
    sample_size: int,
    iters: int = 10,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Spherical k-means on a driver-side sample (the coarse quantizer is
    tiny state — n_lists x dim — trained once; the corpus itself never
    leaves the executors). Deterministic via the seed AND a sorted
    sample: ``orderBy(id).limit(n)`` compiles to TakeOrderedAndProject
    (O(n log sample) per partition, no full sort), unlike a bare
    ``limit`` whose row order follows partition scheduling — the trained
    quantizer must not depend on which executor reported first.

    The ``repartition(1)`` barrier before collect is load-bearing at
    large sample_size: collect() directly on a TakeOrderedAndProject
    merges PER-PARTITION partial top-n task results on the driver —
    #partitions × n rows of vectors — which blew
    spark.driver.maxResultSize at sample_size=40k × 64 partitions
    (measured round 12). The barrier merges to the final n rows on an
    executor first, so exactly one n-row task result reaches the
    driver. The exchange does NOT preserve order, so the collected rows
    are re-sorted by id driver-side — the seeded init indexes the sample
    POSITIONALLY and the oracles replay ``row_number() OVER (ORDER BY
    id)``, so sample order is part of the contract."""
    rows = (
        df.select(id_col, vec_col)
        .where(F.col(id_col).isNotNull())
        .orderBy(id_col)
        .limit(sample_size)
        .repartition(1)
        .collect()
    )
    # null ids are filtered above: the driver-side re-sort (required
    # because the repartition exchange drops order) would raise
    # TypeError on None, and the oracles' row_number() replay assumes
    # non-null sample ids anyway.
    rows = [(r[1],) for r in sorted(rows, key=lambda r: r[0])]
    M = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = M[rng.choice(len(M), size=min(n_lists, len(M)), replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(M @ cents.T, axis=1)
        for j in range(len(cents)):
            members = M[assign == j]
            if len(members):
                c = members.mean(axis=0)
                cents[j] = c / max(np.linalg.norm(c), 1e-12)
            else:
                cents[j] = M[rng.randint(len(M))]
    return cents


def _centroid_dots(vec_sql: str, cents: np.ndarray) -> Column:
    """array<double> of cosine(vec, centroid_j) — centroids are unit
    vectors inlined as literals, so one normalized dot each (pure JVM).

    ``vec_sql`` is a SQL snippet for the vector (usually
    :func:`_cast_vec_sql`); the whole array is rendered as one SQL
    string and parsed in a single py4j call — the tree (dot fold /
    sqrt-of-self-dot norm per element) is identical to the Column-built
    form this replaced (r13)."""
    nv = f"sqrt({_dot_sql(vec_sql, vec_sql)})"
    elems = ",".join(
        f"{_dot_sql(vec_sql, _arr_sql(c))} / {nv}" for c in cents
    )
    return F.expr(f"array({elems})")


def _probe_ids(dots: Column, n_lists: int, n_probe: int) -> Column:
    """Top-``n_probe`` centroid ids by dot, desc, ties to the HIGHER id
    (the reverse(array_sort) convention every IVF oracle replays as
    ``ORDER BY dot DESC, j DESC``).

    arrays_zip is load-bearing: the obvious per-index construction —
    ``transform(sequence(0, L-1), i -> struct(get(dots, i), i))`` —
    textually duplicates the O(n_lists·dim) ``dots`` expression into
    every element, so each ROW evaluates n_lists COPIES of the full
    centroid-dot array: O(n_lists²·dim) work. Measured round 12 on the
    knn_graph corpus side (20k rows): n_lists=128 ran 2.2x SLOWER than
    n_lists=64 despite scoring half the pairs. Zipping evaluates
    ``dots`` once per row."""
    zipped = F.arrays_zip(
        dots.alias("d"),
        F.sequence(F.lit(0), F.lit(n_lists - 1)).alias("i"),
    )
    return F.transform(
        F.slice(F.reverse(F.array_sort(zipped)), 1, min(n_probe, n_lists)),
        lambda s: s["i"],
    )


def cluster_embeddings(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 10_000,
    iters: int = 10,
    assign_impl: str = "codegen",
) -> DataFrame:
    """Spherical k-means cluster assignment for every vector — the
    semantic-bucketing operator behind IVF and semantic_dedup exposed
    directly: cluster training corpora into topical groups for mixture
    weighting, per-cluster sampling, or semantic sharding.

    Same quantizer as :func:`ivf_topk`: trained on a deterministic
    sorted driver-side sample (O(k x dim) state, the corpus never
    leaves the executors), assignment is a first-argmax over inlined
    centroid dots — pure codegen projection, no shuffle, trivially
    linear at 100 TB; persist the assignment alongside the vectors and
    every downstream per-cluster op is an equi-key groupBy.

    Returns (id, cluster, cosine) — cosine is similarity to the
    assigned centroid (a confidence/marginality signal: rows near 0
    sit between clusters).

    ``assign_impl='pandas'`` swaps the inlined-centroid codegen
    assignment (O(k·dim) expression work per row, plan build grows with
    k — the measured ~512-list ceiling, BASELINE.md round-12) for one
    Arrow-batched numpy matmul per batch (:func:`_assign_cells_pandas`)
    — the thousands-of-clusters path. Identical selection up to ULP
    ties; codegen stays the oracle-pinned default."""
    if k <= 0:
        raise ValueError("k must be positive")
    if assign_impl not in ("codegen", "pandas"):
        raise ValueError("assign_impl must be 'codegen' or 'pandas'")
    cents = _train_centroids(df, vec_col, k, seed, sample_size, iters, id_col=id_col)
    if assign_impl == "pandas":
        assigned = _assign_cells_pandas(
            df, cents, id_col, vec_col, n_probe=1, with_cosine=True
        )
        return assigned.select(
            F.col(id_col),
            F.col("__list").alias("cluster"),
            F.round(F.col("__cos"), 6).alias("cosine"),
        )
    cvec = F.col(vec_col).cast("array<double>")
    # stage the dots array once (guide §4.1): argmax + max reference it
    # three times, and each evaluation is k interpreted dim-folds/row
    staged = df.withColumn("__dots", _centroid_dots(_cast_vec_sql(vec_col), cents))
    d = F.col("__dots")
    return staged.select(
        F.col(id_col),
        (F.array_position(d, F.array_max(d)) - 1).cast("int").alias("cluster"),
        F.round(F.array_max(d), 6).alias("cosine"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    sample_size: int = 10_000,
    recall_target: float | None = None,
    assign_impl: str = "codegen",
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a spherical-k-means coarse
    quantizer partitions the corpus into ``n_lists`` lists; each query
    scores only the ``n_probe`` lists whose centroids are nearest —
    expected scan fraction n_probe/n_lists of the corpus per query.

    All heavy work is executor-side JVM arithmetic: list assignment is
    argmax over inlined centroid dots, the probe join is an equi-join on
    the small list id (queries broadcast), and only probed candidates
    get an exact cosine. The trained quantizer is O(n_lists x dim)
    driver state — at 100 TB the corpus assignment rides the ingest scan
    (and would be persisted alongside the vectors, so repeated query
    batches skip it).

    ``recall_target`` (opt-in) replaces ``n_probe`` with the MEASURED
    minimal probe budget meeting that recall@k on the corpus's own
    deterministic query sample (:func:`tune_ivf_probe` — at most
    n_lists harness jobs, run once up front).

    ``assign_impl='pandas'``: both the corpus list assignment and the
    query probe lists come from the Arrow-batched numpy matmul
    (:func:`_assign_cells_pandas`) instead of inlined-centroid codegen
    — the path past the measured ~512-list ceiling where per-row
    assignment work is O(n_lists·dim) and the literal plan grows with
    n_lists·dim. Identical selection up to ULP ties; codegen stays the
    oracle-pinned default."""
    if assign_impl not in ("codegen", "pandas"):
        raise ValueError("assign_impl must be 'codegen' or 'pandas'")
    if recall_target is not None:
        n_probe, _ = tune_ivf_probe(
            corpus,
            recall_target,
            k=k,
            n_lists=n_lists,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
            sample_size=sample_size,
            assign_impl=assign_impl,
        )
    if dim is None:
        # dim-probe job per construction; callers who know the dim pass
        # it and skip this (the r13 embedding_neardup precedent)
        dim = len(queries.select(vec_col).first()[0])
    cents = _train_centroids(corpus, vec_col, n_lists, seed, sample_size, id_col=id_col)
    if cents.shape[1] != dim:
        raise ValueError(f"dim={dim} does not match the {cents.shape[1]}-dimensional vectors")

    cvec = F.col(vec_col).cast("array<double>")
    if assign_impl == "pandas":
        corpus_l = _assign_cells_pandas(
            corpus, cents, id_col, vec_col, n_probe=1
        ).select(
            F.col(id_col), F.col(vec_col), F.col("__list"), _norm(cvec).alias("__cn")
        )
        q = _assign_cells_pandas(
            queries, cents, query_id_col, vec_col, n_probe
        ).select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            F.explode("__probes").alias("__list"),
            _norm(cvec).alias("__qn"),
        )
    else:
        # staged dots (guide §4.1): the argmax references the array
        # twice — n_lists interpreted dim-folds per evaluation
        d = F.col("__dots")
        # coalesce(-1) makes the join key provably non-nullable: the
        # equi-join otherwise infers isnotnull(__list), and pushing that
        # filter below the projection INLINES the whole n_lists x dim
        # centroid-dots argmax a second time per corpus row (the plan
        # showed the full literal forest duplicated into a Filter).
        # A null __list (null embedding) never matched the inner join
        # anyway; -1 never matches a probe id (explode yields
        # 0..n_lists-1), so rows and values are identical.
        corpus_l = (
            corpus.withColumn("__dots", _centroid_dots(_cast_vec_sql(vec_col), cents))
            .withColumn(
                "__list",
                F.coalesce(
                    (F.array_position(d, F.array_max(d)) - 1).cast("int"),
                    F.lit(-1),
                ),
            )
            .withColumn("__cn", _norm(cvec))
            .drop("__dots")
        )
        # per-query top-n_probe centroid ids: sort (dot, idx) structs desc
        qdots = _centroid_dots(_cast_vec_sql(vec_col), cents)
        q = queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            F.explode(_probe_ids(qdots, len(cents), n_probe)).alias("__list"),
            _norm(cvec).alias("__qn"),
        )
    scored = corpus_l.join(F.broadcast(q), on="__list").select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_prenorm(
            F.col(vec_col).cast("array<double>"),
            F.col("__qvec").cast("array<double>"),
            F.col("__cn"),
            F.col("__qn"),
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def tune_ivf_probe(
    corpus: DataFrame,
    recall_target: float = 0.9,
    k: int = 10,
    n_queries: int = 20,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "annrecall",
    **ivf_kwargs,
) -> tuple[int, float]:
    """Measured-minimal IVF probe budget: the smallest ``n_probe`` whose
    ``ann_recall`` (brute-force ground truth on the deterministic query
    sample) meets ``recall_target``. Returns ``(n_probe, recall)``.

    This turns the round-6 measurement harness into an operator feature:
    instead of reading a probe budget off an idealized curve, a driver
    loop evaluates recall@k at increasing budgets ON YOUR VECTORS and
    stops at the first that clears the target (recall is monotone in
    n_probe — each budget's probed lists are a superset of the last).
    At most ``n_lists`` harness evaluations, each one Spark job over
    n_queries x corpus — run it once per corpus/quantizer, then reuse
    the returned budget for every query batch.
    """
    if not 0 < recall_target <= 1:
        raise ValueError("recall_target must be in (0, 1]")
    last = 0.0
    for n_probe in range(1, n_lists + 1):
        row = ann_recall(
            corpus,
            k=k,
            n_queries=n_queries,
            method="ivf",
            id_col=id_col,
            vec_col=vec_col,
            salt=salt,
            n_lists=n_lists,
            n_probe=n_probe,
            **ivf_kwargs,
        ).collect()[0]
        last = float(row["recall"] or 0.0)
        if last >= recall_target:
            return n_probe, last
    return n_lists, last


def _assign_cells_pandas(
    df: DataFrame,
    cents: "np.ndarray",
    id_col: str,
    vec_col: str,
    n_probe: int,
    with_cosine: bool = False,
) -> DataFrame:
    """Vectorized (Arrow-batched numpy matmul) cell assignment + probe
    lists — the scale path past the inlined-centroid ceiling: the
    codegen assignment evaluates O(n_lists·dim) expression work PER ROW
    and its plan build grows with n_lists (measured: at 100k vectors
    n_lists=512 REGRESSES vs 256, BASELINE.md round-12), while one
    batched ``M @ C.T`` is flat. Same selection conventions as the
    codegen path: assignment = first argmax (ties to the LOWEST cell),
    probes = dots desc with ties to the HIGHEST cell. Cosine argmax is
    scale-invariant, so row norms are skipped; numpy's summation order
    differs from the JVM fold's, so a dot sitting within one ULP of a
    tie can pick a different (equally near) cell — acceptable for an
    approximate quantizer, and why this stays opt-in rather than
    replacing the oracle-pinned codegen path. Returns
    (id, vec, __list int, __probes array<int>), plus ``__cos`` (double,
    cosine to the ASSIGNED centroid — centroids are unit vectors, so
    this is top-dot / row-norm) when ``with_cosine``."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    C = np.ascontiguousarray(cents, dtype=np.float64)
    L = len(C)
    in_schema = df.select(F.col(id_col), F.col(vec_col)).schema
    extra = [
        StructField("__list", IntegerType()),
        StructField("__probes", ArrayType(IntegerType())),
    ]
    if with_cosine:
        extra.append(StructField("__cos", DoubleType()))
    out_schema = StructType(list(in_schema.fields) + extra)
    n_p = min(n_probe, L)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                # np.asarray of an empty column is 1-D and the matmul
                # against C.T would raise instead of yielding 0 rows
                continue
            M = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            D = M @ C.T
            out = pdf.copy()
            out["__list"] = np.argmax(D, axis=1).astype("int32")
            # top-n_probe desc, ties -> higher cell id: argsort the
            # REVERSED columns (stable ties keep lower reversed index =
            # higher original id), then map back
            order_r = np.argsort(-D[:, ::-1], axis=1, kind="stable")[:, :n_p]
            probes = (L - 1 - order_r).astype("int32")
            out["__probes"] = list(probes)
            if with_cosine:
                norms = np.linalg.norm(M, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    out["__cos"] = np.max(D, axis=1) / norms
            yield out

    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        assign, schema=out_schema
    )


def _knn_cell_topk_pandas(
    left: DataFrame, right: DataFrame, id_col: str, k: int
) -> DataFrame:
    """Cell-local vectorized pair scoring + per-(cell, vector) top-k for
    :func:`knn_graph` (guide §4.2: the per-pair interpreted cosine fold
    was the dominant cost of the cell join — ~5 µs/pair at dim 64, so
    1M pairs ≈ 5 s at sf0.1 — plus ~3 s to materialize the 1 KB pair
    rows and ~4 s to window-sort them; one numpy block per cell is
    ~100× and emits only the ≤ k survivors per (cell, vector)).

    Replaces ``left JOIN right ON __list`` + the stage-1 window with a
    cogroup on the SAME ``__list`` key (same single exchange, same
    partitioning) and a kernel that reproduces the join plan's output
    exactly:

    - dots via :func:`_seq_dots` and norms via :func:`_seq_self_norms`
      — index-order accumulation, bit-identical doubles to the JVM
      ``aggregate`` folds; ``cosine = dot / (qn·nn)`` is the same IEEE
      division as ``try_divide``.
    - zero-denominator pairs yield NULL cosine (``try_divide``) and
      rank LAST (Spark desc puts nulls last); NaN cosines rank FIRST
      (Spark orders NaN above all doubles); ties broken by ascending
      neighbor id, exactly ``row_number() OVER (ORDER BY cosine DESC,
      nid ASC)``.
    - NULL vectors are dropped on both sides — in the join plan the
      left side loses them to ``explode(NULL probes)`` and the right
      side to the NULL equi-join key.
    - self-pairs excluded (the join plan's ``id != nid`` filter).

    Requires uniform vector dims within each cell (raises on ragged —
    the declared-query corpora are uniform by construction)."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = left.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("neighbor_id", id_type),
            StructField("cosine", DoubleType()),
        ]
    )
    empty = pd.DataFrame({id_col: [], "neighbor_id": [], "cosine": []})

    def score(lg: "pd.DataFrame", rg: "pd.DataFrame") -> "pd.DataFrame":
        lg = lg[lg["__qvec"].notna()]
        rg = rg[rg["__nvec"].notna()]
        if len(lg) == 0 or len(rg) == 0:
            return empty
        A = np.ascontiguousarray(list(lg["__qvec"]), dtype=np.float64)
        B = np.ascontiguousarray(list(rg["__nvec"]), dtype=np.float64)
        aid = lg[id_col].to_numpy()
        bid = rg["__nid"].to_numpy()
        an = _seq_self_norms(A)
        bn = _seq_self_norms(B)
        # pre-order candidate COLUMNS by neighbor id ascending: stable
        # argsorts below then break every tie to the lower nid for free
        co = np.argsort(bid, kind="stable")
        bid = bid[co]
        B = np.ascontiguousarray(B[co])
        bn = bn[co]
        n = len(bid)
        kk = min(k + 1, n)  # +1: at most one self-pair per row to drop
        # row blocks bound the m×n scratch matrices (~32 MB each)
        blk = max(64, 4_000_000 // max(1, n))
        outs = []
        for s in range(0, len(aid), blk):
            Ab, anb, aidb = A[s : s + blk], an[s : s + blk], aid[s : s + blk]
            d = _seq_dots(Ab, B)
            denom = anb[:, None] * bn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                c = d / denom
            null = denom == 0.0
            selfm = aidb[:, None] == bid[None, :]
            # two-key stable radix sort: secondary key first (-cosine
            # asc == cosine desc, NaN mapped below -inf so it ranks
            # first; ties keep column order == nid asc), then the tier
            # (0 scored, 1 NULL-cosine, 2 self) as the primary key
            negk = np.where(np.isnan(c), -np.inf, -c)
            negk = np.where(null, 0.0, negk)
            tier = np.zeros(c.shape, dtype=np.int8)
            tier[null] = 1
            tier[selfm] = 2
            ord1 = np.argsort(negk, axis=1, kind="stable")
            ord2 = np.argsort(
                np.take_along_axis(tier, ord1, axis=1), axis=1, kind="stable"
            )
            order = np.take_along_axis(ord1, ord2, axis=1)[:, :kk]
            m = len(aidb)
            rows = np.repeat(np.arange(m), kk)
            cols = order.ravel()
            keep = tier[rows, cols] != 2
            rows, cols = rows[keep], cols[keep]
            counts = np.bincount(rows, minlength=m)
            seq = np.arange(len(rows)) - np.repeat(
                np.cumsum(counts) - counts, counts
            )
            final = seq < k
            ri, ci = rows[final], cols[final]
            vals = c[ri, ci]
            isnull = null[ri, ci]
            if isnull.any():
                vals = vals.astype(object)
                vals[isnull] = None
            outs.append(
                pd.DataFrame(
                    {id_col: aidb[ri], "neighbor_id": bid[ci], "cosine": vals}
                )
            )
        return pd.concat(outs, ignore_index=True)

    return (
        left.groupBy("__list")
        .cogroup(right.groupBy("__list"))
        .applyInPandas(score, schema=out_schema)
    )


def knn_graph(
    df: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 10_000,
    assign_impl: str = "codegen",
    score_impl: str = "pandas",
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH: top-k cosine neighbors for
    EVERY vector in the corpus — the corpus×corpus form that SemDeDup-
    style clustering and graph-based curation consume, where the
    ``*_topk`` retrievers' broadcast-the-queries plan is structurally
    wrong (the "query" side IS the corpus).

    Plan (no broadcast of either side): the spherical-k-means coarse
    quantizer from :func:`ivf_topk` assigns every vector to its argmax
    cell once; each vector additionally probes its ``n_probe`` nearest
    cells. Left (probe-exploded) and right (cell-assigned) sides meet in
    a plain shuffle EQUI-JOIN on the cell id, so only same-cell pairs
    are ever scored — expected pair count Σ_cells |cell|² × n_probe,
    against N² for brute force. Per-pair work is one JVM cosine fold.

    Top-k is two-stage so the big pair frame shuffles exactly once (the
    cell join): stage 1 ranks per (cell, vector) — the join output is
    already hash-partitioned by cell id, so Catalyst inserts NO exchange,
    only a partition-local sort — and keeps k per cell; stage 2 ranks
    the surviving ≤ n_probe·k candidates per vector globally. The final
    exchange moves O(N·n_probe·k) rows, not O(pairs).

    At 100 TB: size ``n_lists`` so the average cell holds a few thousand
    vectors (pair cost per cell is quadratic — n_lists should grow
    linearly with N); hot cells are split by AQE skew-join. Ties broken
    by ascending neighbor id. Self-pairs excluded. Price the probe
    budget with :func:`knn_graph_recall` instead of guessing.

    ``assign_impl``: ``"codegen"`` (default, oracle-pinned) inlines the
    centroids as literal expressions — pure JVM, but per-row assignment
    work is O(n_lists·dim) and plan build grows with n_lists, so past
    a few hundred lists it dominates (measured regression at 512,
    BASELINE.md round-12); ``"pandas"`` computes assignment + probes as
    one Arrow-batched numpy matmul per batch (flat in n_lists — the
    path to the thousands-of-cells regime larger corpora need), with
    identical selection conventions up to ULP ties.

    ``score_impl``: ``"pandas"`` (default) scores each cell's pairs as
    one blocked numpy kernel via cogroup on the SAME ``__list`` key —
    bit-identical cosines (index-order folds, see
    :func:`_knn_cell_topk_pandas`) at ~100× the per-pair throughput of
    the interpreted JVM fold, emitting only the ≤ k survivors per
    (cell, vector) instead of materializing the pair frame;
    ``"join"`` is the original shuffle-equi-join + window plan (kept
    for ragged-dim corpora, which the kernel rejects). Returns
    (id_col, neighbor_id, cosine, rank).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if n_lists <= 0 or n_probe <= 0:
        raise ValueError("n_lists and n_probe must be positive")
    if assign_impl not in ("codegen", "pandas"):
        raise ValueError("assign_impl must be 'codegen' or 'pandas'")
    if score_impl not in ("pandas", "join"):
        raise ValueError("score_impl must be 'pandas' or 'join'")
    # the vectorized scorer carries no norm columns: it recomputes both
    # norms in-kernel with the same index-order fold (bit-identical)
    with_norms = score_impl == "join"
    cents = _train_centroids(df, vec_col, n_lists, seed, sample_size, id_col=id_col)
    cvec = F.col(vec_col).cast("array<double>")
    if assign_impl == "pandas":
        from pyspark import StorageLevel

        # materialization barrier: the mapInPandas result feeds BOTH
        # join sides, so without it the Arrow/numpy assignment stage
        # runs twice per job — doubling the Python cost exactly in the
        # large-n_lists regime this path exists for. DISK_ONLY for the
        # same reason as the hamming bit pack: stream back, skip heap.
        assigned = _assign_cells_pandas(
            df, cents, id_col, vec_col, n_probe
        ).localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
        right = assigned.select(
            F.col(id_col).alias("__nid"),
            F.col(vec_col).cast("array<double>").alias("__nvec"),
            "__list",
            *(
                [_norm(F.col(vec_col).cast("array<double>")).alias("__nn")]
                if with_norms
                else []
            ),
        )
        left = assigned.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__qvec"),
            F.explode("__probes").alias("__list"),
            *(
                [_norm(F.col(vec_col).cast("array<double>")).alias("__qn")]
                if with_norms
                else []
            ),
        )
    else:
        dots = _centroid_dots(_cast_vec_sql(vec_col), cents)
        # staged dots on the RIGHT side (guide §4.1): the argmax
        # references the array twice; the left side's single probe use
        # stays inline
        d = F.col("__dots")
        right = df.withColumn("__dots", dots).select(
            F.col(id_col).alias("__nid"),
            cvec.alias("__nvec"),
            (F.array_position(d, F.array_max(d)) - 1).cast("int").alias("__list"),
            *([_norm(cvec).alias("__nn")] if with_norms else []),
        )
        # per-vector top-n_probe cells: same (d, i)-struct sort as
        # ivf_topk (ties: higher cell id first — reverse of ascending
        # array_sort); _probe_ids zips instead of indexing, which
        # matters HERE most of all — this expression runs per CORPUS
        # row, not per query
        left = df.select(
            F.col(id_col),
            cvec.alias("__qvec"),
            F.explode(_probe_ids(dots, len(cents), n_probe)).alias("__list"),
            *([_norm(cvec).alias("__qn")] if with_norms else []),
        )
    if score_impl == "pandas":
        cand = _knn_cell_topk_pandas(left, right, id_col, k)
    else:
        scored = (
            left.join(right, on="__list")
            .where(F.col(id_col) != F.col("__nid"))
            .select(
                "__list",
                F.col(id_col),
                F.col("__nid"),
                cosine_prenorm(
                    F.col("__qvec"), F.col("__nvec"), F.col("__qn"), F.col("__nn")
                ).alias("cosine"),
            )
        )
        w1 = Window.partitionBy("__list", id_col).orderBy(
            F.desc("cosine"), F.asc("__nid")
        )
        cand = (
            scored.withColumn("__r1", F.row_number().over(w1))
            .where(F.col("__r1") <= k)
            .select(id_col, F.col("__nid").alias("neighbor_id"), "cosine")
        )
    w = Window.partitionBy(id_col).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(id_col, "rank")
    )


def knn_graph_recall(
    df: DataFrame,
    k: int = 10,
    n_queries: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "annrecall",
    **knn_kwargs,
) -> DataFrame:
    """Recall@k of :func:`knn_graph` against exact brute-force neighbors
    (self excluded on BOTH sides), on the same deterministic md5-keyed
    query sample as :func:`ann_recall` — the harness that prices an
    (n_lists, n_probe) budget for the kNN-graph before a 100-TB run.

    The graph side runs the full corpus×corpus operator (that IS its
    cost — the harness prices the real plan, not a query-subset
    simulation) and is then filtered to the sampled ids; the exact side
    scores only n_queries × corpus via the broadcast-queries path.
    Returns one row: n_queries, k, n_exact, n_approx, n_hits, recall.
    """
    from clarite_python_spark.functions.hashing import md5_60bit

    if n_queries <= 0 or k <= 0:
        raise ValueError("n_queries and k must be positive")
    q = (
        df.withColumn(
            "__qkey",
            md5_60bit(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt))),
        )
        .orderBy("__qkey", id_col)
        .limit(n_queries)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col))
    )
    # exact top-k excluding self: fetch k+1, drop the self row, re-rank
    ex = (
        cosine_topk(df, q, k + 1, id_col, vec_col)
        .where(F.col("query_id") != F.col(id_col))
    )
    we = Window.partitionBy("query_id").orderBy(F.asc("rank"))
    exact = (
        ex.withColumn("__r", F.row_number().over(we))
        .where(F.col("__r") <= k)
        .select("query_id", id_col)
    )
    approx = (
        knn_graph(df, k, id_col=id_col, vec_col=vec_col, **knn_kwargs)
        .join(F.broadcast(q.select(F.col("query_id"))), F.col(id_col) == F.col("query_id"))
        .select("query_id", F.col("neighbor_id").alias(id_col))
    )
    j = exact.withColumn("__e", F.lit(1)).join(
        approx.withColumn("__a", F.lit(1)), ["query_id", id_col], "full_outer"
    )
    counts = j.agg(
        F.sum("__e").alias("n_exact"),
        F.sum("__a").alias("n_approx"),
        F.sum(F.col("__e") * F.col("__a")).alias("n_hits"),
    ).select(
        F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
        F.coalesce("n_approx", F.lit(0)).alias("n_approx"),
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
    )
    n_q = q.agg(F.count(F.lit(1)).alias("n_queries"))
    one = n_q.crossJoin(F.broadcast(counts))
    return one.select(
        "n_queries",
        F.lit(int(k)).alias("k"),
        "n_exact",
        "n_approx",
        "n_hits",
        F.when(
            F.col("n_exact") > 0, F.round(F.col("n_hits") / F.col("n_exact"), 6)
        ).alias("recall"),
    )


def _seq_self_norms(M: "np.ndarray") -> "np.ndarray":
    """Row norms with the JVM fold's summation order (see _seq_dots)."""
    acc = np.zeros(M.shape[0])
    for k in range(M.shape[1]):
        acc += M[:, k] * M[:, k]
    return np.sqrt(acc)


def _seq_dots(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """All-pairs dot products accumulated in INDEX ORDER over the
    dimension axis — ``((0.0 + p0) + p1) + ...`` — exactly the
    evaluation order of :func:`_dot`'s ``aggregate`` fold, so every
    resulting double is bit-identical to the JVM expression (IEEE
    multiply per term, IEEE add in the same sequence). A BLAS matmul
    would be faster still but sums in an arbitrary order; this keeps
    the vectorized exact path hash-compatible with the join plan by
    construction, not by luck."""
    acc = np.zeros((A.shape[0], B.shape[0]))
    for k in range(A.shape[1]):
        acc += A[:, k, None] * B[None, :, k]
    return acc


def _exact_neardup_pandas(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame | None:
    """Vectorized all-pairs exact near-dup scoring (guide §4: the
    per-pair interpreted array fold was the entire cost of the exact
    baseline — 2M pairs × ~23 µs/fold = 46 s at sf0.1; numpy blocks
    are ~100×). The corpus (bounded by the caller's ``max_exact_rows``
    guard — same class of bounded driver materialization as the
    k-means training sample) is broadcast once; each Arrow batch of
    the row-spread corpus scores an m×n block with :func:`_seq_dots`,
    keeps ``id_a < id_b`` survivors of ``cosine >= threshold``, and
    emits only those. Semantics parity with the join plan: zero-norm
    rows yield NULL cosine there (``try_divide``) and are dropped —
    here the zero-denominator entries are masked out; a NaN cosine
    passes the filter there (Spark orders NaN above all doubles) — so
    NaN passes here too. Returns None when vectors are ragged (mixed
    dims) so the caller can fall back to the join plan, whose
    ``zip_with`` semantics define the mixed-dim behavior."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).where(F.col("__v").isNotNull())
    id_type = base.schema["__id"].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )
    rows = base.collect()
    if not rows:
        return spark.createDataFrame([], out_schema)
    if len({len(r["__v"]) for r in rows}) != 1:
        return None
    bid = np.asarray([r["__id"] for r in rows])
    Bm = np.ascontiguousarray([r["__v"] for r in rows], dtype=np.float64)
    bn = _seq_self_norms(Bm)
    bc = spark.sparkContext.broadcast((bid, Bm, bn))
    n_b = len(bid)

    def score(batches):
        b_id, b_m, b_n = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.asarray(list(pdf["__v"]), dtype=np.float64)
            aid = pdf["__id"].to_numpy()
            an = _seq_self_norms(A)
            m = len(aid)
            # cap the m×blk accumulator around 64 MB
            blk = max(256, 8_000_000 // max(1, m))
            outs = []
            for s in range(0, n_b, blk):
                d = _seq_dots(A, b_m[s : s + blk])
                denom = an[:, None] * b_n[None, s : s + blk]
                with np.errstate(divide="ignore", invalid="ignore"):
                    c = d / denom
                keep = (
                    (denom != 0)
                    & (aid[:, None] < b_id[None, s : s + blk])
                    & ((c >= threshold) | np.isnan(c))
                )
                ii, jj = np.nonzero(keep)
                if len(ii):
                    outs.append(
                        pd.DataFrame(
                            {
                                "id_a": aid[ii],
                                "id_b": b_id[s : s + blk][jj],
                                "cosine": c[ii, jj],
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    spread = base.repartition(spark.sparkContext.defaultParallelism)
    return spread.mapInPandas(score, schema=out_schema)


def embedding_neardup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 6,
    n_bands: int = 8,
    seed: int = 42,
    exact: bool = False,
    max_exact_rows: int | None = 100_000,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id_a < id_b) with
    cosine(vec_a, vec_b) >= ``threshold``.

    ``dim`` (optional): the embedding dimensionality, when the caller
    already knows it — skips the ``first()`` dim probe, which matters
    when ``df`` is itself an expensive pipeline (r13:
    incremental_embedding_neardup's within-batch pass probed the whole
    cross-set anti-join just to read one vector's length).

    The default is the scale path: banded random-hyperplane LSH blocking
    (same hash family as :func:`lsh_topk`). Each vector gets ``n_bands``
    bucket ids of ``n_planes`` sign-bits each; a pair is a candidate iff
    it collides in at least one band, and only candidates are scored
    exactly.  Candidate recall for a pair at angle theta is
    ``1 - (1 - (1 - theta/pi)^n_planes)^n_bands`` — ~0.98 at cosine 0.9
    with the defaults, -> 1 as cosine -> 1.  The band join is an
    equi-join on (band, bucket): no cross join anywhere, expected cost
    O(n_bands * n^2 / 2^n_planes) spread across buckets.

    ``exact=True`` (or ``n_planes=0``) compares all pairs — the O(n^2)
    correctness baseline the DuckDB oracle reproduces.  Because an
    all-pairs theta-join is a scale-killer, the exact path refuses
    corpora above ``max_exact_rows`` (pass ``None`` to override)."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("__va"),
        _norm(F.col(vec_col).cast("array<double>")).alias("__na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("__vb"),
        _norm(F.col(vec_col).cast("array<double>")).alias("__nb"),
    )
    if exact or n_planes <= 0:
        if max_exact_rows is not None:
            n = df.count()
            if n > max_exact_rows:
                raise ValueError(
                    f"embedding_neardup(exact=True) on {n} rows would score "
                    f"~{n * (n - 1) // 2} pairs (> max_exact_rows={max_exact_rows}). "
                    "Use the default LSH-blocked mode, or pass max_exact_rows=None "
                    "to force the all-pairs plan."
                )
            # bounded corpus proven: vectorized blocked scoring
            # (guide §4) — bit-identical doubles via the fold-order
            # numpy kernel; ragged-dim corpora fall through to the
            # join plan (None return)
            out = _exact_neardup_pandas(df, id_col, vec_col, threshold)
            if out is not None:
                return out
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        if dim is None:
            head = df.select(vec_col).first()
            if head is None:  # empty corpus: no pairs, keep the schema
                return (
                    a.join(b, F.col("id_a") < F.col("id_b"))
                    .withColumn("cosine", F.lit(0.0))
                    .select("id_a", "id_b", "cosine")
                )
            dim = len(head[0])
        planes = _hyperplanes(dim, n_planes * n_bands, seed)
        # planes as data (_planes_row): identical buckets, constant-size
        # plan — see incremental_embedding_neardup
        ab = _planes_row(a, planes).select(
            "id_a",
            "__va",
            "__na",
            F.posexplode(
                _band_buckets_from(
                    F.col("__va"), F.col("__planes"), n_planes, n_bands
                )
            ).alias("__band", "__bucket"),
        )
        bb = _planes_row(b, planes).select(
            "id_b",
            "__vb",
            "__nb",
            F.posexplode(
                _band_buckets_from(
                    F.col("__vb"), F.col("__planes"), n_planes, n_bands
                )
            ).alias("__band", "__bucket"),
        )
        # A pair colliding in several bands appears once per collision;
        # dedup on the id pair before scoring so each pair is scored once.
        pairs = (
            ab.join(bb, on=["__band", "__bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    return (
        pairs.withColumn(
            "cosine",
            cosine_prenorm(
                F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 10_000,
    max_cluster_rows: int | None = 100_000,
    assign_impl: str = "codegen",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embeddings with the spherical-k-means coarse quantizer (the same one
    IVF uses), compare pairs only WITHIN a cluster, and greedily drop
    the higher id of every pair with cosine >= ``threshold``. Returns
    the surviving rows as (id, cluster).

    Scale shape: assignment is inlined-centroid JVM arithmetic riding
    the scan (no shuffle); the pair join is an equi-join on the cluster
    id, so the quadratic term is bounded by the largest cluster —
    ``n_clusters`` should grow with the corpus (SemDeDup's published
    runs use ~50k clusters for billions of docs). A pre-count guard
    refuses degenerate clusterings (> ``max_cluster_rows`` in one
    cluster) instead of silently launching an O(B^2) join; the
    LSH-banded :func:`embedding_neardup` is the fallback when the
    cluster bound can't hold. Greedy-by-id removal matches
    ``minhash_dedup``'s chain semantics (a removed doc can still knock
    out a later one), so the two near-dup families agree on semantics.

    ``assign_impl='pandas'`` swaps the inlined-centroid assignment for
    the Arrow-batched numpy matmul (:func:`_assign_cells_pandas`) —
    required past the measured ~512-cluster codegen ceiling, i.e.
    exactly the SemDeDup-published regime of tens of thousands of
    clusters. Identical up to ULP ties; codegen stays oracle-pinned.
    """
    if assign_impl not in ("codegen", "pandas"):
        raise ValueError("assign_impl must be 'codegen' or 'pandas'")
    cents = _train_centroids(df, vec_col, n_clusters, seed, sample_size, id_col=id_col)
    cvec = F.col(vec_col).cast("array<double>")
    # carry the norm as a scalar column computed ONCE per row; the pair
    # predicate is then `dot >= t * na * nb` — a pure codegen expression
    # (normalizing the arrays instead would put a CodegenFallback lambda
    # in the pair stage and disable whole-stage codegen there)
    if assign_impl == "pandas":
        from pyspark import StorageLevel

        # Arrow-batched numpy assignment (the >512-cluster path, same
        # rationale as knn_graph). The assigned frame feeds FOUR
        # consumers (guard count, both pair-join sides, the final
        # anti-join) — checkpoint so the Python stage runs once.
        assigned = (
            _assign_cells_pandas(df, cents, id_col, vec_col, n_probe=1)
            .select(
                F.col(id_col),
                cvec.alias("__v"),
                _norm(cvec).alias("__n"),
                F.col("__list").alias("cluster"),
            )
            .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
        )
    else:
        from pyspark import StorageLevel

        # staged dots (guide §4.1): argmax references the array twice.
        # r14: checkpoint the assignment like the pandas path — it feeds
        # FOUR consumers (guard count, both pair-join sides, the final
        # anti-join), each of which re-ran the scan + n_clusters x dim
        # assignment folds, and the pair join's inferred
        # isnotnull(cluster) filter inlined the argmax once more per
        # side. One materialization, four cheap reads; interleaved A/B
        # 2.6-3.1 -> 2.2-2.3 s at sf0.1, identical rows.
        d = F.col("__dots")
        assigned = (
            df.withColumn("__dots", _centroid_dots(_cast_vec_sql(vec_col), cents))
            .select(
                F.col(id_col),
                cvec.alias("__v"),
                _norm(cvec).alias("__n"),
                (F.array_position(d, F.array_max(d)) - 1).cast("int").alias("cluster"),
            )
            .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
        )
    if max_cluster_rows is not None:
        biggest = (
            assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).agg(F.max("n")).first()[0]
        )
        if biggest is not None and biggest > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup: largest cluster has {biggest} rows "
                f"(> max_cluster_rows={max_cluster_rows}); raise n_clusters "
                "(bound the within-cluster quadratic) or use embedding_neardup."
            )
    # salt the pair join so parallelism isn't capped at n_clusters: the
    # probe side keeps one salt (hash of its id), the build side is
    # replicated across all salts — each unordered pair meets exactly once
    par = df.sparkSession.sparkContext.defaultParallelism
    n_salts = max(1, min(16, par // max(n_clusters, 1)))
    a = assigned.select(
        "cluster",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("int").alias("__salt"),
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = assigned.select(
        "cluster",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("__salt"),
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    removed = (
        a.join(b, on=["cluster", "__salt"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            _dot(F.col("__va"), F.col("__vb"))
            >= F.lit(threshold) * F.col("__na") * F.col("__nb")
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(removed, on=id_col, how="left_anti").select(id_col, "cluster")


def ann_recall(
    corpus: DataFrame,
    k: int = 10,
    n_queries: int = 20,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "annrecall",
    **method_kwargs,
) -> DataFrame:
    """Measure, don't guess: recall@k of an approximate-nearest-neighbor
    method against the exact brute-force top-k, on a deterministic query
    sample (the ``n_queries`` corpus vectors with the lowest md5 keys —
    reproducible across runs, partitionings, and engines).

    recall@k = |approx hits among the true top-k| / |true top-k|, summed
    over the query set — the number that decides whether an LSH plane
    count or IVF probe budget is safe to ship at 100 TB, measured on
    YOUR vectors instead of read off an idealized curve.

    Plan: brute-force scoring runs on n_queries × corpus (one broadcast
    of the tiny query set — exactly ``cosine_topk``); the approximate
    side is the method under test; the compare is a left-semi join of
    two O(n_queries·k) result sets. Returns one row: n_queries, k,
    n_exact, n_approx, n_hits, recall.
    """
    from clarite_python_spark.functions.hashing import md5_60bit

    if n_queries <= 0 or k <= 0:
        raise ValueError("n_queries and k must be positive")
    q = (
        corpus.withColumn(
            "__qkey",
            md5_60bit(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt))),
        )
        .orderBy("__qkey", id_col)
        .limit(n_queries)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col))
    )
    exact = cosine_topk(corpus, q, k, id_col, vec_col).select("query_id", id_col)
    if method == "lsh":
        approx = lsh_topk(corpus, q, k, id_col=id_col, vec_col=vec_col, **method_kwargs)
    elif method == "lsh_multi":
        approx = lsh_topk_multi(
            corpus, q, k, id_col=id_col, vec_col=vec_col, **method_kwargs
        )
    elif method == "ivf":
        approx = ivf_topk(corpus, q, k, id_col=id_col, vec_col=vec_col, **method_kwargs)
    elif method == "quantized":
        approx = quantized_topk(
            corpus, q, k, id_col=id_col, vec_col=vec_col, **method_kwargs
        )
    elif method == "truncated":
        approx = truncated_topk(
            corpus, q, k, id_col=id_col, vec_col=vec_col, **method_kwargs
        )
    elif method == "rp":
        approx = rp_topk(corpus, q, k, id_col=id_col, vec_col=vec_col, **method_kwargs)
    elif method == "pq":
        approx = pq_topk(corpus, q, k, id_col=id_col, vec_col=vec_col, **method_kwargs)
    elif method == "ivf_pq":
        approx = ivf_pq_topk(
            corpus, q, k, id_col=id_col, vec_col=vec_col, **method_kwargs
        )
    elif method == "binary":
        approx = binary_rerank(
            corpus, q, k, id_col=id_col, vec_col=vec_col, **method_kwargs
        )
    elif method == "hamming":
        approx = hamming_topk(
            corpus, q, k, id_col=id_col, vec_col=vec_col, **method_kwargs
        )
    else:
        raise ValueError(
            "method must be 'lsh', 'lsh_multi', 'ivf', 'quantized', 'truncated', "
            "'rp', 'pq', 'ivf_pq', 'binary', or 'hamming'"
        )
    approx = approx.select("query_id", id_col)
    # one full-outer join carries all three counts, so the exact and
    # approximate top-k DAGs each evaluate exactly once
    j = exact.withColumn("__e", F.lit(1)).join(
        approx.withColumn("__a", F.lit(1)), ["query_id", id_col], "full_outer"
    )
    counts = j.agg(
        F.sum("__e").alias("n_exact"),
        F.sum("__a").alias("n_approx"),
        F.sum(F.col("__e") * F.col("__a")).alias("n_hits"),
    ).select(
        F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
        F.coalesce("n_approx", F.lit(0)).alias("n_approx"),
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
    )
    n_q = q.agg(F.count(F.lit(1)).alias("n_queries"))
    one = n_q.crossJoin(F.broadcast(counts))
    return one.select(
        "n_queries",
        F.lit(int(k)).alias("k"),
        "n_exact",
        "n_approx",
        "n_hits",
        F.when(
            F.col("n_exact") > 0, F.round(F.col("n_hits") / F.col("n_exact"), 6)
        ).alias("recall"),
    )


def embedding_drift(
    a: DataFrame,
    b: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift between two corpora — the vector-space
    twin of ``text.corpus_divergence`` (which compares token
    distributions): cosine between the two corpus CENTROIDS plus the
    mean-norm shift, the cheap pair of numbers a training-data pipeline
    tracks across snapshots/sources to catch encoder or distribution
    changes before they poison retrieval or curriculum mixing.

    Plan: each side is ONE posexplode + groupBy(dim) mean — the partial
    agg collapses to d rows per task map-side, so the shuffle carries
    O(d x partitions) doubles regardless of corpus size — then the two
    d-row centroid tables join on dim and reduce to one row. Mean norms
    ride the same scans as row-local ``aggregate`` folds. No UDFs, no
    driver-side vectors.

    Returns one row: (n_a, n_b, centroid_cosine, mean_norm_a,
    mean_norm_b, centroid_l2) — centroid_l2 is the euclidean distance
    between centroids.
    """

    def centroid(df: DataFrame, side: str) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        return (
            df.select(F.posexplode(v).alias("dim", "x"))
            .groupBy("dim")
            .agg(F.avg("x").alias(f"c_{side}"))
        )

    def stats(df: DataFrame, side: str) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        norm = F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        return df.agg(
            F.count(F.lit(1)).alias(f"n_{side}"),
            F.avg(norm).alias(f"mean_norm_{side}"),
        )

    cj = centroid(a, "a").join(centroid(b, "b"), "dim")
    red = cj.agg(
        F.sum(F.col("c_a") * F.col("c_b")).alias("__dot"),
        F.sum(F.col("c_a") * F.col("c_a")).alias("__na"),
        F.sum(F.col("c_b") * F.col("c_b")).alias("__nb"),
        F.sum(
            (F.col("c_a") - F.col("c_b")) * (F.col("c_a") - F.col("c_b"))
        ).alias("__sq"),
    )
    return (
        stats(a, "a")
        .crossJoin(stats(b, "b"))
        .crossJoin(red)
        .select(
            "n_a",
            "n_b",
            F.round(
                F.col("__dot") / (F.sqrt("__na") * F.sqrt("__nb")), 6
            ).alias("centroid_cosine"),
            F.round("mean_norm_a", 6).alias("mean_norm_a"),
            F.round("mean_norm_b", 6).alias("mean_norm_b"),
            F.round(F.sqrt("__sq"), 6).alias("centroid_l2"),
        )
    )


def _train_pq(
    df: DataFrame,
    vec_col: str,
    m: int,
    k_sub: int,
    seed: int,
    sample_size: int,
    iters: int,
    id_col: str,
) -> np.ndarray:
    """Per-subspace Euclidean k-means codebooks — (m, k_sub, dim/m).

    Same deterministic driver-side sorted sample as
    :func:`_train_centroids`; each subspace trains from its own seeded
    init (``seed + subspace``) so an oracle can replay every codebook
    independently. Empty clusters KEEP their previous centroid (no
    re-seeding randomness — deterministic and SQL-replayable).
    Subvectors are RAW (no normalization): the codebook approximates
    the vector itself, so reconstruction-based ADC scoring works for
    any similarity."""
    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(sample_size).collect()
    )
    M = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    return _pq_kmeans(M, m, k_sub, seed, iters)


def _pq_kmeans(
    M: np.ndarray, m: int, k_sub: int, seed: int, iters: int
) -> np.ndarray:
    """The per-subspace Euclidean k-means inner loop of :func:`_train_pq`
    on an in-memory sample matrix — shared with the residual trainer."""
    dim = M.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for mi in range(m):
        S = M[:, mi * dsub : (mi + 1) * dsub]
        rng = np.random.RandomState(seed + mi)
        C = S[rng.choice(len(S), size=min(k_sub, len(S)), replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1)
            assign = d2.argmin(axis=1)
            for j in range(len(C)):
                members = S[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
        books.append(C)
    return np.asarray(books)


def _train_pq_residual(
    df: DataFrame,
    vec_col: str,
    cents: np.ndarray,
    m: int,
    k_sub: int,
    seed: int,
    sample_size: int,
    iters: int,
    id_col: str,
) -> np.ndarray:
    """Residual PQ codebooks (Jégou et al.'s IVFADC refinement): the
    product quantizer trains on v - coarse_centroid(v) instead of v.
    Residuals have far smaller spread than raw vectors, so the same
    code budget spends its centroids on the part the coarse quantizer
    could not explain — measured on the gate corpus this moved
    recall@10 from quantization-bound (~0.23 at m=8) toward the IVF
    pruning bound (scripts/bench_pq_residual_gap.py). ONE shared
    codebook across lists (the classic design), so driver state stays
    O(m x k_sub x dim/m) regardless of n_lists.

    Sample assignment replays the corpus rule exactly: first argmax of
    cosine against the unit coarse centroids."""
    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(sample_size).collect()
    )
    M = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    norms = np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    assign = np.argmax((M / norms) @ cents.T, axis=1)
    return _pq_kmeans(M - cents[assign], m, k_sub, seed, iters)


def _pq_code_cols(vec: Column, books: np.ndarray) -> list[Column]:
    """Per-subspace nearest-centroid index columns (first-argmax over
    the inlined dot - 0.5*||c||^2 scores — the monotone equivalent of
    the Euclidean argmin, so only dot products reach codegen)."""
    m, k_sub, dsub = books.shape
    codes = []
    for mi in range(m):
        sub = F.slice(vec, mi * dsub + 1, dsub)
        scores = F.array(
            *[
                _dot(sub, F.array(*[F.lit(float(x)) for x in c]))
                - F.lit(0.5 * float(np.dot(c, c)))
                for c in books[mi]
            ]
        )
        codes.append(
            (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
        )
    return codes


def _pq_reconstruct(codes: list[Column], books: np.ndarray) -> Column:
    """Concatenated codebook centroids for a row's codes — the ADC-side
    approximation of the original vector (array<double>)."""
    m = books.shape[0]
    parts = []
    for mi in range(m):
        # one SQL parse per codebook LUT instead of k_sub x dsub py4j
        # literal calls (r13) — identical nested-array literal
        lut = F.expr(
            "array(" + ",".join(_arr_sql(c) for c in books[mi]) + ")"
        )
        parts.append(F.element_at(lut, codes[mi] + 1))
    return F.flatten(F.array(*parts))


def _with_pq_scores(
    df: DataFrame, vec_sql: str, books: "np.ndarray", prefix: str = "__pqs"
) -> tuple[DataFrame, list[Column]]:
    """Stage the per-subspace PQ score arrays as REAL columns and return
    first-argmax code expressions over the staged attributes.

    Why (guide §4.1, measured r13): every consumer of
    :func:`_pq_code_cols` referenced each code at least twice (the
    argmax's array_position + array_max pair already evaluates the
    scores array twice, and pq_codes uses the codes in both the packed
    bigint AND the reconstruction), so the m × k_sub interpreted dot
    folds ran up to 4× per row — pq_codes spent ~7 s of its sf0.1 time
    re-evaluating folds. Staging makes the folds run ONCE per row;
    CollapseProject keeps the projection apart because the refs are
    non-cheap and multi-used (same discipline as ivf_pq's __res
    staging). Identical scores, identical argmax, identical codes."""
    m, k_sub, dsub = books.shape
    cols = {}
    names = [f"{prefix}{mi}" for mi in range(m)]
    for mi in range(m):
        # one SQL parse per subspace score array (r13) — the identical
        # slice/dot-fold/bias tree the Column API built, minus ~k_sub ×
        # dsub py4j round trips per subspace
        sub = f"slice({vec_sql}, {mi * dsub + 1}, {dsub})"
        elems = ",".join(
            f"{_dot_sql(sub, _arr_sql(c))} - {_dlit(0.5 * float(np.dot(c, c)))}"
            for c in books[mi]
        )
        cols[names[mi]] = F.expr(f"array({elems})")
    codes = [
        (F.array_position(F.col(n), F.array_max(F.col(n))) - 1).cast("int")
        for n in names
    ]
    return df.withColumns(cols), codes


def pq_codes(
    df: DataFrame,
    m: int = 8,
    k_sub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 10_000,
    iters: int = 10,
) -> DataFrame:
    """Product-quantization codes (Jégou et al., PAMI 2011): split each
    vector into ``m`` subvectors, encode each by its nearest per-subspace
    k-means centroid — ``m * log2(k_sub)`` bits per vector (the default
    8x16 = 4 bytes vs 256 for float64x64, a 64x compression), THE
    standard memory/IO lever for billion-scale ANN corpora.

    Codebooks are O(m x k_sub x dim/m) driver state trained once on the
    deterministic sorted sample; encoding is a pure codegen projection
    (inlined centroid dots, first-argmax per subspace — no shuffle, no
    Python, linear at 100 TB; persist the codes next to the vectors and
    downstream search never touches the floats).

    Returns (id, pq_code, recon_cosine): ``pq_code`` packs the m
    sub-codes base-``k_sub`` into one BIGINT (scalar, join/persist
    friendly); ``recon_cosine`` is cosine(vector, reconstruction) — the
    per-row quantization-quality signal (near 1 = faithful encoding).
    """
    if k_sub < 2 or m < 1:
        raise ValueError("need k_sub >= 2 and m >= 1")
    books = _train_pq(df, vec_col, m, k_sub, seed, sample_size, iters, id_col)
    v = F.col(vec_col).cast("array<double>")
    # staged scores (guide §4.1): codes feed BOTH the packed bigint and
    # the reconstruction — without staging the m×k_sub folds ran ~4×/row
    staged, codes = _with_pq_scores(df, _cast_vec_sql(vec_col), books)
    packed = codes[0].cast("bigint")
    mult = 1
    for mi in range(1, m):
        mult *= k_sub
        packed = packed + codes[mi].cast("bigint") * F.lit(mult)
    recon = _pq_reconstruct(codes, books)
    return staged.select(
        F.col(id_col),
        packed.alias("pq_code"),
        F.round(cosine(v, recon), 6).alias("recon_cosine"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    k_sub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    sample_size: int = 10_000,
    iters: int = 10,
) -> DataFrame:
    """PQ asymmetric-distance top-k: raw queries scored against each
    corpus vector's RECONSTRUCTION (concatenated codebook centroids) —
    the ADC form of Jégou et al., expressed as reconstruction so the
    scorer is the same broadcast + window plan as :func:`cosine_topk`
    with the corpus side 64x smaller at rest. Rank damage is a
    property of YOUR corpus: measure it with
    ``ann_recall(method='pq')`` instead of assuming it.

    Ties (two corpus vectors sharing a reconstruction) break by corpus
    id, so the ranking is deterministic and engine-replayable."""
    books = _train_pq(
        corpus, vec_col, m, k_sub, seed, sample_size, iters, id_col
    )
    v = F.col(vec_col).cast("array<double>")
    # staged scores (guide §4.1) — see _with_pq_scores
    staged, codes = _with_pq_scores(corpus, _cast_vec_sql(vec_col), books)
    recon = _pq_reconstruct(codes, books)
    enc = staged.select(F.col(id_col), recon.alias("__recon")).withColumn(
        "__rn", _norm(F.col("__recon"))
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col).cast("array<double>")).alias("__qn"),
    )
    scored = enc.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_prenorm(
            F.col("__recon"),
            F.col("__qvec").cast("array<double>"),
            F.col("__rn"),
            F.col("__qn"),
        ).alias("cosine_pq"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_pq"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_sub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    sample_size: int = 10_000,
    iters: int = 10,
    residual: bool = False,
    assign_impl: str = "codegen",
) -> DataFrame:
    """IVF coarse pruning composed with PQ compressed scoring — the
    billion-scale ANN architecture (Jégou et al.'s IVFADC): the spherical
    k-means coarse quantizer cuts the scanned fraction to
    ``n_probe/n_lists`` and the product quantizer cuts the bytes per
    scanned row ~64x, so at 100 TB a query batch touches
    ``n_probe/n_lists * corpus_rows * (8 + m*log2(k_sub)/8)`` bytes
    instead of the raw float matrix.

    Plan shape: corpus rows get a list id (first-argmax over inlined
    coarse-centroid dots) and a PQ reconstruction (inlined codebook
    lookup) in ONE codegen projection — at scale both persist alongside
    the vectors and this becomes a pure scan of the 4-byte codes.
    Queries broadcast with their exploded probe lists; the equi-join on
    the list id is the only pruning structure; scoring touches
    reconstructions only.

    ``residual=True`` is the classic IVFADC refinement: PQ encodes
    v - coarse_centroid(v) (ONE shared codebook across lists, Jégou's
    design) and the reconstruction is centroid + decoded residual —
    same plan shape, same O(m x k_sub x dim/m) state. Whether it helps
    is a property of YOUR corpus, not of the algorithm: residual energy
    is 2 - 2*cos(v, centroid) for unit vectors, so residuals are easier
    to quantize than raw vectors exactly when the mean cosine to the
    assigned coarse centroid exceeds 0.5 (check it with
    :func:`cluster_embeddings`' cosine column). Measured (round 10,
    scripts/bench_pq_residual_gap.py, n_probe=8 m=8 k_sub=16): on the
    near-uniform gate corpus (mean cos ~0.4, residual energy 1.25)
    residual LOSES, recall@10 0.204 vs 0.248 raw; on a 16-cluster
    corpus with residual energy 0.31 it WINS 0.348 vs 0.204. Default
    False (the gate corpus' own best choice, and the form the r9
    oracles pin); switch it on when the coarse quantizer explains your
    vectors.

    Ties break by corpus id; deterministic and engine-replayable.

    ``assign_impl='pandas'``: coarse list assignment (corpus side) and
    query probe lists via the Arrow-batched numpy matmul instead of
    inlined-centroid codegen — the past-~512-lists path; the PQ
    codebook lookup stays codegen either way (its per-row work is
    O(k_sub·dim), independent of n_lists). Identical up to ULP ties;
    codegen stays the oracle-pinned default."""
    if assign_impl not in ("codegen", "pandas"):
        raise ValueError("assign_impl must be 'codegen' or 'pandas'")
    cents = _train_centroids(corpus, vec_col, n_lists, seed, sample_size, id_col=id_col)
    cvec = F.col(vec_col).cast("array<double>")
    if assign_impl == "pandas":
        corpus_a = _assign_cells_pandas(
            corpus, cents, id_col, vec_col, n_probe=1
        ).select(F.col(id_col), F.col(vec_col), F.col("__list"))
    else:
        # staged dots (guide §4.1): argmax references the array twice
        d = F.col("__dots")
        # non-nullable join key (same rationale as ivf_topk): the probe
        # equi-join's inferred isnotnull(__list) filter would otherwise
        # inline the full centroid-dots argmax a second time per corpus
        # row. Sentinel is -(len(cents)+1), NOT -1: the residual path
        # computes element_at(cent_lut, __list + 1), and -len(cents) is
        # a valid from-the-end index (no ANSI error) while -1 + 1 = 0
        # would throw; the sentinel row's garbage residual is dropped by
        # the inner join exactly as the null row was.
        corpus_a = corpus.withColumn(
            "__dots", _centroid_dots(_cast_vec_sql(vec_col), cents)
        ).select(
            F.col(id_col),
            F.col(vec_col),
            F.coalesce(
                (F.array_position(d, F.array_max(d)) - 1).cast("int"),
                F.lit(-(len(cents) + 1)),
            ).alias("__list"),
        )
    if residual:
        books = _train_pq_residual(
            corpus, vec_col, cents, m, k_sub, seed, sample_size, iters, id_col
        )
        # one SQL parse for the centroid LUT (r13) — identical literal
        cent_lut = F.expr(
            "array(" + ",".join(_arr_sql(c) for c in cents) + ")"
        )
        # stage __cent and __res as real columns: inlining them would
        # duplicate the (dots + centroid LUT) literal trees into every
        # one of the m x k_sub code scores — an expression tree Catalyst
        # cannot even canonicalize at dim 64 (measured: 10 MiB task
        # binaries, executor heap OOM). CollapseProject keeps these
        # projections apart because the refs are non-cheap + multi-used.
        staged = (
            corpus_a.select(F.col(id_col), cvec.alias("__v"), F.col("__list"))
            .withColumn("__cent", F.element_at(cent_lut, F.col("__list") + 1))
            .withColumn(
                "__res", F.zip_with("__v", "__cent", lambda a, b: a - b)
            )
        )
        # staged scores (guide §4.1) — see _with_pq_scores
        staged, codes = _with_pq_scores(staged, "`__res`", books)
        enc = staged.select(
            F.col(id_col),
            F.col("__list"),
            F.zip_with(
                F.col("__cent"),
                _pq_reconstruct(codes, books),
                lambda a, b: a + b,
            ).alias("__recon"),
        )
    else:
        books = _train_pq(corpus, vec_col, m, k_sub, seed, sample_size, iters, id_col)
        # staged scores (guide §4.1) — see _with_pq_scores
        staged, codes = _with_pq_scores(corpus_a, _cast_vec_sql(vec_col), books)
        enc = staged.select(
            F.col(id_col),
            F.col("__list"),
            _pq_reconstruct(codes, books).alias("__recon"),
        )
    enc = enc.withColumn("__rn", _norm(F.col("__recon")))
    if assign_impl == "pandas":
        q = _assign_cells_pandas(
            queries, cents, query_id_col, vec_col, n_probe
        ).select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            F.explode("__probes").alias("__list"),
            _norm(cvec).alias("__qn"),
        )
    else:
        qdots = _centroid_dots(_cast_vec_sql(vec_col), cents)
        q = queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            F.explode(_probe_ids(qdots, len(cents), n_probe)).alias("__list"),
            _norm(cvec).alias("__qn"),
        )
    scored = enc.join(F.broadcast(q), on="__list").select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_prenorm(
            F.col("__recon"),
            F.col("__qvec").cast("array<double>"),
            F.col("__rn"),
            F.col("__qn"),
        ).alias("cosine_pq"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_pq"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def incremental_embedding_neardup(
    batch: DataFrame,
    history: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 6,
    n_bands: int = 8,
    seed: int = 42,
    within_batch: bool = True,
) -> DataFrame:
    """Daily-ingest embedding near-dup dedup — the vector twin of
    dedup.incremental_neardup: drop batch vectors whose cosine against
    ANY history vector reaches ``threshold``, then greedily dedupe the
    survivors within the batch (drop the higher id of every surviving
    pair, :func:`embedding_neardup` semantics). History always wins —
    a new vector never displaces a persisted one.

    Both sides band with the same seeded hyperplane family as
    :func:`embedding_neardup`; the cross-set candidate join is an
    equi-join on (band, bucket) — no cross join, expected cost
    O(n_bands · |batch|·|history| / 2^n_planes) spread across buckets.
    History-side banding is O(|history|) per run on raw vectors; at
    100 TB persist the banded history once (id, band, bucket — or the
    4-byte :func:`pq_codes` for the verify side) and append per batch,
    exactly like the text family's ``band_table``/``fp_dir`` state.

    Returns the kept subset of ``batch`` with its original columns.
    """
    head = batch.select(vec_col).first()
    if head is None:
        return batch
    dim = len(head[0])
    planes = _hyperplanes(dim, n_planes * n_bands, seed)
    # planes ride a broadcast 1-row frame (_planes_row): identical
    # buckets, constant-size plan — the inlined-literal form cost more
    # in Catalyst construction than the whole job's execution
    nb = _planes_row(batch, planes).select(
        F.col(id_col).alias("__idn"),
        F.col(vec_col).cast("array<double>").alias("__vn"),
        _norm(F.col(vec_col).cast("array<double>")).alias("__nn"),
        F.posexplode(
            _band_buckets_from(
                F.col(vec_col).cast("array<double>"),
                F.col("__planes"),
                n_planes,
                n_bands,
            )
        ).alias("__band", "__bucket"),
    )
    hb = _planes_row(history, planes).select(
        F.col(vec_col).cast("array<double>").alias("__vh"),
        _norm(F.col(vec_col).cast("array<double>")).alias("__nh"),
        F.posexplode(
            _band_buckets_from(
                F.col(vec_col).cast("array<double>"),
                F.col("__planes"),
                n_planes,
                n_bands,
            )
        ).alias("__band", "__bucket"),
    )
    from pyspark import StorageLevel

    # materialization barrier (guide §1.3/§5): ``kept`` feeds the
    # within-batch neardup on BOTH of its join sides AND the final
    # anti-join, so without it the whole cross-set pipeline (banding of
    # both sides + the collision join + the distinct) re-executes once
    # per consumer — measured 21.6 s -> 7.4 s at sf0.1 with the
    # dropped/losers id-frames (tiny: ids only) checkpointed once.
    dropped = (
        nb.join(hb, on=["__band", "__bucket"])
        .where(
            cosine_prenorm(
                F.col("__vn"), F.col("__vh"), F.col("__nn"), F.col("__nh")
            )
            >= F.lit(float(threshold))
        )
        .select(F.col("__idn").alias(id_col))
        .distinct()
        # EAGER (r13): ``kept`` feeds the within-batch band join on BOTH
        # sides plus the final anti-join, and those stages schedule
        # concurrently — a lazy checkpoint only dedups AFTER its first
        # evaluation, so the racing consumers each re-ran the whole
        # cross-set pipeline (measured 12 s vs 5 s total once the
        # dim-probe that had accidentally serialized it was removed)
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    kept = batch.join(dropped, on=id_col, how="left_anti")
    if within_batch:
        pairs = embedding_neardup(
            kept,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            n_planes=n_planes,
            n_bands=n_bands,
            seed=seed,
            # dim is known from the batch probe above: passing it skips
            # embedding_neardup's first() — which would materialize the
            # whole cross-set anti-join at plan-BUILD time (r13)
            dim=dim,
        )
        losers = (
            pairs.select(F.col("id_b").alias(id_col))
            .distinct()
            .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
        )
        kept = kept.join(losers, on=id_col, how="left_anti")
    return kept


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fetch_k: int = 50,
    lambda_: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    candidates: DataFrame | None = None,
    score_col: str = "cosine",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    SIGIR 1998): fetch ``fetch_k`` exact-cosine candidates per query,
    then greedily select ``k`` of them maximizing

        mmr(d) = lambda * cos(q, d) - (1 - lambda) * max_{s in S} cos(d, s)

    where ``S`` is the already-selected set — the standard redundancy
    penalty that keeps near-duplicate hits from filling the result list.

    Determinism: each step's scores are rounded to 6 decimals and ties
    broken by ascending candidate id, so results are reproducible and
    oracle-checkable.

    Scale shape: candidate generation is :func:`cosine_topk` (one corpus
    scan, broadcast queries); the greedy selection is inherently
    sequential *per query* but embarrassingly parallel *across* queries,
    so it runs as ``applyInPandas`` over the per-query candidate groups —
    each group is at most ``fetch_k`` rows regardless of corpus size
    (this is the justified Pandas-UDF case: a k-step argmax loop no
    relational operator expresses). Returns
    (query_id, id, rank, mmr).

    ``candidates``: optionally pass a precomputed candidate set
    (query_id, id, score) — e.g. ``ivf_topk`` / ``lsh_topk`` /
    ``pq_topk`` output — and the exact-cosine fetch is skipped entirely.
    This is the 100-TB composition: the ANN index prunes the corpus, MMR
    diversifies the pruned list; brute-force fetch at 1M vectors costs
    ~97 s per 100 queries (BASELINE.md round-10). Candidate ids must
    exist in ``corpus``: this path pays ONE id-keyed join against the
    corpus to re-fetch candidate vectors (the default path carries them
    through the scoring scan instead — exactly one corpus scan total).
    Null/NaN relevance scores (e.g. a zero-norm vector's cosine) sort
    last instead of poisoning the greedy argmax; rows whose EMBEDDING is
    NULL are dropped before the greedy stage (no meaningful similarity,
    and a None inside the numpy batch would be a ragged-array crash)."""
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    if candidates is not None:
        # broadcast the CANDIDATE side: it is O(queries x fetch_k) rows
        # by construction while the corpus is unbounded — without the
        # hint the planner picks the build side from size estimates and
        # at scale would shuffle the corpus by id for a few hundred
        # candidate rows (guide §3.1: pick the strategy deliberately)
        withvec = F.broadcast(
            candidates.select(
                F.col(query_id_col),
                F.col(id_col),
                F.col(score_col).alias("__rel"),
            )
        ).join(
            corpus.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
            ),
            on=id_col,
        ).select(query_id_col, id_col, "__rel", "__v")
    else:
        # cosine_topk's exact plan (broadcast queries, one corpus scan,
        # per-query window) with the candidate vector CARRIED through the
        # projection — no second corpus scan to re-fetch vectors
        q = queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            _norm(F.col(vec_col).cast("array<double>")).alias("__qn"),
        )
        scored = corpus.withColumn(
            "__cn", _norm(F.col(vec_col).cast("array<double>"))
        ).crossJoin(F.broadcast(q)).select(
            F.col(query_id_col),
            F.col(id_col),
            cosine_prenorm(
                F.col(vec_col).cast("array<double>"),
                F.col("__qvec").cast("array<double>"),
                F.col("__cn"),
                F.col("__qn"),
            ).alias("__rel"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.desc("__rel"), F.asc(id_col)
        )
        withvec = (
            scored.withColumn("__rank", F.row_number().over(w))
            .where(F.col("__rank") <= fetch_k)
            .select(query_id_col, id_col, "__rel", "__v")
        )

    # a NULL candidate vector (missing corpus embedding) would reach the
    # pandas stage as None inside np.array -> ragged-array ValueError;
    # null SCORES are handled below but a null vector has no meaningful
    # similarity to anything — drop the row in both paths
    withvec = withvec.where(F.col("__v").isNotNull())

    qf = [f for f in withvec.schema.fields if f.name == query_id_col][0]
    idf = [f for f in withvec.schema.fields if f.name == id_col][0]
    out_schema = (
        f"{query_id_col} {qf.dataType.simpleString()}, "
        f"{id_col} {idf.dataType.simpleString()}, "
        "rank int, mmr double"
    )
    lam = float(lambda_)
    kk = int(k)

    def _greedy(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        V = np.array(pdf["__v"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(V, axis=1)
        nrm[nrm == 0.0] = 1.0
        U = V / nrm[:, None]
        rel = pdf["__rel"].to_numpy(dtype=np.float64)
        # a null/NaN relevance (zero-norm cosine, null candidate score)
        # must sort LAST, not win every argmax the way NaN would
        rel = np.where(np.isnan(rel), -np.inf, rel)
        n = len(pdf)
        take = min(kk, n)
        avail = np.ones(n, dtype=bool)
        maxsim = np.full(n, -np.inf)
        picked, scores = [], []
        for step in range(take):
            if step == 0:
                mmr = np.round(lam * rel, 6)
            else:
                mmr = np.round(lam * rel - (1.0 - lam) * maxsim, 6)
            # 0 * inf etc.: any residual NaN still sorts last
            mmr = np.where(np.isnan(mmr), -np.inf, mmr)
            mmr = np.where(avail, mmr, -np.inf)
            i = int(np.argmax(mmr))  # ids sorted asc -> first max = min id
            picked.append(i)
            scores.append(float(mmr[i]))
            avail[i] = False
            maxsim = np.maximum(maxsim, U @ U[i])
        return pd.DataFrame(
            {
                query_id_col: pdf[query_id_col].iloc[picked].to_numpy(),
                id_col: pdf[id_col].iloc[picked].to_numpy(),
                "rank": np.arange(1, take + 1, dtype=np.int32),
                "mmr": np.asarray(scores, dtype=np.float64),
            }
        )

    return (
        withvec.groupBy(query_id_col)
        .applyInPandas(_greedy, schema=out_schema)
        .orderBy(query_id_col, "rank")
    )
