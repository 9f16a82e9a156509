"""Product quantization (PQ) for compressed approximate nearest neighbour.

Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011): split each ``dim``-dimensional vector into ``m`` contiguous
subvectors, learn a ``k``-entry codebook per subspace (classic L2 Lloyd —
NOT the spherical variant in :mod:`clustering`; PQ quantizes raw residual
geometry), and store each vector as ``m`` small integer codes.  Search
scores a query against the codes with an Asymmetric Distance Computation
(ADC): one ``m x k`` table of exact query-to-centroid contributions, then
every corpus vector's score is just ``m`` table lookups.

Why this matters at 100 TB: a 768-dim float32 corpus is ~3 KB/vector;
PQ with ``m=8, k=256`` is 8 BYTES/vector (384x), small enough to keep the
whole index in executor memory and score with integer sums.  This module
is the compression complement to :mod:`ann`'s IVF (coarse pruning) —
compose them (IVF bucket, then PQ-score inside the bucket) for the
standard IVF-PQ layout.

Spark-first shapes (no driver-side vectors anywhere):

- **fit** is ONE joint Lloyd loop over all ``m`` subspaces at once: the
  corpus explodes (map-only) to ``(id, sub_id, subvec)`` rows and each
  iteration is one broadcast assign (codebook is ``m*k`` rows) plus one
  map-side-combined ``groupBy(sub_id, code)`` mean — m independent
  quantizers for the price of one scan per iteration, instead of looping
  subspaces on the driver.
- **encode** is the same broadcast assign plus one per-id rollup shuffle.
- **ADC search** multiplies the bounded query batch (guarded) against the
  broadcast codebook, then one map-side broadcast join + one ``(qid, id)``
  rollup.  Contributions are quantized to integer MICRO-units before the
  sum, so scores are independent of Spark's aggregation order and match
  the DuckDB oracle exactly (the same idiom as
  :mod:`~entitymatchingmodel_spark.functions.selection`).

No reference counterpart (beyond-reference surface): the reference's only
vector story is the TF-IDF cosine matcher.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from entitymatchingmodel_spark.operators.ann import _dot

MICRO = 1_000_000


def _check_geometry(df: DataFrame, vec_col: str, m: int) -> int:
    """Fail-fast dimension probe (bounded driver action, two scalars):
    ragged or non-divisible dimensions would NULL-poison the zip_with
    arithmetic downstream and silently freeze centroids."""
    row = df.agg(
        F.max(F.size(vec_col)).alias("d"), F.min(F.size(vec_col)).alias("d0")
    ).first()
    if row["d"] is None:
        raise ValueError("no vectors to quantize")
    if row["d"] != row["d0"]:
        raise ValueError(
            f"mixed vector dimensions ({row['d0']} and {row['d']}); "
            "product quantization requires a uniform-dimension column"
        )
    dim = int(row["d"])
    if dim % m != 0:
        raise ValueError(f"dim={dim} is not divisible by m={m} subspaces")
    return dim


def _subvecs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    d_sub: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id[, carry...], sub_id, _sv) — map-only: the m slices are a literal
    struct array exploded in one projection (no shuffle, no per-subspace
    scans)."""
    # slices are cast to array<double> up front so learned (mean) and
    # initial (sampled) centroids share one type and the dot/L2 arithmetic
    # never mixes float32 rows into a double fold
    sub = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pieces = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("sub_id"),
                F.slice(sub, s * d_sub + 1, d_sub).alias("_sv"),
            )
            for s in range(m)
        ]
    )
    return df.select(
        F.col(id_col).alias("_id"), *carry, F.explode(pieces).alias("_p")
    ).select(
        "_id", *carry, F.col("_p.sub_id").alias("sub_id"), F.col("_p._sv").alias("_sv")
    )


def _check_codebook(codebooks: DataFrame, d_sub: int) -> None:
    """Cross-check the codebook's centroid length against the data's
    subvector length (one bounded driver read — the table is m*k rows).
    Without it a dim-mismatched (but m-divisible) input NULL-poisons the
    zip_with arithmetic and every row silently encodes to code 0 via the
    NULL-distance tie-break — the failure _check_geometry exists to
    prevent, reachable again through the codebook side (review finding)."""
    row = codebooks.select(F.size("centroid").alias("d")).first()
    if row is None:
        raise ValueError("empty codebook")
    if int(row["d"]) != d_sub:
        raise ValueError(
            f"codebook centroids are {row['d']}-dimensional but the data's "
            f"subvectors are {d_sub}-dimensional (dim/m mismatch between "
            "fit and transform)"
        )


def _l2sq(a: Column, b: Column) -> Column:
    diff = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)


def _assign_codes(
    sv: DataFrame, codebooks: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Nearest-code assignment with the min-(distance, code) tie-break
    both engines agree on (distance asc, code asc, NULL distance first):
    a broadcast join against the ``m * k``-row codebook, then one
    ``groupBy(_id, sub_id)`` minimum over (distance, code) structs.

    ``carry`` columns (functionally dependent on the id, e.g. an IVF
    bucket) ride through as extra group-by keys.
    """
    cb = F.broadcast(codebooks.select("sub_id", "code", "centroid"))
    return (
        sv.join(cb, "sub_id")
        .groupBy("_id", "sub_id", *carry)
        .agg(
            F.min(
                F.struct(
                    F.round(_l2sq(F.col("_sv"), F.col("centroid")), 9).alias("_d"),
                    F.col("code").alias("code"),
                )
            )["code"].alias("code")
        )
    )


def pq_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 16,
    n_iter: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Learn the ``m`` codebooks jointly; returns ``(sub_id int, code int,
    centroid array<double>)`` — ``m * k`` rows, localCheckpoint-ed so many
    encode/search calls reuse it without re-iterating.

    Init is the deterministic md5-hash-ranked sample (the
    :mod:`clustering` idiom) taken PER SUBSPACE in one window; each Lloyd
    iteration is one corpus scan + one bounded shuffle carrying
    ``m * k`` rows per partition.  Empty codes keep their previous
    centroid so the codebook stays exactly ``m * k`` rows.
    """
    if m < 1 or k < 1:
        raise ValueError("m and k must be >= 1")
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    from entitymatchingmodel_spark.functions.sampling import _unit_hash

    dim = _check_geometry(df, vec_col, m)
    d_sub = dim // m
    sv = _subvecs(
        df.filter(F.col(vec_col).isNotNull()), id_col, vec_col, m, d_sub
    ).persist()
    try:
        # Seed selection: the hash rank depends only on the DOCUMENT id,
        # so all m subspaces seed from the SAME k documents — pick those
        # k ids with a distributed TakeOrdered (orderBy().limit(k): each
        # partition keeps a local top-k, no corpus-wide window task),
        # then rank the k survivors and join back to their subvectors.
        # (A row_number window partitioned by sub_id would sort the
        # ENTIRE corpus inside m single tasks — review finding.)
        wk = Window.orderBy(F.col("_h"), F.col("_id"))
        seed_ids = (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("_id"))
            .withColumn("_h", _unit_hash(F.col("_id"), f"pq{seed}"))
            .orderBy("_h", "_id")
            .limit(k)
            .withColumn("_r", F.row_number().over(wk))
            .select("_id", "_r")
        )
        cb = (
            sv.join(F.broadcast(seed_ids), "_id")
            .select(
                "sub_id",
                (F.col("_r") - 1).cast("int").alias("code"),
                F.col("_sv").alias("centroid"),
            )
            .localCheckpoint()
        )
        for _ in range(n_iter):
            assigned = _assign_codes(sv, cb)
            means = (
                sv.join(assigned, ["_id", "sub_id"])
                .groupBy("sub_id", "code")
                .agg(
                    F.array(
                        *[F.avg(F.get(F.col("_sv"), i)) for i in range(d_sub)]
                    ).alias("_mean")
                )
            )
            cb = (
                cb.join(means, ["sub_id", "code"], "left")
                .select(
                    "sub_id",
                    "code",
                    F.coalesce("_mean", "centroid").alias("centroid"),
                )
                .localCheckpoint()
            )
        return cb
    finally:
        sv.unpersist()


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
) -> DataFrame:
    """Compress each vector to its code word: ``(id, codes array<int>)``.

    One map-only slice-explode, one broadcast assign, ONE per-id rollup
    shuffle (codes re-assembled in subspace order with ``array_sort`` on
    the (sub_id, code) pairs — deterministic, engine-portable).
    """
    # data geometry + codebook length from ONE union job (r11; the
    # ivf_pq_topk guard posture): same checks, same errors, 2 driver
    # actions -> 1.  Codebook length is validated over ALL m*k rows
    # (max == min) — strictly stronger than the old single-row peek.
    side_rows = {
        int(r["_side"]): r
        for r in (
            df.select(F.size(vec_col).alias("_s"), F.lit(0).alias("_side"))
            .unionByName(
                codebooks.select(
                    F.size("centroid").alias("_s"), F.lit(1).alias("_side")
                )
            )
            .groupBy("_side")
            .agg(F.max("_s").alias("d"), F.min("_s").alias("d0"))
            .collect()
        )
    }
    drow = side_rows.get(0)
    if drow is None or drow["d"] is None:
        raise ValueError("no vectors to quantize")
    if drow["d"] != drow["d0"]:
        raise ValueError(
            f"mixed vector dimensions ({drow['d0']} and {drow['d']}); "
            "product quantization requires a uniform-dimension column"
        )
    dim = int(drow["d"])
    if dim % m != 0:
        raise ValueError(f"dim={dim} is not divisible by m={m} subspaces")
    cb_row = side_rows.get(1)
    if cb_row is None or cb_row["d"] is None:
        raise ValueError("empty codebook")
    if int(cb_row["d"]) != dim // m or int(cb_row["d0"]) != dim // m:
        raise ValueError(
            f"codebook centroids are {cb_row['d']}-dimensional but the "
            f"data's subvectors are {dim // m}-dimensional (dim/m mismatch "
            "between fit and transform)"
        )
    sv = _subvecs(df.filter(F.col(vec_col).isNotNull()), id_col, vec_col, m, dim // m)
    codes = _assign_codes(sv, codebooks)
    return (
        codes.groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sub_id"), F.col("code")))
                ),
                lambda s: s["code"],
            ).alias("codes")
        )
        .select(F.col("_id").alias(id_col), "codes")
    )


def pq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
    max_queries: int = 10_000,
) -> DataFrame:
    """ADC top-k: ``(qid, id, score double, rank int)`` — approximate
    inner-product scores from codes alone (never the original vectors).

    The distance table (query x sub_id x code exact contributions) is
    ``n_q * m * k_codes`` rows — broadcast-sized because the query BATCH
    is the bounded side (guarded; this is the same bounded-batch posture
    as the cosine broadcast kernel).  Corpus-side work is one map-only
    code explode, one broadcast hash join, and ONE map-side-combined
    ``(qid, id)`` rollup of integer micro-units; ties rank id-ascending.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    # ONE bounded driver job for the query-side guards (r11): the batch
    # cap, the ragged/divisibility geometry probe and the NULL-vector
    # count all come from a single agg over limit(max_queries + 1) — the
    # limit keeps the failure path's scan bounded exactly like the old
    # standalone count guard, and in the success path (n_q <= max_queries)
    # it truncates nothing, so max/min sizes equal the full-frame probe
    # (size(NULL vec) is NULL and max/min skip NULLs, matching the old
    # post-filter _check_geometry).  Same checks, same errors, 3 jobs -> 2.
    qrow = (
        queries.limit(max_queries + 1)
        .agg(
            F.count("*").alias("n"),
            F.max(F.size(qvec_col)).alias("d"),
            F.min(F.size(qvec_col)).alias("d0"),
        )
        .first()
    )
    if int(qrow["n"]) > max_queries:
        raise ValueError(
            f"query batch exceeds max_queries={max_queries}; ADC broadcasts "
            "a per-query distance table — chunk the query set (or raise "
            "max_queries if the m*k*batch table still fits in memory)"
        )
    # ONE bounded driver job for the codebook side: m = max(sub_id) + 1
    # and the centroid-length cross-check share an agg over the m*k-row
    # table (previously a first() each).  Length is validated over ALL
    # codebook rows (max == min == d_sub) — strictly stronger than the
    # old single-row peek on a ragged codebook, identical on valid ones.
    cbrow = codebooks.agg(
        F.max("sub_id").alias("ms"),
        F.max(F.size("centroid")).alias("d"),
        F.min(F.size("centroid")).alias("d0"),
    ).first()
    if cbrow["ms"] is None:
        raise ValueError("empty codebook")
    m = int(cbrow["ms"]) + 1
    # NULL query vectors carry no geometry: without the filter they'd
    # explode to NULL subvectors, tie all ADC scores at NULL, and emit the
    # k smallest corpus ids as fabricated neighbours (review finding)
    queries = queries.filter(F.col(qvec_col).isNotNull())
    if qrow["d"] is None:
        raise ValueError("no vectors to quantize")
    if qrow["d"] != qrow["d0"]:
        raise ValueError(
            f"mixed vector dimensions ({qrow['d0']} and {qrow['d']}); "
            "product quantization requires a uniform-dimension column"
        )
    qdim = int(qrow["d"])
    if qdim % m != 0:
        raise ValueError(f"dim={qdim} is not divisible by m={m} subspaces")
    if int(cbrow["d"]) != qdim // m or int(cbrow["d0"]) != qdim // m:
        raise ValueError(
            f"codebook centroids are {cbrow['d']}-dimensional but the data's "
            f"subvectors are {qdim // m}-dimensional (dim/m mismatch between "
            "fit and transform)"
        )
    qsv = _subvecs(queries, qid_col, qvec_col, m, qdim // m).withColumnRenamed(
        "_id", "_qid"
    )
    dt = F.broadcast(
        qsv.join(F.broadcast(codebooks), "sub_id").select(
            "_qid",
            "sub_id",
            "code",
            F.round(_dot(F.col("_sv"), F.col("centroid")) * MICRO)
            .cast("long")
            .alias("_c_micro"),
        )
    )
    exploded = codes.select(
        F.col(id_col).alias("_cid"), F.posexplode("codes").alias("sub_id", "code")
    )
    scores = (
        exploded.join(dt, ["sub_id", "code"])
        .groupBy("_qid", "_cid")
        .agg(F.sum("_c_micro").alias("_s_micro"))
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("_s_micro"), F.asc("_cid"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(qid_col),
            F.col("_cid").alias(id_col),
            F.round(F.col("_s_micro") / MICRO, 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def pq_codebooks_from_ids(
    df: DataFrame, id_col: str, vec_col: str, m: int, k: int,
    normalize: bool = False,
) -> DataFrame:
    """Deterministic NON-learned codebooks: code ``c`` of every subspace is
    the subvector of the corpus row with the ``c``-th smallest id.  Useful
    as a fixed, SQL-expressible quantizer for conformance testing (the
    contract row's oracle re-derives it in DuckDB) and as a degenerate
    baseline; real deployments use :func:`pq_fit`.

    ``normalize=True`` L2-normalizes the seed vectors first (and skips
    zero-norm rows) — the right quantizer domain when the codes will ADC
    a COSINE search (:func:`ivf_pq_topk` operates on unit vectors).
    """
    from entitymatchingmodel_spark.operators.ann import _l2_normalize

    dim = _check_geometry(df, vec_col, m)
    base = df.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_v"))
    if normalize:
        base = _l2_normalize(base, "_v").filter(F.col("_v").isNotNull())
    # distributed top-k FIRST (orderBy().limit(k) plans as TakeOrdered —
    # per-partition top-k, no global sort), THEN the row_number window
    # over the k surviving rows (tiny, post-limit) — the ann
    # _build_centroids idiom.  A window straight over the corpus would
    # rank EVERY row in one task.
    w = Window.orderBy(F.col("_sid").asc())
    seeds = (
        base.orderBy(F.col("_sid").asc())
        .limit(k)
        .withColumn("_r", F.row_number().over(w))
    )
    # localCheckpoint (r11, the pq_fit posture — its learned codebooks are
    # already checkpointed): the m*k-row table sits under the consumer's
    # codebook-length check, the ADC distance table AND the encode assign —
    # un-materialized, each of those re-ran this TakeOrdered over the full
    # corpus (measured as ~half of ivf_pq_topk's construction actions).
    return (
        _subvecs(seeds, "_r", "_v", m, dim // m)
        .select(
            "sub_id",
            (F.col("_id") - 1).cast("int").alias("code"),
            F.col("_sv").alias("centroid"),
        )
        .localCheckpoint()
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nlist: int = 64,
    nprobe: int = 8,
    m: int = 4,
    pq_k: int = 16,
    seed: int = 42,
    codebooks: DataFrame | None = None,
    n_iter: int = 3,
    score_decimals: int | None = None,
    max_queries: int = 10_000,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN layout (Jegou et al. 2011
    §V) — IVF coarse pruning (:mod:`ann`'s deterministic md5-sampled
    centroids) picks ``nprobe``/``nlist`` of the corpus per query, then
    PQ/ADC scores the surviving candidates from ``m`` small codes instead
    of the raw vectors.  At 100 TB the raw corpus never has to stay
    resident for search: buckets prune I/O, codes shrink what remains by
    ~dim*4/m bytes per vector.

    Everything runs on UNIT vectors (ADC inner products then approximate
    cosine; zero-norm rows drop, matching the exact path).  ``codebooks``
    defaults to a learned :func:`pq_fit` over the unit corpus; pass
    :func:`pq_codebooks_from_ids` (``normalize=True``) for the
    deterministic, oracle-checkable quantizer.

    Plan: centroid build + corpus bucket-assign are :func:`ann.ivf_topk`'s
    own stages (bounded-centroid broadcast class); encoding adds one
    broadcast codebook assign; search is one bucket equi-join (prunes to
    the probed fraction), one broadcast ADC-table join, ONE (qid, id)
    micro-unit rollup, and the top-k window.  The ADC table is bounded by
    the guarded query batch — the same posture as :func:`pq_topk`.

    Not lazy: besides the bounded guard probes, the call runs one job
    that ``localCheckpoint``-s the ``nlist``-row centroid table (as in
    :func:`ann.ivf_topk`), and without ``codebooks`` the :func:`pq_fit`
    Lloyd iterations.
    """
    from entitymatchingmodel_spark.operators.ann import (
        _assign_corpus,
        _build_centroids,
        _l2_normalize,
        _nearest_centroids,
    )

    if k < 1:
        raise ValueError("k must be >= 1")
    # fail fast on ragged / non-divisible / corpus-vs-query-mismatched
    # dimensions: unchecked, the probe's zip_with dots go NULL and the
    # window "probes" the first nprobe buckets of every query — garbage
    # neighbours, no error (review finding); same check for a
    # user-supplied codebook's centroid length.  ALL fail-fast guards run
    # in ONE union job (r11): corpus geometry, query geometry, the
    # max_queries batch cap (count over limit(max_queries + 1) — the
    # limit keeps the failure path's query scan bounded exactly like the
    # old standalone count guard, and in the success path it truncates
    # nothing, so the per-side max/min equal full-frame probes) and, when
    # a codebook is supplied, its centroid length (validated over ALL
    # m*k rows — strictly stronger than the old single-row peek on a
    # ragged codebook, identical on valid ones).  Same checks, same
    # errors; previously 3 separate driver actions per call.
    probe = corpus.select(
        F.size(vec_col).alias("_s"), F.lit(0).alias("_side")
    ).unionByName(
        queries.limit(max_queries + 1).select(
            F.size(vec_col).alias("_s"), F.lit(1).alias("_side")
        )
    )
    if codebooks is not None:
        probe = probe.unionByName(
            codebooks.select(F.size("centroid").alias("_s"), F.lit(2).alias("_side"))
        )
    side_rows = {
        int(r["_side"]): r
        for r in (
            probe.groupBy("_side")
            .agg(
                F.max("_s").alias("d"),
                F.min("_s").alias("d0"),
                F.count("*").alias("n"),
            )
            .collect()
        )
    }
    if side_rows.get(1) is not None and int(side_rows[1]["n"]) > max_queries:
        raise ValueError(
            f"query batch exceeds max_queries={max_queries}; ADC broadcasts "
            "a per-query distance table — chunk the query set (or raise "
            "max_queries if the m*k*batch table still fits in memory)"
        )

    def _side_dim(side: int) -> int:
        row = side_rows.get(side)
        if row is None or row["d"] is None:
            raise ValueError("no vectors to quantize")
        if row["d"] != row["d0"]:
            raise ValueError(
                f"mixed vector dimensions ({row['d0']} and {row['d']}); "
                "product quantization requires a uniform-dimension column"
            )
        d = int(row["d"])
        if d % m != 0:
            raise ValueError(f"dim={d} is not divisible by m={m} subspaces")
        return d

    dim = _side_dim(0)
    d_sub = dim // m
    qdim = _side_dim(1)
    if qdim != dim:
        raise ValueError(
            f"query vectors are {qdim}-dimensional but the corpus is "
            f"{dim}-dimensional"
        )
    if codebooks is not None:
        cb_row = side_rows.get(2)
        if cb_row is None or cb_row["d"] is None:
            raise ValueError("empty codebook")
        if int(cb_row["d"]) != d_sub or int(cb_row["d0"]) != d_sub:
            raise ValueError(
                f"codebook centroids are {cb_row['d']}-dimensional but the "
                f"data's subvectors are {d_sub}-dimensional (dim/m mismatch "
                "between fit and transform)"
            )

    cents = _build_centroids(corpus, id_col, vec_col, nlist, seed)
    assigned = _assign_corpus(corpus, cents, id_col, vec_col, score_decimals)
    if codebooks is None:
        # the fit scans `assigned` n_iter + 2 times (geometry probe, init,
        # one assignment per iteration); cache the corpus-wide centroid
        # assignment for the fit's lifetime (the kmeans_fit posture) and
        # release before return — the final search query then recomputes
        # it once instead of every fit pass re-deriving it (review finding)
        assigned = assigned.persist()
        try:
            codebooks = pq_fit(
                assigned, "nn_id", "_cv", m=m, k=pq_k, n_iter=n_iter, seed=seed
            )
        finally:
            assigned.unpersist()
    # encode the unit corpus; the IVF bucket rides the assign group-by
    sv = _subvecs(assigned, "nn_id", "_cv", m, d_sub, carry=("bucket",))
    codes = _assign_codes(sv, codebooks, carry=("bucket",))

    qun = _l2_normalize(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv")),
        "_qv",
    ).filter(F.col("_qv").isNotNull())
    probed = _nearest_centroids(
        qun, cents, "qid", "_qv", nprobe, "bucket", score_decimals
    )
    qsv = _subvecs(qun, "qid", "_qv", m, d_sub).withColumnRenamed("_id", "_qid")
    dt = F.broadcast(
        qsv.join(F.broadcast(codebooks), "sub_id").select(
            "_qid",
            "sub_id",
            "code",
            F.round(_dot(F.col("_sv"), F.col("centroid")) * MICRO)
            .cast("long")
            .alias("_c_micro"),
        )
    )
    # probed is bounded (<= max_queries * nprobe rows) while codes is
    # corpus-sized: pin the broadcast side explicitly instead of trusting
    # size estimates (estimate-borderline inputs otherwise flip this to a
    # corpus-shuffling SortMergeJoin)
    cands = F.broadcast(
        probed.select(F.col("qid").alias("_qid"), "bucket")
    ).join(codes, "bucket")
    scores = (
        cands.join(dt, ["_qid", "sub_id", "code"])
        .groupBy("_qid", "_id")
        .agg(F.sum("_c_micro").alias("_s_micro"))
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("_s_micro"), F.asc("_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("qid"),
            F.col("_id").alias("nn_id"),
            F.round(F.col("_s_micro") / MICRO, 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


class PQModel:
    """Fit-once / encode-many product quantizer with persistence — the
    production posture (train codebooks on a sample weekly, encode the
    stream/crawl daily).  Follows the :class:`clustering.KMeansModel`
    idiom: the model holds the bounded ``m * k``-row codebook table; fit
    output is already localCheckpoint-ed so construction adds no work;
    ``save``/``load`` round-trip the codebooks as parquet (doubles are
    exact in parquet, so loaded encodings and ADC scores are
    byte-identical — pytest-pinned) plus a ``meta.json`` of the fit
    params, written through :func:`session.write_meta_json` (the 1-row
    LocalRelation stall fix)."""

    def __init__(self, codebooks: DataFrame, m: int, k: int, seed: int):
        self.codebooks = codebooks
        self.m = m
        self.k = k
        self.seed = seed

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        m: int = 4,
        k: int = 16,
        n_iter: int = 3,
        seed: int = 42,
    ) -> "PQModel":
        cb = pq_fit(df, id_col, vec_col, m=m, k=k, n_iter=n_iter, seed=seed)
        return cls(cb, m, k, seed)

    def encode(self, df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        return pq_encode(df, self.codebooks, id_col, vec_col, self.m)

    def topk(
        self,
        codes: DataFrame,
        queries: DataFrame,
        id_col: str,
        qid_col: str,
        qvec_col: str,
        k: int = 10,
        max_queries: int = 10_000,
    ) -> DataFrame:
        return pq_topk(
            codes, self.codebooks, queries, id_col, qid_col, qvec_col,
            k=k, max_queries=max_queries,
        )

    def save(self, path: str) -> None:
        """m*k codebook rows + fit params under ``path``; coalesce(1) —
        a codebook never needs more than one file."""
        import json

        spark = self.codebooks.sparkSession
        self.codebooks.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/codebooks.parquet"
        )
        from entitymatchingmodel_spark.session import write_meta_json

        write_meta_json(
            spark,
            f"{path}/meta.json",
            json.dumps({"m": self.m, "k": self.k, "seed": self.seed}),
        )

    @classmethod
    def load(
        cls, spark, path: str, persist_handles: list | None = None
    ) -> "PQModel":
        """Reload; the bounded codebook table is persisted (it sits under
        every encode/ADC join) — release via :meth:`unpersist` or the
        ``persist_handles`` convention."""
        import json

        meta = json.loads(spark.read.json(f"{path}/meta.json").head()["meta"])
        cb = spark.read.parquet(f"{path}/codebooks.parquet").persist()
        if persist_handles is not None:
            persist_handles.append(cb)
        return cls(cb, int(meta["m"]), int(meta["k"]), int(meta["seed"]))

    def unpersist(self) -> None:
        self.codebooks.unpersist()


def refine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    qid_col: str = "qid",
    cand_col: str = "nn_id",
    max_queries: int = 10_000,
    max_shortlist_rows: int | None = None,
) -> DataFrame:
    """Exact cosine re-rank of an ANN candidate shortlist — the standard
    two-stage retrieval tail (FAISS's ``IndexRefine``): a compressed
    index (:func:`ivf_pq_topk` / :func:`pq_topk` / ``ann.ivf_topk``)
    ranks a SHORTLIST cheaply from codes or buckets, then only the
    shortlisted rows are re-scored EXACTLY from their raw vectors.  ADC
    scores carry quantization error that reorders near-ties; rescoring a
    3-5x shortlist recovers most of exact search's recall@k while still
    never scanning raw vectors corpus-wide.

    Output: ``(qid, nn_id, score, rank)`` — exact unit-cosine scores
    rounded to 6dp, ties broken by ascending id; rows whose query or
    candidate vector is missing or zero-norm drop (no evidence).

    Plan shape: the shortlist (bounded by ``max_queries * shortlist_k``,
    guarded) joins its query vectors and is BROADCAST against the corpus
    equi-join that fetches candidate raw vectors — one scan of the
    corpus, no shuffle of it; the rescore is one dot product per
    shortlist row and the final top-k is a window over <= shortlist_k
    rows per query.  Ranking compares integer micro-units, so it is
    aggregation-order-free and oracle-exact, the :func:`pq_topk`
    posture.
    """
    from entitymatchingmodel_spark.operators.ann import _l2_normalize

    if k < 1:
        raise ValueError("k must be >= 1")
    missing = {qid_col, cand_col} - set(candidates.columns)
    if missing:
        raise ValueError(
            f"candidates is missing column(s) {sorted(missing)}; "
            f"got {candidates.columns}"
        )
    # Materialize the (projected) shortlist ONCE before anything reads it
    # (r11 optimization, guide §1.2/§5): this function consumes
    # `candidates` three times — the two guard counts below plus the
    # rescore join — and the shortlist is typically the OUTPUT OF A FULL
    # ANN PIPELINE (ivf_pq_topk), so each extra evaluation re-ran
    # centroid build + corpus encode + ADC end to end (measured: the
    # ivf_pq_refined contract row executed its shortlist DAG 3x — 8.3s;
    # 3.7s with this single localCheckpoint, identical rows).  Projecting
    # to the two key columns first keeps the materialized footprint
    # minimal; the frame is shortlist-sized (bounded by the guards right
    # below — a mis-sized caller materializes at most its own oversized
    # shortlist to executor-local storage before the ValueError fires,
    # never to the driver).
    candidates = candidates.select(
        F.col(qid_col).alias("_rq"), F.col(cand_col).alias("_rc")
    ).localCheckpoint()
    qid_col, cand_col = "_rq", "_rc"
    # BOTH guard scalars from ONE agg job over the just-materialized
    # shortlist (r11): the localCheckpoint above already scanned the frame
    # end to end, so the old limit-bounded early-stop counts bought
    # nothing — a full count + approx-free distinct count over the
    # materialized rows is the same bounded work in one driver action
    # instead of two.
    grow = candidates.agg(
        F.count("*").alias("rows"),
        # + the NULL-qid group when present: count_distinct skips NULLs but
        # the old distinct().count() counted NULL as a qid value
        (
            F.count_distinct(F.col(qid_col))
            + F.max(F.when(F.col(qid_col).isNull(), 1).otherwise(0))
        ).alias("nq"),
    ).first()
    if grow["nq"] is not None and int(grow["nq"]) > max_queries:
        raise ValueError(
            f"candidate shortlist spans more than max_queries={max_queries} "
            "queries; the shortlist+query-vector frame is broadcast — "
            "chunk the query set (or raise max_queries if it still fits)"
        )
    # the broadcast is max_queries x rows-per-query, each row carrying a
    # full query vector — bound BOTH factors (a large-k caller would pass
    # the distinct-query guard yet still broadcast an oversized frame);
    # default budget: 100 shortlist rows per allowed query
    row_cap = (
        max_queries * 100 if max_shortlist_rows is None else max_shortlist_rows
    )
    if int(grow["rows"]) > row_cap:
        raise ValueError(
            f"candidate shortlist exceeds {row_cap} rows "
            "(max_shortlist_rows; default max_queries*100); the shortlist+"
            "query-vector frame is broadcast — re-rank in query chunks, "
            "trim the per-query shortlist, or raise max_shortlist_rows"
        )
    cand = candidates.dropDuplicates(["_rq", "_rc"])
    qun = _l2_normalize(
        queries.select(F.col(id_col).alias("_rq"), F.col(vec_col).alias("_qv")),
        "_qv",
    ).filter(F.col("_qv").isNotNull())
    cun = _l2_normalize(
        corpus.select(F.col(id_col).alias("_rc"), F.col(vec_col).alias("_cv")),
        "_cv",
    ).filter(F.col("_cv").isNotNull())
    scored = (
        F.broadcast(cand.join(qun, "_rq"))
        .join(cun, "_rc")
        .select(
            "_rq",
            "_rc",
            F.round(_dot(F.col("_qv"), F.col("_cv")) * MICRO)
            .cast("long")
            .alias("_e_micro"),
        )
    )
    w = Window.partitionBy("_rq").orderBy(F.desc("_e_micro"), F.asc("_rc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_rq").alias("qid"),
            F.col("_rc").alias("nn_id"),
            F.round(F.col("_e_micro") / MICRO, 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
