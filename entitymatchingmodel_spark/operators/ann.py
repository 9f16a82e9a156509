"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Broadcast the (small) query set, scan the corpus once; cosine via native
  array higher-order functions (zip_with + aggregate), no Python boundary.
- ``ivf_topk``: the scale path — IVF-style partition pruning: assign corpus
  vectors to k-means-ish centroid buckets (derived deterministically from a
  seed sample), probe only the ``nprobe`` nearest buckets per query.
  At 100 TB the corpus scan becomes a bucket-pruned scan (~nprobe/nlist of
  the data), the standard recall/latency trade-off.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    score_decimals: int | None = None,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact top-k cosine neighbours: (qid, nn_id, score, rank).

    Physical strategy: collect + broadcast the (small) query matrix, then one
    vectorized numpy GEMM per Arrow batch over the corpus (``mapInPandas``),
    emitting only each batch's top-k per query under the same total order as
    the final window (score desc, nn_id asc) — partial top-k composes exactly,
    so the shuffle carries ≤ k·n_batches rows per query instead of |corpus|.
    The corpus is scanned once, partition-parallel; valid at any corpus size
    while the query batch is broadcastable — ``max_queries`` fail-fasts the
    driver collect when it would not be.  (A pure-expression formulation
    with ``zip_with``/``aggregate`` dots is ~10x slower: higher-order array
    functions evaluate interpreted, per element.)  Zero-norm vectors score
    NaN and are excluded.
    """
    import numpy as np

    spark = corpus.sparkSession
    # the query matrix is collected to the driver and broadcast — fail
    # fast on an unbounded query side (e.g. swapped queries/corpus
    # arguments) instead of collecting it, the refine_topk /
    # embedding_near_pairs / score_rowwise family idiom
    if queries.limit(max_queries + 1).count() > max_queries:
        raise ValueError(
            f"queries has more than max_queries={max_queries} rows; the "
            "query matrix is driver-collected and broadcast — chunk the "
            "query set, swap the (queries, corpus) arguments if reversed, "
            "or use the IVF-bucketed path (ivf_topk / "
            "dedup.embedding_near_pairs_bucketed) for large-x-large search"
        )
    qpdf = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv"))
        .toPandas()
    )
    qids = qpdf["qid"].to_numpy()
    qmat = np.asarray([np.asarray(v, dtype=np.float64) for v in qpdf["_qv"]])
    qn = np.linalg.norm(qmat, axis=1, keepdims=True)
    qmat = qmat / np.where(qn == 0, np.nan, qn)
    bc = spark.sparkContext.broadcast((qids, qmat))
    decimals = score_decimals

    id_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"qid {id_t}, nn_id {id_t}, score double"

    def run(batches):
        import pandas as pd

        b_qids, b_q = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["_cv"]])
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            C = C / np.where(cn == 0, np.nan, cn)
            S = C @ b_q.T  # (batch, n_queries)
            if decimals is not None:
                S = np.round(S, decimals)
            nn = pdf["nn_id"].to_numpy()
            take = min(k, len(pdf))
            for j in range(len(b_qids)):
                col = S[:, j]
                # batch-local partial top-k under the SAME total order as the
                # global window (score desc, nn_id asc) -> exact composition
                order = np.lexsort((nn, -col))[:take]
                keep = order[~np.isnan(col[order])]
                if len(keep):
                    yield pd.DataFrame(
                        {"qid": b_qids[j], "nn_id": nn[keep], "score": col[keep]}
                    )

    scored = corpus.select(
        F.col(id_col).alias("nn_id"), F.col(vec_col).alias("_cv")
    ).mapInPandas(run, out_schema)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nn_id", "score", F.col("rank").cast("int").alias("rank"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nlist: int = 64,
    nprobe: int = 8,
    seed: int = 42,
    score_decimals: int | None = None,
) -> DataFrame:
    """Approximate top-k via inverted-file partitioning.

    Centroids = a deterministic sample of corpus vectors (cheap, no iterative
    k-means job; good enough for bucket pruning), chosen by an md5 hash of
    the row id — the same engine-portable scheme as functions/sampling.py, so
    the whole operator is reproducible across engines/runs/partitionings and
    oracle-checkable.  Corpus is assigned to its nearest centroid once; each
    query probes its ``nprobe`` nearest centroid buckets.  Join is equi on
    bucket id -> shuffle prunes to nprobe/nlist of the corpus per query.

    ``score_decimals`` rounds every cosine (assignment, probe, final) BEFORE
    its rank window — float-summation-order noise can then never flip a
    bucket choice or the top-k set (round-before-rank, SURVEY §4 X15).

    Plan note: the centroid assignment is a ``crossJoin`` against the
    broadcast ``nlist``-row centroid table, which Spark prints as a
    BroadcastNestedLoopJoin.  That is the INTENDED linear plan — the build
    side is bounded at ``nlist`` rows, so the "nested loop" is one corpus
    scan with nlist dot products per row, not a quadratic pair join
    (tools/plan_audit.py whitelists it by name).

    Not fully lazy: the call itself runs one Spark job, which
    ``localCheckpoint``-s the ``nlist``-row centroid table so the corpus
    assignment and the query probe read it without re-running the
    corpus-wide sample.
    """
    cents = _build_centroids(corpus, id_col, vec_col, nlist, seed)
    c_assigned = _assign_corpus(corpus, cents, id_col, vec_col, score_decimals)
    return _probe_search(
        queries, cents, c_assigned, id_col, vec_col, k, nprobe, score_decimals
    )


def _l2_normalize(df: DataFrame, vcol: str) -> DataFrame:
    """Stage unit vectors in their own projection: norms are computed
    once per row, and every downstream cosine is a plain dot product
    (a nested norm inside the per-pair expression re-evaluates it for
    every (row, centroid) pair).  The ``when(norm > 0)`` gate maps NULL
    and zero-norm vectors to NULL; NaN elements propagate."""
    n = _norm(F.col(vcol))
    unit = F.when(
        n > 0, F.transform(F.col(vcol), lambda x: x.cast("double") / n)
    )
    return df.withColumn(vcol, unit)


def _maybe_round(c: Column, score_decimals: int | None) -> Column:
    return F.round(c, score_decimals) if score_decimals is not None else c


def _build_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, nlist: int, seed: int
) -> DataFrame:
    """(cent_id, _cent): deterministic md5-ordered sample, unit-normalized."""
    from entitymatchingmodel_spark.functions.sampling import _unit_hash

    hash_order = _unit_hash(F.col(id_col), f"ivf{seed}")
    wc = Window.orderBy(F.col("_h"), F.col(id_col))
    return _l2_normalize(
        corpus.select(F.col(id_col), F.col(vec_col).alias("_cent"))
        .withColumn("_h", hash_order)
        .orderBy("_h", id_col)
        .limit(nlist)
        # row_number over the nlist sampled rows (tiny, post-limit) gives
        # deterministic 0-based centroid ids, unlike monotonically_increasing_id
        .withColumn("cent_id", F.row_number().over(wc) - 1)
        .select("cent_id", "_cent"),
        "_cent",
        # localCheckpoint (r12, guide §1.2/§5 — the pq_codebooks posture):
        # the nlist-row table sits under BOTH the corpus assignment and the
        # query probe (and under ivf_pq's encode too); un-materialized,
        # every consumer re-ran the corpus-wide hash TakeOrdered sample.
    ).localCheckpoint()


def _nearest_centroids(
    df: DataFrame,
    cents: DataFrame,
    id_c: str,
    vcol: str,
    n: int,
    out: str,
    score_decimals: int | None,
    score_col: str | None = None,
) -> DataFrame:
    """Top-``n`` centroids per row under (score desc, cent_id asc): a
    crossJoin against the broadcast ``nlist``-row centroid table, then a
    row_number window per row id."""
    scored = df.crossJoin(F.broadcast(cents)).withColumn(
        "_cs", _maybe_round(_dot(F.col(vcol), F.col("_cent")), score_decimals)
    )
    # Partition the top-n window by the row id, not the vector payload —
    # hashing a float array per row as a shuffle key is pure waste.
    w = Window.partitionBy(id_c).orderBy(F.desc("_cs"), F.asc("cent_id"))
    extra = [F.col("_cs").alias(score_col)] if score_col is not None else []
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n)
        .select(*df.columns, F.col("cent_id").alias(out), *extra)
    )


def _assign_corpus(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    score_decimals: int | None,
) -> DataFrame:
    """(bucket, nn_id, _cv): every corpus vector unit-normalized and
    assigned to its nearest centroid bucket.  Zero-norm vectors (NULL
    after normalization — cosine undefined) are DROPPED, matching the
    brute-force path's NaN filtering; without this they'd be assigned to
    an arbitrary bucket and surface as NULL-score candidates."""
    c = _l2_normalize(
        corpus.select(F.col(id_col).alias("nn_id"), F.col(vec_col).alias("_cv")), "_cv"
    ).filter(F.col("_cv").isNotNull())
    return _nearest_centroids(c, cents, "nn_id", "_cv", 1, "bucket", score_decimals)


def _probe_search(
    queries: DataFrame,
    cents: DataFrame,
    c_assigned: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
    score_decimals: int | None,
) -> DataFrame:
    q = _l2_normalize(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv")), "_qv"
    ).filter(F.col("_qv").isNotNull())  # zero-norm query: cosine undefined
    q_probed = _nearest_centroids(
        q, cents, "qid", "_qv", nprobe, "bucket", score_decimals
    )
    scored = q_probed.join(c_assigned, "bucket").select(
        "qid",
        "nn_id",
        _maybe_round(_dot(F.col("_qv"), F.col("_cv")), score_decimals).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nn_id", "score", F.col("rank").cast("int").alias("rank"))
    )


class IVFIndex:
    """Fit-once / query-many IVF index — the production ANN posture.

    :func:`ivf_topk` re-assigns the WHOLE corpus to centroid buckets on
    every call; at 100 TB that assignment pass dwarfs the query cost.
    ``IVFIndex.build`` does it once, ``search`` reuses it, and
    ``save``/``load`` persist it with the corpus PARTITIONED BY BUCKET —
    a probe then reads only the ``nprobe`` probed buckets' files
    (directory-level partition pruning: the bucket filter never touches
    the other ``nlist - nprobe`` partitions).

    ``search`` with the build-time parameters returns EXACTLY
    :func:`ivf_topk`'s output (same centroids, same round-before-rank
    rules) — pinned in tests/test_ann.py.

    Lifecycle: ``build``/``load`` persist the (nlist-row) centroid table;
    call :meth:`unpersist` when the index is dropped, or pass
    ``persist_handles`` (a list, the module-wide convention — see
    ``ngram_jaccard_pairs``) to ``build``/``load`` to receive the cached
    DataFrame and release it with the rest of the job's handles.  Without
    either, the blocks stay cached until Spark's LRU evicts them.
    """

    def __init__(
        self,
        cents: DataFrame,
        assigned: DataFrame,
        nlist: int,
        seed: int,
        score_decimals: int | None,
    ):
        self.cents = cents
        self.assigned = assigned
        self.nlist = nlist
        self.seed = seed
        self.score_decimals = score_decimals

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        id_col: str,
        vec_col: str,
        nlist: int | None = None,
        seed: int = 42,
        score_decimals: int | None = None,
        persist_handles: list | None = None,
        centroids: DataFrame | None = None,
    ) -> "IVFIndex":
        """``centroids`` (optional): a ``(cent_id, _cent)`` table of UNIT
        vectors — e.g. :func:`...clustering.kmeans_fit`'s output — to use
        instead of the default md5-sample.  Trained centroids are the
        production IVF posture: Lloyd iterations balance bucket sizes, so
        probes prune more evenly than a random sample does.  ``cent_id``
        must be dense 0..nlist-1 ints (kmeans_fit guarantees this).

        ``nlist`` defaults to 64 without ``centroids`` and to the
        supplied table's row count with them; passing BOTH cross-checks
        the two (a kmeans_fit(k=32) table under a stale nlist=64 would
        otherwise record a wrong nlist in meta.json and mis-size the
        bucket-partitioned save — round-7 review finding).

        Building runs Spark jobs before any search: without
        ``centroids``, one job ``localCheckpoint``-s the sampled centroid
        table (as in :func:`ivf_topk`); with them, one bounded ``count``
        checks the table's size."""
        if centroids is None:
            nlist = 64 if nlist is None else nlist
            cents = _build_centroids(corpus, id_col, vec_col, nlist, seed)
        else:
            missing = {"cent_id", "_cent"} - set(centroids.columns)
            if missing:
                raise ValueError(
                    f"centroids frame is missing columns {sorted(missing)}; "
                    "expected the (cent_id, _cent) shape kmeans_fit returns"
                )
            cents = centroids.select("cent_id", "_cent")
            # bounded action (the table is nlist rows by contract):
            # reconcile the declared nlist with the actual centroid count
            n_cents = cents.count()
            if n_cents == 0:
                raise ValueError("centroids frame is empty")
            if nlist is None:
                nlist = int(n_cents)
            elif int(n_cents) != nlist:
                raise ValueError(
                    f"nlist={nlist} disagrees with the supplied centroids "
                    f"table ({n_cents} rows); omit nlist to derive it from "
                    "the centroids"
                )
        # the centroid table is tiny (nlist rows) but sits under BOTH the
        # assignment and every future probe — persist it so the sample
        # sort-limit never recomputes
        cents = cents.persist()
        if persist_handles is not None:
            persist_handles.append(cents)
        assigned = _assign_corpus(corpus, cents, id_col, vec_col, score_decimals)
        return cls(cents, assigned, nlist, seed, score_decimals)

    def search(
        self, queries: DataFrame, id_col: str, vec_col: str, k: int = 10,
        nprobe: int = 8,
    ) -> DataFrame:
        return _probe_search(
            queries, self.cents, self.assigned, id_col, vec_col,
            k, nprobe, self.score_decimals,
        )

    def save(self, path: str, files_per_bucket: int = 1) -> None:
        """Centroids + bucket-partitioned corpus + params under ``path``.

        The corpus is pre-shuffled onto ``(bucket, salt)`` before the
        ``partitionBy`` write: without it every write task emits one file
        per bucket it happens to hold (tasks x nlist small files); with it
        the file count is exactly ``nlist * files_per_bucket``.  Keep the
        default 1 for small/medium indexes; raise ``files_per_bucket`` at
        scale so single-bucket files stay block-sized and a one-bucket
        probe still parallelizes across files.
        """
        import json

        spark = self.cents.sparkSession
        self.cents.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
        self._write_corpus(self.assigned, path, "overwrite", files_per_bucket)
        meta = json.dumps(
            {"nlist": self.nlist, "seed": self.seed,
             "score_decimals": self.score_decimals}
        )
        from entitymatchingmodel_spark.session import write_meta_json

        write_meta_json(spark, f"{path}/meta.json", meta)

    @classmethod
    def load(cls, spark, path: str, persist_handles: list | None = None) -> "IVFIndex":
        import json

        meta = json.loads(spark.read.json(f"{path}/meta.json").head()["meta"])
        cents = spark.read.parquet(f"{path}/centroids.parquet").persist()
        if persist_handles is not None:
            persist_handles.append(cents)
        assigned = spark.read.parquet(f"{path}/corpus.parquet")
        return cls(
            cents, assigned, int(meta["nlist"]), int(meta["seed"]),
            None if meta["score_decimals"] is None else int(meta["score_decimals"]),
        )

    def add(self, new_vectors: DataFrame, id_col: str, vec_col: str) -> "IVFIndex":
        """Index with ``new_vectors`` assigned to the EXISTING centroids
        and unioned into the corpus — the incremental-ingest posture: a
        daily embedding batch joins the index without re-clustering or
        touching the already-assigned corpus.

        Centroids are frozen, so recall degrades if the new data's
        distribution drifts from the build-time corpus; rebuild when it
        does.  Ids are NOT checked for collisions with the existing
        corpus (same precondition as ``build``); duplicate ids yield
        duplicate candidates in ``search`` output.
        """
        extra = _assign_corpus(
            new_vectors, self.cents, id_col, vec_col, self.score_decimals
        )
        return IVFIndex(
            self.cents, self.assigned.unionByName(extra),
            self.nlist, self.seed, self.score_decimals,
        )

    def append(
        self,
        path: str,
        new_vectors: DataFrame,
        id_col: str,
        vec_col: str,
        files_per_bucket: int = 1,
    ) -> "IVFIndex":
        """Assign ``new_vectors`` to this (loaded) index's centroids and
        APPEND them to the bucket-partitioned corpus at ``path`` — only
        the new rows are written (into their buckets' existing
        directories), the resident corpus files are untouched, and
        directory-level pruning keeps working on the merged layout.
        Returns the merged in-memory index; ``load(path)`` sees the same.
        """
        extra = _assign_corpus(
            new_vectors, self.cents, id_col, vec_col, self.score_decimals
        )
        self._write_corpus(extra, path, "append", files_per_bucket)
        return IVFIndex(
            self.cents, self.assigned.unionByName(extra),
            self.nlist, self.seed, self.score_decimals,
        )

    def _write_corpus(
        self, df: DataFrame, path: str, mode: str, files_per_bucket: int
    ) -> None:
        """Bucket-partitioned corpus write, shared by save/append so the
        small-files countermeasure cannot drift between them: pre-shuffle
        onto (bucket, salt) so the file count is exactly nlist *
        files_per_bucket instead of one file per (task, bucket)."""
        salt = F.pmod(F.xxhash64("nn_id"), F.lit(files_per_bucket))
        (
            df.repartition(self.nlist * files_per_bucket, F.col("bucket"), salt)
            .write.mode(mode)
            .partitionBy("bucket")
            .parquet(f"{path}/corpus.parquet")
        )

    def unpersist(self) -> None:
        self.cents.unpersist()
