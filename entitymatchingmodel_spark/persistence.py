"""Model persistence: save/load a fitted SparkEntityMatching.

Reference idiom (emm/helper/spark_custom_reader_writer.py:36-140): Spark
objects via their own writers, Spark DataFrames as parquet side-files,
everything else as serialized params.  Same layout here, minus joblib —
this engine's fitted state is all DataFrames + plain params + Spark-ML
models, so the on-disk format is just parquet + JSON + Spark-ML save:

    <path>/meta.json                  pipeline params + indexer specs
    <path>/gt/                        fitted ground truth (parquet)
    <path>/indexers/<i>/...           per-indexer state (parquet + json)
    <path>/supervised/gbt/            Spark-ML writer output (optional)
    <path>/supervised/meta.json

Paths go through the JVM Hadoop filesystem API for parquet/ML parts, so
any scheme Spark supports (file:, hdfs:, s3a:) works; meta.json is written
via a 1-row text write to stay scheme-agnostic too.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from entitymatchingmodel_spark.pipeline import (
    _BLOCKING,
    _SNI_MAPPING,
    _resolve,
    SparkEntityMatching,
)


def _registered_name(registry: dict, fn) -> str | None:
    """The stable name a callable was registered under, or None."""
    for k, v in registry.items():
        if k is not None and v is fn:
            return k
    return None


def _spec_with_names(spec: dict) -> dict:
    """A copy of an indexer spec with any registered callables replaced
    by their stable names (persist-by-name contract); raises on
    unregistered callables — a pickled closure is neither auditable nor
    stable across environments."""
    out = dict(spec)
    for key, registry, reg_fn in (
        ("blocking_func", _BLOCKING, "register_blocking_func"),
        ("mapping_func", _SNI_MAPPING, "register_sni_mapping_func"),
    ):
        v = out.get(key)
        if callable(v):
            name = _registered_name(registry, v)
            if name is None:
                raise ValueError(
                    f"cannot persist an UNREGISTERED callable {key}; give "
                    f"it a stable name with pipeline.{reg_fn}(name, fn) "
                    "and it will persist and load by that name"
                )
            out[key] = name
    return out


def _write_json(spark: SparkSession, path: str, obj: dict) -> None:
    # Single-row text write: scheme-agnostic (no local-FS assumption).
    # range(1) + lit projection, NOT createDataFrame: the LocalRelation/
    # parallelize write path stalls ~4s per write in local mode (measured
    # r8, see session.write_meta_json) — a multi-indexer save_model pays
    # that once per meta file.
    from pyspark.sql import functions as F

    (
        spark.range(1)
        .select(F.lit(json.dumps(obj)).alias("value"))
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )


def _read_json(spark: SparkSession, path: str) -> dict:
    return json.loads(spark.read.text(path).collect()[0][0])


def _bucket_table_name(path: str, i: int) -> str:
    """Deterministic catalog name for indexer ``i``'s bucketed GT weights —
    keyed by the model path so two models in one warehouse never collide."""
    import hashlib

    return f"emm_gtw_{hashlib.md5(path.encode()).hexdigest()[:10]}_{i}"


def save_model(em: SparkEntityMatching, path: str,
               bucket_weights: int | None = None) -> None:
    """Persist a fitted SparkEntityMatching under ``path``.

    ``bucket_weights=N`` stores each cosine indexer's GT token-weight
    table as a token-BUCKETED external table (N buckets, sorted by token)
    instead of plain parquet.  The GT side is the large, static, re-joined
    half of every transform's token join; bucketing it means a loaded
    model's transform shuffles only the per-batch names side — the GT scan
    keeps the hash distribution the storage layout carries (zero Exchange
    on that subtree, pinned in tests/test_plan_shape.py).  The bucket
    files live under ``path`` like every other model part; the catalog
    entry is re-created by DDL on load when the session doesn't have it,
    so the model directory stays self-contained.
    """
    if em.gt_ is None:
        raise ValueError("model is not fitted; call fit() first")
    spark = em.gt_.sparkSession

    p = dict(em.p)
    if isinstance(p.get("indexers"), list):
        p["indexers"] = [
            _spec_with_names(s) if isinstance(s, dict) else s
            for s in p["indexers"]
        ]
    serializable_p = {}
    for k, v in p.items():
        try:
            json.dumps(v)
        except TypeError:
            continue
        serializable_p[k] = v
    indexers_meta = []
    for (iname, model), spec in zip(em.indexer_models_.items(), em.indexer_specs):
        kind = spec.get("type", "cosine_similarity")
        indexers_meta.append(
            {"name": iname, "kind": kind, "spec": _spec_with_names(spec)}
        )

    _write_json(
        spark,
        f"{path}/meta.json",
        {
            "params": serializable_p,
            "indexers": indexers_meta,
            "supervised": em.supervised_model_ is not None,
            "supervised_extra": sorted(em.extra_supervised_models_),
        },
    )
    em.gt_.write.mode("overwrite").parquet(f"{path}/gt")

    for i, (iname, model) in enumerate(em.indexer_models_.items()):
        base = f"{path}/indexers/{i}"
        if hasattr(model, "tfidf"):  # cosine indexer
            t = model.tfidf
            imeta = {
                "kind": "cosine_similarity",
                "k": model.k,
                "lower_bound": model.lower_bound,
                "input_col": model.input_col,
                "score_decimals": model.score_decimals,
                "strategy": model.strategy,
                "lsh": [model.lsh_num_hashes, model.lsh_bands,
                        model.lsh_rows_per_band],
                "blocking": indexers_meta[i]["spec"].get("blocking_func"),
                "tfidf": {
                    "n_docs": t.n_docs,
                    "max_idf": t.max_idf,
                    "analyzer": t.analyzer,
                    "ngram": t.ngram,
                    "binary": t.binary,
                    "input_col": t.input_col,
                },
            }
            if bucket_weights is not None:
                imeta["bucketed"] = {
                    "table": _bucket_table_name(path, i),
                    "n_buckets": bucket_weights,
                }
            _write_json(spark, f"{base}/meta.json", imeta)
            t.vocab.write.mode("overwrite").parquet(f"{base}/vocab")
            if bucket_weights is not None:
                (
                    model.gt_weights.write.format("parquet")
                    .mode("overwrite")
                    .bucketBy(bucket_weights, "token")
                    .sortBy("token")
                    .option("path", f"{base}/gt_weights")
                    .saveAsTable(imeta["bucketed"]["table"])
                )
            else:
                model.gt_weights.write.mode("overwrite").parquet(f"{base}/gt_weights")
        else:  # SNI
            mapping_name = None
            if getattr(model, "mapping_func", None) is not None:
                mapping_name = _registered_name(_SNI_MAPPING, model.mapping_func)
                if mapping_name is None:
                    raise ValueError(
                        "cannot persist an UNREGISTERED callable "
                        "mapping_func; give it a stable name with "
                        "pipeline.register_sni_mapping_func(name, fn) and "
                        "it will persist and load by that name (or apply "
                        "the mapping as a preprocessing step instead)"
                    )
            _write_json(
                spark,
                f"{base}/meta.json",
                {
                    "kind": "sni",
                    "w": model.w,
                    "input_col": model.input_col,
                    "mapping": mapping_name,
                    "orig_input_col": getattr(model, "orig_input_col", None),
                },
            )
            model.gt_keyed.write.mode("overwrite").parquet(f"{base}/gt_keyed")

    def _save_sm(sm, base: str) -> None:
        _write_json(
            spark,
            f"{base}/meta.json",
            {
                "feature_cols": sm.feature_cols,
                "score_col_in": sm.score_col_in,
                "vocab_tiers": sm.vocab_tiers is not None,
                "row_keys": list(sm.row_keys),
                "extra_cols": list(sm.extra_cols),
                "use_lef": sm.use_lef,
            },
        )
        if sm.vocab_tiers is not None:
            # Tier table stays a DataFrame on disk too — parquet side-file,
            # never collected (same layout rule as the indexer vocab).
            sm.vocab_tiers.write.mode("overwrite").parquet(f"{base}/vocab_tiers")
        sm.ml_model.write().overwrite().save(f"{base}/gbt")

    if em.supervised_model_ is not None:
        _save_sm(em.supervised_model_, f"{path}/supervised")
    for mname, sm in em.extra_supervised_models_.items():
        _save_sm(sm, f"{path}/supervised_extra/{mname}")


def _bucketed_weights(spark: SparkSession, bmeta: dict, location: str) -> DataFrame:
    """Scan for GT weights saved with ``bucket_weights``: the catalog table
    whose bucket spec lets joins on ``token`` skip the GT-side Exchange.

    A fresh session's catalog doesn't know the table, so it is re-created
    by DDL pointing at the model directory's existing bucket files (the
    bucketed writer's file layout IS the data; the catalog entry is just
    metadata).  NOT persisted: caching would cost |GT index| executor
    memory to save a scan the bucket layout already makes shuffle-free —
    the plain-parquet path persists because every use would otherwise
    re-shuffle it.
    """
    table = bmeta["table"]
    if spark.catalog.tableExists(table):
        # The catalog entry is only trustworthy if it still describes THIS
        # model: a re-save with a different bucket_weights N, or a table
        # left pointing at another model's files, would make Spark trust a
        # stale bucket spec and the shuffle-free join silently wrong
        # (round-7 review finding).  Verify location + bucket count; drop
        # and re-create on any mismatch.
        import os as _os

        info = {
            r["col_name"].strip(): (r["data_type"] or "").strip()
            for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        }
        cat_loc = info.get("Location", "").removeprefix("file:")
        same_loc = _os.path.realpath(cat_loc) == _os.path.realpath(location)
        same_buckets = info.get("Num Buckets") == str(int(bmeta["n_buckets"]))
        if not (same_loc and same_buckets):
            # Only EXTERNAL tables are safe to drop-and-recreate: dropping
            # a MANAGED table deletes its underlying data, and a managed
            # table at this name was by definition not created by
            # bucket_weights (which always writes LOCATION-pinned external
            # tables) — refuse loudly instead of destroying user data
            # (round-8 review finding).
            if info.get("Type", "").upper() == "MANAGED":
                raise ValueError(
                    f"catalog table {table!r} is MANAGED and does not match "
                    f"this model (location/bucket-spec mismatch); dropping it "
                    f"would delete its data. Rename the model's table (the "
                    f"'table' entry in its bucket metadata) or drop the "
                    f"colliding table yourself."
                )
            spark.sql(f"DROP TABLE {table}")
    if not spark.catalog.tableExists(table):
        schema = spark.read.parquet(location).schema
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        spark.sql(
            f"CREATE TABLE {table} ({cols}) USING parquet "
            f"CLUSTERED BY (token) SORTED BY (token) "
            f"INTO {int(bmeta['n_buckets'])} BUCKETS "
            f"LOCATION '{location}'"
        )
    return spark.table(table)


def load_model(spark: SparkSession, path: str) -> SparkEntityMatching:
    """Load a SparkEntityMatching saved by :func:`save_model`."""
    from entitymatchingmodel_spark.operators.cossim_indexer import CosSimIndexerModel
    from entitymatchingmodel_spark.operators.sni_indexer import SNIIndexerModel
    from entitymatchingmodel_spark.operators.tfidf import TfIdfModel

    meta = _read_json(spark, f"{path}/meta.json")
    em = SparkEntityMatching(meta["params"])
    em.indexer_specs = [m["spec"] for m in meta["indexers"]]
    em.gt_ = spark.read.parquet(f"{path}/gt").persist()

    em.indexer_models_ = {}
    for i, imeta in enumerate(meta["indexers"]):
        base = f"{path}/indexers/{i}"
        m = _read_json(spark, f"{base}/meta.json")
        if m["kind"] == "cosine_similarity":
            t = m["tfidf"]
            tfidf = TfIdfModel(
                vocab=spark.read.parquet(f"{base}/vocab").persist(),
                n_docs=t["n_docs"],
                max_idf=t["max_idf"],
                analyzer=t["analyzer"],
                ngram=t["ngram"],
                binary=t["binary"],
                input_col=t["input_col"],
            )
            if m.get("bucketed"):
                gt_weights = _bucketed_weights(spark, m["bucketed"], f"{base}/gt_weights")
            else:
                gt_weights = spark.read.parquet(f"{base}/gt_weights").persist()
            model = CosSimIndexerModel(
                tfidf=tfidf,
                gt_weights=gt_weights,
                k=m["k"],
                lower_bound=m["lower_bound"],
                blocking_func=_resolve(
                    _BLOCKING, "blocking_func", m.get("blocking")
                ),
                input_col=m["input_col"],
                score_decimals=m.get("score_decimals"),
                strategy=m.get("strategy", "inverted"),
                **dict(zip(("lsh_num_hashes", "lsh_bands", "lsh_rows_per_band"),
                           m.get("lsh", (32, 8, 4)))),
            )
        elif m["kind"] == "sni":
            model = SNIIndexerModel(
                gt_keyed=spark.read.parquet(f"{base}/gt_keyed").persist(),
                window_length=m["w"],
                input_col=m["input_col"],
                mapping_func=_resolve(
                    _SNI_MAPPING, "mapping_func", m.get("mapping")
                ),
                orig_input_col=m.get("orig_input_col"),
            )
        else:
            raise ValueError(f"unknown indexer kind {m['kind']!r}")
        em.indexer_models_[imeta["name"]] = model

    def _load_sm(base: str):
        from pyspark.ml.classification import GBTClassificationModel

        from entitymatchingmodel_spark.operators.supervised import SupervisedModel

        smeta = _read_json(spark, f"{base}/meta.json")
        v = smeta.get("vocabulary")
        tiers = None
        if smeta.get("vocab_tiers"):
            tiers = spark.read.parquet(f"{base}/vocab_tiers").persist()
        elif v:
            # older saves hold the tiers as literal lists in meta.json;
            # rebuild the (token, tier) table they stand for
            tier_of = {t: 1 for t in v["common"]}
            tier_of.update({t: 2 for t in v["very_common"]})
            tiers = spark.createDataFrame(
                sorted(tier_of.items()), "token string, tier int"
            )
        return SupervisedModel(
            GBTClassificationModel.load(f"{base}/gbt"),
            smeta["feature_cols"],
            smeta["score_col_in"],
            vocab_tiers=tiers,
            row_keys=tuple(smeta.get("row_keys", ("uid", "gt_uid"))),
            extra_cols=tuple(smeta.get("extra_cols", ())),
            use_lef=smeta.get("use_lef", False),
        )

    if meta.get("supervised"):
        em.supervised_model_ = _load_sm(f"{path}/supervised")
        em.supervised_on = True
    for mname in meta.get("supervised_extra", []):
        em.extra_supervised_models_[mname] = _load_sm(f"{path}/supervised_extra/{mname}")
        em.supervised_on = True

    return em
