"""Entity-matching benchmark: seeded workloads, end-to-end metrics, output
checks, and a traced run with per-layer Spark counters.

Usage (from the repository root)::

    python3 perfbench/run.py --workload bulk_match --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics.
Everything the run writes (Spark scratch space, temporary files, the span
file) goes under ``.perfbench_tmp/`` in the repository root.  See
``perfbench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import gen
import reference as ref

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEMORY = "3g"
CHECK_SAMPLE = 200
NAMES_SCHEMA = "name string, id long, account string, counterparty_account_count_distinct long"


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    latencies: list = field(default_factory=list)
    train: list = field(default_factory=list)
    quality: dict = field(default_factory=dict)
    sni_mismatch: list = field(default_factory=list)
    notes: list = field(default_factory=list)


# ---------------------------------------------------------------- session

def start_session(tmp: Path):
    from entitymatchingmodel_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            # -UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of its stdin
        proc.wait(timeout=60)


class PeakRss:
    """Samples the resident memory of the driver JVM plus every process
    under it (the Python workers) from /proc while active."""

    def __init__(self, pid: int):
        self.pid, self.peak_bytes = pid, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent, rss = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{d}/statm") as f:
                    rss[int(d)] = int(f.read().split()[1]) * self._page
            except (OSError, IndexError):
                continue
            parent[int(d)] = int(stat[1])
        total = 0
        for p in rss:
            q = p
            while q > 1 and q != self.pid:
                q = parent.get(q, 0)
            if q == self.pid:
                total += rss[p]
        return total

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def __enter__(self):
        self.peak_bytes = self._tree_rss()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# -------------------------------------------------------------- workloads

class Workload:
    """One set of generated inputs and the timed operation run on them.

    ``op`` returns ``(latency_s, fit_s or None, per-name output, account
    output or None)`` as Arrow tables; ``gt_pre`` holds the fitted GT's
    ``(gt_uid, gt_preprocessed)`` rows for the checks.  Every result the
    benchmark itself reads goes through ``collect``, so the traced run can
    tell those jobs from the package's own."""

    name: str
    spec: gen.Spec
    top1: tuple  # output column and value that mark a name's top candidate

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.data = gen.generate(self.spec, seed)
        self.props = gen.properties(self.data)
        self.gt = spark.createDataFrame(self.data.gt, "name string, id long")
        self.gt_pre = None

    def names_frame(self, rows):
        return self.spark.createDataFrame([r[:4] for r in rows], NAMES_SCHEMA)

    def collect(self, df):
        return df.toArrow()

    def keep_gt(self, model) -> None:
        if self.gt_pre is None:
            gt = self.collect(model.gt_.select("gt_uid", "gt_preprocessed"))
            self.gt_pre = list(zip(gt["gt_uid"].to_pylist(), gt["gt_preprocessed"].to_pylist()))

    def warm_up(self) -> None:
        """Part of set-up: runs before the first timed or traced op."""

    def prepare(self, res: Result) -> None:
        pass


class BulkMatch(Workload):
    """Fit of a GT, then one transform of an equally large names set.  One
    untimed op in set-up warms the JVM (JIT, code generation) and the
    Python workers, so the timed and the traced ops run alike."""

    name = "bulk_match"
    spec = gen.Spec(n_gt=1000, n_names=1000)
    top1 = ("rank_0", 1)  # the word-cosine indexer's best candidate

    def __init__(self, spark, seed):
        super().__init__(spark, seed)
        self.test_rows = self.data.names
        self.names = self.names_frame(self.test_rows)

    def op(self):
        from entitymatchingmodel_spark import SparkEntityMatching

        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()  # the previous op's garbage
        t0 = time.perf_counter()
        model = SparkEntityMatching()
        model.fit(self.gt)
        fit_s = time.perf_counter() - t0
        out = self.collect(model.transform(self.names))
        latency = time.perf_counter() - t0
        self.keep_gt(model)
        model.unpersist()
        return latency, fit_s, out, None

    def warm_up(self) -> None:
        self.op()

    def aggregate(self, out):
        """Account aggregation of an op's output on ``score_0``, run after
        the timed op so the bulk job's timing stays fit + transform."""
        from entitymatchingmodel_spark.operators import aggregation

        df = self.spark.createDataFrame(out.select(
            ["account", "counterparty_account_count_distinct", "gt_uid",
             "gt_entity_id", "preprocessed", "score_0"]))
        return self.collect(aggregation.aggregate_accounts(df, score_col="score_0"))


class SupervisedAccounts(Workload):
    """Small GT, a trained classifier, names grouped into accounts; the op
    scores one set of names and aggregates them per account.  The training,
    timed as ``train_s`` and traced in the traced run, is the first Spark
    work after set-up and warms the JVM for the ops."""

    name = "supervised_accounts"
    spec = gen.Spec(n_gt=500, n_names=1800)
    top1 = ("best_match", True)

    def __init__(self, spark, seed):
        super().__init__(spark, seed)
        train, self.test_rows = gen.split(self.data, [300, 1500])
        self.train = self.names_frame(train)
        self.names = self.names_frame(self.test_rows)
        self.model = None

    def prepare(self, res: Result) -> None:
        from entitymatchingmodel_spark import SparkEntityMatching

        res.attempted += 1
        t0 = time.perf_counter()
        model = SparkEntityMatching()
        model.fit(self.gt)
        model.fit_classifier(self.train)
        res.train.append(time.perf_counter() - t0)
        self.model = model
        self.keep_gt(model)

    def op(self):
        from entitymatchingmodel_spark.operators import aggregation

        self.spark.sparkContext._jvm.System.gc()  # the training's garbage
        t0 = time.perf_counter()
        scored = self.model.transform(self.names).persist()
        try:
            out = self.collect(scored)
            acc = self.collect(aggregation.aggregate_accounts(scored, score_col="nm_score"))
        finally:
            scored.unpersist()
        return time.perf_counter() - t0, None, out, acc


WORKLOADS = {w.name: w for w in (BulkMatch, SupervisedAccounts)}


# ------------------------------------------------------------------ checks

class Checker:
    """Output checks of one workload against the reference twin."""

    def __init__(self, wl: Workload):
        from entitymatchingmodel_spark.pipeline import DEFAULT_INDEXERS

        self.wl = wl
        self.cosine = {}
        for i, spec in enumerate(DEFAULT_INDEXERS):
            if spec["type"] == "cosine_similarity":
                self.cosine[i] = ref.CosineTwin(
                    wl.gt_pre,
                    ref.char_2grams if spec["tokenizer"] == "characters" else ref.word_tokens,
                    k=spec["num_candidates"],
                    lower_bound=spec["cos_sim_lower_bound"],
                    block=ref.first_char if spec.get("blocking_func") else None,
                )
            else:
                self.sni_index, self.sni_w = i, spec["window_length"] // 2
        self.input_names = sorted(r[0] for r in wl.test_rows)

    def check(self, out, acc, res: Result) -> bool:
        """Checks one op's output; returns False when the op fails a check.
        SNI differences are counted, not failed: see KNOWN_DEFECTS.md."""
        cols = {c: out[c].to_pylist() for c in out.column_names}
        rows = range(out.num_rows)
        by_uid: dict[int, list[int]] = {}
        for r in rows:
            by_uid.setdefault(cols["uid"][r], []).append(r)
        reasons = []
        if sorted(cols["name"][rs[0]] for rs in by_uid.values()) != self.input_names:
            reasons.append(f"{len(by_uid)} names out, {len(self.input_names)} in, or names differ")
        for c in out.column_names:
            if c.startswith("score_"):
                bad = [v for v in cols[c] if v is not None and not 0.0 < v <= 1.0 + ref.EPS]
                if bad:
                    reasons.append(f"{c} has {len(bad)} values outside (0, 1], e.g. {bad[0]!r}")
        uids = sorted(by_uid)
        sample = uids[:: max(1, len(uids) // CHECK_SAMPLE)]
        for i, twin in self.cosine.items():
            for u in sample:
                got = {cols["gt_uid"][r]: cols[f"score_{i}"][r]
                       for r in by_uid[u] if cols[f"rank_{i}"][r] is not None}
                why = twin.check(cols["preprocessed"][by_uid[u][0]], got)
                if why:
                    reasons.append(f"cosine indexer {i}, uid {u}: {why}")
                    break
        rank = cols[f"rank_{self.sni_index}"]
        got = {((cols["uid"][r], cols["gt_uid"][r]), rank[r]) for r in rows if rank[r] is not None}
        want = ref.sni_pairs({u: cols["preprocessed"][rs[0]] for u, rs in by_uid.items()},
                             self.wl.gt_pre, self.sni_w)
        res.sni_mismatch.append(len(got ^ set(want.items())))

        col, val = self.wl.top1
        truth = {u: cols["entity_id"][rs[0]] for u, rs in by_uid.items()}
        matchable = [u for u, e in truth.items() if e is not None]
        hit = sum(any(cols["gt_entity_id"][r] == truth[u] for r in by_uid[u]) for u in matchable)
        top = sum(any(cols[col][r] == val and cols["gt_entity_id"][r] == truth[u]
                      for r in by_uid[u]) for u in matchable)
        acc_truth = {cols["account"][rs[0]]: truth[u] for u, rs in by_uid.items()}
        acc_pred = dict(zip(acc["account"].to_pylist(), acc["gt_entity_id"].to_pylist()))
        acc_match = [a for a, e in acc_truth.items() if e is not None]
        q = {
            "candidate_recall": hit / len(matchable),
            "top1_accuracy": top / len(matchable),
            "account_accuracy": sum(acc_pred.get(a) == acc_truth[a] for a in acc_match) / len(acc_match),
        }
        for k, v in q.items():
            res.quality.setdefault(k, []).append(v)
        if reasons:
            res.notes.append("check failed: " + "; ".join(reasons[:5]))
        return not reasons


# ------------------------------------------------------------------ phases

def timed_phase(wl, seconds: float, jvm_pid: int, res: Result) -> dict:
    """Closed loop of ops for at least ``seconds`` (one op at minimum),
    then the output checks, which are not timed."""
    wl.prepare(res)
    outputs = []
    with PeakRss(jvm_pid) as rss:
        t_end = time.perf_counter() + seconds
        while not res.attempted or time.perf_counter() < t_end:
            res.attempted += 1
            try:
                latency, fit_s, out, acc = wl.op()
            except Exception:  # counted as a failed op; the loop goes on
                res.failed += 1
                res.notes.append("op raised:\n" + traceback.format_exc())
                continue
            res.latencies.append(latency)
            if fit_s is not None:
                res.train.append(fit_s)
            outputs.append((out, acc))
    if not outputs:
        raise RuntimeError("no op succeeded:\n" + "\n".join(res.notes))
    checker = Checker(wl)
    for out, acc in outputs:
        if not checker.check(out, acc if acc is not None else wl.aggregate(out), res):
            res.failed += 1
    metrics = {
        "names_per_s": (len(wl.test_rows) / statistics.median(res.latencies), "1/s"),
        "train_s": (statistics.median(res.train), "s"),
        "ops_ok_share": ((res.attempted - res.failed) / res.attempted, "share"),
        "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
    }
    for k, v in res.quality.items():
        metrics[k] = (statistics.median(v), "share")
    return metrics


def traced_phase(wl, res: Result, spans_path: Path) -> dict:
    """One untraced op, then the same op with every layer call traced, both
    after set-up as in the timed phase (the training, where the workload
    trains, is traced too); per-layer metrics."""
    from layers import LAYERS, instrument
    from pyspark.sql import functions as F
    from spans import LAYER_COUNTERS, Tracer

    tracer = Tracer(wl.spark.sparkContext)
    seen, unattributed = [], []

    def collect(df):
        with tracer.span("collect"):
            return df.toArrow()

    def traced(name, fn):
        """Runs ``fn`` in an outer span with its own job group.  A job that
        lands in no layer's group and not in the benchmark's own ``collect``
        is unattributed: one that ran in the outer group, or in none."""
        before = tracer.ungrouped_jobs()
        wl.collect = collect
        try:
            with instrument(tracer) as s, tracer.span(f"{wl.name}.{name}") as span:
                result = fn()
        finally:
            del wl.collect  # back to the class's plain collect
        seen.append(s)
        unattributed.extend(tracer.job_names(tracer.group_jobs(span.group)
                                             + sorted(tracer.ungrouped_jobs() - before)))
        return span, result

    if isinstance(wl, SupervisedAccounts):
        traced("train", lambda: wl.prepare(res))
    plain_s, _, *plain_out = wl.op()
    op_span, (_, _, *traced_out) = traced("op", wl.op)
    overhead = op_span.end - op_span.start - plain_s
    checker = Checker(wl)
    for out, acc in (plain_out, traced_out):
        res.attempted += 1
        if not checker.check(out, acc if acc is not None else wl.aggregate(out), res):
            res.failed += 1

    # Ratios, computed after the traced op so they do not inflate it.
    kept: dict[str, list[int]] = {}
    indexer_rows = combined_rows = 0
    for s in seen:
        for layer, names, m, rows in s.cosine:
            q = m.tfidf.transform(names, "uid")
            keys = ["token"]
            if m.blocking_func is not None:
                q = q.join(names.select("uid", m.blocking_func(F.col(m.input_col)).alias("block")), "uid")
                keys.append("block")
            pairs = q.join(m.gt_weights, keys).select("uid", "gt_uid").distinct().count()
            k = kept.setdefault(layer.rsplit(".", 1)[0], [0, 0])
            k[0] += rows
            k[1] += pairs
        for combined, rows in s.combined:
            combined_rows += combined.count()
            indexer_rows += rows
        s.release()
    tracer.write(spans_path)

    layers = tracer.by_layer()
    units = {"wall_s": "s", "self_s": "s", "run_ms": "ms", "shuffle_bytes": "bytes",
             "spill_bytes": "bytes"}
    metrics = {}
    for layer in LAYERS:
        for c in LAYER_COUNTERS:
            metrics[f"{layer}.{c}"] = (layers.get(layer, {}).get(c, 0), units.get(c, "count"))
    for layer, (rows, pairs) in sorted(kept.items()):
        metrics[f"{layer}.kept_ratio"] = (rows / pairs, "ratio")
    metrics["candidate_selection.overlap_ratio"] = (combined_rows / indexer_rows, "ratio")
    # From the untraced op: persisting each layer's output fixes the row
    # order of the SNI input, which can hide the rank defect in the traced op.
    metrics["sni_indexer.mismatch_pairs"] = (res.sni_mismatch[0], "count")
    metrics["trace.overhead_s"] = (overhead, "s")
    metrics["trace.unattributed_jobs"] = (len(unattributed), "count")
    print(f"traced op {op_span.end - op_span.start:.3f}s, untraced op {plain_s:.3f}s, "
          f"tracing overhead {overhead:.3f}s; jobs outside every layer and collect span: "
          f"{len(unattributed)} {unattributed}")
    print(f"{'layer':32} {'wall_s':>8} {'self_s':>8} {'jobs':>5} {'tasks':>6} "
          f"{'run_ms':>8} {'shuffle_b':>10} {'spill_b':>8} {'rows_out':>8}")
    for layer in LAYERS:
        v = layers.get(layer, dict.fromkeys(LAYER_COUNTERS, 0))
        print(f"{layer:32} {v['wall_s']:8.3f} {v['self_s']:8.3f} {v['jobs']:5d} {v['tasks']:6d} "
              f"{v['run_ms']:8d} {v['shuffle_bytes']:10d} {v['spill_bytes']:8d} {v['rows_out']:8d}")
    return metrics


# -------------------------------------------------------------------- main

def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "entitymatchingmodel_spark" / "__init__.py").is_file():
        print(f"perfbench: no entitymatchingmodel_spark package in {ROOT}", file=sys.stderr)
        return 2

    out_dir = ROOT / ".perfbench_tmp"
    tmp = out_dir / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    tmp.mkdir(parents=True)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        # pandas-UDF workers import the package from here
        PYTHONPATH=str(ROOT) + (os.pathsep + pythonpath if pythonpath else ""),
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(tmp / "spark"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # the launcher JVM that spark-submit starts first: no hsperfdata
        # file under the system /tmp (the driver JVM gets the same flag)
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    sys.path.insert(0, str(ROOT))
    spark = None
    try:
        import tempfile

        tempfile.tempdir = str(tmp)
        t0 = time.perf_counter()
        spark = start_session(tmp)
        wl = WORKLOADS[args.workload](spark, args.seed)
        t_warm = time.perf_counter()
        wl.warm_up()
        setup_s = time.perf_counter() - t0
        warm_s = time.perf_counter() - t_warm

        import pyspark

        sc = spark.sparkContext
        jvm_pid = sc._gateway.proc.pid
        print(f"env: pyspark {pyspark.__version__}, java "
              f"{sc._jvm.java.lang.System.getProperty('java.version')}, "
              f"nproc {len(os.sched_getaffinity(0))}, master {sc.master}, "
              f"driver memory {DRIVER_MEMORY}, SPARK_LOCAL_DIRS {os.environ['SPARK_LOCAL_DIRS']}")
        print(f"set-up {setup_s:.3f}s, of which warm-up op {warm_s:.3f}s")
        print(f"workload {wl.name}, seed {args.seed}: {len(wl.data.gt)} GT names, "
              f"{len(wl.test_rows)} names per op; properties "
              + ", ".join(f"{k} {v:.3f}" for k, v in wl.props.items()))
        res = Result()
        if args.trace:
            metrics = traced_phase(wl, res,
                                   out_dir / f"spans-{args.workload}-seed{args.seed}.jsonl")
        else:
            metrics = timed_phase(wl, args.seconds, jvm_pid, res)
            metrics["setup_s"] = (setup_s, "s")
        print(f"ops {res.attempted}, failed {res.failed}; timed op latencies "
              f"{[round(x, 3) for x in res.latencies]}; sni_indexer mismatch_pairs "
              f"per checked op {res.sni_mismatch} (known defect, see perfbench/KNOWN_DEFECTS.md)")
        for note in res.notes:
            print(note)
        print("output checks: " + ("pass" if res.failed == 0 else "FAIL"))
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
