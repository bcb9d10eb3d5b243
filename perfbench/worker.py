"""Run one workload in this (fresh) process and write its raw results.

Set-up (``get_spark`` sized from the box, input registration, untimed
warm-up passes), then timed passes until the next one would end past
``--seconds``, each checked against the generator's truth outside its
timing.  With ``--trace 1``
spans wrap every call into an engine layer and Spark's event log is kept so
stage metrics can be attributed to them.

Run from the repository root; ``run.py`` is the entry point that starts it:

    python3 perfbench/worker.py --workload validate_scan --data DIR \
        --seed 1 --seconds 20 --trace 0 --out result.json --t0 <time.monotonic()>
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.getcwd())  # the engine package, at the repository root
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
from spans import NullTracer, Tracer, layer_metrics, parse_event_log  # noqa: E402

# shingles shared by more docs than this seed no containment candidates: the
# Zipf head's 3-grams sit in thousands of docs and would otherwise turn the
# self-join quadratic (planted pairs share many rare shingles)
CONTAINMENT_MAX_DOC_FREQ = 10


def box_resources() -> tuple[int, int]:
    """(cpus, driver heap MiB): every core this process may use, and a
    quarter of MemAvailable rounded down to 256 MiB, within [1, 2] GiB."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        avail_kib = next(int(line.split()[1]) for line in fh if line.startswith("MemAvailable:"))
    heap = avail_kib // 1024 // 4 // 256 * 256
    return cpus, max(1024, min(2048, heap))


def scan_schema(strict_rows: int):
    from schema_validator_spark import schema

    s = schema()
    return (
        s.object()
        .field("url", s.string().trim().to_lowercase().url().unique())
        .field("text", s.string().min_length(gen.TEXT_MIN_LEN).optional())
        .field("lang", s.string().pattern(r"^[a-z]{2}$").optional())
        .ref("lang", "lang_dim", "lang_code")
        .table_check("min_rows", f"count(*) >= {strict_rows}")
        .table_check("text_null_rate", "avg(cast(text is null as int)) <= 0.005")
    )


def meta_schema():
    """The JSON objects of the ``meta`` column."""
    from schema_validator_spark import schema

    s = schema()
    return (
        s.object()
        .field("name", s.string().min_length(3))
        .field("age", s.number())
        .field("active", s.boolean())
        .field("tag", s.string().pattern(r"^[a-z]+$").optional())
    )


# -- workloads -------------------------------------------------------------------

class ValidateScan:
    """One ``run_full`` job, materialising every output it returns, plus
    ``validate_json_objects`` over the pages' JSON ``meta`` column."""

    def __init__(self, spark, data, tracer, seed):
        from schema_validator_spark import ValidationPlan
        from schema_validator_spark.sources.webpages import lang_dim

        self.spark = spark
        self.truth = gen.load_truth(data)
        self.df = spark.read.parquet(os.path.join(data, "pages"))
        self.dims = {"lang_dim": lang_dim(spark)}
        self.plan = ValidationPlan(scan_schema(self.truth["rows"]))
        if tracer.enabled:
            self.plan.apply = tracer.wrap("plans.runner.apply", self.plan.apply)
        self.meta = meta_schema()
        self.docs = self.truth["rows"]

    def frames(self, tr) -> dict:
        """The DataFrames one pass materialises, by the span that does it."""
        from pyspark.sql import functions as F

        from schema_validator_spark.plans.json import validate_json_objects
        from schema_validator_spark.sources.webpages import extract_text

        out = self.plan.run_full(self.df, dims=self.dims, partition_cols=["lang"],
                                 profile_columns=["url", "text", "lang"])
        with tr.span("plans.json.validate_json_objects"):
            meta = validate_json_objects(self.df.where(F.col("meta").isNotNull())
                                         .select("meta"), "meta", self.meta)
        return {
            "plans.json.batch_action": meta.where(~F.col("valid"))
                .select(F.explode("violations").alias("v"))
                .groupBy("v.field", "v.code").count(),
            "plans.runner.verdicts": out["verdicts"],
            "plans.runner.violation_counts":
                self.plan.violations(out["validated"]).groupBy("field", "code").count(),
            "operators.stats.profile": out["profile"],
            "plans.runner.table_violations": out["table_violations"],
            "sources.webpages.extract_text": self.df.where(
                F.coalesce(extract_text(F.col("html")), F.lit(""))
                != F.coalesce(F.col("text"), F.lit(""))),
        }

    def run_pass(self, tr, i):
        f = self.frames(tr)
        with tr.span("plans.runner.verdicts"):
            verdicts = [(r["lang"], r["total_rows"], r["failed_rows"])
                        for r in f["plans.runner.verdicts"].collect()]
        with tr.span("plans.runner.violation_counts"):
            counts = [tuple(r) for r in f["plans.runner.violation_counts"].collect()]
        with tr.span("operators.stats.profile"):
            prof = f["operators.stats.profile"].collect()[0].asDict()
        with tr.span("plans.runner.table_violations"):
            tv = [(r["field"], r["key"], r["code"])
                  for r in f["plans.runner.table_violations"].collect()]
        with tr.span("sources.webpages.extract_text"):
            mism = f["sources.webpages.extract_text"].count()
        with tr.span("plans.json.batch_action"):
            meta = [tuple(r) for r in f["plans.json.batch_action"].collect()]
        return verdicts, counts, prof, tv, mism, meta

    def check(self, out, i):
        return checks.check_scan(self.truth, *out), {}

    def extras(self):
        return _plan_counts(self.frames(NullTracer()).values())


def curated_schema():
    from schema_validator_spark import schema

    s = schema()
    return (
        s.object()
        .field("text", s.string().max_length(gen.CURATED_MAX_BYTES))
        # a custom Python transform: compiles to the pandas UDF path
        .field("title", s.string().transform(str.title))
    )


class NearDupCuration:
    """MinHash near-duplicates, exploded containment and the hashed quality
    classifier, each keyed on the unique ``doc_id``; then the curated corpus
    is validated and written by ``run_resumable``, sharded, into a fresh
    output and manifest path per pass."""

    def __init__(self, spark, data, tracer, seed):
        from schema_validator_spark import ValidationPlan

        self.spark = spark
        self.truth = gen.load_truth(data)
        self.df = spark.read.parquet(os.path.join(data, "docs"))
        self.plan = ValidationPlan(curated_schema())
        if tracer.enabled:
            self.plan.apply = tracer.wrap("plans.runner.apply", self.plan.apply)
        self.work = os.path.join(os.environ["PERFBENCH_SCRATCH"], "write")
        shutil.rmtree(self.work, ignore_errors=True)
        self.docs = self.truth["rows"]
        self.bytes_per_doc: list[float] = []
        self.last_funnel: dict = {}

    def run_pass(self, tr, i):
        from pyspark.sql import functions as F

        from schema_validator_spark.operators import dedup as D
        from schema_validator_spark.operators import textquality as TQ
        from schema_validator_spark.sources.io import CheckpointManifest, run_resumable

        with tr.span("operators.dedup.minhash_near_duplicates"):
            mh = [tuple(r) for r in D.minhash_near_duplicates(
                self.df, "doc_id", hash_fn="xxhash64").select("id_a", "id_b").collect()]
        with tr.span("operators.dedup.containment_pairs"):
            cp = [tuple(r) for r in D.containment_pairs(
                self.df, "doc_id", candidates="exploded",
                max_doc_freq=CONTAINMENT_MAX_DOC_FREQ).select("id_a", "id_b").collect()]
        with tr.span("operators.textquality.quality_classifier"):
            r = TQ.quality_classifier(self.df, "doc_id", hash_fn="xxhash64").agg(
                F.count(F.lit(1)), F.sum("n_features")).first()
        base = os.path.join(self.work, f"pass-{i}")
        manifest = CheckpointManifest(self.spark, os.path.join(base, "manifest"))
        with tr.span("sources.io.run_resumable"):
            res = run_resumable(self.plan, self.df, "shard", os.path.join(base, "out"),
                                manifest, snapshot_id=f"snap-{i}")
        return mh, cp, (r[0], r[1]), (base, res)

    def check(self, out, i):
        mh, cp, clf, (base, res) = out
        errs, funnel = checks.check_near_dup(self.truth, mh, cp, clf)
        self.last_funnel = funnel
        m = pq.read_table(os.path.join(base, "manifest"), columns=[
            "partition_value", "total_rows", "passed_rows", "failed_rows"]).to_pydict()
        rows = list(zip(*m.values()))
        nbytes = _dir_bytes(base)
        shutil.rmtree(base, ignore_errors=True)
        errs += checks.check_write(self.truth["shards"], rows, nbytes)
        if res["skipped"]:
            errs.append(f"fresh manifest skipped partitions {res['skipped']}")
        if i >= 0:  # timed passes only
            self.bytes_per_doc.append(nbytes / self.docs)
        return errs, {"textquality.n_features": float(clf[1] or 0),
                      "sources.io.output_bytes": float(nbytes)}

    def extras(self):
        """Candidate counts for the dedup funnels and the write plan's
        counts (extra jobs, untimed)."""
        from schema_validator_spark.operators import dedup as D

        mh_cand = D.minhash_lsh_candidates(self.df, "doc_id", hash_fn="xxhash64").count()
        # threshold 0 keeps every verified candidate, once per direction
        cp_cand = D.containment_pairs(self.df, "doc_id", threshold=0.0, candidates="exploded",
                                      max_doc_freq=CONTAINMENT_MAX_DOC_FREQ).count() // 2
        f = dict(self.last_funnel)
        f["dedup.minhash.candidates"] = float(mh_cand)
        f["dedup.containment.candidates"] = float(cp_cand)
        f["dedup.minhash.verify_yield"] = (
            f.get("dedup.minhash.verified", 0.0) / mh_cand if mh_cand else 0.0)
        shutil.rmtree(self.work, ignore_errors=True)
        return {**f, **_plan_counts([self.plan.apply(self.df)])}


WORKLOADS = {
    "validate_scan": ValidateScan,
    "near_dup_curation": NearDupCuration,
}
# untimed warm-up passes: the first pass of a fresh JVM runs 3-10x slower
# than the ones after (class loading, code generation, the JIT)
WARMUP_PASSES = {"validate_scan": 1, "near_dup_curation": 1}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _plan_counts(frames) -> dict[str, float]:
    from schema_validator_spark.plans.inspect import plan_stats

    out = dict.fromkeys(["plan.scans", "plan.shuffles", "plan.codegen_stages",
                         "plan.python_evals"], 0.0)
    for df in frames:
        st = plan_stats(df)
        for k in ("scans", "shuffles", "codegen_stages", "python_evals"):
            out[f"plan.{k}"] += st[k]
    return out


def _event_log_lines(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as fh:
                yield from fh


def timed_passes(wl, tracer, seconds: float):
    """Timed passes until the next one would end past ``seconds``, each timed
    once and checked outside its timing.  A pass that raises or fails its
    check counts as failed.  Returns ``(times, failed, errors, counts)``."""
    times, failed, errors, counts = [], 0, [], {}
    start = time.monotonic()
    while not times or time.monotonic() - start + statistics.median(times) <= seconds:
        i = len(times)
        tracer.pass_id = i
        t = time.perf_counter()
        try:
            with tracer.span("pass"):
                out = wl.run_pass(tracer, i)
        except Exception:  # a raising pass counts as failed; keep going
            out = None
            errs, cnt = [traceback.format_exc()], {}
        times.append(time.perf_counter() - t)
        tracer.pass_id = None
        if out is not None:
            try:
                errs, cnt = wl.check(out, i)
            except Exception:
                errs, cnt = [traceback.format_exc()], {}
        if errs:
            failed += 1
            errors += [f"pass {i}: {e}" for e in errs]
        for k, v in cnt.items():
            counts[k] = counts.get(k, 0.0) + v
    return times, failed, errors, counts


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans-out", help="where a traced run writes its spans")
    ap.add_argument("--t0", type=float, required=True, help="time.monotonic() at spawn")
    args = ap.parse_args(argv)

    scratch = os.environ["PERFBENCH_SCRATCH"]
    log_dir = os.path.join(scratch, "eventlog")
    # the benchmark's own session config, on top of get_spark's
    submit = ["--conf spark.ui.showConsoleProgress=false"]
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   f"--conf spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    import pyspark

    from schema_validator_spark.session import get_spark

    cpus, heap_mb = box_resources()
    boot = Tracer()
    with boot.span("session.get_spark"):
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus,
                          driver_mem=f"{heap_mb}m")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
    wl = WORKLOADS[args.workload](spark, args.data, tracer, args.seed)
    warm_errors, warm_s = [], []
    for i in range(WARMUP_PASSES[args.workload]):
        t = time.perf_counter()
        out = wl.run_pass(NullTracer(), -1 - i)
        warm_s.append(time.perf_counter() - t)
        warm_errors += wl.check(out, -1 - i)[0]
    setup_s = time.monotonic() - args.t0

    times, failed, errors, counts = timed_passes(wl, tracer, args.seconds)
    errors = [f"warm-up: {e}" for e in warm_errors] + errors
    result = {
        "box": {"cpus": cpus, "heap_mb": heap_mb, "pyspark": pyspark.__version__},
        "setup_s": setup_s,
        "warmup_s": warm_s,
        "docs_per_pass": wl.docs,
        "pass_s": times,
        "attempted": len(times),
        "failed": failed,
        "errors": errors,
    }
    if isinstance(wl, NearDupCuration) and wl.bytes_per_doc:
        result["write_bytes_per_doc"] = statistics.median(wl.bytes_per_doc)
    if args.trace:
        # counts taken outside every timed span, after the timed passes;
        # untraced runs skip these extra jobs
        counts = {k: v / len(times) for k, v in counts.items()}
        counts.update(wl.extras())
    spark.stop()

    if args.trace:
        jobs, by_group = parse_event_log(_event_log_lines(log_dir))
        layers = layer_metrics(tracer.spans, jobs, by_group, len(times))
        layers["session.get_spark.wall_s"] = boot.spans[0].duration
        # compare with the untraced docs_per_s: the tracing overhead
        layers["traced.docs_per_s"] = wl.docs / statistics.median(times)
        result["layers"] = {**layers, **counts}
        result["ungrouped_jobs"] = sum(1 for j in jobs if j["group"] is None)
        if args.spans_out:
            tracer.dump(args.spans_out)

    with open(args.out + ".tmp", "w") as fh:
        json.dump(result, fh)
    os.replace(args.out + ".tmp", args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
