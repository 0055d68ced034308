"""One benchmark leg: a fresh process that starts the program's Spark
session at local[nproc], forks the Python workers, runs a warm-up pass
over pages disjoint from the timed ones, then does the workload's
timed work and writes what the orchestrator needs to verify it.

    python3 perfbench/legs.py <spec.json> <result.json>

The spec carries the workload, the generated manifest, the timed
work (page-set labels or queries), the trace flag and ``t_spawn``
(wall clock just before this process was started), so set-up time
counts process start too.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.common import RssSampler, Tracer  # noqa: E402


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fork_workers(spark, cores: int) -> None:
    """One task per core, each importing the extractor, so the worker
    daemon forks a full pool before the warm-up pass."""
    def fn(batches):
        import time as _t

        import rdf_rdfa_spark.pipeline.extract  # noqa: F401
        _t.sleep(0.2)  # overlap the tasks so no worker is reused
        yield from batches

    _noop(spark.range(0, cores, 1, cores).mapInPandas(fn, "id long"))


def _setup(spec: dict, warmup_pages: str):
    from rdf_rdfa_spark.pipeline.extract import extract_triples

    spark = common.start_spark("perfbench-" + spec["workload"],
                               spec["cores"])
    t_session = time.time()
    _fork_workers(spark, spec["cores"])
    t_fork = time.time()
    _noop(extract_triples(spark.read.parquet(warmup_pages)))
    t_warm = time.time()
    t0 = spec["t_spawn"]
    return spark, {"session_s": t_session - t0, "fork_s": t_fork - t_session,
                   "warmup_s": t_warm - t_fork, "setup_s": t_warm - t0}


def _pages_dir(man: dict, label: str) -> str:
    return os.path.join(man["root"], label, "pages")


# --- extract_small / extract_large -----------------------------------------

def extract_leg(spec: dict) -> dict:
    from rdf_rdfa_spark.pipeline.extract import extract_triples

    man, trace = spec["manifest"], spec["trace"]
    sizes = {s["label"]: s for s in man["sets"]}
    out = {"passes": []}
    with RssSampler() as rss:
        spark, out["setup"] = _setup(spec, _pages_dir(man, "warmup"))
        tracer = Tracer(trace)
        # timed passes: each over a page set no process has parsed;
        # traced runs alternate traced and untraced passes
        t_start = time.perf_counter()
        for i, label in enumerate(spec["passes"]):
            traced = trace and i % 2 == 0
            t0 = time.perf_counter()
            with common.job_group(spark, "pass." + label):
                with tracer.span("extract.pass", label=label) \
                        if traced else nullcontext():
                    _noop(extract_triples(spark.read.parquet(
                        _pages_dir(man, label))))
            out["passes"].append({"label": label, "traced": traced,
                                  "pages": sizes[label]["pages"],
                                  "s": time.perf_counter() - t0})
        out["measure_s"] = time.perf_counter() - t_start
        if trace:
            out["trace"] = _extract_trace(spark, man, tracer, out, spec)
        # build + correctness: every timed set again, extracted and
        # written as parquet for the oracle
        verify = os.path.join(spec["out_dir"], "verify")
        shutil.rmtree(verify, ignore_errors=True)
        t0 = time.perf_counter()
        with common.job_group(spark, "build"):
            extract_triples(spark.read.parquet(
                *[_pages_dir(man, lb) for lb in spec["passes"]])
            ).write.parquet(verify)
        out["build_s"] = time.perf_counter() - t0
        out["verify_path"] = verify
        common.stop_spark(spark)
    out["peak_rss_mb"] = rss.peak / 2 ** 20
    return out


def _extract_trace(spark, man, tracer, out, spec) -> dict:
    from rdf_rdfa_spark.pipeline.extract import extract_triples

    sample = _pages_dir(man, "sample")
    n_sample = {s["label"]: s for s in man["sets"]}["sample"]["pages"]
    # the single-threaded baseline: the sample is one file, so one task
    # in one Python worker — local[1] without a second JVM
    t0 = time.perf_counter()
    with common.job_group(spark, "local1"), tracer.span("extract.local1"):
        _noop(extract_triples(spark.read.parquet(sample)))
    local1 = n_sample / (time.perf_counter() - t0)
    # cache warmth vs fork: the first timed set again, on the same
    # (forked, warmed) workers that have now parsed exactly these pages
    first = out["passes"][0]
    t0 = time.perf_counter()
    with common.job_group(spark, "repeat"), tracer.span("extract.repeat"):
        _noop(extract_triples(spark.read.parquet(
            _pages_dir(man, first["label"]))))
    repeat_s = time.perf_counter() - t0
    rest = common.SparkRest(spark)
    snap = rest.snapshot()
    traced = [p for p in out["passes"] if p["traced"]]
    jobs, skews = [], []
    for p in traced:
        pj = common.group_jobs(snap, "pass." + p["label"])
        jobs.extend(pj)
        task_ms = [d for j in pj for sid in j.get("stageIds", ())
                   for d in rest.task_durations(sid) if d]
        if len(task_ms) > 1:
            skews.append(max(task_ms) / common.median(task_ms))
    res = common.spark_layer_metrics(snap, jobs, sum(p["s"] for p in traced),
                                     spec["cores"])
    res["extract.local1_pages_per_s"] = local1
    res["extract.task_skew"] = common.median(skews) if skews else 1.0
    res["cache"] = {"fresh_pass_s": common.median(
        [p["s"] for p in out["passes"]]), "repeat_pass_s": repeat_s}
    tracer.write(os.path.join(spec["out_dir"], "spans.json"))
    return res


# --- kg_store ----------------------------------------------------------------

def kg_leg(spec: dict) -> dict:
    from pyspark.sql import functions as F

    from perfbench import kg
    from rdf_rdfa_spark.pipeline import (canonicalize, export, graphops, link,
                                         materialize)
    from rdf_rdfa_spark.textops import dedup

    man, trace = spec["manifest"], spec["trace"]
    res_dir = spec["out_dir"]
    store_root = os.path.join(res_dir, "store")
    shutil.rmtree(store_root, ignore_errors=True)
    out = {"stages": {}, "queries": []}
    with RssSampler() as rss:
        spark, out["setup"] = _setup(spec, _pages_dir(man, "warmup"))
        tr = Tracer(trace)
        pages = spark.read.parquet(_pages_dir(man, "store"))
        stage_s = out["stages"]

        def stage(name, fn):
            t0 = time.perf_counter()
            with common.job_group(spark, name), tr.span(name):
                r = fn()
            stage_s[name] = time.perf_counter() - t0
            return r

        def write(df, name):
            path = os.path.join(res_dir, name)
            df.write.mode("overwrite").parquet(path)
            return path

        t_build = time.perf_counter()
        stage("materialize", lambda: materialize.materialize_resumable(
            pages, store_root, chunks=spec["chunks"], buckets=64))
        files_written = sum(1 for _d, _s, fs in os.walk(
            os.path.join(store_root, "triples"))
            for f in fs if f.endswith(".parquet"))
        stage("materialize.compact",
              lambda: materialize.compact_store(spark, store_root, buckets=64))
        store = materialize.read_triples(spark, store_root)
        stage("link", lambda: write(link.link_entities(store), "linked"))
        docs = pages.select(
            F.element_at(F.split("url", "/"), -1).cast("long").alias("doc_id"),
            "text")
        stage("canonicalize", lambda: (
            write(dedup.minhash_near_dup_pairs(docs, threshold=0.9), "pairs"),
            write(canonicalize.canonical_clusters(
                spark.read.parquet(os.path.join(res_dir, "pairs"))),
                "clusters")))
        stage("graphops.pagerank",
              lambda: write(graphops.pagerank(store, iters=10), "pagerank"))
        stage("export",
              lambda: write(export.export_rdfa_pages(store), "exported"))
        out["build_s"] = time.perf_counter() - t_build

        # query phase: one client, closed loop, against the compacted
        # store held open like a server would.  One untimed round first
        # (plan code generation, JIT), then whole timed rounds, each
        # holding every shape once; traced runs alternate traced and
        # untraced rounds
        store = materialize.read_triples(spark, store_root)
        buckets = materialize.store_buckets(store_root)
        n_shapes = len(kg.SHAPES)
        with common.job_group(spark, "query.warmup"):
            for q in spec["warmup_queries"]:
                kg.result_rows(kg.build_query(spark, store_root, store,
                                              buckets, q))
        t_start = time.perf_counter()
        for i, q in enumerate(spec["queries"]):
            traced = trace and (i // n_shapes) % 2 == 0
            rec = {"i": i, "shape": q["shape"], "traced": traced}
            t0 = time.perf_counter()
            try:
                with common.job_group(spark, "query." + q["shape"]), \
                        (tr.span("query." + q["shape"], i=i) if traced
                         else nullcontext()):
                    df = kg.build_query(spark, store_root, store, buckets, q)
                    rec["compile_s"] = time.perf_counter() - t0
                    rec["rows"] = kg.result_rows(df)
                rec["s"] = time.perf_counter() - t0
                if traced and i < n_shapes:
                    rec["exchanges"] = df._jdf.queryExecution() \
                        .executedPlan().toString().count("Exchange")
            except Exception as e:  # a failed query is counted, not fatal
                rec["s"] = time.perf_counter() - t0
                rec["error"] = "%s: %s" % (type(e).__name__, str(e)[:300])
            out["queries"].append(rec)
        out["measure_s"] = time.perf_counter() - t_start
        out["files_written"] = files_written
        out["store_root"] = store_root
        if trace:
            out["trace"] = _kg_trace(spark, docs, store, tr, out, spec)
        common.stop_spark(spark)
    out["peak_rss_mb"] = rss.peak / 2 ** 20
    return out


def _kg_trace(spark, docs, store, tr, out, spec) -> dict:
    from rdf_rdfa_spark.pipeline import canonicalize, link
    from rdf_rdfa_spark.textops import dedup

    # side counts the build's own calls do not return; run after the
    # measured work, outside every span
    with common.job_group(spark, "trace.side"):
        sigs = canonicalize.minhash_signatures(docs, num_hashes=64)
        candidates = canonicalize.lsh_candidate_pairs(
            sigs, bands=dedup.auto_bands(64, 0.9), max_bucket=64,
            num_hashes=64).count()
        cluster_rows = link.sameas_clusters(store).count()
    snap = common.SparkRest(spark).snapshot()
    res = {"canonicalize.candidate_pairs": candidates,
           "link.cluster_rows": cluster_rows}
    for layer, group in (("materialize", "materialize"),
                         ("link", "link"),
                         ("canonicalize", "canonicalize"),
                         ("graphops", "graphops.pagerank"),
                         ("export", "export")):
        jobs = [j for j in snap["jobs"] if j.get("jobGroup") == group]
        tot = common.stage_totals(snap, jobs)
        res[layer + ".spark_jobs"] = len(jobs)
        res[layer + ".shuffle_bytes"] = tot["shuffle_write"]
    q_jobs = {}
    for j in snap["jobs"]:
        g = j.get("jobGroup") or ""
        if g.startswith("query."):
            q_jobs.setdefault(g[len("query."):], []).append(j)
    n_path = sum(1 for q in out["queries"]
                 if q["traced"] and q["shape"] == "path")
    res["bgpq.path_spark_jobs"] = (len(q_jobs.get("path", ())) / n_path
                                   if n_path else 0.0)
    lookups = [q for q in out["queries"]
               if q["traced"] and q["shape"] == "lookup" and "rows" in q]
    scan = common.sql_scan_metrics(
        snap, {j["jobId"] for j in q_jobs.get("lookup", ())})
    n_rows = sum(len(q["rows"]) for q in lookups)
    res["store.files_read_per_lookup"] = (scan["files"] / len(lookups)
                                          if lookups else 0.0)
    res["store.rows_scanned_per_result"] = (scan["rows"] / n_rows
                                            if n_rows else 0.0)
    build_jobs = [j for j in snap["jobs"]
                  if (j.get("jobGroup") or "") in
                  ("materialize", "materialize.compact", "link",
                   "canonicalize", "graphops.pagerank", "export")]
    res.update(common.spark_layer_metrics(
        snap, build_jobs, out["build_s"], spec["cores"]))
    tr.write(os.path.join(spec["out_dir"], "spans.json"))
    return res


def main(argv) -> int:
    with open(argv[1]) as fh:
        spec = json.load(fh)
    leg = kg_leg if spec["workload"] == "kg_store" else extract_leg
    result = leg(spec)
    with open(argv[2], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
