#!/usr/bin/env python3
"""The repository benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload <extract_small|extract_large|kg_store>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The orchestrator (this process)
generates the workload's inputs from the seed, starts one leg process
(legs.py) that runs the program at local[nproc], verifies every output
against DuckDB, and prints the metrics; the last stdout line is the
JSON result.  ``--trace 1`` adds spans, Spark job/stage/SQL metrics
and in-process layer passes, and reports the per-layer table instead
of the end-to-end metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("extract_small", "extract_large", "kg_store")
LEG_TIMEOUT_S = 165
LAYER_STAGES = ("decode", "parse_html", "parse_rdfa", "rows")
# materialize_resumable chunks for kg_store (see README: run budget)
KG_CHUNKS = 4


def _program_present() -> bool:
    """The benchmark measures the repository's program; without it
    there is nothing to run."""
    sys.path.insert(0, ROOT)
    for name in ("rdf_rdfa_spark", "__spark_entry__"):
        if importlib.util.find_spec(name) is None:
            print("perfbench: %s is not importable from %s" % (name, ROOT),
                  file=sys.stderr)
            return False
    return True


def _run_child(cmd: list, timeout: float) -> subprocess.CompletedProcess:
    """Run a child in its own process group; on timeout or termination
    the whole group (leg, JVM, Python workers) is killed and reaped."""
    p = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True,
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException:  # timeout, interrupt or termination: reap all
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def _context(common) -> dict:
    from importlib.metadata import version

    return {"nproc": common.nproc(), "loadavg": list(os.getloadavg()),
            "python": platform.python_version(),
            **{pkg: version(pkg) for pkg in ("pyspark", "pyarrow", "duckdb")}}


def _layer_passes(man: dict) -> dict:
    """The in-process passes, each in a fresh process."""
    root = man["root"]
    res = {}
    for stage in LAYER_STAGES:
        r = _run_child([sys.executable, os.path.join(BENCH_DIR, "layers.py"),
                        os.path.join(root, "warmup", "pages"),
                        os.path.join(root, "sample", "pages"), stage], 120)
        if r.returncode != 0:
            raise RuntimeError("layer pass %s failed:\n%s"
                               % (stage, r.stderr[-2000:]))
        res[stage] = json.loads(r.stdout.strip().splitlines()[-1])
    return res


def _extract_metrics(leg: dict, common) -> dict:
    """End-to-end metrics from the untraced passes (all passes in an
    untraced run)."""
    untraced = [p for p in leg["passes"] if not p["traced"]]
    rates = [p["pages"] / p["s"] for p in untraced]
    lat = [p["s"] * 1000 for p in untraced]
    return {
        "setup_s": leg["setup"]["setup_s"],
        "extract_pages_per_s": common.median(rates),
        "build_s": leg["build_s"],
        "query_p50_ms": common.median(lat),
        "query_p90_ms": common.quantile(lat, 0.9),
        "peak_rss_mb": leg["peak_rss_mb"],
    }


def _extract_layers(leg: dict, man: dict, cores: int, common) -> dict:
    lp = _layer_passes(man)
    n = lp["rows"]["pages"]
    t = {k: lp[k]["s"] for k in LAYER_STAGES}
    tok_s = max(t["parse_html"] - t["decode"], 1e-9)
    walk_s = t["parse_rdfa"] - t["parse_html"]
    triples = lp["parse_rdfa"]["triples"]
    inproc = n / t["rows"]
    tr = leg["trace"]
    local1 = tr["extract.local1_pages_per_s"]
    traced = [p["s"] / p["pages"] for p in leg["passes"] if p["traced"]]
    untraced = [p["s"] / p["pages"] for p in leg["passes"] if not p["traced"]]
    all_rates = [p["pages"] / p["s"] for p in leg["passes"]]
    m = {
        "dom.decode_us_per_page": t["decode"] / n * 1e6,
        "dom.tokenize_us_per_page": tok_s / n * 1e6,
        "dom.tokenize_mb_per_s": lp["parse_html"]["html_bytes"] / 2 ** 20
        / tok_s,
        "dom.elements_per_page": lp["parse_html"]["elements"] / n,
        "walk.us_per_page": walk_s / n * 1e6,
        "walk.us_per_triple": walk_s / triples * 1e6 if triples else 0.0,
        "walk.triples_per_page": triples / n,
        "extract.rows_us_per_page": (t["rows"] - t["parse_rdfa"]) / n * 1e6,
        "extract.inproc_pages_per_s": inproc,
        "extract.local1_pages_per_s": local1,
        "extract.boundary_us_per_page": (1 / local1 - 1 / inproc) * 1e6,
        "extract.scaling_eff": common.median(all_rates) / (cores * local1),
        "extract.task_skew": tr["extract.task_skew"],
        "trace.overhead_ratio": common.median(traced) / common.median(untraced),
    }
    m.update({k: v for k, v in tr.items() if k.startswith("spark.")})
    return m


def _kg_metrics(leg: dict, n_pages: int, common) -> dict:
    lat = [q["s"] * 1000 for q in leg["queries"] if not q["traced"]]
    return {
        "setup_s": leg["setup"]["setup_s"],
        # pages through the whole build, of which extraction into the
        # store is one stage (its own time is materialize.s)
        "extract_pages_per_s": n_pages / leg["build_s"],
        "build_s": leg["build_s"],
        "query_p50_ms": common.median(lat),
        "query_p90_ms": common.quantile(lat, 0.9),
        "peak_rss_mb": leg["peak_rss_mb"],
    }


def _kg_layers(leg: dict, n_pages: int, n_triples: int, verified: int,
               common) -> dict:
    from perfbench import kg

    st, tr, qs = leg["stages"], leg["trace"], leg["queries"]
    store_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _s, fs in os.walk(os.path.join(leg["store_root"], "triples"))
        for f in fs if f.endswith(".parquet"))
    m = {
        "materialize.s": st["materialize"],
        "materialize.compact_s": st["materialize.compact"],
        "materialize.spark_jobs": tr["materialize.spark_jobs"],
        "materialize.files_written": leg["files_written"],
        "materialize.bytes_per_triple": store_bytes / n_triples,
        "link.s": st["link"],
        "link.cluster_rows": tr["link.cluster_rows"],
        "link.shuffle_bytes": tr["link.shuffle_bytes"],
        "canonicalize.s": st["canonicalize"],
        "canonicalize.candidate_pairs": tr["canonicalize.candidate_pairs"],
        "canonicalize.verified_pairs": verified,
        "canonicalize.verify_yield": verified
        / max(tr["canonicalize.candidate_pairs"], 1),
        "canonicalize.shuffle_bytes": tr["canonicalize.shuffle_bytes"],
        "graphops.pagerank_s": st["graphops.pagerank"],
        "graphops.spark_jobs": tr["graphops.spark_jobs"],
        "export.s": st["export"],
        "export.us_per_page": st["export"] / n_pages * 1e6,
        "export.shuffle_bytes": tr["export.shuffle_bytes"],
        "bgpq.path_spark_jobs": tr["bgpq.path_spark_jobs"],
        "store.files_read_per_lookup": tr["store.files_read_per_lookup"],
        "store.rows_scanned_per_result": tr["store.rows_scanned_per_result"],
    }
    ok = [q for q in qs if "error" not in q]
    compile_ms = [q["compile_s"] * 1000 for q in ok
                  if q.get("compile_s") is not None
                  and q["shape"] in ("sparql", "describe")]
    m["sparql.compile_ms"] = common.median(compile_ms)
    for shape in kg.SHAPES:
        m["bgpq.%s_p50_ms" % shape] = common.median(
            [q["s"] * 1000 for q in ok if q["shape"] == shape])
    for shape in ("join", "agg", "sparql"):
        ex = [q["exchanges"] for q in ok
              if q["shape"] == shape and "exchanges" in q]
        m["bgpq.%s_exchanges" % shape] = ex[0] if ex else 0
    traced = [q["s"] for q in ok if q["traced"]]
    untraced = [q["s"] for q in ok if not q["traced"]]
    m["trace.overhead_ratio"] = sum(traced) / sum(untraced)
    m.update({k: v for k, v in tr.items() if k.startswith("spark.")})
    return m


def _documents(spec: dict) -> list:
    """The documents tables the verified pages were generated from."""
    labels = spec.get("passes", ["store"])
    return [os.path.join(spec["manifest"]["root"], lb, "documents.parquet")
            for lb in labels]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # terminate like an interrupt, so a running leg group is reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not _program_present():
        return 2
    from perfbench import common, gen

    cores = common.nproc()
    # timed work is sized, not timed out: one extract pass takes ~1.5 s
    # and one round of the six query shapes ~6 s on 4 cores
    if args.workload == "kg_store":
        rounds = max(2, math.ceil(args.seconds / 6))
        man = gen.generate(args.workload, args.seed, common.WORK, cores)
    else:
        passes = max(4 if args.trace else 3, math.ceil(args.seconds / 1.5))
        man = gen.generate(args.workload, args.seed, common.WORK, cores,
                           passes=passes, sample=bool(args.trace))
    out_dir = os.path.join(common.WORK, "out", "%s-%d-%d" % (
        args.workload, args.seed, args.trace))
    shutil.rmtree(out_dir, ignore_errors=True)
    common.prune(os.path.dirname(out_dir), args.workload + "-",
                 gen.KEEP_CACHED - 1)
    os.makedirs(out_dir)
    spec = {"workload": args.workload, "manifest": man, "cores": cores,
            "trace": bool(args.trace),
            "out_dir": out_dir}
    if args.workload == "kg_store":
        import pyarrow.parquet as pq

        from perfbench import kg

        ids = pq.read_table(_documents(spec)[0],
                            columns=["doc_id"]).column(
            "doc_id").to_pylist()
        plan = kg.plan_queries(ids, args.seed, rounds=rounds + 1)
        spec["warmup_queries"] = plan[:len(kg.SHAPES)]
        spec["queries"] = plan[len(kg.SHAPES):]
        spec["chunks"] = KG_CHUNKS
    else:
        spec["passes"] = ["pass%d" % i for i in range(passes)]
    spec_path = os.path.join(out_dir, "spec.json")
    res_path = os.path.join(out_dir, "leg.json")
    spec["t_spawn"] = time.time()
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    ticks = common.cpu_ticks()
    r = _run_child([sys.executable, os.path.join(BENCH_DIR, "legs.py"),
                    spec_path, res_path], LEG_TIMEOUT_S)
    if r.returncode != 0:
        print("perfbench: leg failed (exit %d):\n%s"
              % (r.returncode, r.stderr[-4000:]), file=sys.stderr)
        return 1
    with open(res_path) as fh:
        leg = json.load(fh)
    # host context: CPU time stolen by the hypervisor during the leg
    end = common.cpu_ticks()
    leg["host_ticks"] = {k: end[k] - ticks[k] for k in ticks}
    return report(args, spec, leg)


def report(args, spec: dict, leg: dict) -> int:
    """Verify a finished leg against the oracle, derive the metrics and
    print them; the last line is the JSON result."""
    from perfbench import common, verify

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    man, cores, out_dir = spec["manifest"], spec["cores"], spec["out_dir"]
    con = verify.connect(_documents(spec))
    if args.workload == "kg_store":
        from perfbench import kg
        from rdf_rdfa_spark.pipeline.materialize import lineage_summary

        with open(os.path.join(man["root"], "copies.json")) as fh:
            copies = json.load(fh)
        n_pages = {s["label"]: s for s in man["sets"]}["store"]["pages"]
        pr_sql = verify.reuse_entry_sql("kg_pagerank")
        checks, failures, verified = verify.kg(
            con, leg, os.path.join(man["root"], "store", "pages"),
            lineage_summary(leg["store_root"]), copies, n_pages, pr_sql)
        q_bad = q_err = 0
        for q in leg["queries"]:
            if "error" in q:
                q_err += 1
                continue
            want = kg.normalize(q["shape"], con.execute(
                kg.oracle_sql(spec["queries"][q["i"]])).fetchall())
            if kg.normalize(q["shape"], q["rows"]) != want:
                q_bad += 1
        checks["queries"] = (q_bad == 0, {"queries": len(leg["queries"]),
                                          "mismatched": q_bad})
        attempted = n_pages + len(leg["stages"]) + len(leg["queries"])
        failed = failures + q_err
        e2e = _kg_metrics(leg, n_pages, common)
    else:
        checks, failures = verify.extract(con, leg["verify_path"])
        attempted = sum(p["pages"] for p in leg["passes"])
        failed = failures
        e2e = _extract_metrics(leg, common)
    correct = all(ok for ok, _d in checks.values())

    values = dict(e2e, ops_failed_ratio=failed / attempted)
    if args.trace:
        if args.workload == "kg_store":
            n_triples = con.execute("SELECT count(*) FROM t").fetchone()[0]
            values.update(_kg_layers(leg, n_pages, n_triples, verified,
                                     common))
        else:
            values.update(_extract_layers(leg, man, cores, common))
    con.close()
    # the result carries exactly one list; every metric measured in this
    # run is printed above it by name and unit
    units = {m["name"]: m["unit"]
             for m in bench["end_to_end"] + bench["per_layer"]}
    names = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in names}
    context = {"workload": args.workload, "seed": args.seed,
               "gen_s": man["gen_s"], "gen_cached": man["cached"],
               "setup": leg["setup"], "measure_s": leg["measure_s"],
               "host_ticks": leg.get("host_ticks"),
               "ops_failed_ratio": failed / attempted,
               "checks": {k: {"ok": ok, **d} for k, (ok, d) in checks.items()},
               "host": _context(common)}
    if args.trace and "cache" in leg.get("trace", {}):
        context["cache"] = leg["trace"]["cache"]
    if args.workload == "kg_store":
        context["stages_s"] = leg["stages"]
        context["queries"] = len(leg["queries"])
    else:
        context["passes"] = [{k: p[k] for k in ("label", "pages", "s",
                                                "traced")}
                             for p in leg["passes"]]
    for name in units:
        if name in values:
            print("%-36s %16.4f %s" % (name, values[name], units[name]))
    print(json.dumps({"context": context}))
    with open(os.path.join(out_dir, "result.json"), "w") as fh:
        json.dump({"context": context, "metrics": metrics}, fh)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    if not correct:
        bad = [k for k, (ok, _d) in checks.items() if not ok]
        print("perfbench: correctness check failed: %s" % ", ".join(bad),
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
