"""Correctness checks against DuckDB, run by the orchestrator after a
leg ends.  Each check returns (ok, detail); a failed check fails the
run.  ``corpus.triples_oracle_sql()`` over the generated documents is
the value oracle throughout."""

from __future__ import annotations

import os

import duckdb

from rdf_rdfa_spark import corpus

COLS = "url, subj, pred, obj, obj_kind, lang, datatype"
DIGEST = "SELECT count(*) AS n, sum(hash(%s)) AS h FROM " % COLS
PARSE_FAILURES = ("SELECT count(DISTINCT url) FROM {src} WHERE "
                  "graph = 'processor' AND obj LIKE 'parse failure%'")


def connect(documents: list):
    """DuckDB with ``documents`` (the given parquet files) and the
    oracle triples (table ``oracle_triples``, view ``t``)."""
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet(%s)"
                % repr([str(d) for d in documents]))
    con.execute("CREATE TABLE oracle_triples AS " + corpus.triples_oracle_sql())
    con.execute("CREATE VIEW t AS SELECT * FROM oracle_triples")
    return con


def reuse_entry_sql(name: str) -> str:
    """An ``__spark_entry__.oracle_sql()`` query over the oracle table
    instead of its inline triples SQL."""
    import __spark_entry__ as entry

    return entry.oracle_sql()[name].replace(
        corpus.triples_oracle_sql(), "SELECT * FROM oracle_triples")


def _pq(path: str, hive: bool = False) -> str:
    return "read_parquet('%s/**/*.parquet'%s)" % (
        path, ", hive_partitioning = true" if hive else "")


def _digest_check(con, got_src: str, want_src: str) -> tuple:
    got = con.execute(DIGEST + got_src).fetchone()
    want = con.execute(DIGEST + want_src).fetchone()
    return got == want, {"rows": got[0], "oracle_rows": want[0]}


def extract(con, verify_dir: str) -> tuple:
    """Output-graph triples of the verify pass ≡ oracle (count + an
    order-independent digest); returns (checks, parse_failure_pages)."""
    src = _pq(verify_dir)
    checks = {"extract_triples": _digest_check(
        con, "(SELECT * FROM %s WHERE graph IS NULL)" % src, "t")}
    failures = con.execute(PARSE_FAILURES.format(src=src)).fetchone()[0]
    return checks, failures


def kg(con, res: dict, pages_dir: str, lineage: dict, copies: list,
       n_pages: int, pagerank_sql: str) -> tuple:
    """Store, lineage, link, canonicalize, pagerank and export checks;
    returns (checks, parse_failure_pages, verified_pairs)."""
    out = res["store_root"]
    base = os.path.dirname(out)
    store = _pq(os.path.join(out, "triples"), hive=True)
    checks = {}
    checks["store_rows"] = _digest_check(
        con, "(SELECT * FROM %s WHERE graph = 'output')" % store, "t")
    n_triples = con.execute("SELECT count(*) FROM t").fetchone()[0]
    checks["lineage_summary"] = (
        lineage["pages"] == n_pages and lineage["triples"] == n_triples,
        {"pages": lineage["pages"], "triples": lineage["triples"],
         "oracle_pages": n_pages, "oracle_triples": n_triples})
    # sameAs clusters: canonical = the lexicographic min, so every
    # mirror IRI object becomes its document IRI and nothing else moves
    linked = _pq(os.path.join(base, "linked"))
    checks["link_entities"] = _digest_check(
        con, "(SELECT * FROM %s WHERE graph = 'output')" % linked,
        "(SELECT url, subj, pred, CASE WHEN obj LIKE "
        "'http://mirror.example.net/doc/%' THEN replace(obj, "
        "'http://mirror.example.net/doc/', 'http://kg.example.org/doc/') "
        "ELSE obj END AS obj, obj_kind, lang, datatype FROM t)")
    checks.update(_canonicalize(con, base, pages_dir, copies))
    verified = con.execute("SELECT count(*) FROM %s"
                           % _pq(os.path.join(base, "pairs"))).fetchone()[0]
    pr = _pq(os.path.join(base, "pagerank"))
    con.execute("CREATE TABLE pr_want AS " + pagerank_sql)
    diff = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT node, pr FROM %s EXCEPT "
        "SELECT node, pr FROM pr_want)) + (SELECT count(*) FROM (SELECT "
        "node, pr FROM pr_want EXCEPT SELECT node, pr FROM %s))"
        % (pr, pr)).fetchone()[0]
    checks["pagerank"] = (diff == 0, {"differing_rows": diff})
    exported = _pq(os.path.join(base, "exported"))
    got_urls, empty = con.execute(
        "SELECT count(DISTINCT url), count(*) FILTER (WHERE html = '') "
        "FROM %s" % exported).fetchone()
    want_urls = con.execute("SELECT count(DISTINCT url) FROM t").fetchone()[0]
    checks["export_pages"] = (got_urls == want_urls and empty == 0,
                              {"urls": got_urls, "oracle_urls": want_urls})
    checks["export_reparse"] = _export_reparse(con, exported)
    failures = con.execute(PARSE_FAILURES.format(src=store)).fetchone()[0]
    return checks, failures, verified


def _canonicalize(con, base: str, pages_dir: str, copies: list) -> dict:
    """MinHash is approximate: every reported pair must clear the
    threshold by exact token-set Jaccard, the planted near-copies that
    clear it must be found (recall ≥ 0.99; the LSH miss rate at these
    similarities is ~1e-5 per pair), and the clusters must be the
    connected components of the pairs."""
    pairs = _pq(os.path.join(base, "pairs"))
    con.execute(
        "CREATE TABLE toks AS SELECT CAST(regexp_extract(url, '(\\d+)$', 1)"
        " AS BIGINT) AS id, list_distinct(string_split_regex(lower(trim("
        "text)), '\\s+')) AS tk FROM read_parquet('%s/*.parquet')"
        % pages_dir)
    jac = ("len(list_intersect(x.tk, y.tk)) / (len(x.tk) + len(y.tk) - "
           "len(list_intersect(x.tk, y.tk)))")
    low = con.execute(
        "SELECT count(*) FROM %s p JOIN toks x ON x.id = p.a JOIN toks y "
        "ON y.id = p.b WHERE %s < 0.9" % (pairs, jac)).fetchone()[0]
    con.execute("CREATE TABLE planted(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO planted VALUES (?, ?)",
                    [(min(a, b), max(a, b)) for a, b in copies])
    want, found = con.execute(
        "SELECT count(*), count(p.a) FROM planted q JOIN toks x ON x.id = q.a"
        " JOIN toks y ON y.id = q.b LEFT JOIN %s p ON p.a = q.a AND p.b = q.b"
        " WHERE %s >= 0.9" % (pairs, jac)).fetchone()
    recall = found / want if want else 1.0
    # clusters ≡ connected components of the pairs (min id as string)
    edges = con.execute("SELECT a, b FROM %s" % pairs).fetchall()
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(str(a)), find(str(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_cl = sorted((n, find(n)) for n in list(parent))
    got_cl = sorted(tuple(r) for r in con.execute(
        "SELECT id, canonical FROM %s" % _pq(os.path.join(base, "clusters"))
    ).fetchall())
    return {
        "canonicalize_precision": (low == 0, {"pairs_below_threshold": low}),
        "canonicalize_recall": (recall >= 0.99, {"planted_above": want,
                                                 "found": found}),
        "canonical_clusters": (want_cl == got_cl,
                               {"nodes": len(got_cl),
                                "oracle_nodes": len(want_cl)}),
    }


def _export_reparse(con, exported: str, n: int = 40) -> tuple:
    """Re-extract a fixed sample of exported pages in-process: per-url
    triple counts must equal the oracle's (the writer round trip)."""
    from rdf_rdfa_spark.pipeline.extract import rows_for_document

    rows = con.execute(
        "SELECT url, html FROM %s ORDER BY url LIMIT %d" % (exported, n)
    ).fetchall()
    bad = 0
    for url, html in rows:
        want = con.execute("SELECT count(*) FROM t WHERE url = ?",
                           [url]).fetchone()[0]
        if len(rows_for_document(html, url)) != want:
            bad += 1
    return bad == 0, {"sampled": len(rows), "mismatched": bad}
