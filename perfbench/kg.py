"""kg_store query shapes: seeded parameters, the Spark-side call into
the program's public query API, and the DuckDB oracle for each.

The oracle runs over view ``t`` = ``corpus.triples_oracle_sql()`` on
the generated documents; where ``__spark_entry__.oracle_sql()`` has a
query of the same shape it is reused with its parameter substituted.
"""

from __future__ import annotations

import random

from perfbench.gen import LANGS

SCHEMA = "http://schema.org/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF + "type"
SHAPES = ("lookup", "join", "path", "agg", "sparql", "describe")
PREFIXES = ("PREFIX schema: <http://schema.org/> "
            "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> ")


def plan_queries(doc_ids: list, seed: int, rounds: int) -> list:
    """``rounds`` rounds of the six shapes, each round in a seeded
    order with seeded parameters."""
    rng = random.Random("kg_queries/%d" % seed)
    kw_docs = [d for d in doc_ids if d % 5 == 0]
    out = []
    for _ in range(rounds):
        shapes = list(SHAPES)
        rng.shuffle(shapes)
        for shape in shapes:
            if shape in ("lookup", "path"):
                pool = kw_docs if shape == "path" else doc_ids
                p = {"subj": "http://kg.example.org/doc/%d" % rng.choice(pool)}
            elif shape == "agg":
                p = {"lang": rng.choice(LANGS)}
            elif shape == "sparql":
                p = {"genre": "src%d" % rng.randrange(20),
                     "limit": rng.randint(20, 120)}
            else:
                p = {"genre": "src%d" % rng.randrange(20)}
            out.append({"shape": shape, "params": p})
    return out


# --- Spark side -------------------------------------------------------------

def build_query(spark, root: str, store, buckets: int, q: dict):
    """The query as a DataFrame (lazy), through the public API."""
    from pyspark.sql import functions as F

    from rdf_rdfa_spark.pipeline import materialize
    from rdf_rdfa_spark.pipeline.bgpq import (alt, bgp_aggregate,
                                              bgp_select, one_or_more, var)
    from rdf_rdfa_spark.pipeline.sparql import sparql

    shape, p = q["shape"], q["params"]
    d = var("d")
    if shape == "lookup":
        return materialize.subject_lookup(
            spark, root, p["subj"], buckets=buckets).select(
            "url", "subj", "pred", "obj", "obj_kind", "lang", "datatype")
    if shape == "join":
        return bgp_select(
            store, [(d, RDF_TYPE, SCHEMA + "Article"),
                    (d, SCHEMA + "genre", p["genre"])],
            optional=[[(d, SCHEMA + "sameAs", var("m"))]], buckets=buckets)
    if shape == "path":
        return bgp_select(
            store, [(p["subj"], one_or_more(alt(SCHEMA + "keywords",
                                                RDF + "rest")), var("y"))],
            buckets=buckets)
    if shape == "agg":
        return bgp_aggregate(
            store, [(d, RDF_TYPE, SCHEMA + "Article"),
                    (d, SCHEMA + "genre", var("g")),
                    (d, SCHEMA + "inLanguage", p["lang"])],
            group_by=["g"], aggs={"n": F.count("*")}, buckets=buckets)
    if shape == "sparql":
        return sparql(store, PREFIXES + (
            'SELECT ?d WHERE { ?d rdf:type schema:Article ; '
            'schema:genre "%s" . FILTER NOT EXISTS { ?d schema:sameAs ?m } }'
            ' ORDER BY ?d LIMIT %d' % (p["genre"], p["limit"])),
            buckets=buckets)
    if shape == "describe":
        return sparql(store, PREFIXES + (
            'DESCRIBE ?d WHERE { ?d schema:genre "%s" }' % p["genre"]),
            buckets=buckets).select("subj", "pred", "obj")
    raise ValueError(shape)


def result_rows(df) -> list:
    return [tuple(r) for r in df.collect()]


# --- oracle side ------------------------------------------------------------

ORDERED = {"sparql"}


def oracle_sql(q: dict) -> str:
    """DuckDB SQL over ``t`` giving the expected result rows."""
    from perfbench.verify import reuse_entry_sql as reuse

    shape, p = q["shape"], q["params"]
    if shape == "lookup":
        return ("SELECT url, subj, pred, obj, obj_kind, lang, datatype "
                "FROM t WHERE subj = '%s'" % p["subj"])
    if shape == "join":
        return ("SELECT d, m FROM (%s) WHERE g = '%s'"
                % (reuse("kg_bgp"), p["genre"]))
    if shape == "path":
        preds = "('%skeywords', '%srest')" % (SCHEMA, RDF)
        return (
            "WITH RECURSIVE r(y) AS ("
            " SELECT obj FROM t WHERE subj = '%s' AND pred IN %s"
            " UNION SELECT t.obj FROM t JOIN r ON t.subj = r.y"
            " WHERE t.pred IN %s) SELECT y FROM r"
            % (p["subj"], preds, preds))
    if shape == "agg":
        return (
            "SELECT g, COUNT(*) AS n FROM (SELECT DISTINCT a.subj AS d, "
            "b.obj AS g FROM t a JOIN t b ON b.subj = a.subj AND "
            "b.pred = '{s}genre' JOIN t c ON c.subj = a.subj AND "
            "c.pred = '{s}inLanguage' AND c.obj = '{lang}' "
            "WHERE a.pred = '{rt}' AND a.obj = '{s}Article') GROUP BY g"
            .format(s=SCHEMA, rt=RDF_TYPE, lang=p["lang"]))
    if shape == "sparql":
        return (
            "SELECT DISTINCT a.subj AS d FROM t a JOIN t b ON "
            "b.subj = a.subj AND b.pred = '{s}genre' AND b.obj = '{g}' "
            "WHERE a.pred = '{rt}' AND a.obj = '{s}Article' AND NOT EXISTS "
            "(SELECT 1 FROM t m WHERE m.subj = a.subj AND "
            "m.pred = '{s}sameAs') ORDER BY d LIMIT {lim}"
            .format(s=SCHEMA, rt=RDF_TYPE, g=p["genre"], lim=p["limit"]))
    if shape == "describe":
        return reuse("kg_sparql_describe").replace(
            "obj = 'src0'", "obj = '%s'" % p["genre"])
    raise ValueError(shape)


def normalize(shape: str, rows) -> list:
    rows = [tuple(None if v is None else str(v) for v in r) for r in rows]
    return rows if shape in ORDERED else sorted(rows, key=repr)
