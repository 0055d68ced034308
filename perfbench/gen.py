"""Seeded input generator for the benchmark workloads.

Everything here runs in ONE process (the orchestrator) and writes
parquet; the program under test only ever reads the generated tables.

Base corpus.  A fixed-seed stand-in for the testdata ``documents``
table (doc_id, text, lang, source, n_chars): 5,000 rows, the same
schema, lang mix (en ~41%, four others ~15% each), ``source =
'src' || doc_id % 20`` and 10-100 words per text.  It is generated,
not read, so the benchmark needs nothing outside its checkout.  Words
come from a 3,000-word Zipf vocabulary, so two unrelated texts share
few tokens and near-duplicate clusters are the planted ones only.

Page HTML is ``corpus.pages_sql('duckdb')`` over a documents table,
so ``corpus.triples_oracle_sql()`` over the same table is the value
oracle for every page the benchmark generates.

The workload seed picks: the doc-id shift and the row order of every
page set; the boilerplate content and size of ``extract_large``;
which documents ``kg_store`` near-copies; and every query parameter
(see kg.py).  Tables are cached under ``_work/gen/<workload>-<seed>``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import common
from rdf_rdfa_spark import corpus

BASE_SEED = 20260101
BASE_DOCS = 5000
LANGS = ("en", "zh", "de", "fr", "es")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
# stride between doc-id blocks: a block is one copy of the base corpus
BLOCK = 10_000
GEN_VERSION = 4
# generated (workload, seed) sets kept on disk per workload
KEEP_CACHED = 4

# page-set sizes per workload: pages per timed pass, warm-up pages and
# the in-process layer sample; each set fits in one doc-id block
SIZES = {
    "extract_small": {"pass_pages": 5000, "warmup": 400, "sample": 4000},
    "extract_large": {"pass_pages": 200, "warmup": 24, "sample": 80},
}
KG_COPY_SHARE = 0.10
KG_MIN_COPY_WORDS = 70


def _vocabulary(rng: random.Random, n: int = 3000) -> list:
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(cons) + rng.choice(vows)
                    for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def base_documents() -> list:
    """The fixed base corpus: [(doc_index, text, lang, source)]."""
    rng = random.Random(BASE_SEED)
    vocab = _vocabulary(rng)
    weights = [1.0 / (r + 1) for r in range(len(vocab))]
    docs = []
    for i in range(BASE_DOCS):
        words = rng.choices(vocab, weights, k=rng.randint(10, 100))
        lang = rng.choices(LANGS, LANG_WEIGHTS)[0]
        docs.append((i, " ".join(words), lang, "src%d" % (i % 20)))
    return docs


def _docs_table(rows) -> pa.Table:
    """rows: [(doc_id, text, lang, source)] → documents table."""
    ids, texts, langs, sources = zip(*rows) if rows else ((), (), (), ())
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _pages(docs: pa.Table) -> pa.Table:
    """documents → pages(url, warc_ts, html, text, lang) via the
    corpus SQL (html as a string; the writer casts it to binary)."""
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        sql = corpus.pages_sql("duckdb").replace("encode(", "(", 1)
        return con.execute(sql).arrow()
    finally:
        con.close()


# --- boilerplate (extract_large) -----------------------------------------
# Navigation, inline script/style, comments and character references.
# No RDFa, microdata or RDF-script attribute/type appears anywhere, and
# no lang/xml:lang/base/xmlns that could change a literal or a resolved
# IRI, so the triple oracle is unchanged by construction.

_ENTITIES = ("&amp;", "&copy;", "&#169;", "&nbsp;", "&#x2014;", "&lt;",
             "&gt;", "&quot;", "&eacute;", "&#8217;")


def _boilerplate(rng: random.Random, words: list, page: int,
                 target: int) -> tuple:
    """→ (head_part, body_prefix, body_suffix) totalling ~target bytes."""
    def w(k):
        return " ".join(rng.choice(words) for _ in range(k))

    head = [
        "<style>/* theme %d */ .n%d{margin:%dpx} .c%d a:hover{color:#%06x}"
        " @media (max-width:%dpx){.m%d{display:none}}</style>"
        % (page, page, rng.randint(0, 40), page, rng.getrandbits(24),
           rng.randint(300, 900), page),
        "<script>var cfg_%d={id:%d,slot:'%s',ts:%d};"
        "function f%d(a,b){return a<b?a:b}</script>"
        % (page, page, w(1), rng.getrandbits(30), page),
    ]
    pre, post, size = [], [], 0
    k = 0
    while size < target:
        k += 1
        r = rng.random()
        if r < 0.45:
            items = "".join(
                '<li class="nav-item n%d-%d"><a href="/c/%s/%d-%d" '
                'title="%s" id="a%d-%d-%d">%s %s</a></li>'
                % (page, j, w(1), page, k * 100 + j, w(2), page, k, j,
                   w(2), rng.choice(_ENTITIES))
                for j in range(rng.randint(5, 12)))
            frag = ('<nav class="menu m%d"><div class="wrap"><ul>%s</ul>'
                    '</div></nav>' % (k, items))
        elif r < 0.65:
            frag = ('<div class="teaser t%d-%d"><h3><a href="/s/%d/%d">%s'
                    '</a></h3><p>%s %s %s.</p></div>'
                    % (page, k, page, k, w(4), w(18),
                       rng.choice(_ENTITIES), w(12)))
        elif r < 0.80:
            frag = ("<script>window.dl_%d_%d=[%s];(function(){var x=%d;"
                    "if(x<0&&x>-1){console.log('%s')}})();</script>"
                    % (page, k, ",".join(str(rng.getrandbits(16))
                                         for _ in range(12)),
                       rng.getrandbits(20), w(3)))
        elif r < 0.90:
            frag = ("<!-- block %d/%d %s -->" % (page, k, w(8)))
        else:
            frag = ('<footer class="f%d"><span class="copy">%s %d %s</span>'
                    '<a href="/legal/%d">%s</a></footer>'
                    % (k, rng.choice(_ENTITIES), 2000 + k % 26, w(5),
                       page, w(2)))
        (pre if rng.random() < 0.6 else post).append(frag)
        size += len(frag)
    return "".join(head), "".join(pre), "".join(post)


def _with_boilerplate(pages: pa.Table, rng: random.Random,
                      words: list) -> pa.Table:
    out = []
    urls = pages.column("url").to_pylist()
    for url, html in zip(urls, pages.column("html").to_pylist()):
        # the doc id keys the page's ids/classes/hrefs, so no two pages
        # of a run share a boilerplate start tag
        head, pre, post = _boilerplate(rng, words, int(url.rsplit("/", 1)[1]),
                                       rng.randint(49_000, 59_000))
        html = html.replace("</title></head><body>",
                            "</title>" + head + "</head><body>" + pre, 1)
        html = html.replace("</article></body>",
                            "</article>" + post + "</body>", 1)
        out.append(html)
    return pages.set_column(pages.schema.get_field_index("html"), "html",
                            pa.array(out, pa.string()))


# --- writing ---------------------------------------------------------------

def _write_pages(pages: pa.Table, path: str, files: int) -> int:
    """Write pages as ``files`` parquet files (html BINARY), so the
    scan splits into ``files`` tasks; returns the html byte total."""
    os.makedirs(path, exist_ok=True)
    encoded = [h.encode("utf-8") for h in pages.column("html").to_pylist()]
    html = pa.array(encoded, pa.binary())
    pages = pages.set_column(pages.schema.get_field_index("html"), "html",
                             html)
    n = pages.num_rows
    step = -(-n // files)
    for f in range(files):
        part = pages.slice(f * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, "part-%03d.parquet" % f),
                           row_group_size=1024)
    return sum(len(h) for h in encoded)


def _page_set(rows, rng, shift, label, root, files, boiler=None):
    """One page set: documents rows get ids ``shift + index`` in a
    seeded order; writes <root>/<label>/{documents.parquet,pages/}."""
    order = list(range(len(rows)))
    rng.shuffle(order)
    docs = _docs_table([(shift + rows[j][0], rows[j][1], rows[j][2],
                         rows[j][3]) for j in order])
    pages = _pages(docs)
    if boiler is not None:
        pages = _with_boilerplate(pages, rng, boiler)
    d = os.path.join(root, label)
    os.makedirs(d, exist_ok=True)
    pq.write_table(docs, os.path.join(d, "documents.parquet"))
    html_bytes = _write_pages(pages, os.path.join(d, "pages"), files)
    return {"label": label, "pages": pages.num_rows,
            "html_bytes": html_bytes}


def _extract_sets(workload, seed, root, nproc, passes, sample):
    """Warm-up, timed and (traced runs only) sample page sets.  Each set
    draws from its own seeded generator and owns one doc-id block, so
    a set's pages do not depend on which other sets were generated."""
    size = SIZES[workload]
    base = base_documents()
    shift = 1_000_000 + random.Random("%s/%d" % (workload, seed)).randrange(
        1000) * 1000 * BLOCK
    boiler = None
    if workload == "extract_large":
        boiler = _vocabulary(random.Random(seed), 600)
    labels = ["warmup"] + ["pass%d" % i for i in range(passes)]
    if sample:
        labels.append("sample")
    sets = []
    for label in labels:
        rng = random.Random("%s/%d/%s" % (workload, seed, label))
        n = size.get(label, size["pass_pages"])
        block = {"warmup": 0, "sample": 1}.get(label)
        if block is None:
            block = 2 + int(label[len("pass"):])
        rows = [(block * BLOCK + r[0], r[1], r[2], r[3])
                for r in rng.sample(base, n)]
        # the sample is one file (one task: the single-worker baseline);
        # every other set is split so each worker gets a share
        files = 1 if label == "sample" else 4 * nproc
        sets.append(_page_set(rows, rng, shift, label, root, files, boiler))
    return {"sets": sets}


def _kg_sets(seed, root, nproc):
    """The KG corpus: the base corpus at a seeded shift plus near-copies
    of a seeded ~10% of the long documents under new doc ids (new urls,
    identical body text), and a disjoint warm-up set."""
    rng = random.Random("kg_store/%d" % seed)
    base = base_documents()
    shift = 1_000_000 + rng.randrange(1000) * 4 * BLOCK
    long_docs = [r for r in base if len(r[1].split()) >= KG_MIN_COPY_WORDS]
    n_copies = int(KG_COPY_SHARE * len(base))
    sources = rng.sample(long_docs, min(n_copies, len(long_docs)))
    rows = list(base)
    copies = []
    for k, src in enumerate(sources):
        new = BLOCK + k
        rows.append((new, src[1], src[2], src[3]))
        copies.append((shift + src[0], shift + new))
    main = _page_set(rows, rng, shift, "store", root, 1)
    warm = _page_set(rng.sample(base, 200), rng, shift + 2 * BLOCK,
                     "warmup", root, 4 * nproc)
    with open(os.path.join(root, "copies.json"), "w") as fh:
        json.dump(copies, fh)
    return {"sets": [warm, main], "copies": len(copies)}


def generate(workload: str, seed: int, work: str, nproc: int,
             passes: int = 0, sample: bool = False) -> dict:
    """Generate (or reuse) the workload's tables: ``passes`` timed page
    sets and, if ``sample``, the layer sample (extract workloads).
    Returns the manifest with ``root`` and ``gen_s`` (0 when served
    from the cache)."""
    key = {"workload": workload, "seed": seed, "nproc": nproc,
           "passes": passes, "sample": sample, "version": GEN_VERSION}
    root = os.path.join(work, "gen", "%s-%d" % (workload, seed))
    marker = os.path.join(root, "manifest.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            man = json.load(fh)
        if man.get("key") == key:
            os.utime(root)  # most recently used, for common.prune
            man["gen_s"] = 0.0
            man["cached"] = True
            return man
    shutil.rmtree(root, ignore_errors=True)
    common.prune(os.path.dirname(root), workload + "-", KEEP_CACHED - 1)
    os.makedirs(root)
    t0 = time.perf_counter()
    if workload == "kg_store":
        man = _kg_sets(seed, root, nproc)
    else:
        man = _extract_sets(workload, seed, root, nproc, passes, sample)
    man.update({"key": key, "root": root,
                "gen_s": time.perf_counter() - t0, "cached": False})
    with open(marker, "w") as fh:
        json.dump(man, fh)
    return man
