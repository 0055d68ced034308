"""In-process layer pass (no Spark): one fresh process per pass, so
every pass starts from the same cache state.

    python3 perfbench/layers.py <warmup_pages_dir> <sample_pages_dir> <stage>

``stage`` is the deepest call timed, each including the ones before:
decode (decode_html), parse_html, parse_rdfa, rows (rows_for_document).
The process warms up on the warm-up pages with the full chain, then
times ``stage`` over the sample once and prints one JSON line.
Self-times per layer are differences between stages.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

from rdf_rdfa_spark.pipeline.extract import rows_for_document  # noqa: E402
from rdf_rdfa_spark.rdfa.dom import Element, decode_html, parse_html  # noqa: E402
from rdf_rdfa_spark.rdfa.walk import parse_rdfa  # noqa: E402

STAGES = ("decode", "parse_html", "parse_rdfa", "rows")


def _pages(path: str) -> list:
    t = pq.read_table(path, columns=["url", "html"])
    return list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))


def _call(stage: str, url: str, raw: bytes):
    if stage == "decode":
        return decode_html(raw)
    if stage == "parse_html":
        return parse_html(decode_html(raw))
    if stage == "parse_rdfa":
        return parse_rdfa(raw, url=url)
    return rows_for_document(raw, url)


def _elements(root) -> int:
    n, stack = 0, [root]
    while stack:
        node = stack.pop()
        if isinstance(node, Element):
            n += 1
            stack.extend(node.children)
    return n


def main(argv) -> int:
    warmup, sample, stage = argv[1], argv[2], argv[3]
    for url, raw in _pages(warmup):
        rows_for_document(raw, url)
    pages = _pages(sample)
    t0 = time.perf_counter()
    for url, raw in pages:
        _call(stage, url, raw)
    dt = time.perf_counter() - t0
    out = {"stage": stage, "pages": len(pages), "s": dt,
           "html_bytes": sum(len(raw) for _u, raw in pages)}
    if stage == "parse_html":
        out["elements"] = sum(_elements(parse_html(decode_html(raw))[0])
                              for _u, raw in pages)
    if stage == "parse_rdfa":
        out["triples"] = sum(len(parse_rdfa(raw, url=url)[0])
                             for url, raw in pages)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
