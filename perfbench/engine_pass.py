"""Single-core pass of the engine's public functions, layer by layer.

Each document goes through the layers one call at a time, each call
inside its own span: ``charset.sniff``, ``charset.decode_count``, a
drain of ``Tokenizer(text).tokenize()``, ``TreeBuilder(Tokenizer(text))
.run()`` and ``extract_body_text``. A second span times the one-call
``parse`` plus ``extract_body_text`` the job's kernel runs, which is the
engine's single-core baseline. The tree builder pulls its tokens from
the tokenizer, so its self time is its span total minus the tokenizer's.
GC follows the kernel's discipline: off during a batch, one collection
per 64 documents (the job's Arrow batch size).
"""

from __future__ import annotations

import gc

from html_parser_spark.engine import charset, parse
from html_parser_spark.engine.extractor import extract_body_text
from html_parser_spark.engine.tokenizer import Tokenizer
from html_parser_spark.engine.treebuilder import TreeBuilder

from .spans import Tracer

BATCH = 64


def run(html: list[bytes], weights: list[float], tracer: Tracer) -> dict:
    """Times and counts are sums over the documents, each counted
    ``weights[i]`` times: over a weighted sample they estimate the
    workload the sample was drawn from."""
    t = dict.fromkeys(("engine.charset.sniff", "engine.charset.decode",
                       "engine.tokenizer.tokenize", "engine.treebuilder.run",
                       "engine.extractor.extract", "engine.parse"), 0.0)
    tokens = elements = errors = 0.0
    was_enabled = gc.isenabled()
    gc.disable()
    try:
        with tracer.span("engine", docs=len(html)):
            for i, (raw, w) in enumerate(zip(html, weights)):
                with tracer.span("engine.doc", bytes=len(raw), weight=w):
                    with tracer.span("engine.charset.sniff") as sniff:
                        enc, _certain = charset.sniff(raw)
                    with tracer.span("engine.charset.decode") as decode:
                        text, _ = charset.decode_count(raw, enc)
                    with tracer.span("engine.tokenizer.tokenize") as tokenize:
                        n = sum(1 for _ in Tokenizer(text).tokenize())
                        tokenize["tokens"] = n
                    with tracer.span("engine.treebuilder.run") as tree:
                        tok = Tokenizer(text)
                        tb = TreeBuilder(tok)
                        doc = tb.run()
                    with tracer.span("engine.extractor.extract") as extract:
                        extract_body_text(doc)
                    with tracer.span("engine.parse") as whole:
                        extract_body_text(parse(raw).document)
                for sp in (sniff, decode, tokenize, tree, extract, whole):
                    t[sp["name"]] += w * (sp["end"] - sp["start"])
                tokens += w * n
                elements += w * tb.n_elements
                errors += w * (len(tok.errors) + len(tb.errors))
                del doc, tb, tok
                if i % BATCH == BATCH - 1:
                    gc.collect()
            gc.collect()
    finally:
        if was_enabled:
            gc.enable()

    docs = sum(weights)
    mb = sum(w * len(raw) for raw, w in zip(html, weights)) / 1e6
    parse_s = t["engine.parse"]
    tokenize_s = t["engine.tokenizer.tokenize"]
    return {
        "engine.charset.sniff_s": t["engine.charset.sniff"],
        "engine.charset.decode_s": t["engine.charset.decode"],
        "engine.tokenizer.tokenize_s": tokenize_s,
        "engine.tokenizer.tokens": round(tokens),
        "engine.treebuilder.self_s": t["engine.treebuilder.run"] - tokenize_s,
        "engine.treebuilder.elements": round(elements),
        "engine.treebuilder.parse_errors": round(errors),
        "engine.extractor.extract_s": t["engine.extractor.extract"],
        "engine.parse_s": parse_s,
        "engine.mb_per_s": mb / parse_s,
        "engine.docs_per_s": docs / parse_s,
    }
