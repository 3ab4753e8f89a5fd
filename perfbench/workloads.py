"""Seeded inputs for the extraction benchmark.

Every workload is a pure function of ``(seed, scale)``. The benchmark
synthesises its own ``documents`` rows (same shape as the repository's
``documents.parquet``: ``doc_id, text, lang, source``), turns them into
pages with ``sources.pages.build_page`` and stages them to parquet
before anything is timed, so the measured program only ever sees the
generated input.

What the seed moves and what it holds fixed: it picks word order,
language, the sample of small pages and the recrawl change sets. It
does not move the amount of work. Word counts are a function of the
doc id, giants all carry the same word count, and every recrawl change
set is drawn per size stratum in fixed numbers, so two seeds stage the
same bytes to within about one percent. That keeps run-to-run
spread down to the machine's own noise.
"""

from __future__ import annotations

import math
import os
import random
import re
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from html_parser_spark.sources.pages import (REPORTED_ENCODING, build_page,
                                             rep_factor)

VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)

# sized so that a run of the benchmark, three JVM set-ups and warm-up
# jobs included, takes about a minute on a 4-CPU host
BASE_DOCS = 2000          # crawl_mix: 2/5 of an sf0.1-sized crawl
SMALL_PAGES_DOCS = 8000   # small_pages: rep_factor == 1 pages only
RECRAWL_COPIES = 2        # recrawl: crawl_mix corpus x 2 distinct urls
GONE, CHANGED, NEW = 0.03, 0.10, 0.02
GIANT_BYTES = 256 * 1024  # the rep_factor >= 2000 tail
ENGINE_SAMPLE_BYTES = 4 * 1024 * 1024
CHANGE_MARK = "<!-- recrawl v2 -->"

_URL_DOC = re.compile(r"/doc(\d{8})\.html(?:\?c=n?\d+)?$")
_HIST_EDGES = (1 << 10, 4 << 10, 16 << 10, 64 << 10, 256 << 10, 1 << 20)


def doc_of(url: str) -> int | None:
    """Source doc id of a page url, through its copy/version suffix."""
    m = _URL_DOC.search(url)
    return int(m.group(1)) if m else None


def expected_encoding(doc_id: int) -> str:
    return REPORTED_ENCODING[doc_id % 10]


def documents(seed: int, n: int) -> list[tuple[int, str, str, str]]:
    rng = random.Random(f"documents-{seed}")
    rows = []
    for d in range(n):
        k = 55 if rep_factor(d) >= 2000 else 10 + (d * 37) % 91
        words = [VOCAB[(d + i) % len(VOCAB)] for i in range(k)]
        rng.shuffle(words)
        lang = rng.choices(LANGS, LANG_WEIGHTS)[0]
        rows.append((d, " ".join(words), lang, f"src{d % 20}"))
    return rows


def _stratum(doc_id: int) -> tuple[int, bool]:
    """Docs in one stratum stage the same number of bytes (UTF-16
    variants take two bytes per character)."""
    return rep_factor(doc_id), doc_id % 10 in (3, 7)


def _stratified(rng: random.Random, items: list, key, frac: float) -> list:
    """``round(frac * len)`` items of every stratum: the seed picks
    which, never how many."""
    groups: dict = {}
    for it in items:
        groups.setdefault(key(it), []).append(it)
    picked = []
    for k in sorted(groups):
        g = groups[k]
        rng.shuffle(g)
        picked += g[:round(frac * len(g))]
    return picked


@dataclass
class Workload:
    name: str
    # staged parquet paths: "pages" for extraction workloads;
    # "old", "new", "old_extracted" for recrawl
    paths: dict
    # url -> doc id of every row the job must output
    expected: dict
    # doc id -> golden body text
    golden: dict
    docs: int
    bytes: int
    # html and doc ids of the documents the kernel parses, for the
    # single-core engine pass
    parsed_html: list = field(repr=False, default_factory=list)
    parsed_ids: list = field(repr=False, default_factory=list)
    info: dict = field(default_factory=dict)
    # the input snapshot as (url, doc id) rows, and doc id -> build_page
    # row, from which a recrawl of it is staged
    rows: list = field(repr=False, default_factory=list)
    pages: dict = field(repr=False, default_factory=dict)


def _stage(path: str, columns: dict, files: int) -> None:
    """Write rows round-robin over ``files`` parquet files so each scan
    split carries a similar byte weight."""
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(columns.values())))
    for f in range(files):
        part = {k: v[f::files] for k, v in columns.items()}
        if n > f:
            pq.write_table(pa.table(part), f"{path}/part-{f:05d}.parquet",
                           row_group_size=64)


def histogram(sizes: list[int]) -> dict:
    labels = ["<1KiB", "1-4KiB", "4-16KiB", "16-64KiB", "64-256KiB",
              "256KiB-1MiB", ">=1MiB"]
    counts = [0] * len(labels)
    for s in sizes:
        i = 0
        while i < len(_HIST_EDGES) and s >= _HIST_EDGES[i]:
            i += 1
        counts[i] += 1
    return {
        "docs": len(sizes),
        "bytes": sum(sizes),
        "max_bytes": max(sizes, default=0),
        "giants": sum(s >= GIANT_BYTES for s in sizes),
        "size_histogram": dict(zip(labels, counts)),
    }


def engine_sample(seed: int, html: list[bytes], doc_ids: list[int]) -> dict:
    """Stratified seeded sample of about ``ENGINE_SAMPLE_BYTES`` for the
    single-core engine pass, with one representative at least of every
    stratum. Each sampled document carries the weight of its stratum,
    docs in the workload ÷ docs in the sample, so weighted sums over the
    sample estimate sums over the whole workload; per-byte cost differs
    several-fold between small pages and giants. The sample's size is
    recorded with the results."""
    total = sum(map(len, html))
    frac = min(1.0, ENGINE_SAMPLE_BYTES / max(total, 1))
    rng = random.Random(f"engine-{seed}")
    idx = _stratified(rng, list(range(len(html))),
                      lambda i: _stratum(doc_ids[i]), frac)
    seen = {_stratum(doc_ids[i]) for i in idx}
    for i in range(len(html)):
        if _stratum(doc_ids[i]) not in seen:
            seen.add(_stratum(doc_ids[i]))
            idx.append(i)
    idx.sort()
    of = Counter(map(_stratum, doc_ids))
    picked = Counter(_stratum(doc_ids[i]) for i in idx)
    docs = [html[i] for i in idx]
    return {"html": docs,
            "weights": [of[_stratum(doc_ids[i])] / picked[_stratum(doc_ids[i])]
                        for i in idx],
            "docs": len(docs), "bytes": sum(map(len, docs)),
            "of_docs": len(html), "of_bytes": total}


def _pages(seed: int, n: int) -> dict[int, tuple]:
    return {d: build_page(d, t, lang, src)
            for d, t, lang, src in documents(seed, n)}


def crawl_mix(seed: int, scale: float, root: str, files: int) -> Workload:
    pages = _pages(seed, max(1, round(BASE_DOCS * scale)))
    rows = [(pages[d][0], d) for d in pages]
    return _extract_workload("crawl_mix", rows, pages, root, files)


def small_pages(seed: int, scale: float, root: str, files: int) -> Workload:
    pages = _pages(seed, BASE_DOCS)
    pool = [d for d in pages if rep_factor(d) == 1]
    n = max(1, round(SMALL_PAGES_DOCS * scale))
    picks = pool * math.ceil(n / len(pool))
    random.Random(f"small_pages-{seed}").shuffle(picks)
    rows = [(f"{pages[d][0]}?c={i}", d) for i, d in enumerate(picks[:n])]
    return _extract_workload("small_pages", rows, pages, root, files)


def _extract_workload(name, rows, pages, root, files) -> Workload:
    path = f"{root}/{name}"
    _stage(path, {"url": [u for u, _ in rows],
                  "warc_ts": [pages[d][1] for _, d in rows],
                  "html": [pages[d][2] for _, d in rows],
                  "text": [pages[d][3] for _, d in rows],
                  "lang": [pages[d][4] for _, d in rows]}, files)
    sizes = [len(pages[d][2]) for _, d in rows]
    return Workload(name, {"pages": path}, dict(rows),
                    {d: pages[d][3] for _, d in rows},
                    docs=len(rows), bytes=sum(sizes),
                    parsed_html=[pages[d][2] for _, d in rows],
                    parsed_ids=[d for _, d in rows],
                    info={"input": histogram(sizes)}, rows=rows, pages=pages)


def stage_new_snapshot(seed: int, wl: Workload, path: str, files: int
                       ) -> dict:
    """Stage ``(url, html)`` of a recrawl of ``wl.rows``: GONE of the
    urls drop out, CHANGED gain a trailing comment (the golden text
    still holds) and NEW urls appear, each drawn per stratum. Returns
    the new snapshot's rows and which of them the kernel must parse."""
    rng = random.Random(f"recrawl-{seed}")
    key = lambda item: _stratum(item[1])  # noqa: E731
    gone = set(_stratified(rng, wl.rows, key, GONE))
    live = [it for it in wl.rows if it not in gone]
    changed = set(_stratified(rng, live, key, CHANGED / (1 - GONE)))
    added = [(f"{wl.pages[d][0]}?c=n{j}", d)
             for j, (_, d) in enumerate(_stratified(rng, wl.rows, key, NEW))]
    new = live + added
    html = [wl.pages[d][2] + CHANGE_MARK.encode(expected_encoding(d))
            if (u, d) in changed else wl.pages[d][2] for u, d in new]
    _stage(path, {"url": [u for u, _ in new], "html": html}, files)
    reparse = changed | set(added)
    return {"rows": new, "html": html,
            "reparse": [i for i, it in enumerate(new) if it in reparse],
            "info": {"input": histogram([len(h) for h in html]),
                     "gone": len(gone), "changed": len(changed),
                     "new": len(added)}}


def recrawl(seed: int, scale: float, root: str, files: int) -> Workload:
    pages = _pages(seed, max(1, round(BASE_DOCS * scale)))
    rows = [(f"{pages[d][0]}?c={c}", d)
            for c in range(RECRAWL_COPIES) for d in pages]
    paths = {k: f"{root}/recrawl/{k}" for k in ("old", "new", "old_extracted")}
    _stage(paths["old"], {"url": [u for u, _ in rows],
                          "html": [pages[d][2] for _, d in rows]}, files)
    # the committed extraction of the old snapshot, as a correct earlier
    # run of the job leaves it: (url, text) with the golden text
    _stage(paths["old_extracted"], {"url": [u for u, _ in rows],
                                    "text": [pages[d][3] for _, d in rows]},
           files)
    wl = Workload("recrawl", paths, {}, {d: pages[d][3] for d in pages},
                  docs=0, bytes=0, rows=rows, pages=pages)
    snap = stage_new_snapshot(seed, wl, paths["new"], files)
    wl.expected = dict(snap["rows"])
    wl.docs, wl.bytes = len(snap["rows"]), sum(map(len, snap["html"]))
    wl.parsed_html = [snap["html"][i] for i in snap["reparse"]]
    wl.parsed_ids = [snap["rows"][i][1] for i in snap["reparse"]]
    wl.info = {**snap["info"], "old_snapshot":
               histogram([len(pages[d][2]) for _, d in rows])}
    return wl


BUILDERS = {"crawl_mix": crawl_mix, "small_pages": small_pages,
            "recrawl": recrawl}
