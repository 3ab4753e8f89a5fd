"""Single-core engine throughput probe + cProfile breakdown.

Builds the 400-doc adversarial profile sample (every doc_id 0..399
through sources.pages.build_page — the same html the corpus bench
parses), then measures parse+extract wall on ONE core, interleaved
A/B-able, and optionally prints the cProfile top sites.

Each rep also times the Spark kernel's Python path over the same
sample without Spark: ``parse_extract_batch`` on 64-document pandas
batches under the kernel's ``gc_per_batch``. The engine pass leaves
garbage collection out of its timing and the kernel pass keeps it in,
so kernel minus engine is the kernel's cost outside the engine (the
benchmark's ``overhead_s``) on one core: per-row pandas work, output
frames and the per-batch collections.

Usage: python tools/profile_engine.py [n_docs] [reps] [--profile]
"""
from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from html_parser_spark.operators.extract import (  # noqa: E402
    gc_per_batch, parse_extract_batch)

BATCH = 64  # the job's spark.sql.execution.arrow.maxRecordsPerBatch


def sample(n_docs: int):
    from html_parser_spark.sources.pages import build_page
    rows = duckdb.sql(
        f"SELECT doc_id, text, lang, source FROM "
        f"'/root/testdata/sf0.1/documents.parquet' ORDER BY doc_id "
        f"LIMIT {n_docs}").fetchall()
    pages = [build_page(d, t, lg, s)[2] for d, t, lg, s in rows]
    return pages


def one_pass(pages) -> float:
    """Engine wall with the kernel's GC discipline but its per-batch
    collections left out of the timing, like the benchmark's
    ``engine.parse_s``."""
    from html_parser_spark.engine import parse
    from html_parser_spark.engine.extractor import extract_body_text
    wall = 0.0
    batches = (pages[i:i + BATCH] for i in range(0, len(pages), BATCH))
    for batch in gc_per_batch(batches):
        t0 = time.perf_counter()
        for raw in batch:
            o = parse(raw)
            extract_body_text(o.document)
        wall += time.perf_counter() - t0
    return wall


def kernel_pass(frames) -> float:
    t0 = time.perf_counter()
    for seq, pdf in enumerate(gc_per_batch(iter(frames))):
        parse_extract_batch(pdf, -1, seq, 64 * 1024 * 1024, 10_000,
                            with_spans=False)
    return time.perf_counter() - t0


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(args[0]) if args else 400
    reps = int(args[1]) if len(args) > 1 else 3
    pages = sample(n_docs)
    mb = sum(len(p) for p in pages) / 1e6
    urls = [f"https://profile/{i}" for i in range(len(pages))]
    frames = [pd.DataFrame({"url": urls[i:i + BATCH],
                            "html": pages[i:i + BATCH]})
              for i in range(0, len(pages), BATCH)]
    one_pass(pages[:40])  # warm imports/regex caches
    kernel_pass(frames[:1])
    walls, kwalls = [], []
    for _ in range(reps):  # interleaved, so both see the same minutes
        walls.append(one_pass(pages))
        kwalls.append(kernel_pass(frames))
    mids = {}
    for name, ws in (("engine", walls), ("kernel", kwalls)):
        best = min(ws)
        mid = mids[name] = sorted(ws)[len(ws) // 2]
        print(f"{name}: docs={n_docs} mb={mb:.2f} best={best:.3f}s "
              f"({mb/best:.2f} MB/s) mid={mid:.3f}s ({mb/mid:.2f} MB/s) "
              f"walls={[round(w,3) for w in ws]}")
    diff = mids["kernel"] - mids["engine"]
    print(f"kernel - engine: mid={diff:.3f}s "
          f"({diff / n_docs * 1e6:.0f} us/doc, {BATCH}-doc batches)")
    if "--profile" in sys.argv:
        import cProfile
        import pstats
        pr = cProfile.Profile()
        pr.enable()
        one_pass(pages)
        pr.disable()
        pstats.Stats(pr).sort_stats("tottime").print_stats(22)


if __name__ == "__main__":
    main()
