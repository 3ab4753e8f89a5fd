"""The flagship operator: WHATWG parse + text extraction over Arrow
batches of raw html bytes.

Equivalent reference surface: ``Parser::parse`` + body ``textContent``
(/root/reference/lib/Parser.php:49-142, README.md:138-147). The whole
bytes → sniff → tokenize → tree-construct → extract lifecycle is one
Python call per document (the stages are coupled by feedback loops —
SURVEY.md §3.4 — so they fuse into a single kernel), applied across an
Arrow batch under ``mapInPandas``.

Scale notes (100 TB / 10^12 docs):

- **Arrow batch sizing.** Cells are whole html documents (KBs-MBs), so
  the default 10k-rows-per-batch would make multi-GB batches. Callers
  must set ``spark.sql.execution.arrow.maxRecordsPerBatch`` to ~64-128
  (done in ``plans.pipeline.configure``).
- **Bounded memory.** Per-document work is O(doc size); ``max_html_bytes``
  hard-caps pathological documents (they are truncated at a cap and
  flagged, never parsed unbounded).
- **Counters, not lists.** Parse errors become per-doc counts plus
  per-partition counter rows; full error tuples never leave the executor
  (the reference gates error collection the same way for performance —
  /root/reference/lib/Parser/Data.php:56-57).
- **Lineage.** Every output row carries the executor partition id and a
  batch sequence number, so a resumed/retried run can be audited
  per-partition (north_rule: "per-partition lineage + metrics").
- **Frozen worker heap.** The parse kernels freeze the worker's
  long-lived heap and collect once per Arrow batch (:func:`gc_per_batch`),
  so each collection walks one batch's DOMs, not the whole worker.
- **Zip archives read once per worker.** PySpark's task setup calls
  ``importlib.invalidate_caches()`` before every task, and on Python
  3.11/3.12 each cached ``zipimporter`` then re-reads its archive's
  whole central directory (pyspark.zip, py4j, the spark-core jar, a
  ``--py-files`` zip): ~220 ms of CPU per task in a ``local[4]``
  worker on Python 3.11, empty tasks included. The kernel entry
  (:func:`gc_per_batch`) installs :func:`install_zip_stat_check`, so a
  reused worker re-reads only archives whose stat changed (~0.2 ms per
  task).
"""

from __future__ import annotations

import functools
import gc
import os
import zipimport
from collections.abc import Iterator

import pandas as pd

from ..engine import parse, extract_text, serialize
from ..engine.extractor import extract_body_text

EXTRACT_SCHEMA = (
    "url string, text string, "
    "spans array<struct<path:string,tag:string,start:long,end:long>>, "
    "encoding string, quirks_mode int, n_errors long, n_tokens long, "
    "n_elements long, html_bytes long, "
    "truncated boolean, part_id int, batch_seq long"
)

LINKS_COL_SCHEMA = ("links array<struct<href:string,target:string,"
                    "anchor:string>>")


def parse_extract_batch(pdf: pd.DataFrame, part_id: int, batch_seq: int,
                        max_html_bytes: int, max_spans: int,
                        with_spans: bool,
                        transport_col: str | None = None,
                        preprocess=None,
                        with_links: bool = False,
                        max_links: int = 10_000) -> pd.DataFrame:
    """Parse+extract one Arrow batch (pure pandas-in/pandas-out).
    ``transport_col`` names an optional per-row Content-Type charset
    column (the crawl's HTTP header) fed into the sniff ladder as the
    transport layer (Charset::fromTransport semantics).
    ``preprocess`` is an optional ``bytes -> bytes`` hook applied before
    the cap/parse (decompression of gzip-transfer-encoded crawl
    payloads — use ``bounded_zlib(max_html_bytes)``, NOT bare
    ``zlib.decompress``: the cap below runs after the hook, so an
    unbounded decompressor would let a deflate bomb blow the worker's
    memory before the cap sees it); unlike the parse itself — which
    never raises on any byte input — decompression of corrupt payloads
    genuinely can, and such rows take the failure arm
    (``encoding='error', n_errors=-1``) without failing the task."""
    out = {k: [] for k in ("url", "text", "spans", "encoding", "quirks_mode",
                           "n_errors", "n_tokens", "n_elements",
                           "html_bytes", "truncated")}
    if with_links:
        from urllib.parse import urljoin

        from .links import harvest_anchors
        out["links"] = []
    transports = (pdf[transport_col] if transport_col is not None
                  else [None] * len(pdf))
    for url, html, tc in zip(pdf["url"], pdf["html"], transports):
        raw = bytes(html) if html is not None else b""
        truncated = False
        try:
            if preprocess is not None:
                raw = preprocess(raw)
            if max_html_bytes and len(raw) > max_html_bytes:
                raw, truncated = raw[:max_html_bytes], True
            o = parse(raw, transport_charset=tc if tc else None)
            if with_spans:
                text, spans = extract_text(o.document, max_spans=max_spans)
            else:
                text, spans = extract_body_text(o.document), []
            enc, quirks, nerr = o.encoding, o.quirks_mode, len(o.errors)
            ntok, nel = o.n_tokens, o.n_elements
            if with_links:
                # links ride the SAME parse — one pass over the bytes
                # yields text AND the edge list (operators/links.py
                # documents the standalone variant)
                pairs = harvest_anchors(o.document, max_links=max_links)
        except Exception:  # never fail the task for one bad document
            text, spans, enc, quirks, nerr = "", [], "error", 0, -1
            ntok = nel = 0
            pairs = []
        out["url"].append(url)
        out["text"].append(text)
        out["spans"].append(
            [{"path": p, "tag": t, "start": s, "end": e}
             for (p, t, s, e) in spans] if with_spans else [])
        out["encoding"].append(enc)
        out["quirks_mode"].append(quirks)
        out["n_errors"].append(nerr)
        out["n_tokens"].append(ntok)
        out["n_elements"].append(nel)
        out["html_bytes"].append(len(raw))
        out["truncated"].append(truncated)
        if with_links:
            links = []
            for href, anchor in pairs:
                try:
                    target = urljoin(url, href)
                except Exception:
                    target = href
                links.append({"href": href, "target": target,
                              "anchor": anchor})
            out["links"].append(links)
    res = pd.DataFrame(out)
    res["part_id"] = part_id
    res["batch_seq"] = batch_seq
    return res


def install_zip_stat_check() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that have
    not changed since this importer last read them.

    On 3.11/3.12 the stock method re-reads the archive's whole central
    directory on every call. The wrapper stats the archive first and
    compares ``(st_mtime_ns, st_size, st_ino)`` with the key recorded
    on the importer at its last read. Only a changed archive, a failed
    stat or an importer without a key calls the original, and the new
    key is recorded after it. A rewritten archive is still picked up. On
    3.13 the stock method only drops a cache entry, and the wrapper
    just saves that. Idempotent: a second call leaves the first
    wrapper in place."""
    reread = zipimport.zipimporter.invalidate_caches
    if hasattr(reread, "stat_checked"):
        return

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except (OSError, ValueError):
            key = None
        if key is not None and key == getattr(self, "_stat_key", None):
            return
        reread(self)
        self._stat_key = key

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def gc_per_batch(batches: Iterator[pd.DataFrame]
                 ) -> Iterator[pd.DataFrame]:
    """Hand out a kernel's Arrow batches with the cyclic GC off and one
    collection after each batch is consumed. Every kernel enters here,
    so this is also where the worker's zip re-reads are cut
    (:func:`install_zip_stat_check`).

    The DOM has parent↔child cycles, so only the cyclic collector frees
    a batch's documents. A full collection walks the whole worker heap,
    though: pandas, pyarrow, pyspark and the engine's tables, ~22 ms at
    ~74k tracked objects in a ``local[4]`` worker. So the long-lived
    heap is collected once and frozen into the permanent generation,
    and each per-batch collection walks only that batch's garbage. The
    ``finally`` unfreezes and restores the enabled flag, so a reused
    worker is left as it was found after a full drain, an early
    ``close()`` (``limit()``) or an exception."""
    install_zip_stat_check()
    was_enabled = gc.isenabled()
    gc.disable()
    gc.collect()  # freeze no garbage
    gc.freeze()
    try:
        for pdf in batches:
            yield pdf
            del pdf
            gc.collect()
    finally:
        gc.unfreeze()
        if was_enabled:
            gc.enable()


def bounded_zlib(max_bytes: int):
    """``preprocess`` hook: zlib decompression with a hard output
    bound. A deflate bomb (KBs of input, GBs of output) yields at most
    ``max_bytes + 1`` bytes — the caller's ``max_html_bytes`` cap then
    truncates and flags the row — so one adversarial payload can never
    exhaust an executor. Corrupt input still raises (``zlib.error``)
    into the per-row failure arm. Pass the job's ``max_html_bytes`` as
    ``max_bytes``."""
    import zlib

    def hook(raw: bytes) -> bytes:
        d = zlib.decompressobj()
        return d.decompress(raw, max_bytes + 1)

    return hook


def extract_pages(pages_df, max_html_bytes: int = 64 * 1024 * 1024,
                  max_spans: int = 10_000, with_spans: bool = True,
                  transport_col: str | None = None,
                  preprocess=None, with_links: bool = False,
                  max_links: int = 10_000):
    """pages(url, html, ...) -> extraction output DataFrame.

    Column pruning: selects only (url, html) — plus the optional
    per-row transport-charset column — before the UDF so the scan
    never reads columns the kernel doesn't need.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:  # partition id for lineage; absent in bare-pandas tests
            from pyspark import TaskContext
            tc = TaskContext.get()
            part_id = tc.partitionId() if tc is not None else -1
        except Exception:
            part_id = -1
        for seq, pdf in enumerate(gc_per_batch(batches)):
            yield parse_extract_batch(pdf, part_id, seq, max_html_bytes,
                                      max_spans, with_spans, transport_col,
                                      preprocess, with_links, max_links)

    cols = ["url", "html"] + ([transport_col] if transport_col else [])
    schema = EXTRACT_SCHEMA + (", " + LINKS_COL_SCHEMA if with_links else "")
    return pages_df.select(*cols).mapInPandas(run, schema=schema)


def roundtrip_check(pages_df):
    """Serializer fixpoint invariant per document:
    ``serialize(parse(serialize(parse(html))))`` equals
    ``serialize(parse(html))`` (WHATWG serialization is a fixpoint after
    one parse→serialize normalization; reference surface
    /root/reference/lib/Parser/Serializer.php:70-81).
    Returns (url, idempotent boolean)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in gc_per_batch(batches):
            urls, ok = [], []
            for url, html in zip(pdf["url"], pdf["html"]):
                raw = bytes(html) if html is not None else b""
                try:
                    once = serialize(parse(raw).document)
                    twice = serialize(parse(once.encode("utf-8"),
                                            "utf-8").document)
                    ok.append(once == twice)
                except Exception:
                    ok.append(False)
                urls.append(url)
            yield pd.DataFrame({"url": urls, "idempotent": ok})

    return pages_df.select("url", "html").mapInPandas(
        run, schema="url string, idempotent boolean")


POSITIONS_SCHEMA = ("url string, tok_code string, tok_line long, "
                    "tok_col long, tree_code string, tree_line long, "
                    "tree_col long, n_positions long")


def extract_error_positions(pages_df):
    """Debug-mode error positions at scale: per document, the FIRST
    tokenizer-level and FIRST tree-construction-level parse error as
    (code, line, col) — the Spark surface of the engine's opt-in
    ``track_positions`` mode (reference gating parity: the error
    handler enables position bookkeeping, Data.php:56-57; tuple format
    ParseErrorEmitter.php:62-69). Sentinels ('', 0, 0) mean "no error
    at that level"; ``n_positions`` is the total tracked tuple count
    (== n_errors when no decode errors occurred).

    This is a diagnostics job you run on a SAMPLE of a crawl (error
    triage, corpus debugging), not the production extraction path —
    position bookkeeping costs ~10-15% parse throughput, which is why
    the production job never enables it.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "tok_code", "tok_line", "tok_col",
                "tree_code", "tree_line", "tree_col", "n_positions"]
        for pdf in gc_per_batch(batches):
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                raw = bytes(html) if html is not None else b""
                try:
                    o = parse(raw, track_positions=True)
                    pos = o.error_positions
                    ntk = o.n_tokenizer_errors
                    tok = pos[0] if ntk else ("", 0, 0)
                    tree = pos[ntk] if len(pos) > ntk else ("", 0, 0)
                    rows.append((url, tok[0], tok[1], tok[2],
                                 tree[0], tree[1], tree[2], len(pos)))
                except Exception:
                    rows.append((url, "error", -1, -1, "error", -1, -1, -1))
            yield pd.DataFrame(rows, columns=cols)

    return pages_df.select("url", "html").mapInPandas(
        run, schema=POSITIONS_SCHEMA)


MAIN_CONTENT_SCHEMA = ("url string, main_text string, n_dropped long, "
                       "main_chars long, body_chars long")


def extract_main_content(pages_df):
    """Boilerplate-stripped main-content extraction (north_rule: "HTML
    boilerplate strip, DOM heuristics"): parse, pick the content root
    (<main> > <article> > body — engine/extractor.py::
    select_content_root), drop BOILERPLATE_TAGS subtrees, and emit the
    remaining textContent plus audit counters (dropped-subtree count,
    main vs full-body char counts — the boilerplate ratio a curation
    pipeline filters on)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..engine.extractor import extract_main_text
        cols = ["url", "main_text", "n_dropped", "main_chars", "body_chars"]
        for pdf in gc_per_batch(batches):
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                raw = bytes(html) if html is not None else b""
                try:
                    o = parse(raw)
                    main, dropped = extract_main_text(o.document)
                    body = extract_body_text(o.document)
                    rows.append((url, main, dropped, len(main), len(body)))
                except Exception:
                    rows.append((url, "", -1, -1, -1))
            yield pd.DataFrame(rows, columns=cols)

    return pages_df.select("url", "html").mapInPandas(
        run, schema=MAIN_CONTENT_SCHEMA)


PDF_SCHEMA = "url string, text string, ok boolean, n_chars long"


def extract_pdf_pages(pdfs_df):
    """PDF text extraction at scale (north_rule "PDF/layout parse"):
    (url, pdf binary) -> (url, text, ok, n_chars) via the stdlib PDF
    parser (engine/pdf.py). Same isolation discipline as the HTML
    kernel: a malformed document yields ok=false, never a failed
    task. Column-pruned to (url, pdf) before the UDF."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..engine.pdf import extract_pdf_text
        cols = ["url", "text", "ok", "n_chars"]
        for pdf in gc_per_batch(batches):
            rows = []
            for url, raw in zip(pdf["url"], pdf["pdf"]):
                try:
                    text = extract_pdf_text(
                        bytes(raw) if raw is not None else b"")
                    rows.append((url, text, True, len(text)))
                except Exception:
                    rows.append((url, "", False, 0))
            yield pd.DataFrame(rows, columns=cols)

    return pdfs_df.select("url", "pdf").mapInPandas(run, schema=PDF_SCHEMA)


TABLES_SCHEMA = ("url string, table_idx long, row_idx long, col_idx long, "
                 "is_header boolean, cell_text string")


def extract_html_tables(pages_df):
    """Structured table extraction over the corpus: (url, html) →
    one row per table cell (url, table_idx, row_idx, col_idx,
    is_header, cell_text) — the web-table mining step (WDC-style) that
    turns crawled pages into relational training rows.

    Same kernel discipline as the flagship extractor: real WHATWG
    parse per document inside an Arrow batch (the cells only exist
    AFTER foster-parenting and implied-tag insertion run — a regex
    "table scraper" gets fostered text and unclosed rows wrong),
    column-pruned input, per-doc failure isolation. Output fans OUT
    (0..n cells per page), which mapInPandas expresses naturally —
    rows yield per batch, no explode of a materialized array column,
    so a million-cell page never builds a single giant array value."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..engine.extractor import extract_tables

        for pdf in gc_per_batch(batches):
            urls, ts, rs, cs, hs, txts = [], [], [], [], [], []
            for url, html in zip(pdf["url"], pdf["html"]):
                raw = bytes(html) if html is not None else b""
                try:
                    o = parse(raw)
                    cells = extract_tables(o.document)
                except Exception:
                    cells = []  # isolation: bad page, zero cells
                for t, r, c, h, txt in cells:
                    urls.append(url)
                    ts.append(t)
                    rs.append(r)
                    cs.append(c)
                    hs.append(h)
                    txts.append(txt)
            # dtypes pinned so an empty batch (no tables in any
            # page) doesn't surface float64 columns Arrow refuses
            # to cast to long/boolean
            yield pd.DataFrame({
                "url": pd.Series(urls, dtype=object),
                "table_idx": pd.Series(ts, dtype="int64"),
                "row_idx": pd.Series(rs, dtype="int64"),
                "col_idx": pd.Series(cs, dtype="int64"),
                "is_header": pd.Series(hs, dtype=bool),
                "cell_text": pd.Series(txts, dtype=object),
            })

    return pages_df.select("url", "html").mapInPandas(
        run, schema=TABLES_SCHEMA)
