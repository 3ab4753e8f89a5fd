"""Output checker: every row the job commits against the golden text.

A document fails when its row is missing, duplicated or unexpected,
when it took the kernel's failure arm (``encoding='error'``), when its
text differs from the golden body text of its source doc (mapped back
through the url's copy/version suffix) or when the reported encoding is
not the one the page was built with.
"""

from __future__ import annotations

import pyarrow.parquet as pq

from .workloads import Workload, doc_of, expected_encoding


def check_output(path: str, wl: Workload) -> dict:
    cols = ["url", "text"] + (["encoding"] if "pages" in wl.paths else [])
    t = pq.read_table(path, columns=cols).to_pydict()
    encodings = t.get("encoding") or [None] * len(t["url"])
    seen: set[str] = set()
    bad = {"error_arm": 0, "duplicate": 0, "unexpected": 0,
           "text_mismatch": 0, "encoding_mismatch": 0}
    failed_rows = 0
    for url, text, enc in zip(t["url"], t["text"], encodings):
        d = doc_of(url) if url is not None else None
        why = None
        if url in seen:
            why = "duplicate"
        elif url not in wl.expected or d != wl.expected[url]:
            why = "unexpected"
        elif enc == "error":
            why = "error_arm"
        elif text != wl.golden[d]:
            why = "text_mismatch"
        elif enc is not None and enc != expected_encoding(d):
            why = "encoding_mismatch"
        seen.add(url)
        if why:
            bad[why] += 1
            failed_rows += 1
    bad["missing"] = sum(u not in seen for u in wl.expected)
    failed = failed_rows + bad["missing"]
    return {"rows_out": len(t["url"]), "rows_expected": len(wl.expected),
            "failed": failed, **bad}
