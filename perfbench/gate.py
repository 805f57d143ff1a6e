"""Correctness gate, run outside the timed region on every job output.

Pure Python over Arrow tables, independent of the Spark plans it
checks. A document fails when it is missing or duplicated, when a
non-degraded page's ``extracted_text``/``clean_text`` differ from the
golden bytes, when a bill page's fields differ from ``golden_fields``,
or when its status is wrong (broken PDFs must be ``error`` records,
every other page ``success``).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa

from ocr_engine_spark.kernels.fields import FIELD_PATTERNS

FIELDS = list(FIELD_PATTERNS)
COLUMNS = ["url", "extracted_text", "clean_text", "status", *FIELDS]


@dataclass
class Verdict:
    rows: int = 0
    failed: int = 0
    errors: int = 0
    problems: list[str] = field(default_factory=list)


class Gate:
    def __init__(self, corpus) -> None:
        self.urls = set(corpus.table("pages")["url"].to_pylist())
        g = corpus.table("golden_extractions").to_pydict()
        self.golden = {u: (r, c) for u, r, c in
                       zip(g["url"], g["raw_text"], g["clean_text"])}
        f = corpus.table("golden_fields").to_pylist()
        self.fields = {r["url"]: [r[k] for k in FIELDS] for r in f}

    def check(self, out: pa.Table) -> Verdict:
        d = out.select(COLUMNS).to_pydict()
        v = Verdict(rows=out.num_rows)
        counts = Counter(d["url"])
        dups = sum(n - 1 for n in counts.values())
        missing = self.urls - counts.keys()
        extra = counts.keys() - self.urls
        bad: set[str] = set()
        for i, url in enumerate(d["url"]):
            v.errors += d["status"][i] != "success"
            if url in self.golden and (d["extracted_text"][i],
                                       d["clean_text"][i]) != self.golden[url]:
                bad.add(url)
            if url in self.fields and \
                    [d[k][i] for k in FIELDS] != self.fields[url]:
                bad.add(url)
        v.failed = len(bad - extra) + len(missing) + len(extra) + dups
        for what, n in (("wrong output", len(bad - extra)),
                        ("missing", len(missing)), ("unexpected", len(extra)),
                        ("duplicate", dups)):
            if n:
                v.problems.append(f"{n} {what} docs")
        return v
