"""Seeded benchmark corpora, generated once per (workload, seed).

Every corpus comes from ``ocr_engine_spark.fixtures.gen_pages`` and is
written under ``perfbench/work/corpora``, never under the shared
``fixtures_data/``. Generation is not timed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ocr_engine_spark.fixtures import gen_pages

# bump when the corpus recipe changes, so cached corpora are rebuilt
VERSION = 2
# enough for ten seeds of every workload: a repeated seed is not regenerated
KEEP_CORPORA = 40
TAIL_PARA_SCALE = 48     # ~31 KB pages
TABLES = ("pages", "golden_extractions", "golden_fields", "degradations")


@dataclass(frozen=True)
class Spec:
    """``n_pages`` base pages at ``para_scale`` (gen_pages adds 15%
    degraded variants on top), plus an optional tail of heavy pages."""
    n_pages: int
    para_scale: int = 1
    tail_pages: int = 0


SPECS = {
    # ~31 KB pages, the weight of Common-Crawl pages
    "heavy": Spec(n_pages=400, para_scale=48),
    # light pages plus a small heavy tail, some of it degraded
    "mixed": Spec(n_pages=1200, tail_pages=14),
}


@dataclass
class Corpus:
    name: str
    dir: str
    info: dict

    def path(self, table: str) -> str:
        return os.path.join(self.dir, f"{table}.parquet")

    def table(self, table: str) -> pa.Table:
        return pq.read_table(self.path(table))


def _rehost(tables: dict[str, pa.Table], prefix: str) -> dict[str, pa.Table]:
    """Give every url of a second generated corpus its own host prefix,
    so it can be concatenated with the first without url collisions."""
    out = {}
    for name, t in tables.items():
        for col in ("url", "source_url"):
            if col in t.column_names:
                fixed = pc.replace_substring(t[col], "https://",
                                             f"https://{prefix}.")
                t = t.set_column(t.column_names.index(col), col, fixed)
        out[name] = t
    return out


def _build(spec: Spec, seed: int) -> tuple[dict[str, pa.Table], dict]:
    tables = gen_pages.generate(spec.n_pages, seed, spec.para_scale)
    n_tail = 0
    if spec.tail_pages:
        tail = _rehost(gen_pages.generate(spec.tail_pages, seed + 1_000_003,
                                          TAIL_PARA_SCALE), "tail")
        n_tail = tail["pages"].num_rows
        tables = {k: pa.concat_tables([tables[k], tail[k]]) for k in tables}
    # seeded shuffle: heavy and degraded rows spread over splits
    order = list(range(tables["pages"].num_rows))
    random.Random(seed).shuffle(order)
    tables["pages"] = tables["pages"].take(pa.array(order))

    sizes = pc.binary_length(tables["pages"]["html"])
    urls = tables["pages"]["url"].to_pylist()
    info = {
        "seed": seed,
        "docs": tables["pages"].num_rows,
        "payload_bytes": pc.sum(sizes).as_py(),
        "mix": {
            "pdf": sum(u.endswith(".pdf") for u in urls),
            "bill": tables["golden_fields"].num_rows,
            "degraded": tables["degradations"].num_rows,
            "heavy_tail": n_tail,
        },
    }
    info["mix"]["html"] = info["docs"] - info["mix"]["pdf"]
    return tables, info


def ensure(work_dir: str, name: str, seed: int) -> Corpus:
    """Generate (or reuse) the corpus ``name`` for ``seed``."""
    root = os.path.join(work_dir, "corpora")
    d = os.path.join(root, f"{name}-v{VERSION}-seed{seed}")
    meta = os.path.join(d, "corpus.json")
    if not os.path.exists(meta):
        tables, info = _build(SPECS[name], seed)
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for t in TABLES:
            # 512-row groups, like gen_pages.write: the scan can split
            pq.write_table(tables[t], os.path.join(tmp, f"{t}.parquet"),
                           row_group_size=512)
        with open(os.path.join(tmp, "corpus.json"), "w") as fh:
            json.dump(info, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        _prune(root, keep=d)
    os.utime(d)
    with open(meta) as fh:
        return Corpus(name, d, json.load(fh))


def _prune(root: str, keep: str) -> None:
    dirs = sorted((os.path.join(root, e) for e in os.listdir(root)
                   if not e.startswith(".") and ".tmp" not in e),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_CORPORA:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
