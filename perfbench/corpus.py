"""Seeded inputs, cached per (workload, seed, size), and their references.

Everything Spark-free lives here: corpus generation from the package's
fixture generators, the instrumented pure-Python ``core`` pass (per-function
timings and the exact row funnel), the crawl oracle, and the order-free
digests that output checks compare.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import threading
import time
from collections import defaultdict
from multiprocessing import get_context
from pathlib import Path
from typing import Dict, Iterable, List, Tuple

ROOT = Path(__file__).resolve().parents[1]
CACHE_DIR = ROOT / ".perfbench_cache"
# Bump when generation or reference semantics change: cached entries of an
# older version are never read.
CACHE_VERSION = 1
N_FILES = 16

FUNNEL_KEYS = ("pages", "detected", "stmts", "prefiltered", "parsed",
               "formalized", "kept")


# ---------------------------------------------------------------------------
# Digests (order-free): the output checks compare these
# ---------------------------------------------------------------------------

def _digest(items: Iterable) -> str:
    h = hashlib.sha256()
    for item in sorted(repr(i) for i in items):
        h.update(item.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def template_row(r) -> Tuple:
    """Canonical tuple of one template row (a dict or a Spark Row)."""
    args = r["arguments"]
    return (r["url"], r["file"], int(r["stmt_idx"]), r["framework"], r["raw"],
            r["parsed_template"], tuple(args) if args is not None else None,
            r["template"])


def rows_digest(rows) -> Dict:
    rows = [template_row(r) for r in rows]
    return {"rows": len(rows), "digest": _digest(rows)}


def crawl_digest(frontier: Dict[str, Tuple[str, int]],
                 templates: Iterable[Tuple]) -> Dict:
    """frontier: url -> (state, priority); templates: (url, stmt_idx, raw,
    parsed_template, template, round) tuples."""
    templates = list(templates)
    return {"frontier_rows": len(frontier),
            "frontier": _digest(frontier.items()),
            "templates_rows": len(templates),
            "templates": _digest(templates)}


def compare(got: Dict, want: Dict) -> List[str]:
    """Mismatching keys, as readable strings; empty means the check passed."""
    return [f"{k}: got {got.get(k)!r}, want {v!r}"
            for k, v in want.items() if got.get(k) != v]


# ---------------------------------------------------------------------------
# Instrumented core pass (the same steps as core.pipeline.process_page)
# ---------------------------------------------------------------------------

def core_pass(pages: List[Dict]) -> Dict:
    """Run the pure-Python pipeline page by page, timing each public core
    function and counting the rows that survive each step.

    The rows are exactly ``process_page``'s (pinned by the benchmark's
    tests); the dedup step is left to the caller.
    """
    from logtemplatecrawler_spark.core.detect import detect_page, page_framework
    from logtemplatecrawler_spark.core.extract import extract_statements
    from logtemplatecrawler_spark.core.filters import prefilter_keep, template_valid
    from logtemplatecrawler_spark.core.formalize import formalize_template
    from logtemplatecrawler_spark.core.parse import parse_statement
    from logtemplatecrawler_spark.core.pipeline import url_file

    clock = time.perf_counter
    t = defaultdict(float)
    n = dict.fromkeys(FUNNEL_KEYS, 0)
    rows: List[Dict] = []
    t_all = clock()
    for p in pages:
        url, text, lang = p["url"], p["text"], p["lang"]
        n["pages"] += 1
        t0 = clock()
        hit, _ = detect_page(text, lang)
        framework = page_framework(text, lang) if hit else None
        t["detect"] += clock() - t0
        if not hit:
            continue
        n["detected"] += 1
        t0 = clock()
        raws = extract_statements(text, lang, framework)
        t["extract"] += clock() - t0
        file_id = url_file(url)
        for stmt_idx, raw in enumerate(raws):
            n["stmts"] += 1
            if lang == "c":
                raw = raw.strip()
                if raw.startswith("#"):
                    continue
            t0 = clock()
            keep = prefilter_keep(raw)
            t["filters"] += clock() - t0
            if not keep:
                continue
            n["prefiltered"] += 1
            t0 = clock()
            parsed = parse_statement(raw, lang, framework)
            t["parse"] += clock() - t0
            if parsed is None:
                continue
            parsed_template, args = parsed
            t0 = clock()
            valid = template_valid(parsed_template)
            t["filters"] += clock() - t0
            if not valid:
                continue
            n["parsed"] += 1
            t0 = clock()
            template = formalize_template(parsed_template, args)
            t["formalize"] += clock() - t0
            if template is None or len(template) == 0 or len(parsed_template) == 0:
                continue
            n["formalized"] += 1
            rows.append({
                "url": url, "file": file_id, "stmt_idx": stmt_idx,
                "framework": framework, "raw": raw,
                "parsed_template": parsed_template, "arguments": args,
                "template": template,
            })
    t["total"] = clock() - t_all
    return {"rows": rows, "funnel": n, "seconds": dict(t)}


def core_timings(result: Dict) -> Dict[str, float]:
    """The ``core.*`` per-layer metrics of one in-process core pass."""
    n, s = result["funnel"], result["seconds"]
    per = lambda sec, cnt: 1e6 * sec / cnt if cnt else 0.0  # noqa: E731
    return {
        "core.detect_us_per_page": per(s.get("detect", 0.0), n["pages"]),
        "core.extract_us_per_page": per(s.get("extract", 0.0), n["pages"]),
        "core.parse_us_per_stmt": per(s.get("parse", 0.0), n["prefiltered"]),
        "core.formalize_us_per_stmt": per(s.get("formalize", 0.0), n["parsed"]),
        "core.pages_per_s_1t": n["pages"] / s["total"] if s.get("total") else 0.0,
    }


def core_pass_parallel(pages: List[Dict], workers: int) -> Dict:
    """The same rows and funnel as ``core_pass``, split over processes
    (reference building only: timings from here are not reported).

    The workers are forked: the benchmark builds references before it
    starts any thread or the JVM (a spawned pool would also start a
    resource-tracker process that outlives the pool), and it falls back to
    one process if a thread is running."""
    if workers <= 1 or len(pages) < 64 or threading.active_count() > 1:
        return core_pass(pages)
    step = (len(pages) + workers * 4 - 1) // (workers * 4)
    chunks = [pages[i:i + step] for i in range(0, len(pages), step)]
    with get_context("fork").Pool(workers) as pool:
        parts = pool.map(core_pass, chunks)
        pool.close()
        pool.join()
    rows = [r for part in parts for r in part["rows"]]
    funnel = {k: sum(p["funnel"][k] for p in parts) for k in FUNNEL_KEYS}
    return {"rows": rows, "funnel": funnel, "seconds": {}}


# ---------------------------------------------------------------------------
# Corpus generation and the on-disk cache
# ---------------------------------------------------------------------------

def read_pages(path: Path) -> List[Dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


class Corpus:
    """One cached input set: ``pages/`` (parquet) plus ``meta.json`` (seeds,
    robots, reference outputs and the counts the metrics divide by)."""

    def __init__(self, path: Path, pages: List[Dict], meta: Dict):
        self.path = path
        self.pages = pages
        self.meta = meta

    @property
    def pages_dir(self) -> str:
        return str(self.path / "pages")

    @property
    def warm_file(self) -> str:
        return str(self.path / "pages" / "part-00000.parquet")


def load_or_build(workload: str, seed: int, size: Dict, build_meta) -> Corpus:
    """Cached corpus for (workload, seed, size); ``size`` holds every knob
    the corpus and its reference depend on, ``size["gen"]`` the page-shape
    arguments of ``generate_pages``.  ``build_meta(pages)`` makes the
    reference outputs on a miss.  Generation is never timed."""
    from logtemplatecrawler_spark.sources.fixtures import write_pages_parquet

    knobs = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()
    key = f"{workload}-seed{seed}-n{size['pages']}-{knobs[:10]}-v{CACHE_VERSION}"
    path = CACHE_DIR / key
    meta_file = path / "meta.json"
    if meta_file.exists():
        with open(meta_file) as fh:
            meta = json.load(fh)
        return Corpus(path, read_pages(path / "pages"), meta)
    shutil.rmtree(path, ignore_errors=True)
    tmp = CACHE_DIR / f".tmp-{key}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    # several part files, so the scan is not capped at one task
    write_pages_parquet(str(tmp / "pages"), size["pages"], seed=seed,
                        n_files=N_FILES, **size.get("gen", {}))
    pages = read_pages(tmp / "pages")
    meta = build_meta(pages)
    with open(tmp / "meta.json", "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, path)
    return Corpus(path, pages, meta)


# ---------------------------------------------------------------------------
# Crawl oracle (the sequential simulator of tests/test_crawl.py)
# ---------------------------------------------------------------------------

def oracle_crawl(*args, **kwargs):
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    from tests.test_crawl import oracle_crawl as _oracle

    return _oracle(*args, **kwargs)


def crawl_reference(pages, seeds, robots, budget: int, rounds: int,
                    workers: int) -> Dict:
    """Oracle digests plus the counts the crawl metrics divide by."""
    from logtemplatecrawler_spark.crawl.frontier import canonicalize_url_py
    from logtemplatecrawler_spark.crawl.scheduler import OUTLINK_RE

    frontier, pop_order, templates = oracle_crawl(
        pages, seeds, robots, budget=budget, max_rounds=rounds)
    digest = crawl_digest(
        {u: (v["state"], v["priority"]) for u, v in frontier.items()},
        [(r["url"], r["stmt_idx"], r["raw"], r["parsed_template"],
          r["template"], r["round"]) for r in templates],
    )
    page_by_url = {canonicalize_url_py(p["url"]): p for p in pages}
    link_re = re.compile(OUTLINK_RE)
    fetched, candidates = [], 0
    by_round = defaultdict(list)
    for rnd, u in pop_order:
        if frontier[u]["state"] == "done":
            by_round[rnd].append(page_by_url[u])
    for rnd in sorted(by_round):
        fetched.extend(by_round[rnd])
        candidates += len({canonicalize_url_py(link) for p in by_round[rnd]
                           for link in link_re.findall(p["text"])})
    funnel = core_pass_parallel(fetched, workers)["funnel"]
    funnel["kept"] = len(templates)
    return {
        "check": digest,
        "popped": len(pop_order),
        "fetched_urls": sorted(p["url"] for p in fetched),
        "outlink_candidates": candidates,
        "funnel": funnel,
    }
