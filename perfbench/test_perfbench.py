"""The benchmark's own checks, without Spark: ``python -m pytest perfbench -q``.

They pin that the output checks catch a perturbed output, that the
instrumented core pass is the reference pipeline, that tracing wrappers
come off cleanly, and that BENCHMARK.json names what run.py prints.
"""

import json
from pathlib import Path

import pytest

from logtemplatecrawler_spark.core.pipeline import dedup_rows, process_page
from logtemplatecrawler_spark.sources.fixtures import (
    generate_pages,
    generate_robots,
    generate_seeds,
)
from perfbench import corpus as CP
from perfbench import run as RUN
from perfbench import trace as TR

ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def dense_pages():
    return generate_pages(80, seed=5, methods=(8, 16), stmts=(3, 6))


@pytest.fixture(scope="module")
def reference_rows(dense_pages):
    return dedup_rows([r for p in dense_pages
                       for r in process_page(p["url"], p["text"], p["lang"])])


def test_core_pass_rows_are_process_page_rows(dense_pages):
    want = [r for p in dense_pages
            for r in process_page(p["url"], p["text"], p["lang"])]
    got = CP.core_pass(dense_pages)
    assert got["rows"] == want
    assert got["funnel"]["formalized"] == len(want)
    assert got["funnel"]["pages"] == len(dense_pages)
    assert (got["funnel"]["stmts"] >= got["funnel"]["prefiltered"]
            >= got["funnel"]["parsed"] >= got["funnel"]["formalized"])


def test_parallel_core_pass_matches_serial(dense_pages):
    serial = CP.core_pass(dense_pages)
    parallel = CP.core_pass_parallel(dense_pages, workers=2)
    assert parallel["funnel"] == serial["funnel"]
    assert CP.rows_digest(parallel["rows"]) == CP.rows_digest(serial["rows"])


def test_pipeline_check_passes_on_reordered_rows(reference_rows):
    want = CP.rows_digest(reference_rows)
    assert CP.compare(CP.rows_digest(list(reversed(reference_rows))), want) == []


def test_pipeline_check_fails_on_a_dropped_row(reference_rows):
    want = CP.rows_digest(reference_rows)
    assert CP.compare(CP.rows_digest(reference_rows[1:]), want)


def test_pipeline_check_fails_on_a_changed_field(reference_rows):
    want = CP.rows_digest(reference_rows)
    bad = [dict(r) for r in reference_rows]
    bad[3]["template"] += " "
    assert CP.compare(CP.rows_digest(bad), want)


@pytest.fixture(scope="module")
def crawl_ref():
    pages = generate_pages(120, seed=9)
    seeds = generate_seeds(pages, seed=9, fraction=0.75)
    robots = generate_robots(pages, seed=9)
    frontier, _, templates = CP.oracle_crawl(pages, seeds, robots,
                                             budget=2, max_rounds=3)
    return ({u: (v["state"], v["priority"]) for u, v in frontier.items()},
            [(r["url"], r["stmt_idx"], r["raw"], r["parsed_template"],
              r["template"], r["round"]) for r in templates])


def test_crawl_check_fails_on_a_dropped_template(crawl_ref):
    frontier, templates = crawl_ref
    want = CP.crawl_digest(frontier, templates)
    assert CP.compare(CP.crawl_digest(frontier, templates), want) == []
    assert CP.compare(CP.crawl_digest(frontier, templates[:-1]), want)


def test_crawl_check_fails_on_a_changed_state(crawl_ref):
    frontier, templates = crawl_ref
    want = CP.crawl_digest(frontier, templates)
    url = next(u for u, (state, _) in frontier.items() if state == "pending")
    bad = dict(frontier, **{url: ("done", frontier[url][1])})
    assert CP.compare(CP.crawl_digest(bad, templates), want)


def test_crawl_reference_counts(crawl_ref):
    pages = generate_pages(120, seed=9)
    ref = CP.crawl_reference(pages, generate_seeds(pages, seed=9, fraction=0.75),
                             generate_robots(pages, seed=9), budget=2,
                             rounds=3, workers=1)
    frontier, templates = crawl_ref
    assert ref["check"] == CP.crawl_digest(frontier, templates)
    assert ref["funnel"]["kept"] == len(templates)
    assert len(ref["fetched_urls"]) <= ref["popped"]


def test_tracer_wraps_and_restores():
    from logtemplatecrawler_spark.crawl import frontier, scheduler, seen

    originals = (scheduler.build_bloom, seen.build_bloom,
                 frontier.canonicalize_url_py)
    tracer = TR.Tracer("test")
    tracer.install()
    try:
        assert scheduler.build_bloom is not originals[0]
        assert scheduler.build_bloom is seen.build_bloom
        frontier.canonicalize_url_py("HTTP://Example.org/a")
    finally:
        tracer.uninstall()
    assert (scheduler.build_bloom, seen.build_bloom,
            frontier.canonicalize_url_py) == originals
    assert [s.name for s in tracer.spans] == ["frontier.canonicalize_url_py"]
    assert tracer.spans[0].end >= tracer.spans[0].start


def test_interval_union():
    assert TR.interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert TR.interval_union([]) == 0


def test_benchmark_json_names_what_run_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] \
        == RUN.E2E
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == RUN.LAYERS
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
