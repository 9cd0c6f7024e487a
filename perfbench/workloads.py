"""The benchmark's workloads: one closed-loop client, one Spark session.

Each workload defines its corpus, how to load it, the warm-up operation
that ends set-up, the timed operation, the output check and the per-layer
metrics of a traced operation.  ``run.py`` drives the common part.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from typing import Dict, List

from perfbench import corpus as CP
from perfbench import trace as TR

N_SETUPS = 3


def cores() -> int:
    return len(os.sched_getaffinity(0))


def rebind_udfs() -> None:
    """Drop the JVM handles that module-level UDFs cache on first use.

    A UDF object keeps the JVM function it built in the first session,
    including that session's Python accumulator; after a session restart
    the stale handle still computes, but profiler and accumulator updates
    go to the stopped session.  A fresh process starts without handles;
    this gives a restarted session the same state."""
    import sys

    for name, mod in list(sys.modules.items()):
        if not name.startswith("logtemplatecrawler_spark"):
            continue
        for obj in list(vars(mod).values()):
            udf = getattr(obj, "_unwrapped", None)
            if udf is not None and hasattr(udf, "_judf_placeholder"):
                udf._judf_placeholder = None


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

class PipelineDense:
    """plans.template_pipeline.extract_templates(pages, dedup=True) over
    dense fixture pages, written to the noop sink."""

    name = "pipeline_dense"
    check_first = True   # the check's full-corpus pass warms the timed ones
    size = {"pages": 4000, "gen": {"methods": (8, 16), "stmts": (3, 6)}}

    def __init__(self, seed: int, workers: int):
        def build_meta(pages):
            from logtemplatecrawler_spark.core.pipeline import dedup_rows

            ref = CP.core_pass_parallel(pages, workers)
            funnel = ref["funnel"]
            kept = dedup_rows(ref["rows"])
            funnel["kept"] = len(kept)
            return {"check": CP.rows_digest(kept), "funnel": funnel}

        self.corpus = CP.load_or_build(self.name, seed, self.size, build_meta)

    def load(self, spark) -> Dict:
        return {"pages": spark.read.parquet(self.corpus.pages_dir),
                "warm": spark.read.parquet(self.corpus.warm_file)}

    def warm_up(self, spark, inputs) -> None:
        from logtemplatecrawler_spark.plans import template_pipeline as TP

        noop_write(TP.extract_templates(inputs["warm"], dedup=True))

    def prepare(self, spark, inputs, workdir) -> None:
        pass

    def operate(self, spark, inputs, workdir, tag: str) -> Dict:
        from logtemplatecrawler_spark.plans import template_pipeline as TP

        t0 = time.perf_counter()
        noop_write(TP.extract_templates(inputs["pages"], dedup=True))
        return {"wall_s": time.perf_counter() - t0}

    def check(self, spark, inputs, op: Dict) -> List[str]:
        from logtemplatecrawler_spark.plans import template_pipeline as TP

        rows = TP.extract_templates(inputs["pages"], dedup=True).collect()
        return CP.compare(CP.rows_digest(rows), self.corpus.meta["check"])

    def e2e(self, ops: List[Dict]) -> Dict[str, float]:
        wall = statistics.median(o["wall_s"] for o in ops)
        f = self.corpus.meta["funnel"]
        return {
            "wall_s": wall,
            "pages_per_s": f["pages"] / wall,
            "stmts_per_s": f["stmts"] / wall,
            "round_p50_s": wall,
            "urls_per_s": f["pages"] / wall,
        }

    def core_pages(self) -> List[Dict]:
        return self.corpus.pages

    def kept(self, rows: List[Dict]) -> int:
        from logtemplatecrawler_spark.core.pipeline import dedup_rows

        return len(dedup_rows(rows))

    def layers(self, tracer, jobs, ops: List[Dict]) -> Dict[str, float]:
        return pipeline_layers(jobs, len(ops))


class Crawl:
    """crawl.scheduler.run_crawl on a fresh checkpoint for a fixed number of
    rounds, then a second run_crawl call that resumes for one more round."""

    name = "crawl"
    check_first = False
    # everything the corpus and the oracle reference depend on
    size = {"pages": 6000, "seeded": 0.75, "budget": 2, "rounds": 2}
    budget = size["budget"]
    rounds = size["rounds"]
    compact_every = 2

    def __init__(self, seed: int, workers: int):
        from logtemplatecrawler_spark.sources.fixtures import (
            generate_robots,
            generate_seeds,
        )

        def build_meta(pages):
            seeds = generate_seeds(pages, seed=seed, fraction=self.size["seeded"])
            robots = generate_robots(pages, seed=seed)
            ref = CP.crawl_reference(pages, seeds, robots, self.budget,
                                     self.rounds + 1, workers)
            return {"seeds": seeds, "robots": robots, **ref}

        self.corpus = CP.load_or_build(self.name, seed, self.size, build_meta)

    def config(self, ckpt: str, rounds: int, **kw):
        from logtemplatecrawler_spark.crawl.scheduler import CrawlConfig

        return CrawlConfig(checkpoint_dir=ckpt, host_budget=self.budget,
                           max_rounds=rounds, compact_every=self.compact_every,
                           **kw)

    def load(self, spark) -> Dict:
        from logtemplatecrawler_spark.sources.fixtures import ROBOTS_DDL, SEEDS_DDL

        meta = self.corpus.meta
        warm_pages = spark.read.parquet(self.corpus.warm_file)
        warm_urls = spark.createDataFrame(
            [(r["url"], 0) for r in CP.read_pages(self.corpus.warm_file)],
            SEEDS_DDL)
        return {
            "pages": spark.read.parquet(self.corpus.pages_dir),
            "seeds": spark.createDataFrame(meta["seeds"], SEEDS_DDL),
            "robots": spark.createDataFrame(meta["robots"], ROBOTS_DDL),
            "warm_pages": warm_pages,
            "warm_seeds": warm_urls,
        }

    def warm_up(self, spark, inputs) -> None:
        from logtemplatecrawler_spark.plans import template_pipeline as TP

        noop_write(TP.extract_templates(inputs["warm_pages"], dedup=True))

    def prepare(self, spark, inputs, workdir) -> None:
        """Untimed: a one-round crawl over the first part file, with the
        bloom forced on, so the timed crawl does not pay the first-use
        (code generation, JIT) costs of a round, the bloom build and a
        compaction."""
        from logtemplatecrawler_spark.crawl import scheduler as S

        ckpt = os.path.join(workdir, "warm-ckpt")
        S.run_crawl(spark, inputs["warm_pages"], inputs["warm_seeds"],
                    inputs["robots"], self.config(ckpt, 1, bloom_min_keys=0))
        shutil.rmtree(ckpt, ignore_errors=True)

    def operate(self, spark, inputs, workdir, tag: str) -> Dict:
        from logtemplatecrawler_spark.crawl import scheduler as S

        ckpt = os.path.join(workdir, f"ckpt-{tag}")
        shutil.rmtree(ckpt, ignore_errors=True)
        args = (spark, inputs["pages"], inputs["seeds"], inputs["robots"])
        t0 = time.perf_counter()
        first = S.run_crawl(*args, self.config(ckpt, self.rounds))
        t1 = time.perf_counter()
        resumed = S.run_crawl(*args, self.config(ckpt, self.rounds + 1))
        t2 = time.perf_counter()
        return {"wall_s": t2 - t0, "resume_s": t2 - t1, "crawl_s": t1 - t0,
                "rounds": first + resumed, "ckpt": ckpt}

    def check(self, spark, inputs, op: Dict) -> List[str]:
        from logtemplatecrawler_spark.crawl import scheduler as S

        cfg = self.config(op["ckpt"], self.rounds + 1)
        last = S.last_complete_round(cfg)
        frontier = {r["url"]: (r["state"], r["priority"])
                    for r in S.load_frontier(spark, cfg, last).collect()}
        templates = [
            (r["url"], r["stmt_idx"], r["raw"], r["parsed_template"],
             r["template"], r["round"])
            for r in S.read_all_templates(spark, cfg).select(
                "url", "stmt_idx", "raw", "parsed_template", "template",
                "round").collect()
        ]
        bad = CP.compare(CP.crawl_digest(frontier, templates),
                         self.corpus.meta["check"])
        if last != self.rounds:
            bad.append(f"last round: got {last}, want {self.rounds}")
        return bad

    def e2e(self, ops: List[Dict]) -> Dict[str, float]:
        # the (lower) median operation, whole, so its rounds match its wall
        op = sorted(ops, key=lambda o: o["wall_s"])[(len(ops) - 1) // 2]
        wall = op["wall_s"]
        meta = self.corpus.meta
        popped = sum(r["popped"] for r in op["rounds"])
        return {
            "wall_s": wall,
            "pages_per_s": len(meta["fetched_urls"]) / wall,
            "stmts_per_s": meta["funnel"]["stmts"] / wall,
            "round_p50_s": statistics.median(r["elapsed_sec"] for r in op["rounds"]),
            "urls_per_s": popped / wall,
            "resume_s": op["resume_s"],
        }

    def core_pages(self) -> List[Dict]:
        wanted = set(self.corpus.meta["fetched_urls"])
        return [p for p in self.corpus.pages if p["url"] in wanted]

    def kept(self, rows: List[Dict]) -> int:
        # cross-round dedup lives in the oracle; its count is the reference
        return self.corpus.meta["funnel"]["kept"]

    def layers(self, tracer, jobs, ops: List[Dict]) -> Dict[str, float]:
        return crawl_layers(tracer, jobs, ops[-1]["ckpt"], self.corpus.meta)


WORKLOADS = {w.name: w for w in (PipelineDense, Crawl)}


# ---------------------------------------------------------------------------
# Per-layer metrics from a traced operation
# ---------------------------------------------------------------------------

def _span_chain(tracer: TR.Tracer, job: TR.Job) -> List[TR.Span]:
    """The span that ran a job and its ancestors (innermost first)."""
    desc = job.description
    if "#" not in desc:
        return []
    try:
        sid = int(desc.rsplit("#", 1)[1])
    except ValueError:
        return []
    chain = []
    while sid is not None and 0 <= sid < len(tracer.spans):
        span = tracer.spans[sid]
        chain.append(span)
        sid = span.parent
    return chain


def _stage_sum(jobs: List[TR.Job], key: str, where=None) -> float:
    return sum(st[key] for j in jobs for st in j.stages
               if where is None or where(st))


def pipeline_layers(jobs, n_ops: int) -> Dict[str, float]:
    ops = max(n_ops, 1)
    return {
        "pipeline.jobs": len(jobs) / ops,
        "pipeline.task_s": _stage_sum(jobs, "task_s") / ops,
        "pipeline.jvm_cpu_s": _stage_sum(jobs, "cpu_s") / ops,
        "pipeline.dedup_task_s": _stage_sum(
            jobs, "task_s", lambda st: st["shuffle_read_b"] > 0) / ops,
        "pipeline.shuffle_write_mb": _stage_sum(jobs, "shuffle_write_b") / ops / 2**20,
        "pipeline.spill_mb": _stage_sum(jobs, "spill_b") / ops / 2**20,
    }


_NEG_MARKERS = ("load_neg_keys", "anti_join_committed", "[neg_keys]",
                "[neg_snapshot]")
_COMMIT_CALLS = ("write_snapshot", "write_delta", "commit_round",
                 "write_frontier_snapshots")


def crawl_layers(tracer, jobs, ckpt: str, meta: Dict) -> Dict[str, float]:
    commits = [s for s in tracer.named("commit_round") if "metrics" in s.info]
    windows = [(c.start - c.info["metrics"]["elapsed_sec"], c.end, c)
               for c in commits]
    n_rounds = max(len(windows), 1)
    per_round = []
    for lo, hi, c in windows:
        rj = [j for j in jobs if lo <= j.start <= hi + 1e-3]
        per_round.append({
            "round.jobs": len(rj),
            "round.stages": sum(len(j.stages) for j in rj),
            "round.job_s": sum(j.end - j.start for j in rj),
            "round.task_s": _stage_sum(rj, "task_s"),
            "round.driver_gap_s": (hi - lo) - TR.interval_union(
                (max(j.start, lo), min(j.end, hi)) for j in rj),
            "round.popped": c.info["metrics"]["popped"],
        })
    out = {k: statistics.median(r[k] for r in per_round) if per_round else 0.0
           for k in ("round.jobs", "round.stages", "round.job_s",
                     "round.task_s", "round.driver_gap_s", "round.popped")}

    builds = tracer.named("build_bloom")
    admitted = sum(c.info["metrics"]["discovered_new"] for c in commits)
    out.update({
        "seen.bloom_build_s": sum(s.seconds for s in builds if s.info.get("built")),
        "seen.bloom_add_s": sum(s.seconds for s in tracer.named("add_to_bloom")),
        "seen.bloom_builds": sum(1 for s in builds if s.info.get("built")),
        "seen.filter_s": sum(s.seconds for s in tracer.named("filter_unseen")),
        "seen.admit_ratio": admitted / max(meta["outlink_candidates"], 1),
    })

    neg = [j for j in jobs
           if any(m in s.name for s in _span_chain(tracer, j) for m in _NEG_MARKERS)]
    out["negcache.jobs"] = len(neg) / n_rounds
    out["negcache.task_s"] = _stage_sum(neg, "task_s") / n_rounds

    crawls = tracer.named("scheduler.run_crawl")
    top = {c.id for c in crawls}
    writes = [s for s in tracer.spans
              if s.parent in top and any(w in s.name for w in _COMMIT_CALLS)]
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(ckpt):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
    out["commit.write_s"] = sum(s.seconds for s in writes) / n_rounds
    out["commit.bytes_per_round"] = n_bytes / n_rounds
    out["commit.files_per_round"] = n_files / n_rounds
    # resume: the second run_crawl call, up to the start of its first round
    resumed = [w for w in windows if len(crawls) > 1
               and crawls[-1].start <= w[2].start <= crawls[-1].end]
    out["load.state_s"] = (resumed[0][0] - crawls[-1].start) if resumed else 0.0
    out["crawl.resume_s"] = crawls[-1].seconds if len(crawls) > 1 else 0.0
    return out


def udf_layers(spark, n_ops: int) -> Dict[str, float]:
    """Per-UDF Python time from Spark's perf UDF profiler (cumulative time of
    each UDF function body), per operation."""
    out = {"udf.extract_raws_s": 0.0, "udf.parse_and_formalize_s": 0.0}
    results = spark._profiler_collector._perf_profile_results
    for stats in results.values():
        for (filename, _, func), (_, _, _, cum, _) in stats.stats.items():
            if not filename.endswith("template_udfs.py"):
                continue
            key = f"udf.{func}_s"
            if key in out:
                out[key] += cum / max(n_ops, 1)
    return out
