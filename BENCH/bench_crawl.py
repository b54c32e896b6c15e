"""End-to-end CrawlRun bench (VERDICT r4 next-round #5).

BENCH_r* times the synthetic-frontier scheduler pipeline; this bench
times the PRODUCT — the full multi-round crawl engine (enrich -> robots
-> dedup -> schedule -> mapInPandas fetch -> parse/extract -> image
pipeline -> snapshot) against a worldgen world ~100x the e2e
fixture (240 fetches at DEFAULT_SPEC),
for BOTH parser families, with a per-round wall breakdown and a
half-scale point so any super-linear per-round overhead shows.

Usage:
    python BENCH/bench_crawl.py [scale] [reps]

scale multiplies the world knobs (default targets ~20k fetches at
scale=1.0); reps is per-family (default 1 — each rep is minutes).
Writes BENCH/crawl_engine.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_crawler_spark.plans.crawl import CrawlConfig, CrawlRun  # noqa: E402
from python_crawler_spark.session import get_spark  # noqa: E402
from python_crawler_spark.sources.tables import SnapshotStore  # noqa: E402
from python_crawler_spark.sources.worldgen import WorldSpec  # noqa: E402


def spec_at(scale: float) -> WorldSpec:
    """World knobs at ``scale``. scale=1.0 targets ~20k fetched pages
    (~85x the 240-fetch e2e fixture): 16 weixin accounts x 700
    articles, 10 csm accounts x up to 13 list pages x 40 links,
    4000 tianyan seeds.

    Per-page link counts are capped at 1,000: the packed-order
    link_idx domain is [-1, 2^10-2] (1,022 links on ONE list page —
    operators/scheduler.PRIORITY_WIDTHS, guard verified fail-loud by
    the scale-2.0 run that tripped it), and a real list page cannot
    exceed that anyway — world growth past scale ~1.4 comes from more
    seeds and pages, which the other knobs scale without bound."""
    return WorldSpec(
        n_tianyan_seeds=max(2, int(4000 * scale)),
        weixin_articles_per_account=max(2, min(int(700 * scale), 1000)),
        csm_max_page_cap=max(2, int(12 * scale)),
        csm_links_per_page=max(2, min(int(40 * scale), 1000)),
        imgs_per_article_max=2,
    )


def timed_crawl(spark, family: str, scale: float) -> dict:
    """One full CrawlRun.run() with per-round wall telemetry: its
    run_round, _snapshot and fetch_order calls are wrapped with
    timers."""
    snap_dir = tempfile.mkdtemp(prefix=f"bench_crawl_{family}_")
    cfg = CrawlConfig(
        spec=spec_at(scale),
        html_parser="tolerant" if family == "tolerant" else "dialect",
        dirty_web=(family == "tolerant"),
        filter_family="bloom",
        n_buckets=32,
        n_salts=8,
    )
    run = CrawlRun(spark, cfg, store=SnapshotStore(snap_dir))
    round_s, snapshot_s, order_s = [], [], []

    def timed(fn, out):
        def wrapper(*args):
            t0 = time.time()
            res = fn(*args)
            out.append(time.time() - t0)
            return res
        return wrapper

    run.run_round = timed(run.run_round, round_s)
    run._snapshot = timed(run._snapshot, snapshot_s)
    run.fetch_order = timed(run.fetch_order, order_s)
    t_total0 = time.time()
    try:
        res = run.run()
        rounds = [
            {"round": m["round"], "frontier_in": m["frontier_in"],
             "round_s": round(r, 2), "snapshot_s": round(s, 2)}
            for m, r, s in zip(run.metrics, round_s, snapshot_s)
        ]
        # the replay artifact: global fetch order (the product's output)
        t0 = time.time()
        pages = res["fetch_order"].count()
        t_order = round(time.time() - t0 + order_s[0], 2)
        wall = round(time.time() - t_total0, 2)
        arts = run.articles.count() if run.articles is not None else 0
        imgs = run.images.count() if run.images is not None else 0
        return {
            "family": family,
            "scale": scale,
            "pages_fetched": pages,
            "articles": arts,
            "images": imgs,
            "rounds": rounds,
            "fetch_order_s": t_order,
            "wall_s": wall,
            "pages_per_sec": round(pages / wall, 1),
        }
    finally:
        shutil.rmtree(snap_dir, ignore_errors=True)


def main() -> None:
    scale = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    spark = get_spark(
        app_name="bench-crawl",
        parallelism=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_EFF_CPUS", "16")),
    )
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    out = {"scales": [], "reps": reps}
    for s in (scale / 2, scale):
        for family in ("dialect", "tolerant"):
            # median-of-reps by wall: a shared-silicon guest shows
            # ±25% rep-to-rep spread, and a single contended rep must
            # not define the committed artifact. The kept entry is the
            # median rep's full per-round detail; every rep's wall is
            # recorded beside it.
            runs = []
            for _ in range(reps):
                r = timed_crawl(spark, family, s)
                print(json.dumps(r), file=sys.stderr, flush=True)
                runs.append(r)
            runs.sort(key=lambda r: r["wall_s"])
            # lower median: for an even rep count the upper median would
            # keep the slower (possibly contended) of the middle pair —
            # the exact rep this loop exists to not commit
            med = runs[(len(runs) - 1) // 2]
            med["wall_s_reps"] = [r["wall_s"] for r in runs]
            out["scales"].append(med)
    # linearity check: wall(scale) / wall(scale/2) per family — ~2x is
    # linear in world size; >>2x flags a super-linear per-round stage
    for family in ("dialect", "tolerant"):
        pts = [r for r in out["scales"] if r["family"] == family]
        if len(pts) == 2 and pts[0]["wall_s"] > 0 and pts[0]["pages_fetched"] > 0:
            growth = pts[1]["wall_s"] / pts[0]["wall_s"]
            page_growth = pts[1]["pages_fetched"] / pts[0]["pages_fetched"]
            out[f"{family}_wall_growth"] = round(growth, 2)
            out[f"{family}_page_growth"] = round(page_growth, 2)
            out[f"{family}_scaling_ratio"] = round(growth / page_growth, 2)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "crawl_engine.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
