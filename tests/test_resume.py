"""Checkpoint/resume (SURVEY O10-O11, build-plan step 6):
resume(checkpoint_r) must equal an uninterrupted run — same fetch
order, same seen set, same outputs. Also: scheduler output is
identical across parallelism levels (§5.6 scaling check at test
scale; bench_scaling.py reports throughput)."""

from __future__ import annotations

import pytest

from python_crawler_spark.plans.crawl import CrawlConfig, CrawlRun
from python_crawler_spark.sources.tables import SnapshotStore
from python_crawler_spark.sources.worldgen import WorldSpec

SPEC = WorldSpec(n_tianyan_seeds=8)


def _order(results):
    return [
        (r["source"], r["url"], r["attempt"])
        for r in results["fetch_order"].select("source", "url", "attempt").collect()
    ]


def _seen(results):
    return {r["dedup_key"] for r in results["seen"].select("dedup_key").collect()}


def test_resume_equals_uninterrupted(spark, tmp_path):
    cfg = CrawlConfig(spec=SPEC, n_buckets=8)

    full = CrawlRun(spark, cfg).run()
    full_order, full_seen = _order(full), _seen(full)

    # interrupted run: stop after 2 rounds, snapshots committed
    store = SnapshotStore(tmp_path / "snap")
    interrupted = CrawlRun(spark, cfg, store=store)
    frontier = interrupted.initial_frontier()
    for _ in range(2):
        if frontier.count() == 0:
            break
        frontier = interrupted.run_round(frontier)
        interrupted.metrics.append({"round": interrupted.round, "frontier_in": -1})
        interrupted._snapshot(frontier)
        interrupted.round += 1

    resumed = CrawlRun.resume(spark, store, cfg)
    assert resumed.round == 2
    results = resumed.run()
    assert _order(results) == full_order
    assert _seen(results) == full_seen
    n_articles = results["articles"].count()
    assert n_articles == full["articles"].count()
    assert results["images"].count() == full["images"].count()
    assert results["companies"].count() == full["companies"].count()


def test_resume_raises_on_missing_committed_table(spark, tmp_path):
    """A table the manifest commits but whose files are gone must fail
    the resume loudly, not come back as an empty (None) table."""
    import shutil

    from pyspark.errors import AnalysisException

    store = SnapshotStore(tmp_path / "snap")
    CrawlRun(spark, CrawlConfig(spec=SPEC, n_buckets=8, max_rounds=2), store=store).run()
    assert store.latest_round() == 1 and store.has_table(1, "articles")
    shutil.rmtree(store.root / "round=1" / "articles")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        CrawlRun.resume(spark, store, CrawlConfig(spec=SPEC, n_buckets=8))


def test_latest_round_ignores_uncommitted(tmp_path):
    store = SnapshotStore(tmp_path / "s")
    (store.root / "round=3").mkdir(parents=True)
    assert store.latest_round() is None  # no manifest -> not committed


def test_partition_lineage_detects_corruption(spark, tmp_path):
    """North_rule: snapshots carry per-partition lineage (per-bucket
    count + key_hash XOR); verify_round passes on intact state and
    names the table when a bucket's rows are lost."""
    import pytest

    store = SnapshotStore(tmp_path / "snap")
    run = CrawlRun(spark, CrawlConfig(spec=SPEC, n_buckets=8), store=store)
    frontier = run.initial_frontier()
    frontier = run.run_round(frontier)
    run.metrics.append({"round": 0, "frontier_in": -1})
    run._snapshot(frontier)

    assert "seen" in store.manifest(0)["lineage"]
    assert "frontier_next" in store.manifest(0)["lineage"]
    store.verify_round(spark, 0)  # intact -> passes

    # drop one bucket's rows from the stored seen table (simulated
    # partial write / corruption), keeping the manifest untouched
    seen = store.read(spark, 0, "seen")
    some_bucket = int(seen.select("bucket").first()["bucket"])
    truncated = seen.filter(f"bucket != {some_bucket}").localCheckpoint(eager=True)
    truncated.write.mode("overwrite").parquet(str(store.root / "round=0" / "seen"))
    with pytest.raises(ValueError, match="table=seen"):
        store.verify_round(spark, 0)


def test_order_invariant_to_parallelism(tmp_path):
    """Same input, genuinely different parallelism (fresh subprocess
    JVMs at local[2] = N and local[8] = 4N, the north_rule's literal
    two cluster sizes) -> byte-identical fetch order, virtual clocks,
    seen set, per-image pixel digest + caption + phash, and output
    counts — the sandbox evidence for the two-cluster-size rule (the
    throughput half lives in BENCH/bench_scaling.py). Sequential
    subprocesses so the JVMs never compete for host cores."""
    import json
    import subprocess
    import sys

    outs = {}
    for cores in (2, 8):
        out = tmp_path / f"probe_{cores}.json"
        proc = subprocess.run(
            [sys.executable, "-m", "tests.parallel_probe", str(cores), str(out)],
            cwd="/root/repo",
            capture_output=True,
            text=True,
            timeout=900,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        outs[cores] = json.loads(out.read_text())
    a, b = outs[2], outs[8]
    assert a["order"] == b["order"]
    assert a["seen"] == b["seen"]
    assert a["images"] == b["images"]  # pixel digest/caption/phash/dims
    assert a["n_articles"] == b["n_articles"]
    assert a["n_images"] == b["n_images"]
