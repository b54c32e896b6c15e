"""Checkpoint/resume (SURVEY O10-O11, build-plan step 6):
resume(checkpoint_r) must equal an uninterrupted run — same fetch
order, same seen set, same outputs. Also: scheduler output is
identical across parallelism levels (§5.6 scaling check at test
scale; bench_scaling.py reports throughput)."""

from __future__ import annotations

import json
import shutil
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from python_crawler_spark.plans.crawl import CrawlConfig, CrawlRun
from python_crawler_spark.sources.tables import SnapshotStore
from python_crawler_spark.sources.worldgen import WorldSpec

SPEC = WorldSpec(n_tianyan_seeds=8)


CFG = CrawlConfig(spec=SPEC, n_buckets=8)
TABLES = ("articles", "articles_text", "companies", "images")


def _order(results):
    return [
        (r["source"], r["url"], r["attempt"])
        for r in results["fetch_order"].select("source", "url", "attempt").collect()
    ]


def _seen(results):
    return {r["dedup_key"] for r in results["seen"].select("dedup_key").collect()}


def _rows(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=repr)


def _state(results):
    """Everything resume must reproduce: fetch order, seen set and the
    row contents of every output table."""
    return {
        "order": _order(results),
        "seen": _seen(results),
        **{name: _rows(results[name]) for name in TABLES},
    }


@pytest.fixture(scope="module")
def full(spark, tmp_path_factory):
    """One uninterrupted crawl with snapshots: (run, store, state)."""
    store = SnapshotStore(tmp_path_factory.mktemp("full") / "snap")
    run = CrawlRun(spark, CFG, store=store)
    return run, store, _state(run.run())


@pytest.fixture(scope="module")
def two_rounds(spark, tmp_path_factory):
    """A committed two-round snapshot store, for tests that damage a copy."""
    store = SnapshotStore(tmp_path_factory.mktemp("two") / "snap")
    CrawlRun(spark, CrawlConfig(spec=SPEC, n_buckets=8, max_rounds=2), store=store).run()
    assert store.latest_round() == 1
    return store.root


def _copy_store(root, tmp_path):
    shutil.copytree(root, tmp_path / "snap")
    return SnapshotStore(tmp_path / "snap")


def test_resume_equals_uninterrupted(spark, tmp_path, full, two_rounds):
    """A run interrupted after two committed rounds resumes to the
    uninterrupted run's state."""
    resumed = CrawlRun.resume(spark, _copy_store(two_rounds, tmp_path), CFG)
    assert resumed.round == 2
    assert _state(resumed.run()) == full[2]


def test_results_start_no_job(full, job_ids):
    """A finished crawl builds its results, fetch order included,
    without a Spark job: the fetch order's range count comes from the
    rounds' observed ``fetched`` counts, and a fetch log this small
    needs one range, so no bounds job."""
    run, _, _ = full
    before = job_ids()
    run.results()
    assert job_ids() == before
    assert run.n_fetched == sum(m["fetched"] for m in run.metrics) == run.fetch_log.count()


def test_resume_sums_fetched_from_manifests(spark, tmp_path, full, two_rounds):
    """A resumed run restores the committed rounds' metrics from their
    manifests and counts their fetches from them."""
    resumed = CrawlRun.resume(spark, _copy_store(two_rounds, tmp_path), CFG)
    assert resumed.metrics == full[0].metrics[:2]
    assert resumed.n_fetched == sum(m["fetched"] for m in full[0].metrics[:2])


def test_fresh_run_refuses_a_used_store(spark, tmp_path, two_rounds):
    """A fresh run over a store with committed rounds raises, naming
    the latest one, and leaves every manifest as it was: it would
    otherwise rewrite round 0 and keep round 1 beside it."""
    store = _copy_store(two_rounds, tmp_path)
    manifests = {p: p.read_text() for p in store.root.glob("round=*/manifest.json")}
    assert len(manifests) == 2
    cfg = CrawlConfig(spec=SPEC, n_buckets=8, seed_limit=2, max_rounds=1)
    with pytest.raises(ValueError, match=r"round=1\b"):
        CrawlRun(spark, cfg, store=store).run()
    assert {p: p.read_text() for p in store.root.glob("round=*/manifest.json")} == manifests


def test_resume_after_crash_before_manifest(spark, tmp_path, full):
    """Round 1 writes some of its tables, then dies before its manifest:
    resume starts again from round 0's commit and equals an
    uninterrupted run."""

    class CrashingStore(SnapshotStore):
        def write_round(self, r, tables, meta):
            if r == 1:  # the last table's write fails mid-round
                boom = F.raise_error(F.lit("crash before manifest"))
                images = tables["images"].withColumn("src_url", boom)
                tables = {**tables, "images": images}
            super().write_round(r, tables, meta)

    store = CrashingStore(tmp_path / "snap")
    with pytest.raises(Exception, match="crash before manifest"):
        CrawlRun(spark, CFG, store=store).run()
    assert (store.root / "round=1" / "pages").exists()
    assert not (store.root / "round=1" / "manifest.json").exists()
    assert store.latest_round() == 0

    resumed = CrawlRun.resume(spark, SnapshotStore(store.root), CFG)
    assert resumed.round == 1
    assert _state(resumed.run()) == full[2]


def test_round_dirs_hold_only_their_delta(spark, full):
    """Each round=<r> directory stores only that round's pages and
    images, and the rounds sum to the crawl's totals."""
    run, store, _ = full
    last = store.latest_round()
    assert last == len(run.metrics) - 1
    n_pages = n_images = 0
    for r in range(last + 1):
        assert set(store.manifest(r)["tables"]) == {"pages", "images"}
        pages = store.read(spark, r, "pages")
        assert "html" not in pages.columns
        # a round computes only the host queues; the replay clock is
        # fetch_order()'s, over the whole fetch log
        assert "host_rank" in pages.columns and "ref_seq" not in pages.columns
        assert {row["round"] for row in pages.select("round").distinct().collect()} == {r}
        n_pages += pages.count()
        n_images += store.read(spark, r, "images").count()
    assert n_pages == run.fetch_log.count()
    assert n_images == run.images.count()


def test_round_counters_match_oracle(full):
    """The per-round counters observed on the round's checkpoints equal
    the oracle's per-round fetch counts and its image total, and each
    round's manifest carries them."""
    from python_crawler_spark.operators.scheduler import STAGE_CHILD, STAGE_ROOT

    from .oracle import Oracle

    run, store, _ = full
    oracle = Oracle(spec=SPEC, fixed_date=CFG.fixed_date).run()
    retried = {e["seed_id"] for e in oracle.events if e["attempt"] > 0}

    def level(e):
        """The round that fetches event e: its depth in the crawl tree,
        an anti-bot retry counting as one level."""
        if e["stage"] == STAGE_ROOT:
            return e["attempt"]
        if e["source"] == "chuansongmen" and e["stage"] == STAGE_CHILD:
            return 2
        if e["source"] == "tianyan":
            return 1 + (e["seed_id"] in retried)
        return 1

    want = Counter(level(e) for e in oracle.events)
    assert [m["fetched"] for m in run.metrics] == [want[r] for r in range(len(want))]
    assert sum(m["images"] for m in run.metrics) == len(oracle.images)
    for a, b in zip(run.metrics, run.metrics[1:]):
        assert a["frontier_out"] == b["frontier_in"]
    assert run.metrics[-1]["frontier_out"] == 0
    assert [store.manifest(m["round"])["metrics"] for m in run.metrics] == run.metrics


def test_resume_raises_on_missing_committed_table(spark, tmp_path, two_rounds):
    """A table the manifest commits but whose files are gone must fail
    the resume loudly, not come back as an empty table."""
    from pyspark.errors import AnalysisException

    store = _copy_store(two_rounds, tmp_path)
    assert "pages" in store.manifest(1)["tables"]
    shutil.rmtree(store.root / "round=1" / "pages")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        CrawlRun.resume(spark, store, CFG)


def test_resume_raises_on_missing_earlier_round(spark, tmp_path, two_rounds):
    """Resume rebuilds the tables from every committed round's pages, so
    losing an earlier round's pages (round < last) must raise too."""
    from pyspark.errors import AnalysisException

    store = _copy_store(two_rounds, tmp_path)
    shutil.rmtree(store.root / "round=0" / "pages")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        CrawlRun.resume(spark, store, CFG)


def test_resume_raises_when_derived_frontier_disagrees(spark, tmp_path, two_rounds):
    """Resume derives the start frontier from the last round's pages;
    if its size differs from the frontier_out the round committed (the
    expansion rules drifted since the commit), resume raises naming the
    round."""
    store = _copy_store(two_rounds, tmp_path)
    path = store.root / "round=1" / "manifest.json"
    manifest = json.loads(path.read_text())
    manifest["metrics"]["frontier_out"] += 1
    path.write_text(json.dumps(manifest))
    with pytest.raises(ValueError, match=r"round=1\b"):
        CrawlRun.resume(spark, store, CFG)


def test_resume_raises_on_missing_lineage_record(spark, tmp_path, two_rounds):
    """A table the manifest commits without a lineage record cannot be
    verified, so the resume raises naming the round and the table
    instead of reading it unverified."""
    store = _copy_store(two_rounds, tmp_path)
    path = store.root / "round=1" / "manifest.json"
    manifest = json.loads(path.read_text())
    del manifest["lineage"]["images"]
    path.write_text(json.dumps(manifest))
    with pytest.raises(ValueError, match="round=1 table=images"):
        CrawlRun.resume(spark, store, CFG)


def test_latest_round_ignores_uncommitted(tmp_path):
    store = SnapshotStore(tmp_path / "s")
    (store.root / "round=3").mkdir(parents=True)
    assert store.latest_round() is None  # no manifest -> not committed


def test_partition_lineage_detects_corruption(spark, tmp_path, two_rounds):
    """North_rule: snapshots carry per-partition lineage (per-bucket
    count + row-hash XOR); verify_round passes on intact state and
    names the table when a bucket's rows are lost."""
    store = _copy_store(two_rounds, tmp_path)
    assert "pages" in store.manifest(0)["lineage"]
    store.verify_round(spark, 0)  # intact -> passes

    # drop one bucket's rows from the stored pages table (simulated
    # partial write / corruption), keeping the manifest untouched
    pages = store.read(spark, 0, "pages")
    some_bucket = int(pages.select("bucket").first()["bucket"])
    truncated = pages.filter(f"bucket != {some_bucket}").localCheckpoint(eager=True)
    truncated.write.mode("overwrite").parquet(str(store.root / "round=0" / "pages"))
    with pytest.raises(ValueError, match="table=pages"):
        store.verify_round(spark, 0)


def test_partition_lineage_covers_parsed_pages(spark, tmp_path, two_rounds):
    """The parsed ``page`` struct holds a map (the company details), and
    every table and the next frontier are derived from it on resume, so
    rewriting a nested field of the stored pages, with no row added or
    lost, fails the resume naming the round and the table."""
    store = _copy_store(two_rounds, tmp_path)
    pages = store.read(spark, 1, "pages")
    content = F.col("page.article.content")
    assert pages.filter(content.isNotNull()).count() > 0
    tampered = pages.withColumn(
        "page", F.col("page").withField("article.content", F.concat(content, F.lit("!")))
    ).localCheckpoint(eager=True)
    tampered.write.mode("overwrite").parquet(str(store.root / "round=1" / "pages"))
    with pytest.raises(ValueError, match="round=1 table=pages"):
        CrawlRun.resume(spark, store, CFG)


def test_partition_lineage_sees_a_value_moved_into_a_null_neighbour(spark, tmp_path):
    """xxhash64 over a row's columns skips null ones, nested fields too,
    so a value moved into an adjacent null field of the same type kept
    the row hash; the row's JSON names the field, so the verify
    raises."""
    schema = "title string, summary string, p struct<text:string, anti_bot:boolean, link:string>"
    kept = ("u", "v", (None, True, "q"))
    store = SnapshotStore(tmp_path / "snap")
    store.write_round(0, {"pages": spark.createDataFrame([("t", None, ("x", None, None)), kept], schema)}, {})
    store.verify_round(spark, 0)  # intact -> passes
    for moved in [(None, "t", ("x", None, None)), ("t", None, (None, None, "x"))]:
        tampered = spark.createDataFrame([moved, kept], schema)
        tampered.write.mode("overwrite").parquet(str(store.root / "round=0" / "pages"))
        with pytest.raises(ValueError, match="round=0 table=pages"):
            store.verify_round(spark, 0)


def test_resume_raises_on_other_n_buckets(spark, tmp_path, two_rounds):
    """The stored seen rows keep the bucket they were written with, and
    the Bloom probe reads the candidate's bucket: resuming under another
    n_buckets raises naming both values instead of re-fetching seen
    URLs."""
    store = _copy_store(two_rounds, tmp_path)
    assert store.manifest(1)["n_buckets"] == CFG.n_buckets == 8
    with pytest.raises(ValueError, match=r"round=0\b.*n_buckets=8.*n_buckets=16"):
        CrawlRun.resume(spark, store, CrawlConfig(spec=SPEC, n_buckets=16))


def test_order_invariant_to_parallelism(tmp_path):
    """Same input, genuinely different parallelism (fresh subprocess
    JVMs at local[2] = N and local[8] = 4N, the north_rule's literal
    two cluster sizes) -> byte-identical fetch order, virtual clocks,
    seen set, per-image pixel digest + caption + phash, and output
    counts — the sandbox evidence for the two-cluster-size rule (the
    throughput half lives in BENCH/bench_scaling.py). Sequential
    subprocesses so the JVMs never compete for host cores."""
    import subprocess
    import sys

    outs = {}
    for cores in (2, 8):
        out = tmp_path / f"probe_{cores}.json"
        proc = subprocess.run(
            [sys.executable, "-m", "tests.parallel_probe", str(cores), str(out)],
            cwd=Path(__file__).resolve().parents[1],
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


def test_partition_lineage_covers_images(spark, tmp_path, two_rounds):
    """The images delta has neither (bucket, key_hash) nor url, and
    still carries lineage: dropping some of its rows fails the verify
    with the table named. Round 0 fetches only list and root pages, so
    round 1 holds the first images."""
    store = _copy_store(two_rounds, tmp_path)
    assert "images" in store.manifest(1)["lineage"]
    store.verify_round(spark, 1)  # intact -> passes

    images = store.read(spark, 1, "images")
    assert images.count() > 1
    truncated = images.limit(1).localCheckpoint(eager=True)
    truncated.write.mode("overwrite").parquet(str(store.root / "round=1" / "images"))
    with pytest.raises(ValueError, match="table=images"):
        store.verify_round(spark, 1)
