"""The benchmark's own tests: metric declarations, seeded generators,
output checks failing on corrupted outputs, and a small-size smoke of
every workload through the command line.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_declarations():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and UNIT.match(m["unit"])
        assert 0 < m["bound"] <= 0.25
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in SPEC["end_to_end"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])


@pytest.fixture(scope="module")
def spark():
    from python_crawler_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", parallelism=2, shuffle_partitions=2)
    yield s
    s.stop()


def _swap(df, col, a, b):
    """Swap ``col`` between the rows whose key_hash is a and b."""
    from pyspark.sql import functions as F

    va = df.filter(F.col("key_hash") == a).first()[col]
    vb = df.filter(F.col("key_hash") == b).first()[col]
    k = F.col("key_hash")
    return df.withColumn(col, F.when(k == a, F.lit(vb)).when(k == b, F.lit(va))
                         .otherwise(F.col(col)))


def test_generator_is_seeded(spark):
    from pyspark.sql import functions as F

    from perfbench import gen

    shape = gen.FrontierShape(n=2000)

    def digest(seed):
        df = gen.frontier(spark, shape, seed)
        return df.agg(F.count("*"), F.bit_xor(F.xxhash64("url", "source"))).first()

    assert digest(7) == digest(7)
    assert digest(7) != digest(8)
    urls = {r["url"] for r in gen.frontier(spark, shape, 7).select("url").collect()}
    assert len(urls) == shape.unique  # the rest are exact in-batch duplicates
    other = {r["url"] for r in gen.frontier(spark, shape, 8).select("url").collect()}
    assert urls != other


def test_stream_files_in_priority_order(spark, tmp_path):
    from pyspark.sql import functions as F

    from perfbench import gen
    from python_crawler_spark.streaming.frontier_stream import STREAM_SCHEMA

    shape = gen.FrontierShape(n=1000)
    drop = tmp_path / "drop"
    gen.write_stream_files(spark, shape, 3, 5, str(drop))
    files = sorted(os.listdir(drop), key=lambda f: os.path.getmtime(drop / f))
    assert len(files) == 5
    prev_hi = -1
    for f in files:
        lo, hi = spark.read.schema(STREAM_SCHEMA).parquet(str(drop / f)).agg(
            F.min("line_no"), F.max("line_no")).first()
        assert lo > prev_hi, f
        prev_hi = hi


def _frontier(spark, seed=11):
    from perfbench.workloads import Ctx, Frontier

    w = Frontier(Ctx(spark=spark, seed=seed, work="", small=True), seen_pct=5)
    w.shape = type(w.shape)(n=5000, seen_pct=5)
    w.setup()
    w.op()
    return w


def test_frontier_check_passes_then_fails_on_swapped_ref_seq(spark):
    from perfbench import gen
    from perfbench.workloads import check_frontier

    w = _frontier(spark)
    new, plan, _, _ = w.last
    expected = gen.expected_scheduled(w.shape)
    assert check_frontier(plan, new, expected) == []
    a, b = [r["key_hash"] for r in plan.select("key_hash").limit(2).collect()]
    assert check_frontier(_swap(plan, "ref_seq", a, b), new, expected)
    assert check_frontier(plan, new, expected + 1)
    w.release()


def test_stream_check_fails_on_swapped_ref_seq(spark):
    from perfbench.workloads import STREAM_SALTS, check_stream
    from python_crawler_spark.operators.scheduler import schedule

    w = _frontier(spark, seed=12)
    new = w.last[0]
    plan = schedule(new, n_salts=STREAM_SALTS).localCheckpoint(eager=True)
    n = plan.count()
    assert check_stream(plan, plan, n) == []
    a, b = [r["key_hash"] for r in plan.select("key_hash").limit(2).collect()]
    assert check_stream(_swap(plan, "ref_seq", a, b), plan, n)
    w.release()


def test_crawl_check_fails_on_dropped_seen_key_and_swapped_fetches():
    from perfbench.workloads import check_crawl
    from python_crawler_spark.sources.worldgen import WorldSpec
    from tests.oracle import Oracle

    oracle = Oracle(spec=WorldSpec(n_tianyan_seeds=6)).run()
    order = [(e["source"], e["url"], e["attempt"]) for e in oracle.events]
    assert check_crawl(order, set(oracle.seen), oracle) == []
    assert check_crawl(order, set(oracle.seen) - {next(iter(oracle.seen))}, oracle)
    swapped = [order[1], order[0]] + order[2:]
    assert check_crawl(swapped, set(oracle.seen), oracle)


@pytest.mark.parametrize("trace", [0, 1])
# frontier_fresh is not listed in BENCHMARK.json but still runs by name
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]] + ["frontier_fresh"])
def test_smoke_prints_every_metric(workload, trace):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                             "--trace", str(trace), "--small"]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]


def test_refuses_to_run_without_the_program(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in ("__init__.py", "run.py"):
        with open(os.path.join(ROOT, "perfbench", f)) as src, \
                open(tmp_path / "perfbench" / f, "w") as dst:
            dst.write(src.read())
    with open(tmp_path / "BENCHMARK.json", "w") as fh:
        json.dump(SPEC, fh)
    res = subprocess.run(SPEC["command"] + ["--workload", "frontier_fresh", "--seed", "1",
                                            "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert res.returncode != 0 and res.stdout.strip() == ""
