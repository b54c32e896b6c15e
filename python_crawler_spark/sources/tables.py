"""TableIO seam: snapshot-per-round table storage (SURVEY K6, O10-O11).

Production target is Iceberg (atomic snapshots, time travel); the
sandbox has no Iceberg jars, so this implements the same narrow API
over parquet directories plus a JSON manifest that is written LAST —
a round's snapshot is visible only once its manifest exists, giving
crash-consistent resume (the reference's analog is the id_log.txt
checkpoint, tianyan_crawler.py:173-176,226-230).

Layout (each round commits only what it fetched, the Iceberg append
model; a resume reads pages/images of every round <= the latest and
derives everything else from the pages):
  <root>/round=<r>/pages/*.parquet    fetched + parsed rows, no html
  <root>/round=<r>/images/*.parquet   the round's decoded images
  <root>/round=<r>/manifest.json      (commit record, written last)
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sqltext import sql_ident


_LINEAGE_BUCKETS = 64  # checksum partitioning constant, not a run config


def _partition_lineage(df: DataFrame) -> dict:
    """Per-bucket lineage record for a stored table: row count +
    order-independent XOR checksum per bucket, where each row's hash is
    xxhash64 of its JSON text (every column, nested ones included) and
    its bucket is that hash mod 64 — so a dropped row OR a mutated
    column changes the record. The JSON names each non-null field, so
    a value moved into a null neighbour changes it too (xxhash64 over
    the columns skips nulls).
    One rule for every table; O(#buckets) driver data (the bucket count
    is a constant, never row-proportional), so this scales to any
    table size. North_rule: 'resumes with per-partition lineage and
    fetch/dedup metrics'."""
    row = ", ".join(map(sql_ident, df.columns))
    rows = (
        df.selectExpr(f"xxhash64(to_json(struct({row}))) AS h")
        .selectExpr(f"pmod(h, {_LINEAGE_BUCKETS}) AS bucket", "h")
        .groupBy("bucket")
        .agg(F.expr("count(*) AS n"), F.expr("bit_xor(h) AS x"))
        .collect()
    )
    return {str(r["bucket"]): [int(r["n"]), int(r["x"])] for r in rows}


class SnapshotStore:
    def __init__(self, root: str | os.PathLike):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _round_dir(self, r: int) -> Path:
        return self.root / f"round={r}"

    def write_round(self, r: int, tables: dict[str, DataFrame], meta: dict) -> None:
        """Write all tables for round r, then commit the manifest.
        Every table gets a per-partition lineage record in the manifest
        — count + XOR checksum per bucket — so a resume can verify
        partition integrity before trusting the snapshot
        (:meth:`verify_round`)."""
        rdir = self._round_dir(r)
        written = {}
        lineage = {}
        for name, df in tables.items():
            path = str(rdir / name)
            df.write.mode("overwrite").parquet(path)
            written[name] = path
            lineage[name] = _partition_lineage(df)
        manifest = {"round": r, "tables": written, "lineage": lineage, **meta}
        tmp = rdir / "manifest.json.tmp"
        tmp.write_text(json.dumps(manifest, indent=1))
        tmp.rename(rdir / "manifest.json")  # atomic commit point

    def verify_round(self, spark: SparkSession, r: int) -> None:
        """Recompute every committed table's per-bucket (count, row-hash
        XOR) from the stored parquet and compare to the manifest —
        raises ValueError naming the round and the first diverging
        (table, bucket) on corruption/truncation, or the table whose
        lineage record is missing."""
        manifest = self.manifest(r)
        for name in manifest["tables"]:
            want = manifest.get("lineage", {}).get(name)
            if want is None:
                raise ValueError(
                    f"snapshot round={r} table={name}: manifest has no lineage record"
                )
            got = _partition_lineage(self.read(spark, r, name))
            if got != want:
                bad = sorted(
                    set(want) ^ set(got)
                    | {b for b in set(want) & set(got) if want[b] != got[b]}
                )
                raise ValueError(
                    f"snapshot round={r} table={name}: per-partition lineage "
                    f"mismatch at buckets {bad[:5]}"
                )

    def latest_round(self) -> int | None:
        """Highest round with a committed manifest (crash-safe)."""
        best = None
        for d in self.root.glob("round=*"):
            if (d / "manifest.json").exists():
                r = int(d.name.split("=", 1)[1])
                best = r if best is None or r > best else best
        return best

    def manifest(self, r: int) -> dict:
        return json.loads((self._round_dir(r) / "manifest.json").read_text())

    def read(self, spark: SparkSession, r: int, name: str) -> DataFrame:
        return spark.read.parquet(str(self._round_dir(r) / name))
