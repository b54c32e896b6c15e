"""Operator-family queries over the driver testdata, each paired with
an ANSI-SQL DuckDB oracle (SURVEY §5.5).

Mapping (FIXTURES.md §B): events(user_id->host, ts->priority) stands in
for scheduler windows; documents for parse/string/text-analysis ops;
orders x customer anti-joins for seen-set dedup; embeddings for
similarity search. Every aggregate/computed column is aliased
IDENTICALLY in the Spark plan and the SQL so the driver's
sorted-column value-hash comparison is meaningful. Double-valued
aggregates are rounded to 4 decimals on both sides (sum order varies
across engines/partitions).

Scale notes are in each query's docstring: the Spark side is written
so the plan survives 100x data (predicate pushdown to the parquet
scan, broadcast for small dims, two-stage salted aggregation for
skewed keys, window partitioning by the natural key).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------- scheduler


def q_frontier_schedule(spark, sf_dir):
    """Flagship: the politeness scheduler shape over events-as-frontier
    (host=user_id, priority=(ts,event_id), crawl_delay=value).
    Per-host rank + EXCLUSIVE cumulative virtual time (O4-O7)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        F.col("user_id").alias("host"),
        F.row_number().over(w).alias("host_rank"),
        F.round(
            F.coalesce(
                F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0.0),
            ),
            4,
        ).alias("scheduled_at"),
    )


SQL_FRONTIER_SCHEDULE = """
SELECT event_id,
       user_id AS host,
       row_number() OVER w AS host_rank,
       round(coalesce(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0), 4) AS scheduled_at
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_politeness_topk(spark, sf_dir):
    """Top-3 most-delayed fetches per host (top-K-per-group window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(F.col("user_id").alias("host"), "event_id", "rk")
    )


SQL_POLITENESS_TOPK = """
SELECT user_id AS host, event_id, rk FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
  FROM events) WHERE rk <= 3
"""


def q_first_occurrence(spark, sf_dir):
    """J6 step 1: within-batch first-occurrence-wins by priority order
    ((ts,event_id) per (user_id,event_type) key)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("user_id").alias("host"), "event_type", "event_id")
    )


SQL_FIRST_OCCURRENCE = """
SELECT user_id AS host, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn = 1
"""


def q_sessionize(spark, sf_dir):
    """Sessionization: gap > 30 min starts a new session; session count
    per host (lag + cumsum window composition)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return sess.groupBy(F.col("user_id").alias("host")).agg(
        F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events")
    )


SQL_SESSIONIZE = """
SELECT user_id AS host, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events) GROUP BY user_id
"""


def q_hourly_window_agg(spark, sf_dir):
    """Streaming-analog tumbling window: hourly counts + rounded sums
    per event_type (batch equivalent of the readStream agg)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("v"))
    )


SQL_HOURLY_WINDOW_AGG = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n, round(sum(value), 4) AS v
FROM events GROUP BY 1, 2
"""


# ------------------------------------------------------------------- dedup


def q_anti_join_dedup(spark, sf_dir):
    """J1: candidates not in seen — customers with no orders, counted
    by segment. Spark picks SMJ/shuffled-hash under AQE; at scale the
    seen side is bucketed (see operators/dedup.py)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_never_ordered"))
    )


SQL_ANTI_JOIN_DEDUP = """
SELECT c_mktsegment, count(*) AS n_never_ordered
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
"""


def q_cuckoo_dedup(spark, sf_dir):
    """J1 via the cuckoo-filter prefilter (north_rule: 'Bloom/cuckoo-
    filter URL-seen set ... per hash-bucketed partition via vectorized
    pandas/Arrow UDFs'): seen = texts of docs with doc_id%3==0,
    candidates = docs with doc_id%2==0; per-bucket cuckoo filters
    built from the seen hashes, broadcast/cogroup probe, then the
    exact compound-condition anti-join — so the RESULT is exact and
    plain SQL can arbitrate it, while the plan exercises the real
    operators (operators/cuckoo.py)."""
    from python_crawler_spark.operators.cuckoo import (
        build_cuckoo_filters,
        dedup_against_seen_cuckoo,
    )

    docs = _t(spark, sf_dir, "documents")

    def keyed(df):
        return df.select(
            "doc_id",
            "source",
            F.xxhash64("text").alias("key_hash"),
            F.pmod(F.xxhash64("text"), F.lit(16)).cast("int").alias("bucket"),
        )

    seen = keyed(docs.filter(F.col("doc_id") % 3 == 0))
    cand = keyed(docs.filter(F.col("doc_id") % 2 == 0))
    filters = build_cuckoo_filters(seen)
    out = dedup_against_seen_cuckoo(cand, seen, filters)
    return out.groupBy("source").agg(F.count("*").alias("n_new"))


SQL_CUCKOO_DEDUP = """
SELECT c.source, count(*) AS n_new
FROM documents c
WHERE c.doc_id % 2 = 0
  AND c.text NOT IN (SELECT text FROM documents WHERE doc_id % 3 = 0)
GROUP BY c.source
"""


def q_exact_dedup_docs(spark, sf_dir):
    """Exact content dedup: distinct text-hash count per source."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.countDistinct(F.md5("text")).alias("n_unique"),
        F.count("*").alias("n_docs"),
    )


SQL_EXACT_DEDUP_DOCS = """
SELECT source, count(DISTINCT md5(text)) AS n_unique, count(*) AS n_docs
FROM documents GROUP BY source
"""


def q_minhash_near_dup(spark, sf_dir):
    """MinHash near-dup candidates: 4 word-level minhashes per doc
    (min over md5(i||word)); docs sharing the full signature form a
    candidate bucket; emit buckets with >1 doc. At 100TB the same plan
    shards by band (bucket join), here 4 hashes = 1 band."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    sig = words.groupBy("doc_id").agg(
        *[F.min(F.md5(F.concat(F.lit(str(i)), F.col("w")))).alias(f"mh{i}") for i in range(4)]
    )
    return (
        sig.groupBy("mh0", "mh1", "mh2", "mh3")
        .agg(F.count("*").alias("bucket_size"), F.min("doc_id").alias("min_doc"))
        .filter(F.col("bucket_size") > 1)
    )


SQL_MINHASH_NEAR_DUP = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), sig AS (
  SELECT doc_id,
         min(md5('0' || w)) AS mh0, min(md5('1' || w)) AS mh1,
         min(md5('2' || w)) AS mh2, min(md5('3' || w)) AS mh3
  FROM words WHERE w <> '' GROUP BY doc_id
)
SELECT mh0, mh1, mh2, mh3, count(*) AS bucket_size, min(doc_id) AS min_doc
FROM sig GROUP BY mh0, mh1, mh2, mh3 HAVING count(*) > 1
"""


_NGRAM_BANDS = 3

# LSH band-bucket size cap: a degenerate bucket (k docs sharing a
# boilerplate min-gram) would self-join into O(k^2) candidate pairs;
# buckets above the cap are EXCLUDED from candidate generation (the
# standard LSH mitigation — a 100 TB boilerplate cluster belongs to
# exact/prefix dedup, not pairwise Jaccard). Not a silent cap: the
# dropped buckets are a first-class auditable query
# (ngram_band_overflow below), and both engines apply the identical
# cap so the oracle pins the capped semantics.
_NGRAM_BUCKET_CAP = 64


def _ngram_grams_and_bands(spark, sf_dir):
    """Shared candidate machinery for the n-gram LSH family: distinct
    word-3-gram sets per doc, plus the exploded (doc_id, band, bkt)
    band rows (bkt = the band's min gram-hash)."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.split("text", " ").alias("ws"))
    grams = words.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(ws) - 2, 0)),"
                " i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))"
            )
        ).alias("g"),
    ).distinct()
    sig = grams.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(str(b)), F.col("g")))).alias(f"mh{b}")
            for b in range(_NGRAM_BANDS)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"mh{b}") for b in range(_NGRAM_BANDS)])).alias(
            "band", "bkt"
        ),
    )
    return grams, bands


def q_ngram_jaccard_pairs(spark, sf_dir):
    """n-gram Jaccard near-dup: word-3-gram sets, pairwise Jaccard
    computed only on MinHash candidate pairs (never all-pairs).
    Candidates come from 3 one-hash MinHash bands over the gram set —
    docs agreeing on ANY band's minimum gram-hash are candidates, so
    the bucketing is robust to head edits (a prefix-keyed bucket, the
    round-1 design, missed any pair whose first words differ). Recall
    for J >= 0.8 is 1-(1-J/(2-J))^3 ≈ 0.96 per the MinHash collision
    bound; exact Jaccard then confirms. Emits pairs with J >= 0.8.

    Candidate blowup guard: band buckets larger than
    _NGRAM_BUCKET_CAP are dropped before the self-join (broadcast
    anti-join against the few oversized (band, bkt) keys — the
    overflow list is bounded by n_docs/cap), so the candidate set is
    O(n_docs * cap), never O(k^2) on a boilerplate bucket. Dropped
    buckets stay auditable via ngram_band_overflow."""
    grams, bands = _ngram_grams_and_bands(spark, sf_dir)
    oversized = (
        bands.groupBy("band", "bkt")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > _NGRAM_BUCKET_CAP)
        .select("band", "bkt")
    )
    bands = bands.join(F.broadcast(oversized), ["band", "bkt"], "left_anti")
    pairs = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkt") == F.col("y.bkt"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    ga = grams.select(F.col("doc_id").alias("a"), F.col("g").alias("g"))
    gb = grams.select(F.col("doc_id").alias("b"), F.col("g").alias("g"))
    inter = pairs.join(ga, "a").join(gb, ["b", "g"]).groupBy("a", "b").agg(F.count("*").alias("i"))
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
        .withColumn("jaccard", F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4))
        .filter(F.col("jaccard") >= 0.8)
        .select("a", "b", "jaccard")
    )
    return out


# CTE body shared by SQL_NGRAM_JACCARD_PAIRS and SQL_DEDUP_CLUSTERS
_NGRAM_PAIRS_CTES = f"""words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
  FROM words, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
), sig AS (
  SELECT doc_id,
         {", ".join(f"min(md5('{b}' || g)) AS mh{b}" for b in range(_NGRAM_BANDS))}
  FROM grams GROUP BY doc_id
), bands_all AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, mh{b} AS bkt FROM sig" for b in range(_NGRAM_BANDS))}
), oversized AS (
  SELECT band, bkt FROM bands_all GROUP BY band, bkt HAVING count(*) > {_NGRAM_BUCKET_CAP}
), bands AS (
  SELECT b.* FROM bands_all b ANTI JOIN oversized o ON b.band = o.band AND b.bkt = o.bkt
), pairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
  ON x.band = y.band AND x.bkt = y.bkt AND x.doc_id < y.doc_id
), inter AS (
  SELECT p.a, p.b, count(*) AS i FROM pairs p
  JOIN grams ga ON ga.doc_id = p.a
  JOIN grams gb ON gb.doc_id = p.b AND gb.g = ga.g
  GROUP BY p.a, p.b
), sizes AS (
  SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
), pj AS (
  SELECT a, b, round(i / (sa.n + sb.n - i), 4) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
  WHERE round(i / (sa.n + sb.n - i), 4) >= 0.8
)"""

SQL_NGRAM_JACCARD_PAIRS = f"""
WITH {_NGRAM_PAIRS_CTES}
SELECT a, b, jaccard FROM pj
"""


def q_ngram_band_overflow(spark, sf_dir):
    """Audit query for the n-gram LSH bucket cap ("no silent caps"):
    every band bucket q_ngram_jaccard_pairs EXCLUDED from candidate
    generation, with its size and min member — the rows a curation run
    logs/routes to exact-dedup instead. Empty when nothing was capped
    (the normal case). Plain map-side-combinable groupBy; linear."""
    _, bands = _ngram_grams_and_bands(spark, sf_dir)
    return (
        bands.groupBy("band", "bkt")
        .agg(F.count("*").alias("bucket_size"), F.min("doc_id").alias("min_doc"))
        .filter(F.col("bucket_size") > _NGRAM_BUCKET_CAP)
    )


SQL_NGRAM_BAND_OVERFLOW = f"""
WITH {_NGRAM_PAIRS_CTES}
SELECT band, bkt, count(*) AS bucket_size, min(doc_id) AS min_doc
FROM bands_all GROUP BY band, bkt HAVING count(*) > {_NGRAM_BUCKET_CAP}
"""


def q_minhash_recall_audit(spark, sf_dir):
    """Recall audit for the MinHash-band near-dup pipeline — the dedup
    twin of ann_recall_audit ("measure, don't guess" applied to the
    approximation itself): ground truth is EVERY pair with exact
    n-gram Jaccard >= 0.8 (computed over the gram equi-join — a pair
    with J >= 0.8 necessarily shares grams, so the gram join is a
    complete truth superset); each truth pair is flagged `recovered`
    iff the production candidate generator (the same 3-band capped
    bucketing ngram_jaccard_pairs ships) would have surfaced it.
    Overall recall is then sum(recovered)/count(*); per-pair rows are
    emitted so misses are attributable (a miss = all 3 band minima
    differ AND/OR the pair sat in a capped bucket).

    Scale: the CANDIDATE side is the production plan (band equi-join,
    capped buckets). The TRUTH side's gram self-join is O(sum
    bucket^2) over gram buckets and is only tractable on a bounded
    sample — exactly how production audits an index (FAISS-style
    sampled ground truth); at 100 TB this query runs on a 0.01-1%
    doc sample, plan shape unchanged."""
    grams, bands = _ngram_grams_and_bands(spark, sf_dir)
    # production candidates: capped band buckets, same as the main query
    oversized = (
        bands.groupBy("band", "bkt")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > _NGRAM_BUCKET_CAP)
        .select("band", "bkt")
    )
    bandsf = bands.join(F.broadcast(oversized), ["band", "bkt"], "left_anti")
    cand = (
        bandsf.alias("x")
        .join(
            bandsf.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkt") == F.col("y.bkt"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    # exact truth: Jaccard over the gram equi-join, no bands involved
    t_inter = (
        grams.alias("ga")
        .join(
            grams.alias("gb"),
            (F.col("ga.g") == F.col("gb.g"))
            & (F.col("ga.doc_id") < F.col("gb.doc_id")),
        )
        .groupBy(F.col("ga.doc_id").alias("a"), F.col("gb.doc_id").alias("b"))
        .agg(F.count("*").alias("i"))
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    truth = (
        t_inter.join(
            sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a"
        )
        .join(
            sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b"
        )
        .withColumn(
            "jaccard",
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("a", "b", "jaccard")
    )
    return truth.join(cand, ["a", "b"], "left").select(
        "a", "b", "jaccard", F.coalesce("_hit", F.lit(False)).alias("recovered")
    )


SQL_MINHASH_RECALL_AUDIT = f"""
WITH {_NGRAM_PAIRS_CTES}, t_inter AS (
  SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS i
  FROM grams ga JOIN grams gb ON gb.g = ga.g AND ga.doc_id < gb.doc_id
  GROUP BY ga.doc_id, gb.doc_id
), truth AS (
  SELECT a, b, round(i / (sa.n + sb.n - i), 4) AS jaccard
  FROM t_inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
  WHERE round(i / (sa.n + sb.n - i), 4) >= 0.8
)
SELECT t.a, t.b, t.jaccard, (p.a IS NOT NULL) AS recovered
FROM truth t LEFT JOIN pairs p ON p.a = t.a AND p.b = t.b
"""


def q_dedup_clusters(spark, sf_dir):
    """Connected-component duplicate CLUSTERS over the near-dup pair
    graph — the step a training-data dedup pipeline runs after pair
    generation: transitively merge pairs into components, elect the
    min doc_id as the cluster's canonical survivor, drop the rest.

    Edges are the n-gram Jaccard pairs (J >= 0.8, ngram_jaccard_pairs).
    Clustering is iterative min-label propagation: every round each
    vertex takes the min label among itself and its neighbors — one
    equi-join shuffle per round, all JVM-side. Near-dup components are
    near-cliques (every member overlaps the same content), so diameter
    is tiny and this converges in 2-3 rounds; for adversarial
    long-chain graphs use operators.components.cc_alternating_stars
    (large-star/small-star, O(log n) rounds, same join primitive,
    property-tested equal to this path). The driver loop's count()
    per round is loop-termination only.

    Output: (doc_id, cluster, keep) — keep marks the survivor."""
    from python_crawler_spark.operators.components import (
        _ckpt,
        _unpersist,
        cc_label_propagation,
    )

    pairs, pair_ids = _ckpt(  # edges reused every round
        q_ngram_jaccard_pairs(spark, sf_dir).select("a", "b")
    )
    labels = cc_label_propagation(pairs)
    _unpersist(spark, pair_ids)  # final labels are self-checkpointed
    return labels.select(
        "doc_id", "cluster", (F.col("doc_id") == F.col("cluster")).alias("keep")
    )


# Oracle: transitive closure by recursive CTE — every vertex reaches
# the labels of everything in its component; MIN(reached) = the same
# min-label the propagation converges to.
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTES},
edges AS (
  SELECT a AS src, b AS dst FROM pj UNION ALL SELECT b, a FROM pj
),
reach(doc, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.doc
)
SELECT doc AS doc_id, MIN(r) AS cluster, (MIN(r) = doc) AS keep
FROM reach GROUP BY doc
"""


def q_dedup_clusters_stars(spark, sf_dir):
    """Same duplicate-cluster semantics as q_dedup_clusters, computed
    by the large-star/small-star algorithm
    (operators.components.cc_alternating_stars — O(log n) rounds on
    any graph shape, the 100 TB path when the pair graph may contain
    long chains). Shares the transitive-closure oracle: both
    algorithms MUST produce the identical min-label clustering."""
    from python_crawler_spark.operators.components import (
        _ckpt,
        _unpersist,
        cc_alternating_stars,
    )

    pairs, pair_ids = _ckpt(q_ngram_jaccard_pairs(spark, sf_dir).select("a", "b"))
    labels = cc_alternating_stars(pairs)
    _unpersist(spark, pair_ids)  # cc setup consumed the edges eagerly
    return labels.select(
        "doc_id", "cluster", (F.col("doc_id") == F.col("cluster")).alias("keep")
    )


def q_simhash_dedup(spark, sf_dir):
    """SimHash-style grouping: 16-bit signature from per-word hash bit
    votes; groups sharing a signature are near-dup candidates."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    # One 60-bit hash per word, then 16 codegen-friendly bit extracts —
    # instead of 16 separate md5/conv/substring chains per word-row.
    words = words.withColumn(
        "h", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    )
    bits = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(16)
    ]
    votes = words.groupBy("doc_id").agg(*bits)
    sig = votes.select(
        "doc_id",
        F.concat(*[F.when(F.col(f"v{b}") > 0, "1").otherwise("0") for b in range(16)]).alias(
            "simhash"
        ),
    )
    return (
        sig.groupBy("simhash")
        .agg(F.count("*").alias("bucket_size"), F.min("doc_id").alias("min_doc"))
        .filter(F.col("bucket_size") > 1)
    )


_SIMHASH_BITS = ",\n         ".join(
    "sum(CASE WHEN (h >> %d) & 1 = 1 THEN 1 ELSE -1 END) AS v%d" % (b, b)
    for b in range(16)
)
_SIMHASH_CONCAT = " || ".join(
    f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END" for b in range(16)
)
SQL_SIMHASH_DEDUP = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
  FROM words WHERE w <> ''
), votes AS (
  SELECT doc_id,
         {_SIMHASH_BITS}
  FROM hashed GROUP BY doc_id
), sig AS (
  SELECT doc_id, {_SIMHASH_CONCAT} AS simhash FROM votes
)
SELECT simhash, count(*) AS bucket_size, min(doc_id) AS min_doc
FROM sig GROUP BY simhash HAVING count(*) > 1
"""


# -------------------------------------------------------------- similarity


def q_cosine_topk(spark, sf_dir):
    """Brute-force ANN baseline: cosine similarity of every embedding
    vs the vec_id=0 query vector, top-20. Stays JVM-side via
    aggregate/zip_with higher-order functions; at scale the query side
    is a broadcast and the scan prunes to (vec_id, embedding)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dot = F.expr(
        "aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm = F.expr(
        "sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    qnrm = F.expr(
        "sqrt(aggregate(qv, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    sims = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(dot / (nrm * qnrm), 4).alias("cosine"))
    )
    # take the top-20 FIRST (TakeOrderedAndProject, fully distributed),
    # then rank the 20 survivors — no global single-partition window.
    top = sims.orderBy(F.desc("cosine"), "vec_id").limit(20)
    w = Window.orderBy(F.desc("cosine"), "vec_id")
    return top.withColumn("rk", F.row_number().over(w))


SQL_COSINE_TOPK = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
zipped AS (
  SELECT e.vec_id,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(q.qv) AS DOUBLE) AS y
  FROM embeddings e, q WHERE e.vec_id <> 0
),
sims AS (
  SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cosine
  FROM zipped GROUP BY vec_id
)
SELECT vec_id, cosine, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rk
FROM sims ORDER BY cosine DESC, vec_id LIMIT 20
"""


def q_lsh_bucket_stats(spark, sf_dir):
    """LSH-bucketed ANN scale path: random-hyperplane-free signature
    (signs of the first 8 dimensions); bucket population stats."""
    emb = _t(spark, sf_dir, "embeddings")
    sig = F.concat(
        *[
            F.when(F.element_at("embedding", i + 1) > 0, "1").otherwise("0")
            for i in range(8)
        ]
    )
    return (
        emb.select(sig.alias("bucket"), "label")
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.countDistinct("label").alias("n_labels"))
    )


SQL_LSH_BUCKET_STATS = """
SELECT {sig} AS bucket, count(*) AS n, count(DISTINCT label) AS n_labels
FROM embeddings GROUP BY 1
""".format(
    sig=" || ".join(
        f"CASE WHEN embedding[{i+1}] > 0 THEN '1' ELSE '0' END" for i in range(8)
    )
)


# ----------------------------------------------------------- text analysis


def q_token_quality(spark, sf_dir):
    """Quality scoring: token count, stopword ratio, mean word length
    — averaged per lang (training-data filters)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tok = F.size(words)
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.expr(f"size(filter(split(text, ' '), w -> w IN ({stop_list})))")
    d = docs.select(
        "lang",
        n_tok.alias("n_tok"),
        (n_stop / n_tok).alias("stop_ratio"),
        (F.length("text") / n_tok).alias("wlen"),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        F.round(F.avg("stop_ratio"), 4).alias("avg_stop_ratio"),
        F.round(F.avg("wlen"), 4).alias("avg_wlen"),
    )


SQL_TOKEN_QUALITY = f"""
SELECT lang, count(*) AS n_docs,
       round(avg(n_tok), 4) AS avg_tokens,
       round(avg(stop_ratio), 4) AS avg_stop_ratio,
       round(avg(wlen), 4) AS avg_wlen
FROM (
  SELECT lang,
         len(string_split(text, ' ')) AS n_tok,
         CAST(len(list_filter(string_split(text, ' '), w -> w IN ({', '.join(repr(s) for s in STOPWORDS)}))) AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio,
         CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS wlen
  FROM documents)
GROUP BY lang
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: hash of the first 8 words (shingle
    prefix) — dedup key for near-identical heads."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.expr("slice(split(text, ' '), 1, 8)")))
    return docs.select("doc_id", fp.alias("fingerprint"))


SQL_DOC_FINGERPRINT = """
SELECT doc_id, md5(array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')) AS fingerprint
FROM documents
"""


def q_lang_id_heuristic(spark, sf_dir):
    """Language-ID heuristic: stopword-hit voting (the real n-gram
    model is the same shape: per-doc token stats -> argmax)."""
    docs = _t(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    hits = F.expr(f"size(filter(split(text, ' '), w -> w IN ({stop_list})))")
    pred = F.when(hits >= 3, "en").otherwise("unknown")
    return docs.select("doc_id", pred.alias("pred_lang"), "lang")


SQL_LANG_ID_HEURISTIC = f"""
SELECT doc_id,
       CASE WHEN len(list_filter(string_split(text, ' '), w -> w IN ({', '.join(repr(s) for s in STOPWORDS)}))) >= 3
            THEN 'en' ELSE 'unknown' END AS pred_lang,
       lang
FROM documents
"""


def q_title_rules(spark, sf_dir):
    """F5/F6 analog on documents.text: strip a leading 'the ' once
    (anchored replace-first), drop docs containing both 'slow' and
    'fast' (conjunctive ad filter F11)."""
    docs = _t(spark, sf_dir, "documents")
    cleaned = F.trim(F.regexp_replace("text", "^the ", ""))
    kept = docs.filter(
        ~(F.col("text").contains("slow") & F.col("text").contains("fast"))
    )
    return kept.select("doc_id", F.substring(cleaned, 1, 30).alias("head"))


SQL_TITLE_RULES = """
SELECT doc_id, substr(trim(regexp_replace(text, '^the ', '')), 1, 30) AS head
FROM documents
WHERE NOT (text LIKE '%slow%' AND text LIKE '%fast%')
"""


# ------------------------------------------------------- url/string/scalar


def q_url_kernel(spark, sf_dir):
    """X2/X3 analog: build a synthetic image URL per doc, extract the
    3rd path segment (signature) and the wx_fmt query param with a
    default — regexp on both engines."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://mmbiz.qpic.cn/mmbiz/SIG"),
        F.col("doc_id").cast("string"),
        F.lit("/640"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("?wx_fmt="), F.col("lang"))).otherwise(
            F.lit("")
        ),
    )
    d = docs.select("doc_id", url.alias("url"))
    sig = F.regexp_extract("url", r"^[a-z]+://[^/]+/([^/]+)/([^/?]+)", 2)
    fmt = F.when(
        F.regexp_extract("url", r"[?&]wx_fmt=([^&]+)", 1) != "",
        F.regexp_extract("url", r"[?&]wx_fmt=([^&]+)", 1),
    ).otherwise("jpg")
    return d.select("doc_id", "url", sig.alias("sig"), fmt.alias("fmt"))


SQL_URL_KERNEL = """
WITH d AS (
  SELECT doc_id,
         'http://mmbiz.qpic.cn/mmbiz/SIG' || CAST(doc_id AS VARCHAR) || '/640'
         || CASE WHEN doc_id % 3 = 0 THEN '?wx_fmt=' || lang ELSE '' END AS url
  FROM documents)
SELECT doc_id, url,
       regexp_extract(url, '^[a-z]+://[^/]+/([^/]+)/([^/?]+)', 2) AS sig,
       CASE WHEN regexp_extract(url, '[?&]wx_fmt=([^&]+)', 1) <> ''
            THEN regexp_extract(url, '[?&]wx_fmt=([^&]+)', 1) ELSE 'jpg' END AS fmt
FROM d
"""


def q_pagination_gen(spark, sf_dir):
    """X5 analog: explode sequence(1, n) -> page URLs, n from the row;
    range EXCLUDES the bound like chuansongmen.py:65."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    mp = (F.col("o_orderkey") % 4 + 2).cast("int")
    pages = orders.select(
        "o_orderkey", F.explode(F.sequence(F.lit(1), mp - 1)).alias("pg")
    )
    return pages.select(
        "o_orderkey",
        "pg",
        F.concat(
            F.lit("http://s/account/"),
            F.col("o_orderkey").cast("string"),
            F.lit("?start="),
            ((F.col("pg") - 1) * 12).cast("string"),
        ).alias("page_url"),
    )


SQL_PAGINATION_GEN = """
SELECT o_orderkey, pg,
       'http://s/account/' || CAST(o_orderkey AS VARCHAR) || '?start=' || CAST((pg - 1) * 12 AS VARCHAR) AS page_url
FROM orders, unnest(generate_series(1, CAST(o_orderkey % 4 + 2 AS INT) - 1)) AS t(pg)
WHERE o_orderkey <= 200
"""


def q_blacklist_filter(spark, sf_dir):
    """F3 analog: drop blacklisted segments (broadcast isin), count
    survivors per nation."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.filter(~F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"), F.round(F.sum("c_acctbal"), 4).alias("bal"))
    )


SQL_BLACKLIST_FILTER = """
SELECT c_nationkey, count(*) AS n, round(sum(c_acctbal), 4) AS bal
FROM customer WHERE c_mktsegment NOT IN ('BUILDING', 'AUTOMOBILE')
GROUP BY c_nationkey
"""


def q_small_threshold(spark, sf_dir):
    """F16 analog: inclusive <= 2800 size classification."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("small", F.col("n_chars") <= 2800)
        .groupBy("source", "small")
        .agg(F.count("*").alias("n"), F.round(F.avg("n_chars"), 4).alias("avg_chars"))
    )


SQL_SMALL_THRESHOLD = """
SELECT source, n_chars <= 2800 AS small, count(*) AS n, round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY 1, 2
"""


# ----------------------------------------------------- joins / aggregations


def q_tpch_q1(spark, sf_dir):
    """Aggregation flagship (TPC-H Q1 shape): wide agg after a pushed
    filter — WholeStageCodegen end to end."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_star_join_revenue(spark, sf_dir):
    """Star join: revenue per nation (broadcast dims, shuffle fact).
    nation/region are broadcast; at 100TB orders buckets by custkey."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


SQL_STAR_JOIN_REVENUE = """
SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_salted_skew_agg(spark, sf_dir):
    """Two-stage salted aggregation for skewed keys (north_rule skew
    handling as a query): partial sums per (key, salt) then re-agg —
    result equals the plain groupBy; the shape is what survives a
    hot-key 100x scale-up."""
    ev = _t(spark, sf_dir, "events")
    salted = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "salt").agg(
        F.sum("value").alias("pv"), F.count("*").alias("pc")
    )
    return partial.groupBy("event_type").agg(
        F.round(F.sum("pv"), 4).alias("total_value"),
        F.sum("pc").alias("n"),
    )


SQL_SALTED_SKEW_AGG = """
SELECT event_type, round(sum(value), 4) AS total_value, count(*) AS n
FROM events GROUP BY event_type
"""


def q_last_element(spark, sf_dir):
    """A4 analog: element_at(arr, -1) — last word of each doc."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.element_at(F.split("text", " "), -1).alias("last_word")
    )


SQL_LAST_ELEMENT = """
SELECT doc_id, string_split(text, ' ')[-1] AS last_word FROM documents
"""


def q_json_props_extract(spark, sf_dir):
    """X9 analog (weixin_public.py:331-332 JSON field extract): pull
    the integer k out of the props JSON per event, average per type.
    get_json_object stays JVM-side (Jackson path eval, codegen)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count("*").alias("n"),
    )


SQL_JSON_PROPS_EXTRACT = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
       count(*) AS n
FROM events GROUP BY event_type
"""


def q_rollup_metrics(spark, sf_dir):
    """A6/K7 analog: per-round crawl metrics as a ROLLUP over
    (event_type, host-bucket) — subtotal rows are what the metrics
    table reports per round and per bucket (grouping-sets coverage)."""
    ev = _t(spark, sf_dir, "events")
    b = F.concat(F.lit("b"), (F.col("user_id") % 10).cast("string"))
    return (
        ev.select("event_type", b.alias("bucket"), "value")
        .rollup("event_type", "bucket")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("v"))
    )


SQL_ROLLUP_METRICS = """
SELECT event_type, 'b' || CAST(user_id % 10 AS VARCHAR) AS bucket,
       count(*) AS n, round(sum(value), 4) AS v
FROM events GROUP BY ROLLUP(event_type, bucket)
"""


def q_transpose_zip(spark, sf_dir):
    """D12 analog (tianyan_extractor.py:133-157 staff-table transpose):
    zip two parallel rows (here: words 1-5 as names, words 6-10 as
    titles) pairwise; docs shorter than 10 words bail out exactly like
    the reference's unequal-row-length guard."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    d = docs.select("doc_id", ws.alias("ws")).filter(F.size("ws") >= 10)
    z = d.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ws", 1, 5).alias("nm"), F.slice("ws", 6, 5).alias("ti")
            )
        ).alias("p"),
    )
    return z.select("doc_id", F.col("p.nm").alias("nm"), F.col("p.ti").alias("ti"))


SQL_TRANSPOSE_ZIP = """
SELECT doc_id,
       unnest(list_slice(ws, 1, 5)) AS nm,
       unnest(list_slice(ws, 6, 10)) AS ti
FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
WHERE len(ws) >= 10
"""


def q_suffix_edit(spark, sf_dir):
    """X8 analog (weixin_public.py:339-343): insert '_L' before the
    extension unless the item is small (n_chars <= 2800, F16)."""
    docs = _t(spark, sf_dir, "documents")
    fname = F.concat(F.lit("doc"), F.col("doc_id").cast("string"), F.lit(".txt"))
    big = F.regexp_replace(fname, r"\.([^.]+)$", r"_L.$1")
    return docs.select(
        "doc_id",
        F.when(F.col("n_chars") <= 2800, fname).otherwise(big).alias("fname"),
    )


SQL_SUFFIX_EDIT = r"""
SELECT doc_id,
       CASE WHEN n_chars <= 2800
            THEN 'doc' || CAST(doc_id AS VARCHAR) || '.txt'
            ELSE regexp_replace('doc' || CAST(doc_id AS VARCHAR) || '.txt', '\.([^.]+)$', '_L.\1')
       END AS fname
FROM documents
"""


def q_ivf_ann(spark, sf_dir):
    """IVF-style ANN (similarity-search scale path): vectors with
    vec_id 1..4 act as coarse centroids; every vector is assigned to
    its nearest centroid (argmax cosine); the query (vec_id=0) probes
    ONLY its own cluster and returns the top-5. At 10^10 vectors the
    centroid pass is a broadcast cross join + argmax (no shuffle of
    the big side) and the probe prunes to one cluster's partitions —
    same plan shape as here."""
    emb = _t(spark, sf_dir, "embeddings")

    def dot(a, b):
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    def nrm(a):
        return F.expr(
            f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE),"
            " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        )

    cents = emb.filter(F.col("vec_id").between(1, 4)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), "cid")
    assign = (
        emb.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "embedding",
            "cid",
            (dot("embedding", "cv") / (nrm("embedding") * nrm("cv"))).alias("csim"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "embedding", "cid")
    )
    q = assign.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("cid").alias("qcid")
    )
    probe = (
        assign.join(F.broadcast(q), F.col("cid") == F.col("qcid"))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(dot("embedding", "qv") / (nrm("embedding") * nrm("qv")), 4).alias(
                "cosine"
            ),
        )
    )
    return probe.orderBy(F.desc("cosine"), "vec_id").limit(5)


SQL_IVF_ANN = """
WITH pairs AS (
  SELECT e.vec_id, c.vec_id AS cid,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(c.embedding) AS DOUBLE) AS y
  FROM embeddings e JOIN embeddings c ON c.vec_id BETWEEN 1 AND 4
), csims AS (
  SELECT vec_id, cid,
         sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS csim
  FROM pairs GROUP BY vec_id, cid
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
    FROM csims) WHERE rk = 1
), qrow AS (
  SELECT cid AS qcid FROM assign WHERE vec_id = 0
), qpairs AS (
  SELECT a.vec_id,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(q.embedding) AS DOUBLE) AS y
  FROM assign a
  JOIN qrow ON a.cid = qrow.qcid
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN embeddings q ON q.vec_id = 0
  WHERE a.vec_id <> 0
)
SELECT vec_id,
       round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cosine
FROM qpairs GROUP BY vec_id
ORDER BY cosine DESC, vec_id LIMIT 5
"""


def q_ann_recall_audit(spark, sf_dir):
    """Recall audit for the ANN scale path — "measure, don't guess"
    applied to the approximate operator itself: for each of 8 query
    vectors (vec_id < 8), recall@20 of the IVF single-probe top-k
    (same centroid scheme as `ivf_ann`: vec_id 1..4 are the coarse
    centroids) against the brute-force exact top-20. This is the audit
    every production ANN deployment runs on a sampled query set before
    trusting the index (FAISS's standard recall@k methodology).

    Engine-agreement contract: ranking keys are the 4dp-rounded cosine
    with vec_id as the deterministic tie-break, so both engines rank
    identical keys (the raw-double assignment argmax follows the same
    accepted pattern as `ivf_ann`). Scale: the corpus is scanned once
    into (query, candidate) pairs against a broadcast 8-row query set;
    windows partition by qid (one partition per query — the audit's
    parallelism is the query-sample size, and production audits sample
    hundreds of queries, not the corpus); centroid assignment is the
    same broadcast argmax as `ivf_ann`. No cartesian on the big side,
    no forced broadcast of anything unbounded."""
    emb = _t(spark, sf_dir, "embeddings")

    def dot(a, b):
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    def nrm(a):
        return F.expr(
            f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE),"
            " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        )

    k = 20
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    pairs = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "embedding",
            F.round(dot("embedding", "qv") / (nrm("embedding") * nrm("qv")), 4).alias(
                "cosine"
            ),
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    exact = (
        pairs.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= k)
        .select("qid", "vec_id")
    )
    # IVF side: nearest-centroid assignment (vec_id 1..4), single probe
    cents = emb.filter(F.col("vec_id").between(1, 4)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    wa = Window.partitionBy("vec_id").orderBy(F.desc("csim"), "cid")
    assign = (
        emb.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cid",
            (dot("embedding", "cv") / (nrm("embedding") * nrm("cv"))).alias("csim"),
        )
        .withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cid")
    )
    qassign = assign.withColumnRenamed("vec_id", "qid").withColumnRenamed(
        "cid", "qcid"
    ).filter(F.col("qid") < 8)
    probed = (
        pairs.join(assign, "vec_id")
        .join(F.broadcast(qassign), "qid")
        .filter(F.col("cid") == F.col("qcid"))
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= k)
        .select("qid", "vec_id")
    )
    hits = exact.join(probed, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count("*").alias("hits")
    )
    return (
        qs.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.round(F.coalesce("hits", F.lit(0)) / F.lit(float(k)), 4).alias(
                "recall_at_k"
            ),
        )
    )


SQL_ANN_RECALL_AUDIT = """
WITH qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8
), pr AS (
  SELECT q.qid, e.vec_id,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(q.qv) AS DOUBLE) AS y
  FROM embeddings e JOIN qs q ON e.vec_id <> q.qid
), pairs AS (
  SELECT qid, vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cosine
  FROM pr GROUP BY qid, vec_id
), exact AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
    FROM pairs) WHERE rk <= 20
), cp AS (
  SELECT e.vec_id, c.vec_id AS cid,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(c.embedding) AS DOUBLE) AS y
  FROM embeddings e JOIN embeddings c ON c.vec_id BETWEEN 1 AND 4
), csims AS (
  SELECT vec_id, cid,
         sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS csim
  FROM cp GROUP BY vec_id, cid
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
    FROM csims) WHERE rk = 1
), probed AS (
  SELECT qid, vec_id FROM (
    SELECT p.qid, p.vec_id,
           row_number() OVER (PARTITION BY p.qid ORDER BY p.cosine DESC, p.vec_id) AS rk
    FROM pairs p
    JOIN assign a ON a.vec_id = p.vec_id
    JOIN assign qa ON qa.vec_id = p.qid
    WHERE a.cid = qa.cid) WHERE rk <= 20
), hits AS (
  SELECT e.qid, count(*) AS hits
  FROM exact e JOIN probed b ON e.qid = b.qid AND e.vec_id = b.vec_id
  GROUP BY e.qid
)
SELECT qs.qid,
       COALESCE(h.hits, 0) AS hits,
       round(COALESCE(h.hits, 0) / 20.0, 4) AS recall_at_k
FROM qs LEFT JOIN hits h ON h.qid = qs.qid
"""


_PH_BITS = 60
_PH_BANDS = 10          # bands > threshold ⇒ pigeonhole-exact recall
_PH_BAND_BITS = _PH_BITS // _PH_BANDS
_PH_THRESH = 9


def _phash_signatures(docs):
    """60-bit simhash-style perceptual signature per document (the
    input_hint ``phash:int64`` analog: similar content ⇒ small Hamming
    distance). One 60-bit hash per word (single md5+conv, bit-extracts
    stay in codegen), per-bit ±1 votes aggregated per doc."""
    words = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    words = words.withColumn(
        "h", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    )
    votes = words.groupBy("doc_id", "source").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(_PH_BITS)
        ]
    )
    ph = None
    for b in range(_PH_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.expr(f"shiftleft(CAST(1 AS BIGINT), {b})")).otherwise(
            F.lit(0).cast("long")
        )
        ph = bit if ph is None else ph + bit
    return votes.select("doc_id", "source", ph.alias("ph"))


def q_phash_hamming(spark, sf_dir):
    """Image near-dup analog (input_hint phash:int64 column): 60-bit
    perceptual signature per doc, near-dup pairs within the same
    source at Hamming distance <= 9, found via banded LSH — the
    Manku/SimHash production design. The signature is split into 10
    bands of 6 bits; by pigeonhole, any pair at Hamming <= 9 agrees
    exactly on at least one band, so the band equi-join (source,
    band_idx, band_value) has EXACT recall while never materializing
    the all-pairs space. Candidates are confirmed with the exact
    bit_count and deduped (a pair can share multiple bands).
    Reference analog: pic-signature matching, weixin_public.py:66-106.
    """
    d = _phash_signatures(_t(spark, sf_dir, "documents"))
    bands = d.select(
        "doc_id",
        "source",
        "ph",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"shiftright(ph, {_PH_BAND_BITS * b}) & {2 ** _PH_BAND_BITS - 1}")
                    for b in range(_PH_BANDS)
                ]
            )
        ).alias("bi", "bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.ph").bitwiseXOR(F.col("b.ph")))
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.source").alias("source"),
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= _PH_THRESH)
        .distinct()
    )


_PH_VOTE_SQL = ",\n         ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(_PH_BITS)
)
_PH_SIG_SQL = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN CAST(1 AS BIGINT) << {b} ELSE 0 END)"
    for b in range(_PH_BITS)
)
# CTE body shared by SQL_PHASH_HAMMING and SQL_PHASH_CLUSTERS
_PH_PAIRS_CTES = f"""words AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents
), hashed AS (
  SELECT doc_id, source, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
  FROM words WHERE w <> ''
), votes AS (
  SELECT doc_id, source, {_PH_VOTE_SQL}
  FROM hashed GROUP BY doc_id, source
), d AS (
  SELECT doc_id, source, {_PH_SIG_SQL} AS ph FROM votes
), bands AS (
  SELECT doc_id, source, ph, t.bi AS bi,
         (ph >> ({_PH_BAND_BITS} * t.bi)) & {2 ** _PH_BAND_BITS - 1} AS bv
  FROM d, (SELECT unnest(generate_series(0, {_PH_BANDS - 1})) AS bi) t
), ppairs AS (
  SELECT DISTINCT a.source AS source, a.doc_id AS da, b.doc_id AS db,
         bit_count(xor(a.ph, b.ph)) AS hamming
  FROM bands a JOIN bands b
    ON a.source = b.source AND a.bi = b.bi AND a.bv = b.bv
   AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.ph, b.ph)) <= {_PH_THRESH}
)"""

SQL_PHASH_HAMMING = f"""
WITH {_PH_PAIRS_CTES}
SELECT source, da, db, hamming FROM ppairs
"""


def q_phash_clusters(spark, sf_dir):
    """Image-duplicate CLUSTERS (the image-side twin of
    dedup_clusters): connected components over the phash Hamming pair
    graph (phash_hamming — 60-bit perceptual signature, banded-LSH
    pairs at Hamming <= 9 within source), min doc_id elected as each
    cluster's canonical survivor.

    Unlike n-gram Jaccard components (near-cliques), Hamming-ball
    graphs CHAIN: A~B and B~C at distance 9 while A vs C is 18, so
    component diameter is unbounded — alternating large-star/
    small-star (operators.components.cc_alternating_stars, Kiveris et
    al. 2014, O(log n) rounds) is the right default here, not
    propagation. Edges reuse the banded pair join (plan-asserted
    non-cartesian in tests/test_queries_contract.py).

    Output: (doc_id, cluster, keep) — keep marks the survivor."""
    from python_crawler_spark.operators.components import (
        _ckpt,
        _unpersist,
        cc_alternating_stars,
    )

    pairs, pair_ids = _ckpt(  # edges read twice by cc setup
        q_phash_hamming(spark, sf_dir).select(
            F.col("da").alias("a"), F.col("db").alias("b")
        )
    )
    labels = cc_alternating_stars(pairs)
    # cc_alternating_stars consumed the edges eagerly (its own setup
    # checkpoints are what the returned plan reads) — free the pair
    # checkpoint now instead of leaking one persistent RDD per
    # invocation to the GC-driven ContextCleaner (ADVICE r3 #5)
    _unpersist(spark, pair_ids)
    return labels.select(
        "doc_id", "cluster", (F.col("doc_id") == F.col("cluster")).alias("keep")
    )


# Oracle: same recursive-CTE transitive closure as SQL_DEDUP_CLUSTERS,
# over the phash pair graph.
SQL_PHASH_CLUSTERS = f"""
WITH RECURSIVE {_PH_PAIRS_CTES},
edges AS (
  SELECT da AS src, db AS dst FROM ppairs UNION ALL SELECT db, da FROM ppairs
),
reach(doc, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.doc
)
SELECT doc AS doc_id, MIN(r) AS cluster, (MIN(r) = doc) AS keep
FROM reach GROUP BY doc
"""


def q_embed_cosine_dedup(spark, sf_dir):
    """Embedding-cosine near-dup: candidate pairs from the sign-LSH
    bucket (first 8 dims), exact cosine on candidates only, pairs with
    cosine >= 0.3 (the synthetic embeddings are random 64-dim;
    real near-dup corpora use ~0.95). The all-pairs space never materializes — the
    bucket equi-join prunes it (same band-join shape as MinHash); at
    corpus scale the bucket width tunes the candidate volume."""
    emb = _t(spark, sf_dir, "embeddings")
    sig = F.concat(
        *[
            F.when(F.element_at("embedding", i + 1) > 0, "1").otherwise("0")
            for i in range(8)
        ]
    )
    d = emb.select("vec_id", "embedding", sig.alias("bkt"))
    a, b = d.alias("a"), d.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a.embedding, b.embedding,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm_a = F.expr(
        "sqrt(aggregate(a.embedding, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    nrm_b = F.expr(
        "sqrt(aggregate(b.embedding, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    pairs = a.join(
        b,
        (F.col("a.bkt") == F.col("b.bkt")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("va"),
        F.col("b.vec_id").alias("vb"),
        F.round(dot / (nrm_a * nrm_b), 4).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= 0.3)


_AUDIT_SAMPLE = 128


def q_embed_dedup_recall_audit(spark, sf_dir):
    """Recall audit for the sign-LSH embedding dedup — completing the
    audit triple beside ann_recall_audit (IVF) and
    minhash_recall_audit (text LSH): on a FIXED-SIZE audit sample
    (vec_id < 128 — bounded by construction, so the exact all-pairs
    truth side is a broadcast nested-loop over ~8k pairs, the same
    bounded-broadcast shape as the ANN audit), ground truth is every
    pair with exact cosine >= 0.3; each is flagged `recovered` iff the
    production sign-LSH bucketing (first-8-dim sign signature,
    embed_cosine_dedup) co-buckets it. Misses are exactly the pairs
    whose first-8 signs differ — the quantity a curator tunes the
    signature width against.

    The synthetic random 64-dim vectors make measured recall LOW at
    this threshold (cos 0.3 barely correlates with 8 sign agreements)
    — which is the audit working: real near-dup corpora audit at
    ~0.95 cosine where sign-LSH recall is high, and THIS query is how
    they'd know. Scale: both sides are the bounded sample; production
    samples k vectors the same way — plan shape is sample-size-, not
    corpus-, dependent."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _AUDIT_SAMPLE)
    sig = F.concat(
        *[
            F.when(F.element_at("embedding", i + 1) > 0, "1").otherwise("0")
            for i in range(8)
        ]
    )
    d = emb.select("vec_id", "embedding", sig.alias("bkt"))
    a, b = d.alias("a"), F.broadcast(d.alias("b"))
    dot = F.expr(
        "aggregate(zip_with(a.embedding, b.embedding,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm = "sqrt(aggregate({s}.embedding, CAST(0.0 AS DOUBLE)," \
          " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    truth = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.round(
                dot / (F.expr(nrm.format(s="a")) * F.expr(nrm.format(s="b"))), 4
            ).alias("cosine"),
            (F.col("a.bkt") == F.col("b.bkt")).alias("recovered"),
        )
        .filter(F.col("cosine") >= 0.3)
    )
    return truth


SQL_EMBED_DEDUP_RECALL_AUDIT = f"""
WITH d AS (
  SELECT vec_id, embedding,
         {" || ".join(f"CASE WHEN embedding[{i + 1}] > 0 THEN '1' ELSE '0' END" for i in range(8))} AS bkt
  FROM embeddings WHERE vec_id < {_AUDIT_SAMPLE}
), pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, a.bkt = b.bkt AS recovered,
         CAST(unnest(a.embedding) AS DOUBLE) AS x,
         CAST(unnest(b.embedding) AS DOUBLE) AS y
  FROM d a JOIN d b ON a.vec_id < b.vec_id
)
SELECT va, vb,
       round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cosine,
       recovered
FROM pairs GROUP BY va, vb, recovered
HAVING round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) >= 0.3
"""


_SIG_SQL = " || ".join(
    f"CASE WHEN embedding[{i+1}] > 0 THEN '1' ELSE '0' END" for i in range(8)
)
SQL_EMBED_COSINE_DEDUP = f"""
WITH d AS (
  SELECT vec_id, embedding, {_SIG_SQL} AS bkt FROM embeddings
), cand AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(unnest(a.embedding) AS DOUBLE) AS x,
         CAST(unnest(b.embedding) AS DOUBLE) AS y
  FROM d a JOIN d b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
)
SELECT va, vb,
       round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cosine
FROM cand GROUP BY va, vb
HAVING round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) >= 0.3
"""


def q_streaming_fetch_plan(spark, sf_dir):
    """Structured Streaming end-to-end: events rows become a frontier
    drop-dir stream; the foreachBatch bridge runs each micro-batch
    through the SAME batch operators (first-occurrence dedup -> seen
    anti-join -> priority schedule), one epoch-keyed plan directory
    per micro-batch; returns the concatenated fetch plan.

    Driver-oracled (round-2 verdict #3): only the foreachBatch
    MECHANICS are non-SQL — the derived rows are plain window SQL
    (rank + exclusive cumsum over the priority tuple), so the oracle
    recomputes them directly over `events`. Round 4: the one-batch pin
    is GONE — the drop dir is four priority-range-partitioned files
    ingested one per trigger (staggered mtimes fix the ingestion
    order), so FOUR micro-batches run and the oracle match proves the
    bridge's cross-batch sequence continuity (per-source offsets
    aggregated from the earlier epochs' plans,
    frontier_stream.run_micro_batches). Remaining determinism
    requirements: files are contiguous priority ranges in
    ingestion order (continuity's documented in-order-arrival
    contract), and (page_no, link_idx) = divmod(event_id, 100) makes
    the priority tuple total — no rank ties for task timing to break.
    Projection excludes the xxhash64-derived columns (key_hash,
    host_salt/rank): Spark's xxhash64 is not reproducible in DuckDB
    SQL; those columns are oracle-checked elsewhere (url_kernel,
    frontier_schedule) and pinned by the e2e simulator tests."""
    import tempfile

    from python_crawler_spark.streaming.frontier_stream import (
        STREAM_SCHEMA,
        run_micro_batches,
        streaming_enrich,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    rows = ev.select(
        F.concat(
            F.lit("http://h"), (F.col("user_id") % 50).cast("string"),
            F.lit(".example.com/n/"), F.col("event_id").cast("string"),
        ).alias("url"),
        F.lit("chuansongmen").alias("source"),
        F.lit("stream").alias("name"),
        F.col("user_id").cast("int").alias("seed_id"),
        F.col("user_id").cast("int").alias("line_no"),
        F.lit(2).alias("stage"),
        (F.col("event_id") / 100).cast("int").alias("page_no"),
        (F.col("event_id") % 100).cast("int").alias("link_idx"),
        F.lit(0).alias("attempt"),
        F.lit(1).alias("depth"),
        F.lit("").alias("title"),
        F.lit("").alias("summary"),
        F.lit("").alias("cover"),
        F.lit(3.0).alias("crawl_delay"),
        F.col("ts").alias("discovered_at"),
    )
    from python_crawler_spark.plans.crawl import with_fetch_identity

    rows = with_fetch_identity(rows).select(*[f.name for f in STREAM_SCHEMA.fields])
    base = tempfile.mkdtemp(prefix="pcs_stream_")
    drop, out, ckpt = f"{base}/drop", f"{base}/out", f"{base}/ckpt"
    # four contiguous priority ranges, one FILE each, mtime-staggered
    # so the stream ingests them in priority order -> 4 micro-batches
    import glob as _glob
    import os as _os
    import shutil as _shutil

    staging = f"{base}/staging"
    rows.repartitionByRange(4, "line_no", "page_no", "link_idx").write.mode(
        "overwrite"
    ).parquet(staging)
    _os.makedirs(drop, exist_ok=True)
    t0 = 1_700_000_000
    for i, part in enumerate(sorted(_glob.glob(f"{staging}/part-*.parquet"))):
        dst = f"{drop}/f{i}.parquet"
        _shutil.copy(part, dst)
        _os.utime(dst, (t0 + i, t0 + i))
    seen = spark.createDataFrame([], "key_hash long")
    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    enriched = streaming_enrich(stream.select(*[f.name for f in STREAM_SCHEMA.fields]))
    q = run_micro_batches(enriched, seen, out, ckpt).start()
    q.awaitTermination()
    plan = spark.read.parquet(out)
    return plan.select(
        "url", "host", "ref_seq",
        F.round("ref_virtual_ts", 3).alias("ref_virtual_ts"),
    ).orderBy("ref_seq")


# The streaming bridge's DERIVED ROWS are plain window SQL: all rows
# share one source (rank const) and pass dedup (event_id unique, seen
# empty), so ref_seq = rank over (line_no=user_id, page_no, link_idx)
# and ref_virtual_ts = 3.0 * (rank - 1) (constant crawl_delay).
SQL_STREAMING_FETCH_PLAN = """
WITH rows_ AS (
  SELECT
    'http://h' || CAST(user_id % 50 AS VARCHAR) || '.example.com/n/'
      || CAST(event_id AS VARCHAR) AS url,
    'h' || CAST(user_id % 50 AS VARCHAR) || '.example.com' AS host,
    user_id AS line_no,
    event_id // 100 AS page_no,
    event_id % 100 AS link_idx
  FROM events WHERE event_id < 2000
)
SELECT
  url,
  host,
  ROW_NUMBER() OVER (ORDER BY line_no, page_no, link_idx) AS ref_seq,
  CAST(3.0 AS DOUBLE)
    * (ROW_NUMBER() OVER (ORDER BY line_no, page_no, link_idx) - 1)
    AS ref_virtual_ts
FROM rows_
ORDER BY ref_seq
"""


_ROBOTS_PREFIX_RULES = [
    # longest-match exercise: blanket deny with a longer allow carve-out
    ("h1.example.com", "/n/", "deny"),
    ("h1.example.com", "/n/1", "allow"),
    # deny-everything host
    ("h2.example.com", "/", "deny"),
    # allow with a longer deny carve-out
    ("h3.example.com", "/n/", "allow"),
    ("h3.example.com", "/n/4", "deny"),
    # exact length tie -> allow wins (RFC 9309 §2.2.2)
    ("h4.example.com", "/n/2", "deny"),
    ("h4.example.com", "/n/2", "allow"),
]


def q_robots_prefix_gate(spark, sf_dir):
    """J8 with RFC 9309 longest-match semantics: synthetic frontier
    URLs from events, per-host allow/deny path-prefix rules, longest
    prefix wins, allow wins ties, no-match allows. The decision is a
    pure expression over a broadcast per-host rule array
    (operators/gating.robots_prefix_gate) — the frontier side is never
    shuffled or windowed."""
    from .operators.gating import RULES_SCHEMA, robots_prefix_gate

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    host = F.concat(
        F.lit("h"), (F.col("user_id") % 10).cast("string"), F.lit(".example.com")
    )
    f = ev.select(
        F.concat(
            F.lit("http://"), host, F.lit("/n/"), F.col("event_id").cast("string")
        ).alias("url"),
        host.alias("host"),
    )
    rules = spark.createDataFrame(
        [("robots_prefix", h, p, a) for h, p, a in _ROBOTS_PREFIX_RULES],
        RULES_SCHEMA,
    )
    return robots_prefix_gate(f, rules).groupBy("host").agg(
        F.count("*").alias("n_allowed")
    )


_ROBOTS_WILDCARD_RULES = [
    # '*' run: deny anything under /n/ containing a 7, allow the
    # longer 77 carve-out
    ("h1.example.com", "/n/*7", "deny"),
    ("h1.example.com", "/n/*77", "allow"),
    # trailing '$': deny only paths ENDING in 9
    ("h2.example.com", "/n/*9$", "deny"),
    # exact length tie -> allow wins
    ("h3.example.com", "/n/1*", "deny"),
    ("h3.example.com", "/n/1*", "allow"),
    # blanket deny
    ("h4.example.com", "/*", "deny"),
]


def q_robots_wildcard(spark, sf_dir):
    """J8 with full RFC 9309 §2.2.3 specials: `*` any-run, trailing
    `$` end-anchor, longest-pattern wins, allow wins ties. Same
    broadcast rule-array / codegen argmax shape as robots_prefix_gate
    (operators/gating.robots_wildcard_gate) — the frontier side is
    never shuffled; rules translate to SQL LIKE patterns once on the
    tiny rules side."""
    from .operators.gating import RULES_SCHEMA, robots_wildcard_gate

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    host = F.concat(
        F.lit("h"), (F.col("user_id") % 10).cast("string"), F.lit(".example.com")
    )
    f = ev.select(
        F.concat(
            F.lit("http://"), host, F.lit("/n/"), F.col("event_id").cast("string")
        ).alias("url"),
        host.alias("host"),
    )
    rules = spark.createDataFrame(
        [("robots_wildcard", h, p, a) for h, p, a in _ROBOTS_WILDCARD_RULES],
        RULES_SCHEMA,
    )
    return robots_wildcard_gate(f, rules).groupBy("host").agg(
        F.count("*").alias("n_allowed")
    )


def _robots_wildcard_rules_sql() -> str:
    """VALUES rows (host, like_pattern, pattern_len, action) with the
    RFC pattern pre-translated by the scalar reference (parity with
    the Spark-side translation is pinned in test_gating). pattern_len
    is OCTETS (UTF-8 bytes, RFC 9309 §2.2.2 most-specific), matching
    the engine's octet_length ranking (ADVICE r3)."""
    from .operators.gating import robots_wildcard_pattern_to_like

    rows = []
    for h, p, a in _ROBOTS_WILDCARD_RULES:
        lp, _anchored = robots_wildcard_pattern_to_like(p)
        rows.append(f"('{h}', '{lp}', {len(p.encode('utf-8'))}, '{a}')")
    return ",\n         ".join(rows)


_ROBOTS_RULES_SQL = ",\n         ".join(
    f"('{h}', '{p}', '{a}')" for h, p, a in _ROBOTS_PREFIX_RULES
)
SQL_ROBOTS_PREFIX_GATE = f"""
WITH f AS (
  SELECT 'h' || (user_id % 10) || '.example.com' AS host,
         '/n/' || event_id AS path
  FROM events WHERE event_id < 2000
), r(host, pattern, action) AS (
  VALUES {_ROBOTS_RULES_SQL}
), m AS (
  SELECT f.host, f.path, r.action,
         row_number() OVER (
           PARTITION BY f.host, f.path
           ORDER BY strlen(r.pattern) DESC,
                    CASE WHEN r.action = 'allow' THEN 0 ELSE 1 END
         ) AS rk
  FROM f JOIN r ON f.host = r.host AND starts_with(f.path, r.pattern)
)
SELECT host, count(*) AS n_allowed FROM (
  SELECT f.host FROM f
  LEFT JOIN (SELECT host, path, action FROM m WHERE rk = 1) d
    ON d.host = f.host AND d.path = f.path
  WHERE d.action IS NULL OR d.action = 'allow'
) GROUP BY host
"""

SQL_ROBOTS_WILDCARD = f"""
WITH f AS (
  SELECT 'h' || (user_id % 10) || '.example.com' AS host,
         '/n/' || event_id AS path
  FROM events WHERE event_id < 2000
), r(host, lp, plen, action) AS (
  VALUES {_robots_wildcard_rules_sql()}
), m AS (
  SELECT f.host, f.path, r.action,
         row_number() OVER (
           PARTITION BY f.host, f.path
           ORDER BY r.plen DESC,
                    CASE WHEN r.action = 'allow' THEN 0 ELSE 1 END
         ) AS rk
  FROM f JOIN r ON f.host = r.host AND f.path LIKE r.lp ESCAPE '\x01'
)
SELECT host, count(*) AS n_allowed FROM (
  SELECT f.host FROM f
  LEFT JOIN (SELECT host, path, action FROM m WHERE rk = 1) d
    ON d.host = f.host AND d.path = f.path
  WHERE d.action IS NULL OR d.action = 'allow'
) GROUP BY host
"""


def q_token_bpe_count(spark, sf_dir):
    """Token counting with a BPE-ish regex (letter runs / digit runs /
    single punctuation) — the tokenizer-budget statistic a training
    pipeline computes per document, aggregated per source."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.expr(r"size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
    return docs.groupBy("source").agg(
        F.sum(toks).alias("total_tokens"),
        F.round(F.avg(toks), 4).alias("avg_tokens"),
    )


SQL_TOKEN_BPE_COUNT = """
SELECT source,
       CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_tokens,
       round(avg(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 4) AS avg_tokens
FROM documents GROUP BY source
"""


def q_gopher_repetition(spark, sf_dir):
    """Gopher-style repetition quality rules (Rae et al. 2021 §A1.1):
    per-doc duplicate-word fraction and most-frequent-bigram fraction,
    plus the keep/drop verdict a training pipeline applies.

    Scale: the per-doc stats are pure JVM higher-order functions (no
    shuffle); the top-bigram mode is explode -> two-stage groupBy
    keyed by (doc_id, bigram) then (doc_id) — both map-side
    combinable, partitioned by doc_id, linear at 100 TB.

    Single-token docs are excluded on BOTH engines: they have no
    bigram (and Spark's sequence(1, 0) would DESCEND, fabricating
    junk indices, where DuckDB's range(2, 2) is empty)."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 2
    )
    ws = F.split("text", " ")
    d = docs.select(
        "doc_id",
        F.size(ws).alias("n_tok"),
        F.size(F.array_distinct(ws)).alias("n_uniq"),
        # index-free bigrams: zip the words with themselves shifted by
        # one (slice lengths clamp at 0, so ANY doc length is safe —
        # sequence(1, size-1) would DESCEND on 1-token docs under ANSI
        # and throw INVALID_ARRAY_INDEX even behind a filter)
        F.expr(
            "zip_with(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),"
            "         slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)),"
            "         (a, b) -> concat(a, ' ', b))"
        ).alias("bigrams"),
    )
    top_bg = (
        d.select("doc_id", "n_tok", F.explode("bigrams").alias("bg"))
        .groupBy("doc_id", "n_tok", "bg")
        .count()
        .groupBy("doc_id", "n_tok")
        .agg(F.max("count").alias("top_bg_n"))
    )
    dup_frac = F.round(1.0 - F.col("n_uniq") / F.col("n_tok"), 4)
    bg_frac = F.round(F.col("top_bg_n") / (F.col("n_tok") - 1), 4)
    return (
        d.select("doc_id", "n_uniq")
        .join(top_bg, "doc_id")
        .select(
            "doc_id",
            "n_tok",
            dup_frac.alias("dup_word_frac"),
            bg_frac.alias("top_bigram_frac"),
            ((dup_frac <= 0.7) & (bg_frac <= 0.18)).alias("keep"),
        )
    )


SQL_GOPHER_REPETITION = """
WITH w AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_uniq,
         list_transform(range(2, len(string_split(text, ' ')) + 1),
                        i -> string_split(text, ' ')[i - 1] || ' ' || string_split(text, ' ')[i]) AS bigrams
  FROM documents WHERE len(string_split(text, ' ')) >= 2
), bg AS (
  SELECT doc_id, n_tok, max(c) AS top_bg_n FROM (
    SELECT doc_id, n_tok, b, count(*) AS c
    FROM (SELECT doc_id, n_tok, unnest(bigrams) AS b FROM w)
    GROUP BY doc_id, n_tok, b)
  GROUP BY doc_id, n_tok
)
SELECT w.doc_id, w.n_tok,
       round(1.0 - CAST(w.n_uniq AS DOUBLE) / w.n_tok, 4) AS dup_word_frac,
       round(CAST(bg.top_bg_n AS DOUBLE) / (w.n_tok - 1), 4) AS top_bigram_frac,
       (round(1.0 - CAST(w.n_uniq AS DOUBLE) / w.n_tok, 4) <= 0.7
        AND round(CAST(bg.top_bg_n AS DOUBLE) / (w.n_tok - 1), 4) <= 0.18) AS keep
FROM w JOIN bg ON w.doc_id = bg.doc_id
"""


def q_pii_scrub(spark, sf_dir):
    """PII detection + redaction: deterministic synthetic emails/phones
    are appended to a slice of docs (the testdata text is clean word
    soup), then counted with regexp_count and redacted with
    regexp_replace — all JVM codegen, no shuffle beyond the scan.

    Scale: embarrassingly parallel map; at 100 TB this is the cheapest
    stage in a curation pipeline and stays fully in whole-stage
    codegen."""
    docs = _t(spark, sf_dir, "documents")
    email_re = "[a-z0-9.]+@[a-z0-9.]+\\.[a-z]+"
    phone_re = "[0-9]{3}-[0-9]{4}"
    text2 = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    d = docs.select("doc_id", text2.alias("t"))
    red = F.regexp_replace(
        F.regexp_replace("t", F.lit(email_re), F.lit("<EMAIL>")),
        F.lit(phone_re),
        F.lit("<PHONE>"),
    )
    return d.select(
        "doc_id",
        F.regexp_count("t", F.lit(email_re)).alias("n_emails"),
        F.regexp_count("t", F.lit(phone_re)).alias("n_phones"),
        F.substring(red, -40, 40).alias("tail_redacted"),
    )


SQL_PII_SCRUB = r"""
WITH d AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 5 = 0
                      THEN ' contact user' || doc_id || '@example.com or 555-'
                           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+\.[a-z]+')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
       CASE WHEN length(r) <= 40 THEN r ELSE substr(r, length(r) - 39, 40) END AS tail_redacted
FROM (SELECT doc_id, t,
             regexp_replace(regexp_replace(t, '[a-z0-9.]+@[a-z0-9.]+\.[a-z]+', '<EMAIL>', 'g'),
                            '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS r
      FROM d)
"""


_MIX_K = 5
_MIX_SALTS = 8


def q_domain_mix_sample(spark, sf_dir):
    """Stratified deterministic sampling for domain-mix control: keep
    the top-5 docs per source ranked by md5(doc_id) — a seedless,
    engine-portable random order. The shape every data-mixture
    pipeline runs (per-domain quota sampling).

    Scale: TWO-STAGE salted top-k (the scheduler's skew pattern).
    Stage 1 ranks within (source, xxhash64(doc_id) % n_salts) and
    keeps rank <= k — a giant source (half a web crawl on one CDN
    domain) splits into n_salts window partitions instead of one
    unsplittable one. Stage 2 re-ranks the <= k*n_salts survivors per
    source, which is O(k*n_salts) rows per source regardless of input
    skew. Result is IDENTICAL to a single window: the global top-k by
    md5 order is a subset of every salt bucket's top-k, and md5 order
    is salt-independent."""
    docs = _t(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(_MIX_SALTS)).cast("int")
    w1 = Window.partitionBy("source", "_salt").orderBy("_key")
    w2 = Window.partitionBy("source").orderBy("_key")
    return (
        docs.select("source", "doc_id", key.alias("_key"), salt.alias("_salt"))
        .withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= _MIX_K)
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _MIX_K)
        .select("source", "doc_id", "rk")
    )


SQL_DOMAIN_MIX_SAMPLE = """
SELECT source, doc_id, rk FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
  FROM documents) WHERE rk <= 5
"""


def q_unigram_logprob(spark, sf_dir):
    """Corpus-LM quality score: mean unigram log-probability per doc
    against corpus-wide word frequencies (the cheap stand-in for a
    KenLM perplexity filter; same two-pass shape).

    Scale / cardinality contract: pass 1 builds the vocabulary
    (map-side-combined groupBy); pass 2 joins tokens to the vocab and
    re-aggregates per doc_id. The vocab of an open-web corpus is NOT
    bounded (typos/hashes/URLs tokenize to billions of distinct
    "words"), so the vocab join carries no broadcast hint: AQE picks
    broadcast at runtime when the aggregate turns out small (the
    testdata case) and a shuffled hash/sort-merge join on the
    high-cardinality key `w` otherwise — either is linear; a forced
    broadcast would OOM the driver at 100 TB. Only the 1-row corpus
    total is force-broadcast. Production KenLM-style filters
    additionally frequency-floor the vocab (HAVING wc >= k); omitted
    here because it changes scores and the oracle pins exact
    semantics."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = toks.groupBy("w").agg(F.count("*").alias("wc"))
    # corpus size as a broadcast 1-row subquery, NOT a driver count():
    # one plan, one execution of the token explode, no eager action
    total = toks.agg(F.count("*").cast("double").alias("_n"))
    scored = (
        toks.join(vocab, "w")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("wc") / F.col("_n")).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.avg("lp"), 4).alias("avg_logprob"),
        F.count("*").alias("n_tok"),
    )


SQL_UNIGRAM_LOGPROB = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), vocab AS (
  SELECT w, count(*) AS wc FROM toks GROUP BY w
), total AS (SELECT count(*) AS n FROM toks)
SELECT t.doc_id,
       round(avg(ln(CAST(v.wc AS DOUBLE) / total.n)), 4) AS avg_logprob,
       count(*) AS n_tok
FROM toks t JOIN vocab v ON t.w = v.w CROSS JOIN total
GROUP BY t.doc_id
"""


# A fixed 8-word sentinel phrase models verbatim benchmark text leaking
# into the training corpus (the testdata word-soup has essentially no
# natural 8-gram collisions). Appended deterministically on BOTH engines:
# to every "benchmark" doc (doc_id % 97 == 0) and to the "leaked" train
# docs (doc_id % 31 == 0), so the overlap join has guaranteed positive
# signal without external data.
_DECON_SENTINEL = " alpha beta gamma delta epsilon zeta eta theta"
_DECON_WIN = 8


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    8-word shingle with a held-out benchmark set (docs with
    doc_id % 97 == 0 stand in for the eval set) — the n-gram-overlap
    decontamination step every LLM data pipeline runs before training
    (GPT-3 App. C / PaLM-style 8-gram collision rule).

    Scale: the benchmark side is SMALL BY CONSTRUCTION (eval suites
    are thousands of docs, not billions), so its distinct shingle set
    is legitimately force-broadcast — this is the one place in the
    repo where a broadcast hint on an aggregate is scale-correct, in
    deliberate contrast to unigram_logprob's unbounded vocab. The
    training side only explodes shingles (linear in corpus tokens) and
    LEFT-joins the broadcast set: no shuffle of the 100-TB side at
    all, and docs with zero hits survive with n_hits = 0. Shingling is
    pure JVM higher-order functions (transform/slice), no Python."""
    docs = _t(spark, sf_dir, "documents")
    text2 = F.concat(
        F.col("text"),
        F.when(
            (F.col("doc_id") % 97 == 0) | (F.col("doc_id") % 31 == 0),
            F.lit(_DECON_SENTINEL),
        ).otherwise(F.lit("")),
    )
    # sequence(1, n-7) DESCENDS when n < 8 (same ANSI edge gopher hit),
    # so short docs are excluded identically on both engines; testdata
    # docs all have >= 8 words, so nothing is dropped in practice.
    base = docs.select("doc_id", text2.alias("t")).filter(
        F.size(F.split("t", " ")) >= _DECON_WIN
    )
    shingles = F.expr(
        f"transform(sequence(1, size(split(t, ' ')) - {_DECON_WIN - 1}),"
        f"          i -> concat_ws(' ', slice(split(t, ' '), i, {_DECON_WIN})))"
    )
    bench_sh = (
        base.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(shingles).alias("sh"))
        .distinct()
    )
    train = base.filter(F.col("doc_id") % 97 != 0)
    hits = (
        train.select("doc_id", F.explode(shingles).alias("sh"))
        .join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


SQL_DECONTAMINATE = f"""
WITH d2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0 OR doc_id % 31 = 0
              THEN text || ' {_DECON_SENTINEL.lstrip()}' ELSE text END AS t
  FROM documents
  WHERE len(string_split(CASE WHEN doc_id % 97 = 0 OR doc_id % 31 = 0
                              THEN text || ' {_DECON_SENTINEL.lstrip()}'
                              ELSE text END, ' ')) >= {_DECON_WIN}
), sh AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(string_split(t, ' ')) - {_DECON_WIN - 2}),
           i -> array_to_string(list_slice(string_split(t, ' '), i, i + {_DECON_WIN - 1}), ' ')
         )) AS sh
  FROM d2
), bench AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0
), hits AS (
  SELECT s.doc_id, count(*) AS n_hits
  FROM sh s JOIN bench b ON s.sh = b.sh
  WHERE s.doc_id % 97 <> 0
  GROUP BY s.doc_id
)
SELECT d2.doc_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM d2 LEFT JOIN hits h ON d2.doc_id = h.doc_id
WHERE d2.doc_id % 97 <> 0
"""


# A fixed 10-word boilerplate chunk models the site template text that
# exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better") exists to strip; prepended on both
# engines to docs with doc_id % 7 == 0.
_CHUNK_BOILER = "subscribe to our newsletter for the latest table scan news "
_CHUNK_W = 10


def q_chunk_dedup(spark, sf_dir):
    """Exact-substring (chunk-level) dedup: split every document into
    fixed 10-word chunks, count corpus-wide occurrences of each chunk,
    and report per-doc the fraction of its chunks that appear more
    than once in the corpus plus the keep/drop verdict — the tractable
    distributed form of suffix-array substring dedup (fixed windows
    instead of arbitrary substrings), and the paragraph-dedup rule
    CCNet/Gopher apply.

    Scale: chunking is JVM transform/slice (no Python, no shuffle);
    the occurrence count is one groupBy on the chunk text — map-side
    combinable, shuffle volume <= corpus size — followed by a semi-join
    of the exploded chunks against the duplicated subset. At 100 TB
    the group key would be xxhash64(chunk) (8 bytes instead of ~60);
    the oracle pins the text-keyed semantics, which are identical
    absent 64-bit collisions."""
    docs = _t(spark, sf_dir, "documents")
    text2 = F.concat(
        F.when(F.col("doc_id") % 7 == 0, F.lit(_CHUNK_BOILER)).otherwise(F.lit("")),
        F.col("text"),
    )
    base = docs.select("doc_id", text2.alias("t"))
    # ceil(n/10) chunks; sequence(0, k-1) is safe — every doc has >= 1
    # word so k >= 1 and the sequence never descends
    chunks = F.expr(
        f"transform(sequence(0, CAST(ceil(size(split(t, ' ')) / {_CHUNK_W}.0) AS INT) - 1),"
        f"          i -> concat_ws(' ', slice(split(t, ' '), i * {_CHUNK_W} + 1, {_CHUNK_W})))"
    )
    exploded = base.select("doc_id", F.explode(chunks).alias("chunk"))
    totals = exploded.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    dup_chunks = (
        exploded.groupBy("chunk")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select("chunk")
    )
    n_dup = (
        exploded.join(dup_chunks, "chunk", "semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    frac = F.round(F.coalesce("n_dup", F.lit(0)) / F.col("n_chunks"), 4)
    return (
        totals.join(n_dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            frac.alias("dup_chunk_frac"),
            (frac <= 0.5).alias("keep"),
        )
    )


SQL_CHUNK_DEDUP = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN '{_CHUNK_BOILER}' || text
              ELSE text END AS t
  FROM documents
), ch AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, CAST(ceil(len(string_split(t, ' ')) / {_CHUNK_W}.0) AS INT)),
           i -> array_to_string(list_slice(string_split(t, ' '),
                                           i * {_CHUNK_W} + 1, i * {_CHUNK_W} + {_CHUNK_W}), ' ')
         )) AS chunk
  FROM d
), dup AS (
  SELECT chunk FROM ch GROUP BY chunk HAVING count(*) > 1
), nd AS (
  SELECT ch.doc_id, count(*) AS n_dup
  FROM ch JOIN dup ON ch.chunk = dup.chunk
  GROUP BY ch.doc_id
), tot AS (
  SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id
)
SELECT tot.doc_id, tot.n_chunks,
       round(CAST(COALESCE(nd.n_dup, 0) AS DOUBLE) / tot.n_chunks, 4) AS dup_chunk_frac,
       round(CAST(COALESCE(nd.n_dup, 0) AS DOUBLE) / tot.n_chunks, 4) <= 0.5 AS keep
FROM tot LEFT JOIN nd ON tot.doc_id = nd.doc_id
"""


_SEMDEDUP_K = 8  # centroid count; production derives k from corpus size
_SEMDEDUP_THR = 0.3  # synthetic 64-dim embeddings; real corpora ~0.95


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup via cluster-pruned
    cosine — assign every embedding to its nearest centroid, compare
    pairs only WITHIN a cluster, and drop the higher-id member of any
    pair above the similarity threshold. The third candidate-pruning
    family next to sign-LSH (embed_cosine_dedup) and IVF (ivf_ann):
    centroid buckets concentrate semantic neighbors, so the pruned
    pair space loses almost no true near-dups.

    Centroids here are the first K=8 embeddings (deterministic stand-in
    for a precomputed k-means codebook). Scale: the codebook is a
    config-sized constant (production k grows ~sqrt(n), still
    broadcastable at millions of centroids via IVF-style two-level
    assignment), so the assignment crossJoin is a hinted broadcast and
    the corpus side never shuffles for it; the argmax is a window
    keyed by vec_id (max-cardinality key — AQE splits freely); the
    within-cluster self-join is an equi-join on cluster id whose
    bucket sizes k keeps bounded. Cosines round to 4dp before every
    comparison so both engines agree despite summation-order float
    drift; centroid ties break on the lower centroid id."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _SEMDEDUP_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )

    def _cos(ea: str, eb: str):
        dot = F.expr(
            f"aggregate(zip_with({ea}, {eb},"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        na = F.expr(
            f"sqrt(aggregate({ea}, CAST(0.0 AS DOUBLE),"
            " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        )
        nb = F.expr(
            f"sqrt(aggregate({eb}, CAST(0.0 AS DOUBLE),"
            " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        )
        return F.round(dot / (na * nb), 4)

    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "embedding", "cid", _cos("embedding", "cemb").alias("cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cid"))
    assigned = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "embedding", F.col("cid").alias("cluster"))
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dups = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(_cos("a.embedding", "b.embedding") >= _SEMDEDUP_THR)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.select("vec_id", "cluster")
        .join(dups, "vec_id", "left")
        .select("vec_id", "cluster", F.coalesce("_dup", F.lit(False)).alias("is_dup"))
    )


SQL_SEMDEDUP = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {_SEMDEDUP_K}
), px AS (
  SELECT e.vec_id, c.cid,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(c.cemb) AS DOUBLE) AS y
  FROM embeddings e CROSS JOIN c
), cosim AS (
  SELECT vec_id, cid,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos
  FROM px GROUP BY vec_id, cid
), assign AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
    FROM cosim) WHERE rk = 1
), m AS (
  SELECT a.vec_id, a.cluster, e.embedding
  FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id
), cand AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(unnest(a.embedding) AS DOUBLE) AS x,
         CAST(unnest(b.embedding) AS DOUBLE) AS y
  FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
), dup AS (
  SELECT DISTINCT vb AS vec_id FROM (
    SELECT va, vb,
           round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos
    FROM cand GROUP BY va, vb)
  WHERE cos >= {_SEMDEDUP_THR}
)
SELECT m.vec_id, m.cluster, (d.vec_id IS NOT NULL) AS is_dup
FROM m LEFT JOIN dup d ON m.vec_id = d.vec_id
"""


# ------------------------------------------------ image+caption curation
# The graft's payload axis: curation queries over the input_hint
# image+caption table shape (image_id, w, h, fmt, caption, n_bytes).
# The driver testdata carries no image table, so the gate derives one
# DETERMINISTICALLY from `documents` via md5 arithmetic both engines
# share (the _phash_signatures trick): every column is a pure function
# of doc_id, so Spark and DuckDB see the identical corpus. In
# production these queries run unchanged on the crawl's images output
# (plans/crawl.py _image_pipeline emits exactly this schema) or any
# Iceberg image+caption table at 10^10 rows: each is a single-pass
# projection or a map-side-combinable rollup — no join, no window, no
# skewable key.

_IMG_FMT_CASE = (
    "CASE WHEN {m} < 10 THEN 'jpeg' WHEN {m} < 15 THEN 'png' "
    "WHEN {m} < 18 THEN 'gif' WHEN {m} < 19 THEN 'webp' ELSE 'bmp' END"
)
_IMG_BPP_CASE = (
    "CASE fmt WHEN 'jpeg' THEN 12 WHEN 'png' THEN 30 WHEN 'gif' THEN 8 "
    "WHEN 'webp' THEN 10 ELSE 240 END"
)


def _image_pairs(docs: DataFrame) -> DataFrame:
    """input_hint-shaped image+caption rows derived from documents:
    (image_id, source, caption, w, h, fmt, n_bytes), every derived
    column a pure md5 function of doc_id (identical arithmetic in the
    DuckDB oracle CTE _IMG_PAIRS_CTE — keep the two in lockstep).
    Dimensions span 16..2048, five formats with distinct
    bytes-per-pixel bases plus per-image jitter so the density gate
    has nontrivial selectivity on both sides of its bounds."""
    d = docs.selectExpr(
        "doc_id AS image_id",
        "source",
        "text AS caption",
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':img')), 1, 15),"
        " 16, 10) AS BIGINT) AS h1",
    )
    d = d.selectExpr(
        "image_id", "source", "caption", "h1",
        "CAST(16 + h1 % 2033 AS INT) AS w",
        "CAST(16 + shiftright(h1, 11) % 2033 AS INT) AS h",
        _IMG_FMT_CASE.format(m="(shiftright(h1, 4) % 20)") + " AS fmt",
    )
    return d.selectExpr(
        "image_id", "source", "caption", "w", "h", "fmt",
        f"(CAST(w AS BIGINT) * h * (({_IMG_BPP_CASE}) + shiftright(h1, 22) % 120))"
        " DIV 10 AS n_bytes",
    )


# Shared DuckDB mirror of _image_pairs (md5 hex -> BIGINT via 0x cast).
_IMG_PAIRS_CTE = f"""imgs0 AS (
  SELECT doc_id AS image_id, source, text AS caption,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':img'), 1, 15)) AS BIGINT) AS h1
  FROM documents
), imgs1 AS (
  SELECT image_id, source, caption, h1,
         CAST(16 + h1 % 2033 AS INTEGER) AS w,
         CAST(16 + (h1 >> 11) % 2033 AS INTEGER) AS h,
         {_IMG_FMT_CASE.format(m="((h1 >> 4) % 20)")} AS fmt
  FROM imgs0
), imgs AS (
  SELECT image_id, source, caption, w, h, fmt,
         (CAST(w AS BIGINT) * h * (({_IMG_BPP_CASE}) + (h1 >> 22) % 120)) // 10 AS n_bytes
  FROM imgs1
)"""


def q_image_caption_filter(spark, sf_dir):
    """LAION/DataComp-style image+caption curation gate (Schuhmann et
    al. 2022 §3.1; Gadre et al. 2023) — the multimodal twin of
    token_quality: per image, five independent rule verdicts plus the
    conjunction:
      size_ok    — min side >= 64 px (thumbnail/tracking-pixel gate);
      ratio_ok   — aspect within [1/3, 3], as exact integer
                   cross-multiplication (no float at the boundary);
      density_ok — bytes-per-pixel within [0.5, 8] (junk files below,
                   decompression bombs above), integer math;
      fmt_ok     — decodable web formats only;
      caption_ok — 2..96 words and alphanumeric ratio >= 0.5 (alt-text
                   junk gate), ratio rounded 4dp pre-compare on both
                   engines.
    Reference analog: the byte-size/type image gates of
    weixin_public.py:310-373, generalized to the training-data shape.
    Scale: one projection over the corpus — zero Exchange
    (plan-asserted), pure codegen; filters push to the parquet scan
    when composed downstream."""
    img = _image_pairs(_t(spark, sf_dir, "documents"))
    img = img.selectExpr(
        "image_id", "w", "h", "fmt", "n_bytes",
        "size(filter(split(caption, ' '), x -> x != '')) AS caption_words",
        "CASE WHEN length(caption) = 0 THEN CAST(0.0 AS DOUBLE)"
        " ELSE round(CAST(length(regexp_replace(caption, '[^a-zA-Z0-9]', '')) AS DOUBLE)"
        " / length(caption), 4) END AS alnum_ratio",
    )
    flags = img.selectExpr(
        "image_id", "w", "h", "fmt", "caption_words", "alnum_ratio",
        "least(w, h) >= 64 AS size_ok",
        "greatest(w, h) <= 3 * least(w, h) AS ratio_ok",
        "(2 * n_bytes >= CAST(w AS BIGINT) * h"
        " AND n_bytes <= 8 * CAST(w AS BIGINT) * h) AS density_ok",
        "fmt IN ('jpeg', 'png', 'webp') AS fmt_ok",
        "(caption_words BETWEEN 2 AND 96 AND alnum_ratio >= 0.5) AS caption_ok",
    )
    return flags.withColumn(
        "keep",
        F.col("size_ok") & F.col("ratio_ok") & F.col("density_ok")
        & F.col("fmt_ok") & F.col("caption_ok"),
    )


SQL_IMAGE_CAPTION_FILTER = f"""
WITH {_IMG_PAIRS_CTE}, cap AS (
  SELECT image_id, w, h, fmt, n_bytes,
         len(list_filter(string_split(caption, ' '), x -> x <> '')) AS caption_words,
         CASE WHEN length(caption) = 0 THEN 0.0
              ELSE round(CAST(length(regexp_replace(caption, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE)
                         / length(caption), 4) END AS alnum_ratio
  FROM imgs
), flags AS (
  SELECT image_id, w, h, fmt, caption_words, alnum_ratio,
         least(w, h) >= 64 AS size_ok,
         greatest(w, h) <= 3 * least(w, h) AS ratio_ok,
         (2 * n_bytes >= CAST(w AS BIGINT) * h
          AND n_bytes <= 8 * CAST(w AS BIGINT) * h) AS density_ok,
         fmt IN ('jpeg', 'png', 'webp') AS fmt_ok,
         (caption_words BETWEEN 2 AND 96 AND alnum_ratio >= 0.5) AS caption_ok
  FROM cap
)
SELECT *, (size_ok AND ratio_ok AND density_ok AND fmt_ok AND caption_ok) AS keep
FROM flags
"""


# Classic spam/boilerplate phrases plus two drawn from the testdata
# vocabulary so the gate has nontrivial selectivity on both sides of
# the verdict at every SF (an all-keep gate would vacuously match its
# oracle).
_CAPTION_BLOCKLIST = (
    "click here",
    "buy now",
    "free shipping",
    "lorem ipsum",
    "slow fast",
    "row scan",
)


def q_caption_blocklist_filter(spark, sf_dir):
    """C4-style caption blocklist gate (Raffel et al. 2020 §2.2 drop
    pages containing blocklisted phrases; LAION applies the same shape
    to captions for spam/boilerplate/safety lists): a caption is kept
    iff it contains NO blocklisted phrase as a whole-word match
    (case-insensitive; the caption is space-padded and lowercased so
    ' phrase ' containment IS the word-boundary test — identical
    arithmetic on both engines, no regex dialect divergence). Emits
    the per-caption hit count so list curators can audit which
    phrases fire.

    Scale: the phrase list is a compile-time literal array folded into
    codegen (a production list of a few thousand entries becomes a
    broadcast join or an Aho-Corasick pandas_udf; this shape is the
    <100-phrase case) — one projection over the corpus, zero Exchange
    (plan-asserted), filters push to the scan when composed."""
    img = _image_pairs(_t(spark, sf_dir, "documents"))
    arr = ", ".join("'" + p + "'" for p in _CAPTION_BLOCKLIST)
    padded = "concat(' ', lower(caption), ' ')"
    return img.selectExpr(
        "image_id",
        f"size(filter(array({arr}), p -> contains({padded},"
        " concat(' ', p, ' ')))) AS n_hits",
    ).selectExpr("image_id", "n_hits", "n_hits = 0 AS keep")


SQL_CAPTION_BLOCKLIST_FILTER = f"""
WITH {_IMG_PAIRS_CTE}, hits AS (
  SELECT image_id,
         {" + ".join(
             "CASE WHEN contains(' ' || lower(caption) || ' ', ' " + p + " ')"
             " THEN 1 ELSE 0 END"
             for p in _CAPTION_BLOCKLIST
         )} AS n_hits
  FROM imgs
)
SELECT image_id, n_hits, n_hits = 0 AS keep FROM hits
"""


def q_clip_alignment_filter(spark, sf_dir):
    """CLIP-score alignment gate — the core LAION filter (Schuhmann et
    al. 2022 §3.1: keep pairs with cosine(CLIP(image), CLIP(caption))
    above a threshold; LAION-400M used 0.3 on real CLIP space). Models
    the precomputed-embedding-table architecture LAION itself ships
    (released .npy embedding shards keyed by sample id): the
    `embeddings` table stands in for the encoder output codebook, and
    each image/caption resolves its vector by a deterministic md5 key
    mod the codebook size — both engines share the arithmetic, no
    external data. Threshold 0.05 because the synthetic vectors are
    random 64-dim (cosine ~ N(0, 1/8)); real CLIP space uses ~0.28.

    Scale: two equi-joins on an 8-byte key against the embedding
    table — AQE broadcasts the codebook when it fits and falls back to
    a shuffled hash join on the unbounded side otherwise (same
    no-forced-hint contract as unigram_logprob); the codebook size is
    a broadcast 1-row aggregate, never a driver count(). No window, no
    cartesian (plan-asserted in tests). At 100 TB the encoder runs
    inline instead — the zero-shuffle mapInPandas shape of
    extract_image_features — and this query is then a pure projection;
    the join form here is the architecture for re-scoring an already
    embedded corpus."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    # codebook size as a broadcast 1-row subquery (vec_id is 0..n-1)
    nv = emb.agg(F.count("*").alias("_nv"))
    keys = docs.selectExpr(
        "doc_id AS image_id",
        "source",
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':iemb')), 1, 15),"
        " 16, 10) AS BIGINT) AS hi",
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':cemb')), 1, 15),"
        " 16, 10) AS BIGINT) AS hc",
    ).crossJoin(F.broadcast(nv)).selectExpr(
        "image_id", "source", "hi % _nv AS iv", "hc % _nv AS cv"
    )
    a = emb.select(F.col("vec_id").alias("iv"), F.col("embedding").alias("ie"))
    b = emb.select(F.col("vec_id").alias("cv"), F.col("embedding").alias("ce"))
    paired = keys.join(a, "iv").join(b, "cv")
    dot = F.expr(
        "aggregate(zip_with(ie, ce, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm_i = F.expr(
        "sqrt(aggregate(ie, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    nrm_c = F.expr(
        "sqrt(aggregate(ce, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    scored = paired.select(
        "image_id", "source", F.round(dot / (nrm_i * nrm_c), 4).alias("clip_cos")
    )
    return scored.withColumn("aligned", F.col("clip_cos") >= 0.05)


SQL_CLIP_ALIGNMENT_FILTER = """
WITH nv AS (SELECT count(*) AS n FROM embeddings),
keys AS (
  SELECT doc_id AS image_id, source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':iemb'), 1, 15)) AS BIGINT) % nv.n AS iv,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cemb'), 1, 15)) AS BIGINT) % nv.n AS cv
  FROM documents, nv
), pairs AS (
  SELECT k.image_id, k.source,
         CAST(unnest(a.embedding) AS DOUBLE) AS x,
         CAST(unnest(b.embedding) AS DOUBLE) AS y
  FROM keys k
  JOIN embeddings a ON a.vec_id = k.iv
  JOIN embeddings b ON b.vec_id = k.cv
)
SELECT image_id, source,
       round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS clip_cos,
       round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) >= 0.05 AS aligned
FROM pairs GROUP BY image_id, source
"""


_ASPECT_CUTS = (0.4082, 0.6124, 0.8660, 1.1547, 1.6330, 2.4495)
_ASPECT_NAMES = ("1:3", "1:2", "3:4", "1:1", "4:3", "2:1", "3:1")


def _aspect_bucket_case(col: str) -> str:
    """Nearest-in-log-space aspect bucket as a CASE ladder: cut points
    are the geometric means of adjacent bucket ratios, so the ladder IS
    argmin |log(aspect) - log(bucket)|. Both engines evaluate the same
    IEEE double w/h against the same literals — agreement is exact, no
    rounding step needed."""
    arms = " ".join(
        f"WHEN {col} < {cut} THEN '{name}'"
        for cut, name in zip(_ASPECT_CUTS, _ASPECT_NAMES)
    )
    return f"CASE {arms} ELSE '{_ASPECT_NAMES[-1]}' END"


def q_aspect_bucket_stats(spark, sf_dir):
    """SDXL-style aspect-ratio bucketing rollup (Podell et al. 2023
    App. I; NovelAI bucketing): assign every image to the nearest of
    seven canonical training aspect buckets in log space, then roll up
    count, mean dimensions, mean aspect, and total pixels per bucket —
    the batch-construction statistic an image-model trainer reads
    before fixing per-bucket resolutions.

    Scale: groupBy on a 7-value key after a pure projection — partial
    aggregation map-side (plan-asserted), one 7-row exchange; integer
    sums stay exact in binary64 (dims <= 2048), float means rounded
    4dp on both engines."""
    img = _image_pairs(_t(spark, sf_dir, "documents"))
    img = img.selectExpr("w", "h", "CAST(w AS DOUBLE) / h AS aspect")
    img = img.selectExpr(
        "w", "h", "aspect", _aspect_bucket_case("aspect") + " AS bucket"
    )
    return img.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.round(F.avg("w"), 4).alias("avg_w"),
        F.round(F.avg("h"), 4).alias("avg_h"),
        F.round(F.avg("aspect"), 4).alias("avg_aspect"),
        F.sum(F.expr("CAST(w AS BIGINT) * h")).alias("total_px"),
    )


SQL_ASPECT_BUCKET_STATS = f"""
WITH {_IMG_PAIRS_CTE}, asp AS (
  SELECT w, h, CAST(w AS DOUBLE) / h AS aspect FROM imgs
), bucketed AS (
  SELECT w, h, aspect, {_aspect_bucket_case("aspect")} AS bucket FROM asp
)
SELECT bucket, count(*) AS n,
       round(avg(w), 4) AS avg_w,
       round(avg(h), 4) AS avg_h,
       round(avg(aspect), 4) AS avg_aspect,
       sum(CAST(w AS BIGINT) * h) AS total_px
FROM bucketed GROUP BY bucket
"""


_N_SHARDS = 32


def q_shard_pack(spark, sf_dir):
    """WebDataset-style output shard packing audit — the WRITE stage of
    a 100-TB curation pipeline (webdataset/tar shards; Gadre et al.
    2023 ship DataComp exactly this way). Every image+caption row is
    assigned a shard by a deterministic content-independent hash
    (md5(image_id||':shard') mod n_shards — the distributed-friendly
    alternative to sequential tar packing, which would serialize the
    write), then per shard: item count, total bytes, largest item, and
    a packing-skew audit — shard_bytes over the mean shard size, with
    shards >20% above the mean flagged oversized (the check an
    operator runs before fixing shard count for a target shard size).

    Scale: one map-side-combinable groupBy on the n_shards-value key
    (n_shards rows cross the wire per partition) + a broadcast 1-row
    mean — never a driver count(); the skew audit is exactly how the
    writer decides to re-salt before `.repartition(n_shards,
    "shard")`-and-write. Reference analog: the per-batch file sinks,
    weixin_public.py:245-255."""
    img = _image_pairs(_t(spark, sf_dir, "documents"))
    sharded = img.selectExpr(
        "image_id",
        "n_bytes",
        "CAST(conv(substring(md5(concat(CAST(image_id AS STRING), ':shard')),"
        f" 1, 15), 16, 10) AS BIGINT) % {_N_SHARDS} AS shard",
    )
    per = sharded.groupBy("shard").agg(
        F.count("*").alias("n_items"),
        F.sum("n_bytes").alias("shard_bytes"),
        F.max("n_bytes").alias("max_item_bytes"),
    )
    mean = per.agg(F.avg("shard_bytes").alias("_mean"))
    return per.crossJoin(F.broadcast(mean)).selectExpr(
        "shard",
        "n_items",
        "shard_bytes",
        "max_item_bytes",
        "round(shard_bytes / _mean, 4) AS skew_ratio",
        "round(shard_bytes / _mean, 4) > 1.2 AS oversized",
    )


SQL_SHARD_PACK = f"""
WITH {_IMG_PAIRS_CTE}, sharded AS (
  SELECT image_id, n_bytes,
         CAST(('0x' || substr(md5(CAST(image_id AS VARCHAR) || ':shard'), 1, 15)) AS BIGINT)
           % {_N_SHARDS} AS shard
  FROM imgs
), per AS (
  SELECT shard, count(*) AS n_items,
         CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
         max(n_bytes) AS max_item_bytes
  FROM sharded GROUP BY shard
), m AS (SELECT avg(shard_bytes) AS _mean FROM per)
SELECT shard, n_items, shard_bytes, max_item_bytes,
       round(shard_bytes / _mean, 4) AS skew_ratio,
       round(shard_bytes / _mean, 4) > 1.2 AS oversized
FROM per, m
"""


def q_split_leakage_audit(spark, sf_dir):
    """Train/val split leakage audit — the contamination check a
    training pipeline runs AFTER splitting: a validation document
    whose near-duplicate sits in train silently inflates eval. Split
    assignment is a deterministic 5% hash (md5(doc_id||':split') mod
    20 — content-independent, so re-runs and late-arriving shards land
    in the same split); near-duplicate identity is the MinHash
    full-signature bucket from minhash_near_dup (docs agreeing on all
    4 min-hashes). A val doc is `leaked` iff some TRAIN doc shares its
    signature — val-val duplicates are fine (they never cross the
    split). Val docs with no words carry no signature and are
    unleaked by definition (NULL keys never match).

    Scale: the signature groupBy is map-side combinable; the audit
    join is an equi-join on the 4-hash key against the DISTINCT train
    signature set (never doc x doc); the val side is 5% of the corpus
    by construction. No window, no cartesian. The same shape audits
    decontamination (benchmark vs train) — see decontaminate for the
    n-gram-overlap variant."""
    docs = _t(spark, sf_dir, "documents")
    split = docs.selectExpr(
        "doc_id",
        "CASE WHEN CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),"
        " ':split')), 1, 15), 16, 10) AS BIGINT) % 20 = 0"
        " THEN 'val' ELSE 'train' END AS split",
    )
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    sig = words.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(str(i)), F.col("w")))).alias(f"mh{i}")
            for i in range(4)
        ]
    )
    s = sig.join(split, "doc_id")
    keys = ["mh0", "mh1", "mh2", "mh3"]
    train_sigs = (
        s.filter(F.col("split") == "train")
        .select(*keys)
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    val = split.filter(F.col("split") == "val").join(sig, "doc_id", "left")
    return val.join(train_sigs, keys, "left").select(
        "doc_id", F.coalesce("_hit", F.lit(False)).alias("leaked")
    )


SQL_SPLIT_LEAKAGE_AUDIT = """
WITH split AS (
  SELECT doc_id,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15)) AS BIGINT)
                % 20 = 0 THEN 'val' ELSE 'train' END AS split
  FROM documents
), words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), sig AS (
  SELECT doc_id,
         min(md5('0' || w)) AS mh0, min(md5('1' || w)) AS mh1,
         min(md5('2' || w)) AS mh2, min(md5('3' || w)) AS mh3
  FROM words WHERE w <> '' GROUP BY doc_id
), s AS (
  SELECT sig.*, split.split FROM sig JOIN split USING (doc_id)
), train_sigs AS (
  SELECT DISTINCT mh0, mh1, mh2, mh3, TRUE AS _hit FROM s WHERE split = 'train'
), val AS (
  SELECT sp.doc_id, g.mh0, g.mh1, g.mh2, g.mh3
  FROM split sp LEFT JOIN sig g USING (doc_id)
  WHERE sp.split = 'val'
)
SELECT v.doc_id, coalesce(t._hit, FALSE) AS leaked
FROM val v
LEFT JOIN train_sigs t
  ON v.mh0 = t.mh0 AND v.mh1 = t.mh1 AND v.mh2 = t.mh2 AND v.mh3 = t.mh3
"""


def q_crossmodal_dedup(spark, sf_dir):
    """Cross-modal dedup — the LAION-style union of both dedup
    modalities over the image+caption corpus: two images are
    duplicates if their CAPTIONS match exactly (text modality) OR
    their perceptual signatures are near (pixel modality,
    phash_hamming's banded-LSH pairs at Hamming <= 9 within source).
    Components over the UNION of both edge families merge clusters
    that neither modality finds alone (A capdup B, B pixdup C =>
    {A,B,C}); min image id is each cluster's canonical survivor, and
    every image gets a verdict (singletons keep themselves).

    Scale: caption edges are STAR-shaped — each identical-caption
    group contributes (k-1) edges to its min member, never k² (a
    boilerplate caption shared by millions of images stays linear);
    pixel edges inherit phash_hamming's banded equi-join (never
    all-pairs). Components via alternating large-star/small-star
    (O(log n) rounds). Captions dedupe globally; pixel near-dups
    within source, inherited from phash_hamming.
    Reference analog: seen-set + pic-signature gates unified,
    weixin_public.py:66-106,310-373."""
    from python_crawler_spark.operators.components import (
        _ckpt,
        _unpersist,
        cc_alternating_stars,
    )

    img = _image_pairs(_t(spark, sf_dir, "documents")).select(
        "image_id", "caption"
    )
    cap = img.select("image_id", F.md5("caption").alias("ck"))
    groups = cap.groupBy("ck").agg(
        F.min("image_id").alias("root"), F.count("*").alias("n")
    )
    cap_edges = (
        cap.join(groups.filter(F.col("n") > 1), "ck")
        .filter(F.col("image_id") != F.col("root"))
        .select(F.col("root").alias("a"), F.col("image_id").alias("b"))
    )
    ph_edges = q_phash_hamming(spark, sf_dir).select(
        F.col("da").alias("a"), F.col("db").alias("b")
    )
    pairs, pair_ids = _ckpt(cap_edges.unionByName(ph_edges))
    labels = cc_alternating_stars(pairs)
    _unpersist(spark, pair_ids)
    return (
        img.select(F.col("image_id").alias("doc_id"))
        .join(labels, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster", "doc_id").alias("cluster"))
        .withColumn("keep", F.col("doc_id") == F.col("cluster"))
    )


SQL_CROSSMODAL_DEDUP = f"""
WITH RECURSIVE {_PH_PAIRS_CTES},
cg AS (
  SELECT doc_id, md5(text) AS ck FROM documents
), cr AS (
  SELECT ck, MIN(doc_id) AS root, COUNT(*) AS n FROM cg GROUP BY ck
), cap_edges AS (
  SELECT r.root AS a, g.doc_id AS b
  FROM cg g JOIN cr r USING (ck)
  WHERE r.n > 1 AND g.doc_id <> r.root
), all_edges AS (
  SELECT a, b FROM cap_edges UNION ALL SELECT da, db FROM ppairs
), edges AS (
  SELECT a AS src, b AS dst FROM all_edges UNION ALL SELECT b, a FROM all_edges
), reach(doc, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.doc
), labels AS (
  SELECT doc AS doc_id, MIN(r) AS cluster FROM reach GROUP BY doc
)
SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster,
       (COALESCE(l.cluster, d.doc_id) = d.doc_id) AS keep
FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
"""


_EXIF_N = 240


def q_image_exif_extract(spark, sf_dir):
    """EXIF metadata extraction through the REAL binary path: encode
    deterministic JPEGs (functions/jpeg + an APP1 TIFF segment from
    functions/exif.build_exif), decode them, and parse camera make /
    model / orientation / capture time / upright display dims back out
    of the bytes with operators.multimodal.extract_image_exif — all
    inside Arrow-batched mapInPandas, no shuffle, bytes never leave
    the executor (the 100-TB metadata-extraction shape).

    Like crawl_fetch_schedule, sf_dir is unused: the corpus is a fixed
    deterministic URL set (scale-independent row counts); PNG-encoded
    URLs carry no EXIF and are filtered to keep the gate's value
    comparison NULL-free. The oracle (_sql_image_exif_golden) recomputes
    the expected fields from the GENERATOR'S PARAMETERS — never by
    parsing bytes — so a codec or parser regression breaks the match.
    Reference analog: image type/size classification,
    weixin_public.py:310-373."""
    from python_crawler_spark.operators.multimodal import (
        extract_image_exif,
        fetch_and_decode_images,
    )

    urls = spark.range(_EXIF_N).selectExpr(
        "concat('http://img.example.invalid/exif/', CAST(id AS STRING), '.bin') AS src"
    )
    ex = extract_image_exif(fetch_and_decode_images(urls, "src"), "bytes")
    return ex.filter(F.col("dec_fmt") == "jpeg").select(
        "src", "w", "h", "exif_make", "exif_model", "exif_orientation",
        "exif_datetime", "upright_w", "upright_h",
    )


def _sql_image_exif_golden() -> str:
    """Golden VALUES oracle for image_exif_extract, recomputed from the
    generator's parameters (synth_image_pixels' dimension arithmetic
    and the EXIF dict synth_image_blob passes to build_exif — keep in
    lockstep with operators/multimodal.py). Independent of the JPEG
    codec and of the EXIF builder/parser under test: the Spark side
    must round-trip real SOF dims and real APP1 bytes to match."""
    from python_crawler_spark.functions.hashing import xxhash64

    mask = 0x7FFFFFFFFFFFFFFF
    vals = []
    for i in range(_EXIF_N):
        src = f"http://img.example.invalid/exif/{i}.bin"
        hp = xxhash64(src) & mask
        if hp % 3 != 0:
            continue  # synthesized as PNG: carries no EXIF, filtered out
        w = 8 + hp % 48
        ht = 8 + (hp // 48) % 48
        he = xxhash64("exif:" + src) & mask
        ts = (
            f"2020:{1 + he % 12:02d}:{1 + (he // 12) % 28:02d} "
            f"{he % 24:02d}:{(he // 24) % 60:02d}:{(he // 1440) % 60:02d}"
        )
        orient = 1 + he % 8
        uw, uh = (ht, w) if orient >= 5 else (w, ht)
        vals.append(
            f"('{src}',{w},{ht},'SynthCam','SC-{he % 100}',{orient},'{ts}',{uw},{uh})"
        )
    return (
        "SELECT src, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h, "
        "exif_make, exif_model, CAST(exif_orientation AS INTEGER) AS exif_orientation, "
        "exif_datetime, CAST(upright_w AS INTEGER) AS upright_w, "
        "CAST(upright_h AS INTEGER) AS upright_h FROM (VALUES\n"
        + ",\n".join(vals)
        + "\n) AS t(src, w, h, exif_make, exif_model, exif_orientation, "
        "exif_datetime, upright_w, upright_h)"
    )


_GPS_N = 240


def q_exif_gps_scrub(spark, sf_dir):
    """GPS privacy scrub through the real binary path — the image twin
    of pii_scrub (LAION-5B post-release PII handling; any public
    image corpus must strip location EXIF before training): 240
    deterministic JPEGs, half carrying a GPS sub-IFD, pushed through
    operators.multimodal.scrub_exif_gps (parse -> drop GPS IFD +
    pointer -> rebuild -> re-splice; compressed pixel scan untouched),
    then a verify stage RE-PARSES the scrubbed bytes independently —
    the gate pins that GPS is gone while make/orientation survive, on
    every row, against generator-parameter golden rows (a codec,
    builder, or splice regression breaks the driver gate, not just
    the unit suite).

    All three stages are Arrow-batched mapInPandas with zero shuffle
    (plan-asserted) — the 100-TB scrub shape: pure per-blob byte
    transform between fetch and sink, per-core rows/s multiplies by
    executor count. sf_dir unused (fixed deterministic corpus)."""
    from pyspark.sql import types as T

    from python_crawler_spark.operators.multimodal import (
        scrub_exif_gps,
        synth_geotagged_blob,
    )

    urls = spark.range(_GPS_N).selectExpr(
        "concat('http://img.example.invalid/gps/', CAST(id AS STRING), '.bin') AS src"
    )

    fetch_schema = T.StructType(
        urls.schema.fields + [T.StructField("bytes", T.BinaryType())]
    )

    def fetch(batches):
        for pdf in batches:
            yield pdf.assign(bytes=[synth_geotagged_blob(s) for s in pdf["src"]])

    scrubbed = scrub_exif_gps(urls.mapInPandas(fetch, fetch_schema), "bytes")

    verify_schema = T.StructType(
        [
            T.StructField("src", T.StringType()),
            T.StructField("had_gps", T.BooleanType()),
            T.StructField("gps_after", T.BooleanType()),
            T.StructField("make", T.StringType()),
            T.StructField("orientation", T.IntegerType()),
        ]
    )

    def verify(batches):
        import pandas as pd

        for pdf in batches:
            gps_after, makes, orients = [], [], []
            for blob in pdf["scrubbed_bytes"]:
                meta = _jpeg_exif(bytes(blob))
                gps_after.append("GPS" in meta or "GPSIFDPointer" in meta)
                makes.append(meta.get("Make"))
                orients.append(meta.get("Orientation"))
            yield pd.DataFrame(
                {
                    "src": pdf["src"],
                    "had_gps": pdf["had_gps"],
                    "gps_after": gps_after,
                    "make": makes,
                    "orientation": pd.array(orients, dtype="Int32"),
                }
            )

    return scrubbed.mapInPandas(verify, verify_schema)


def _jpeg_exif(jpeg: bytes) -> dict:
    """A JPEG's parsed EXIF; empty without an APP1 Exif segment."""
    from python_crawler_spark.functions import exif as EXIF

    payload = EXIF.extract_exif_jpeg(jpeg)
    return {} if payload is None else EXIF.parse_exif(payload)


def _sql_exif_gps_scrub_golden() -> str:
    """Golden VALUES oracle for exif_gps_scrub, recomputed from the
    generator's parameters (synth_geotagged_blob's hash rules) — never
    from bytes: had_gps is the hash-parity rule, gps_after must be
    FALSE everywhere, make/orientation must survive the rebuild."""
    from python_crawler_spark.functions.hashing import xxhash64

    mask = 0x7FFFFFFFFFFFFFFF
    vals = []
    for i in range(_GPS_N):
        src = f"http://img.example.invalid/gps/{i}.bin"
        h = xxhash64("exif:" + src) & mask
        had = "TRUE" if h % 2 == 0 else "FALSE"
        vals.append(f"('{src}',{had},FALSE,'SynthCam',{1 + h % 8})")
    return (
        "SELECT src, had_gps, gps_after, make, "
        "CAST(orientation AS INTEGER) AS orientation FROM (VALUES\n"
        + ",\n".join(vals)
        + "\n) AS t(src, had_gps, gps_after, make, orientation)"
    )


_FEAT_N = 240


def q_image_features_extract(spark, sf_dir):
    """Image feature extraction through the real binary path: encode
    deterministic images, decode them, and compute the curation-filter
    visual statistics (mean/std luminance, gradient edge fraction,
    Hasler-Süsstrunk colorfulness) from the pixels — all inside
    Arrow-batched mapInPandas (operators.multimodal.
    extract_image_features), zero shuffle.

    Restricted to the PNG-encoded share of the corpus: PNG round-trips
    losslessly, so decoded pixels equal the generator's pixels EXACTLY
    and the feature values are hash-comparable (JPEG rows are PSNR
    >= 40dB close but not bit-equal — they stay covered by the unit
    suite's tolerance tests). The oracle recomputes features from the
    generator's raw pixels, never touching the codec — so a PNG
    encoder/decoder or Arrow-plumbing regression breaks the gate; the
    feature arithmetic itself is shared with the oracle by design
    (same contract as synth_image_blob, shared by engine and
    simulator). sf_dir unused (fixed deterministic corpus)."""
    from python_crawler_spark.operators.multimodal import (
        extract_image_features,
        fetch_and_decode_images,
    )

    urls = spark.range(_FEAT_N).selectExpr(
        "concat('http://img.example.invalid/feat/', CAST(id AS STRING), '.bin') AS src"
    )
    feat = extract_image_features(fetch_and_decode_images(urls, "src"), "bytes")
    return feat.filter(F.col("dec_fmt") == "png").select(
        "src", "w", "h",
        F.round("mean_lum", 4).alias("mean_lum"),
        F.round("std_lum", 4).alias("std_lum"),
        F.round("edge_frac", 4).alias("edge_frac"),
        F.round("colorfulness", 4).alias("colorfulness"),
    )


def _sql_image_features_golden() -> str:
    """Golden VALUES oracle for image_features_extract: features of the
    generator's RAW pixels (synth_image_pixels), rounded exactly as
    Spark's round(col, 4) — HALF_UP on the binary double (the
    golden_schedule_sql convention). The Spark side must push the same
    pixels through PNG encode -> Arrow -> decode and land on identical
    doubles."""
    from decimal import ROUND_HALF_UP, Decimal

    from python_crawler_spark.functions.hashing import xxhash64
    from python_crawler_spark.functions.images import image_features
    from python_crawler_spark.operators.multimodal import synth_image_pixels

    def r4(x: float) -> float:
        return float(Decimal(x).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))

    mask = 0x7FFFFFFFFFFFFFFF
    vals = []
    for i in range(_FEAT_N):
        src = f"http://img.example.invalid/feat/{i}.bin"
        if (xxhash64(src) & mask) % 3 == 0:
            continue  # JPEG-encoded: lossy, excluded from the exact gate
        px, _ = synth_image_pixels(src)
        ml, sl, ef, cf = image_features(px)
        vals.append(
            f"('{src}',{px.shape[1]},{px.shape[0]},"
            f"{r4(ml)!r},{r4(sl)!r},{r4(ef)!r},{r4(cf)!r})"
        )
    return (
        "SELECT src, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h, "
        "CAST(mean_lum AS DOUBLE) AS mean_lum, CAST(std_lum AS DOUBLE) AS std_lum, "
        "CAST(edge_frac AS DOUBLE) AS edge_frac, "
        "CAST(colorfulness AS DOUBLE) AS colorfulness FROM (VALUES\n"
        + ",\n".join(vals)
        + "\n) AS t(src, w, h, mean_lum, std_lum, edge_frac, colorfulness)"
    )


_THUMB_N = 240
_THUMB_MAX_SIDE = 16


def q_image_resize_extract(spark, sf_dir):
    """Training-pipeline thumbnail stage through the real binary path:
    fetch -> decode -> aspect-preserving bilinear downscale to
    max_side=16 -> lossless PNG re-encode (operators.multimodal.
    resize_images), then a verify stage decodes the re-encoded
    thumbnail back and digests its raw pixels (crc32) — so the gate
    pins decode -> resize math -> encode -> decode, end to end, on
    every row. All stages are Arrow-batched mapInPandas with zero
    shuffle; bytes never leave the executor (the 100-TB preprocessing
    shape: resize is the canonical map-only stage, per-core img/s
    multiplies by executor count).

    Restricted to the PNG share of the corpus (lossless: decoded
    pixels equal the generator's bit-for-bit, making the thumbnail crc
    deterministic; JPEG rows stay covered by the unit suite's PSNR
    tolerance). The oracle recomputes thumbnail dims + resized-pixel
    crc from the GENERATOR'S raw pixels — the resize arithmetic is
    shared by design (same contract as image_features_extract), the
    codecs and Arrow plumbing are not: a PNG encoder/decoder or
    round-trip regression breaks the driver gate. sf_dir unused
    (fixed deterministic corpus). Reference analog: the re-host
    image pipeline, weixin_public.py:310-373."""
    import zlib

    from python_crawler_spark.functions import images as IMG
    from python_crawler_spark.operators.multimodal import (
        fetch_and_decode_images,
        resize_images,
    )

    urls = spark.range(_THUMB_N).selectExpr(
        "concat('http://img.example.invalid/thumb/', CAST(id AS STRING), '.bin') AS src"
    )
    th = resize_images(
        fetch_and_decode_images(urls, "src").filter(F.col("dec_fmt") == "png"),
        max_side=_THUMB_MAX_SIDE,
    )

    from pyspark.sql import types as T

    out_schema = T.StructType(
        th.schema.fields + [T.StructField("thumb_crc", T.LongType())]
    )

    def digest(batches):
        for pdf in batches:
            crcs = []
            for tb in pdf["thumb_bytes"]:
                _w, _h, _fmt, px = IMG.decode_image(bytes(tb))
                crcs.append(zlib.crc32(px.tobytes()))
            yield pdf.assign(thumb_crc=crcs)

    return th.mapInPandas(digest, out_schema).select(
        "src", "w", "h", "thumb_w", "thumb_h", "thumb_crc"
    )


def _sql_image_resize_golden() -> str:
    """Golden VALUES oracle for image_resize_extract: thumbnail dims +
    crc32 of the bilinear-resized pixels, recomputed from the
    generator's RAW pixels (synth_image_pixels -> thumbnail_dims ->
    resize_bilinear) — never from bytes. The Spark side must push the
    same pixels through PNG encode -> Arrow -> decode -> resize ->
    PNG encode -> decode and land on an identical pixel digest."""
    import zlib

    from python_crawler_spark.functions import images as IMG
    from python_crawler_spark.functions.hashing import xxhash64
    from python_crawler_spark.operators.multimodal import synth_image_pixels

    mask = 0x7FFFFFFFFFFFFFFF
    vals = []
    for i in range(_THUMB_N):
        src = f"http://img.example.invalid/thumb/{i}.bin"
        if (xxhash64(src) & mask) % 3 == 0:
            continue  # JPEG-encoded: lossy, excluded from the exact gate
        px, _ = synth_image_pixels(src)
        h, w = px.shape[:2]
        th_, tw = IMG.thumbnail_dims(h, w, _THUMB_MAX_SIDE)
        crc = zlib.crc32(IMG.resize_bilinear(px, th_, tw).tobytes())
        vals.append(f"('{src}',{w},{h},{tw},{th_},{crc})")
    return (
        "SELECT src, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h, "
        "CAST(thumb_w AS INTEGER) AS thumb_w, CAST(thumb_h AS INTEGER) AS thumb_h, "
        "CAST(thumb_crc AS BIGINT) AS thumb_crc FROM (VALUES\n"
        + ",\n".join(vals)
        + "\n) AS t(src, w, h, thumb_w, thumb_h, thumb_crc)"
    )


_VID_N = 24
_VID_SAMPLES = 3


def q_video_frame_sample(spark, sf_dir):
    """Video frame sampling through every real container demuxer: 24
    deterministic videos whose container cycles by hash over
    AVI/MJPEG, MP4/MJPEG, Matroska/V_MJPEG, and the lossless PCSV test
    container; each explodes into 3 evenly spaced frame rows via
    operators.multimodal.sample_video_frames — lazy demux (sampling 3
    of F frames never decodes the other F-3), Arrow-batched, zero
    shuffle, video bytes dropped before the explosion.

    The gate compares the container-independent schedule: frame count,
    fps (round-tripped through each container's own clock — AVI
    microseconds-per-frame, MP4 timescale, Matroska default duration
    ns), sampled frame indices, and decoded frame dims (MJPEG SOF dims
    are exact). The oracle recomputes all of it from the generator's
    parameters — never demuxing — so a muxer, demuxer, or frame-walk
    regression in ANY of the four containers breaks the gate. Frame
    pixel invariants (PSNR, phash) stay in the unit suite. sf_dir
    unused (fixed deterministic corpus)."""
    from python_crawler_spark.operators.multimodal import (
        fetch_and_decode_videos,
        sample_video_frames,
    )

    urls = spark.range(_VID_N).selectExpr(
        "concat('http://vid.example.invalid/', CAST(id AS STRING), '.bin') AS src"
    )
    frames = sample_video_frames(
        fetch_and_decode_videos(urls, "src"), n_samples=_VID_SAMPLES
    )
    return frames.select("src", "n_frames", "fps", "frame_idx", "frame_w", "frame_h")


def _sql_video_frames_golden() -> str:
    """Golden VALUES oracle for video_frame_sample: the frame schedule
    recomputed from the generator's parameters (synth_video_blob's
    arithmetic) plus the pure-Python sampling rule
    (media.sample_frame_indices — shared with the operator by design,
    like synth_image_blob). The Spark side must round-trip real
    container bytes (mux -> Arrow -> lazy demux -> JPEG/PNG decode) to
    match."""
    from python_crawler_spark.functions.hashing import xxhash64
    from python_crawler_spark.functions.media import sample_frame_indices

    mask = 0x7FFFFFFFFFFFFFFF
    vals = []
    for i in range(_VID_N):
        src = f"http://vid.example.invalid/{i}.bin"
        h = xxhash64(src) & mask
        n = 4 + h % 12
        fps = (10, 12, 25, 30)[(h >> 8) % 4]
        w = 8 + (h >> 4) % 24
        ht = 8 + (h >> 9) % 24
        for idx in sample_frame_indices(n, _VID_SAMPLES):
            vals.append(f"('{src}',{n},{fps},{idx},{w},{ht})")
    return (
        "SELECT src, CAST(n_frames AS INTEGER) AS n_frames, "
        "CAST(fps AS INTEGER) AS fps, CAST(frame_idx AS INTEGER) AS frame_idx, "
        "CAST(frame_w AS INTEGER) AS frame_w, CAST(frame_h AS INTEGER) AS frame_h "
        "FROM (VALUES\n" + ",\n".join(vals)
        + "\n) AS t(src, n_frames, fps, frame_idx, frame_w, frame_h)"
    )


_AUD_N = 24


def q_audio_features_extract(spark, sf_dir):
    """Audio feature extraction through every real lossless audio
    codec: 24 deterministic two-tone PCM signals whose container
    cycles by hash over real WAV (RIFF PCM16), real FLAC (RFC 9639 —
    Rice coding, predictors, CRCs), and the PCSA test container;
    operators.multimodal.extract_audio_features computes duration /
    RMS / zero-crossing rate / peak inside Arrow-batched mapInPandas,
    zero shuffle.

    All three containers are LOSSLESS for int16 mono, so decoded
    samples equal the generator's exactly and the golden oracle
    (media.pcm_features over the generator's raw samples,
    Spark-HALF_UP-rounded 4dp) is hash-exact — a WAV or FLAC
    encoder/decoder regression breaks the driver gate. sf_dir unused
    (fixed deterministic corpus)."""
    from python_crawler_spark.operators.multimodal import (
        extract_audio_features,
        fetch_audio,
    )

    urls = spark.range(_AUD_N).selectExpr(
        "concat('http://aud.example.invalid/', CAST(id AS STRING), '.bin') AS src"
    )
    feats = extract_audio_features(fetch_audio(urls, "src"), "audio_bytes")
    return feats.select(
        "src", "sample_rate",
        F.round("duration_s", 4).alias("duration_s"),
        F.round("rms", 4).alias("rms"),
        F.round("zero_cross_rate", 4).alias("zero_cross_rate"),
        F.round("peak", 4).alias("peak"),
    )


def _sql_audio_features_golden() -> str:
    """Golden VALUES oracle for audio_features_extract: pcm_features
    over the GENERATOR'S raw samples (synth_audio_samples) — the codec
    layer is never touched, so only a lossless encode->Arrow->decode
    round trip on the Spark side can match."""
    from decimal import ROUND_HALF_UP, Decimal

    from python_crawler_spark.functions.media import pcm_features
    from python_crawler_spark.operators.multimodal import synth_audio_samples

    def r4(x: float) -> float:
        return float(Decimal(x).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))

    vals = []
    for i in range(_AUD_N):
        src = f"http://aud.example.invalid/{i}.bin"
        rate, pcm = synth_audio_samples(src)
        f = pcm_features(rate, pcm)
        vals.append(
            f"('{src}',{rate},{r4(f['duration_s'])!r},{r4(f['rms'])!r},"
            f"{r4(f['zero_cross_rate'])!r},{r4(f['peak'])!r})"
        )
    return (
        "SELECT src, CAST(sample_rate AS INTEGER) AS sample_rate, "
        "CAST(duration_s AS DOUBLE) AS duration_s, CAST(rms AS DOUBLE) AS rms, "
        "CAST(zero_cross_rate AS DOUBLE) AS zero_cross_rate, "
        "CAST(peak AS DOUBLE) AS peak FROM (VALUES\n" + ",\n".join(vals)
        + "\n) AS t(src, sample_rate, duration_s, rms, zero_cross_rate, peak)"
    )


# ---------------------------------------------------------------- registry

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "frontier_schedule": q_frontier_schedule,
    "politeness_topk": q_politeness_topk,
    "first_occurrence": q_first_occurrence,
    "sessionize": q_sessionize,
    "hourly_window_agg": q_hourly_window_agg,
    "anti_join_dedup": q_anti_join_dedup,
    "cuckoo_dedup": q_cuckoo_dedup,
    "exact_dedup_docs": q_exact_dedup_docs,
    "minhash_near_dup": q_minhash_near_dup,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "ngram_band_overflow": q_ngram_band_overflow,
    "minhash_recall_audit": q_minhash_recall_audit,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_stars": q_dedup_clusters_stars,
    "simhash_dedup": q_simhash_dedup,
    "cosine_topk": q_cosine_topk,
    "lsh_bucket_stats": q_lsh_bucket_stats,
    "token_quality": q_token_quality,
    "doc_fingerprint": q_doc_fingerprint,
    "lang_id_heuristic": q_lang_id_heuristic,
    "title_rules": q_title_rules,
    "url_kernel": q_url_kernel,
    "pagination_gen": q_pagination_gen,
    "blacklist_filter": q_blacklist_filter,
    "small_threshold": q_small_threshold,
    "tpch_q1": q_tpch_q1,
    "star_join_revenue": q_star_join_revenue,
    "salted_skew_agg": q_salted_skew_agg,
    "last_element": q_last_element,
    "json_props_extract": q_json_props_extract,
    "rollup_metrics": q_rollup_metrics,
    "transpose_zip": q_transpose_zip,
    "suffix_edit": q_suffix_edit,
    "ivf_ann": q_ivf_ann,
    "ann_recall_audit": q_ann_recall_audit,
    "phash_hamming": q_phash_hamming,
    "phash_clusters": q_phash_clusters,
    "token_bpe_count": q_token_bpe_count,
    "gopher_repetition": q_gopher_repetition,
    "pii_scrub": q_pii_scrub,
    "domain_mix_sample": q_domain_mix_sample,
    "unigram_logprob": q_unigram_logprob,
    "embed_cosine_dedup": q_embed_cosine_dedup,
    "embed_dedup_recall_audit": q_embed_dedup_recall_audit,
    "robots_prefix_gate": q_robots_prefix_gate,
    "robots_wildcard_gate": q_robots_wildcard,
    "streaming_fetch_plan": q_streaming_fetch_plan,
    "decontaminate": q_decontaminate,
    "chunk_dedup": q_chunk_dedup,
    "semdedup": q_semdedup,
    "image_caption_filter": q_image_caption_filter,
    "caption_blocklist_filter": q_caption_blocklist_filter,
    "clip_alignment_filter": q_clip_alignment_filter,
    "aspect_bucket_stats": q_aspect_bucket_stats,
    "shard_pack": q_shard_pack,
    "split_leakage_audit": q_split_leakage_audit,
    "image_exif_extract": q_image_exif_extract,
    "exif_gps_scrub": q_exif_gps_scrub,
    "crossmodal_dedup": q_crossmodal_dedup,
    "image_features_extract": q_image_features_extract,
    "image_resize_extract": q_image_resize_extract,
    "video_frame_sample": q_video_frame_sample,
    "audio_features_extract": q_audio_features_extract,
}

ORACLE_SQL: dict[str, str] = {
    "frontier_schedule": SQL_FRONTIER_SCHEDULE,
    "politeness_topk": SQL_POLITENESS_TOPK,
    "first_occurrence": SQL_FIRST_OCCURRENCE,
    "sessionize": SQL_SESSIONIZE,
    "hourly_window_agg": SQL_HOURLY_WINDOW_AGG,
    "anti_join_dedup": SQL_ANTI_JOIN_DEDUP,
    "cuckoo_dedup": SQL_CUCKOO_DEDUP,
    "exact_dedup_docs": SQL_EXACT_DEDUP_DOCS,
    "minhash_near_dup": SQL_MINHASH_NEAR_DUP,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "ngram_band_overflow": SQL_NGRAM_BAND_OVERFLOW,
    "minhash_recall_audit": SQL_MINHASH_RECALL_AUDIT,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "dedup_clusters_stars": SQL_DEDUP_CLUSTERS,
    "simhash_dedup": SQL_SIMHASH_DEDUP,
    "cosine_topk": SQL_COSINE_TOPK,
    "lsh_bucket_stats": SQL_LSH_BUCKET_STATS,
    "token_quality": SQL_TOKEN_QUALITY,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "lang_id_heuristic": SQL_LANG_ID_HEURISTIC,
    "title_rules": SQL_TITLE_RULES,
    "url_kernel": SQL_URL_KERNEL,
    "pagination_gen": SQL_PAGINATION_GEN,
    "blacklist_filter": SQL_BLACKLIST_FILTER,
    "small_threshold": SQL_SMALL_THRESHOLD,
    "tpch_q1": SQL_TPCH_Q1,
    "star_join_revenue": SQL_STAR_JOIN_REVENUE,
    "salted_skew_agg": SQL_SALTED_SKEW_AGG,
    "last_element": SQL_LAST_ELEMENT,
    "json_props_extract": SQL_JSON_PROPS_EXTRACT,
    "rollup_metrics": SQL_ROLLUP_METRICS,
    "transpose_zip": SQL_TRANSPOSE_ZIP,
    "suffix_edit": SQL_SUFFIX_EDIT,
    "ivf_ann": SQL_IVF_ANN,
    "ann_recall_audit": SQL_ANN_RECALL_AUDIT,
    "phash_hamming": SQL_PHASH_HAMMING,
    "phash_clusters": SQL_PHASH_CLUSTERS,
    "token_bpe_count": SQL_TOKEN_BPE_COUNT,
    "gopher_repetition": SQL_GOPHER_REPETITION,
    "pii_scrub": SQL_PII_SCRUB,
    "domain_mix_sample": SQL_DOMAIN_MIX_SAMPLE,
    "unigram_logprob": SQL_UNIGRAM_LOGPROB,
    "embed_cosine_dedup": SQL_EMBED_COSINE_DEDUP,
    "embed_dedup_recall_audit": SQL_EMBED_DEDUP_RECALL_AUDIT,
    "robots_prefix_gate": SQL_ROBOTS_PREFIX_GATE,
    "robots_wildcard_gate": SQL_ROBOTS_WILDCARD,
    "streaming_fetch_plan": SQL_STREAMING_FETCH_PLAN,
    "decontaminate": SQL_DECONTAMINATE,
    "chunk_dedup": SQL_CHUNK_DEDUP,
    "semdedup": SQL_SEMDEDUP,
    "image_caption_filter": SQL_IMAGE_CAPTION_FILTER,
    "caption_blocklist_filter": SQL_CAPTION_BLOCKLIST_FILTER,
    "clip_alignment_filter": SQL_CLIP_ALIGNMENT_FILTER,
    "aspect_bucket_stats": SQL_ASPECT_BUCKET_STATS,
    "shard_pack": SQL_SHARD_PACK,
    "split_leakage_audit": SQL_SPLIT_LEAKAGE_AUDIT,
    "image_exif_extract": _sql_image_exif_golden(),
    "exif_gps_scrub": _sql_exif_gps_scrub_golden(),
    "crossmodal_dedup": SQL_CROSSMODAL_DEDUP,
    "image_features_extract": _sql_image_features_golden(),
    "image_resize_extract": _sql_image_resize_golden(),
    "video_frame_sample": _sql_video_frames_golden(),
    "audio_features_extract": _sql_audio_features_golden(),
}
