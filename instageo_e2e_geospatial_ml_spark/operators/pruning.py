"""Zone-map file skipping — Iceberg/Delta manifest pruning and Parquet
row-group statistics as a first-class relational operator.

A 100 TB table is only queryable because most files are never opened:
each file's footer (or the table's manifest) carries per-column
min/max, and the planner classifies every (query, file) pair as
  skip    fmax < lo OR fmin > hi      (no overlap — never read)
  full    lo <= fmin AND fmax <= hi   (entirely inside — read without
                                       re-filtering rows)
  partial otherwise                   (read + filter)
This operator runs that classification for a BATCH of query ranges at
once — the planning workload itself becomes data, which is how a
catalog service amortizes manifest reads across a query fleet.

Plan: the query-range side is tiny and broadcasts; the file-stats side
(one row per file — millions of rows for a 100 TB table, still small)
never shuffles for the classification, and the per-query rollup is a
map-side-combinable groupBy on query_id. All integer comparisons.

The engine's own writers produce exactly the stats this consumes:
operators/skew.write_clustered lays files out so zone maps are tight
(clustered writes -> disjoint min/max -> mostly 'skip'/'full'), and
the q74/q102 Z-order/Hilbert keys exist precisely to make multi-column
zone maps selective.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def zone_map_prune(
    file_stats: DataFrame,
    query_ranges: DataFrame,
) -> DataFrame:
    """Classify every (query, file) pair and roll up per query.

    file_stats:   (file_id, fmin, fmax, n_rows)
    query_ranges: (query_id, lo, hi)   — inclusive bounds, tiny side

    Returns per query_id: file and row counts per class, plus
    best/worst-case scan volume (best = full rows only; worst = full +
    partial rows — what you read before row-level filtering).
    """
    f = file_stats.select(
        "file_id",
        F.col("fmin").cast("long").alias("fmin"),
        F.col("fmax").cast("long").alias("fmax"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )
    q = query_ranges.select(
        "query_id",
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
    )
    j = f.crossJoin(F.broadcast(q))
    cls = (
        F.when((F.col("fmax") < F.col("lo")) | (F.col("fmin") > F.col("hi")), "skip")
        .when((F.col("lo") <= F.col("fmin")) & (F.col("fmax") <= F.col("hi")), "full")
        .otherwise("partial")
    )
    d = j.withColumn("cls", cls)
    is_ = lambda c: (F.col("cls") == c).cast("long")  # noqa: E731
    return d.groupBy("query_id").agg(
        F.sum(is_("skip")).alias("n_files_skip"),
        F.sum(is_("full")).alias("n_files_full"),
        F.sum(is_("partial")).alias("n_files_partial"),
        F.sum(is_("skip") * F.col("n_rows")).alias("rows_skip"),
        F.sum(is_("full") * F.col("n_rows")).alias("rows_full"),
        F.sum(is_("partial") * F.col("n_rows")).alias("rows_partial"),
    )


def zone_map_prune_sql(file_stats_sql: str, query_ranges_sql: str) -> str:
    """DuckDB twin of zone_map_prune (identical classification and
    rollup)."""
    return f"""
WITH f AS (
  SELECT file_id, CAST(fmin AS BIGINT) AS fmin, CAST(fmax AS BIGINT) AS fmax,
         CAST(n_rows AS BIGINT) AS n_rows
  FROM ({file_stats_sql})
),
q AS (
  SELECT query_id, CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi
  FROM ({query_ranges_sql})
),
d AS (
  SELECT q.query_id, f.n_rows,
         CASE WHEN f.fmax < q.lo OR f.fmin > q.hi THEN 'skip'
              WHEN q.lo <= f.fmin AND f.fmax <= q.hi THEN 'full'
              ELSE 'partial' END AS cls
  FROM f CROSS JOIN q
)
SELECT query_id,
  CAST(sum(CASE WHEN cls = 'skip' THEN 1 ELSE 0 END) AS BIGINT) AS n_files_skip,
  CAST(sum(CASE WHEN cls = 'full' THEN 1 ELSE 0 END) AS BIGINT) AS n_files_full,
  CAST(sum(CASE WHEN cls = 'partial' THEN 1 ELSE 0 END) AS BIGINT) AS n_files_partial,
  CAST(sum(CASE WHEN cls = 'skip' THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skip,
  CAST(sum(CASE WHEN cls = 'full' THEN n_rows ELSE 0 END) AS BIGINT) AS rows_full,
  CAST(sum(CASE WHEN cls = 'partial' THEN n_rows ELSE 0 END) AS BIGINT) AS rows_partial
FROM d GROUP BY query_id
"""


def compaction_plan(files: DataFrame, target_bytes: int) -> DataFrame:
    """Small-file compaction planning (the Delta OPTIMIZE / Iceberg
    rewrite_data_files planner): within each table partition, group
    the files needing compaction into merge bins of ≈ target_bytes by
    NEXT-FIT-DECREASING — sort by (size desc, file_id), running sum,
    bin = floor((run − size) / target): the q48 shard rule applied to
    file sizes, fully relational and deterministic where first-fit's
    per-bin backtracking is not. Files already ≥ target/2 are left
    alone (bin −1, the keep marker):
    rewriting a right-sized file wastes IO.

    Emits (partition, file, size, bin_id, bin_bytes, n_files_in_bin).
    Single-file bins still merit rewriting only when the partition
    has other compactable files — callers can drop bins with
    n_files_in_bin = 1 (kept in the output because the decision is
    policy, not planning).

    Per-partition window (a partition's file list is the unit of
    work) + one groupBy on (partition, bin) joined back — all keyed
    on the partition.
    """
    from pyspark.sql import Window

    small_file_bytes = target_bytes // 2
    f = files.select(
        F.col("partition_id"),
        F.col("file_id"),
        F.col("size_bytes").cast("long").alias("size_bytes"),
    )
    small = f.filter(F.col("size_bytes") < small_file_bytes)
    big = f.filter(F.col("size_bytes") >= small_file_bytes).withColumn(
        "bin_id", F.lit(-1).cast("long")
    )
    w = (
        Window.partitionBy("partition_id")
        .orderBy(F.col("size_bytes").desc(), F.col("file_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = small.withColumn(
        "bin_id",
        F.floor(
            (F.sum("size_bytes").over(w) - F.col("size_bytes"))
            / F.lit(float(target_bytes))
        ).cast("long"),
    )
    allf = binned.unionByName(big)
    stats = (
        allf.filter(F.col("bin_id") >= 0)
        .groupBy("partition_id", "bin_id")
        .agg(
            F.sum("size_bytes").alias("bin_bytes"),
            F.count(F.lit(1)).alias("n_files_in_bin"),
        )
    )
    return (
        allf.join(stats, ["partition_id", "bin_id"], "left")
        .withColumn("bin_bytes", F.coalesce("bin_bytes", F.lit(0)))
        .withColumn("n_files_in_bin", F.coalesce("n_files_in_bin", F.lit(0)))
        .select(
            "partition_id", "file_id", "size_bytes", "bin_id",
            "bin_bytes", "n_files_in_bin",
        )
    )


def compaction_plan_sql(files_sql: str, target_bytes: int) -> str:
    """DuckDB twin of compaction_plan over (partition_id, file_id,
    size_bytes)."""
    small_file_bytes = target_bytes // 2
    return f"""
WITH f AS (
  SELECT partition_id, file_id, CAST(size_bytes AS BIGINT) AS size_bytes
  FROM ({files_sql})
),
binned AS (
  SELECT partition_id, file_id, size_bytes,
         CAST(floor((CAST(sum(size_bytes) OVER (
             PARTITION BY partition_id
             ORDER BY size_bytes DESC, file_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             - size_bytes) / {float(target_bytes)!r}) AS BIGINT) AS bin_id
  FROM f WHERE size_bytes < {small_file_bytes}
  UNION ALL
  SELECT partition_id, file_id, size_bytes, CAST(-1 AS BIGINT) AS bin_id
  FROM f WHERE size_bytes >= {small_file_bytes}
),
stats AS (
  SELECT partition_id, bin_id,
         CAST(sum(size_bytes) AS BIGINT) AS bin_bytes,
         CAST(count(*) AS BIGINT) AS n_files_in_bin
  FROM binned WHERE bin_id >= 0 GROUP BY partition_id, bin_id
)
SELECT b.partition_id, b.file_id, b.size_bytes, b.bin_id,
       COALESCE(s.bin_bytes, 0) AS bin_bytes,
       COALESCE(s.n_files_in_bin, 0) AS n_files_in_bin
FROM binned b LEFT JOIN stats s
  ON b.partition_id = s.partition_id AND b.bin_id = s.bin_id
"""


def partition_advisor(
    df: DataFrame,
    candidates: list[str],
    target_partitions: int = 1000,
) -> DataFrame:
    """Partition-key advisor — the layout-planning analytic behind
    "which column should this 100 TB table be partitioned by": for each
    candidate column it measures exact NDV, the hottest value's row
    share, and the null share, then scores suitability. A good
    partition key has NDV near the target partition count (too few ⇒
    giant partitions, too many ⇒ small-file explosion), no dominant hot
    value (skewed task), and few nulls (a default-partition dump).

    Integer score (engine-exact): ndv_fit_ppm = 1e6·min(ndv, target) //
    max(ndv, target); score = ndv_fit_ppm − top1_ppm − null_ppm; output
    one row per candidate, rnk 1 = best (score DESC, column ASC).

    Scale: one groupBy per candidate over the data (each a map-side
    combining hash agg producing an NDV-sized table), then scalar
    re-aggregates of those tiny tables. Candidate lists are small and
    static — the unrolled per-column aggregates run as independent jobs
    over the same cached scan."""
    parts = []
    for c in candidates:
        per_val = df.groupBy(F.col(c).alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        summ = per_val.agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("ndv"),
            F.max("cnt").alias("top1_cnt"),
            F.coalesce(
                F.sum(F.when(F.col("v").isNull(), F.col("cnt"))),
                F.lit(0),
            ).alias("n_null"),
        ).select(
            F.lit(c).alias("column_name"),
            "ndv",
            "top1_cnt",
            "n_rows",
            "n_null",
        )
        parts.append(summ)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    t = target_partitions
    scored = out.select(
        "column_name",
        "ndv",
        F.expr("(1000000 * top1_cnt) DIV n_rows").alias("top1_ppm"),
        F.expr("(1000000 * n_null) DIV n_rows").alias("null_ppm"),
        F.expr(
            f"(1000000 * least(ndv, {t})) DIV greatest(ndv, {t})"
        ).alias("ndv_fit_ppm"),
    ).select(
        "column_name",
        "ndv",
        "top1_ppm",
        "null_ppm",
        "ndv_fit_ppm",
        (
            F.col("ndv_fit_ppm") - F.col("top1_ppm") - F.col("null_ppm")
        ).alias("score"),
    )
    w = Window.orderBy(F.col("score").desc(), F.col("column_name").asc())
    # |candidates| rows only — the global rank window is bounded input
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    )


def partition_advisor_sql(
    rows_sql: str, candidates: list[str], target_partitions: int = 1000
) -> str:
    """DuckDB twin of partition_advisor."""
    t = target_partitions
    blocks = []
    for c in candidates:
        blocks.append(
            f"""SELECT '{c}' AS column_name,
  CAST(count(*) AS BIGINT) AS ndv,
  CAST(max(cnt) AS BIGINT) AS top1_cnt,
  CAST(sum(cnt) AS BIGINT) AS n_rows,
  CAST(coalesce(sum(cnt) FILTER (WHERE v IS NULL), 0) AS BIGINT)
    AS n_null
FROM (SELECT {c} AS v, count(*) AS cnt FROM ({rows_sql}) GROUP BY 1)"""
        )
    union = "\nUNION ALL\n".join(blocks)
    return f"""
WITH raw AS ({union}),
scored AS (
  SELECT column_name, ndv,
         (1000000 * top1_cnt) // n_rows AS top1_ppm,
         (1000000 * n_null) // n_rows AS null_ppm,
         (1000000 * least(ndv, {t})) // greatest(ndv, {t})
           AS ndv_fit_ppm
  FROM raw
)
SELECT column_name, ndv, top1_ppm, null_ppm, ndv_fit_ppm,
       ndv_fit_ppm - top1_ppm - null_ppm AS score,
       CAST(row_number() OVER (ORDER BY
         ndv_fit_ppm - top1_ppm - null_ppm DESC, column_name ASC)
         AS BIGINT) AS rnk
FROM scored
"""


def bloom_prune_audit(
    build: DataFrame,
    probe: DataFrame,
    build_key: str,
    probe_key: str,
    m_bits: int = 4096,
    n_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter join pruning, audited against exact membership.

    The runtime-filter idea Spark itself applies under
    spark.sql.optimizer.runtime.bloomFilter.enabled (and every
    warehouse engine ships as a semi-join reduction): hash the small
    build side's join keys into an m-bit Bloom filter, broadcast it,
    and drop probe rows whose key cannot possibly match BEFORE the
    shuffle. Built-in bloom_filter_agg is JVM-internal and never
    hash-portable, so this audit variant builds the filter
    relationally — exactly reproducible in any engine:

        pos_j(key) = md5_int(j || ':' || key) mod m     j < n_hashes

    The filter is the DISTINCT set of build-side positions (at most
    m rows of one int — broadcastable by construction, the point of a
    Bloom filter); a probe key passes iff ALL its n_hashes positions
    are present. The audit joins the Bloom verdict against exact
    membership (left-semi ground truth) and reports the confusion
    summary — the false-positive rate that decides whether the filter
    is worth its broadcast at a given m.

    Returns one row: (n_probe_keys, n_members, n_pass_bloom,
    n_false_pos, fp_ppm). Bloom never yields false NEGATIVES (asserted
    by construction here: a member's positions are all in the set), so
    n_pass_bloom - n_members == n_false_pos.

    Scale: distinct probe keys -> n_hashes positions (explode by a
    3-element literal array), one broadcast join on position, one
    all-match count per key, one semi-join for truth. No shuffle
    carries more than n_hashes rows per distinct key.
    """
    pk = probe.select(F.col(probe_key).cast("long").alias("k")).distinct()
    bk = build.select(F.col(build_key).cast("long").alias("k")).distinct()

    def positions(df):
        out = df
        for j in range(n_hashes):
            out = out.withColumn(
                f"_p{j}",
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.lit(str(j)), F.col("k"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % m_bits,
            )
        return out.select(
            "k",
            F.explode(
                F.array(*[F.col(f"_p{j}") for j in range(n_hashes)])
            ).alias("pos"),
        )

    bits = positions(bk).select("pos").distinct()
    hits = (
        positions(pk)
        .join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == n_hashes)
        .select("k")
    )
    members = pk.join(bk, "k", "left_semi")
    return (
        pk.agg(F.count(F.lit(1)).alias("n_probe_keys"))
        .crossJoin(members.agg(F.count(F.lit(1)).alias("n_members")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_pass_bloom")))
        .select(
            "n_probe_keys",
            "n_members",
            "n_pass_bloom",
            (F.col("n_pass_bloom") - F.col("n_members")).alias(
                "n_false_pos"
            ),
            F.expr(
                "(n_pass_bloom - n_members) * 1000000 div n_probe_keys"
            ).alias("fp_ppm"),
        )
    )


def bloom_prune_audit_sql(build_sql: str, probe_sql: str) -> str:
    """DuckDB twin of bloom_prune_audit: `build_sql` / `probe_sql` each
    yield one column k (BIGINT)."""
    pos_exprs = " UNION ALL ".join(
        f"SELECT k, CAST(('0x' || substring(md5('{j}:' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 4096 AS pos FROM {{src}}"
        for j in range(3)
    )
    return f"""
WITH bk AS MATERIALIZED (SELECT DISTINCT k FROM ({build_sql})),
pk AS MATERIALIZED (SELECT DISTINCT k FROM ({probe_sql})),
bits AS MATERIALIZED (
  SELECT DISTINCT pos FROM ({pos_exprs.format(src='bk')})
),
ppos AS ({pos_exprs.format(src='pk')}),
hits AS (
  SELECT k FROM ppos
  WHERE pos IN (SELECT pos FROM bits)
  GROUP BY k HAVING count(*) = 3
),
members AS (SELECT k FROM pk WHERE k IN (SELECT k FROM bk))
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM pk) AS n_probe_keys,
  (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_members,
  (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_pass_bloom,
  (SELECT CAST(count(*) AS BIGINT) FROM hits)
    - (SELECT count(*) FROM members) AS n_false_pos,
  ((SELECT CAST(count(*) AS BIGINT) FROM hits)
    - (SELECT count(*) FROM members)) * 1000000
    // (SELECT count(*) FROM pk) AS fp_ppm
"""
