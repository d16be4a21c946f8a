"""CDC (change-data-capture) log compaction: upsert/delete event streams
→ SCD2 history intervals, upsert merges and table diffs — the MERGE INTO /
table-maintenance pattern a lakehouse ingest pipeline runs on every
sync, composed here from one window pass.

Semantics (Debezium/Delta-CDF shaped): each key's changes are ordered by
(ts, tiebreak); an upsert opens a validity interval at its ts; ANY next
change for the key (upsert or delete) closes it; deletes emit no row of
their own. A key's last change being an upsert makes that row current
(valid_to NULL). Re-deletes and delete-then-upsert sequences fall out of
the same lead() — no special cases.

Scale: one window partitioned by key (the natural CDC shuffle — same key
volume MERGE INTO would shuffle). History output ≈ #upserts rows,
independent of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(changes: DataFrame, tiebreak_col: str) -> DataFrame:
    """changes (+op column: 'delete' or any upsert marker) → SCD2 rows:
    input columns + valid_from_us / valid_to_us (NULL = open) +
    is_current. Delete rows close intervals but are not emitted; rows
    order by (ts, tiebreak_col)."""
    w = Window.partitionBy("key").orderBy(F.col("ts").asc(), F.col(tiebreak_col).asc())
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        changes.withColumn("_tus", tus)
        .withColumn("_next_us", F.lead("_tus").over(w))
        .filter(F.col("op") != "delete")
        .select(
            "*",
            F.col("_tus").alias("valid_from_us"),
            F.col("_next_us").alias("valid_to_us"),
            F.col("_next_us").isNull().alias("is_current"),
        )
        .drop("_tus", "_next_us")
    )


def merge_upsert(target: DataFrame, changes: DataFrame, tiebreak_col: str) -> DataFrame:
    """MERGE INTO apply — one change batch folded into a target table
    (Delta/Iceberg MERGE semantics with whole-row upserts):

      WHEN MATCHED AND op = delete  THEN DELETE
      WHEN MATCHED (upsert)         THEN UPDATE (replace the row)
      WHEN NOT MATCHED (upsert)     THEN INSERT

    The batch is first deduplicated per key — LAST writer by (ts,
    tiebreak) wins, the Debezium/Delta-CDF convention for multi-change
    batches. `changes` must carry every target column (whole-row
    upserts) plus ts/op; the result has exactly the target's schema.

    Plan shape, chosen for the 100 TB target / small-batch asymmetry:
    NOT a full-outer join (which Spark cannot broadcast on either
    side). Instead

        merged = target LEFT ANTI JOIN touched_keys   (broadcastable)
                 UNION ALL surviving upserts

    so the big side is one broadcast-hash anti join probed in place —
    zero shuffle of the target — and only the deduped batch moves.
    """
    w = Window.partitionBy("key").orderBy(
        F.col("ts").desc(), F.col(tiebreak_col).desc()
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    touched = latest.select("key")
    untouched = target.join(F.broadcast(touched), "key", "left_anti")
    upserts = latest.filter(F.col("op") != "delete").select(*target.columns)
    return untouched.unionByName(upserts)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    pk_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Snapshot diff between two versions of a keyed table — the
    change-data-feed primitive (what Delta CDF / Iceberg changelog
    scans emit): one row per changed key with change_type in
    ('added', 'removed', 'changed') and, for changes, the
    comma-joined list of differing columns (in `compare_cols` order).
    Unchanged keys are dropped. NULL-safe comparison throughout
    (NULL -> value and value -> NULL are changes; NULL -> NULL is
    not), via Spark's <=> / DuckDB's IS NOT DISTINCT FROM.

    Plan: one full-outer shuffle join on the pk — the irreducible cost
    of diffing two unordered snapshots; co-locate both snapshots by
    bucketing on the pk (operators/skew.write_clustered) to make it
    zero-shuffle on read. Column comparison is a constant-width CASE
    chain, map-side after the join.
    """
    o = old.select(
        *[F.col(c).alias(f"_o_{c}") for c in pk_cols + compare_cols]
    )
    n = new.select(
        *[F.col(c).alias(f"_n_{c}") for c in pk_cols + compare_cols]
    )
    cond = None
    for c in pk_cols:
        eq = F.col(f"_o_{c}") == F.col(f"_n_{c}")
        cond = eq if cond is None else cond & eq
    j = o.join(n, cond, "full_outer")
    in_old = F.col(f"_o_{pk_cols[0]}").isNotNull()
    in_new = F.col(f"_n_{pk_cols[0]}").isNotNull()
    diffs = [
        F.when(
            ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")), F.lit(c)
        )
        for c in compare_cols
    ]
    changed_cols = F.concat_ws(",", *diffs)
    change = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    out = j.select(
        *[
            F.coalesce(F.col(f"_o_{c}"), F.col(f"_n_{c}")).alias(c)
            for c in pk_cols
        ],
        change.alias("change_type"),
        F.when(in_old & in_new, changed_cols).otherwise(F.lit("")).alias(
            "changed_cols"
        ),
    )
    return out.filter(
        (F.col("change_type") != "changed") | (F.col("changed_cols") != "")
    )


def table_diff_sql(
    old_sql: str, new_sql: str, pk_cols: list[str], compare_cols: list[str]
) -> str:
    """DuckDB twin of table_diff (identical join + CASE chain)."""
    on = " AND ".join(f"o.{c} = n.{c}" for c in pk_cols)
    pks = ", ".join(
        f"COALESCE(o.{c}, n.{c}) AS {c}" for c in pk_cols
    )
    diffs = ", ".join(
        f"CASE WHEN NOT (o.{c} IS NOT DISTINCT FROM n.{c}) "
        f"THEN '{c}' ELSE NULL END"
        for c in compare_cols
    )
    pk0 = pk_cols[0]
    return f"""
WITH o AS ({old_sql}), n AS ({new_sql}),
j AS (
  SELECT {pks},
         CASE WHEN o.{pk0} IS NULL THEN 'added'
              WHEN n.{pk0} IS NULL THEN 'removed'
              ELSE 'changed' END AS change_type,
         CASE WHEN o.{pk0} IS NOT NULL AND n.{pk0} IS NOT NULL
              THEN concat_ws(',', {diffs}) ELSE '' END AS changed_cols
  FROM o FULL OUTER JOIN n ON {on}
)
SELECT * FROM j
WHERE change_type <> 'changed' OR changed_cols <> ''
"""


def temporal_dim_join(
    facts: DataFrame,
    dim_history: DataFrame,
    key_col: str,
) -> DataFrame:
    """Join each fact row to the dimension VERSION that was valid at
    the fact's event time — the point-in-time ("AS OF") dimension join
    every warehouse backfill needs (joining today's dim attributes to
    last year's facts silently rewrites history; this is the correct
    form). dim_history is SCD2 output: per key, half-open
    [valid_from_us, valid_to_us) intervals with NULL valid_to = open.

    Plan: equi-join on the dimension key + validity filter. SCD2
    intervals PARTITION each key's timeline, so at most one version
    matches — no dedup stage. The shuffle keys on the dim key; version
    counts per key are small (change history, not fact volume), so the
    join side stays balanced even when fact keys are zipfian — the hot
    key's facts spread over its tasks, and a broadcast hint is the
    escape hatch when the whole dim history fits (often true: dims are
    small next to facts by definition).

    Facts with no valid version at their timestamp (before the key's
    first change, or a deleted gap) keep NULL dim columns under
    a left join — the honest answer, not the latest version.
    """
    t = F.col("ts_us").cast("long")
    cond = (
        (facts[key_col] == dim_history[key_col])
        & (t >= F.col("valid_from_us"))
        & (F.col("valid_to_us").isNull() | (t < F.col("valid_to_us")))
    )
    return facts.join(dim_history, cond, "left").drop(dim_history[key_col])


def bitemporal_snapshot(corrections: DataFrame, tx_as_of_us: int) -> DataFrame:
    """Bitemporal dimension reconstruction: given a CORRECTION LOG —
    rows (key, valid_from_us, value..., tx_us, op) where each
    transaction restates what is believed about the valid period
    starting at valid_from_us (op = retract withdraws that belief) —
    rebuild the dimension as it was believed AS OF transaction time
    `tx_as_of_us`: the backdated-fix problem (late amendments, audit
    replays, 'what did the report say last quarter') that plain SCD2
    cannot answer because it conflates the two time axes.

      1. belief selection: latest tx ≤ T per (key, valid_from), ties
         by tx_id — one row_number window;
      2. retraction drop: a winning retract removes the period;
      3. valid_to derivation: lead(valid_from) per key over the
         SURVIVING periods (SCD2 interval closure) — so a retracted
         middle period correctly extends its predecessor.

    Output: the believed history (key, valid_from_us, valid_to_us,
    is_current, value columns). Feed it to temporal_dim_join for
    point-in-VALID-time queries — the two-axis query is the
    composition, each axis one well-defined operator.

    Both windows key on `key` (the belief window on (key, valid_from))
    — no global window; a key's correction history is the unit of
    parallelism.
    """
    from pyspark.sql import Window

    c = corrections.filter(F.col("tx_us").cast("long") <= tx_as_of_us)
    wb = Window.partitionBy("key", "valid_from_us").orderBy(
        F.col("tx_us").cast("long").desc(), F.col("tx_id").desc()
    )
    latest = (
        c.withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    alive = latest.filter(F.col("op") != "retract")
    wv = Window.partitionBy("key").orderBy(F.col("valid_from_us").asc())
    return (
        alive.withColumn("valid_to_us", F.lead("valid_from_us").over(wv))
        .withColumn("is_current", F.col("valid_to_us").isNull())
        .drop("op")
    )


def table_fingerprint(
    df: DataFrame,
    group_col: str,
    cols: list,
) -> DataFrame:
    """Order-insensitive content fingerprint — the migration/replication
    validation primitive: prove two copies of a table hold identical
    rows without sorting either one.

    Per group: row digest = first 15 hex chars of md5 over the
    '|'-joined column values (NULL rendered as the sentinel '\\N' so
    NULL != 'null' != ''), folded with the COMMUTATIVE, ASSOCIATIVE
    bit_xor aggregate — any row order, any partitioning, any merge tree
    gives the same fold, which is exactly why replication checkers
    (pt-table-checksum et al.) use xor-of-hashes. Count rides along:
    xor alone cannot see a row appearing twice AND a compensating pair
    (xor of a duplicate cancels), so (count, xor) together are the
    check. Emits (group, n_rows, xor_fp).

    Scale: one scan, one partial-aggregating hash agg keyed on the
    group — the cheapest possible full-table verification; at 100 TB
    the groups are file/partition ids and mismatched groups re-check
    individually (the binary-search-by-partition repair loop).
    """
    parts = []
    for c in cols:
        parts.append(F.coalesce(F.col(c).cast("string"), F.lit("\\N")))
    digest = F.conv(
        F.substring(F.md5(F.concat_ws("|", *parts)), 1, 15), 16, 10
    ).cast("long")
    return (
        df.select(F.col(group_col).alias("grp"), digest.alias("d"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(d)").alias("xor_fp"),
        )
    )


def table_fingerprint_sql(
    table_sql: str, group_expr: str, col_exprs: list
) -> str:
    """DuckDB twin of table_fingerprint: identical digest rendering
    (CAST to VARCHAR, '\\N' NULL sentinel, '|' separator)."""
    rendered = ", ".join(
        f"COALESCE(CAST({c} AS VARCHAR), '\\N')" for c in col_exprs
    )
    return f"""
WITH src AS (SELECT {group_expr} AS grp,
  CAST(('0x' || substring(md5(concat_ws('|', {rendered})), 1, 15)) AS BIGINT) AS d
FROM ({table_sql}))
SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(d) AS BIGINT) AS xor_fp
FROM src GROUP BY 1
"""
