"""Structured Streaming: batch parity of windowed counts, dedup and the
stateful stream twins, and the chip pipeline run as micro-batches."""

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from instageo_e2e_geospatial_ml_spark.streaming.windows import (
    read_event_stream,
    run_available_now,
    streaming_dedup,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    # copy a small slice of events into a stream-source dir (several files)
    d = tmp_path_factory.mktemp("events_stream")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(str(d / "in"))
    return str(d / "in"), ev.schema, ev


def test_windowed_counts_batch_parity(spark, events_path, tmp_path):
    path, schema, ev_batch = events_path
    stream = read_event_stream(spark, path, schema)
    agg = windowed_event_counts(stream, window="6 hours", watermark="1 hour")
    got = run_available_now(
        agg, "win_counts", str(tmp_path / "ck1"), output_mode="complete"
    ).toPandas()
    # batch twin: same plan on the static table
    want = (
        ev_batch.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .toPandas()
    )
    key = ["window_start", "event_type"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, want_s, check_like=True)


def test_streaming_dedup(spark, events_path, tmp_path):
    path, schema, ev_batch = events_path
    stream = read_event_stream(spark, path, schema)
    dedup = streaming_dedup(stream, ["user_id"], watermark="100 days")
    got = run_available_now(dedup, "dedup_ev", str(tmp_path / "ck2")).toPandas()
    n_users = ev_batch.select("user_id").distinct().count()
    # one row per user (within one watermark horizon covering the data)
    assert len(got) == n_users
    assert got["user_id"].is_unique


def test_sessionize_stream_matches_batch(spark, events_path, tmp_path):
    # the applyInPandasWithState sessionizer must emit exactly the batch
    # twin's sessions: every closed session it emits appears verbatim in
    # sessionize_batch's output, and the only sessions it may withhold are
    # each key's final (still-open) one when no timeout batch fires
    from instageo_e2e_geospatial_ml_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream,
    )

    path, schema, ev_batch = events_path
    stream = read_event_stream(spark, path, schema, max_files=100)
    sessions = sessionize_stream(
        stream, key="event_type", gap_minutes=30, watermark="1 minute"
    )
    got = run_available_now(sessions, "sess_ev", str(tmp_path / "ck3")).toPandas()

    want = sessionize_batch(ev_batch, key="event_type", gap_minutes=30).toPandas()
    want_keyed = {
        (r["event_type"], r["session_start"], r["session_end"]): (
            r["n_events"],
            round(r["sum_value"], 6),
        )
        for _, r in want.iterrows()
    }
    assert len(got) > 0
    for _, r in got.iterrows():
        k = (r["event_type"], r["session_start"], r["session_end"])
        assert k in want_keyed, k
        assert (r["n_events"], round(r["sum_value"], 6)) == want_keyed[k]
    # at most one session per key (the open tail) may be unemitted
    n_keys = want["event_type"].nunique()
    assert len(got) >= len(want) - n_keys


def test_sessionize_stream_multi_batch_state(spark, events_path, tmp_path):
    # force MANY micro-batches (one file per trigger): sessions spanning
    # batch boundaries must survive in state, and event-time timeouts must
    # flush open sessions as the watermark advances between batches
    from instageo_e2e_geospatial_ml_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream,
    )

    path, schema, ev_batch = events_path
    stream = read_event_stream(spark, path, schema, max_files=1)
    sessions = sessionize_stream(
        stream, key="event_type", gap_minutes=30, watermark="1 minute"
    )
    got = run_available_now(sessions, "sess_mb", str(tmp_path / "ckmb")).toPandas()
    want = sessionize_batch(ev_batch, key="event_type", gap_minutes=30).toPandas()

    # with unordered file batches the stream may split sessions the batch
    # twin merges (late-arriving earlier events), but every event must be
    # accounted for exactly once across emitted + still-open sessions:
    # per-key totals of emitted sessions never exceed the batch totals
    got_n = got.groupby("event_type")["n_events"].sum()
    want_n = want.groupby("event_type")["n_events"].sum()
    assert len(got) > 0
    for k, n in got_n.items():
        # no event is ever double-counted across emitted sessions
        assert n <= want_n[k]
    # every emitted session lies inside its key's true event-time range
    # (how MANY close depends on file/batch order — late rows past the
    # watermark are legitimately dropped, so no share assertion)
    rng = want.groupby("event_type").agg(
        lo=("session_start", "min"), hi=("session_end", "max")
    )
    for _, r in got.iterrows():
        assert rng.loc[r["event_type"], "lo"] <= r["session_start"]
        assert r["session_end"] <= rng.loc[r["event_type"], "hi"]


def test_sessionize_stream_late_event_extends_session_start(spark, tmp_path):
    # a cross-batch event OLDER than the open session but within the gap
    # must extend session_start backward; one older by MORE than the gap
    # becomes its own immediately-emitted session
    from instageo_e2e_geospatial_ml_spark.streaming.sessions import (
        sessionize_stream,
    )

    import glob
    import os
    import shutil
    import time

    d = tmp_path / "late_in"
    d.mkdir()
    now = time.time()

    def write_one(name, ts, value, age):
        # write via a scratch dir, then move the single part-file FLAT into
        # the stream-source dir (FileStreamSource does not recurse into
        # the name.parquet directory a DataFrame write produces)
        tmp = tmp_path / f"_w_{name}"
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "event_type": ["k"],
                    "ts": pd.to_datetime([ts]),
                    "value": [float(value)],
                }
            )
        ).coalesce(1).write.parquet(str(tmp))
        part = glob.glob(str(tmp / "part-*.parquet"))[0]
        dest = d / name
        shutil.move(part, dest)
        # maxFilesPerTrigger takes oldest-first: pin mod times so the
        # micro-batch order is deterministic
        os.utime(dest, (now - age, now - age))

    write_one("a.parquet", "2024-01-01 10:00:00", 1.0, 400)  # opens the session
    write_one("b.parquet", "2024-01-01 09:58:00", 2.0, 300)  # late, in-gap
    write_one("c.parquet", "2024-01-01 05:00:00", 4.0, 200)  # late, out-of-gap
    write_one("d.parquet", "2024-01-01 20:00:00", 8.0, 100)  # closes the session

    schema = spark.read.parquet(str(d / "a.parquet")).schema
    stream = read_event_stream(spark, str(d), schema, max_files=1)
    sessions = sessionize_stream(
        stream, key="event_type", gap_minutes=30, watermark="6 hours"
    )
    got = run_available_now(
        sessions, "sess_late", str(tmp_path / "cklate")
    ).toPandas()
    got = got.sort_values("session_start").reset_index(drop=True)
    # the out-of-gap late singleton and the backward-extended session
    # (d.parquet's 20:00 closes it in-loop; 20:00 itself stays open)
    assert list(got["session_start"]) == [
        "2024-01-01T05:00:00",
        "2024-01-01T09:58:00",
    ]
    assert list(got["session_end"]) == [
        "2024-01-01T05:00:00",
        "2024-01-01T10:00:00",
    ]
    assert list(got["n_events"]) == [1, 2]
    assert list(got["sum_value"]) == [4.0, 3.0]


def test_sessionize_stream_cross_batch_replay_parity(spark, tmp_path):
    # full-value parity with the batch twin under out-of-order CROSS-BATCH
    # arrival: a late in-gap event (within the watermark) lands in its own
    # micro-batch and must merge backward into the open session, so the
    # stream's emitted sessions equal sessionize_batch's rows exactly,
    # minus only the still-open tail session (append mode cannot flush it
    # until the watermark passes its gap)
    from instageo_e2e_geospatial_ml_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream,
    )

    import glob
    import os
    import shutil
    import time

    d = tmp_path / "replay_in"
    d.mkdir()
    now = time.time()
    rows = []

    def write_one(name, key, ts, value, age):
        rows.append({"event_type": key, "ts": pd.Timestamp(ts), "value": float(value)})
        tmp = tmp_path / f"_w_{name}"
        spark.createDataFrame(pd.DataFrame([rows[-1]])).coalesce(1).write.parquet(str(tmp))
        part = glob.glob(str(tmp / "part-*.parquet"))[0]
        dest = d / name
        shutil.move(part, dest)
        os.utime(dest, (now - age, now - age))

    write_one("a.parquet", "k", "2024-01-01 10:00:00", 1.0, 500)
    write_one("b.parquet", "k", "2024-01-01 09:58:00", 2.0, 460)  # late, in-gap
    write_one("c.parquet", "k", "2024-01-01 20:00:00", 4.0, 420)  # closes s1
    write_one("d.parquet", "k2", "2024-01-02 12:00:00", 8.0, 380)  # advances wm
    write_one("e.parquet", "k2", "2024-01-02 12:20:00", 16.0, 340)  # wm > 20:30 → flush k

    schema = spark.read.parquet(str(d / "a.parquet")).schema
    stream = read_event_stream(spark, str(d), schema, max_files=1)
    sessions = sessionize_stream(
        stream, key="event_type", gap_minutes=30, watermark="30 minutes"
    )
    got = (
        run_available_now(sessions, "sess_replay", str(tmp_path / "ckrep"))
        .toPandas()
        .sort_values(["event_type", "session_start"])
        .reset_index(drop=True)
    )
    want_all = (
        sessionize_batch(
            spark.createDataFrame(pd.DataFrame(rows)), key="event_type", gap_minutes=30
        )
        .toPandas()
        .sort_values(["event_type", "session_start"])
        .reset_index(drop=True)
    )
    # the one still-open session is k2's tail; everything else matches
    want = want_all[
        ~(
            (want_all["event_type"] == "k2")
            & (want_all["session_start"] == "2024-01-02T12:00:00")
        )
    ].reset_index(drop=True)
    cols = ["event_type", "session_start", "session_end", "n_events", "sum_value"]
    pd.testing.assert_frame_equal(got[cols], want[cols], check_dtype=False)
    # and the late event really merged: k's first session starts at 09:58
    assert got.iloc[0]["session_start"] == "2024-01-01T09:58:00"
    assert got.iloc[0]["n_events"] == 2


def _drain_to_parquet(spark, stream_df, out, ck):
    """availableNow-drain into a parquet sink (memory sinks can't resume
    from a checkpoint); returns the CUMULATIVE sink contents."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).toPandas()


def _write_stream_file(spark, tmp_path, d, name, pdf):
    import glob
    import shutil as _sh

    tmp = tmp_path / f"_w_{name}"
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(tmp))
    src = glob.glob(str(tmp / "part-*.parquet"))[0]
    _sh.move(src, d / f"{name}.parquet")


def test_cap_per_key_stream_matches_batch(spark, tmp_path):
    # the streaming per-key admission cap admits exactly the batch
    # window's picks when per-key arrival order matches the batch sort
    # order (docs arrive in doc_id order across batch files)
    from instageo_e2e_geospatial_ml_spark.functions.web import (
        cap_per_domain,
        registrable_domain,
        synth_urls,
        url_components,
    )
    from instageo_e2e_geospatial_ml_spark.streaming.caps import cap_per_key_stream

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    parsed = registrable_domain(url_components(synth_urls(docs))).select(
        "doc_id", "domain"
    )
    src = str(tmp_path / "in")
    # several files, split by doc_id range so arrival order == sort order
    parsed.withColumn("b", (F.col("doc_id") / 40).cast("int")).repartitionByRange(
        4, "b"
    ).sortWithinPartitions("doc_id").drop("b").write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, domain string").parquet(src)

    capped = cap_per_key_stream(stream, max_per_key=3, key_col="domain")
    q = (
        capped.writeStream.format("memory")
        .queryName("dom_caps")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("dom_caps")
        .toPandas()
        .sort_values(["domain", "doc_id"])
        .reset_index(drop=True)
    )

    want = (
        cap_per_domain(parsed, max_per_domain=3)
        .select("domain", "doc_id", F.col("rank_in_domain").cast("long").alias("rank_in_key"))
        .toPandas()
        .sort_values(["domain", "doc_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[["domain", "doc_id", "rank_in_key"]], want)
    # cap respected and state is one counter per key
    assert (got.groupby("domain").size() <= 3).all()


def test_cap_per_key_stream_distinct_replay(spark, tmp_path):
    """distinct=True: a re-arriving doc_id (at-least-once redelivery) is
    neither double-counted against the budget nor re-emitted, and a
    later NEW id still gets the freed slot. In arrival-count mode the
    same input would re-admit the duplicate and exhaust the cap."""
    from instageo_e2e_geospatial_ml_spark.streaming.caps import cap_per_key_stream

    d = tmp_path / "in"
    d.mkdir()
    # batch0: a gets docs 1,2 ; batch1 redelivers 2 then offers 3,4
    _write_stream_file(
        spark, tmp_path, d, "0",
        pd.DataFrame({"domain": ["a", "a"], "doc_id": [1, 2]}),
    )
    _write_stream_file(
        spark, tmp_path, d, "1",
        pd.DataFrame({"domain": ["a", "a", "a"], "doc_id": [2, 3, 4]}),
    )
    stream = (
        spark.readStream.schema("domain string, doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    got = _drain_to_parquet(
        spark,
        cap_per_key_stream(stream, max_per_key=3, key_col="domain", distinct=True),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    ).sort_values("rank_in_key").reset_index(drop=True)
    assert list(got["doc_id"]) == ["1", "2", "3"]
    assert list(got["rank_in_key"]) == [1, 2, 3]
    # no duplicate emission of doc 2, and 4 was rejected (cap reached by
    # genuinely distinct docs, not by the redelivery)
    assert got["doc_id"].is_unique


def test_cap_per_key_stream_chunk_spanning_key(spark, tmp_path):
    """A key whose rows span multiple Arrow chunks in one micro-batch
    must admit the globally-lowest order values, not per-chunk winners
    (ADVICE r6): force tiny Arrow batches so one key arrives as many
    chunks, with the smallest doc_ids written LAST in the file."""
    from instageo_e2e_geospatial_ml_spark.streaming.caps import cap_per_key_stream

    d = tmp_path / "in"
    d.mkdir()
    n = 500
    # descending doc_ids: per-chunk sorting would admit high ids first
    _write_stream_file(
        spark, tmp_path, d, "0",
        pd.DataFrame({"domain": ["a"] * n, "doc_id": list(range(n, 0, -1))}),
    )
    stream = spark.readStream.schema("domain string, doc_id long").parquet(str(d))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        got = _drain_to_parquet(
            spark,
            cap_per_key_stream(stream, max_per_key=3, key_col="domain"),
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
        ).sort_values("rank_in_key").reset_index(drop=True)
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert list(got["doc_id"]) == [1, 2, 3]
    assert list(got["rank_in_key"]) == [1, 2, 3]


def test_hll_distinct_stream_register_exact_batch_parity(spark, tmp_path):
    """Streaming HLL summary equals the batch hll_registers sketch on
    the union of all micro-batches — register-exact (max-merge is
    order-free), across an arbitrary file/batch split."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        hll_registers,
    )
    from instageo_e2e_geospatial_ml_spark.streaming.distinct import (
        hll_distinct_stream,
    )

    rows = [
        ("a", i % 700) for i in range(3000)
    ] + [("b", i % 37) for i in range(800)]
    df = spark.createDataFrame(rows, "grp string, k long")
    src = str(tmp_path / "in")
    df.repartition(6).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("grp string, k long").parquet(src)
    q = (
        hll_distinct_stream(stream, key_col="k", group_col="grp", p=9)
        .writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("maxFilesPerTrigger", "2")  # force several micro-batches
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    snap = spark.table("hll_stream").toPandas()
    final = snap[
        snap.groupby("grp")["n_rows"].transform("max") == snap["n_rows"]
    ].set_index("grp")

    regs = hll_registers(df, key_col="k", p=9, group_cols=["grp"]).collect()
    import collections

    by = collections.defaultdict(dict)
    for r in regs:
        by[r.grp][r.reg] = r.rho_max
    m = 512
    for g, want_n in (("a", 3000), ("b", 800)):
        vec = [by[g].get(i, 0) for i in range(m)]
        r_big = max(vec)
        s_total = sum(1 << (r_big - v) for v in vec)
        m_hit = sum(1 for v in vec if v > 0)
        row = final.loc[g]
        assert int(row.n_rows) == want_n
        assert (int(row.r_big), int(row.s_total), int(row.m_hit)) == (
            r_big,
            s_total,
            m_hit,
        )


def test_decayed_counts_stream_exact_batch_parity(spark, tmp_path):
    """Ring-of-slot-sums streaming state reproduces the batch
    per-event-shift decay EXACTLY across multi-batch ingestion — the
    naive decay-the-total form would floor differently."""
    import random

    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        decayed_counts,
    )
    from instageo_e2e_geospatial_ml_spark.streaming.distinct import (
        decayed_counts_stream,
    )

    rng = random.Random(77)
    rows = [
        (k, rng.randrange(0, 40), rng.randrange(1, 100))
        for k in range(6)
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "k long, slot long, v long")
    src = str(tmp_path / "in")
    df.repartition(5).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("k long, slot long, v long").parquet(src)
    q = (
        decayed_counts_stream(
            stream, key_col="k", slot_col="slot", val_col="v",
            half_life_slots=3,
        )
        .writeStream.format("memory")
        .queryName("decay_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    snap = spark.table("decay_stream").toPandas()
    final = snap[
        snap.groupby("k")["n_events"].transform("max") == snap["n_events"]
    ].set_index("k")

    batch = {
        r.k: (r.last_slot, r.n_events, r.decayed)
        for r in decayed_counts(
            df, key_col="k", slot_col="slot", val_col="v",
            half_life_slots=3,
        ).collect()
    }
    for k in range(6):
        row = final.loc[k]
        assert (
            int(row.last_slot),
            int(row.n_events),
            int(row.decayed),
        ) == batch[k], k


def test_temporal_enrich_stream_matches_batch(spark, tmp_path):
    """Stream-static point-in-time enrichment: facts streamed in TWO
    files (two micro-batches) against a cached SCD2 dim produce
    row-identical results to the batch temporal_dim_join on the union
    — the stateless class: batching cannot matter. Includes boundary
    facts (inclusive start, exclusive end), a deleted-gap NULL, and
    an unknown key."""
    import pandas as pd

    from instageo_e2e_geospatial_ml_spark.operators.cdc import temporal_dim_join
    from instageo_e2e_geospatial_ml_spark.streaming.enrich import (
        temporal_enrich_stream,
    )

    dim_rows = [
        (1, "v1", 100, 200),
        (1, "v2", 300, None),
        (2, "w1", 0, None),
    ]
    dim = spark.createDataFrame(
        dim_rows, "key long, version string, valid_from_us long, valid_to_us long"
    ).cache()
    facts1 = pd.DataFrame(
        {"key": [1, 1, 1], "fact_id": [1, 2, 3], "ts_us": [50, 100, 199]}
    )
    facts2 = pd.DataFrame(
        {"key": [1, 1, 2, 3], "fact_id": [4, 5, 6, 7],
         "ts_us": [250, 301, 5, 5]}
    )

    d = tmp_path / "facts"
    d.mkdir()
    _write_stream_file(spark, tmp_path, d, "b1", facts1)
    stream = (
        spark.readStream.schema("key long, fact_id long, ts_us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    enriched = temporal_enrich_stream(stream, dim, "key").select(
        "fact_id", "version"
    )
    out = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    got1 = _drain_to_parquet(spark, enriched, out, ck)
    assert len(got1) == 3
    _write_stream_file(spark, tmp_path, d, "b2", facts2)
    got = _drain_to_parquet(spark, enriched, out, ck)

    facts_all = spark.createDataFrame(
        pd.concat([facts1, facts2]), "key long, fact_id long, ts_us long"
    )
    want = (
        temporal_dim_join(facts_all, dim, "key")
        .select("fact_id", "version")
        .toPandas()
    )
    g = got.sort_values("fact_id").reset_index(drop=True)
    w = want.sort_values("fact_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w)
    by = dict(zip(g["fact_id"], g["version"]))
    assert by[1] is None and by[2] == "v1" and by[3] == "v1"
    assert by[4] is None  # deleted gap
    assert by[5] == "v2" and by[6] == "w1" and by[7] is None


def test_token_bucket_stream_matches_batch(spark, tmp_path):
    """token_bucket_stream throttle events across 3 ordered batches
    equal the batch replay's per-key throttle counts + first-throttle
    time; bucket state (tokens, last arrival) survives batch
    boundaries."""
    from instageo_e2e_geospatial_ml_spark.operators.ratelimit import (
        token_bucket_admit,
        token_bucket_stream,
    )

    t0 = pd.Timestamp("2024-01-01")
    rows = []
    eid = 0
    # key 'a': a burst of 6 at t=0s..0.5s (burst 3, rate 2/s -> some
    # throttled), then spaced-out arrivals that all pass
    for i in range(6):
        rows.append((eid, t0 + pd.Timedelta(milliseconds=100 * i), "a"))
        eid += 1
    for i in range(4):
        rows.append((eid, t0 + pd.Timedelta(seconds=5 + 2 * i), "a"))
        eid += 1
    # key 'b': always under the rate
    for i in range(5):
        rows.append((eid, t0 + pd.Timedelta(seconds=3 * i), "b"))
        eid += 1
    pdf = pd.DataFrame(rows, columns=["eid", "ts", "k"]).sort_values(
        "ts"
    ).reset_index(drop=True)
    d = tmp_path / "in"
    import numpy as np

    for chunk in np.array_split(pdf.index, 3):
        spark.createDataFrame(pdf.loc[chunk]).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))
    ev = spark.createDataFrame(pdf)
    stream = read_event_stream(spark, str(d), ev.schema, max_files=1)
    out = token_bucket_stream(
        stream, rate_per_s=2, burst=3, watermark="1 minute"
    )
    got = run_available_now(out, "tb", str(tmp_path / "ck")).toPandas()

    batch_in = ev.select(
        "k",
        (F.unix_micros(F.col("ts").cast("timestamp"))).alias("tus"),
        "eid",
    )
    want = {r.k: r for r in token_bucket_admit(
        batch_in, rate_per_s=2, burst=3
    ).collect()}
    assert want["a"].n_throttled > 0
    assert want["b"].n_throttled == 0
    per_key = got.groupby("k").size().to_dict()
    assert per_key.get("a", 0) == want["a"].n_throttled
    assert per_key.get("b", 0) == 0
    assert int(got[got.k == "a"]["arrival_us"].min()) == \
        want["a"].first_throttled_us


def test_sensor_stream_datasource_drains_exactly_once(spark, tmp_path):
    """The Python STREAMING data source (SimpleDataSourceStreamReader):
    an availableNow drain over the offset range emits every
    (sensor, seq) exactly once — micro-batch boundaries (batchseqs=7
    does not divide maxseq=20) must not duplicate or drop readings —
    and matches the batch connector's closed form."""
    from instageo_e2e_geospatial_ml_spark.sources.pydatasource import (
        _reading,
        register_stream,
    )

    register_stream(spark)
    stream = (
        spark.readStream.format("sensorstream")
        .option("nsensors", 3)
        .option("batchseqs", 7)
        .option("maxseq", 20)
        .load()
    )
    # Python micro-batch streams don't support Trigger.AvailableNow
    # (Spark falls back to ONE batch) — drain with a fast
    # processing-time trigger until the offset log reaches maxseq.
    import time

    q = (
        stream.writeStream.format("memory")
        .queryName("sensorstream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        got = spark.table("sensorstream").toPandas()
        if len(got) >= 3 * 20:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()
    got = spark.table("sensorstream").toPandas()
    assert len(got) == 3 * 20
    seen = {(r.sensor_id, r.tus): r.temp_milli
            for r in got.itertuples()}
    assert len(seen) == 60                      # no dups
    for sid in range(3):
        for seq in range(20):
            want = _reading(sid, seq)
            assert seen[(want[0], want[1])] == want[2]


def _chip_stream_source(spark, tmp_path, frames):
    """One parquet file per observation frame, in arrival order, flat in
    a stream-source dir; returns (dir, schema)."""
    import glob
    import os

    src = tmp_path / "obs_in"
    src.mkdir()
    for i, pdf in enumerate(frames):
        part_dir = tmp_path / f"_obs_{i}"
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(part_dir))
        dst = src / f"{i}.parquet"
        shutil.move(glob.glob(str(part_dir / "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))  # file-source order
    return str(src), spark.read.parquet(str(src / "0.parquet")).schema


def _chip_stream_inputs(spark, tiles):
    from instageo_e2e_geospatial_ml_spark import synth
    from instageo_e2e_geospatial_ml_spark.plans.pipeline import ChipPipelineConfig

    obs = synth.gen_observations_pdf(n_extra_per_tile=8, tiles=tiles, spread=0.2)
    obs = obs[obs["mgrs_tile_id"].isin(tiles)]
    cat = synth.gen_granule_catalog_pdf(tiles=tiles, days=60, every=5)
    imgs = synth.gen_images_pdf(cat, w=128, h=128, fmt="raw")
    cfg = ChipPipelineConfig(
        min_count=2, num_steps=1, temporal_tolerance=10, chip_size=32,
        mask_types=("cloud",), masking_strategy="each",
    )
    return obs, spark.createDataFrame(cat), spark.createDataFrame(imgs), cfg


def test_chip_stream_releases_obs_cache_per_batch(spark, tmp_path):
    # build_records' obs table must not outlive its micro-batch: after a
    # 3-batch stream the session's CacheManager holds no new entry
    from instageo_e2e_geospatial_ml_spark.plans.pipeline import (
        run_chip_pipeline_streaming,
    )
    from instageo_e2e_geospatial_ml_spark.sources.checkpoint import CheckpointTable

    tiles = ["38PMB", "30RYS", "38PPB"]
    obs, cat_df, img_df, cfg = _chip_stream_inputs(spark, tiles)
    frames = [
        obs[obs["mgrs_tile_id"] == t].drop(columns=["mgrs_tile_id"]) for t in tiles
    ]
    src, schema = _chip_stream_source(spark, tmp_path, frames)
    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache.numCachedEntries()
    ckpt = CheckpointTable(
        spark, str(tmp_path / "chips"), key="stac_items_str", partition_by="tile_key"
    )
    got = run_chip_pipeline_streaming(
        spark, src, schema, cat_df, img_df, cfg, checkpoint=ckpt,
        stream_checkpoint_dir=str(tmp_path / "ck"), max_files=1,
    )
    assert got.count() > 0
    assert len(ckpt.committed_snapshot_ids()) == 3
    assert cache.numCachedEntries() == n_cached


def test_chip_stream_survives_empty_first_batch(spark, tmp_path):
    # a first micro-batch whose observations all fail the density filter
    # yields no chips: it must commit nothing and not kill the stream, and
    # the next file's chips still commit exactly as a batch run makes them
    from instageo_e2e_geospatial_ml_spark.plans.pipeline import (
        run_chip_pipeline,
        run_chip_pipeline_streaming,
    )
    from instageo_e2e_geospatial_ml_spark.sources.checkpoint import CheckpointTable

    obs, cat_df, img_df, cfg = _chip_stream_inputs(spark, ["38PMB", "30RYS"])
    lone = obs[obs["mgrs_tile_id"] == "30RYS"].head(1)  # < min_count=2
    rest = obs[obs["mgrs_tile_id"] == "38PMB"]
    frames = [f.drop(columns=["mgrs_tile_id"]) for f in (lone, rest)]
    src, schema = _chip_stream_source(spark, tmp_path, frames)
    ckpt = CheckpointTable(
        spark, str(tmp_path / "chips"), key="stac_items_str", partition_by="tile_key"
    )
    got = run_chip_pipeline_streaming(
        spark, src, schema, cat_df, img_df, cfg, checkpoint=ckpt,
        stream_checkpoint_dir=str(tmp_path / "ck"), max_files=1,
    )
    assert len(ckpt.committed_snapshot_ids()) == 1
    want = run_chip_pipeline(spark.createDataFrame(frames[1]), cat_df, img_df, cfg)
    cols = ["chip_id", "tile_key", "valid_px", F.md5("chip"), F.md5("seg")]
    assert want.count() > 0
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )
