"""Structured Streaming: batch parity of windowed counts + streaming dedup."""

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


def test_streaming_lsh_neardup_matches_batch_clusters(spark, tmp_path):
    """Online LSH near-dup: signatures are bit-identical to the batch
    minhash, and connected components over the streamed star edges equal
    components over the batch within-bucket pair join — replayed across
    many micro-batches with buckets straddling batch boundaries."""
    import glob
    import os
    import shutil
    import time

    from instageo_e2e_geospatial_ml_spark.operators.dedup import (
        dedup_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )
    from instageo_e2e_geospatial_ml_spark.streaming.neardup import (
        minhash_signature_rows,
        neardup_pairs_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    # 1) per-row signatures == aggregated batch signatures, bit for bit
    batch_sig = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(shingles(docs, "text", 3), "doc_id").collect()
    }
    row_sig = {
        r["doc_id"]: list(r["sig"]) for r in minhash_signature_rows(docs).collect()
    }
    assert row_sig == batch_sig

    # 2) stream in 6 deterministic micro-batches
    d = tmp_path / "docs_stream"
    d.mkdir()
    now = time.time()
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    n_files = 6
    for i in range(n_files):
        part = pdf.iloc[i::n_files]
        tmp = tmp_path / f"_w{i}"
        spark.createDataFrame(part).coalesce(1).write.parquet(str(tmp))
        src = glob.glob(str(tmp / "part-*.parquet"))[0]
        dest = d / f"{i}.parquet"
        shutil.move(src, dest)
        os.utime(dest, (now - 100 + i, now - 100 + i))
    schema = spark.read.parquet(str(d / "0.parquet")).schema
    stream = read_event_stream(spark, str(d), schema, max_files=1)
    got = run_available_now(
        neardup_pairs_stream(stream), "neardup_s", str(tmp_path / "ck_nd")
    ).toPandas()
    assert len(got) > 0

    want_pairs = lsh_candidate_pairs(
        minhash_signatures(shingles(docs, "text", 3), "doc_id")
    )
    stream_edges = spark.createDataFrame(got[["doc_a", "doc_b"]].drop_duplicates())
    c_batch = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(want_pairs).collect()
    }
    c_stream = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(stream_edges).collect()
    }
    assert c_stream == c_batch and len(c_batch) > 0


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


def test_streaming_neardup_max_bucket_cap(spark, tmp_path):
    """With max_bucket=N, a degenerate bucket stops emitting edges once
    cumulative membership exceeds N — the online mirror of the batch
    skew-cap anti-join (which the parity docstring now scopes to)."""
    from instageo_e2e_geospatial_ml_spark.streaming.neardup import (
        neardup_pairs_stream,
    )

    d = tmp_path / "in"
    d.mkdir()
    text = "the same boilerplate text repeated for every document here"
    _write_stream_file(
        spark, tmp_path, d, "0",
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 5], "text": [text] * 5}),
    )
    schema = "doc_id long, text string"

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        return _drain_to_parquet(
            spark,
            neardup_pairs_stream(stream, max_bucket=3),
            str(tmp_path / "out"),
            str(tmp_path / "ck1"),
        )

    got = run()
    # per band: keeper=1, members 2 and 3 fit under the cap, 4/5 dropped
    assert set(map(tuple, got[["doc_a", "doc_b"]].drop_duplicates().values)) == {
        (1, 2),
        (1, 3),
    }
    # a later batch in the same bucket stays capped (cumulative, in state)
    _write_stream_file(
        spark, tmp_path, d, "1", pd.DataFrame({"doc_id": [6], "text": [text]})
    )
    got2 = run()
    assert len(got2) == len(got)  # no new edges past the cap


def test_streaming_neardup_state_ttl_reelects_keeper(spark, tmp_path):
    """A bucket whose last event time is older than state_ttl_minutes is
    evicted once the watermark passes, and its next arrival re-elects a
    keeper: post-eviction edges link to the NEW keeper, not the old one
    (the documented recall trade-off). Event-time TTL (not processing
    time) so the drain terminates and eviction is replay-deterministic."""
    import pandas as pd

    from instageo_e2e_geospatial_ml_spark.streaming.neardup import (
        neardup_pairs_stream,
    )

    d = tmp_path / "in"
    d.mkdir()
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "completely different words nothing shared with the others at all"
    T = pd.Timestamp
    # file order == micro-batch order (maxFilesPerTrigger=1):
    #  b0: bucket A at 10:00 -> keeper 1, edge (1,2); timeout at 10:05
    #  b1: other bucket at 10:30 -> watermark -> 10:29
    #  b2: other bucket at 10:31 -> A has no data, watermark 10:29 > 10:05
    #      -> A evicted this batch
    #  b3: bucket A again at 11:00 -> fresh state, keeper 5, edge (5,6)
    batches = [
        pd.DataFrame({"doc_id": [1, 2], "text": [text] * 2,
                      "ts": [T("2024-01-01 10:00:00")] * 2}),
        pd.DataFrame({"doc_id": [3], "text": [other],
                      "ts": [T("2024-01-01 10:30:00")]}),
        pd.DataFrame({"doc_id": [4], "text": ["quick brown fox jumps over lazy dog tonight"],
                      "ts": [T("2024-01-01 10:31:00")]}),
        pd.DataFrame({"doc_id": [5, 6], "text": [text] * 2,
                      "ts": [T("2024-01-01 11:00:00")] * 2}),
    ]
    for i, b in enumerate(batches):
        _write_stream_file(spark, tmp_path, d, str(i), b)
    schema = "doc_id long, text string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    got = _drain_to_parquet(
        spark,
        neardup_pairs_stream(stream, state_ttl_minutes=5, watermark="1 minute"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    pairs = set(map(tuple, got[["doc_a", "doc_b"]].drop_duplicates().values))
    # the re-elected keeper's edge, and crucially NO (1,5)/(1,6) edges to
    # the evicted keeper
    assert pairs == {(1, 2), (5, 6)}, pairs


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


def test_heavy_hitters_stream_mg_bound(spark, tmp_path):
    """Sharded Misra-Gries vs the exact batch heavy hitters: every token
    above the per-shard 1/(capacity+1) share bound is present in the
    final snapshot, estimates never overcount, and the undercount stays
    within n_shard/(capacity+1)."""
    from instageo_e2e_geospatial_ml_spark.streaming.heavy import heavy_hitters_stream

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
    )
    src = str(tmp_path / "in")
    toks.repartition(4).write.mode("overwrite").parquet(src)

    capacity, n_shards = 8, 4
    stream = spark.readStream.schema("tok string").parquet(src)
    q = (
        heavy_hitters_stream(stream, capacity=capacity, tok_col="tok", n_shards=n_shards)
        .writeStream.format("memory")
        .queryName("mg_hh")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    snap = spark.table("mg_hh").toPandas()
    # final snapshot per shard = rows at that shard's max n_seen
    final = snap[snap.groupby("shard")["n_seen"].transform("max") == snap["n_seen"]]
    assert (final.groupby("shard").size() <= capacity).all()

    truth = (
        toks.withColumn("shard", F.pmod(F.hash("tok"), F.lit(n_shards)))
        .groupBy("shard", "tok").count().toPandas()
    )
    shard_n = truth.groupby("shard")["count"].sum()
    est = {(r.shard, r.tok): r.est for r in final.itertuples()}
    for r in truth.itertuples():
        bound = shard_n[r.shard] / (capacity + 1)
        if r.count > bound:
            assert (r.shard, r.tok) in est, f"missing heavy hitter {r.tok}"
        if (r.shard, r.tok) in est:
            e = est[(r.shard, r.tok)]
            assert e <= r.count <= e + bound
    # snapshot n_seen equals the true shard volume (nothing lost)
    got_n = final.groupby("shard")["n_seen"].max()
    for s, n in shard_n.items():
        assert got_n.get(s, 0) == n


def test_stream_stream_attribution_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join == the same logical join
    on static frames, for in-watermark data: conversions inside the
    horizon attribute to every qualifying impression, outside-horizon
    and wrong-user conversions don't."""
    import pandas as pd

    from instageo_e2e_geospatial_ml_spark.streaming.attribution import (
        attribute_batch, attribute_stream,
    )

    t0 = pd.Timestamp("2024-03-01 10:00:00")
    imp_rows = [
        (1, "i1", t0),
        (1, "i2", t0 + pd.Timedelta(minutes=30)),
        (2, "i3", t0),
        (3, "i4", t0),  # user with no conversion
    ]
    conv_rows = [
        (1, "c1", t0 + pd.Timedelta(minutes=45)),   # hits i1 and i2
        (1, "c2", t0 + pd.Timedelta(minutes=85)),   # hits i2 only (i1 beyond 1h)
        (2, "c3", t0 + pd.Timedelta(minutes=59)),   # hits i3 (inside)
        (2, "c4", t0 - pd.Timedelta(minutes=1)),    # before any impression
        (9, "c5", t0 + pd.Timedelta(minutes=5)),    # unknown user
    ]
    imp_pdf = pd.DataFrame(imp_rows, columns=["user_id", "imp_id", "imp_ts"])
    conv_pdf = pd.DataFrame(conv_rows, columns=["user_id", "conv_id", "conv_ts"])

    imp_dir, conv_dir = str(tmp_path / "imp"), str(tmp_path / "conv")
    imp_b = spark.createDataFrame(imp_pdf)
    conv_b = spark.createDataFrame(conv_pdf)
    imp_b.repartition(2).write.parquet(imp_dir)
    conv_b.repartition(2).write.parquet(conv_dir)

    imp_s = (
        spark.readStream.schema(imp_b.schema)
        .option("maxFilesPerTrigger", 1).parquet(imp_dir)
    )
    conv_s = (
        spark.readStream.schema(conv_b.schema)
        .option("maxFilesPerTrigger", 1).parquet(conv_dir)
    )
    out = attribute_stream(imp_s, conv_s, horizon="1 hour")
    q = (
        out.writeStream.format("memory").queryName("attr_out")
        .option("checkpointLocation", str(tmp_path / "ck_attr"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.imp_id, r.conv_id, r.lag_us)
        for r in spark.sql("select * from attr_out").collect()
    }
    want = {
        (r.user_id, r.imp_id, r.conv_id, r.lag_us)
        for r in attribute_batch(imp_b, conv_b, horizon="1 hour").collect()
    }
    assert got == want
    assert ("1", "i1", "c1", 45 * 60 * 1000000) in {
        (str(u), i, c, l) for u, i, c, l in got
    } or (1, "i1", "c1", 45 * 60 * 1000000) in got
    assert all(c != "c4" and c != "c5" for _, _, c, _ in got)
    assert len(got) == 4  # (i1,c1) (i2,c1) (i2,c2) (i3,c3)


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


def test_windowed_funnel_stream_matches_batch(spark, tmp_path):
    """The streaming funnel's LAST emitted row per user equals the batch
    windowed_funnel result when events arrive in event-time order across
    batches, and every intermediate emission is a strict stage advance."""
    from instageo_e2e_geospatial_ml_spark.operators.funnel import (
        windowed_funnel,
    )
    from instageo_e2e_geospatial_ml_spark.streaming.funnel import (
        windowed_funnel_stream,
    )

    t = lambda m: pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=m)
    rows = []
    eid = 0
    for u in range(1, 21):
        # u converts to depth (u % 4): view at u min, click +2, purchase +4
        rows.append((eid, t(u), u, "view")); eid += 1
        if u % 4 >= 1:
            rows.append((eid, t(u + 2), u, "click")); eid += 1
        if u % 4 >= 2:
            rows.append((eid, t(u + 4), u, "purchase")); eid += 1
        # noise the funnel must ignore
        rows.append((eid, t(u + 5), u, "error")); eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type"]
    )
    ev = spark.createDataFrame(pdf)

    # ordered multi-file source: split by time so files arrive in order
    d = tmp_path / "in"
    for i, chunk in enumerate(
        [pdf[pdf.ts < t(10)], pdf[(pdf.ts >= t(10)) & (pdf.ts < t(18))],
         pdf[pdf.ts >= t(18)]]
    ):
        spark.createDataFrame(chunk).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))
    stream = read_event_stream(spark, str(d), ev.schema, max_files=1)
    out = windowed_funnel_stream(
        stream, ["view", "click", "purchase"],
        horizon_us=10 * 60 * 1000000, watermark="1 minute",
    )
    got = run_available_now(out, "wfun", str(tmp_path / "ck")).toPandas()

    want = {
        r.u: (r.stage, r.anchor_us, r.last_us)
        for r in windowed_funnel(
            ev, ["view", "click", "purchase"],
            horizon_us=10 * 60 * 1000000,
        ).collect()
    }
    assert len(got) > 0
    # every emission is a valid (user, stage<=final) advance
    last = {}
    for _, r in got.sort_values(["u", "stage"]).iterrows():
        assert r["stage"] == last.get(r["u"], 0) + 1
        last[r["u"]] = r["stage"]
    # final emitted row per user == batch result
    fin = got.sort_values("stage").groupby("u").last()
    assert set(fin.index) == set(want)
    for u, row in fin.iterrows():
        assert (row["stage"], row["anchor_us"], row["last_us"]) == want[u]


def test_cusum_monitor_stream_matches_reference(spark, tmp_path):
    """Online CUSUM streaming monitor vs the single-pass reference, fed
    across 3 ordered micro-batches: identical alarm sequence (times,
    sides, statistics), state carrying S across batch boundaries."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.streaming.cusum import (
        cusum_alarms_reference,
        cusum_monitor_stream,
    )

    rng = np.random.default_rng(41)
    t0 = pd.Timestamp("2024-01-01")
    rows = []
    vals = []
    for i in range(300):
        # regime shift at 150: mean 100 -> 160
        base = 100 if i < 150 else 160
        v = int(base + rng.integers(-20, 21))
        ts = t0 + pd.Timedelta(minutes=i)
        rows.append((i, ts, "m1", v))
        vals.append((int(ts.value // 1000), v))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type",
                                      "value_int"])
    d = tmp_path / "in"
    for chunk in np.array_split(pdf.index, 3):
        spark.createDataFrame(pdf.loc[chunk]).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))
    ev = spark.createDataFrame(pdf)
    stream = read_event_stream(spark, str(d), ev.schema, max_files=1)
    out = cusum_monitor_stream(
        stream, mu0=100, slack=10, h=200, watermark="1 minute"
    )
    got = run_available_now(out, "cusum", str(tmp_path / "ck")).toPandas()
    got = got.sort_values("alarm_us").reset_index(drop=True)

    want = cusum_alarms_reference(vals, mu0=100, slack=10, h=200)
    assert len(want) > 0, "test setup: the shift must trigger alarms"
    assert len(got) == len(want)
    for (_, g), w in zip(got.iterrows(), want):
        assert (g["alarm_us"], g["side"], g["s_at_alarm"],
                g["n_since_reset"]) == w
    # first alarm fires after the regime shift, not before
    shift_us = int((t0 + pd.Timedelta(minutes=150)).value // 1000)
    assert want[0][0] >= shift_us


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


def test_ewma_monitor_stream_matches_batch(spark, tmp_path):
    """ewma_monitor_stream anomaly emissions across 3 ordered
    micro-batches equal the batch replay (ewma_anomaly): same per-key
    anomaly count and max deviation; the fixed-point level survives
    batch boundaries."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        ewma_anomaly,
    )
    from instageo_e2e_geospatial_ml_spark.streaming.ewma import (
        ewma_monitor_stream,
    )

    rng = np.random.default_rng(17)
    t0 = pd.Timestamp("2024-01-01")
    rows = []
    for i in range(240):
        for k in ("m1", "m2"):
            base = 100 if k == "m1" else 500
            v = int(base + rng.integers(-2, 3))
            if i % 37 == 0:  # periodic spikes -> anomalies
                v += 40
            rows.append((i * 2 + (k == "m2"),
                         t0 + pd.Timedelta(minutes=i), k, v))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type",
                                      "value_int"])
    d = tmp_path / "in"
    for chunk in np.array_split(pdf.index, 3):
        spark.createDataFrame(pdf.loc[chunk]).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))
    ev = spark.createDataFrame(pdf)
    stream = read_event_stream(spark, str(d), ev.schema, max_files=1)
    out = ewma_monitor_stream(stream, shift_pow=4, band=8,
                              watermark="1 minute")
    got = run_available_now(out, "ewma", str(tmp_path / "ck")).toPandas()
    assert len(got) > 0

    batch_in = spark.createDataFrame(pdf).selectExpr(
        "event_type AS k",
        "CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS LONG) AS tus",
        "CAST(value_int AS LONG) AS v",
    )
    want = {
        r.k: (r.n_anomalies, r.max_abs_dev)
        for r in ewma_anomaly(batch_in, shift_pow=4, band=8).collect()
    }
    counts = got.groupby("key").size().to_dict()
    maxdev = got.groupby("key")["abs_dev"].max().to_dict()
    for k, (n_anom, mx) in want.items():
        assert counts.get(k, 0) == n_anom
        if n_anom:
            assert maxdev[k] == mx


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
