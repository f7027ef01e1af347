"""Incremental streaming validation: cross-batch uniqueness + windowed agg."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fairtracks_validator_spark.plans.schema_compile import compile_schema
from fairtracks_validator_spark.streaming.validate_stream import (
    process_batch,
    validate_stream,
    windowed_event_counts,
)

DDL = "source STRING, ord INT, k STRING, v INT"


@pytest.fixture(scope="module")
def PLAN(spark):
    # compile lazily: Column construction requires an active session
    return compile_schema({
        "$id": "stream/1.0",
        "properties": {"k": {"type": "string", "unique": True},
                       "v": {"type": "integer", "minimum": 0}},
    })


def test_process_batch_incremental(spark, tmp_path, PLAN):
    out = str(tmp_path / "stream_out")
    b0 = spark.createDataFrame(
        [("a", 1, "k1", 5), ("b", 2, "k2", 5), ("bad", 3, "k9", -1)], DDL)
    process_batch(b0, 0, PLAN, out)
    b1 = spark.createDataFrame(
        [("c", 10, "k3", 5), ("d", 11, "k1", 5),      # cross-batch dup vs 'a'
         ("e", 12, "k4", 5), ("f", 13, "k4", 5)], DDL)  # intra-batch dup
    process_batch(b1, 1, PLAN, out)

    viol = spark.read.parquet(f"{out}/violations")
    got = {(r["source"], r["reason"], r["key_str"]) for r in viol.collect()}
    assert got == {
        ("bad", "schema", None),
        ("d", "dup_pk", '["k1"]'),
        ("f", "dup_pk", '["k4"]'),
    }
    d_row = viol.where("source='d'").collect()[0]
    assert d_row["description"] == "Duplicate PK in a and d"

    reg = spark.read.parquet(f"{out}/registry")
    keys = {(r["key_str"], r["first_source"]) for r in reg.collect()}
    # bad's key k9 never recorded (schema failure masks PK recording);
    # duplicates not re-recorded
    assert keys == {('["k1"]', "a"), ('["k2"]', "b"), ('["k3"]', "c"), ('["k4"]', "e")}

    # retry idempotency: reprocessing batch 1 must not change outputs
    process_batch(b1, 1, PLAN, out)
    assert spark.read.parquet(f"{out}/violations").count() == 3


def test_validate_stream_available_now(spark, tmp_path, PLAN):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.createDataFrame([("a", 1, "k1", 5), ("b", 2, "k1", 5)], DDL) \
        .write.parquet(src)
    stream = spark.readStream.schema(DDL).parquet(src)
    q = validate_stream(stream, PLAN, out)
    q.awaitTermination(120)
    viol = spark.read.parquet(f"{out}/violations")
    assert {(r["source"], r["reason"]) for r in viol.collect()} == {("b", "dup_pk")}


def test_first_seen_stream_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: duplicates suppressed both
    within a micro-batch and ACROSS micro-batches (state-store persistence);
    two sequential availableNow runs over a growing source directory model
    two batches."""
    import hashlib

    from fairtracks_validator_spark.streaming.stateful import first_seen_stream

    src = str(tmp_path / "fs_src")
    out = str(tmp_path / "fs_out")
    ckpt = str(tmp_path / "fs_ckpt")
    ddl = "id LONG, content STRING"

    def run_once():
        stream = spark.readStream.schema(ddl).parquet(src)
        q = (first_seen_stream(stream, "id", "content")
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    # batch 1: one intra-batch duplicate (ids 1 and 2 share content)
    spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], ddl
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    # batch 2: cross-batch duplicate of 'alpha' + one new content
    spark.createDataFrame(
        [(4, "alpha"), (5, "gamma")], ddl
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = {(r["id"], r["content_hash"])
           for r in spark.read.parquet(out).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert {h for _, h in got} == {md5("alpha"), md5("beta"), md5("gamma")}
    # 'alpha' was emitted exactly once, for one of the batch-1 rows
    alpha_ids = {i for i, h in got if h == md5("alpha")}
    assert len(alpha_ids) == 1 and alpha_ids <= {1, 2}
    assert (3, md5("beta")) in got and (5, md5("gamma")) in got


def test_windowed_event_counts_matches_batch(spark, tmp_path):
    src = str(tmp_path / "ev")
    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:05:00", "click"), (2, "2024-01-01 10:55:00", "click"),
         (3, "2024-01-01 11:05:00", "view")],
        "id INT, ts_s STRING, event_type STRING",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    ev.write.parquet(src)
    stream = spark.readStream.schema("id INT, event_type STRING, ts TIMESTAMP").parquet(src)
    agg = windowed_event_counts(stream, window_duration="1 hour")
    q = (agg.writeStream.format("memory").queryName("wc")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(str(r["window_start"]), r["event_type"], r["n"])
            for r in spark.sql("select * from wc").collect()}
    assert rows == {
        ("2024-01-01 10:00:00", "click", 2),
        ("2024-01-01 11:00:00", "view", 1),
    }


def test_first_seen_stream_ttl_expiry(spark, tmp_path):
    """TTL'd dedup state (VERDICT r2 #9): a bucket idle past ttl_minutes is
    DROPPED (bounded state), so its contents re-emit on re-occurrence.
    One availableNow query, maxFilesPerTrigger=1 → three data micro-batches:
    alpha | delta (its data batch fires the idle alpha-bucket's timeout) |
    alpha again (re-emits because the state was removed). Inter-batch gaps
    (~1 s) dwarf the 60 ms TTL. noDataMicroBatches is disabled for the run:
    with availableNow, no-data timeout-polling batches would keep the query
    alive indefinitely (see first_seen_stream docstring)."""
    import hashlib
    import time

    from fairtracks_validator_spark.streaming.stateful import first_seen_stream

    src = str(tmp_path / "ttl_src")
    out = str(tmp_path / "ttl_out")
    ckpt = str(tmp_path / "ttl_ckpt")
    ddl = "id LONG, content STRING"

    for rows in ([(1, "alpha")], [(2, "delta")], [(3, "alpha")]):
        spark.createDataFrame(rows, ddl).coalesce(1) \
            .write.mode("append").parquet(src)
        time.sleep(1.1)

    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        stream = (spark.readStream.schema(ddl)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (first_seen_stream(stream, "id", "content", ttl_minutes=0.001)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    got = {(r["id"], r["content_hash"])
           for r in spark.read.parquet(out).collect()}
    assert (1, md5("alpha")) in got and (2, md5("delta")) in got
    assert (3, md5("alpha")) in got  # re-emitted: bounded/TTL'd state


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """F.session_window streaming sessionization agrees with the batch
    lag-window form on gap-unambiguous data (no exact-boundary events)."""
    from pyspark.sql import functions as F

    from fairtracks_validator_spark.operators.sessions import (
        session_stats,
        streaming_session_stats,
    )

    rows = []
    # user 1: two sessions (40-min gap); user 2: one session of 3 events
    for ts in ["10:00:00", "10:05:00", "10:50:00", "10:55:00"]:
        rows.append((1, f"2024-01-01 {ts}"))
    for ts in ["09:00:00", "09:10:00", "09:20:00"]:
        rows.append((2, f"2024-01-01 {ts}"))
    src = str(tmp_path / "sess_src")
    df = spark.createDataFrame(rows, "user_id long, ts_s string") \
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (streaming_session_stats(stream, gap="30 minutes")
         .writeStream.format("memory").queryName("sess_out")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["n_events"], r["start_epoch"], r["end_epoch"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    want = {
        (r["user_id"], r["n_events"], r["start_epoch"], r["end_epoch"])
        for r in session_stats(
            spark.read.parquet(src), gap_seconds=1800
        ).collect()
    }
    assert got == want and len(got) == 3


def test_quality_gate_runs_in_stream(spark, tmp_path):
    """The text-quality surface (gopher gate, repetition, PII redaction,
    split stamping) is stateless Column logic — it must run unchanged on a
    readStream and match the batch result row-for-row."""
    import pyspark.sql.functions as F

    from fairtracks_validator_spark.functions.pii import redact_pii
    from fairtracks_validator_spark.functions.text import (
        dup_token_frac,
        gopher_metrics,
        gopher_pass,
    )
    from fairtracks_validator_spark.operators.sampling import train_val_split

    src = str(tmp_path / "qsrc")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.limit(200).write.parquet(src)

    def xform(df):
        out = df.select(
            "doc_id",
            gopher_pass(gopher_metrics("text"), min_words=25).alias("passes"),
            F.round(dup_token_frac("text"), 6).alias("dup_frac"),
            F.md5(redact_pii("text")).alias("red_hash"),
        )
        return train_val_split(out, "doc_id", val_frac=0.2, seed="st")

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        xform(stream)
        .writeStream.format("memory")
        .queryName("quality_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("select * from quality_stream").collect()}
    exp = {tuple(r) for r in xform(spark.read.parquet(src)).collect()}
    assert got == exp and len(got) == 200


def test_stream_rank2_blamed_on_registry_holder(spark, tmp_path, PLAN):
    """code-review r4: when a key already has a registry holder, EVERY
    in-batch occurrence is blamed on that holder — not rank-2 rows on the
    in-batch rank-1 row (which held nothing)."""
    out = str(tmp_path / "blame_out")
    process_batch(spark.createDataFrame([("s0", 1, "k", 5)], DDL), 0, PLAN, out)
    process_batch(
        spark.createDataFrame([("s1", 10, "k", 5), ("s2", 11, "k", 5)], DDL),
        1, PLAN, out,
    )
    viol = spark.read.parquet(f"{out}/violations")
    descs = {r["source"]: r["description"] for r in viol.collect()}
    assert descs == {
        "s1": "Duplicate PK in s0 and s1",
        "s2": "Duplicate PK in s0 and s2",
    }


def test_stream_fanout_promotion_cascade(spark, tmp_path):
    """code-review r4: multi-valued keys run the batch promotion cascade —
    a doc colliding on one key records nothing, so a later doc claims its
    other key without blame (the old shortcut over-blamed it)."""
    plan = compile_schema({
        "$id": "streamf/1.0", "primary_key": ["ks[]"],
        "properties": {"ks": {"items": {"type": "string"}}},
    })
    ddl = "source STRING, ord INT, ks ARRAY<STRING>"
    out = str(tmp_path / "fan_out")
    process_batch(
        spark.createDataFrame([("s0", 1, ["k2"])], ddl), 0, plan, out)
    # batch 1: A(ord 10) has [k1, k2] — k2 collides vs registry, so A
    # records NOTHING; B(ord 11) has [k1] and must claim k1 violation-free
    process_batch(
        spark.createDataFrame([("A", 10, ["k1", "k2"]), ("B", 11, ["k1"])],
                              ddl), 1, plan, out)
    viol = spark.read.parquet(f"{out}/violations")
    got = {(r["source"], r["key_str"], r["description"]) for r in viol.collect()}
    assert got == {("A", "[\"k2\"]", "Duplicate PK in s0 and A")}
    reg = spark.read.parquet(f"{out}/registry")
    claimed = {(r["key_str"], r["first_source"]) for r in reg.collect()}
    assert ("[\"k1\"]", "B") in claimed
    assert not any(fs == "A" for _, fs in claimed)


def test_expectations_stream_per_batch_reports(spark, tmp_path):
    from fairtracks_validator_spark.operators import expectations as X
    from fairtracks_validator_spark.streaming.validate_stream import (
        expectations_stream,
    )

    src = str(tmp_path / "ex_src")
    out = str(tmp_path / "ex_out")
    ddl = "id long, v double"
    # one file -> one micro-batch holding all three rows (multiple files
    # with maxFilesPerTrigger=1 would make per-row batches, and an all-null
    # batch rightly FAILS the mean rule — per-batch semantics)
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None)], ddl
    ).repartition(1).write.parquet(src)
    stream = spark.readStream.schema(ddl).parquet(src)
    rules = [
        X.row_count(lo=1),
        X.null_rate("v", 0.5),
        X.mean_value("v", lo=0, hi=100),
    ]
    q = expectations_stream(stream, rules, out)
    q.awaitTermination(120)
    rep = spark.read.parquet(f"{out}/reports")
    rows = {(r["batch_id"], r["rule_id"]): r for r in rep.collect()}
    assert len({b for b, _ in rows}) >= 1  # at least one micro-batch report
    # aggregate over ALL batches: every rule present, and the null-rate
    # rule holds per batch (<= 0.5 with one null among three rows total)
    assert all(rows[k]["passed"] for k in rows), rows
    # a second availableNow run over a GROWN source appends a new batch id
    # (count captured BEFORE the append — the first DataFrame's cached file
    # listing must not be what the assertion depends on, code-review r5)
    n_first = rep.count()
    spark.createDataFrame([(4, 1000.0)], ddl).repartition(1).write.mode(
        "append"
    ).parquet(src)
    stream2 = spark.readStream.schema(ddl).parquet(src)
    q2 = expectations_stream(stream2, rules, out)
    q2.awaitTermination(120)
    rep2 = spark.read.parquet(f"{out}/reports")
    assert rep2.count() > n_first


def test_stream_scans_each_micro_batch_once(spark, tmp_path):
    """The violations write and the registry write share one checkpointed
    stage: each micro-batch's input rows are read once, so the stream's
    input-row count equals the source's."""
    from fairtracks_validator_spark.sources.pages import pages, pages_schema_dict

    src = str(tmp_path / "pages_src")
    pages(spark, 4000).withColumn("source", F.col("url")).withColumn(
        "ord", F.col("page_id")
    ).repartition(2).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = validate_stream(stream, compile_schema(pages_schema_dict()),
                        str(tmp_path / "out"))
    assert q.awaitTermination(300)
    rows = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
    assert len(rows) == 2 and sum(rows) == 4000, rows


def test_stream_tied_identities_blame_neither(spark, tmp_path, PLAN):
    """Two rows with one (source, ord) identity and one key, in one
    micro-batch, tie as first holders: neither is blamed, exactly as
    validate_corpus does (a row_number window used to blame one of them
    arbitrarily)."""
    from fairtracks_validator_spark.runner import validate_corpus

    out = str(tmp_path / "tie_out")
    batch = spark.createDataFrame(
        [("a", 1, "k1", 5), ("a", 1, "k1", 5), ("b", 2, "k1", 5)], DDL)
    process_batch(batch, 0, PLAN, out)
    got = {(r["source"], r["description"])
           for r in spark.read.parquet(f"{out}/violations").collect()}
    want = {(r["source"], r["description"])
            for r in validate_corpus({PLAN.schema_id: (PLAN, batch)})
            .violations.collect()}
    assert got == want == {("b", "Duplicate PK in a and b")}


_FANOUT = {"$id": "streamf/1.0", "primary_key": ["k[]"],
           "properties": {"k": {"items": {"type": "string"}},
                          "v": {"minimum": 0}}}


@pytest.mark.parametrize("fanout", [False, True])
def test_stream_redelivered_document_not_self_blamed(spark, tmp_path, PLAN, fanout):
    """A document re-delivered in a later batch with the identity of its
    key's prior holder is neither blamed nor recorded again; another
    document with that key is blamed on the holder."""
    plan = compile_schema(_FANOUT) if fanout else PLAN
    ddl = DDL.replace("k STRING", "k ARRAY<STRING>") if fanout else DDL
    k = ["k1"] if fanout else "k1"
    out = str(tmp_path / "redeliver_out")
    process_batch(spark.createDataFrame([("a", 1, k, 5)], ddl), 0, plan, out)
    process_batch(
        spark.createDataFrame([("a", 1, k, 5), ("b", 2, k, 5)], ddl), 1, plan, out)
    viol = spark.read.parquet(f"{out}/violations")
    assert {(r["source"], r["description"]) for r in viol.collect()} == {
        ("b", "Duplicate PK in a and b")}
    reg = spark.read.parquet(f"{out}/registry")
    assert [(r["first_source"], r["batch_id"]) for r in reg.collect()] == [("a", 0)]


def test_stream_registry_layout_resumes_old_registry(spark, tmp_path, PLAN):
    """The written registry keeps exactly the REGISTRY_SCHEMA columns, so a
    registry written earlier in that layout is a prior on resume."""
    from fairtracks_validator_spark.streaming.validate_stream import REGISTRY_SCHEMA

    out = str(tmp_path / "layout_out")
    uq = PLAN.uniques[0].check_id
    spark.createDataFrame([(uq, '["k1"]', "a", 1)], REGISTRY_SCHEMA).write.parquet(
        f"{out}/registry/batch_id=0")
    process_batch(
        spark.createDataFrame([("b", 2, "k1", 5), ("c", 3, "k2", 5)], DDL),
        1, PLAN, out)
    viol = spark.read.parquet(f"{out}/violations")
    assert [(r["source"], r["description"]) for r in viol.collect()] == [
        ("b", "Duplicate PK in a and b")]
    written = spark.read.parquet(f"{out}/registry/batch_id=1")
    assert written.dtypes == spark.createDataFrame([], REGISTRY_SCHEMA).dtypes
    assert [tuple(r) for r in written.collect()] == [(uq, '["k2"]', "c", 3)]


def test_missing_registry_is_not_read(spark, tmp_path, monkeypatch):
    # the first micro-batch has no registry yet: the path's FileSystem says
    # so, and no failed read (an error trace in Spark's log) is attempted
    from fairtracks_validator_spark.streaming import validate_stream as vs

    def no_read(_session):
        raise AssertionError("spark.read was called")

    monkeypatch.setattr(type(spark), "read", property(no_read))
    reg = vs._load_registry(spark, str(tmp_path / "stream_out"), 0)
    monkeypatch.undo()
    assert reg.schema == spark.createDataFrame([], vs.REGISTRY_SCHEMA).schema
    assert reg.count() == 0
