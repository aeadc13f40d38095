"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from etl_migrate_api_spark.operators.classify import classify_batch, op_counters
from etl_migrate_api_spark.operators.merge import merge_fold_expr
from etl_migrate_api_spark.sinks.tables import ParquetTable
from etl_migrate_api_spark.sinks.upsert import delete_beyond_watermark


def test_merge_fold_null_phones_treated_as_empty(spark):
    batch = spark.createDataFrame(
        [("K1", 1, ["11", "22"]), ("K1", 2, None)],
        "hn_code string, seq bigint, phones array<string>",
    )
    row = merge_fold_expr(batch, legacy_slots=False).collect()[0]
    assert row["slots"] == ["11", "22"]


def test_classify_tied_seq_single_insert(spark):
    batch = spark.createDataFrame(
        [("K1", 5), ("K1", 5), ("K1", 7)], "hn_code string, seq bigint"
    )
    state = spark.createDataFrame([], "hn_code string")
    counters = op_counters(classify_batch(batch, state)).collect()[0]
    assert counters["insert_count"] == 1
    assert counters["update_count"] == 2


def test_delete_beyond_watermark_null_predicate_rows_kept(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.replace(
        spark.createDataFrame(
            [(1, "a"), (None, "b"), (10, "c")], "recid bigint, v string"
        )
    )
    removed = delete_beyond_watermark(t, F.col("recid") > 5)
    assert removed == 1
    left = {r["v"] for r in t.read().collect()}
    assert left == {"a", "b"}  # NULL-recid row survives


def test_dry_run_does_not_touch_existing_sink(spark, tmp_path):
    from etl_migrate_api_spark.pipelines.contact_job import ContactEtlJob
    from etl_migrate_api_spark.sources.http_cursor import CursorSource

    def fetch(last_id, limit):
        if last_id == 0:
            return {"data": [{"id": 1, "hn_code": "N1", "firstname": "x", "tel_no": "1"}], "count": 1}
        return {"data": [], "count": 0}

    src = CursorSource(
        spark, fetch, schema="id bigint, hn_code string, firstname string, tel_no string"
    )
    job = ContactEtlJob(spark, src, str(tmp_path), dry_run=True)
    # pre-populate the sink with rows BEYOND the watermark (the X2
    # delete's victims if it ran)
    pre = spark.createDataFrame(
        [(100, "NOLD", "BIGDATA")], "recid bigint, hn_code string, rectype string"
    )
    job.sink.replace(pre)
    job.run(last_id=0)
    assert job.sink.read().count() == 1  # untouched


def test_streaming_rejects_bigint_ts(spark, sf_small, tmp_path):
    from etl_migrate_api_spark.streaming.pipeline import windowed_event_counts_stream

    # raw events parquet scans as bigint nanos under nanosAsLong
    raw_dir = str(tmp_path / "raw")
    spark.read.parquet(f"{sf_small}/events.parquet").write.parquet(raw_dir)
    with pytest.raises(ValueError, match="timestamp"):
        windowed_event_counts_stream(
            spark, raw_dir, str(tmp_path / "c"), str(tmp_path / "o")
        )


def test_gen_plans_statistics_normalizer_balances_parens():
    """ADVICE r13: the old Statistics regex stopped at the FIRST close
    paren — a rendering with nested parentheses was truncated
    mid-token, leaving an un-normalized tail that churned PLANS.md
    regens. The replacement walks paren depth (newline closes a
    malformed token defensively)."""
    import os
    import sys

    # derive from __file__ — the suite must not pin its checkout path
    # (ADVICE r14)
    tools_dir = os.path.join(os.path.dirname(__file__), "..", "tools")
    sys.path.insert(0, os.path.abspath(tools_dir))
    from gen_plans import _norm_statistics

    assert (
        _norm_statistics("Statistics(sizeInBytes=1.0 B, hist=(a(b),c(d)))")
        == "Statistics(N)"
    )
    assert (
        _norm_statistics("a Statistics(n=(1,(2))) b Statistics(k=4) c")
        == "a Statistics(N) b Statistics(N) c"
    )
    assert (
        _norm_statistics("Statistics(torn\nnext") == "Statistics(N)\nnext"
    )
    assert _norm_statistics("no stats") == "no stats"


def test_storm_probe_straddle_classification_is_phase_based():
    """VERDICT r14 ("What's wrong" item 1): the storm probe used to
    classify any FAILED_READ_FILE.FILE_NOT_EXIST as an action-time
    straddle — but that shape can also fire inside a reader BUILD's
    eager side-read, where an in-code retry exhaustion must SURFACE,
    not hide in the straddle counter. read_per_contract now guards the
    build and the collect separately: any build error surfaces; a
    transient collect error is the bounded execute-soon straddle; a
    non-transient collect error surfaces."""
    import os
    import sys

    tools_dir = os.path.join(os.path.dirname(__file__), "..", "tools")
    sys.path.insert(0, os.path.abspath(tools_dir))
    from probe_swap_storm import read_per_contract

    transient = RuntimeError(
        "[FAILED_READ_FILE.FILE_NOT_EXIST] Encountered error while "
        "reading file file:/t/part-0. File does not exist."
    )

    def harness():
        straddles, surfaced = [], []
        return (
            straddles,
            surfaced,
            lambda: straddles.append(1),
            surfaced.append,
        )

    # 1. build-retry exhaustion on the action-only SHAPE surfaces —
    #    the case the message-based classifier hid
    straddles, surfaced, on_str, on_surf = harness()

    def failing_build():
        raise transient

    got = read_per_contract(
        failing_build, lambda p: {1}, on_str, on_surf
    )
    assert got is None
    assert straddles == []
    assert len(surfaced) == 1 and surfaced[0].startswith("build: ")

    # 2. a transient collect error is a counted straddle, healed by
    #    the bounded rebuild-and-re-run loop
    straddles, surfaced, on_str, on_surf = harness()
    state = {"n": 0}

    def flaky_collect(plan):
        state["n"] += 1
        if state["n"] == 1:
            raise transient
        return {7}

    assert read_per_contract(
        lambda: "plan", flaky_collect, on_str, on_surf
    ) == {7}
    assert len(straddles) == 1 and surfaced == []

    # 3. a non-transient collect error surfaces first time
    straddles, surfaced, on_str, on_surf = harness()

    def broken_collect(plan):
        raise ValueError("real bug")

    assert (
        read_per_contract(lambda: "plan", broken_collect, on_str, on_surf)
        is None
    )
    assert straddles == []
    assert len(surfaced) == 1 and surfaced[0].startswith("action: ")

    # 4. a collect that never converges is abandoned and surfaced
    straddles, surfaced, on_str, on_surf = harness()

    def always_transient(plan):
        raise transient

    assert (
        read_per_contract(lambda: "plan", always_transient, on_str, on_surf)
        is None
    )
    assert len(straddles) == 12
    assert surfaced == ["action straddle did not converge"]


def test_local_df_accepts_iterables(spark):
    """An empty generator takes the empty path; a non-empty one keeps
    its rows (a generator object is truthy, so the check must see a
    list)."""
    from etl_migrate_api_spark.localdf import local_df

    empty = local_df(spark, (r for r in []), "k int")
    assert empty.schema.simpleString() == "struct<k:int>"
    assert empty.collect() == []
    rows = local_df(spark, ((i,) for i in range(3)), "k int")
    assert sorted(r["k"] for r in rows.collect()) == [0, 1, 2]
