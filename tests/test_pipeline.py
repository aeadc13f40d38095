"""EP1 pipeline golden tests (SURVEY.md §5 plan item 3): multi-batch
run, watermark progression, in-batch duplicate keys, state merge,
idempotent recovery after simulated partial failure, empty batch."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from etl_migrate_api_spark.pipelines.contact_job import ContactEtlJob
from etl_migrate_api_spark.sources.http_cursor import CursorSource

BATCH_SCHEMA = "id bigint, hn_code string, firstname string, tel_no string"

# three pages of 4; N2 repeats in page 1 (in-batch fold) and page 2
# (state-known update); N9 overflows nothing but carries duplicates
PAGES = [
    [
        {"id": 1, "hn_code": "N1", "firstname": "a", "tel_no": "11,22"},
        {"id": 2, "hn_code": "N2", "firstname": "b", "tel_no": "33"},
        {"id": 3, "hn_code": "N2", "firstname": "b2", "tel_no": "44; 33"},
        {"id": 4, "hn_code": "N3", "firstname": "c", "tel_no": ""},
    ],
    [
        {"id": 5, "hn_code": "N2", "firstname": "b3", "tel_no": "55/33"},
        {"id": 6, "hn_code": "N4", "firstname": "d", "tel_no": "66 , 66"},
    ],
]


def make_fetch(pages):
    def fetch(last_id: int, limit: int):
        for page in pages:
            if page and page[0]["id"] > last_id:
                return {"data": page, "count": len(page)}
        return {"data": [], "count": 0}

    return fetch


@pytest.fixture()
def job(spark, tmp_path):
    src = CursorSource(spark, make_fetch(PAGES), schema=BATCH_SCHEMA, limit=4)
    return ContactEtlJob(spark, src, str(tmp_path))


def test_end_to_end_two_batches(job):
    res = job.run()
    assert res.batches == 2
    assert res.last_id == 6
    # counting contract: N2 3× never-in-state = 1 insert + 2 updates
    assert res.insert_count == 4  # N1,N2,N3,N4 first occurrences
    assert res.update_count == 2  # N2's 2nd+3rd occurrences
    sink = {r["hn_code"]: r for r in job.sink.read().collect()}
    assert sink["N2"]["tel_no"] == "33"
    assert sink["N2"]["tel_no2"] == "44"
    assert sink["N2"]["tel_no3"] == "55"
    assert sink["N2"]["firstname"] == "b3"  # last write wins
    assert sink["N2"]["recid"] == 5
    assert sink["N3"]["tel_no"] is None
    # watermark progressed (A2)
    assert job.last_successful_id() == 6
    # state matches sink phones (no drift by construction)
    state = {r["hn_code"]: r["slots"] for r in job.state.read().collect()}
    assert state["N2"] == ["33", "44", "55"]
    assert state["N4"] == ["66"]


def test_idempotent_recovery_rerun(job, spark):
    job.run()
    before = sorted(
        (r["hn_code"], r["tel_no"], r["recid"]) for r in job.sink.read().collect()
    )
    # simulate a partial failed run beyond the watermark (X2 scenario)
    junk = spark.createDataFrame(
        [(99, "NJUNK", "junk", None)], "recid bigint, hn_code string, firstname string, tel_no string"
    ).withColumn("rectype", F.lit("BIGDATA"))
    for c in job.sink.read().columns:
        if c not in junk.columns:
            junk = junk.withColumn(c, F.lit(None).cast("string"))
    job.sink.append(junk.select(job.sink.read().columns))
    assert job.sink.read().count() == len(before) + 1

    # re-run from watermark 0 with the same pages → identical final sink
    res = job.run(last_id=0)
    assert res.batches == 2
    after = sorted(
        (r["hn_code"], r["tel_no"], r["recid"]) for r in job.sink.read().collect()
    )
    assert "NJUNK" not in {h for h, _, _ in after}  # recovery removed junk
    assert after == before


def test_rebuild_state_matches_incremental(job):
    """EP2: state rebuilt from the sink equals the incrementally
    maintained state (the reference's refresh-redis endpoint)."""
    job.run()
    incremental = {
        r["hn_code"]: (r["slots"], r["extras"]) for r in job.state.read().collect()
    }
    n = job.rebuild_state()
    rebuilt = {
        r["hn_code"]: (r["slots"], r["extras"]) for r in job.state.read().collect()
    }
    assert n == len(incremental)
    assert rebuilt == incremental


def test_empty_source_no_op(spark, tmp_path):
    src = CursorSource(spark, make_fetch([]), schema=BATCH_SCHEMA)
    job = ContactEtlJob(spark, src, str(tmp_path))
    res = job.run()
    assert res.batches == 0 and res.record_count == 0
    assert not job.sink.exists()


def test_error_records_status(spark, tmp_path):
    def bad_fetch(last_id, limit):
        if last_id == 0:
            return {"data": [{"id": 1, "hn_code": None, "firstname": "x", "tel_no": "1"}], "count": 1}
        return {"data": [], "count": 0}

    src = CursorSource(spark, bad_fetch, schema=BATCH_SCHEMA)
    job = ContactEtlJob(spark, src, str(tmp_path))
    # sabotage the state table with an unreadable path to force an error
    job.state.path = "/proc/nonexistent/state"
    with pytest.raises(Exception):
        job.run()
    log = job.log.read().collect()
    statuses = {r["status"] for r in log}
    assert statuses == {"running", "error"}  # K5 open + X5 error record
    err = [r for r in log if r["status"] == "error"][0]
    assert err["error_message"]


def test_dry_run_writes_nothing(spark, tmp_path):
    src = CursorSource(spark, make_fetch(PAGES), schema=BATCH_SCHEMA)
    job = ContactEtlJob(spark, src, str(tmp_path), dry_run=True)
    res = job.run()
    assert res.record_count == 6
    assert not job.sink.exists() and not job.state.exists()
    assert job.log.exists()  # audit trail still written (X6 semantics)


def test_dry_run_never_advances_watermark(spark, tmp_path):
    """A test-etl pass must leave the REAL watermark untouched: its
    audit rows carry dry_* statuses, so a later real run still
    processes everything from the start (a dry 'success' row would
    silently swallow the data)."""
    src = CursorSource(spark, make_fetch(PAGES), schema=BATCH_SCHEMA)
    dry = ContactEtlJob(spark, src, str(tmp_path), dry_run=True)
    dry_res = dry.run()
    assert dry_res.record_count == 6
    assert dry.last_successful_id() == 0  # watermark untouched

    real = ContactEtlJob(
        spark, CursorSource(spark, make_fetch(PAGES), schema=BATCH_SCHEMA), str(tmp_path)
    )
    res = real.run()
    assert res.record_count == 6  # nothing was skipped
    assert real.sink.exists()


def test_crashed_batch_state_repair(spark, tmp_path):
    """A crash AFTER the state upsert but BEFORE the success row leaves
    state ahead of the watermark; the re-run must rebuild state from
    the repaired sink so insert/update classification (§2k counters)
    stays correct."""
    src = CursorSource(spark, make_fetch(PAGES), schema=BATCH_SCHEMA)
    job = ContactEtlJob(spark, src, str(tmp_path))
    first = job.run(max_batches=1)
    assert first.insert_count > 0

    # simulate the crash window for a SECOND batch: data written, no
    # success row — append the orphan 'running' record by hand
    import datetime as dt

    orphan_id = job._next_log_id()
    job._append_log(
        id=orphan_id, continue_id=first.last_id, batch_no=99,
        status="running", started_at=dt.datetime.now(dt.timezone.utc),
    )
    # ...and poison the state with a key the sink (post-repair) lacks
    poison = spark.createDataFrame(
        [("ZZ_POISON", ["0999999999"], [])],
        schema="hn_code string, slots array<string>, extras array<string>",
    )
    job.state.append(poison)
    assert job._crashed_mid_batch()

    rerun = ContactEtlJob(
        spark, CursorSource(spark, make_fetch(PAGES), schema=BATCH_SCHEMA), str(tmp_path)
    )
    rerun.run()
    # the poisoned key is gone: state was rebuilt from the repaired sink
    assert (
        rerun.state.read().where(F.col("hn_code") == "ZZ_POISON").count() == 0
    )


def test_dry_run_cannot_shadow_crashed_batch(spark, tmp_path):
    """A dry run executed AFTER a mid-batch crash appends dry_* audit
    rows under a newer log id. _crashed_mid_batch must look past them
    to the unfinalized real batch, or the next real run skips the
    sink+state repair and stale state keys corrupt classification."""
    src = CursorSource(spark, make_fetch(PAGES), schema=BATCH_SCHEMA)
    job = ContactEtlJob(spark, src, str(tmp_path))
    first = job.run(max_batches=1)

    import datetime as dt

    orphan_id = job._next_log_id()
    job._append_log(
        id=orphan_id, continue_id=first.last_id, batch_no=99,
        status="running", started_at=dt.datetime.now(dt.timezone.utc),
    )
    poison = spark.createDataFrame(
        [("ZZ_POISON", ["0999999999"], [])],
        schema="hn_code string, slots array<string>, extras array<string>",
    )
    job.state.append(poison)

    # the shadowing dry run: its dry_running/dry_success rows take the
    # newest log id but must stay invisible to the crash detector
    dry = ContactEtlJob(
        spark,
        CursorSource(spark, make_fetch(PAGES), schema=BATCH_SCHEMA),
        str(tmp_path),
        dry_run=True,
    )
    dry.run()
    assert job._crashed_mid_batch(), "dry rows shadowed the crashed batch"

    rerun = ContactEtlJob(
        spark,
        CursorSource(spark, make_fetch(PAGES), schema=BATCH_SCHEMA),
        str(tmp_path),
    )
    rerun.run()
    assert (
        rerun.state.read().where(F.col("hn_code") == "ZZ_POISON").count() == 0
    )


# ---- the single audit-log pass -----------------------------------------


def _separate_reads(job):
    """The four audit-log reads as separate queries: the reference the
    one-pass aggregate must agree with."""
    if not job.log.exists():
        return (0, 1, 1, False)
    log = job.log.read()
    wm = log.where(F.col("status") == "success").agg(F.max_by("last_id", "id")).collect()[0][0]
    batch_no = (
        log.where(F.to_date("started_at") == F.current_date())
        .agg(F.coalesce(F.max("batch_no"), F.lit(0)) + 1)
        .collect()[0][0]
    )
    next_id = int(log.agg(F.max("id")).collect()[0][0] or 0) + 1
    latest = (
        log.where(~F.col("status").startswith("dry_"))
        .groupBy("id")
        .agg(F.collect_set("status").alias("st"))
        .orderBy(F.col("id").desc())
        .limit(1)
        .collect()
    )
    crashed = bool(latest) and latest[0]["st"] == ["running"]
    return (int(wm or 0), int(batch_no), next_id, crashed)


def _log_rows(job, spec, day_offset=0):
    """Append audit rows ``(id, status, batch_no, last_id)``."""
    import datetime as dt

    from etl_migrate_api_spark.pipelines.contact_job import LOG_SCHEMA

    at = dt.datetime.now(dt.timezone.utc) + dt.timedelta(days=day_offset)
    rows = [
        {"id": i, "batch_no": b, "last_id": last, "status": st, "started_at": at}
        for i, st, b, last in spec
    ]
    job.log.append(job.spark.createDataFrame(rows, LOG_SCHEMA))


LOG_CASES = {
    # (rows, day offset) -> (watermark, batch_no, next log id, crashed)
    "no_log": ([], 0, (0, 1, 1, False)),
    "empty_log": ([], 0, (0, 1, 1, False)),
    "only_dry_rows": (
        [(1, "dry_running", 1, None), (1, "dry_success", 1, 40), (2, "dry_running", 2, None)],
        0,
        (0, 3, 3, False),
    ),
    "running_closed_by_error": (
        [(1, "running", 1, None), (1, "success", 1, 10), (2, "running", 2, None), (2, "error", 2, None)],
        0,
        (10, 3, 3, False),
    ),
    "running_only_then_newer_finalized": (
        [(1, "running", 1, None), (2, "running", 2, None), (2, "success", 2, 20)],
        0,
        (20, 3, 3, False),
    ),
    "running_only_latest": (
        [(1, "running", 1, None), (1, "success", 1, 10), (2, "running", 2, None)],
        0,
        (10, 3, 3, True),
    ),
    "earlier_day": (
        [(4, "running", 7, None), (4, "success", 7, 30)],
        -1,
        (30, 1, 5, False),
    ),
}


@pytest.mark.parametrize("case", sorted(LOG_CASES))
def test_log_summary_matches_separate_reads(job, case):
    from etl_migrate_api_spark.pipelines.contact_job import LOG_SCHEMA

    spec, day_offset, want = LOG_CASES[case]
    if case == "empty_log":
        job.log.append(job.spark.createDataFrame([], LOG_SCHEMA))
        assert job.log.exists()
    elif spec:
        _log_rows(job, spec, day_offset)
    s = job._log_summary()
    got = (s.last_successful_id, s.next_batch_no, s.next_log_id, s.crashed_mid_batch)
    assert got == want
    assert got == _separate_reads(job)
    # the four named reads stay callable and agree
    assert (
        job.last_successful_id(), job.next_batch_no(), job._next_log_id(), job._crashed_mid_batch()
    ) == want


def test_run_numbers_batches_and_log_ids_from_one_read(job):
    res = job.run()
    assert res.batches == 2
    log = sorted((r["id"], r["batch_no"], r["status"], r["last_id"]) for r in job.log.read().collect())
    assert log == [
        (1, 1, "running", None), (1, 1, "success", 4),
        (2, 2, "running", None), (2, 2, "success", 6),
    ]


# ---- the page row contract ---------------------------------------------


@pytest.mark.parametrize("bad_id", [1.5, 2.0, True], ids=["float", "integral_float", "bool"])
def test_non_integer_page_id_fails_before_any_write(spark, tmp_path, bad_id):
    page = [
        {"id": 1, "hn_code": "N1", "firstname": "a", "tel_no": "11"},
        {"id": bad_id, "hn_code": "N2", "firstname": "b", "tel_no": "22"},
    ]
    job = ContactEtlJob(
        spark, CursorSource(spark, make_fetch([page]), schema=BATCH_SCHEMA), str(tmp_path)
    )
    with pytest.raises(Exception, match="LongType|bigint|FIELD_DATA_TYPE"):
        job.run()
    assert not job.sink.exists() and not job.state.exists()
    log = job.log.read().collect()
    assert {r["status"] for r in log} == {"running", "error"}
    assert job.last_successful_id() == 0


def test_integer_hn_code_lands_as_string(spark, tmp_path):
    page = [{"id": 1, "hn_code": 5, "firstname": "a", "tel_no": "11"}]
    job = ContactEtlJob(
        spark, CursorSource(spark, make_fetch([page]), schema=BATCH_SCHEMA), str(tmp_path)
    )
    res = job.run()
    assert (res.insert_count, res.last_id) == (1, 1)
    assert [r["hn_code"] for r in job.sink.read().collect()] == ["5"]
    assert [r["hn_code"] for r in job.state.read().collect()] == ["5"]
