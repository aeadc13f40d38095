"""EP1 — the reference's live contact-ETL path (SURVEY.md §3) as a
parameterized Spark batch job.

Per run, one aggregate over the audit log gives:
  1. the cursor (A2)                                  → watermark read
  2. today's batch number (A1), the next log id and the crash test
Per micro-batch (reference contactpoint.controller.js:50-173):
  3. fetch the page (S1)                              → CursorSource
  4. open audit record (K5, status='running')
  5. recovery delete beyond watermark (X2/D2)
  6. classify + fold + write (J1/J2, A6/U2, W1-W3, K2/K3)
  7. finalize audit record with counters (K6, A3-A5)
Errors → status='error' record (X5). Dry-run skips sink writes but
reports classification/merge results (X6). Per-stage timings (X4).

State lives in a parquet table (hn_code, slots, extras) — the Redis
replacement. Crash repair on re-run: step 5's X2 delete restores the
SINK to the watermark, and when the log shows an unfinalized batch
(a 'running' row with no success/error), run() additionally rebuilds
the STATE from the repaired sink (K8) before processing — so neither
sink-ahead-of-watermark nor state-ahead-of-watermark survives a crash
(the reference's Redis/Postgres drift problem can't happen —
SURVEY.md §2k).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_migrate_api_spark.functions.text import extract_phones
from etl_migrate_api_spark.localdf import local_df
from etl_migrate_api_spark.operators.classify import classify_batch
from etl_migrate_api_spark.operators.merge import merge_fold_expr
from etl_migrate_api_spark.sinks.tables import HashBucketedTable, ParquetTable
from etl_migrate_api_spark.sinks.upsert import delete_beyond_watermark, upsert_by_key
from etl_migrate_api_spark.sources.http_cursor import CursorSource

LOG_SCHEMA = (
    "id bigint, continue_id bigint, batch_no int, last_id bigint, "
    "record_count int, insert_count int, update_count int, status string, "
    "error_message string, started_at timestamp, finished_at timestamp"
)

STATE_SCHEMA = "hn_code string, slots array<string>, extras array<string>"


@dataclass(frozen=True)
class LogSummary:
    """What a run needs from the audit log, read in one pass."""

    last_successful_id: int = 0
    next_batch_no: int = 1
    next_log_id: int = 1
    crashed_mid_batch: bool = False


@dataclass
class JobResult:
    batches: int = 0
    insert_count: int = 0
    update_count: int = 0
    record_count: int = 0
    last_id: int = 0
    step_durations: dict[str, float] = field(default_factory=dict)


class ContactEtlJob:
    def __init__(
        self,
        spark: SparkSession,
        source: CursorSource,
        base_dir: str,
        dry_run: bool = False,
    ):
        self.spark = spark
        self.source = source
        self.dry_run = dry_run
        # sink + state are key-hash-bucketed so each micro-batch rewrites
        # only the buckets containing its keys (Delta-replaceWhere
        # semantics on plain files — reference saveToPostgres.js:315-409
        # touches only the batch's rows). At 100 TB raise n_buckets so a
        # bucket stays a few GB. The audit log is append-only → plain.
        # track_max("recid"): every sink write bumps a footer-stats upper
        # bound on max(recid), so the per-batch X2 recovery delete can
        # prove "no rows beyond the watermark" without scanning the table
        self.sink = HashBucketedTable(
            spark,
            f"{base_dir}/etl_customer_crm",
            key="hn_code",
            n_buckets=16,
            track_max=("recid",),
        )
        self.state = HashBucketedTable(
            spark, f"{base_dir}/state_phones", key="hn_code", n_buckets=16
        )
        self.log = ParquetTable(spark, f"{base_dir}/migrate_log_customer")

    # ---- audit log (K5/K6/A1/A2) ----------------------------------------
    def _log_summary(self) -> LogSummary:
        """One conditional aggregate over the audit log, read with its
        schema given so no schema-inference job runs:

        - A2 watermark: ``last_id`` of the latest ``success`` row;
        - A1 batch number: COALESCE(MAX(batch_no), 0) + 1 over today's
          rows;
        - next log id: MAX(id) + 1 over every row;
        - crash test: the latest REAL id (``dry_*`` rows excluded) has
          only ``running`` rows, i.e. a batch opened and never
          finalized. dry_* rows are excluded because a dry run after a
          crash appends rows under a newer id, and letting them shadow
          the unfinalized real batch would skip the sink+state repair."""
        if not self.log.exists():
            return LogSummary()
        status = F.col("status")
        real = ~status.startswith("dry_")
        today = F.to_date("started_at") == F.current_date()
        row = (
            self.spark.read.schema(LOG_SCHEMA)
            .parquet(self.log.path)
            .agg(
                F.max_by("last_id", F.when(status == "success", F.col("id"))).alias("wm"),
                F.max(F.when(today, F.col("batch_no"))).alias("batch_no"),
                F.max("id").alias("max_id"),
                F.max(F.when(real, F.col("id"))).alias("real_id"),
                F.max(F.when(real & (status != "running"), F.col("id"))).alias("closed_id"),
            )
            .collect()[0]
        )
        real_id, closed_id = row["real_id"], row["closed_id"]
        return LogSummary(
            last_successful_id=int(row["wm"] or 0),
            next_batch_no=int(row["batch_no"] or 0) + 1,
            next_log_id=int(row["max_id"] or 0) + 1,
            crashed_mid_batch=real_id is not None and (closed_id is None or closed_id < real_id),
        )

    def last_successful_id(self) -> int:
        """A2: latest successful watermark (max_by over the log)."""
        return self._log_summary().last_successful_id

    def next_batch_no(self) -> int:
        """A1: COALESCE(MAX(batch_no),0)+1 for today."""
        return self._log_summary().next_batch_no

    def _next_log_id(self) -> int:
        return self._log_summary().next_log_id

    def _crashed_mid_batch(self) -> bool:
        """True when the latest REAL log record opened a batch
        ('running') that never finalized — a crash landed between the
        data writes and the success row."""
        return self._log_summary().crashed_mid_batch

    def _append_log(self, **kw) -> None:
        # X6: the dry run keeps its audit trail but NEVER under the real
        # statuses — a dry-run 'success' row would advance the watermark
        # (last_successful_id filters status='success') and make the next
        # REAL run silently skip everything the dry run only pretended
        # to process. 'dry_*' rows are visible-but-inert: they also never
        # trip the crashed-mid-batch detector.
        status = kw["status"]
        if self.dry_run:
            status = f"dry_{status}"
        row = {
            "id": kw["id"],
            "continue_id": kw.get("continue_id"),
            "batch_no": kw.get("batch_no"),
            "last_id": kw.get("last_id"),
            "record_count": kw.get("record_count"),
            "insert_count": kw.get("insert_count"),
            "update_count": kw.get("update_count"),
            "status": status,
            "error_message": kw.get("error_message"),
            "started_at": kw.get("started_at"),
            "finished_at": kw.get("finished_at"),
        }
        self.log.append(local_df(self.spark, [row], LOG_SCHEMA))

    # ---- one micro-batch -------------------------------------------------
    def process_batch(
        self, batch: DataFrame, last_id: int, batch_no: int, *, new_last: int, log_id: int
    ) -> JobResult:
        """One page: ``new_last`` is the page's cursor (its max id, known
        on the driver) and ``log_id`` the audit id this batch opens."""
        import datetime as dt

        res = JobResult(batches=1)
        timings: dict[str, float] = {}
        # UTC-aware: the session timezone is UTC; naive local now() would
        # mis-bucket "today" for the A1 daily batch numbering on
        # non-UTC hosts
        started = dt.datetime.now(dt.timezone.utc)
        self._append_log(
            id=log_id, continue_id=last_id, batch_no=batch_no, status="running",
            started_at=started,
        )
        try:
            t0 = time.perf_counter()
            prepared = batch.select(
                F.col("hn_code"),
                F.col("id").alias("seq"),
                extract_phones("tel_no").alias("phones"),
            )
            if not self.dry_run:
                # X2: wipe partial output of a failed prior run.
                # MUST stay inside the dry-run guard — it mutates the sink.
                delete_beyond_watermark(
                    self.sink,
                    (F.col("recid") > last_id) & (F.col("rectype") == "BIGDATA"),
                    bound=("recid", last_id),
                )
            timings["deleteOldRecords"] = time.perf_counter() - t0

            t0 = time.perf_counter()
            state_df = self.state.read_or_empty(STATE_SCHEMA)
            classified = classify_batch(prepared, state_df.select("hn_code"))
            counts = classified.groupBy("op").count().collect()
            by_op = {r["op"]: r["count"] for r in counts}
            res.insert_count = int(by_op.get("insert", 0))
            res.update_count = int(by_op.get("update", 0))
            res.record_count = res.insert_count + res.update_count
            timings["classify"] = time.perf_counter() - t0

            t0 = time.perf_counter()
            merged = merge_fold_expr(prepared, state=state_df, legacy_slots=True)
            timings["mergeFold"] = time.perf_counter() - t0

            if not self.dry_run:
                t0 = time.perf_counter()
                # one row per key, last occurrence wins for the non-phone
                # attributes (W3 contract: temp_inserts overwrite per key)
                from pyspark.sql import Window

                w = Window.partitionBy("hn_code").orderBy(F.col("id").desc())
                sink_rows = (
                    batch.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") == 1)
                    .drop("_rn", "tel_no")
                    .withColumnRenamed("id", "recid")
                    .join(merged.drop("slots", "extras"), "hn_code")
                    .withColumn("rectype", F.lit("BIGDATA"))
                )
                # the fold feeds both upserts: compute it once (the cache
                # is matched by plan when a query runs, so sink_rows,
                # built above, reads it too)
                merged.persist()
                try:
                    upsert_by_key(self.sink, sink_rows, key="hn_code")
                    # state := state ⊕ merged (same commit cycle — no
                    # drift, K7/K8); bucket-pruned like the sink, so
                    # per-batch state write cost ∝ batch keys, not state
                    # size
                    upsert_by_key(
                        self.state,
                        merged.select("hn_code", "slots", "extras"),
                        key="hn_code",
                    )
                finally:
                    merged.unpersist()
                timings["writeSink"] = time.perf_counter() - t0

            res.last_id = new_last
            self._append_log(
                id=log_id, continue_id=last_id, batch_no=batch_no,
                last_id=new_last, record_count=res.record_count,
                insert_count=res.insert_count, update_count=res.update_count,
                status="success", started_at=started,
                finished_at=dt.datetime.now(dt.timezone.utc),
            )
            res.step_durations = timings
            return res
        except Exception as ex:  # X5
            self._append_log(
                id=log_id, continue_id=last_id, batch_no=batch_no,
                status="error", error_message=str(ex)[:500],
                started_at=started, finished_at=dt.datetime.now(dt.timezone.utc),
            )
            raise

    # ---- EP2: refresh-state (K8/S8, preloadRedis.js:5-85) -----------------
    def rebuild_state(self) -> int:
        """Rebuild the state table from the sink — the reference's
        Redis-preload endpoint collapsed to one statement: read sink,
        project key + phone slots back to canonical arrays, atomic
        overwrite. Returns the number of state rows."""
        from etl_migrate_api_spark.operators.merge import state_from_legacy

        if not self.sink.exists():
            self.state.replace(
                self.spark.createDataFrame([], schema=STATE_SCHEMA)
            )
            return 0
        state = state_from_legacy(self.sink.read()).select(
            "hn_code", "slots", "extras"
        )
        self.state.replace(state)
        return self.state.read().count()

    # ---- the loop (X1) ---------------------------------------------------
    def run(self, last_id: int | None = None, max_batches: int | None = None) -> JobResult:
        log = self._log_summary()
        cursor = log.last_successful_id if last_id is None else last_id
        if not self.dry_run and log.crashed_mid_batch:
            # a crash AFTER the sink/state upserts but BEFORE the success
            # row leaves state holding the dead batch's keys while the
            # watermark points before them — the per-batch X2 delete
            # repairs only the SINK, and stale state keys would flip the
            # re-run's insert/update classification (§2k counters).
            # Repair order matters: sink first (X2 delete back to the
            # watermark), then state := f(repaired sink) (K8 rebuild).
            delete_beyond_watermark(
                self.sink,
                (F.col("recid") > cursor) & (F.col("rectype") == "BIGDATA"),
                bound=("recid", cursor),
            )
            self.rebuild_state()
        batch_no, log_id = log.next_batch_no, log.next_log_id
        total = JobResult(last_id=cursor)
        for batch_df, new_cursor in self.source.pages(cursor):
            r = self.process_batch(
                batch_df, total.last_id, batch_no, new_last=new_cursor, log_id=log_id
            )
            total.batches += r.batches
            total.insert_count += r.insert_count
            total.update_count += r.update_count
            total.record_count += r.record_count
            total.last_id = new_cursor
            batch_no += 1
            log_id += 1
            for k, v in r.step_durations.items():
                total.step_durations[k] = total.step_durations.get(k, 0.0) + v
            if max_batches and total.batches >= max_batches:
                break
        return total
