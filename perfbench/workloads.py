"""The three benchmark workloads. Each drives the engine's public entry
points as one client in a closed loop and checks every output against
the references in ``checks``.

A workload object goes through ``generate`` (inputs from the seed, not
part of set-up time), ``prepare`` (the program's own preparation),
``warm`` (untimed ops), then ``op`` in the timed loop, then ``finish``
(end-of-run checks). ``layer_metrics`` turns a traced run's spans and
event-log groups into the per-layer metrics.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

import checks
import gen

ENGINE = "etl_migrate_api_spark"


@dataclass
class OpResult:
    kind: str  # ops of the workload's primary kind feed op_s_p50
    latency: float
    ok: bool
    rows: int = 0


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
    return total


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _r, _d, fs in os.walk(path) for f in fs)


class Layers:
    """Per-layer metric assembly shared by the workloads: Spark counters
    come from the event-log group named after a span, normalized per
    traced op. Layers whose spans only build lazy plans (classify, merge)
    or that no workload reaches yet (sinks.versioned) submit no job, so
    they have no Spark counters here; their jobs count under the span
    that runs the plan."""

    SPARK_LAYERS = (
        ("pipelines.contact_job", ("pipelines.contact_job",)),
        ("sources.http_cursor", ("sources.http_cursor",)),
        ("sinks.upsert", ("sinks.upsert",)),
        ("sinks.tables", ("sinks.tables.audit",)),
        ("plans.registry", ("plans.registry.build", "plans.registry.exec")),
        ("operators.dedup", ("operators.dedup",)),
        ("operators.text_index", ("operators.text_index.query", "operators.text_index.write")),
        ("operators.similarity", ("operators.similarity.query", "operators.similarity.write")),
    )

    def __init__(self, tracer, groups: dict, n_ops: int):
        self.tracer = tracer
        self.groups = groups
        self.n = max(n_ops, 1)
        self.totals = tracer.totals()

    def g(self, group: str, field: str) -> float:
        return float(self.groups.get(group, {}).get(field, 0.0))

    def spark_fields(self) -> dict[str, float]:
        from tracing import SPARK_FIELDS

        out = {}
        for layer, grps in self.SPARK_LAYERS:
            for f in SPARK_FIELDS:
                out[f"{layer}.{f}"] = sum(self.g(gr, f) for gr in grps) / self.n
        return out

    def per_op(self, span: str) -> float:
        return self.totals.get(span, 0.0) / self.n

    def per_call(self, span: str) -> float:
        calls = self.tracer.n_spans(span)
        return self.totals.get(span, 0.0) / calls if calls else 0.0


def common_trace_targets() -> list[tuple[str, str, str]]:
    """Layers every workload may reach; a workload that bypasses one
    records nothing for it."""
    return [
        (f"{ENGINE}.sinks.versioned", "VersionedTable.commit", "sinks.versioned.commit"),
        (f"{ENGINE}.sinks.versioned", "VersionedTable.read", "sinks.versioned.read"),
    ]


def install_counting(tracer) -> None:
    """Counters that are not spans: build attempts inside the index
    readers' swap/retry loop, and segments a versioned read opens."""
    import importlib
    import sys

    sr = importlib.import_module(f"{ENGINE}.operators._swap_retry")
    orig = sr.with_swap_retry

    def counted(build, recover):
        attempts = [0]

        def build_counted():
            attempts[0] += 1
            return build()

        try:
            return orig(build_counted, recover)
        finally:
            tracer.count("swap_retry.retries", max(attempts[0] - 1, 0))

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "") or "").startswith(ENGINE) and getattr(mod, "with_swap_retry", None) is orig:
            mod.with_swap_retry = counted

    vt = importlib.import_module(f"{ENGINE}.sinks.versioned").VersionedTable
    orig_manifest = vt.manifest

    def manifest(self, version):
        m = orig_manifest(self, version)
        tracer.count("versioned.segments", len(m.get("segments", ())))
        return m

    vt.manifest = manifest


class Workload:
    """Defaults shared by the workloads: one op kind, no extra tracing."""

    name = ""
    primary = ""
    CYCLE: tuple[str, ...] = ()  # op kinds in timed order; the loop ends on a cycle boundary
    offline_s = 0.0  # wall seconds spent in ``offline`` blocks
    offline_cpu = 0.0  # client-thread CPU seconds spent in ``offline`` blocks

    @contextmanager
    def offline(self):
        """Benchmark-side work after the inputs are generated (making
        further inputs, reference checks). It runs outside the op timers,
        and its time and CPU are kept out of setup_s and cpu_s_per_op."""
        t, c = time.perf_counter(), time.thread_time()
        try:
            yield
        finally:
            self.offline_s += time.perf_counter() - t
            self.offline_cpu += time.thread_time() - c

    def next_kind(self) -> str:
        return self.primary

    def trace_targets(self) -> list[tuple[str, str, str]]:
        return []

    def install_extra(self, tracer) -> None:
        pass


# ===================================================================
# contact_ingest
# ===================================================================


class ContactIngest(Workload):
    name = "contact_ingest"
    primary = "batch"
    CYCLE = ("batch",)
    N_KEYS = 10_000
    PAGE_ROWS = 1_000
    N_PRELOAD = 5_000
    # The first batch of a fresh JVM is cold: on a 4-core host at 2,000-row
    # pages it took 12.5 s and the next three 9.7, 9.5 and 9.1 s, so one
    # untimed batch brings the batch time near its steady level.
    N_WARM = 1

    def __init__(self, rng, work: str, tracer):
        self.rng = rng
        self.work = work
        self.tracer = tracer
        self.input_bytes = 0

    def generate(self) -> None:
        self.stream = gen.ContactStream(self.rng, self.N_KEYS, self.PAGE_ROWS, self.N_PRELOAD)
        self.preload = self.stream.preload_rows()
        # the warm-up's pages; a timed op makes its own page from the same
        # stream before its timer starts, so the loop never runs out
        self.pages = [self.stream.next_page() for _ in range(self.N_WARM)]
        self.model = checks.ContactModel()
        self.model.preload(self.preload)
        self.input_bytes = len(json.dumps(self.preload))
        self.next_page = 0

    def _fetch(self, last_id: int, limit: int) -> dict:
        for page in self.pages:
            if page[0]["id"] > last_id:
                return {"data": page, "count": len(page)}
        return {"data": [], "count": 0}

    def prepare(self, spark) -> None:
        """Import the legacy sink, mark its watermark in the audit log, and
        preload the state from it with the pipeline's refresh-state
        endpoint."""
        from etl_migrate_api_spark.functions.arrays import SLOT_COLS
        from etl_migrate_api_spark.pipelines.contact_job import LOG_SCHEMA, ContactEtlJob
        from etl_migrate_api_spark.sources.http_cursor import CursorSource

        self.spark = spark
        schema = "id bigint, hn_code string, firstname string, tel_no string"
        src = CursorSource(spark, self._fetch, schema=schema, limit=self.PAGE_ROWS)
        self.base = os.path.join(self.work, "contact")
        self.job = ContactEtlJob(spark, src, self.base)
        sink_schema = (
            "recid bigint, hn_code string, firstname string, "
            + ", ".join(f"{c} string" for c in SLOT_COLS)
            + ", note_other string, rectype string"
        )
        rows = []
        for r in self.preload:
            slots = (r["phones"] + [None] * len(SLOT_COLS))[: len(SLOT_COLS)]
            rows.append((r["recid"], r["hn_code"], r["firstname"], *slots, None, "BIGDATA"))
        self.job.sink.replace(spark.createDataFrame(rows, sink_schema))
        now = dt.datetime.now(dt.timezone.utc)
        last = self.preload[-1]["recid"]
        self.job.log.append(
            spark.createDataFrame(
                [
                    {"id": 1, "continue_id": 0, "batch_no": 0, "last_id": last,
                     "record_count": len(rows), "insert_count": len(rows), "update_count": 0,
                     "status": "success", "error_message": None, "started_at": now,
                     "finished_at": now}
                ],
                LOG_SCHEMA,
            )
        )
        n = self.job.rebuild_state()
        if n != len(rows):
            raise RuntimeError(f"state preload holds {n} keys, expected {len(rows)}")

    def warm(self) -> None:
        for _ in range(self.N_WARM):
            self.op()

    def op(self) -> OpResult:
        if self.next_page == len(self.pages):
            with self.offline():
                self.pages.append(self.stream.next_page())
        page = self.pages[self.next_page]
        self.next_page += 1
        t0 = time.perf_counter()
        with self.tracer.span("pipelines.contact_job"):
            res = self.job.run(max_batches=1)
        lat = time.perf_counter() - t0
        if self.tracer.enabled:
            for step, layer in (("classify", "classify"), ("mergeFold", "merge")):
                self.tracer.count(f"{layer}.s", res.step_durations.get(step, 0.0))
        with self.offline():
            self.input_bytes += len(json.dumps(page))
            want = self.model.apply_page(page)
        ok = res.batches == 1 and (res.insert_count, res.update_count) == want and res.last_id == page[-1]["id"]
        return OpResult("batch", lat, ok, rows=len(page))

    def finish(self) -> dict:
        """Full sink and state against the Python fold. A mismatch cannot
        be pinned to one batch, so it fails every op."""
        sink = [r.asDict() for r in self.job.sink.read().collect()]
        state = [r.asDict() for r in self.job.state.read().collect()]
        bad_sink = self.model.sink_mismatches(sink)
        bad_state = self.model.state_mismatches(state)
        out_bytes = dir_bytes(self.job.sink.path, self.job.state.path, self.job.log.path)
        self.audit_files = count_files(self.job.log.path)
        return {
            "all_ops_failed": bool(bad_sink or bad_state),
            "checks": {"sink_rows_mismatched": bad_sink, "state_rows_mismatched": bad_state,
                       "sink_rows": len(sink)},
            "space_amp": out_bytes / max(self.input_bytes, 1),
        }

    def trace_targets(self) -> list[tuple[str, str, str]]:
        e = ENGINE
        return [
            (f"{e}.sources.http_cursor", "CursorSource.pages", "sources.http_cursor"),
            (f"{e}.operators.classify", "classify_batch", "operators.classify"),
            (f"{e}.operators.merge", "merge_fold_expr", "operators.merge"),
            (f"{e}.sinks.upsert", "upsert_by_key", "sinks.upsert"),
            *[
                (f"{e}.pipelines.contact_job", f"ContactEtlJob.{m}", "sinks.tables.audit")
                for m in ("last_successful_id", "next_batch_no", "_next_log_id", "_append_log",
                          "_crashed_mid_batch")
            ],
        ]

    def install_extra(self, tracer) -> None:
        """Count bucket directories each upsert rewrites."""
        from etl_migrate_api_spark.sinks.tables import HashBucketedTable

        orig = HashBucketedTable.replace_buckets

        def replace_buckets(table, df, buckets):
            tracer.count("upsert.buckets", len(buckets))
            tracer.count("upsert.bucket_slots", table.n_buckets)
            return orig(table, df, buckets)

        HashBucketedTable.replace_buckets = replace_buckets

    def layer_metrics(self, lay: Layers, n_traced: int) -> dict:
        c = lay.tracer.counters
        n = max(n_traced, 1)
        page_bytes = float(np.mean([len(json.dumps(p)) for p in self.pages[: self.next_page]]))
        classify_s = c.get("classify.s", 0.0) / n
        merge_s = c.get("merge.s", 0.0) / n
        run_total = lay.per_op("pipelines.contact_job")
        # the classify and mergeFold step durations already contain the
        # (plan-building) classify and merge spans
        children = sum(lay.per_op(s) for s in ("sources.http_cursor", "sinks.upsert", "sinks.tables.audit"))
        jobs = sum(v.get("jobs", 0) for k, v in lay.groups.items() if k != "client") / n
        return {
            "pipelines.contact_job.self_s": max(run_total - children - classify_s - merge_s, 0.0),
            "pipelines.contact_job.jobs_per_batch": jobs,
            "sources.http_cursor.page_s": lay.per_op("sources.http_cursor"),
            "operators.classify.s": classify_s,
            "operators.merge.s": merge_s,
            "sinks.upsert.s": lay.per_op("sinks.upsert"),
            "sinks.upsert.buckets_rewritten_frac": c.get("upsert.buckets", 0) / max(c.get("upsert.bucket_slots", 0), 1),
            "sinks.upsert.bytes_written_per_input_byte": lay.g("sinks.upsert", "output_bytes") / n / max(page_bytes, 1),
            "sinks.tables.audit_s": lay.per_op("sinks.tables.audit"),
            "sinks.tables.audit_files": float(self.audit_files),
        }


# ===================================================================
# curate_corpus
# ===================================================================


class CurateCorpus(Workload):
    name = "curate_corpus"
    primary = "job"
    CYCLE = ("job",)
    N_DOCS = 2_000
    QUERIES = ("llm_curation_pipeline", "llm_minhash_lsh_dedup")
    CONFIRMED_JACCARD = 0.8

    def __init__(self, rng, work: str, tracer):
        self.rng = rng
        self.work = work
        self.tracer = tracer
        self.candidates = 0
        self.confirmed = 0

    def generate(self) -> None:
        from etl_migrate_api_spark.plans.registry import oracle_sql_map

        self.data = os.path.join(self.work, "corpus")
        gen.write_corpus(gen.gen_corpus(self.rng, self.N_DOCS), self.data)
        oracles = oracle_sql_map()
        self.want = {q: checks.duckdb_hash(oracles[q], self.data) for q in self.QUERIES}

    def prepare(self, spark) -> None:
        from etl_migrate_api_spark.plans.registry import query_map

        self.spark = spark
        qm = query_map()
        self.builders = {q: qm[q] for q in self.QUERIES}

    def warm(self) -> None:
        """One unchecked job: compiles and JIT-warms every plan."""
        self.job(check=False)

    def job(self, check: bool) -> tuple[float, bool]:
        """Both queries through the noop sink. Only build and execution are
        timed; the check then reads the persisted result."""
        lat, ok = 0.0, True
        for q in self.QUERIES:
            t0 = time.perf_counter()
            with self.tracer.span("plans.registry.build"):
                df = self.builders[q](self.spark, self.data)
            with self.tracer.span("plans.registry.exec"):
                df.write.format("noop").mode("overwrite").save()
            lat += time.perf_counter() - t0
            if check:
                got = [tuple(r) for r in df.collect()]
                with self.offline():
                    ok = ok and (checks.rows_hash(df.columns, got), len(got)) == self.want[q]
                    if q == "llm_minhash_lsh_dedup":
                        j = df.columns.index("jaccard")
                        self.candidates += len(got)
                        self.confirmed += sum(r[j] >= self.CONFIRMED_JACCARD for r in got)
            df.unpersist()
        return lat, ok

    def op(self) -> OpResult:
        lat, ok = self.job(check=True)
        return OpResult("job", lat, ok, rows=self.N_DOCS)

    def finish(self) -> dict:
        return {"all_ops_failed": False, "checks": {"oracle_rows": {q: n for q, (_h, n) in self.want.items()}}}

    def trace_targets(self) -> list[tuple[str, str, str]]:
        return [
            (f"{ENGINE}.operators.dedup", "minhash_lsh_candidates", "operators.dedup"),
            (f"{ENGINE}.operators.dedup", "simhash_neardup_pairs", "operators.dedup"),
        ]

    def layer_metrics(self, lay: Layers, n_traced: int) -> dict:
        n = max(n_traced, 1)
        return {
            "plans.registry.build_s": lay.per_op("plans.registry.build"),
            "plans.registry.eager_jobs": (lay.g("plans.registry.build", "jobs") + lay.g("operators.dedup", "jobs")) / n,
            "plans.registry.exec_s": lay.per_op("plans.registry.exec"),
            "operators.dedup.s": lay.per_op("operators.dedup"),
            "operators.dedup.candidates_per_confirmed_pair": self.candidates / max(self.confirmed, 1),
        }


# ===================================================================
# index_serve
# ===================================================================


class IndexServe(Workload):
    name = "index_serve"
    primary = "query"
    N_DOCS = 2_000
    N_VECS = 2_000
    DIM = 64
    N_CELLS = 8
    NPROBE = 3
    K = 10
    N_TERM_QUERIES = 200
    N_VEC_QUERIES = 200
    # A query op is one hybrid request: a BM25 leg and an IVF leg. Every
    # 4th op is a write. The timed loop ends on a cycle boundary, so every
    # run times the same mix.
    CYCLE = ("query", "query", "query", "write")
    WRITE_ADD = 20  # documents and vectors appended per mutation
    WRITE_DEL = 5  # live documents and vectors deleted per mutation
    TEXT_BUCKETS = 64

    def __init__(self, rng, work: str, tracer):
        self.rng = rng
        self.work = work
        self.tracer = tracer
        self.recalls: list[float] = []
        self.n_ops = 0  # position in the timed cycle
        self.n_req = 0  # query requests so far

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.data = os.path.join(self.work, "corpus")
        self.corpus = gen.gen_corpus(self.rng, self.N_DOCS)
        gen.write_corpus(self.corpus, self.data)
        # one mixture for the corpus, the vectors mutations append, and the
        # queries, so queries land near the corpus's clusters
        n_spare = 4096
        vecs, labels = gen.gen_embeddings(self.rng, self.N_VECS + n_spare + self.N_VEC_QUERIES, self.DIM)
        self.vecs = vecs[: self.N_VECS]
        self.spare_vecs = vecs[self.N_VECS : self.N_VECS + n_spare]
        self.vec_queries = vecs[self.N_VECS + n_spare :]
        self.vec_ids = np.arange(self.N_VECS, dtype=np.int64)
        emb = os.path.join(self.data, "embeddings.parquet")
        os.makedirs(emb)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(self.vec_ids),
                    "embedding": pa.array(list(self.vecs), pa.list_(pa.float32())),
                    "label": pa.array(labels[: self.N_VECS]),
                }
            ),
            os.path.join(emb, "part-0.parquet"),
        )
        self.term_queries = gen.gen_term_queries(self.rng, self.N_TERM_QUERIES)
        # the op stream: Zipf picks over each query set, so popular
        # queries repeat within a session; drawn as the loop needs them
        self.term_stream = gen.ZipfPicks(self.rng, self.N_TERM_QUERIES)
        self.vec_stream = gen.ZipfPicks(self.rng, self.N_VEC_QUERIES)
        self.spare_docs = gen.gen_corpus(self.rng, 4096)["text"]
        self.live_vecs = dict(zip(self.vec_ids.tolist(), self.vecs))
        self.next_doc, self.next_vec, self.n_writes = 500_000, 1_000_000, 0

    def prepare(self, spark) -> None:
        """Index the documents for BM25 and the embeddings for IVF."""
        from etl_migrate_api_spark.operators.similarity import write_ivf_index
        from etl_migrate_api_spark.operators.text_index import build_text_index

        self.spark = spark
        with self.offline():
            self.bm25 = checks.Bm25Reference(dict(zip(self.corpus["doc_id"], self.corpus["text"])))
            self.input_bytes = sum(len(t.encode()) for t in self.corpus["text"]) + self.vecs.nbytes
        self.text_path = os.path.join(self.work, "text_index")
        self.ivf_path = os.path.join(self.work, "ivf_index")
        t0 = time.perf_counter()
        build_text_index(spark.read.parquet(os.path.join(self.data, "documents.parquet")), self.text_path,
                         n_buckets=self.TEXT_BUCKETS)
        t1 = time.perf_counter()
        emb = spark.read.parquet(os.path.join(self.data, "embeddings.parquet"))
        write_ivf_index(emb, self.ivf_path, k=self.N_CELLS, n_iter=2)
        self.prepare_s = {"text_index": t1 - t0, "ivf_index": time.perf_counter() - t1}

    def warm(self) -> None:
        """One untimed write: its visibility probes also run both query
        legs, so it warms every path a timed op takes."""
        self._write()

    def next_kind(self) -> str:
        return self.CYCLE[self.n_ops % len(self.CYCLE)]

    def op(self) -> OpResult:
        kind = self.next_kind()
        self.n_ops += 1
        return self._run(kind)

    def _run(self, kind: str) -> OpResult:
        if kind == "write":
            return self._write()
        r = self.n_req
        self.n_req += 1
        lat_b, ok_b = self._bm25(self.term_queries[self.term_stream[r]], "operators.text_index.query")
        qv = self.vec_queries[self.vec_stream[r]]
        lat_v, found = self._ivf(10**9 + r, qv, "operators.similarity.query")
        with self.offline():
            ids = np.fromiter(self.live_vecs.keys(), dtype=np.int64)
            exact = checks.exact_topk(ids, np.stack(list(self.live_vecs.values())), qv, self.K)
            self.recalls.append(len(set(found) & set(exact)) / self.K)
            ok = ok_b and self._ranked_ok(found, qv)
        return OpResult("query", lat_b + lat_v, ok, rows=2)

    def _bm25(self, terms: tuple[str, ...], span: str) -> tuple[float, bool]:
        """One BM25 top-K query; checked bit for bit against the reference."""
        from etl_migrate_api_spark.operators.text_index import bm25_from_index

        t0 = time.perf_counter()
        with self.tracer.span(span):
            got = bm25_from_index(
                self.spark, self.text_path, terms, k=self.K, n_buckets=self.TEXT_BUCKETS
            ).collect()
        lat = time.perf_counter() - t0
        with self.offline():
            return lat, [(r["doc_id"], r["n_terms"], r["score"]) for r in got] == self.bm25.topk(terms, self.K)

    def _ivf(self, qid: int, qv: np.ndarray, span: str) -> tuple[float, list[int]]:
        """One IVF top-K query; returns its latency and ids in rank order."""
        from etl_migrate_api_spark.operators.similarity import ivf_topk_from_index

        t0 = time.perf_counter()
        with self.tracer.span(span):
            q = self.spark.createDataFrame([(qid, qv.tolist())], "vec_id long, embedding array<float>")
            got = ivf_topk_from_index(self.spark, self.ivf_path, q, k=self.K, nprobe=self.NPROBE).collect()
        lat = time.perf_counter() - t0
        return lat, [int(r["neighbor_id"]) for r in sorted(got, key=lambda r: r["rank"])]

    def _ranked_ok(self, found: list[int], qv: np.ndarray) -> bool:
        """Approximate search may miss neighbours (that is recall), but a
        correct answer has K live ids ranked by their true similarity."""
        if len(found) != self.K or not all(f in self.live_vecs for f in found):
            return False
        sims = checks.cosine(np.stack([self.live_vecs[f] for f in found]), qv)
        return bool(np.all(np.diff(sims) <= 1e-9))

    def _write(self) -> OpResult:
        """Append fresh documents and vectors, delete a few live ones, and
        query each index until the mutation is visible: the BM25 probe must
        match the reference over the new live set, and the IVF probe (one
        of the appended vectors) must return that vector first."""
        from etl_migrate_api_spark.operators.similarity import add_to_ivf_index, delete_from_ivf_index
        from etl_migrate_api_spark.operators.text_index import append_to_text_index, delete_from_text_index

        spark = self.spark
        w = self.n_writes
        self.n_writes += 1
        new_docs = [
            (self.next_doc + j, self.spare_docs[(w * self.WRITE_ADD + j) % len(self.spare_docs)])
            for j in range(self.WRITE_ADD)
        ]
        self.next_doc += self.WRITE_ADD
        new_vecs = [
            (self.next_vec + j, self.spare_vecs[(w * self.WRITE_ADD + j) % len(self.spare_vecs)])
            for j in range(self.WRITE_ADD)
        ]
        self.next_vec += self.WRITE_ADD
        with self.offline():
            dead_docs = [int(d) for d in self.rng.choice(sorted(self.bm25.docs), self.WRITE_DEL, replace=False)]
            dead_vecs = [int(v) for v in self.rng.choice(sorted(self.live_vecs), self.WRITE_DEL, replace=False)]
            for d, text in new_docs:
                self.bm25.add(d, text)
                self.input_bytes += len(text.encode())
            for d in dead_docs:
                self.bm25.remove(d)
            for i, v in new_vecs:
                self.live_vecs[i] = v
                self.input_bytes += v.nbytes
            for v in dead_vecs:
                del self.live_vecs[v]
        doc_df = spark.createDataFrame(new_docs, "doc_id long, text string")
        vec_df = spark.createDataFrame([(i, v.tolist()) for i, v in new_vecs], "vec_id long, embedding array<float>")
        dead_doc_df = spark.createDataFrame([(d,) for d in dead_docs], "doc_id long")
        dead_vec_df = spark.createDataFrame([(v,) for v in dead_vecs], "vec_id long")
        probe_terms = self.term_queries[self.term_stream[self.n_req]]
        probe_id, probe_vec = new_vecs[0]
        self.tracer.count("index.writes")

        t0 = time.perf_counter()
        with self.tracer.span("operators.text_index.write"):
            append_to_text_index(doc_df, self.text_path, n_buckets=self.TEXT_BUCKETS)
            delete_from_text_index(dead_doc_df, self.text_path)
        lat = time.perf_counter() - t0
        lat_b, ok_b = self._bm25(probe_terms, "operators.text_index.write")
        t0 = time.perf_counter()
        with self.tracer.span("operators.similarity.write"):
            add_to_ivf_index(vec_df, self.ivf_path)
            delete_from_ivf_index(dead_vec_df, self.ivf_path)
        lat += time.perf_counter() - t0
        lat_v, found = self._ivf(2 * 10**9 + w, probe_vec, "operators.similarity.write")
        with self.offline():
            ok = ok_b and self._ranked_ok(found, probe_vec) and found[0] == probe_id
        return OpResult("write", lat + lat_b + lat_v, ok)

    def finish(self) -> dict:
        idx = [self.text_path + s for s in ("", ".doclens", ".stats", ".tombstones")]
        idx += [self.ivf_path + s for s in ("", ".centroids", ".tombstones")]
        return {
            "all_ops_failed": False,
            "checks": {"prepare_s": self.prepare_s,
                       "live_docs": len(self.bm25.docs),
                       "live_vectors": len(self.live_vecs)},
            "space_amp": dir_bytes(*idx) / max(self.input_bytes, 1),
            "recall_at_10": float(np.mean(self.recalls)) if self.recalls else 0.0,
        }

    def layer_metrics(self, lay: Layers, n_traced: int) -> dict:
        tq = lay.tracer.n_spans("operators.text_index.query")
        vq = lay.tracer.n_spans("operators.similarity.query")
        # a write span is the mutation, a probe span the query that sees it
        writes = max(lay.tracer.counters.get("index.writes", 0), 1)
        return {
            "operators.text_index.query_s": lay.per_call("operators.text_index.query"),
            "operators.text_index.files_listed_per_query": lay.g("operators.text_index.query", "files_read") / max(tq, 1),
            "operators.text_index.write_s": lay.totals.get("operators.text_index.write", 0.0) / writes,
            "operators.similarity.query_s": lay.per_call("operators.similarity.query"),
            "operators.similarity.cells_scanned_per_query": lay.g("operators.similarity.query", "partitions_read") / max(vq, 1),
            "operators.similarity.driver_collects_per_query": lay.g("operators.similarity.query", "collect_jobs") / max(vq, 1),
            "operators.similarity.write_s": lay.totals.get("operators.similarity.write", 0.0) / writes,
        }


WORKLOADS = {w.name: w for w in (ContactIngest, CurateCorpus, IndexServe)}
