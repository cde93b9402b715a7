"""The benchmark's workloads.  Each one drives the library's public
functions on inputs generated from the seed and checks every answer
against the generators' plain-Python ground truth.

``run.py`` calls, in order:

* ``prepare()``: generate the inputs (and, for ``query_mix``, write the
  per-job tables and the lake).  Repeated ``SETUP_REPEATS`` times in
  set-up; the median is reported.
* ``ground_truth()``: compute the expected answers (not timed).
* ``warmup()``: the first, cold-JVM operations (timed as set-up).
* ``op(i)``: one operation: a full ingest, one request, or one curation
  pass.  Its clock starts at the first library call.
* ``verify()``: compare the latest outputs with the ground truth; returns
  a list of disagreements.
* ``layer_metrics()``: reduce the traced spans to per-layer metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import functions as F

import gen_docs
import gen_logs
from buildkite_logs_parquet_spark.operators import (
    CANONICAL_COLUMNS,
    entries_view,
    list_groups,
    parse_log_lines,
    processing_summary,
    seek,
    tail,
)
from buildkite_logs_parquet_spark.operators.curation import gopher_quality_filter
from buildkite_logs_parquet_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
)
from buildkite_logs_parquet_spark.operators.graph import dedup_clusters
from buildkite_logs_parquet_spark.operators.packing import pack_sequences
from buildkite_logs_parquet_spark.operators.queries import by_group_stats
from buildkite_logs_parquet_spark.sources import read_entries, read_log_lines, write_entries
from buildkite_logs_parquet_spark.sources.parquet_io import read_log_lake, write_log_lake

#: Log inputs: 30 job logs, 30 k lines, 2.5 MB.  Sized for the time
#: budget: an ingest takes 2-3 s on 4 cores, so a 15 s run times five to
#: seven.  The largest file stays far below ingest.AUTO_WINDOW_MAX_LINES.
LOG_JOBS = 30
LOG_LINES = 30_000
LOG_MAX_LINES = 6_000
#: Curation input.  A warm pass takes 9-13 s on 4 cores, nearly all of it
#: per-job cost of the 40-odd Spark jobs, so a larger corpus buys little.
CURATE_DOCS = 1_000
#: Jobs that get a table of their own for per-job requests.  Job sizes do
#: not depend on the seed, so the first ones are the same sizes in every
#: run; each table costs about 0.25 s of set-up.
JOB_TABLES = 8

JOB_OPS = ("tail", "by_group_stats", "list_groups", "seek")
LAKE_OPS = ("lake_list_groups", "lake_summary", "lake_list_groups_pipeline")
#: Per-job request kinds in a fixed rotation, each kind equally often:
#: no traffic record gives weights, and the per-job latency metric
#: averages the kinds, so each counts the same.
JOB_ROTATION = JOB_OPS * 2
#: requests per rotation: the per-job ones, then one lake-wide request
ROTATION = len(JOB_ROTATION) + 1
PAGE = 50


@dataclass
class Op:
    kind: str
    seconds: float
    units: int
    lake: bool = False
    #: peak heap memory Spark held for data during the operation
    #: (``run.MemorySampler``)
    mem_peak_bytes: int = 0


def drain(df) -> None:
    """Run a DataFrame to the noop sink: all of its work, no output."""
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    """Bytes of the Parquet files under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


def _median(values):
    return statistics.median(values) if values else 0.0


def compare(what: str, got: dict, want: dict) -> list[str]:
    """One message per answer that differs from the ground truth."""
    return [
        f"{what}: {key} is {str(got.get(key))[:300]}, expected {str(value)[:300]}"
        for key, value in want.items()
        if got.get(key) != value
    ]


def engine_metrics(spans, wall_s: float, cores: int) -> dict:
    """Spark engine totals per operation over ``spans`` (which cover
    ``wall_s`` seconds of operations in all)."""
    n_ops = max(1, len({sp.trace_id for sp in spans}))
    run = sum(sp.executor_run_s for sp in spans)
    return {
        "spark.jobs": sum(sp.jobs for sp in spans) / n_ops,
        "spark.stages": sum(sp.stages for sp in spans) / n_ops,
        "spark.tasks": sum(sp.tasks for sp in spans) / n_ops,
        "spark.executor_run_s": run / n_ops,
        "spark.executor_cpu_s": sum(sp.executor_cpu_s for sp in spans) / n_ops,
        "spark.gc_s": sum(sp.gc_s for sp in spans) / n_ops,
        "spark.core_busy_frac": run / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_write_bytes": sum(sp.shuffle_write_bytes for sp in spans) / n_ops,
        "spark.spill_bytes": sum(sp.spill_bytes for sp in spans) / n_ops,
    }


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, tracer, cores: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tr = tracer
        self.cores = cores

    #: times ``prepare`` runs in set-up; ``setup_s`` takes the median
    SETUP_REPEATS = 3
    #: operations run, untimed, before measuring; the first meets a cold JVM
    WARMUP_OPS = 1
    #: workloads whose layers this one's traced run also measures, with
    #: one traced operation each (their own runs do not fit the budget)
    CARRIES: tuple[str, ...] = ()

    def prepare(self) -> None:
        raise NotImplementedError

    def ground_truth(self) -> None:
        raise NotImplementedError

    def warmup(self) -> list[Op]:
        return [self.op(-1 - k) for k in range(self.WARMUP_OPS)]

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def verify(self) -> list[str]:
        raise NotImplementedError

    def end_to_end(self, ops: list[Op]) -> dict:
        """Units (lines, documents) per second and the median wall of one
        pass over the whole input."""
        p50 = statistics.median(o.seconds for o in ops)
        return {"throughput_per_s": ops[0].units / p50, "latency_ms": p50 * 1e3}

    def out_bytes_per_in_byte(self) -> float:
        raise NotImplementedError

    def layer_metrics(self) -> dict:
        raise NotImplementedError


class _LogInputs(Workload):
    """Shared log generation and ground truth for the two log workloads."""

    def _generate(self) -> None:
        self.jobs = gen_logs.generate_jobs(self.seed, LOG_JOBS, LOG_LINES, LOG_MAX_LINES)
        self.in_dir = os.path.join(self.work, "logs")
        shutil.rmtree(self.in_dir, ignore_errors=True)
        gen_logs.write_jobs(self.jobs, self.in_dir)
        self.raw_bytes = sum(len(j.data) for j in self.jobs)

    def ground_truth(self) -> None:
        self.truth = [gen_logs.expected_job(j.data) for j in self.jobs]
        self.n_lines = sum(t.n_lines for t in self.truth)
        self.all_entries = [e for t in self.truth for e in t.entries]


class IngestJobs(_LogInputs):
    """read_log_lines → parse_log_lines(auto) → entries_view → write_entries
    over every generated job log at once."""

    name = "ingest_jobs"
    # the cold ingest and three more: until the fourth, the JIT still
    # speeds ingests up by 20%, and timing them doubled the spread
    # between runs
    WARMUP_OPS = 4
    CARRIES = ("curate_docs",)

    def prepare(self) -> None:
        self._generate()
        self.out_dir = None

    def op(self, i: int) -> Op:
        spark, tr = self.spark, self.tr
        out = os.path.join(self.work, f"ingest-out-{i}")
        t0 = time.perf_counter()
        with tr.span("ingest", trace_id=f"ingest-{i}"):
            stats: dict = {}
            with tr.span("sources.logs.read_log_lines"):
                lines = read_log_lines(spark, self.in_dir, stats_out=stats)
            if tr.enabled:
                with tr.span("sources.logs.drain"):
                    drain(lines)
            with tr.span("operators.ingest.parse_log_lines"):
                parsed = parse_log_lines(
                    lines,
                    file_col="file",
                    group_strategy="auto",
                    max_file_lines=max(stats.values()),
                )
            with tr.span("operators.ingest.entries_view"):
                entries = entries_view(parsed)
            if tr.enabled:
                with tr.span("operators.ingest.drain"):
                    drain(entries)
            with tr.span("sources.parquet_io.write_entries"):
                write_entries(entries, out)
        seconds = time.perf_counter() - t0
        if self.out_dir is not None:
            shutil.rmtree(self.out_dir, ignore_errors=True)
        self.out_dir = out
        return Op("ingest", seconds, self.n_lines)

    def out_bytes_per_in_byte(self) -> float:
        return _dir_bytes(self.out_dir) / self.raw_bytes

    def answers(self) -> dict:
        """What a correct ingest writes, summarised as ``verify`` reads it."""
        entries = self.all_entries
        groups: dict[str, tuple] = {}
        for e in entries:
            n, c, p = groups.get(e.group, (0, 0, 0))
            groups[e.group] = (n + 1, c + e.is_command, p + e.is_progress)
        return {
            "summary": gen_logs.summary_of(entries),
            "quarantined": sum(t.quarantined for t in self.truth),
            "row_id_and_timestamp_sums": (
                sum(e.row_id for e in entries),
                sum(e.timestamp for e in entries),
            ),
            "entries_commands_progress_per_group": groups,
        }

    def verify(self) -> list[str]:
        df = read_entries(self.spark, self.out_dir)
        summary = tuple(processing_summary(df).collect()[0])
        per_group = (
            df.groupBy("group")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("is_command").cast("long")).alias("c"),
                F.sum(F.col("is_progress").cast("long")).alias("p"),
            )
            .collect()
        )
        got = {
            "summary": summary,
            "quarantined": self.n_lines - summary[0],
            "row_id_and_timestamp_sums": tuple(
                df.agg(F.sum("row_id"), F.sum("timestamp")).collect()[0]
            ),
            "entries_commands_progress_per_group": {r[0]: tuple(r[1:]) for r in per_group},
        }
        return compare("ingest_jobs", got, self.answers())

    def layer_metrics(self) -> dict:
        tr = self.tr
        reps = {}
        for sp in tr.spans:
            reps.setdefault(sp.trace_id, {})[sp.name] = sp
        rows = []
        pipeline_spans = []
        wall = 0.0
        for spans in reps.values():
            read = spans["sources.logs.read_log_lines"]
            ldrain = spans["sources.logs.drain"]
            idrain = spans["operators.ingest.drain"]
            write = spans["sources.parquet_io.write_entries"]
            plan_s = (
                spans["operators.ingest.parse_log_lines"].dur_s
                + spans["operators.ingest.entries_view"].dur_s
            )
            rows.append(
                {
                    "logs.read_s": read.dur_s,
                    "logs.jobs": read.jobs,
                    "logs.drain_s": ldrain.dur_s,
                    "ingest.parse_self_s": idrain.dur_s + plan_s - ldrain.dur_s,
                    "ingest.cpu_over_run": idrain.executor_cpu_s / idrain.executor_run_s
                    if idrain.executor_run_s
                    else 0.0,
                    "ingest.shuffle_write_bytes": idrain.shuffle_write_bytes,
                    "ingest.max_task_s": idrain.max_task_s,
                    "ingest.input_read_amplification": (read.input_bytes + write.input_bytes)
                    / self.raw_bytes,
                    "parquet_io.write_s": write.dur_s,
                    "parquet_io.write_jobs": write.jobs,
                    "parquet_io.write_final_tasks": write.final_stage_tasks,
                }
            )
            # the engine totals cover the untraced pipeline's calls only,
            # not the prefix drains the traced run adds
            pipeline_spans += [read, write]
            wall += read.dur_s + write.dur_s + plan_s
        out = {k: _median([r[k] for r in rows]) for k in rows[0]} if rows else {}
        out["parquet_io.bytes_written"] = _dir_bytes(self.out_dir)
        out.update(engine_metrics(pipeline_spans, wall, self.cores))
        return out


@dataclass
class Request:
    op: str
    job: int = -1
    pipeline: str = ""
    pattern: str = ""
    start: int = 0


class QueryMix(_LogInputs):
    """A closed loop with one client: per-job requests on one table per job
    written by ``write_entries`` (the reference's layout), lake-wide
    requests on a lake partitioned by (pipeline, build, job), in a sequence
    fixed by the seed."""

    name = "query_mix"
    # a set-up writes the job tables and the lake; the first one is cold
    SETUP_REPEATS = 2

    def prepare(self) -> None:
        self._generate()
        self.tables = os.path.join(self.work, "tables")
        self.lake = os.path.join(self.work, "lake")
        stats: dict = {}
        lines = read_log_lines(self.spark, self.in_dir, stats_out=stats)
        parsed = parse_log_lines(
            lines, file_col="file", group_strategy="auto", max_file_lines=max(stats.values())
        ).persist()

        def write_job(job) -> None:
            one = parsed.where(F.col("file").endswith("/" + job.file_name))
            write_entries(entries_view(one), self._job_path(job))

        # each write is a few small Spark jobs; run one per core at a time
        with ThreadPoolExecutor(self.cores) as pool:
            list(pool.map(write_job, self.jobs[:JOB_TABLES]))
        coords = F.split(F.regexp_extract("file", r"([^/]+)\.log$", 1), "__")
        # entries_view's columns plus the job's lake coordinates
        entries = parsed.where(F.col("parse_error").isNull()).select(
            F.col("line_no").cast("long").alias("row_id"),
            *CANONICAL_COLUMNS,
            coords[0].alias("pipeline"),
            coords[1].cast("int").alias("build"),
            coords[2].alias("job"),
        )
        write_log_lake(entries, self.lake, partition_cols=("pipeline", "build", "job"))
        parsed.unpersist()
        self.tables_bytes = _dir_bytes(self.tables)
        self.tables_raw_bytes = sum(len(j.data) for j in self.jobs[:JOB_TABLES])
        self.last = []

    def ground_truth(self) -> None:
        super().ground_truth()
        rng = random.Random(self.seed * 7919 + 17)
        seq = []
        for i in range(2000):
            if i % ROTATION == ROTATION - 1:
                op = LAKE_OPS[(i // ROTATION) % len(LAKE_OPS)]
                seq.append(Request(op, pipeline=rng.choice(gen_logs.PIPELINES)))
                continue
            j = rng.randrange(JOB_TABLES)
            entries = self.truth[j].entries
            req = Request(JOB_ROTATION[i % ROTATION], job=j)
            if req.op == "by_group_stats":
                names = sorted({gen_logs.group_name(e.group) for e in entries})
                name = rng.choice(names)
                words = [w for w in name.replace(":", " ").split() if len(w) > 3]
                req.pattern = rng.choice(words).upper() if words else name
            elif req.op == "seek":
                req.start = rng.randrange(len(entries))
            seq.append(req)
        self.sequence = seq

    def _job_path(self, job) -> str:
        return os.path.join(self.tables, job.job)

    def warmup(self) -> list[Op]:
        """The last request of each kind in the sequence, which no timed
        run reaches."""
        last = {req.op: i for i, req in enumerate(self.sequence)}
        return [self.op(i) for i in sorted(last.values())]

    def op(self, i: int) -> Op:
        req = self.sequence[i % len(self.sequence)]
        spark, tr = self.spark, self.tr
        lake = req.op in LAKE_OPS
        t0 = time.perf_counter()
        with tr.span(f"request.{req.op}", trace_id=f"req-{i}") as root:
            if req.op == "lake_list_groups_pipeline":
                with tr.span("sources.parquet_io.read_log_lake"):
                    src = read_log_lake(spark, self.lake)
                with tr.span("operators.queries.list_groups"):
                    df = list_groups(src.where(F.col("pipeline") == req.pipeline), as_timestamp=False)
            else:
                with tr.span("sources.parquet_io.read_entries"):
                    path = self.lake if lake else self._job_path(self.jobs[req.job])
                    entries = read_entries(spark, path)
                with tr.span(f"operators.queries.{req.op.removeprefix('lake_')}"):
                    if req.op in ("list_groups", "lake_list_groups"):
                        df = list_groups(entries, as_timestamp=False)
                    elif req.op == "lake_summary":
                        df = processing_summary(entries)
                    elif req.op == "tail":
                        df = tail(entries, PAGE)
                    elif req.op == "seek":
                        df = seek(entries, req.start).limit(PAGE)
                    else:
                        df = by_group_stats(entries, req.pattern).select(F.count("*"))
            with tr.span("collect"):
                rows = df.collect()
            if root is not None:
                phases = df._jdf.queryExecution().tracker().phases()
                root.attrs["plan_ms"] = sum(
                    phases.get(p).get().durationMs()
                    for p in ("analysis", "optimization", "planning")
                    if phases.get(p).isDefined()
                )
        seconds = time.perf_counter() - t0
        self.last.append((req, rows))
        return Op(req.op, seconds, 1, lake=lake)

    def _expected(self, req: Request):
        if req.op in LAKE_OPS:
            if req.op == "lake_summary":
                return [gen_logs.summary_of(self.all_entries)]
            entries = self.all_entries
            if req.op == "lake_list_groups_pipeline":
                entries = [
                    e
                    for job, t in zip(self.jobs, self.truth)
                    if job.pipeline == req.pipeline
                    for e in t.entries
                ]
            return gen_logs.list_groups_of(entries)
        entries = self.truth[req.job].entries
        if req.op == "list_groups":
            return gen_logs.list_groups_of(entries)
        if req.op == "tail":
            return [e.row_id for e in entries[-PAGE:]]
        if req.op == "seek":
            return [e.row_id for e in entries if e.row_id >= req.start][:PAGE]
        return [gen_logs.by_group_count(entries, req.pattern)]

    @staticmethod
    def _got(req: Request, rows):
        if req.op in ("tail", "seek"):
            return sorted(r["row_id"] for r in rows)
        if req.op == "by_group_stats":
            return [rows[0][0]]
        return [tuple(r) for r in rows]

    def verify(self) -> list[str]:
        errors = []
        for req, rows in self.last:
            errors += compare(str(req), {"rows": self._got(req, rows)}, {"rows": self._expected(req)})
        self.last = []
        return errors

    def end_to_end(self, ops: list[Op]) -> dict:
        """Requests per second over whole rotations, so that every run
        counts the same share of the slow lake-wide requests; per-job
        latency as the mean of the per-kind medians, so that every kind
        moves it."""
        whole = len(ops) // ROTATION * ROTATION or len(ops)
        kinds = [[o.seconds for o in ops if o.kind == k] for k in JOB_OPS]
        return {
            "throughput_per_s": whole / sum(o.seconds for o in ops[:whole]),
            "latency_ms": statistics.mean(statistics.median(k) for k in kinds if k) * 1e3,
        }

    def out_bytes_per_in_byte(self) -> float:
        """Bytes of the per-job tables ÷ raw bytes of those jobs' logs."""
        return self.tables_bytes / self.tables_raw_bytes

    def layer_metrics(self) -> dict:
        tr = self.tr
        roots = [sp for sp in tr.spans if sp.parent is None]
        kids: dict[int, list] = {}
        for sp in tr.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {}
        for op in JOB_OPS + LAKE_OPS:
            # child spans only: the root also covers the tracer's own reads
            out[f"queries.{op}.p50_ms"] = _median(
                [
                    sum(k.dur_s for k in kids.get(r.id, [])) * 1e3
                    for r in roots
                    if r.name == f"request.{op}"
                ]
            )
        reads = [sp for sp in tr.spans if sp.name.startswith("sources.parquet_io.read_")]
        out["parquet_io.read_entries_ms"] = _median([sp.dur_s * 1e3 for sp in reads])
        out["queries.plan_ms"] = _median([r.attrs.get("plan_ms", 0.0) for r in roots])
        all_spans = [sp for sp in tr.spans if sp.parent is not None]
        out["queries.jobs_per_request"] = sum(sp.jobs for sp in all_spans) / max(1, len(roots))
        lake_roots = [r for r in roots if r.name.removeprefix("request.") in LAKE_OPS]
        lake_kids = [k for r in lake_roots for k in kids.get(r.id, [])]
        n_lake = max(1, len(lake_roots))
        out["queries.bytes_read_per_request"] = sum(k.input_bytes for k in lake_kids) / n_lake
        out["queries.files_read_per_request"] = sum(k.files_read for k in lake_kids) / n_lake
        out.update(engine_metrics(all_spans, sum(r.dur_s for r in roots), self.cores))
        return out


class CurateDocs(Workload):
    """gopher_quality_filter → minhash_near_duplicates → dedup_clusters →
    canonical documents → pack_sequences, on a seeded corpus with planted
    near-duplicate clusters."""

    name = "curate_docs"

    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.corpus = gen_docs.generate_corpus(self.seed, CURATE_DOCS)
        self.path = os.path.join(self.work, "docs.parquet")
        texts = self.corpus.texts
        pq.write_table(pa.table({"doc_id": list(range(len(texts))), "text": texts}), self.path)
        self.in_bytes = sum(len(t.encode()) for t in texts)

    def ground_truth(self) -> None:
        self.truth = gen_docs.expected_curation(self.corpus)

    def op(self, i: int) -> Op:
        spark, tr = self.spark, self.tr
        t0 = time.perf_counter()
        with tr.span("curate", trace_id=f"curate-{i}"):
            docs = spark.read.parquet(self.path)
            if tr.enabled:
                with tr.span("source.drain"):
                    drain(docs)
            with tr.span("operators.curation.gopher_quality_filter"):
                quality = gopher_quality_filter(docs)
                kept = quality.where("passes").select("doc_id", "text")
            if tr.enabled:
                with tr.span("operators.curation.drain"):
                    drain(kept)
            with tr.span("operators.dedup.minhash_near_duplicates"):
                pairs = minhash_near_duplicates(kept, "doc_id", "text")
            if tr.enabled:
                with tr.span("operators.dedup.drain") as sp:
                    sp.attrs["pairs_kept"] = pairs.count()
                    sigs = minhash_signatures(kept, "doc_id", "text")
                    sp.attrs["candidate_pairs"] = lsh_candidate_pairs(sigs, "doc_id").count()
                # drop the signatures the count persisted, so dedup_clusters
                # recomputes them as it does in the untraced run
                spark.catalog.clearCache()
            with tr.span("operators.graph.dedup_clusters"):
                labeled = dedup_clusters(kept, pairs)
                canonical = kept.join(labeled.where("is_canonical").select("doc_id"), "doc_id")
            with tr.span("operators.packing.pack_sequences"):
                packed = pack_sequences(canonical, "doc_id", "text", capacity=gen_docs.PACK_CAPACITY)
                rows = packed.collect()
        seconds = time.perf_counter() - t0
        self.last = (quality, labeled, canonical, rows)
        return Op("curate", seconds, len(self.corpus.texts))

    def answers(self) -> dict:
        return {
            "passes": self.truth.passes,
            "cluster": self.truth.cluster,
            "packed": self.truth.packed,
        }

    def verify(self) -> list[str]:
        quality, labeled, _, rows = self.last
        got = {
            "passes": {r[0]: r[1] for r in quality.select("doc_id", "passes").collect()},
            "cluster": {r["doc_id"]: r["cluster"] for r in labeled.collect()},
            "packed": sorted(tuple(r) for r in rows),
        }
        return compare("curate_docs", got, self.answers())

    def out_bytes_per_in_byte(self) -> float:
        _, _, canonical, _ = self.last
        kept = canonical.agg(F.sum(F.octet_length("text"))).collect()[0][0]
        return kept / self.in_bytes

    def layer_metrics(self) -> dict:
        reps = {}
        for sp in self.tr.spans:
            reps.setdefault(sp.trace_id, {})[sp.name] = sp
        rows = []
        all_spans = []
        wall = 0.0
        for spans in reps.values():
            src = spans["source.drain"]
            qual = spans["operators.curation.drain"]
            dd = spans["operators.dedup.drain"]
            cc = spans["operators.graph.dedup_clusters"]
            pack = spans["operators.packing.pack_sequences"]
            cand = dd.attrs["candidate_pairs"]
            rows.append(
                {
                    "curation.quality_s": qual.dur_s
                    + spans["operators.curation.gopher_quality_filter"].dur_s
                    - src.dur_s,
                    "dedup.minhash_s": dd.dur_s
                    + spans["operators.dedup.minhash_near_duplicates"].dur_s,
                    "dedup.candidate_pairs": cand,
                    "dedup.pairs_kept": dd.attrs["pairs_kept"],
                    "dedup.pair_precision": dd.attrs["pairs_kept"] / cand if cand else 0.0,
                    "dedup.shuffle_write_bytes": dd.shuffle_write_bytes,
                    "graph.cc_s": cc.dur_s,
                    "graph.cc_jobs": cc.jobs,
                    "packing.pack_s": pack.dur_s,
                    "packing.jobs": pack.jobs,
                }
            )
            all_spans += [cc, pack]
            wall += cc.dur_s + pack.dur_s
        out = {k: _median([r[k] for r in rows]) for k in rows[0]} if rows else {}
        out.update(engine_metrics(all_spans, wall, self.cores))
        return out


WORKLOADS = {w.name: w for w in (IngestJobs, QueryMix, CurateDocs)}
