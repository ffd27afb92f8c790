"""The two pipeline workloads. One pass drives raw update JSON through the
product's public functions to five checked reference answers:

- ``streaming.ingest.start_ingest_stream``: landing files → raw zone;
- ``streaming.etl_job.run_daily_etl``: one raw day → one Parquet file;
- ``TelegramLake.register_table`` / ``register_persistent_table``;
- ``plans.telegram_queries.run_telegram_query``: the five queries.

Every pass gets a fresh lake root and checkpoint. Every call into a layer
is wrapped in a :class:`Tracer` span; with tracing on, the span also puts
the call's Spark jobs in a job group of their own and counts their jobs
and tasks from the status tracker.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import shutil
import threading
import time
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark import InheritableThread

from data_pipeline_project_using_telegram_and_aws_spark.functions.dialect import (
    presto_to_spark_sql,
)
from data_pipeline_project_using_telegram_and_aws_spark.plans.telegram_queries import (
    TELEGRAM_SQL,
    run_telegram_query,
)
from data_pipeline_project_using_telegram_and_aws_spark.sources.lake import TelegramLake
from data_pipeline_project_using_telegram_and_aws_spark.streaming.etl_job import (
    run_daily_etl,
)
from data_pipeline_project_using_telegram_and_aws_spark.streaming.ingest import (
    start_ingest_stream,
)

from updates import CHAT_ID, QUERY_NAMES, DayAgg, UpdateSet, check_answer, expected_answers

PERSISTENT_TABLE = "telegram_persistent"


def job_stats(sc, group: str) -> dict:
    """Jobs, completed tasks and failed tasks of one job group. Waits (up to
    5 s) for the status tracker to see each job end, because listener events
    arrive after the action returns."""
    st = sc.statusTracker()
    ids = st.getJobIdsForGroup(group)
    tasks = failed = 0
    deadline = time.monotonic() + 5
    for j in ids:
        info = st.getJobInfo(j)
        while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
            time.sleep(0.005)
            info = st.getJobInfo(j)
        for s in info.stageIds if info is not None else ():
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
    return {"jobs": len(ids), "tasks": tasks, "failed_tasks": failed}


class Tracer:
    """Spans of one pass, kept in memory. ``top`` spans are the sequential
    steps of the pass; together they should cover its wall time."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._groups = itertools.count()

    @contextmanager
    def span(self, name: str, top: bool = False, group: bool = True):
        rec = {"name": name, "top": top}
        label = f"perfbench-{id(self)}-{next(self._groups)}"
        if self.enabled and group:
            self.sc.setJobGroup(label, name)
        rec["start"] = time.perf_counter()
        epoch = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            rec["iv"] = (epoch, time.time())
            if self.enabled and group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec.update(job_stats(self.sc, label))
            with self._lock:
                self.spans.append(rec)

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]


def _visible_files(directory: str, suffix: str = "") -> list[str]:
    """Data files under ``directory``: no hidden, checksum or metadata files."""
    out = []
    for base, dirs, files in os.walk(directory):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [os.path.join(base, f) for f in files
                if not f.startswith(("_", ".")) and f.endswith(suffix)]
    return out


def day_aggs(raw_path: str, days: list[str], ups: UpdateSet,
             whole: DayAgg) -> dict[str, DayAgg]:
    """Arrival day of every kept row. A pass that crosses midnight on the
    pipeline clock splits its rows over two raw partitions; only then is
    the split read back from the raw zone to know which row went where."""
    if len(days) == 1:
        return {days[0]: whole}
    by_id = {r[0]: r for r in ups.rows}
    out = {}
    for day in days:
        rows = []
        for f in _visible_files(f"{raw_path}/context_date={day}"):
            with open(f, encoding="utf-8") as fh:
                rows += [by_id[json.loads(line)["message"]["message_id"]]
                         for line in fh if line.strip()]
        out[day] = DayAgg(rows)
    return out


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def freshness(progress: list[dict], sent: list[float]) -> list[tuple[float, float]]:
    """From each update's send time to the commit of the micro-batch that
    read it, as epoch intervals. Files are read in send order, so the
    cumulative ``numInputRows`` of the batches maps updates to batches."""
    out: list[tuple[float, float]] = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        n = p["numInputRows"]
        if n:
            done = _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
            out += [(t, done) for t in sent[len(out):len(out) + n]]
    return out


class Bench:
    """Shared state of one benchmark run: the session, the run's temp dir and
    the operation tally behind ``attempted``/``failed``."""

    def __init__(self, spark, tmp: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tmp = tmp
        self.attempted = 0
        self.failed = 0
        self._dirs = itertools.count()
        self._lock = threading.Lock()

    def fresh_dir(self, label: str) -> str:
        path = os.path.join(self.tmp, f"{label}-{next(self._dirs)}")
        os.makedirs(path)
        return path

    def op(self, what: str, problem: str | None) -> None:
        """Count one operation; a problem makes it a failed one, printed loudly."""
        with self._lock:
            self.attempted += 1
            if problem:
                self.failed += 1
                print(f"PERFBENCH CHECK FAILED: {what}: {problem}", flush=True)

    def query(self, tr: Tracer, name: str, top: bool = False) -> tuple[list, dict]:
        """One reference query, from the call to its collected answer."""
        with tr.span(f"refq.{name}", top=top) as sp:
            if tr.enabled:
                t = time.perf_counter()
                presto_to_spark_sql(TELEGRAM_SQL[name])
                sp["translate_s"] = time.perf_counter() - t
            t = time.perf_counter()
            df = run_telegram_query(self.spark, name)
            # run_telegram_query translates again: build is what remains
            sp["build_s"] = time.perf_counter() - t - sp.get("translate_s", 0.0)
            t = time.perf_counter()
            rows = df.collect()
            sp["exec_s"] = time.perf_counter() - t
        return rows, sp

    def reconcile(self, lake: TelegramLake, ups: UpdateSet, progress: list[dict],
                  etl_rows: dict[str, int]) -> dict:
        """Row and file accounting of one pass, each mismatch a failed
        operation: generated = foreign + raw = ETL count = Parquet footer
        rows, one Parquet file per day, and the catalog table sees every day."""
        raw_files = _visible_files(lake.raw_path)
        raw_rows = raw_bytes = 0
        for f in raw_files:
            with open(f, "rb") as fh:
                data = fh.read()
            raw_rows += data.count(b"\n")
            raw_bytes += len(data)
        read = sum(p["numInputRows"] for p in progress)
        self.op("ingest read every landed update",
                None if read == len(ups.lines) else f"read {read} of {len(ups.lines)}")
        self.op("ingest dropped exactly the foreign-chat updates",
                None if raw_rows + ups.foreign == len(ups.lines)
                else f"raw {raw_rows} + foreign {ups.foreign} != {len(ups.lines)}")
        etl_total = sum(etl_rows.values())
        self.op("ETL count matches the raw zone",
                None if etl_total == raw_rows else f"ETL {etl_total} != raw {raw_rows}")
        out_files = out_bytes = 0
        for day, n in etl_rows.items():
            files = _visible_files(f"{lake.enriched_path}/context_date={day}", ".parquet")
            footer = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            out_files += len(files)
            out_bytes += sum(os.path.getsize(f) for f in files)
            self.op(f"one Parquet file holding the ETL count for {day}",
                    None if len(files) == 1 and footer == n
                    else f"{len(files)} files, footer rows {footer}, ETL said {n}")
        parts = self.spark.sql(f"SHOW PARTITIONS {PERSISTENT_TABLE}").count()
        want = sum(d.startswith("context_date=") for d in os.listdir(lake.enriched_path))
        self.op("catalog table sees every day partition",
                None if parts == want else f"{parts} partitions, {want} on disk")
        return {"raw_files": len(raw_files), "raw_rows": raw_rows, "rows_out": etl_total,
                "bytes_ratio": out_bytes / raw_bytes if raw_bytes else 0.0,
                "files_per_partition": out_files / max(1, len(etl_rows))}

    def etl(self, tr: Tracer, lake: TelegramLake) -> tuple[list[str], dict[str, int]]:
        """ETL every raw partition the pass wrote (normally one; two when the
        pass crossed midnight on the pipeline clock), never just today."""
        days = sorted(d.split("=", 1)[1] for d in os.listdir(lake.raw_path)
                      if d.startswith("context_date="))
        counts = {}
        with tr.span("etl", top=True):
            for day in days:
                counts[day] = run_daily_etl(self.spark, lake, context_date=day)
        return days, counts

    def register_persistent(self, tr: Tracer, lake: TelegramLake) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {PERSISTENT_TABLE}")
        with tr.span("catalog.persistent_register", top=True):
            lake.register_persistent_table(self.spark, PERSISTENT_TABLE)


def _pass_record(tr: Tracer, wall: float, progress: list[dict], acct: dict,
                 stream_stats: dict, **extra) -> dict:
    """One pass. Every interval behind an end-to-end metric is kept as
    epoch ``(start, end)``: ``pipeline_iv``, ``etl_iv``, ``query_iv`` and
    ``fresh`` (send → commit of each update)."""
    return {"traced": tr.enabled, "wall": wall, "spans": tr.spans,
            "etl_iv": [s["iv"] for s in tr.named("etl")],
            "progress": progress, "acct": acct, "stream": stream_stats, **extra}


class DayBatch:
    """The bulk daily path: ``N`` updates in ``FILES`` multi-line landing
    files, one AvailableNow drain, the day's ETL, both registrations and
    the five queries."""

    name = "day_batch"
    # Row work keeps every task slot busy, so on a shared VM host CPU steal
    # slowed whole runs of local[4] by 20-30%; two slots leave headroom.
    cores = 2
    N, FILES = 50_000, 25
    WARM_N = 20_000  # the untimed set-up pass, in FILES // 2 files
    # untimed full passes after set-up: the JIT compiled 7.5 s in the first
    # pass and still 2.7 s in the fifth
    WARM_PASSES = 2

    def __init__(self, bench: Bench, seed: int):
        self.b, self.seed = bench, seed

    def _land(self, ups: UpdateSet, files: int) -> str:
        landing = self.b.fresh_dir("landing")
        per = -(-len(ups.lines) // files)
        for k in range(files):
            chunk = ups.lines[k * per:(k + 1) * per]
            with open(f"{landing}/updates-{k:05d}.json", "w", encoding="utf-8") as fh:
                fh.write("\n".join(chunk) + "\n")
        return landing

    def setup(self) -> None:
        """Generate and land the inputs, then one untimed pass at reduced size."""
        self.ups = UpdateSet(self.seed, self.N)
        self.whole = DayAgg(self.ups.rows)
        self.landing = self._land(self.ups, self.FILES)
        warm = UpdateSet(self.seed + 1, self.WARM_N, first_id=50_000_000)
        self.run_pass(False, warm, DayAgg(warm.rows), self._land(warm, self.FILES // 2))

    def run_pass(self, traced: bool, ups: UpdateSet | None = None,
                 whole: DayAgg | None = None, landing: str | None = None) -> dict:
        b = self.b
        ups, whole, landing = ups or self.ups, whole or self.whole, landing or self.landing
        root = b.fresh_dir("pass")
        lake = TelegramLake(f"{root}/lake", chat_id=CHAT_ID)
        tr = Tracer(b.sc, traced)
        t0 = time.perf_counter()
        sent = time.time()
        with tr.span("ingest", top=True, group=False):
            q = start_ingest_stream(b.spark, lake, landing, f"{root}/checkpoint",
                                    available_now=True)
            done = q.awaitTermination(120)
        b.op("ingest drain", None if done and q.exception() is None
             else f"stream did not finish cleanly: {q.exception()}")
        progress = [dict(p) for p in q.recentProgress]
        days, etl_rows = b.etl(tr, lake)
        with tr.span("catalog.register", top=True):
            lake.register_table(b.spark)
        b.register_persistent(tr, lake)
        answers = [(name, *b.query(tr, name, top=True)) for name in QUERY_NAMES]
        wall = time.perf_counter() - t0

        aggs = day_aggs(lake.raw_path, days, ups, whole)
        want = expected_answers(aggs)
        for name, rows, _sp in answers:
            b.op(f"{name} answer", check_answer(name, rows, aggs, want))
        acct = b.reconcile(lake, ups, progress, etl_rows)
        stream_stats = job_stats(b.sc, str(q.runId)) if traced else {}
        fresh = freshness(progress, [sent] * len(ups.lines))
        b.op("every update mapped to a committed batch",
             None if len(fresh) == len(ups.lines) and min(d - s for s, d in fresh) > 0 else
             f"{len(fresh)} of {len(ups.lines)} mapped")
        b.spark.sql(f"DROP TABLE IF EXISTS {PERSISTENT_TABLE}")
        shutil.rmtree(root)
        return _pass_record(
            tr, wall, progress, acct, stream_stats, updates=len(ups.lines),
            pipeline_iv=(sent, sent + wall), query_iv=[sp["iv"] for _n, _r, sp in answers],
            fresh=fresh,
            backlog=0, late_s=0.0)


PRIOR_DAY = "2024-03-07"  # the analysts' table: a day long before any arrival


class WebhookTrickle:
    """The reference's arrival shape: one single-message landing file per
    update, sent open-loop at ``RATE`` per second for ``ARRIVE_S`` seconds
    into a stream on its default trigger, while one closed-loop analyst runs
    the five queries over a prior day built in set-up. When arrivals stop
    the stream drains and the day's ETL compacts its small raw files."""

    name = "webhook_trickle"
    # Generator, analyst, stream and driver threads already outnumber the
    # cores; two task slots keep the JVM from oversubscribing them further.
    cores = 2
    RATE, ARRIVE_S = 50.0, 2.0
    WARM_S = 1.0  # arrivals of the untimed set-up pass
    WARM_PASSES = 1  # untimed full passes after set-up
    PRIOR_N = 30_000  # updates in the analysts' prior day

    def __init__(self, bench: Bench, seed: int):
        self.b, self.seed = bench, seed

    def setup(self) -> None:
        """Build the prior day's table through the ETL, generate the arrivals,
        then one untimed pass with shorter arrivals."""
        b = self.b
        prior = UpdateSet(self.seed, self.PRIOR_N)
        lake = TelegramLake(f"{b.fresh_dir('prior')}/lake", chat_id=CHAT_ID)
        raw_day = f"{lake.raw_path}/context_date={PRIOR_DAY}"
        os.makedirs(raw_day)
        with open(f"{raw_day}/part-00000.json", "w", encoding="utf-8") as fh:
            fh.write("\n".join(prior.chat_lines) + "\n")
        got = run_daily_etl(b.spark, lake, context_date=PRIOR_DAY)
        b.op("prior-day ETL count", None if got == len(prior.rows)
             else f"ETL wrote {got} of {len(prior.rows)} rows")
        self.prior_dir = f"{lake.enriched_path}/context_date={PRIOR_DAY}"
        self.prior = {PRIOR_DAY: DayAgg(prior.rows)}
        self.prior_want = expected_answers(self.prior)
        self.ups = UpdateSet(self.seed + 1, int(self.RATE * self.ARRIVE_S),
                             first_id=10_000_000)
        self.whole = DayAgg(self.ups.rows)
        warm = UpdateSet(self.seed + 2, int(self.RATE * self.WARM_S), first_id=20_000_000)
        self.run_pass(False, warm, DayAgg(warm.rows))

    def _send(self, landing: str, staging: str, lines: list[str], start: float,
              sent: list[float]) -> None:
        """Open loop: update i is due at ``start + i / rate`` whatever the
        stream is doing. Each file is written aside and renamed in, so the
        stream never lists a half-written file."""
        for i, line in enumerate(lines):
            delay = start + i / self.RATE - time.time()
            if delay > 0:
                time.sleep(delay)
            tmp = f"{staging}/{i:07d}.json"
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write(line + "\n")
            os.replace(tmp, f"{landing}/update-{i:07d}.json")
            sent.append(time.time())

    def _analyst(self, tr: Tracer, stop: threading.Event, samples: list) -> None:
        """Closed loop: the next query starts when the previous answer is in.
        Only whole rounds of the five are sampled, so each query weighs the
        same in the pooled percentiles: when the last, cut round counted,
        the per-run median moved between two queries' latencies."""
        b = self.b
        while not stop.is_set():
            round_ivs = []
            for name in QUERY_NAMES:
                try:
                    rows, sp = b.query(tr, name)
                except Exception as e:  # noqa: BLE001 — count it, keep the loop going
                    b.op(f"{name} under ingest", f"raised {type(e).__name__}: {e}")
                    continue
                b.op(f"{name} answer under ingest",
                     check_answer(name, rows, self.prior, self.prior_want))
                round_ivs.append(sp["iv"])
                if stop.is_set():
                    break
            if len(round_ivs) == len(QUERY_NAMES):
                samples += round_ivs

    def run_pass(self, traced: bool, ups: UpdateSet | None = None,
                 whole: DayAgg | None = None) -> dict:
        b = self.b
        ups, whole = ups or self.ups, whole or self.whole
        root = b.fresh_dir("pass")
        lake = TelegramLake(f"{root}/lake", chat_id=CHAT_ID)
        shutil.copytree(self.prior_dir, f"{lake.enriched_path}/context_date={PRIOR_DAY}")
        landing, staging = f"{root}/landing", f"{root}/staging"
        os.makedirs(landing)
        os.makedirs(staging)
        tr = Tracer(b.sc, traced)
        samples: list[tuple[float, float]] = []
        sent: list[float] = []
        stop = threading.Event()

        t0 = time.perf_counter()
        with tr.span("catalog.register", top=True):
            lake.register_table(b.spark)
        with tr.span("ingest", top=True, group=False):
            q = start_ingest_stream(b.spark, lake, landing, f"{root}/checkpoint")
            # arrivals begin once the stream waits for data: in the reference
            # the stream is long running, so no update waits on its start-up
            deadline = time.monotonic() + 30
            while q.status["message"] != "Waiting for data to arrive" \
                    and time.monotonic() < deadline:
                time.sleep(0.01)
            analyst = InheritableThread(target=self._analyst, args=(tr, stop, samples))
            start = time.time() + 0.05
            sender = threading.Thread(target=self._send,
                                      args=(landing, staging, ups.lines, start, sent))
            analyst.start()
            sender.start()
            sender.join()
            arrived = time.time()
            stop.set()
            committed = sum(p["numInputRows"] for p in q.recentProgress)
            backlog = len(ups.lines) - committed
            deadline = time.monotonic() + 60
            while committed < len(ups.lines) and time.monotonic() < deadline \
                    and q.exception() is None:
                time.sleep(0.02)
                committed = sum(p["numInputRows"] for p in q.recentProgress)
            progress = [dict(p) for p in q.recentProgress]
            q.stop()
            analyst.join()
        b.op("ingest drain", None if committed == len(ups.lines) and q.exception() is None
             else f"committed {committed} of {len(ups.lines)}: {q.exception()}")
        days, etl_rows = b.etl(tr, lake)
        b.register_persistent(tr, lake)
        answers = [(name, *b.query(tr, name, top=True)) for name in QUERY_NAMES]
        end, end_epoch = time.perf_counter(), time.time()

        aggs = {**self.prior, **day_aggs(lake.raw_path, days, ups, whole)}
        want = expected_answers(aggs)
        for name, rows, _sp in answers:
            b.op(f"{name} answer after the day's ETL", check_answer(name, rows, aggs, want))
        acct = b.reconcile(lake, ups, progress, etl_rows)
        stream_stats = job_stats(b.sc, str(q.runId)) if traced else {}
        due = [start + i / self.RATE for i in range(len(ups.lines))]
        fresh = freshness(progress, due)
        b.op("every update mapped to a committed batch after it was sent",
             None if len(fresh) == len(ups.lines) and min(
                 done - s for (_d, done), s in zip(fresh, sent)) > -0.002
             else f"{len(fresh)} of {len(ups.lines)} mapped, or a batch read an update before it was sent")
        b.spark.sql(f"DROP TABLE IF EXISTS {PERSISTENT_TABLE}")
        shutil.rmtree(root)
        return _pass_record(
            tr, end - t0, progress, acct, stream_stats, updates=len(ups.lines),
            # the arrivals' fixed schedule is not the pipeline's time: count
            # from the last send (drain, ETL, registration, five answers)
            pipeline_iv=(arrived, end_epoch), query_iv=samples,
            fresh=fresh, backlog=backlog,
            late_s=max(s - d for s, d in zip(sent, due)))


WORKLOADS = {w.name: w for w in (DayBatch, WebhookTrickle)}
