"""The three benchmark workloads.

* ``community_sql`` - closed loop, one client: the paper's windowed SQL and
  function-library queries from the registry, one request at a time.
* ``curation_batch`` - closed loop, one client: rounds of data-curation
  operators (similarity, graph, dedup, BPE), shared state cleared before
  every round so each round does the same work.
* ``commit_stream`` - open loop: seeded commit files dropped on a fixed
  schedule into the streaming commit-activity job with its upsert sink.

Each workload function takes a ``Ctx`` and fills ``ctx.e2e`` (end-to-end
metrics, from untraced measurement) and ``ctx.layer`` (per-layer
metrics, traced runs only).  Correctness checks run off the clock.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import random
import shutil
import threading
import time

from lab_flink_repository_analytics_spark import session as S
from lab_flink_repository_analytics_spark.queries import suite

import datagen
import oracle
from harness import JOB_COUNTERS, Ops, Tracer, job_group_counters, median, pct

#: COVERAGE.md section 2.A-E: the reference's SQL and function library.
#: ``commit_activity`` (the flagship, and the slowest) is issued twice per
#: round, so the p90 of a round's 20 latencies (the third-largest) falls
#: inside the slowest group of requests rather than on the gap below it.
COMMUNITY = [
    "commit_activity", "commit_activity", "users_per_day", "quiet_sessions",
    "event_type_activity", "sliding_window_activity", "jira_tickets",
    "jira_authors", "expanded_ticket_components", "normalized_threads",
    "obfuscated_users", "repeated_labels", "nations_per_region",
    "last_event_value", "last_props_array", "largest_doc_tokens",
    "aliases_company", "changelog_net_counts", "changelog_upsert_state",
    "event_json_props",
]

#: one operator per ``datapipe`` family: k-means (vector scoring inside an
#: iteration loop), MinHash near-duplicate candidates, PageRank and BPE
#: training.  ``ann_cosine_topk`` and ``hard_negative_mining`` are left out
#: because their Arrow fast path scores float32 embeddings with float32
#: norms and differs from the DuckDB oracle in the 6th decimal on some
#: seeds; ``ann_ivf_topk``, ``semantic_dedup`` and the rest of the curation
#: registry do not fit a run of about 40 s.
CURATION = [
    "kmeans_clusters", "near_dup_pairs", "copurchase_pagerank", "bpe_merges",
]

#: derived-state builds the curation operators share (``_shared:*``)
SHARED = ["loaded_tables", "near_dup_candidate_pairs", "copurchase_edges",
          "copurchase_deg", "bpe_model"]

WARM_TOL = 0.10  # stream warm-up ends once a batch is within 10% of the last


class Ctx:
    def __init__(self, spark, sf_dir, work, seed, seconds, trace, ops, timings):
        self.spark, self.sf_dir, self.work = spark, sf_dir, work
        self.seed, self.seconds = seed, seconds
        self.tracer = Tracer(trace)
        self.ops: Ops = ops
        self.timings = timings  # session.start_s / table_load_s, filled by run.py
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.details: dict = {}
        self.canary_start = None  # host-speed canary after set-up


def _reset_shared(spark) -> None:
    S.reset_derived_state()
    S.release_persist_slots()
    S.sweep_persistent_rdds(spark)


# --- closed-loop query workloads ---------------------------------------------

class QueryLoop:
    """One client issuing registry queries back to back.  A request is
    query function call + Catalyst plan + noop-sink execution."""

    def __init__(self, ctx: Ctx, names: list[str], reset_each_round: bool):
        self.ctx, self.names = ctx, names
        self.reset_each_round = reset_each_round
        self.qs = suite.queries()
        self.request_ids = itertools.count()

    def order(self) -> list[str]:
        """The run's seeded request order; every round uses the same one,
        so a query that pays a shared build pays it in every round."""
        names = list(self.names)
        random.Random(self.ctx.seed).shuffle(names)
        return names

    def _request(self, name: str) -> None:
        df = self.qs[name](self.ctx.spark, self.ctx.sf_dir)
        df.write.format("noop").mode("overwrite").save()

    def _traced_request(self, name: str, rid: int) -> dict:
        """Same request, with build / plan / exec timed separately and its
        Spark jobs tagged with a job group."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        group = f"bench-{rid}"
        spark.sparkContext.setJobGroup(group, name, False)
        out = {}
        try:
            with tr.span("request", rid) as req:
                with tr.span("build", rid) as b:
                    df = self.qs[name](spark, self.ctx.sf_dir)
                with tr.span("plan", rid) as p:
                    df._jdf.queryExecution().executedPlan()
                with tr.span("exec", rid) as e:
                    df.write.format("noop").mode("overwrite").save()
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        out.update(build_s=b.end - b.start, plan_s=p.end - p.start,
                   exec_s=e.end - e.start, wall_s=req.end - req.start)
        out.update(job_group_counters(spark, group))
        return out

    def round(self, traced: bool = False) -> dict:
        """Run every query once in this round's seeded order; returns
        per-request records and the round's wall time."""
        ctx = self.ctx
        if self.reset_each_round:
            _reset_shared(ctx.spark)
        shared0 = S.derived_build_seconds()
        recs = []
        t0 = time.time()
        for name in self.order():
            rid = next(self.request_ids)
            s = time.time()
            if traced:
                rec = ctx.ops.run(name, lambda: self._traced_request(name, rid))
            else:
                rec = ctx.ops.run(name, lambda: self._request(name))
            rec = dict(rec or {}, name=name, latency_s=time.time() - s)
            recs.append(rec)
        wall = time.time() - t0
        shared1 = S.derived_build_seconds()
        shared = {k: shared1.get(k, 0.0) - shared0.get(k, 0.0) for k in SHARED}
        return {"wall_s": wall, "requests": recs, "shared": shared}

    def gate_round(self) -> float:
        """Cold first round, which is also the warm-up: each query's result
        is collected and compared with its DuckDB twin.  Returns the
        Spark-side wall time only."""
        ctx = self.ctx
        if self.reset_each_round:
            _reset_shared(ctx.spark)
        results, spent = {}, 0.0
        for name in self.order():
            if name in results:
                continue
            s = time.time()
            pdf = ctx.ops.run(
                name, lambda: self.qs[name](ctx.spark, ctx.sf_dir).toPandas())
            spent += time.time() - s
            if pdf is not None:
                results[name] = pdf
        for name, why in oracle.compare(ctx.sf_dir, results).items():
            ctx.ops.fail(name, why)
        ctx.details["gate"] = sorted(results)
        return spent

    def measure(self, traced: bool) -> list[dict]:
        """The whole number of rounds that comes nearest to ``seconds``
        (at least one): another round starts only while less than half a
        round's time is left."""
        rounds, t0 = [], time.time()
        while not rounds or (
                time.time() - t0 + rounds[-1]["wall_s"] / 2 < self.ctx.seconds):
            rounds.append(self.round(traced))
        return rounds


def _e2e_from_rounds(ctx: Ctx, rounds: list[dict]) -> None:
    lat = [r["latency_s"] for rd in rounds for r in rd["requests"]]
    walls = [rd["wall_s"] for rd in rounds]
    busy = sum(lat)
    ctx.e2e.update(
        throughput_per_s=len(lat) / sum(walls),
        capacity_per_s=len(lat) / busy,
        latency_p50_s=pct(lat, 50),
        makespan_s=median(walls),
    )
    ctx.details["latency_samples"] = len(lat)
    ctx.details["latency_p90_s"] = pct(lat, 90)
    ctx.details["rounds"] = len(rounds)
    ctx.details["requests"] = [[(r["name"], round(r["latency_s"], 4))
                                for r in rd["requests"]] for rd in rounds]


def _layers_from_rounds(ctx: Ctx, rounds: list[dict], untraced: list[dict]) -> None:
    reqs = [r for rd in rounds for r in rd["requests"] if "build_s" in r]
    L = ctx.layer
    for k in ("build_s", "plan_s", "exec_s"):
        vals = [r[k] for r in reqs]
        L[f"queries.{k}_p50"] = pct(vals, 50)
        L[f"queries.{k}_round"] = median(
            [sum(r.get(k, 0.0) for r in rd["requests"]) for rd in rounds])
    for k in JOB_COUNTERS:
        L[f"queries.{k}"] = median(
            [sum(r.get(k, 0.0) for r in rd["requests"]) for rd in rounds])
    for k in SHARED:
        L[f"session.shared.{k}_s"] = median([rd["shared"][k] for rd in rounds])
    for q in CURATION:
        mine = [r for r in reqs if r["name"] == q]
        L[f"datapipe.{q}.wall_s"] = median([r["wall_s"] for r in mine])
        L[f"datapipe.{q}.build_s"] = median([r["build_s"] for r in mine])
    traced_wall = median([rd["wall_s"] for rd in rounds])
    plain_wall = median([rd["wall_s"] for rd in untraced])
    L["trace.overhead_s"] = traced_wall - plain_wall
    # per request: traced build + plan + exec against the untraced latency
    # of the same query in the untraced rounds
    plain = {}
    for rd in untraced:
        for r in rd["requests"]:
            plain.setdefault(r["name"], []).append(r["latency_s"])
    gaps = [abs(r["build_s"] + r["plan_s"] + r["exec_s"] - median(plain[r["name"]]))
            for r in reqs if r["name"] in plain]
    L["trace.request_gap_max_s"] = max(gaps) if gaps else 0.0


def _query_workload(ctx: Ctx, names: list[str], reset_each_round: bool) -> None:
    loop = QueryLoop(ctx, names, reset_each_round)
    ctx.timings["warmup_s"] = loop.gate_round()
    ctx.canary_start = S.run_canary(ctx.spark, reps=1)
    if not ctx.tracer.enabled:
        _e2e_from_rounds(ctx, loop.measure(traced=False))
        return
    # traced runs: the traced rounds, then one untraced round to compare
    # with; the untraced round runs warmer, so the overhead estimate errs
    # high
    traced = loop.measure(traced=True)
    _layers_from_rounds(ctx, traced, [loop.round()])


def community_sql(ctx: Ctx) -> None:
    _query_workload(ctx, COMMUNITY, reset_each_round=False)


def curation_batch(ctx: Ctx) -> None:
    _query_workload(ctx, CURATION, reset_each_round=True)


# --- open-loop streaming workload ------------------------------------------------

#: open-loop schedule: one file every STREAM_INTERVAL_S seconds, each
#: holding the commits created during the interval before it is due.  A
#: file costs the job about 2 s of micro-batches on 4 cores (its data batch
#: and the no-data batch the watermark move triggers), so the offered load
#: keeps the job a little under half busy.
STREAM_INTERVAL_S = 3.5
STREAM_COMMITS_PER_FILE = 1_000
STREAM_HISTORY_ROWS = 2_000
STREAM_START = "2024-03-01T00:00:00"
#: the history ends two days before the feed starts, so no commit (at most
#: six hours late) can land in a history window
STREAM_HISTORY_END = "2024-02-28T00:00:00"


def _drop(sched: datagen.CommitSchedule, i: int, stage: str, drop: str,
          prefix: str = "commits") -> str:
    """Write file ``i`` to a staging directory, then rename it into the
    drop directory so the file source never lists a partial file."""
    name = f"{prefix}-{i:06d}.parquet"
    tmp = os.path.join(stage, name)
    sched.make_file(i, tmp)
    os.rename(tmp, os.path.join(drop, name))
    return name


def _source_log(checkpoint: str) -> dict[str, int]:
    """File name → the file source's own log offset, from its metadata log
    (plain and compacted entries).  The source numbers only the batches
    that found new files, so this is not the query's batch id."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _end_log_offset(p: dict) -> int | None:
    """The file source's log offset a micro-batch read up to."""
    off = p["sources"][0].get("endOffset") if p.get("sources") else None
    if isinstance(off, str):
        off = json.loads(off)
    return off.get("logOffset") if isinstance(off, dict) else None


def _batch_files(checkpoint: str, progress: list[dict]) -> dict[str, int]:
    """File name → id of the micro-batch that read it: the first batch
    whose end offset reaches the file's source log offset."""
    firsts = {}
    for p in sorted(progress, key=lambda p: p["batchId"]):
        off = _end_log_offset(p)
        if off is not None and p.get("numInputRows", 0) > 0:
            firsts.setdefault(off, p["batchId"])
    return {name: firsts[off] for name, off in _source_log(checkpoint).items()
            if off in firsts}


def _progress_end(p: dict) -> float:
    """Wall-clock end of a micro-batch from its progress record."""
    import datetime as dt

    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000.0


class StreamRun:
    """One instance of ``run_commit_activity_job`` over fresh drop and
    checkpoint directories and a sink that starts as the seeded history."""

    def __init__(self, ctx: Ctx, history_rows: list[tuple]):
        base = os.path.join(ctx.work, "stream")
        self.drop, self.stage = f"{base}/drop", f"{base}/stage"
        self.sink, self.ckpt = f"{base}/sink", f"{base}/checkpoint"
        for d in (self.drop, self.stage):
            os.makedirs(d)
        datagen.write_history(os.path.join(self.sink, "part-0.parquet"),
                              history_rows)

    def start(self, spark):
        from lab_flink_repository_analytics_spark.streaming import jobs

        return jobs.run_commit_activity_job(spark, self.drop, self.sink, self.ckpt)


def _sink_rows(spark, path: str) -> dict[tuple, int]:
    """(componentName, windowStart µs) → linesChanged; a non-hour window or
    a duplicate key is returned as a sentinel row that matches nothing."""
    df = spark.read.parquet(path).selectExpr(
        "componentName", "unix_micros(windowStart) AS ws",
        "unix_micros(windowEnd) - unix_micros(windowStart) AS len",
        "linesChanged")
    out = {}
    for comp, ws, ln, lines in df.collect():
        if ln != datagen.HOUR_US or (comp, ws) in out:
            return {("<bad window or duplicate key>", ws): -1}
        out[(comp, ws)] = lines
    return out


def _history_keyed(rows) -> dict[tuple, int]:
    return {(c, int((s - datagen.EPOCH_DT).total_seconds() * 1_000_000)): v
            for s, _, c, v in rows}


def _wait_idle(q) -> None:
    """Return once no micro-batch has been running for 0.3 s (a no-data
    batch may follow the last data batch ``processAllAvailable`` waited
    for)."""
    quiet = 0
    while quiet < 3:
        time.sleep(0.1)
        quiet = 0 if q.status["isTriggerActive"] else quiet + 1


def _stream_warm_up(ctx: Ctx, run: StreamRun, q) -> datagen.CommitSchedule:
    """Feed the job one file at a time until two consecutive files take
    within WARM_TOL of each other, from the fourth file on (the first
    three are still on the JIT ramp: about 8, 2.3 and 2.0 s on 4 cores,
    against a plateau near 1.6 s), at most 6 files.  The warm-up's event
    clock runs before the history's, so its windows are new index rows."""
    sched = datagen.CommitSchedule(ctx.seed + 7919, "2022-06-01T00:00:00",
                                   STREAM_INTERVAL_S, STREAM_COMMITS_PER_FILE)
    took = []
    for i in range(6):
        _drop(sched, i, run.stage, run.drop, prefix="warm")
        s = time.time()
        q.processAllAvailable()
        took.append(time.time() - s)
        if i >= 3 and abs(took[-1] - took[-2]) <= WARM_TOL * took[-2]:
            break
    ctx.details["warm_files_s"] = took
    return sched


def commit_stream(ctx: Ctx) -> None:
    """Set-up starts the job over the seeded history and warms it up; the
    measured open loop then feeds the same running query."""
    spark, ops = ctx.spark, ctx.ops
    t0 = time.time()
    hist_rows = datagen.history_rows(ctx.seed, STREAM_HISTORY_ROWS, STREAM_HISTORY_END)
    run = StreamRun(ctx, hist_rows)
    upserts = _UpsertWrap() if ctx.tracer.enabled else None
    q = run.start(spark)
    try:
        warm = _stream_warm_up(ctx, run, q)
        _wait_idle(q)
        warm_last = q.lastProgress["batchId"]
        ctx.timings["warmup_s"] = time.time() - t0
        ctx.canary_start = S.run_canary(spark, reps=1)
        if upserts is not None:
            upserts.calls.clear()

        # -- measured open loop: file i is due at t_start + i * interval,
        # no matter how far the job has got
        sched = datagen.CommitSchedule(ctx.seed, STREAM_START, STREAM_INTERVAL_S,
                                       STREAM_COMMITS_PER_FILE)
        n_files = max(2, round(ctx.seconds / STREAM_INTERVAL_S))
        due, late = {}, []
        t_start = time.time() + 0.5
        for i in range(n_files):
            when = t_start + sched.due_offset(i)
            wait = when - time.time()
            if wait > 0:
                time.sleep(wait)
            late.append(max(0.0, time.time() - when))
            name = ops.run(f"file {i}", lambda: _drop(sched, i, run.stage, run.drop))
            if name is not None:
                due[name] = when
        q.processAllAvailable()
        progress = [json.loads(p.json) for p in q.recentProgress]
        progress = [p for p in progress if p["batchId"] > warm_last]
    finally:
        q.stop()
        if upserts is not None:
            upserts.restore()

    # -- per-file latency: due time (when its newest commit was created) →
    # end of the micro-batch whose upsert committed it
    batch_of = _batch_files(run.ckpt, progress)
    ends = {p["batchId"]: _progress_end(p) for p in progress}
    lat = []
    for name, when in due.items():
        b = batch_of.get(name)
        if b is None or b not in ends:
            ops.fail(name, "file never committed by a micro-batch")
            continue
        lat.append(ends[b] - when)
    data_batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    busy = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0
    last_end = max(ends.values(), default=t_start)
    ctx.e2e.update(
        throughput_per_s=sched.n_commits / (last_end - t_start + STREAM_INTERVAL_S),
        capacity_per_s=sched.n_commits / busy if busy else 0.0,
        latency_p50_s=pct(lat, 50),
        # first commit created → last commit in the index
        makespan_s=last_end - t_start + STREAM_INTERVAL_S,
    )
    ctx.details.update(latency_samples=len(lat), latency_p90_s=pct(lat, 90),
                       files=n_files,
                       commits=sched.n_commits, batches=len(progress),
                       data_batches=len(data_batches), busy_s=busy)

    # -- correctness, off the clock: the index must be the history with
    # every window the feed touched replaced by the generator's own sums
    got = _sink_rows(spark, run.sink)
    expected = _history_keyed(hist_rows)
    expected.update(warm.expected)
    expected.update(sched.expected)
    if got != expected:
        wrong = [k for k in set(got) | set(expected) if got.get(k) != expected.get(k)]
        ops.fail("commit_stream.sink", f"{len(wrong)} window rows differ, e.g. "
                 f"{sorted(wrong, key=repr)[:3]}")

    if ctx.tracer.enabled:
        _stream_layers(ctx, progress, data_batches, late, due, batch_of, upserts,
                       len(got))


def _stream_layers(ctx, progress, data_batches, late, due, batch_of, upserts,
                   index_rows) -> None:
    L, tr = ctx.layer, ctx.tracer
    dur = lambda p, k: p["durationMs"].get(k, 0) / 1000.0  # noqa: E731
    batch_s = [dur(p, "triggerExecution") for p in data_batches]
    L["streaming.batch_s_p50"] = pct(batch_s, 50)
    L["streaming.batch_s_p90"] = pct(batch_s, 90)
    L["streaming.add_batch_s"] = median([dur(p, "addBatch") for p in data_batches])
    L["streaming.plan_s"] = median([dur(p, "queryPlanning") for p in data_batches])
    L["streaming.offsets_s"] = median(
        [dur(p, "latestOffset") + dur(p, "getBatch") for p in data_batches])
    L["streaming.commit_s"] = median(
        [dur(p, "walCommit") + dur(p, "commitOffsets") for p in data_batches])
    L["streaming.rows_per_batch"] = median([p["numInputRows"] for p in data_batches])
    ops_state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    L["streaming.state_rows"] = max([s["numRowsTotal"] for s in ops_state], default=0)
    L["streaming.state_bytes"] = max([s["memoryUsedBytes"] for s in ops_state], default=0)
    # backlog: files due but not yet taken by a batch, at each batch start
    starts = sorted((_progress_end(p) - dur(p, "triggerExecution"), p["batchId"])
                    for p in progress)
    backlog = []
    for t, b in starts:
        backlog.append(sum(1 for n, w in due.items()
                           if w <= t and batch_of.get(n, 1 << 30) >= b))
    L["streaming.backlog_files_max"] = max(backlog, default=0)
    L["streaming.generator_late_s"] = max(late, default=0.0)
    # spans: batch ⊃ addBatch ⊃ upsert (upserts are matched to data-carrying
    # and no-data batches alike, in call order)
    calls = upserts.calls if upserts else []
    with_add = [p for p in progress if "addBatch" in p["durationMs"]]
    for p, call in zip(with_add, calls):
        end = _progress_end(p)
        b = tr.add("batch", end - dur(p, "triggerExecution"), end, request=p["batchId"])
        add_end = end - dur(p, "commitOffsets")
        a = tr.add("addBatch", add_end - dur(p, "addBatch"), add_end, b, p["batchId"])
        tr.add("upsert", call[0], call[1], a, p["batchId"])
    ups = [e - s for s, e in calls]
    L["io.sinks.upsert_s_p50"] = pct(ups, 50)
    L["io.sinks.upsert_s_p90"] = pct(ups, 90)
    L["io.sinks.index_rows"] = index_rows
    L["trace.overhead_s"] = upserts.overhead if upserts else 0.0
    adds = [dur(p, "addBatch") for p in with_add]
    L["trace.request_gap_max_s"] = max(
        [max(0.0, u - a) for u, a in zip(ups, adds)], default=0.0)


class _UpsertWrap:
    """Times every ``sinks.upsert_by_key`` call the streaming job makes
    (the job resolves the sink through the module at call time)."""

    def __init__(self):
        from lab_flink_repository_analytics_spark.io import sinks

        self.sinks, self.orig = sinks, sinks.upsert_by_key
        self.calls: list[tuple[float, float]] = []
        self.overhead = 0.0
        self.lock = threading.Lock()
        sinks.upsert_by_key = self

    def __call__(self, *a, **kw):
        s = time.time()
        try:
            return self.orig(*a, **kw)
        finally:
            e = time.time()
            with self.lock:
                self.calls.append((s, e))
            self.overhead += time.time() - e

    def restore(self) -> None:
        self.sinks.upsert_by_key = self.orig


WORKLOADS = {
    "community_sql": community_sql,
    "curation_batch": curation_batch,
    "commit_stream": commit_stream,
}
