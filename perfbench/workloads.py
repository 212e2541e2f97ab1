"""The benchmark's three workloads, driven through the public API.

Each workload builds its inputs from the seed, sets up (session, base
index, warm-up, oracle), measures for ``seconds`` and then checks its
answers or end state against the oracle outside the timed region.  It
fills ``ctx.e2e`` with the end-to-end metrics and, on a traced run,
``ctx.layer`` with the per-layer ones.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Optional

import pyarrow.parquet as pq

import check
import inputs
from observe import (
    JobStats,
    JobWatcher,
    Tracer,
    checkpoint_batch_files,
    dir_stats,
    guarded_method,
    median,
    percentile,
    progress_batches,
    timed_methods,
    trace_batches,
    trace_jobs,
    union_length,
)

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.plans.query import All

#: local[N] cores the benchmark runs at
CORES = 4
#: top-k of every query
K = 10
SEARCH_TURNS = 6_000
#: queries timed at most per run (the list wraps around beyond it)
SEARCH_QUERIES = 400
#: untimed queries before the clock starts: per-query latency falls by
#: about a third over the first ~50 queries of a session, see NOTES.md
SEARCH_WARM_QUERIES = 40
WATCH_TURNS = 6_000
WATCH_CATCHUP = 3_000
WATCH_ROWS_PER_FILE = 1_000
#: offered rate of the open-loop update generator (files/s); about half
#: the ingest capacity measured on the parent commit, see NOTES.md
WATCH_FILES_PER_S = 1.0
WATCH_WARM_FILES = 2
#: the reader starts its k-th query OFFSET + k * PERIOD seconds after the
#: clock starts (or at once, when the previous one ran late):
#: midway between file arrivals, in the same phase in every run
WATCH_READER_OFFSET_S = 0.5
WATCH_READER_PERIOD_S = 3.0
WATCH_READER_CLASSES = ("single_term", "multi_term_or", "boolean_and")
BULK_TURNS = 6_000
BULK_CATCHUP = 3_000
#: longest wait for the stream to drain after the last file is offered
DRAIN_TIMEOUT_S = 30.0
#: oracle answers fetched beyond k, so the tie group at the k-th score is
#: whole when answers after upserts are compared tie-aware
SLACK = 50


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    t_start: float
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    setup_end: float = 0.0
    watcher: Optional[JobWatcher] = None
    #: set-up phase -> seconds, for the run summary
    phases: dict = field(default_factory=dict)
    #: extra facts for the run summary
    notes: list = field(default_factory=list)
    _mark: float = 0.0

    def __post_init__(self) -> None:
        if self.tracer.enabled:
            self.watcher = JobWatcher(self.spark)

    def mark(self, phase: str) -> None:
        """Close the current set-up phase under ``phase``."""
        now = time.time()
        self.phases[phase] = now - (self._mark or self.t_start)
        self._mark = now

    def end_setup(self) -> None:
        self.mark("warm_up")
        self.setup_end = time.time()
        self.e2e["setup_s"] = self.setup_end - self.t_start

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def call(self, name: str, fn, result_attrs=None, **attrs):
        """``fn()`` with its wall time; on a traced run also under a span
        and a job group, returning its :class:`JobStats` (else None).
        ``result_attrs(out)`` adds attributes taken from the result to the
        span."""
        if not self.tracer.enabled:
            t = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t, None
        stats: list = []
        with self.tracer.span(name, self.tracer.new_op(), **attrs) as sp:
            t = time.perf_counter()
            with self.watcher.watch(stats):
                out = fn()
            wall = time.perf_counter() - t
            if result_attrs is not None:
                sp.attrs.update(result_attrs(out))
        trace_jobs(self.tracer, sp, stats[0])
        return out, wall, stats[0]


def _write(table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def _text_bytes(docs) -> int:
    return sum(len(d["content"].encode()) for d in docs)


def _build(ctx: Ctx, df, path: str):
    return LexicalIndex.build_transcripts(ctx.spark, df, path, num_segments=2, num_buckets=4)


BUILD_KEYS = ("driver_s", "spark_jobs", "spark_stages", "spark_tasks", "task_run_s",
              "shuffle_write_bytes", "spill_bytes")
UPSERT_KEYS = ("spark_jobs", "spark_tasks", "shuffle_write_bytes")
SORT = ("conv_id", "turn_idx")


def _setup_build(ctx: Ctx, src: str, path: str) -> LexicalIndex:
    """Cold build of a base index from a parquet directory, recorded as the
    ``operators.build`` layer on a traced run."""
    ix, wall, js = ctx.call("operators.build", lambda: _build(ctx, ctx.spark.read.parquet(src), path))
    if js is not None:
        ctx.layer["operators.build.build_s"] = wall
        _job_layer(ctx, "operators.build", [js], [wall], BUILD_KEYS)
    return ix


def _catchup_docs(ctx: Ctx, src: str):
    from frankensearch_spark.streaming.ingest import transcript_batch_to_docs

    up = transcript_batch_to_docs(ctx.spark.read.parquet(src)).persist()
    up.count()
    return up


def _job_layer(ctx: Ctx, prefix: str, stats: list[JobStats], walls: list[float], keys) -> None:
    """Per-call medians of the Spark job counters of one layer."""
    if not stats:
        return
    per = {
        "spark_jobs": [s.jobs for s in stats],
        "spark_stages": [s.stages for s in stats],
        "spark_tasks": [s.tasks for s in stats],
        "task_run_s": [s.task_run_s for s in stats],
        "shuffle_write_bytes": [s.shuffle_write_bytes for s in stats],
        "spill_bytes": [s.spill_bytes for s in stats],
        # an ungrouped job of a concurrent stream batch can outlast the call
        "driver_s": [w - union_length(s.intervals, *s.window) for s, w in zip(stats, walls)],
    }
    for k in keys:
        ctx.layer[f"{prefix}.{k}"] = median(per[k])


def _storage_layer(ctx: Ctx, path: str) -> dict:
    with ctx.tracer.span("sources.storage.dir_stats", ctx.tracer.new_op()):
        st = dir_stats(path)
    for k, v in st.items():
        ctx.layer[f"sources.storage.{k}"] = v
    return st


def _probe_end_state(ctx: Ctx, path: str, probes, oracle, state: inputs.IndexState) -> None:
    """Document counts and probe answers of a written index against the
    oracle over the expected document versions."""
    ix = LexicalIndex(ctx.spark, path)
    ctx.attempted += 2
    n_versions = len(state.live) + len(state.dead)
    if ix.engine.doc_count != n_versions:
        ctx.fail(f"indexed doc count {ix.engine.doc_count}, expected {n_versions}")
    live = ix.search(All(), limit=1, exact_count=True).total_count
    if live != len(state.live):
        ctx.fail(f"live doc count {live}, expected {len(state.live)}")
    for q in probes:
        ctx.attempted += 1
        got = check.engine_hits(ix.search(q.text, limit=K))
        bad = check.tie_aware_mismatch(got, check.expected_live(oracle, q.text, K + SLACK), K)
        if bad:
            ctx.fail(f"end state, {q.cls} {q.text!r}: {bad}")


def _tokenize_layer(ctx: Ctx, texts: list[str]) -> None:
    from frankensearch_spark.functions.analyze import tokenize_batch

    batch = (texts * (6_250 // len(texts) + 1))[:6_250]
    walls = []
    for _ in range(3):
        t = time.perf_counter()
        with ctx.tracer.span("functions.analyze.tokenize_batch", ctx.tracer.new_op()):
            tokenize_batch(batch)
        walls.append(time.perf_counter() - t)
    ctx.layer["functions.analyze.tokenize_rows_per_s"] = len(batch) / median(walls)


# ── search ──────────────────────────────────────────────────────────────────


def run_search(ctx: Ctx) -> None:
    """Read-only closed loop, one client, over a static base index."""
    inp = inputs.search_inputs(ctx.seed, SEARCH_TURNS, SEARCH_QUERIES, SEARCH_WARM_QUERIES)
    docs = inputs.table_docs(inp.base)
    src = _write(inp.base, os.path.join(ctx.work, "search_src", "part-0.parquet"))
    path = os.path.join(ctx.work, "search_ix")
    ctx.mark("inputs")
    with ThreadPoolExecutor(1) as pool:
        oracle_f = pool.submit(check.build_oracle, docs.values())
        ix = _setup_build(ctx, os.path.dirname(src), path)
        ctx.mark("base_index")
        # warm-up rounds of one query per class, none of them timed later
        for q in inp.warm:
            ix.search(q.text, limit=K, hydrate_fields=q.hydrate or None)
        oracle = oracle_f.result()
    engine = ix.engine
    ctx.end_setup()

    walls, runs = [], []
    i = 0
    n = len(inputs.QUERY_CLASSES)
    t_end = ctx.setup_end + ctx.seconds
    while time.time() < t_end or i < n:
        q = inp.queries[i % len(inp.queries)]
        i += 1
        engine.last_prune_metrics = None
        res, wall, js = ctx.call(
            "operators.search", lambda: ix.search(q.text, limit=K, hydrate_fields=q.hydrate or None),
            # the fuel charged and whether the pruned plan engaged
            result_attrs=lambda r: {
                "plans.fuel.units": r.fuel_units,
                "operators.pruned": engine.last_prune_metrics is not None,
            },
            cls=q.cls,
        )
        walls.append(wall)
        runs.append((q, res, wall, js, engine.last_prune_metrics is not None))
    # timings over complete rounds of one query per class only, so every
    # run weighs the classes and the scheduled cache hits alike
    whole = walls[:len(walls) // n * n]
    ctx.e2e["op_p50_s"] = median(whole)
    ctx.e2e["op_p75_s"] = percentile(whole, 75)
    # queries per second, median over the rounds
    ctx.e2e["items_per_busy_s"] = median(n / sum(whole[i:i + n]) for i in range(0, len(whole), n))
    st = dir_stats(path)
    ctx.e2e["index_bytes_per_text_byte"] = st["index_bytes"] / _text_bytes(docs.values())

    for q, res, _, _, _ in runs:
        ctx.attempted += 1
        bad = check.exact_mismatch(check.engine_hits(res), check.expected(oracle, q.text, K))
        if bad is None and q.hydrate:
            bad = check.hydration_mismatch(res, docs)
        if bad:
            ctx.fail(f"{q.cls} {q.text!r}: {bad}")

    if ctx.tracer.enabled:
        by_cls: dict[str, list[float]] = {}
        for q, _, wall, _, _ in runs:
            by_cls.setdefault(q.cls, []).append(wall)
        for cls in inputs.QUERY_CLASSES:
            ctx.layer[f"operators.search.search_s.{cls}"] = median(by_cls.get(cls, []))
        uncached = [(r, w, js, pr) for _, r, w, js, pr in runs if js.jobs > 0]
        ctx.layer["operators.search.cache_hit_frac"] = 1 - len(uncached) / len(runs)
        ctx.layer["plans.fuel.units"] = median(r.fuel_units for r, *_ in uncached if r.fuel_units)
        ctx.layer["operators.pruned.engaged_frac"] = (
            sum(pr for *_, pr in uncached) / len(uncached) if uncached else 0.0
        )
        _job_layer(
            ctx, "operators.search", [js for _, _, js, _ in uncached], [w for _, w, _, _ in uncached],
            ("spark_jobs", "spark_stages", "spark_tasks", "task_run_s", "driver_s"),
        )
        parse = []
        for q, *_ in runs:
            with ctx.tracer.span("plans.query.parse", ctx.tracer.new_op()):
                t = time.perf_counter()
                engine.parser.parse_lenient(q.text)
                parse.append(time.perf_counter() - t)
        ctx.layer["plans.query.parse_s"] = median(parse)
        ctx.layer["operators.search.open_s"] = ctx.call("operators.search.open", lambda: ix.engine)[1]
        _storage_layer(ctx, path)
        _tokenize_layer(ctx, [d["content"] for d in docs.values()])


# ── watch ───────────────────────────────────────────────────────────────────


def _committed(ckpt: str) -> int:
    try:
        return sum(1 for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit())
    except OSError:
        return 0


def run_watch(ctx: Ctx) -> None:
    """Open-loop file arrivals ingested by a continuous stream, beside a
    reader that reopens the index before every query, on a fixed schedule."""
    from frankensearch_spark.operators import microcommit
    from frankensearch_spark.operators.maintenance import IndexMaintenance
    from frankensearch_spark.sources.storage import IndexStorage
    from frankensearch_spark.streaming.ingest import stream_ingest

    n_timed = int(ctx.seconds * WATCH_FILES_PER_S)
    inp = inputs.watch_inputs(
        ctx.seed, WATCH_TURNS, WATCH_CATCHUP, WATCH_WARM_FILES + n_timed, WATCH_ROWS_PER_FILE,
        WATCH_WARM_FILES, 1_000, WATCH_READER_CLASSES,
    )
    base_src = _write(inp.base, os.path.join(ctx.work, "watch_base", "part-0.parquet"))
    up_src = _write(inp.catchup, os.path.join(ctx.work, "watch_up", "part-0.parquet"))
    stage = os.path.join(ctx.work, "watch_stage")
    watched = os.path.join(ctx.work, "watch_in")
    ckpt = os.path.join(ctx.work, "watch_ckpt")
    path = os.path.join(ctx.work, "watch_ix")
    for d in (stage, watched):
        os.makedirs(d)
    staged = [_write(t, os.path.join(stage, f"f{k:05d}.parquet")) for k, t in enumerate(inp.files)]
    ctx.mark("inputs")

    def offer(k: int) -> float:
        os.replace(staged[k], os.path.join(watched, os.path.basename(staged[k])))
        return time.time()

    # seals and driver commits run inside the stream's micro-batches, on a
    # thread the benchmark does not own: time them at the method
    engine_calls = timed_methods(
        ctx.tracer.enabled, IndexMaintenance, "seal", "upsert_arrow_small"
    )
    # Engine open lists the manifest, then scans it; a seal that swaps the
    # manifest directory in between (old -> .prev, new -> table, rm .prev)
    # makes the scan fail with FileNotFoundException, a known engine defect
    # (NOTES.md, Findings; pinned by test_pins.py).  The reader holds this
    # lock while it reopens and opens, and every swap waits for it; its
    # searches run beside the stream's commits and swaps.
    swap_lock = threading.Lock()
    swap_guard = guarded_method(IndexStorage, "_swap_into_place", swap_lock)
    with engine_calls as calls, swap_guard as swap_waits, ThreadPoolExecutor(1) as pool:
        oracle_f = pool.submit(check.build_oracle, inp.final.versions())
        ix = _setup_build(ctx, os.path.dirname(base_src), path)
        up = _catchup_docs(ctx, os.path.dirname(up_src))
        # the r6 single-commit shape: one distributed catch-up upsert
        _, wall, js = ctx.call("operators.maintenance.upsert", lambda: ix.upsert(up, sort_cols=SORT))
        up.unpersist()
        if js is not None:
            ctx.layer["operators.maintenance.upsert_s"] = wall
            _job_layer(ctx, "operators.maintenance", [js], [wall], UPSERT_KEYS)
        ctx.mark("base_index")
        stream = (
            ctx.spark.readStream.schema(inputs.SPARK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(watched)
        )
        query = stream_ingest(LexicalIndex(ctx.spark, path), stream, ckpt, trigger_available_now=False)
        run_id = str(query.runId)
        try:
            for k in range(inp.warm_files):
                offer(k)
                _wait(lambda: _committed(ckpt) > k, DRAIN_TIMEOUT_S, query)
            reader = LexicalIndex(ctx.spark, path)
            for cls in WATCH_READER_CLASSES:
                q = next(q for q in inp.reader_queries if q.cls == cls)
                with swap_lock:
                    reader.reopen().engine
                reader.search(q.text, limit=K + 1)
            oracle = oracle_f.result()
            commits0, fallbacks0 = microcommit.driver_commits, microcommit.driver_fallbacks
            ctx.end_setup()

            t0 = ctx.setup_end
            due = [t0 + j / WATCH_FILES_PER_S for j in range(n_timed)]
            late, backlog = [], []
            stop = threading.Event()
            reads: list[tuple] = []
            read_errors: list[Exception] = []

            def read_once(q):
                with swap_lock:
                    reader.reopen()
                    _, open_s, _ = ctx.call("operators.search.open", lambda: reader.engine)
                res, _, js = ctx.call("operators.search", lambda: reader.search(q.text, limit=K))
                return open_s, js, res

            def read_loop() -> None:
                i = 0
                while not stop.wait(max(0.0, t0 + WATCH_READER_OFFSET_S + i * WATCH_READER_PERIOD_S - time.time())):
                    q = inp.reader_queries[i % len(inp.reader_queries)]
                    i += 1
                    t = time.perf_counter()
                    try:
                        out = read_once(q)
                        reads.append((time.perf_counter() - t, *out))
                    except Exception as e:  # counted as failed after the clock stops
                        read_errors.append(e)

            rt = threading.Thread(target=read_loop, daemon=True)
            rt.start()
            try:
                for j in range(n_timed):
                    wait = due[j] - time.time()
                    if wait > 0:
                        time.sleep(wait)
                    late.append(offer(inp.warm_files + j) - due[j])
                    backlog.append((inp.warm_files + j + 1) - _committed(ckpt))
                _wait(lambda: _committed(ckpt) >= len(inp.files), DRAIN_TIMEOUT_S, query)
            finally:
                stop.set()
                rt.join(60)
            if rt.is_alive():
                raise RuntimeError("the reader thread did not stop")
            t_done = time.time()
        finally:
            query.stop()
        # read after stop: the progress event of the last batch is posted
        # after its commit-log entry, which the drain wait watches
        progress = list(query.recentProgress)

    # ── results (outside the timed region) ──
    batch_of = checkpoint_batch_files(ckpt)
    batches = {b["batch_id"]: b for b in progress_batches(progress)}
    lags, timed = [], []
    for j in range(n_timed):
        b = batches.get(batch_of.get(os.path.basename(staged[inp.warm_files + j])))
        if b is None:
            ctx.fail(f"file {j} has no committed micro-batch in the progress log")
            continue
        lags.append(b["end"] - due[j])
        timed.append(b)
    ctx.attempted += n_timed
    ctx.e2e["op_p50_s"] = median(lags)
    ctx.e2e["op_p75_s"] = percentile(lags, 75)
    ctx.e2e["items_per_busy_s"] = median(WATCH_ROWS_PER_FILE / (b["end"] - b["start"]) for b in timed)
    st = dir_stats(path)
    ctx.e2e["index_bytes_per_text_byte"] = st["index_bytes"] / _text_bytes(inp.final.live.values())
    # every reader query is an operation, and every one that raised failed
    ctx.attempted += len(reads) + len(read_errors)
    for e in read_errors:
        ctx.fail(f"reader query raised {e!r}"[:300])
    _probe_end_state(ctx, path, inp.probes, oracle, inp.final)

    if ctx.tracer.enabled:
        trace_batches(ctx.tracer, timed, {
            "operators.maintenance.seal": calls["seal"],
            "operators.microcommit.upsert_arrow_small": calls["upsert_arrow_small"],
        })
        ctx.layer["watch.query_p50_s"] = median(r[0] for r in reads)
        ctx.layer["operators.search.open_s"] = median(r[1] for r in reads)
        _job_layer(
            ctx, "operators.search", [r[2] for r in reads if r[2].jobs],
            [r[0] for r in reads if r[2].jobs], ("driver_s",),
        )
        # seals timed at the method: a seal costs ~10 ms here, below the
        # batch-to-batch noise of addBatch, so a difference of batch times
        # cannot show it
        seals = [(s, e) for s, e in calls["seal"]
                 if any(b["start"] <= s and e <= b["end"] for b in timed)]
        sealing = [b for b in timed if any(b["start"] <= s and e <= b["end"] for s, e in seals)]
        plain = [b for b in timed if b not in sealing]
        add = lambda bs: median(b["phases"].get("addBatch", 0.0) for b in bs)  # noqa: E731
        ctx.layer["operators.microcommit.commit_s"] = add(plain)
        ctx.layer["operators.maintenance.seal_s"] = median(e - s for s, e in seals)
        dc = microcommit.driver_commits - commits0
        df = microcommit.driver_fallbacks - fallbacks0
        ctx.layer["operators.microcommit.engaged_frac"] = dc / (dc + df) if dc + df else 0.0
        ctx.layer["streaming.ingest.trigger_s"] = median(b["end"] - b["start"] for b in timed)
        ctx.layer["streaming.ingest.add_batch_s"] = add(timed)
        ctx.layer["streaming.ingest.overhead_s"] = median(
            (b["end"] - b["start"]) - b["phases"].get("addBatch", 0.0) for b in timed
        )
        stream_jobs = ctx.watcher.stream_jobs(run_id, t0, t_done)
        ctx.layer["streaming.ingest.spark_jobs_per_batch"] = len(stream_jobs) / max(1, len(timed))
        ctx.layer["streaming.ingest.backlog_files_max"] = max(backlog, default=0)
        ctx.layer["streaming.ingest.generator_late_s"] = max(late, default=0.0)
        ctx.layer["streaming.ingest.swap_wait_s"] = sum(w for s, w in swap_waits if t0 <= s <= t_done)
        _storage_layer(ctx, path)
        _tokenize_layer(ctx, inp.files[0]["text"].to_pylist())


def _wait(cond, timeout: float, query) -> None:
    deadline = time.time() + timeout
    while not cond():
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError("stream did not drain in time")
        time.sleep(0.02)


# ── bulk_load ───────────────────────────────────────────────────────────────


def run_bulk_load(ctx: Ctx) -> None:
    """Closed loop of cold builds, each followed by one catch-up upsert."""
    inp = inputs.bulk_inputs(ctx.seed, BULK_TURNS, BULK_CATCHUP)
    base_src = _write(inp.base, os.path.join(ctx.work, "bulk_base", "part-0.parquet"))
    up_src = _write(inp.catchup, os.path.join(ctx.work, "bulk_up", "part-0.parquet"))
    base_df = ctx.spark.read.parquet(os.path.dirname(base_src))
    up = _catchup_docs(ctx, os.path.dirname(up_src))
    ctx.mark("inputs")
    with ThreadPoolExecutor(1) as pool:
        oracle_f = pool.submit(check.build_oracle, inp.final.versions())
        warm = os.path.join(ctx.work, "bulk_warm")
        _build(ctx, base_df, warm).upsert(up, sort_cols=SORT)
        ctx.mark("base_index")
        oracle = oracle_f.result()
    shutil.rmtree(warm)
    ctx.end_setup()

    iters = []
    path = None
    t_end = ctx.setup_end + ctx.seconds
    while not iters or time.time() < t_end:
        if path is not None:
            shutil.rmtree(path)
        path = os.path.join(ctx.work, f"bulk_ix{len(iters)}")
        _, b, bjs = ctx.call("operators.build", lambda: _build(ctx, base_df, path))
        _, u, ujs = ctx.call(
            "operators.maintenance.upsert",
            lambda: LexicalIndex(ctx.spark, path).upsert(up, sort_cols=SORT),
        )
        iters.append((b, u, bjs, ujs))
    loads = [b + u for b, u, _, _ in iters]
    ctx.attempted += len(iters)
    ctx.e2e["op_p50_s"] = median(loads)
    ctx.e2e["op_p75_s"] = percentile(loads, 75)
    rows = BULK_TURNS + BULK_CATCHUP
    ctx.e2e["items_per_busy_s"] = median(rows / w for w in loads)
    st = dir_stats(path)
    ctx.e2e["index_bytes_per_text_byte"] = st["index_bytes"] / _text_bytes(inp.final.live.values())
    _probe_end_state(ctx, path, inp.probes, oracle, inp.final)

    if ctx.tracer.enabled:
        ctx.layer["operators.build.build_s"] = median(b for b, *_ in iters)
        _job_layer(ctx, "operators.build", [it[2] for it in iters], [it[0] for it in iters], BUILD_KEYS)
        ctx.layer["operators.maintenance.upsert_s"] = median(u for _, u, *_ in iters)
        _job_layer(
            ctx, "operators.maintenance", [it[3] for it in iters], [it[1] for it in iters], UPSERT_KEYS
        )
        _storage_layer(ctx, path)
        _tokenize_layer(ctx, inp.base["text"].to_pylist())


WORKLOADS = {"search": run_search, "watch": run_watch, "bulk_load": run_bulk_load}
