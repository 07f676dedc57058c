"""The two workloads.  Each is a closed loop with one client (this
process), drives the engine only through its public functions, and runs
the same flow (``run``):

    warm-up: both phases on scratch state  -> seeding the state
    -> timed ingest phase                  -> timed read phase
    -> correctness gate

Inputs (``inputs``) are synthesized before this process starts; a workload
only names its cache entries (``log()``, ``reads()``) and loads them
(``load()``).

The ingest phase writes a table; the read phase then reads the resulting
LWW state by key and by LSN range while every ingest layer is idle.

- ``backfill``: a few large epochs of Debezium frames replayed into an
  empty table laid out for serving (decode, validation and the one-shuffle
  MERGE dominate the ingest; bucket probe, bloom/stats pruning and
  per-query job overhead dominate the reads);
- ``stream_tail``: ``start_cdc_stream`` drains small batches into a
  seeded sink with lineage, mart and rolling maintenance (fixed per-epoch
  work and copy-on-write of touched buckets dominate).

``setup_s`` is what the program does before the timed phases: the session,
the warm-up and the seeding.  Work per run is fixed by (seed, --seconds):
each input size is the run length times a nominal rate measured on a
4-core host, so one seed always replays the same inputs and a faster
engine simply finishes sooner.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import common
import gate
import inputs

N_BUCKETS = 16
WARM_EVENTS = 2_000
WARM_BATCHES = 1
WARM_QUERIES = 2  # one lookup, one range read

# nominal rates (4-core host) that turn --seconds into input sizes
BACKFILL_EVENTS_PER_S = 6_000
BACKFILL_EPOCHS = 2
BACKFILL_EVOLVE_FRAC = 0.5  # epoch 1 pre-evolution, epoch 2 evolved; equal in size
SERVE_FILES_PER_BUCKET = 4
SERVE_READS_PER_S = 1.2  # backfill's read phase, on the serving layout
STREAM_STATE_EVENTS = 16_000
STREAM_BATCH_EVENTS = 6_000
STREAM_BATCHES_PER_S = 0.2
STREAM_MAINTENANCE_EVERY = 2  # every 2nd trigger compacts one rolling bucket group
STREAM_READS = len(inputs.READ_PATTERN)  # stream_tail's read phase: one pattern

WARM = inputs.warm(WARM_EVENTS, WARM_BATCHES)
WARM_READS = inputs.read_mix(WARM, inputs.FIXTURE_SEED, WARM_QUERIES)


@dataclass
class Pass:
    """One measured pass: per-operation latencies and the work done."""

    ops: list[float] = field(default_factory=list)
    kinds: list[str] = field(default_factory=list)
    work: int = 0
    elapsed: float = 0.0
    attempted: int = 0
    failed: int = 0
    state_rows: int | None = None
    checks: dict = field(default_factory=dict)  # gate comparisons, each {"ok": ...}

    @property
    def rate(self) -> float:
        return self.work / self.elapsed if self.elapsed > 0 else 0.0

    def of(self, kind: str) -> list[float]:
        return [t for t, k in zip(self.ops, self.kinds) if k == kind]


@dataclass
class Result:
    ingest: Pass
    reads: Pass
    session_s: float
    warm_s: float
    seed_s: float
    rss_mb: float
    warm: list[Pass] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    traced: list[Pass] = field(default_factory=list)

    @property
    def setup_s(self) -> float:
        return self.session_s + self.warm_s + self.seed_s

    @property
    def passes(self) -> list[Pass]:
        return [self.ingest, self.reads, *self.warm, *self.traced]


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: int
    trace: bool
    session_s: float


def _fail(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc()


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _n_reads(per_s: float, seconds: int) -> int:
    pattern = len(inputs.READ_PATTERN)
    return max(1, round(per_s * seconds / pattern)) * pattern  # whole patterns


def _count_state(p: Pass, table) -> None:
    """The consumer's ``read_state`` count that closes an ingest phase."""
    from ton_etl_spark.cdc.apply import read_state

    p.attempted += 1
    try:
        p.state_rows = read_state(table).count()
    except Exception:
        _fail("read_state count")
        p.failed += 1


# ------------------------------------------------------------------------ reads
def _query(table, q: dict):
    from ton_etl_spark.cdc.apply import read_state

    if q["kind"] == "range":
        return read_state(table, lsn_range=(q["lo"], q["hi"]))
    return read_state(table, where_in={"doc_id": [q["key"]]})


def serve(table, meta: dict, rec=None) -> tuple[Pass, dict]:
    """Send the read mix of ``meta`` one query after another; every answer
    is checked against its oracle rows.  With a span recorder (traced
    pass), also count Spark jobs and scanned files per read, outside the
    pass time."""
    jobs = rec.jobs if rec else None
    p = Pass()
    answers = []
    probes = {"jobs": [], "files_frac": []}
    n_files = len(table.current().files)
    probe_s = 0.0
    t_start = time.perf_counter()
    for q in meta["queries"]:
        p.attempted += 1
        j0 = jobs.mark() if jobs else None
        t0 = time.perf_counter()
        try:
            with rec.span("read", kind=q["kind"]) if rec else contextlib.nullcontext():
                df = _query(table, q)
                rows = df.collect()
        except Exception:
            _fail(f"read {q}")
            p.failed += 1
            continue
        t1 = time.perf_counter()
        p.ops.append(t1 - t0)
        p.kinds.append("range" if q["kind"] == "range" else "lookup")
        answers.append((q, rows))
        if jobs:
            probes["jobs"].append(jobs.since(j0)[0])
            probes["files_frac"].append(len(df.inputFiles()) / max(1, n_files))
            probe_s += time.perf_counter() - t1
    p.elapsed = time.perf_counter() - t_start - probe_s
    p.work = len(answers)
    p.failed += sum(not gate.check_answer([r.asDict() for r in rows], q, meta["rows"]) for q, rows in answers)
    return p, probes


# ------------------------------------------------------------------ replays
def _replay(spark, table, root: str, frame_dirs: list[str]) -> Pass:
    """``parse_cdc_envelope`` -> ``apply_cdc_batch`` for each batch of
    Kafka-shaped frames, then the consumer's ``read_state`` count."""
    from ton_etl_spark.cdc import apply as cdc_apply
    from ton_etl_spark.cdc import envelope

    p = Pass()
    t_start = time.perf_counter()
    for k, d in enumerate(frame_dirs):
        p.attempted += 1
        t0 = time.perf_counter()
        try:
            frames = spark.read.schema(envelope.KAFKA_FRAME_SCHEMA).parquet(os.path.join(root, d))
            st = cdc_apply.apply_cdc_batch(table, envelope.parse_cdc_envelope(frames), epoch=k)
            if not st.get("applied", True):
                raise RuntimeError(f"epoch {k} was not applied")
        except Exception:
            _fail(f"epoch {k}")
            p.failed += 1
            continue
        p.ops.append(time.perf_counter() - t0)
        p.kinds.append("epoch")
    _count_state(p, table)
    p.elapsed = time.perf_counter() - t_start
    return p


def _rows_per_key(spark, root: str, dirs: list[str]) -> float:
    """Hot-key fan-in of the merge: delivered events per distinct key,
    averaged over the delivery batches."""
    per_batch = [inputs.events(spark, root, [d]) for d in dirs]
    return sum(
        e.count() / max(1, e.select("doc_id").distinct().count()) for e in per_batch
    ) / max(1, len(per_batch))


class Backfill:
    """Kafka-shaped Debezium frames -> ``parse_cdc_envelope`` ->
    ``apply_cdc_batch``, a few large epochs into an empty table laid out
    for serving (several files per bucket, ``doc_id`` blooms, LSN
    stats/sort); its read phase is the serving workload."""

    name = "backfill"

    def table(self, spark, path: str, live_rows: int):
        from ton_etl_spark.cdc.apply import make_sequences_table

        return make_sequences_table(
            spark, path, n_buckets=N_BUCKETS,
            target_file_rows=max(1, live_rows // (N_BUCKETS * SERVE_FILES_PER_BUCKET)),
            bloom_cols=["doc_id"],
        )

    def warm_up(self, ctx: Ctx, root: str, meta: dict, tag: str = "warm") -> list[Pass]:
        scratch = self.table(ctx.spark, os.path.join(ctx.work, tag), meta["live"])
        warm = _replay(ctx.spark, scratch, root, meta["frames"])
        reads, _ = serve(scratch, meta)
        return [warm, reads]

    def log(self, variant: int, seconds: int) -> inputs.Entry:
        return inputs.backfill(variant, BACKFILL_EVENTS_PER_S * seconds, BACKFILL_EPOCHS,
                               BACKFILL_EVOLVE_FRAC)

    def reads(self, seed: int, seconds: int) -> inputs.Entry:
        return inputs.read_mix(self.log(seed % inputs.VARIANTS, seconds), seed,
                               _n_reads(SERVE_READS_PER_S, seconds))

    def load(self, ctx: Ctx) -> None:
        self.root, self.meta = inputs.with_reads(
            self.log(ctx.seed % inputs.VARIANTS, ctx.seconds), self.reads(ctx.seed, ctx.seconds)
        )

    def seed(self, ctx: Ctx, tag: str):
        return self.table(ctx.spark, os.path.join(ctx.work, tag), self.meta["live"])

    def ingest(self, ctx: Ctx, table) -> tuple[Pass, object]:
        p = _replay(ctx.spark, table, self.root, self.meta["frames"])
        p.work = self.meta["delivered"]
        return p, table

    def check(self, ctx: Ctx, table) -> dict:
        return {"state": gate.check_state(table, inputs.events(ctx.spark, self.root, self.meta["events"]))}

    def trace_layers(self, ctx: Ctx, rec, table, res: Result) -> dict:
        from ton_etl_spark.cdc import envelope
        from ton_etl_spark.functions.tokens import with_token_validation

        spark, root, meta = ctx.spark, self.root, self.meta
        L = {"lake.merge.rows_per_key": _rows_per_key(spark, root, meta["events"])}
        # isolation no-op sinks: the decode and the validation alone, each
        # minus the bare scan of its input
        frames = spark.read.schema(envelope.KAFKA_FRAME_SCHEMA).parquet(
            *[os.path.join(root, d) for d in meta["frames"]]
        )
        decoded = envelope.parse_cdc_envelope(frames)
        L["cdc.envelope.decode_s"] = max(0.0, _noop(decoded) - _noop(frames))
        L["cdc.envelope.rows_dropped"] = frames.count() - decoded.count()
        ev = inputs.events(spark, root, meta["events"])
        validated = with_token_validation(ev)
        L["functions.tokens.validate_s"] = max(0.0, _noop(validated) - _noop(ev))
        L["functions.tokens.rows_repaired"] = ev.count() - validated.count()
        # shares of the untraced epochs' time (each isolated layer runs over
        # every epoch's input at once)
        epochs_s = sum(res.ingest.ops) or 1.0
        L["cdc.envelope.decode_share"] = L["cdc.envelope.decode_s"] / epochs_s
        L["functions.tokens.validate_share"] = L["functions.tokens.validate_s"] / epochs_s
        baseline, single = self._local1_baseline(ctx, res.ingest)
        L.update(baseline)
        res.traced.append(single)
        return L

    def _local1_baseline(self, ctx: Ctx, untraced: Pass) -> tuple[dict, Pass]:
        """The replay's first epoch on a single core (``local[1]``) in a
        fresh, warmed-up session, as a single-threaded baseline against the
        untraced first epoch on all cores.  Information only."""
        common.stop_spark(ctx.spark)
        ctx.spark, _ = common.start_spark(ctx.work, cores=1)
        self.warm_up(ctx, *inputs.with_reads(WARM, WARM_READS), tag="local1-warm")
        table = self.seed(ctx, "local1")
        p = _replay(ctx.spark, table, self.root, self.meta["frames"][:1])
        ev = inputs.events(ctx.spark, self.root, self.meta["events"][:1])
        p.work = ev.count()
        p.checks["state"] = gate.check_state(table, ev)
        one = p.work / p.ops[0] if p.ops else 0.0
        many = p.work / untraced.ops[0] if untraced.ops else 0.0
        return {
            "baseline.local1_events_per_s": one,
            "baseline.localN_events_per_s": many,
            "baseline.speedup": many / one if one else 0.0,
        }, p


# ------------------------------------------------------------------ stream_tail
class StreamTail:
    """``start_cdc_stream`` (the CLI ``stream`` path) with lineage, mart and
    rolling maintenance drains a backlog of small single-file batches into
    a sink seeded with a large state."""

    name = "stream_tail"

    def seed(self, ctx: Ctx, tag: str, with_state: bool = True) -> str:
        """The sink seeded with the pre-existing state (one LWW merge of the
        state log) and its mart brought in sync, so the stream's first
        trigger already takes the incremental mart refresh path."""
        from ton_etl_spark.cdc import apply as cdc_apply
        from ton_etl_spark.lake import incremental
        from ton_etl_spark.lake import merge as lake_merge

        spark, base = ctx.spark, os.path.join(ctx.work, tag)
        table = cdc_apply.make_sequences_table(spark, os.path.join(base, "table"), n_buckets=N_BUCKETS)
        if with_state:
            lake_merge.merge_lww(table, spark.read.parquet(self.state_dir), commit_key="seed=0")
        mart = incremental.make_agg_mart(spark, os.path.join(base, "mart"), group_cols=["source"])
        incremental.rebuild_agg_mart(mart, table)
        return tag

    def _drain(self, ctx: Ctx, tag: str, root: str, batch_dirs: list[str], retain_lsn: int,
               every: int = STREAM_MAINTENANCE_EVERY) -> tuple[Pass, object]:
        """availableNow drains the backlog, then the consumer's read_state
        count.  Keeps the per-trigger progress in ``self.progress``."""
        from ton_etl_spark.cdc.stream import start_cdc_stream
        from ton_etl_spark.lake.table import LakeTable

        base = os.path.join(ctx.work, tag)
        # delivery dirs are <log>/phase=P/__seq=K; the stream globs the whole log
        parent = os.path.dirname(os.path.dirname(os.path.join(root, batch_dirs[0])))
        p = Pass()
        t0 = time.perf_counter()
        q = start_cdc_stream(
            ctx.spark,
            log_glob=os.path.join(parent, "phase=*", "__seq=*"),
            table_root=os.path.join(base, "table"),
            checkpoint_dir=os.path.join(base, "checkpoint"),
            lineage_root=os.path.join(base, "lineage"),
            n_buckets=N_BUCKETS,
            max_files_per_trigger=1,
            maintenance_every=every,
            maintenance_groups=4,
            tombstone_retain_lsn=retain_lsn,
            mart_root=os.path.join(base, "mart"),
        )
        try:
            q.awaitTermination()
        except Exception:
            _fail("stream")
            p.failed += 1
        self.progress = [pr for pr in (q.recentProgress or []) if pr["numInputRows"] > 0]
        p.attempted = len(batch_dirs)
        p.failed += max(0, len(batch_dirs) - len(self.progress))
        sink = LakeTable.load(ctx.spark, os.path.join(base, "table"))
        _count_state(p, sink)
        p.elapsed = time.perf_counter() - t0
        p.ops = [pr["durationMs"]["triggerExecution"] / 1000.0 for pr in self.progress]
        p.kinds = ["trigger"] * len(p.ops)
        return p, sink

    def warm_up(self, ctx: Ctx, root: str, meta: dict) -> list[Pass]:
        # the warm batch through a scratch stream into an empty sink with a
        # synced mart (apply, mart refresh and a maintenance rewrite in one
        # trigger), then one read of each kind
        self.seed(ctx, "warm", with_state=False)
        warm, scratch = self._drain(ctx, "warm", root, meta["events"], retain_lsn=WARM_EVENTS, every=1)
        reads, _ = serve(scratch, meta)
        return [warm, reads]

    state = inputs.stream_state(STREAM_STATE_EVENTS)

    def log(self, variant: int, seconds: int) -> inputs.Entry:
        n_batches = max(2, round(STREAM_BATCHES_PER_S * seconds))
        return inputs.stream_backlog(variant, self.state, STREAM_STATE_EVENTS,
                                     n_batches * STREAM_BATCH_EVENTS, n_batches)

    def reads(self, seed: int, seconds: int) -> inputs.Entry:
        return inputs.read_mix(self.log(seed % inputs.VARIANTS, seconds), seed, STREAM_READS)

    def load(self, ctx: Ctx) -> None:
        st_root, st_meta = self.state.load()
        self.state_dir = os.path.join(st_root, st_meta["state"])
        self.root, self.meta = inputs.with_reads(
            self.log(ctx.seed % inputs.VARIANTS, ctx.seconds), self.reads(ctx.seed, ctx.seconds)
        )
        self.n_events = len(self.meta["backlog"]) * STREAM_BATCH_EVENTS

    def ingest(self, ctx: Ctx, tag: str) -> tuple[Pass, object]:
        # GC horizon: tombstones older than the whole backlog's LSN span, i.e.
        # only seeded-state tombstones, which no backlog event can outrank
        p, sink = self._drain(ctx, tag, self.root, self.meta["backlog"], retain_lsn=self.n_events)
        p.work = self.meta["delivered"]
        return p, sink

    def check(self, ctx: Ctx, sink) -> dict:
        from ton_etl_spark.lake.table import LakeTable

        spark = ctx.spark
        mart = LakeTable.load(spark, os.path.join(os.path.dirname(sink.root), "mart"))
        ev = spark.read.parquet(self.state_dir).unionByName(
            inputs.events(spark, self.root, self.meta["backlog"]), allowMissingColumns=True
        )
        return {"state": gate.check_state(sink, ev), "mart": gate.check_mart(mart, sink, ["source"])}

    def trace_layers(self, ctx: Ctx, rec, sink, res: Result) -> dict:
        progress = self.progress
        trig = [pr["durationMs"]["triggerExecution"] / 1000.0 for pr in progress]
        add = [pr["durationMs"].get("addBatch", 0) / 1000.0 for pr in progress]
        return {
            "lake.merge.rows_per_key": _rows_per_key(ctx.spark, self.root, self.meta["backlog"]),
            "cdc.stream.trigger_s": common.median(trig),
            "cdc.stream.add_batch_s": common.median(add),
            "cdc.stream.overhead_s": common.median([t - a for t, a in zip(trig, add)]),
            # changelog rows each mart refresh folded in, counted after the run
            "lake.incremental.change_rows": sum(
                sink.changes(s["attrs"]["from"], s["attrs"]["to"]).count()
                for s in rec.named("lake.incremental.refresh")
                if s["attrs"].get("applied") and "from" in s["attrs"]
            ),
        }


# ---------------------------------------------------------------------- the flow
def run(ctx: Ctx, wl) -> Result:
    # warm-up: both phases on scratch state over a small seed-independent
    # log, so class loading and the JIT's first compilations of every path
    # happen before anything is timed
    wl.load(ctx)
    t0 = time.perf_counter()
    warm = wl.warm_up(ctx, *inputs.with_reads(WARM, WARM_READS))
    warm_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    target = wl.seed(ctx, "main")
    seed_s = time.perf_counter() - t0

    ingest, table = wl.ingest(ctx, target)
    reads, _ = serve(table, wl.meta)
    rss = common.peak_rss_mb(ctx.spark)
    ingest.checks.update(wl.check(ctx, table))

    res = Result(ingest, reads, ctx.session_s, warm_s, seed_s, rss, warm=warm)
    if ctx.trace:
        _traced(ctx, wl, res)
    return res


def _traced(ctx: Ctx, wl, res: Result) -> None:
    """Repeat both timed phases on fresh state with the span recorder
    installed, then add the workload's own layer measurements."""
    from spans import Recorder

    target = wl.seed(ctx, "traced")
    rec = Recorder(common.JobCounter(ctx.spark))
    rec.install()
    try:
        traced, table = wl.ingest(ctx, target)
        traced_reads, probes = serve(table, wl.meta, rec=rec)
    finally:
        rec.uninstall()
    traced.checks.update(wl.check(ctx, table))
    res.traced = [traced, traced_reads]
    L = _span_layers(rec, traced.ops, table.root, traced.work)
    L.update(_read_layers(rec, probes, len(traced_reads.ops)))
    L.update(_overhead(res, traced, traced_reads, rec))
    rec.write(os.path.join(common.TRACE_ROOT, f"{wl.name}-s{ctx.seed}.jsonl"))
    L.update(wl.trace_layers(ctx, rec, table, res))
    res.layers = L


def _span_layers(rec, ops: list[float], sink_root: str, delivered: int) -> dict:
    """Per-operation self time of each wrapped layer (and the merge's and
    the bucket rewrite's shares of the operations' time), Spark jobs and
    tasks per applied epoch, and the sink's write volume (rows in newly
    written files over rows delivered)."""
    n_ops, ops_s = max(1, len(ops)), sum(ops) or 1.0
    self_s = rec.self_times()
    applies = rec.named("cdc.apply")
    writes = [s for s in rec.spans if s["name"] in ("lake.table.append", "lake.table.overwrite")
              and s["attrs"].get("root") == sink_root]
    rows_written = sum(s["attrs"].get("rows_written", 0) for s in writes)
    maint = [s for s in rec.named("lake.maintenance.rolling") if s["attrs"].get("root") == sink_root]
    return {
        "cdc.apply.self_s": self_s.get("cdc.apply", 0.0) / n_ops,
        "cdc.apply.jobs_per_epoch": sum(s["attrs"].get("jobs", 0) for s in applies) / n_ops,
        "cdc.apply.tasks_per_epoch": sum(s["attrs"].get("tasks", 0) for s in applies) / n_ops,
        "lake.merge.buckets_touched_frac": sum(s["attrs"].get("buckets", 0) for s in applies)
        / (n_ops * N_BUCKETS),
        "lake.merge.merge_s": self_s.get("lake.merge", 0.0) / n_ops,
        "lake.merge.merge_share": self_s.get("lake.merge", 0.0) / ops_s,
        "lake.table.overwrite_share": self_s.get("lake.table.overwrite", 0.0) / ops_s,
        "lake.table.overwrite_s": self_s.get("lake.table.overwrite", 0.0) / n_ops,
        "lake.table.append_s": self_s.get("lake.table.append", 0.0) / n_ops,
        "lake.table.bytes_written": sum(s["attrs"].get("bytes_written", 0) for s in writes),
        "lake.table.rows_written": rows_written,
        "lake.table.rows_delivered": delivered,
        "lake.table.write_amplification": rows_written / delivered if delivered else 0.0,
        "lake.incremental.refresh_s": self_s.get("lake.incremental.refresh", 0.0) / n_ops,
        "lake.maintenance.rolling_s": self_s.get("lake.maintenance.rolling", 0.0) / n_ops,
        "lake.maintenance.files_before": sum(s["attrs"].get("files_before", 0) for s in maint),
        "lake.maintenance.files_after": sum(s["attrs"].get("files_after", 0) for s in maint),
    }


def _read_layers(rec, probes: dict, n_reads: int) -> dict:
    """Per read: the whole read, ``LakeTable.read``'s own time inside it
    (planning, bucket probe, pruning), and the probes' scan and job counts."""
    n = max(1, n_reads)
    reads = {s["id"] for s in rec.named("read")}
    own = rec.self_by_span()
    return {
        "lake.table.read_s": common.median([s["t1"] - s["t0"] for s in rec.named("read")]),
        "lake.table.read_plan_s": sum(
            own[s["id"]] for s in rec.named("lake.table.read") if s["parent"] in reads
        ) / n,
        "lake.table.files_scanned_frac": sum(probes["files_frac"]) / n,
        "lake.table.jobs_per_read": sum(probes["jobs"]) / n,
    }


def _overhead(res: Result, traced: Pass, traced_reads: Pass, rec) -> dict:
    """Tracing overhead: traced throughput of each phase against the
    untraced pass of the same process on the same inputs."""
    def frac(untraced: float, traced: float) -> float:
        return 1.0 - traced / untraced if untraced else 0.0

    return {
        "trace.untraced_events_per_s": res.ingest.rate,
        "trace.traced_events_per_s": traced.rate,
        "trace.overhead_frac": frac(res.ingest.rate, traced.rate),
        "trace.read_overhead_frac": frac(res.reads.rate, traced_reads.rate),
        "trace.bookkeeping_s": rec.bookkeeping_s,
        "trace.spans": len(rec.spans),
    }


WORKLOADS = {w.name: w for w in (Backfill, StreamTail)}


def entries(seed: int, seconds: int) -> list[inputs.Entry]:
    """Every cache entry a run of any workload with this seed reads, in
    build order, with every log variant: the first run in a checkout builds
    all logs, so later runs only draw their read mixes."""
    out = [WARM, WARM_READS, StreamTail.state]
    for wl in (Backfill(), StreamTail()):
        out += [wl.log(v, seconds) for v in range(inputs.VARIANTS)] + [wl.reads(seed, seconds)]
    return out
