"""Input synthesis with an on-disk cache.

Every log derives from ``cdc.generator`` (zipf hot keys, out-of-order
delivery, redelivery, mid-stream schema evolution) and, for the wire
format, ``cdc.envelope.to_kafka_frames``.  A seed picks one of
``VARIANTS`` logs per (workload, size), ``seed % VARIANTS``, and draws its
own read mix over that log's final state: point lookups of live, deleted
and absent keys and LSN-range reads, each carrying the rows
``final_state_oracle`` gives for it.  So the same seed always gives the
same inputs, and the expensive part, generating and encoding a log, is
done once per checkout.  The ingested state itself is checked at run time
(``gate.check_state``).

Entries are built in a process of their own before the measured process
starts (``run.py --synthesize``), so the measured process always finds its
inputs on disk and synthesis touches neither its timings, its JIT state
nor its peak RSS.  An entry is built in a private temp dir and renamed into
place, so an interrupted build never leaves a half-written entry.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from common import CACHE_ROOT

META = "_meta.json"
ORACLE = "oracle.json"
DUP_PCT = 5
VARIANTS = 10  # logs per (workload, size); a seed replays log seed % VARIANTS
FIXTURE_SEED = 0  # seed of the fixtures every run shares (warm log, stream state)

# read mix: a fixed pattern of query kinds (every seed measures the same
# shares: 5 lookups, 7 range reads), filled with seeded keys and LSN ranges
READ_PATTERN = ("live", "range", "range", "deleted", "range", "live", "range", "absent", "range", "live", "range", "range")
RANGE_FRAC = 0.002


@dataclass(frozen=True)
class Entry:
    """One cache entry: its key and how to build it.  ``build(spark, tmp)``
    writes the entry's files under ``tmp`` and returns JSON-serializable
    metadata with paths relative to it; ``spark()`` gives the builder's
    session, started on first use (read mixes need none)."""

    key: str
    build: Callable

    @property
    def root(self) -> str:
        return os.path.join(CACHE_ROOT, self.key)

    def ready(self) -> bool:
        return os.path.exists(os.path.join(self.root, META))

    def load(self) -> tuple[str, dict]:
        """(entry dir, meta) of a built entry."""
        with open(os.path.join(self.root, META)) as fh:
            return self.root, json.load(fh)

    def make(self, spark: Callable) -> None:
        """Build the entry unless it exists: in a private temp dir, then
        renamed into place."""
        if self.ready():
            return
        tmp = f"{self.root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = self.build(spark, tmp)
        with open(os.path.join(tmp, META), "w") as fh:
            json.dump(meta, fh)
        try:
            os.replace(tmp, self.root)
        except OSError:  # a concurrent run published the same entry first
            shutil.rmtree(tmp, ignore_errors=True)


def with_reads(log: Entry, reads: Entry) -> tuple[str, dict]:
    """(log dir, log meta merged with the read mix's meta)."""
    root, meta = log.load()
    return root, {**meta, **reads.load()[1]}


def _delivery(log, out: str, n_batches: int, seed: int, files_per_batch: int) -> list[str]:
    """Delivery batches (decoded CDC events, one dir per epoch) as paths
    relative to ``out``'s parent."""
    from ton_etl_spark.cdc.generator import write_cdc_log

    dirs = write_cdc_log(
        log, out, n_batches=n_batches, dup_pct=DUP_PCT, seed=seed,
        files_per_batch=files_per_batch,
    )
    base = os.path.dirname(out)
    return [os.path.relpath(d, base) for d in dirs]


def events(spark, root: str, dirs: list[str]):
    """Delivered events of ``dirs`` under the evolved schema."""
    from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA_EVOLVED

    return spark.read.schema(CDC_EVENT_SCHEMA_EVOLVED).parquet(
        *[os.path.join(root, d) for d in dirs]
    )


def _frames(spark, root: str, event_dirs: list[str], name: str) -> list[str]:
    """Encode every delivery batch as Kafka-shaped Debezium JSON frames, one
    dir per epoch, in one write.  ``to_json`` omits null fields, so frames
    of pre-evolution events genuinely lack the late-added field."""
    from pyspark.sql import functions as F

    from ton_etl_spark.cdc.envelope import to_kafka_frames

    frames = [
        to_kafka_frames(events(spark, root, [d])).withColumn("epoch", F.lit(k))
        for k, d in enumerate(event_dirs)
    ]
    reduce(lambda a, b: a.unionByName(b), frames).write.partitionBy("epoch").parquet(
        os.path.join(root, name)
    )
    return [os.path.join(name, f"epoch={k}") for k in range(len(event_dirs))]


def _write_oracle(ev, tmp: str) -> None:
    """``final_state_oracle`` of the delivered log ``ev`` (live rows) and its
    deleted keys, for the read mixes."""
    from ton_etl_spark.cdc.apply import final_state_oracle

    state = [r.asDict() for r in final_state_oracle(ev).collect()]
    deleted = sorted({r[0] for r in ev.select("doc_id").distinct().collect()} - {r["doc_id"] for r in state})
    with open(os.path.join(tmp, ORACLE), "w") as fh:
        json.dump({"state": state, "deleted": deleted}, fh)


def read_mix(log: Entry, seed: int, n_queries: int) -> Entry:
    """A seeded read mix over the final state of ``log`` (built first):
    each query with the oracle rows it must return; also the live row
    count."""

    def build(_spark, _tmp: str) -> dict:
        with open(os.path.join(log.root, ORACLE)) as fh:
            oracle = json.load(fh)
        state = {r["doc_id"]: r for r in oracle["state"]}
        live, deleted = sorted(state), oracle["deleted"]
        lsns = sorted(r["lsn"] for r in state.values())
        width = max(1, int((lsns[-1] - lsns[0]) * RANGE_FRAC))
        rng = random.Random(seed)
        queries, rows = [], {}
        for i in range(n_queries):
            kind = READ_PATTERN[i % len(READ_PATTERN)]
            if kind == "range":
                lo = rng.randrange(lsns[0], lsns[-1] - width + 1)
                q = {"kind": kind, "lo": lo, "hi": lo + width - 1}
                q["expect"] = sorted(k for k, r in state.items() if lo <= r["lsn"] <= q["hi"])
            elif kind == "live":
                key = live[rng.randrange(len(live))]
                q = {"kind": kind, "key": key, "expect": [key]}
            elif kind == "deleted":
                q = {"kind": kind, "key": deleted[rng.randrange(len(deleted))], "expect": []}
            else:
                q = {"kind": kind, "key": f"doc_absent_{rng.randrange(10**9)}", "expect": []}
            rows.update((k, state[k]) for k in q["expect"])
            queries.append(q)
        return {"queries": queries, "rows": rows, "live": len(live)}

    return Entry(f"{log.key}-reads-s{seed}-q{n_queries}", build)


def warm(n_events: int, batches: int) -> Entry:
    """A small log, as decoded events and as frames, for the untimed
    warm-up on a scratch table.  Shared by every seed."""

    def build(spark, tmp: str) -> dict:
        from ton_etl_spark.cdc.generator import generate_cdc_log

        spark = spark()
        log = generate_cdc_log(spark, n_events, seed=FIXTURE_SEED)
        dirs = _delivery(log, os.path.join(tmp, "events"), batches, FIXTURE_SEED, 1)
        ev = events(spark, tmp, dirs)
        _write_oracle(ev, tmp)
        return {"events": dirs, "frames": _frames(spark, tmp, dirs, "frames"), "delivered": ev.count()}

    return Entry(f"warm-n{n_events}-b{batches}", build)


def backfill(variant: int, n_events: int, epochs: int, evolve_frac: float) -> Entry:
    """A log replayed as ``epochs`` large frame batches; the first
    ``epochs // 2`` carry the events before the schema evolution."""
    log_seed = FIXTURE_SEED + 1 + variant

    def build(spark, tmp: str) -> dict:
        from ton_etl_spark.cdc.generator import generate_cdc_log

        spark = spark()
        log = generate_cdc_log(spark, n_events, seed=log_seed, evolve_frac=evolve_frac)
        dirs = _delivery(log, os.path.join(tmp, "events"), epochs, log_seed, 4)
        ev = events(spark, tmp, dirs)
        _write_oracle(ev, tmp)
        return {"events": dirs, "frames": _frames(spark, tmp, dirs, "frames"), "delivered": ev.count()}

    return Entry(f"backfill-v{variant}-n{n_events}-e{epochs}-f{evolve_frac:.3f}", build)


def stream_state(n_events: int) -> Entry:
    """The pre-existing state log (pre-evolution, LSNs below ``n_events``)
    that set-up merges into the sink.  Shared by every seed."""

    def build(spark, tmp: str) -> dict:
        from ton_etl_spark.cdc.generator import generate_cdc_log

        log = generate_cdc_log(spark(), n_events, n_docs=n_events, seed=FIXTURE_SEED, evolve_frac=1.0)
        log.write.parquet(os.path.join(tmp, "state"))
        return {"state": "state"}

    return Entry(f"stream_state-n{n_events}", build)


def stream_backlog(variant: int, state: Entry, state_events: int, n_events: int,
                   batches: int) -> Entry:
    """A backlog of ``batches`` single-file delivery batches over the key
    space of ``state`` (built first), every LSN (and source time) above the
    state's.  The oracle is over state plus backlog; ``delivered`` counts
    the backlog only."""
    log_seed = FIXTURE_SEED + 1 + variant

    def build(spark, tmp: str) -> dict:
        from pyspark.sql import functions as F

        from ton_etl_spark.cdc.generator import generate_cdc_log

        spark = spark()
        st_root, st_meta = state.load()
        log = generate_cdc_log(spark, n_events, n_docs=state_events, seed=log_seed)
        log = log.withColumn("lsn", F.col("lsn") + state_events).withColumn(
            "ts_ms", F.col("ts_ms") + state_events * 13
        )
        dirs = _delivery(log, os.path.join(tmp, "backlog"), batches, log_seed, 1)
        ev = events(spark, tmp, dirs)
        _write_oracle(spark.read.parquet(os.path.join(st_root, st_meta["state"])).unionByName(
            ev, allowMissingColumns=True
        ), tmp)
        return {"backlog": dirs, "delivered": ev.count()}

    return Entry(f"stream_tail-v{variant}-d{state_events}-n{n_events}-b{batches}", build)
