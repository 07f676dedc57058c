"""The correctness gate must catch a delivered log that lost one event.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

pytest.importorskip("pyspark")

import common  # noqa: E402
import gate  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    """A ``local[2]`` session with its scratch under pytest's temp dir.  The
    environment changes (engine importable by Python workers, no session
    pre-warm) are undone when the module is done."""
    work = tmp_path_factory.mktemp("perfbench")
    (work / "tmp").mkdir()
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_PY_PREWARM", "0")
        mp.setenv("PYTHONPATH", os.pathsep.join(
            [common.ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ))
        mp.syspath_prepend(common.ROOT)
        s, _ = common.start_spark(str(work), cores=2)
        yield s
        common.stop_spark(s)


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    """A small generated log (redelivery, out-of-order, evolution) replayed
    through apply_cdc_batch; returns (table, delivered events)."""
    from ton_etl_spark.cdc.apply import apply_cdc_batch, make_sequences_table
    from ton_etl_spark.cdc.generator import generate_cdc_log, write_cdc_log
    from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA_EVOLVED

    root = tmp_path_factory.mktemp("gate")
    dirs = write_cdc_log(generate_cdc_log(spark, 3000, seed=5), str(root / "log"),
                         n_batches=4, dup_pct=5, seed=5, files_per_batch=2)
    table = make_sequences_table(spark, str(root / "table"), n_buckets=4)
    for k, d in enumerate(dirs):
        apply_cdc_batch(table, spark.read.parquet(d), epoch=k)
    events = spark.read.schema(CDC_EVENT_SCHEMA_EVOLVED).parquet(*dirs)
    return table, events


def _one_dropped(events):
    """The log minus one event that decides its key: the last event of the
    key with the smallest doc id among keys whose last event was delivered
    exactly once (dropping a redelivered copy would change nothing)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    once = events.groupBy("lsn").count().where(F.col("count") == 1).select("lsn")
    last = events.withColumn(
        "rn", F.row_number().over(Window.partitionBy("doc_id").orderBy(F.col("lsn").desc()))
    ).where(F.col("rn") == 1).join(once, "lsn").orderBy("doc_id").first()
    return events.where(F.col("lsn") != last["lsn"])


def test_gate_passes_on_the_delivered_log(replayed):
    table, events = replayed
    assert gate.check_state(table, events) == {"ok": True, "missing": 0, "extra": 0}


def test_gate_catches_one_dropped_event(replayed):
    table, events = replayed
    short = _one_dropped(events)
    assert short.count() == events.count() - 1
    verdict = gate.check_state(table, short)
    assert not verdict["ok"]
    assert verdict["missing"] + verdict["extra"] >= 1


def test_read_answer_check_catches_a_wrong_row():
    row = {"doc_id": "doc_7", "op": "u", "lsn": 70, "tokens": [1, 2, 3]}
    query = {"kind": "live", "key": "doc_7", "expect": ["doc_7"]}
    oracle = {"doc_7": row}
    assert gate.check_answer([dict(row)], query, oracle)
    assert not gate.check_answer([{**row, "tokens": [1, 2, 4]}], query, oracle)
    assert not gate.check_answer([], query, oracle)
