"""Metadata-only commits and the shared scan planner.

A commit that adds no data (a schema evolution, a mart's interval cursor)
must publish its snapshot without running a Spark job, and a
predicate-scoped rewrite must touch exactly the files the read path would
open for the same predicate."""

import contextlib
import os
import uuid
from urllib.parse import urlparse

from pyspark.sql import functions as F

from ton_etl_spark.cdc.apply import apply_cdc_batch, make_sequences_table
from ton_etl_spark.cdc.generator import generate_cdc_log
from ton_etl_spark.lake.catalog import sync_table_from_catalog
from ton_etl_spark.lake.incremental import make_agg_mart, refresh_agg_mart
from ton_etl_spark.lake.maintenance import delete_where, rewrite_buckets
from ton_etl_spark.lake.table import LakeTable

CATALOG = [
    {"column_name": "id", "data_type": "bigint", "is_nullable": "NO", "ordinal_position": 1},
    {"column_name": "body", "data_type": "text", "is_nullable": "YES", "ordinal_position": 2},
]


@contextlib.contextmanager
def _job_group(sc):
    """Tag every Spark job this thread runs; yields a callable returning
    how many jobs ran so far."""
    group = f"meta-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "metadata-commit test")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_catalog_evolution_is_a_jobless_metadata_commit(spark, tmp_path):
    root = str(tmp_path / "cat")
    t, rep = sync_table_from_catalog(spark, root, CATALOG, key_cols=["id"], n_buckets=2)
    assert rep["action"] == "created"
    v = t.current_version()
    grown = CATALOG + [{"column_name": "trace_id", "data_type": "character varying",
                        "is_nullable": "YES", "ordinal_position": 3}]
    with _job_group(spark.sparkContext) as jobs:
        _, rep = sync_table_from_catalog(spark, root, grown, key_cols=["id"],
                                         commit_key="catalog-v2")
        assert jobs() == 0
    assert rep["action"] == "evolved" and rep["added"] == ["trace_id"]
    snap = t.current()
    assert snap.version == v + 1 and snap.has_commit_key("catalog-v2")
    assert snap.schema.fieldNames() == ["id", "body", "trace_id"]
    assert snap.manifests == t.snapshot(v).manifests  # no data file moved


def test_empty_mart_interval_is_a_jobless_metadata_commit(spark, tmp_path, monkeypatch):
    """A pure compaction of the source yields no change rows; the refresh
    still records the interval, and past the change probe the commit
    itself runs no Spark job."""
    src = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=2)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    v0 = src.current_version()
    apply_cdc_batch(src, generate_cdc_log(spark, 50, seed=5), epoch=0)
    v1 = src.current_version()
    assert refresh_agg_mart(mart, src, v0, v1)["applied"]
    rewrite_buckets(src, commit_key="compact")
    v2 = src.current_version()
    schema_before = mart.current().schema_json

    marks = {}
    df_cls = type(spark.range(0))  # the concrete (classic) DataFrame class
    real_collect = df_cls.collect

    def collect(self):
        out = real_collect(self)
        marks["after_collect"] = jobs()
        return out

    real_publish = mart._publish

    def publish(snap):
        marks["at_publish"] = jobs()
        return real_publish(snap)

    monkeypatch.setattr(df_cls, "collect", collect)
    mart._publish = publish
    with _job_group(spark.sparkContext) as jobs:
        res = refresh_agg_mart(mart, src, v1, v2)
    assert res["applied"] and res["buckets"] == []
    assert marks["at_publish"] == marks["after_collect"]
    snap = mart.current()
    assert snap.has_commit_key(f"martsync={v1}-{v2}")
    assert snap.schema_json == schema_before


def test_file_granular_delete_rewrites_exactly_the_files_read_opens(spark, tmp_path):
    df = spark.range(2000).select(F.col("id").alias("k"), F.col("id").alias("lsn"))
    t = LakeTable.create(spark, str(tmp_path / "fg"), schema=df.schema, key_cols=["k"],
                         n_buckets=2, stats_cols=["k", "lsn"], sort_cols=["lsn"],
                         target_file_rows=100)
    t.append(df, commit_key="seed")
    where = {"lsn": (300, 449)}
    where_in = {"k": list(range(250, 1200, 7))}
    opened = {urlparse(u).path for u in t.read(where=where, where_in=where_in).inputFiles()}
    before = {f.path for f in t.current().files}

    r = delete_where(t, where, where_in=where_in, commit_key="d", file_granular=True)
    rewritten = {os.path.join(t.root, p) for p in before - {f.path for f in t.current().files}}
    assert r["applied"] and rewritten == opened
    assert 0 < len(opened) < len(before)
    deleted = {k for k in where_in["k"] if 300 <= k <= 449}
    assert r["deleted_rows"] == len(deleted)
    assert sorted(x["k"] for x in t.read().collect()) == [
        k for k in range(2000) if k not in deleted
    ]
