"""Correctness gate: every output the benchmark times is checked against an
independent oracle computed from the delivered log.

- Ingested state: ``read_state(table)`` must equal ``final_state_oracle``
  over every delivered event, in both directions (multiset difference, as
  ``exceptAll`` both ways), on every column including the token arrays.
- Derived mart: must equal ``recompute_agg_mart`` over the final table.
- Reads: each answer must equal its oracle rows, row for row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _aligned(df: DataFrame, columns: list[str], types: dict) -> DataFrame:
    """Project ``df`` onto ``columns``; a column the table never saw (its
    schema did not evolve yet) reads as typed NULL, which is what the
    oracle holds for it."""
    have = set(df.columns)
    return df.select(
        *[F.col(c) if c in have else F.lit(None).cast(types[c]).alias(c) for c in columns]
    )


def diff_counts(got: DataFrame, want: DataFrame) -> tuple[int, int]:
    """(rows in ``want`` missing from ``got``, rows in ``got`` not in
    ``want``), compared on ``want``'s columns: ``want.exceptAll(got)`` and
    ``got.exceptAll(want)`` counted in one job, by summing +1 (got) and -1
    (want) per distinct row."""
    types = {f.name: f.dataType for f in want.schema.fields}
    cols = list(want.columns)
    tagged = _aligned(got, cols, types).withColumn("__n", F.lit(1)).unionByName(
        _aligned(want, cols, types).withColumn("__n", F.lit(-1))
    )
    n = tagged.groupBy(*cols).agg(F.sum("__n").alias("n"))
    row = n.agg(
        F.sum(F.when(F.col("n") < 0, -F.col("n")).otherwise(0)).alias("missing"),
        F.sum(F.when(F.col("n") > 0, F.col("n")).otherwise(0)).alias("extra"),
    ).first()
    return int(row["missing"] or 0), int(row["extra"] or 0)


def check_state(table, events: DataFrame) -> dict:
    """Final table state against ``final_state_oracle(events)``."""
    from ton_etl_spark.cdc.apply import final_state_oracle, read_state

    missing, extra = diff_counts(read_state(table), final_state_oracle(events))
    return {"ok": missing == 0 and extra == 0, "missing": missing, "extra": extra}


def check_mart(mart, table, group_cols: list[str]) -> dict:
    from ton_etl_spark.lake.incremental import recompute_agg_mart

    missing, extra = diff_counts(mart.read(), recompute_agg_mart(table, group_cols))
    return {"ok": missing == 0 and extra == 0, "missing": missing, "extra": extra}


def check_answer(rows: list[dict], query: dict, oracle_rows: dict) -> bool:
    """One read answer against its expected rows (doc ids and full row
    content; ``oracle_rows`` maps doc_id -> oracle row)."""
    if sorted(r["doc_id"] for r in rows) != query["expect"]:
        return False
    for r in rows:
        want = oracle_rows[r["doc_id"]]
        if any(r.get(c) != v for c, v in want.items()):
            return False
    return True
