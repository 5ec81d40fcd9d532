"""The load DAG: derived tables -> datamart (SURVEY.md §3.3).

The reference reads each derived BigQuery table into pandas, stamps a
strategy_id from a Postgres dimension lookup, deletes old rows and
appends (aave_load.py:54-168). Spark equivalent: broadcast-join the
JDBC-read strategy dimension, then ``df.write.jdbc``. The single-row
"latest value" updates (O2) become max_by aggregates.

JDBC effects are isolated behind writer callables so tests can capture
frames without a live Postgres.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Writer = Callable[[DataFrame, str], None]


def stamp_strategy_id(df: DataFrame, strategy_dim: DataFrame) -> DataFrame:
    """J4: slug -> id broadcast lookup (aave_load.py:41-51,69-70)."""
    dim = F.broadcast(strategy_dim.select(F.col("slug"), F.col("id").alias("strategy_id")))
    return df.join(dim, df.name == dim.slug).drop("slug")


def latest_by_date(df: DataFrame, *cols: str | Column) -> DataFrame:
    """O2: (name, *cols) from each name's latest row (ORDER BY date DESC
    + take row 0, aave_load.py:95-106) as one max_by aggregate."""
    return (
        df.groupBy("name")
        .agg(F.max_by(F.struct(*cols), F.col("date")).alias("_latest"))
        .select("name", "_latest.*")
    )


def load_gotk(gotk: DataFrame, strategy_dim: DataFrame, write: Writer) -> None:
    """growth table -> strategy_growth (aave_load.py:54-84)."""
    out = stamp_strategy_id(
        gotk.select("date", "name", "start_day_investment",
                    "end_day_investment", "percent_change"),
        strategy_dim,
    )
    write(out, "strategy_growth")


def load_tvl(tvl: DataFrame, strategy_dim: DataFrame, write: Writer) -> None:
    """tvl -> strategy_tvl with zeroed monthly/yearly change columns
    (aave_load.py:87-119; dropna at :100) + latest-tvl dimension update."""
    out = (
        tvl.na.drop()
        .select(
            "date",
            "name",
            "tvl",
            F.col("change_tvl").alias("change_tvl_daily"),
            F.lit(0.0).alias("change_tvl_monthly"),
            F.lit(0.0).alias("change_tvl_yearly"),
        )
    )
    write(stamp_strategy_id(out, strategy_dim), "strategy_tvl")
    write(latest_by_date(tvl, "tvl"), "strategy__tvl_update")


def load_apr(raw: DataFrame, strategy_dim: DataFrame, write: Writer) -> None:
    """raw total_apy -> strategy_apr (timestamp, value; aave_load.py:132-158)
    + latest-apr dimension update."""
    out = raw.select(
        F.col("date").alias("timestamp"),
        "name",
        F.col("total_apy").alias("value"),
    )
    write(stamp_strategy_id(out, strategy_dim), "strategy_apr")
    latest = latest_by_date(raw, F.col("total_apy").alias("apr"))
    write(latest, "strategy__apr_update")


def jdbc_datamart_writer(url: str) -> Writer:
    """A :data:`Writer` bound to a real JDBC datamart, reproducing the
    reference's per-table effects (aave_load.py:54-168):

    - derived tables (``strategy_growth``/``strategy_tvl``/
      ``strategy_apr``): DELETE the rows of the strategies being
      loaded, then append — the idempotent re-load unit (S12);
    - the ``strategy__{col}_update`` pseudo-tables produced by
      load_tvl/load_apr become single-row UPDATEs of the ``strategy``
      dimension's latest-value columns (S13, aave_load.py:121-128).
      The frame is one row per strategy by contract, so the collect is
      a scalar fetch.
    """
    from defimap_data_pipelines_spark.sources.writers import (
        delete_then_append_jdbc,
        execute_jdbc,
    )

    def write(df: DataFrame, table: str) -> None:
        if table.startswith("strategy__") and table.endswith("_update"):
            col = table[len("strategy__") : -len("_update")]
            value_col = [c for c in df.columns if c != "name"][0]
            stmts = [
                f"UPDATE strategy SET {col} = {r[value_col]} "
                "WHERE slug = '" + str(r["name"]).replace("'", "''") + "'"
                for r in df.collect()
            ]
            execute_jdbc(df.sparkSession, url, stmts)
        else:
            delete_then_append_jdbc(df, url, table, key_col="strategy_id")

    return write


def run_load(
    gotk: DataFrame,
    tvl: DataFrame,
    raw: DataFrame,
    strategy_dim: DataFrame,
    write: Writer,
) -> None:
    load_gotk(gotk, strategy_dim, write)
    load_tvl(tvl, strategy_dim, write)
    load_apr(raw, strategy_dim, write)
