"""The ``dag`` workload: the paper's daily medallion DAG over synthetic strategies.

One operation sequence per run, in one session:

1. the backfill (``catchup=True``), the cold operation: ingest -> bronze
   -> silver -> gold (``run_transform`` + ``write_derived``) -> datamart
   (``run_load`` with a parquet writer), all into a fresh output root;
2. the incremental bootstrap (GOTK, TVL and trailing cum state from
   silver), untimed preparation that counts towards ``setup_s``;
3. daily steps, the warm operations, one per day after the backfill, until
   the measured time is up: ingest the day into the daily silver table
   with ``idempotent_replace_range`` by (date, name), advance the GOTK,
   TVL and cum state from the state as it was before the day, compute the
   trailing scalars and ``return_1y``, and load the day into the datamart.

The seed picks the strategy names; the synthetic chain sampler derives
every value from (name, date), so a seed fixes all inputs.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.config import (
    INITIAL_PRINCIPAL,
    QUANT_SCALE,
    STABLECOINS,
)
from defimap_data_pipelines_spark.operators.growth import capital_gotk, growth_of_10k
from defimap_data_pipelines_spark.operators.risk import risk_metrics_pandas_replica
from defimap_data_pipelines_spark.operators.trailing import (
    trailing_returns,
    trailing_returns_naive,
)
from defimap_data_pipelines_spark.operators.tvl import tvl
from defimap_data_pipelines_spark.pipelines import incremental as inc
from defimap_data_pipelines_spark.pipelines.ingest import (
    clean_bronze,
    date_range_frame,
    sample_chain_state,
)
from defimap_data_pipelines_spark.pipelines.load import run_load
from defimap_data_pipelines_spark.pipelines.transform import (
    return_1y_with_fallback,
    run_transform,
    write_derived,
)
from defimap_data_pipelines_spark.sources.writers import (
    idempotent_replace_range,
    write_partitioned,
)

STRATEGIES = 12
START = "2022-01-01"
# 366 days of backfill: the first day a 1-year trailing return covers
HISTORY_END = "2023-01-01"
MIN_DAILY_STEPS = 1
# names under which run.py prints the cold and warm figures
ALIASES = ("backfill_s", "daily_step_p50_s")
COLD_TIERS = ["bronze", "silver", "gold", "datamart"]
WARM_TIERS = ["daily_ingest", "daily_incremental", "daily_trailing", "daily_load"]
PROTOCOLS = ["aave", "compound", "yearn", "curve", "convex", "morpho"]
VOLATILE = ["weth", "wbtc", "link", "uni", "steth", "crv"]


def strategy_names(seed: int, n: int = STRATEGIES) -> list[str]:
    """``n`` distinct ``<protocol><k>_<asset>`` names, half of them on a
    stablecoin (the transform's benchmark branch keys on the asset)."""
    rng = random.Random(seed)
    names: set[str] = set()
    while len(names) < n:
        assets = STABLECOINS if len(names) % 2 == 0 else VOLATILE
        names.add(f"{rng.choice(PROTOCOLS)}{rng.randrange(1000)}_{rng.choice(assets)}")
    return sorted(names)


def history_days() -> int:
    return (dt.date.fromisoformat(HISTORY_END) - dt.date.fromisoformat(START)).days + 1


@dataclass
class Dag:
    spark: SparkSession
    names: list[str]
    root: str
    dim: DataFrame
    gotk_state: DataFrame | None = None
    tvl_state: DataFrame | None = None
    days: list[str] = field(default_factory=list)
    return_1y: dict[str, float | None] = field(default_factory=dict)
    state_rows: int = 0

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)


def prepare(spark: SparkSession, seed: int, workdir: str) -> Dag:
    """Strategy names and the strategy dimension; a fresh output root."""
    names = strategy_names(seed)
    dim = spark.createDataFrame(
        [(f"id-{i}", s, 0.0, 0.0) for i, s in enumerate(names)],
        ["id", "slug", "tvl", "apr"],
    )
    root = os.path.join(workdir, f"lake-{time.monotonic_ns()}")
    os.makedirs(root)
    return Dag(spark, names, root, dim)


def _datamart_writer(dag: Dag, mode: str):
    def write(df: DataFrame, table: str) -> None:
        # latest-value tables hold one row per strategy: always replaced
        m = "overwrite" if table.endswith("_update") else mode
        df.write.mode(m).parquet(dag.path(f"datamart/{table}"))

    return write


def backfill(dag: Dag, tracer) -> None:
    """Bronze -> silver -> gold -> datamart over START..HISTORY_END."""
    spark = dag.spark
    with tracer.span("bronze", "tier"):
        with tracer.span("sample_chain_state", "ingest"):
            bronze = sample_chain_state(
                date_range_frame(spark, START, HISTORY_END, dag.names)
            )
        with tracer.span("idempotent_replace_range", "writers"):
            idempotent_replace_range(bronze, dag.path("bronze"), ["name"])
    with tracer.span("silver", "tier"):
        with tracer.span("clean_bronze", "ingest"):
            silver = clean_bronze(spark.read.parquet(dag.path("bronze")))
        with tracer.span("idempotent_replace_range", "writers"):
            idempotent_replace_range(silver, dag.path("silver"), ["name"])
    with tracer.span("gold", "tier"):
        with tracer.span("run_transform", "transform"):
            gold = run_transform(
                spark.read.parquet(dag.path("silver")), ds=HISTORY_END,
                start_date=START,
            )
        with tracer.span("write_derived", "transform"):
            write_derived(gold, dag.path("gold"))
    with tracer.span("datamart", "tier"):
        with tracer.span("run_load", "load"):
            run_load(
                spark.read.parquet(dag.path("gold/growth_of_10k")),
                spark.read.parquet(dag.path("gold/tvl")),
                spark.read.parquet(dag.path("silver")),
                dag.dim,
                _datamart_writer(dag, "overwrite"),
            )


def bootstrap(dag: Dag, tracer) -> None:
    """Incremental state from the backfilled silver history."""
    silver = dag.spark.read.parquet(dag.path("silver"))
    with tracer.span("initial_state", "incremental"):
        dag.gotk_state = inc.initial_gotk_state(silver).localCheckpoint()
        dag.tvl_state = inc.initial_tvl_state(silver).localCheckpoint()
        cum = inc.initial_trailing_cum(silver)
    with tracer.span("write_partitioned", "writers"):
        write_partitioned(cum, dag.path("cum"), ["name"])


def daily_step(dag: Dag, tracer) -> None:
    """One day after the last one done: ingest, advance, trailing, load."""
    spark = dag.spark
    last = dag.days[-1] if dag.days else HISTORY_END
    ds = (dt.date.fromisoformat(last) + dt.timedelta(days=1)).isoformat()
    daily = dag.path("silver_daily")
    with tracer.span("daily_ingest", "tier"):
        with tracer.span("sample_chain_state", "ingest"):
            rows = clean_bronze(
                sample_chain_state(date_range_frame(spark, ds, ds, dag.names))
            )
        with tracer.span("idempotent_replace_range", "writers"):
            idempotent_replace_range(rows, daily, ["date", "name"])
    day = spark.read.option("basePath", daily).parquet(f"{daily}/date={ds}")
    with tracer.span("daily_incremental", "tier"):
        with tracer.span("steps", "incremental"):
            gotk_rows, gotk_next = inc.incremental_gotk_step(dag.gotk_state, day)
            tvl_rows, tvl_next = inc.incremental_tvl_step(dag.tvl_state, day)
            cum_rows, _ = inc.incremental_cum_step(dag.gotk_state, day)
        with tracer.span("state_checkpoint", "incremental"):
            gotk_next = gotk_next.localCheckpoint()
            tvl_next = tvl_next.localCheckpoint()
        with tracer.span("write_partitioned", "writers"):
            write_partitioned(cum_rows, dag.path("cum"), ["name"], mode="append")
    with tracer.span("daily_trailing", "tier"):
        with tracer.span("trailing_scalars_from_cum", "incremental"):
            cum = spark.read.parquet(dag.path("cum"))
            inc.trailing_scalars_from_cum(cum, ds).collect()
            r1y = inc.incremental_return_1y(cum, ds).collect()
    with tracer.span("daily_load", "tier"):
        with tracer.span("run_load", "load"):
            run_load(gotk_rows, tvl_rows, day, dag.dim, _datamart_writer(dag, "append"))
    dag.gotk_state, dag.tvl_state = gotk_next, tvl_next
    dag.days.append(ds)
    dag.return_1y = {r.name: r.return_1y for r in r1y}


def measure(dag: Dag, tracer, seconds: float, run_op) -> None:
    """Backfill, bootstrap, then daily steps until ``seconds`` have passed
    since the bootstrap (and at least MIN_DAILY_STEPS were run). ``run_op``
    times one operation of ``units`` counted operations (tiers, steps) and
    returns False if it raised."""
    if not run_op("backfill", "cold", lambda: backfill(dag, tracer), units=4):
        return
    if not run_op("bootstrap", "setup", lambda: bootstrap(dag, tracer)):
        return
    t0 = time.perf_counter()
    steps = 0
    while steps < MIN_DAILY_STEPS or time.perf_counter() - t0 < seconds:
        if not run_op(f"daily {len(dag.days) + 1}", "warm",
                      lambda: daily_step(dag, tracer)):
            return
        steps += 1


def _rows(df: DataFrame, cols: list[str]) -> set[tuple]:
    return {tuple(r) for r in df.select(*cols).collect()}


def _close(a, b, rel: float, tol: float) -> bool:
    if a is None or b is None or not isinstance(b, float):
        return a == b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= max(tol, rel * abs(b))


def _near(label: str, got: DataFrame, want: DataFrame, key: list[str],
          cols: dict[str, tuple[float, float]]) -> list[str]:
    """Rows of ``got`` and ``want`` match one to one on ``key``, and every
    column of ``cols`` within its (relative, absolute) tolerance; columns
    that are not floats must be equal."""
    g = {tuple(r[k] for k in key): r for r in got.select(*key, *cols).collect()}
    w = {tuple(r[k] for k in key): r for r in want.select(*key, *cols).collect()}
    if set(g) != set(w) or not w:
        return [f"{label}: {len(set(g) ^ set(w))} of {len(w)} keys differ"]
    bad = [k for k in w if not all(_close(g[k][c], w[k][c], *t) for c, t in cols.items())]
    return [f"{label}: {len(bad)} of {len(w)} rows differ, first {bad[0]}"] if bad else []


def check(dag: Dag) -> tuple[list[str], dict[str, object]]:
    """Output checks, outside the timed region. Returns (failures, facts)."""
    spark = dag.spark
    fails: list[str] = []
    facts: dict[str, object] = {}
    expect = len(dag.names) * history_days()
    for t, want in [("gold/growth_of_10k", expect), ("gold/tvl", expect),
                    ("datamart/strategy_apr", expect + len(dag.names) * len(dag.days))]:
        n = facts[f"{t} rows"] = spark.read.parquet(dag.path(t)).count()
        if n != want:
            fails.append(f"{t}: {n} rows, expected {want}")

    # every gold and datamart table against a batch recompute over the
    # whole silver history: exact for GOTK, TVL, monthly total return and
    # APR (the contract of tests/test_incremental.py; the datamart GOTK
    # and TVL tables hold the gold rows and the daily ones), within the
    # tolerances of tests/test_operators.py against the reference-literal
    # trailing returns and the pandas replica of the risk math
    daily = dag.path("silver_daily")
    history = spark.read.parquet(dag.path("silver")).unionByName(
        spark.read.option("basePath", daily).parquet(daily)
    ).cache()
    last_day = dag.days[-1]
    backfilled = F.col("date") <= F.lit(HISTORY_END).cast("date")
    on_last_day = F.col("date") == F.lit(last_day).cast("date")
    gcols = ["date", "name", "start_day_investment", "end_day_investment",
             "percent_change"]
    tcols = ["date", "name", "tvl", "change_tvl"]
    batch_g = growth_of_10k(history)
    batch_t = tvl(history)
    ids = spark.createDataFrame(
        [(n, f"id-{i}") for i, n in enumerate(dag.names)], ["name", "strategy_id"])

    def datamart(t: str) -> DataFrame:
        return spark.read.parquet(dag.path(f"datamart/{t}"))

    pairs = [
        ("gold total return", spark.read.parquet(dag.path("gold/pre_total_return")),
         ["date", "name", "percent_change"],
         growth_of_10k(history.filter(backfilled), monthly=True),
         ["date", "name", "percent_change"]),
        ("datamart gotk", datamart("strategy_growth"), gcols + ["strategy_id"],
         batch_g.join(ids, "name"), gcols + ["strategy_id"]),
        ("datamart tvl", datamart("strategy_tvl"),
         tcols[:3] + ["change_tvl_daily", "strategy_id"],
         batch_t.na.drop().join(ids, "name"), tcols + ["strategy_id"]),
        ("datamart apr", datamart("strategy_apr"),
         ["timestamp", "name", "value", "strategy_id"],
         history.join(ids, "name"), ["date", "name", "total_apy", "strategy_id"]),
        ("datamart latest tvl", datamart("strategy__tvl_update"), ["name", "tvl"],
         batch_t.filter(on_last_day), ["name", "tvl"]),
        ("datamart latest apr", datamart("strategy__apr_update"), ["name", "apr"],
         history.filter(on_last_day), ["name", "total_apy"]),
    ]
    for label, got, got_cols, want, want_cols in pairs:
        a, b = _rows(got, got_cols), _rows(want, want_cols)
        if a != b or not a:
            fails.append(f"{label}: {len(a ^ b)} of {len(b)} batch rows differ")

    past = history.filter(backfilled)
    naive = trailing_returns_naive(past, HISTORY_END).cache()
    fails += _near(
        "gold trailing return", spark.read.parquet(dag.path("gold/pre_trailing_return")),
        naive, ["period", "name", "date"],
        {"percent_change": (1e-6, 1e-7)},
    )
    # the risk replica, on the benchmark the transform picks: capital GOTK
    # over the last year of the first strategy on a stablecoin, in the
    # order of the same distinct query over the same silver scan
    last_year = (dt.date.fromisoformat(HISTORY_END) - dt.timedelta(days=365)).isoformat()
    scanned = spark.read.parquet(dag.path("silver")).filter(
        F.col("date") <= F.lit(HISTORY_END)).cache()
    stable = [r.name for r in scanned.select("name").distinct().collect()
              if r.name.split("_")[1] in STABLECOINS][0]
    scanned.unpersist()
    year = F.col("date").between(F.lit(last_year), F.lit(HISTORY_END))
    bench = capital_gotk(past.filter((F.col("name") == stable) & year))
    replica = risk_metrics_pandas_replica(
        growth_of_10k(past, last_year, HISTORY_END), bench)
    fails += _near(
        "gold risk", spark.read.parquet(dag.path("gold/pre_risk")), replica, ["name"],
        {"sd": (1e-9, 0.0), "sharpe": (1e-9, 0.0), "alpha": (1e-6, 1e-9),
         "beta": (1e-6, 1e-9), "r_square": (1e-6, 1e-9),
         "max_drawdown": (1e-6, 0.0), "peak_date": (0, 0), "valley_date": (0, 0),
         "duration": (0, 0)},
    )
    # a 1-year return from two reward-quantization bases: they may differ
    # by one micro-unit of reward per day (pipelines.incremental,
    # tests/test_incremental.py), each worth aave_price / QUANT_SCALE of
    # the INITIAL_PRINCIPAL; 1e-7 is the figure the tests use on a
    # shorter history
    aave_price = history.agg(F.max("aave_price")).first()[0]
    grid = 366 * aave_price / QUANT_SCALE / INITIAL_PRINCIPAL
    facts["return_1y tolerance"] = tol = max(1e-7, grid)
    fails += _near(
        "gold risk return_1y", spark.read.parquet(dag.path("gold/pre_risk")),
        return_1y_with_fallback(naive, HISTORY_END),
        ["name"], {"return_1y": (1e-6, tol)},
    )
    # the daily steps' return_1y against the batch query
    batch_r = {r.name: r.return_1y for r in return_1y_with_fallback(
        trailing_returns(history, last_day), last_day).collect()}
    if set(batch_r) != set(dag.return_1y):
        fails.append("return_1y: strategy sets differ")
    if all(v is None for v in batch_r.values()):
        fails.append("return_1y: null for every strategy, nothing to compare")
    for k, v in batch_r.items():
        if not _close(dag.return_1y.get(k), v, 1e-6, tol):
            fails.append(f"return_1y[{k}]: incremental {dag.return_1y.get(k)} vs batch {v}")
    facts["return_1y max deviation"] = max(
        (abs(dag.return_1y[k] - v) for k, v in batch_r.items()
         if v is not None and dag.return_1y.get(k) is not None), default=0.0)
    facts["daily_steps_checked"] = len(dag.days)
    dag.state_rows = dag.gotk_state.count() + dag.tvl_state.count()
    naive.unpersist()
    history.unpersist()
    return fails, facts


def lake(dag: Dag) -> str:
    return dag.root


def layer_extra(dag: Dag, runner, tracer) -> dict[str, float]:
    from perfbench.trace import span_median

    bootstrap_s = [o["seconds"] for o in runner.ops if o["phase"] == "setup"]
    return {
        "cold.ingest.rows": len(dag.names) * history_days(),
        "warm.ingest.rows": len(dag.names),
        "cold.transform.build_s": span_median(tracer.spans, "run_transform", "cold"),
        "cold.transform.exec_s": span_median(tracer.spans, "write_derived", "cold"),
        "incremental.bootstrap_s": bootstrap_s[0],
        "warm.incremental.build_s": span_median(tracer.spans, "steps", "warm"),
        "warm.incremental.exec_s": span_median(tracer.spans, "state_checkpoint", "warm"),
        "warm.incremental.trailing_s": span_median(
            tracer.spans, "trailing_scalars_from_cum", "warm"),
        "incremental.state_rows": dag.state_rows,
    }
