"""The ``query_mix`` workload: registry queries, cold then warm, in one session.

Pass 1 runs every query of the mix once in the fresh session (the cold
operation): it pays for session warm-up, for the session shared frames
some queries build on first use, and for eager plan-time jobs. Each later
pass (a warm operation) runs the same queries again in the same session.
Every query is built (the registry call) and then executed into Spark's
``noop`` sink, and the two parts are timed apart.

Inputs are the fixed, read-only sf0.01 tables under ``data/sf0.01``, a
copy of the seed-42 synthetic test data, so the seed does not change them.
After the passes, every query is checked against its DuckDB oracle with
the repository's own parity comparison (``tools/parity.py``).
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from defimap_data_pipelines_spark.plans.queries import QUERIES

# one per operator family: the paper's domain window (and the
# orders_raw_series shared frame), TPC-H aggregation, MinHash and
# edit-distance dedup, product quantization (eager codebook jobs at plan
# time) and curation (the clean_survivors shared frame)
MIX = [
    "gotk",
    "q1_pricing_summary",
    "minhash_lsh_dedup",
    "levenshtein_neardup",
    "pq_encode",
    "training_dataset",
]
MIN_WARM_PASSES = 1
# names under which run.py prints the cold and warm figures
ALIASES = ("query_mix_cold_s", "query_mix_warm_s")
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


@dataclass
class Mix:
    spark: SparkSession
    sf_dir: str
    # query -> [(build_s, exec_s)] per pass, pass 0 cold
    timings: dict[str, list[tuple[float, float]]] = field(default_factory=dict)


def prepare(spark: SparkSession, seed: int, workdir: str) -> Mix:
    missing = [q for q in MIX if q not in QUERIES]
    if missing:
        raise KeyError(f"queries not registered: {missing}")
    return Mix(spark, DATA, {q: [] for q in MIX})


def run_query(mix: Mix, q: str, tracer) -> None:
    with tracer.span(q, "queries"):
        t0 = time.perf_counter()
        df = QUERIES[q](mix.spark, mix.sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    mix.timings[q].append((t1 - t0, t2 - t1))


def measure(mix: Mix, tracer, seconds: float, run_op) -> None:
    """The cold pass, then warm passes until ``seconds`` have passed
    since the cold pass ended (and at least MIN_WARM_PASSES were run). A
    pass is one timed operation of len(MIX) counted operations, one per
    query."""
    if not run_op("pass 1", "cold", lambda: _pass(mix, tracer), units=len(MIX)):
        return
    t0 = time.perf_counter()
    passes = 0
    while passes < MIN_WARM_PASSES or time.perf_counter() - t0 < seconds:
        if not run_op(f"pass {passes + 2}", "warm", lambda: _pass(mix, tracer),
                      units=len(MIX)):
            return
        passes += 1


def _pass(mix: Mix, tracer) -> None:
    for q in MIX:
        run_query(mix, q, tracer)


def _parity():
    """The repository's parity module (tools/parity.py)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "parity", os.path.join(root, "tools", "parity.py")
    )
    parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity)
    return parity


def check(mix: Mix) -> tuple[list[str], dict[str, object]]:
    """Every query against its DuckDB oracle via tools/parity.compare."""
    parity = _parity()
    con = parity.duck_connect(mix.sf_dir)
    fails = []
    for q in MIX:
        if q not in parity.ORACLE:
            fails.append(f"{q}: no oracle")
            continue
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            ok = parity.compare(q, mix.spark, con, mix.sf_dir)
        if not ok:
            fails.append(f"{q}: {out.getvalue().strip()}")
    con.close()
    return fails, {"oracle_checked": len(MIX) - len(fails)}


def lake(mix: Mix) -> None:
    """The mix writes only to the noop sink."""
    return None


def layer_extra(mix: Mix, runner, tracer) -> dict[str, float]:
    out = {}
    for q, runs in mix.timings.items():
        (build, execute), warm = runs[0], runs[1:]
        out[f"queries.{q}.cold_build_s"] = build
        out[f"queries.{q}.cold_exec_s"] = execute
        out[f"queries.{q}.warm_s"] = statistics.median(b + e for b, e in warm)
    return out
