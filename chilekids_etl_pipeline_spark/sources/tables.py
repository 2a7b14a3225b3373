"""Parquet table catalog for the test star schema.

At 100 TB these reads stay efficient because every query selects columns
explicitly (parquet column pruning) and filters early (predicate pushdown
into the scan) — verified via ``explain`` in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Conf controlling whether plans may widen a degenerate local scan.
#   "auto" (default): rebalance ONLY under a local[...] master, where the
#       single-row-group test parquet gives every scan exactly one task.
#   "on": always rebalance (manual override for a pathological layout).
#   "off": never rebalance (used by plan tests to pin Exchange-free scans).
REBALANCE_CONF = "spark_graft.local_rebalance"


def maybe_rebalance(df: DataFrame, force: bool = False) -> DataFrame:
    """Widen a scan-bound DataFrame across cores — ONLY in degenerate layouts.

    The sandbox's test tables are single-row-group parquet files, so a scan
    is one task no matter how many cores exist; per-row-heavy plans (wide
    JSON parses, shingling) starve without an explicit widening exchange.
    On a real cluster the file layout provides splits and that exchange
    would pointlessly ship the whole filtered fact table, so this helper is
    a no-op there: mode "auto" checks ``spark.master`` and only acts under
    ``local[...]``. Plans call this instead of hard-coding
    ``.repartition(defaultParallelism)`` so the production plan stays
    Exchange-free above the scan (pinned by tests/test_plans_sinks.py).
    """
    spark = df.sparkSession
    try:
        mode = (spark.conf.get(REBALANCE_CONF, "auto") or "auto").lower()
    except Exception:
        mode = "auto"
    if mode == "off":
        return df
    if mode == "auto":
        try:
            master = spark.conf.get("spark.master", "") or ""
        except Exception:
            master = ""
        if not master.startswith("local"):
            return df
        # Skip the widening exchange when the scan already saturates the
        # cores: the test parquet grows real splits with size (sf1
        # lineitem = 32), and repartitioning 32 -> 32 is usually a
        # pure-overhead shuffle of the whole fact table (q1 at sf1:
        # 1.69 s with it, 1.20 s without). ``force=True`` keeps the
        # exchange even then, for plans whose per-row work is so heavy
        # that EVEN task sizes beat the shuffle cost — natural splits
        # follow row-group boundaries and can be lopsided
        # (staging_records' 41-column normalization at sf1: 14.6 s
        # balanced vs 15.7 s on raw splits). getNumPartitions is
        # plan-time only — nothing executes.
        try:
            if (not force
                    and df.rdd.getNumPartitions()
                    >= spark.sparkContext.defaultParallelism):
                return df
        except Exception:
            pass
    return df.repartition(spark.sparkContext.defaultParallelism)


# The one size gate of the query plans: a relation whose plan-time size
# estimate (parquet file bytes for a bare scan) reaches this takes the
# "big" physical form — the widening exchange of ``rebalance_if_big``,
# the eager materialization seams of ann_ivfpq_adc, exact_substring_dedup
# and dedup_yield_curve. Below it those forms measured as pure
# stage-barrier loss at sf0.1 and wins at sf1 (OPTIMIZATION_r13.md,
# "Size gate"). Tests force the big branch by monkeypatching this to 0.
SIZE_GATE_BYTES = 2 << 20


def above_size_gate(df: DataFrame) -> bool:
    """True when ``df``'s plan-time size estimate reaches
    ``SIZE_GATE_BYTES``. An unknown size counts as below the gate, so an
    estimate failure falls back to the plain inline plan. No job runs."""
    size = plan_size_bytes(df)
    return size is not None and size >= SIZE_GATE_BYTES


def rebalance_if_big(df: DataFrame) -> DataFrame:
    """Size-gated ``maybe_rebalance``: skip the widening exchange when the
    scan is below the size gate, where the ~0.3-0.5 s stage barrier it
    adds is not paid back (r10 A/B at sf0.1, AB_r8_vs_r10.json); above
    it the widening is the difference between 2 and all busy cores. On a
    real cluster ``maybe_rebalance`` is a no-op anyway; this gate only
    tunes the degenerate local layouts."""
    return maybe_rebalance(df) if above_size_gate(df) else df


def plan_size_bytes(df: DataFrame) -> int | None:
    """Plan-time size estimate of a relation (parquet file bytes for a
    bare scan) — no job, no execution. The input of ``above_size_gate``:
    deterministic for a given input layout, so the same data always
    takes the same plan."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table.

    No blanket scan rebalance here, deliberately: the test tables are
    single-row-group files (every scan = one task), and an A/B at sf0.1
    showed a central repartition-after-scan helps only queries whose
    per-row downstream work is heavy (wide parses, shingling) while the
    extra exchange stage REGRESSES every short join/agg query by
    ~0.3-0.8 s of barrier+scheduling latency. The heavy queries
    (staging_records, training_data_pipeline) therefore rebalance
    explicitly where the CPU is, and everything else keeps the fused
    single-stage scan. On a real cluster the file layout provides splits
    and neither concern exists.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # TIMESTAMP(NANOS) parquet read as long (see session.py); truncate
        # to micros — same truncation DuckDB applies when it loads nanos.
        ts_field = df.schema["ts"]
        if isinstance(ts_field.dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so plans can use spark.sql."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
