"""The two workloads: one closed-loop client, one Spark session each.

Every run has the same shape:

1. one cold set-up: the package import, ``session.get_spark`` (which
   starts the JVM) and the first ``plans.load_all``; that is ``setup_s``;
2. inputs generated from the seed (untimed);
3. one cold unit, then ``settle`` units that take the steepest part of the
   JIT warm-up, then ``steady`` units of identical work, whose count is a
   fixed function of ``--seconds`` and never of host speed;
4. correctness checks against DuckDB oracles; a wrong result or an
   exception fails the op.

With tracing on, every other steady unit is traced (spans, job groups,
Spark status-store readings) and the untraced ones in between give the
tracing overhead on the same seed and inputs.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import logging
import os
import shutil
import time
from collections import Counter

import gen
import probes
import sparkstats
from stats import Ops, median, percentile
from spans import NullTracer, Tracer

APP = "steadybench"
PKG = "chilekids_etl_pipeline_spark"


# ---------------------------------------------------------------------------
# result comparison (order-insensitive, floats rounded as the oracle gate does)

def canon_hash(pdf) -> tuple[int, list[str], str]:
    df = pdf[sorted(pdf.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif df[c].dtype == "object":
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    digest = hashlib.md5(df.to_csv(index=False).encode()).hexdigest()
    return len(df), list(df.columns), digest


def duck_views(star_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(f"{star_dir}/*.parquet")):
        name = os.path.basename(p).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


# ---------------------------------------------------------------------------
# the run

class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work: str, slots: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work, self.slots = work, slots
        self.tracer = Tracer() if trace else NullTracer()
        self.ops = Ops()
        self.units: list[dict] = []  # one record per unit, in order
        self.readings: list[dict] = []  # per-layer readings of traced units

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """One cold set-up, as every CLI start pays it: import the package,
        start the JVM with ``session.get_spark`` and make the first,
        uncached ``plans.load_all`` call."""
        t0 = time.perf_counter()
        from chilekids_etl_pipeline_spark import plans
        from chilekids_etl_pipeline_spark.session import get_spark

        spark = get_spark(APP)
        t1 = time.perf_counter()
        plans.load_all()
        t2 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark, self.plans = spark, plans
        self.session_start_s, self.load_all_s = t1 - t0, t2 - t1
        self.setup_s = t2 - t0
        self.jpid = probes.java_pid()

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM the session started to exit."""
        from pyspark import SparkContext

        self.peak_rss_mb = probes.tree_peak_rss_mb()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    # -- units ---------------------------------------------------------------

    def unit(self, phase: str, body, traced: bool = False) -> None:
        """Run ``body(traced)`` as one unit under a probe window."""
        with probes.Window(self.jpid) as w:
            body(traced)
        rdds, mb = sparkstats.retained(self.spark)
        rec = {"phase": phase, "traced": traced, "wall_s": w.wall_s,
               "cpu_s": w.cpu_s, "jit_cpu_s": w.jit_cpu_s,
               "gc_cpu_s": w.gc_cpu_s, "steal_frac": w.steal_frac,
               "other_busy_frac": w.other_busy_frac,
               "persistent_rdds": rdds, "retained_mb": mb}
        self.units.append(rec)

    @contextlib.contextmanager
    def layer(self, traced: bool, name: str, group: str):
        """A span and a Spark job group around one call into a layer, in
        traced units only."""
        if not traced:
            yield None
            return
        sparkstats.set_group(self.spark, group)
        try:
            with self.tracer.span(name, group) as sp:
                yield sp
        finally:
            sparkstats.set_group(self.spark, None)

    def schedule(self, settle: int, nominal_unit_s: float) -> list[str]:
        steady = max(2, round(self.seconds / nominal_unit_s))
        return ["cold"] + ["settle"] * settle + ["steady"] * steady

    def steady_traced(self, k: int) -> bool:
        """With tracing on, steady units alternate traced / untraced."""
        return self.tracer.enabled and k % 2 == 0

    # -- results -------------------------------------------------------------

    def _steady(self, traced: bool | None = None) -> list[dict]:
        return [u for u in self.units if u["phase"] == "steady"
                and (traced is None or u["traced"] == traced)]

    def end_to_end(self, rows_per_unit: int, unit_walls: list[float],
                   op_walls: list[float], cold_s: float) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "cold_s": (cold_s, "s"),
            "op_s.p50": (median(op_walls), "s"),
            "rows_per_s": (rows_per_unit / median(unit_walls), "rows/s"),
            "unit_cpu_s": (median([u["cpu_s"] for u in self._steady()]), "s"),
        }

    def per_layer(self) -> dict:
        st = self._steady()
        traced = self._steady(True)
        untraced = self._steady(False)
        lay = self.readings

        def med(key: str) -> float:
            return median([r.get(key, 0.0) for r in lay]) if lay else 0.0

        last = st[-1]
        out = {
            "session.start_s": (self.session_start_s, "s"),
            "session.confs_ms": (med("session.confs_ms"), "ms"),
            "plans.load_all_s": (self.load_all_s, "s"),
            "plans.build_s": (med("plans.build_s"), "s"),
            "plans.build_frac": (med("plans.build_frac"), "frac"),
            "plans.build_jobs": (med("plans.build_jobs"), "count"),
            "plans.persistent_rdds": (last["persistent_rdds"], "count"),
            "plans.retained_mb": (last["retained_mb"], "MB"),
            "exec.s": (med("exec.run_s"), "s"),
            "exec.plan_ms": (med("exec.plan_ms"), "ms"),
            "exec.jobs": (med("exec.jobs"), "count"),
            "exec.stages": (med("exec.stages"), "count"),
            "exec.tasks": (med("exec.tasks"), "count"),
            "exec.cpu_s": (med("exec.cpu_s"), "s"),
            "exec.cpu_util": (med("exec.cpu_util"), "frac"),
            "exec.shuffle_read_mb": (med("exec.shuffle_read_mb"), "MB"),
            "exec.shuffle_write_mb": (med("exec.shuffle_write_mb"), "MB"),
            "exec.spill_mb": (med("exec.spill_mb"), "MB"),
            "exec.gc_s": (med("exec.gc_s"), "s"),
        }
        for key, unit in LAYER_ONLY.items():
            out[key] = (med(key), unit)
        out.update({
            "jvm.jit_cpu_s": (median([u["jit_cpu_s"] for u in st]), "s"),
            "jvm.gc_cpu_s": (median([u["gc_cpu_s"] for u in st]), "s"),
            "host.steal_frac": (median([u["steal_frac"] for u in st]), "frac"),
            "host.other_busy_frac": (
                median([u["other_busy_frac"] for u in st]), "frac"),
            "trace.overhead_frac": (
                median([u["wall_s"] for u in traced])
                / median([u["wall_s"] for u in untraced]) - 1
                if traced and untraced else 0.0, "frac"),
        })
        return out

    def details(self) -> dict:
        return {
            "workload": self.workload, "seed": self.seed,
            "task_slots": self.slots,
            "cpus": len(os.sched_getaffinity(0)),
            "setup_s": self.setup_s,
            "settle_units": sum(u["phase"] == "settle" for u in self.units),
            "steady_units": sum(u["phase"] == "steady" for u in self.units),
            "unit_cpu_series_s": [round(u["cpu_s"], 3) for u in self.units],
            "unit_wall_series_s": [round(u["wall_s"], 3) for u in self.units],
            "unit_jit_cpu_series_s": [round(u["jit_cpu_s"], 3)
                                      for u in self.units],
            "host_steal_series": [round(u["steal_frac"], 4)
                                  for u in self.units],
            "other_busy_series": [round(u["other_busy_frac"], 4)
                                  for u in self.units],
            "peak_rss_mb": self.peak_rss_mb,
            "errors": self.ops.errors[:10],
        }


# Per-layer metrics only some workloads fill; a workload that never calls
# the layer reports 0.
LAYER_ONLY = {
    "sources.load_s": "s", "sources.rows_sent": "count",
    "sources.rows_loaded": "count", "sources.useful_frac": "frac",
    "cli.elt_s": "s", "cli.query_s": "s", "cli.norm_s": "s",
    "cli.upsert_s": "s", "cli.jobs": "count", "cli.changed_rows": "count",
    "cli.quarantined_rows": "count", "streaming.merge_write_amp": "ratio",
    "marts.refresh_s": "s", "marts.mb_written": "MB",
}


def _add_exec(acc: Counter, ex: dict) -> None:
    for k in sparkstats.EXEC_KEYS:
        acc["exec." + k] += ex[k]


def _finish_exec(acc: Counter) -> None:
    run_s = acc["exec.run_s"]
    acc["exec.cpu_util"] = acc["exec.cpu_s"] / run_s if run_s else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# short_queries: the analysts' read path

# query → catalog tables it scans; rows read per pass is the sum of their
# row counts (fixed per workload: sizes never depend on the seed)
SHORT_QUERIES = {
    "financials_monthly": ("orders",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "k_anonymity_check": ("customer",),
    "exact_substring_dedup": ("documents",),
}
SHORT_SF = 0.01
SHORT_SETTLE = 2
SHORT_NOMINAL_UNIT_S = 3.5


def short_queries(run: Run) -> tuple[dict, dict]:
    star = os.path.join(run.work, "star")
    rows = gen.write_star(run.seed, SHORT_SF, star)
    rows_per_pass = sum(rows[t] for ts in SHORT_QUERIES.values() for t in ts)
    con = duck_views(star)
    oracle = run.plans.oracle_sql()
    qs = run.plans.queries()
    spark = run.spark
    cold_walls: list[float] = []
    steady_by_query: dict[str, list[float]] = {q: [] for q in SHORT_QUERIES}
    pass_walls: list[float] = []  # summed op walls of each steady pass

    def cold_pass(_traced: bool) -> None:
        for name in SHORT_QUERIES:
            try:
                t0 = time.perf_counter()
                got = qs[name](spark, star).toPandas()
                cold_walls.append(time.perf_counter() - t0)
                want = con.execute(oracle[name]).df()
                ok = canon_hash(got) == canon_hash(want)
                run.ops.record(ok, f"{name}: result differs from oracle")
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                run.ops.record(False, f"{name}: {type(e).__name__}: {e}")

    def noop_pass(phase: str, u: int):
        def body(traced: bool) -> None:
            acc: Counter = Counter()
            walls: dict[str, float] = {}
            for name in SHORT_QUERIES:
                try:
                    if traced:
                        walls[name] = _traced_query(
                            run, qs[name], star, f"u{u}.{name}", acc)
                    else:
                        t0 = time.perf_counter()
                        df = qs[name](spark, star)
                        df.write.format("noop").mode("overwrite").save()
                        walls[name] = time.perf_counter() - t0
                    run.ops.record(True)
                except Exception as e:  # noqa: BLE001
                    run.ops.record(False, f"{name}: {type(e).__name__}: {e}")
            if phase == "steady" and walls:
                for name, w in walls.items():
                    steady_by_query[name].append(w)
                pass_walls.append(sum(walls.values()))
            if traced:
                acc["session.confs_ms"] = (acc.pop("confs_ms_sum", 0.0)
                                           / len(SHORT_QUERIES))
                acc["plans.build_frac"] = (acc["plans.build_s"]
                                           / max(1e-9, sum(walls.values())))
                _finish_exec(acc)
                run.readings.append(acc)
        return body

    k = 0
    for u, phase in enumerate(run.schedule(SHORT_SETTLE, SHORT_NOMINAL_UNIT_S)):
        if phase == "cold":
            run.unit(phase, cold_pass)
            continue
        traced = phase == "steady" and run.steady_traced(k)
        k += phase == "steady"
        run.unit(phase, noop_pass(phase, u), traced)
    con.close()

    steady_ops = [w for ws in steady_by_query.values() for w in ws]
    details = {"rows_per_pass": rows_per_pass,
               "op_s.p90": percentile(steady_ops, 90),
               "steady_ops": len(steady_ops),
               "steady_op_s_by_query": {q: median(ws) for q, ws in
                                        steady_by_query.items()}}
    return run.end_to_end(rows_per_pass, pass_walls, steady_ops,
                          sum(cold_walls)), {
        "per_layer": run.per_layer(), **details}


def _traced_query(run: Run, fn, star: str, group: str, acc: Counter) -> float:
    from chilekids_etl_pipeline_spark.session import ensure_session_confs

    spark, tr = run.spark, run.tracer
    with tr.span("op", group) as op:
        with tr.span("session.confs") as confs:
            ensure_session_confs(spark)
        with run.layer(True, "plans.build", group + ".build") as build:
            df = fn(spark, star)
        with tr.span("exec.plan"):
            acc["exec.plan_ms"] += sparkstats.plan_ms(df)
        with run.layer(True, "exec.action", group + ".exec"):
            df.write.format("noop").mode("overwrite").save()
    acc["confs_ms_sum"] += confs.dur * 1e3
    acc["plans.build_s"] += build.dur
    acc["plans.build_jobs"] += sparkstats.group_exec(spark, group + ".build")["jobs"]
    _add_exec(acc, sparkstats.group_exec(spark, group + ".exec"))
    return op.dur


# ---------------------------------------------------------------------------
# elt_refresh: the reference's own load → ELT → marts loop

ELT_SF = 0.001
ELT_PLAN = gen.SheetPlan(n_base=6_000, n_edited=120, n_appended=120)
# The compiler's share of a cycle's CPU halves from one cycle to the next
# and varies from run to run, so the first cycle after the cold one is not
# timed; one settle cycle is what the run budget affords.
ELT_SETTLE = 1
ELT_NOMINAL_UNIT_S = 10.0
MARTS = ("financials_monthly", "expenses_by_category", "web_transactions",
         "dim_clients", "dim_categories", "dim_vendors", "campaigns_summary")


class _CliLog(logging.Handler):
    """Keeps the CLI's own log records (stage times, row counts)."""

    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.records: list[logging.LogRecord] = []

    def emit(self, record: logging.LogRecord) -> None:
        self.records.append(record)

    def take(self) -> dict:
        out = {}
        for r in self.records:
            if r.msg.startswith("stages (s)"):
                out["cli.query_s"], out["cli.norm_s"], out["cli.upsert_s"] = r.args
            elif r.msg.startswith("found %d changed"):
                out["cli.changed_rows"] = r.args[0]
            elif r.msg.startswith("quarantined %d"):
                out["cli.quarantined_rows"] = r.args[0]
        self.records.clear()
        return out


def elt_refresh(run: Run) -> tuple[dict, dict]:
    from chilekids_etl_pipeline_spark.__main__ import (
        run_incremental_elt, run_load_sheets,
    )
    from chilekids_etl_pipeline_spark.plans.refresh import refresh_marts

    spark, plan = run.spark, ELT_PLAN
    star = os.path.join(run.work, "star")
    gen.write_star(run.seed, ELT_SF, star)
    sheets = {p: os.path.join(run.work, f"{p}.json") for p in ("cold", "cycle")}
    gen.write_sheet(run.seed, plan, False, sheets["cold"])
    gen.write_sheet(run.seed, plan, True, sheets["cycle"])
    con = duck_views(star)
    oracle = run.plans.oracle_sql()
    want_marts = {m: canon_hash(con.execute(oracle[m]).df()) for m in MARTS}
    expect = {"cold": plan.expected_after_base(),
              "cycle": plan.expected_after_cycle()}
    # The cold cycle loads the base sheet into an empty lake; its result is
    # the snapshot every later cycle restores before it starts.
    snap, cur = os.path.join(run.work, "snap"), os.path.join(run.work, "cur")

    cli_log = _CliLog()
    logger = logging.getLogger(PKG)
    walls: list[float] = []
    cold: list[float] = []

    def count(path: str) -> int:
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{path}/*.parquet')"
        ).fetchone()[0]

    def check(lake: str, want: dict, out: dict) -> list[str]:
        bad = []
        got = {"rows_loaded": out["loaded"], "upserted": out["upserted"],
               "staged": count(f"{lake}/staging"),
               "quarantined": count(f"{lake}/staging_quarantine")}
        for k, v in got.items():
            if v != want[k]:
                bad.append(f"{k}={v}, model says {want[k]}")
        for m in MARTS:
            df = con.execute(
                f"SELECT * FROM read_parquet('{lake}/marts/{m}/**/*.parquet', "
                "hive_partitioning = true)").df()
            if canon_hash(df) != want_marts[m]:
                bad.append(f"mart {m} differs from oracle")
        return bad

    def cycle(u: int, lake: str, sheet: str, out: dict):
        def body(traced: bool) -> None:
            if traced:
                logger.addHandler(cli_log)
                logger.setLevel(logging.INFO)
                raw_before = _dir_bytes(f"{lake}/raw")
            try:
                t0 = time.perf_counter()
                with run.layer(traced, "sources.load", f"u{u}.load") as sp_load:
                    out["loaded"] = run_load_sheets(
                        "bench", "Sheet1!A:M", values_json=sheet,
                        raw_dir=f"{lake}/raw")
                with run.layer(traced, "cli.elt", f"u{u}.elt") as sp_elt:
                    out["upserted"] = run_incremental_elt(
                        f"{lake}/raw", f"{lake}/staging")
                with run.layer(traced, "marts.refresh", f"u{u}.marts") as sp_marts:
                    refresh_marts(spark, star, f"{lake}/marts")
                out["wall"] = time.perf_counter() - t0
            finally:
                if traced:
                    logger.removeHandler(cli_log)
                    logger.setLevel(logging.NOTSET)
            if traced:
                acc = Counter(cli_log.take())
                acc["sources.load_s"] = sp_load.dur
                acc["sources.rows_sent"] = plan.rows_sent
                acc["sources.rows_loaded"] = out["loaded"]
                acc["sources.useful_frac"] = out["loaded"] / plan.rows_sent
                acc["cli.elt_s"] = sp_elt.dur
                acc["marts.refresh_s"] = sp_marts.dur
                acc["marts.mb_written"] = _dir_bytes(f"{lake}/marts") / 2**20
                new_raw = _dir_bytes(f"{lake}/raw") - raw_before
                acc["streaming.merge_write_amp"] = (
                    _dir_bytes(f"{lake}/staging") / max(1, new_raw))
                for s in ("load", "elt", "marts"):
                    ex = sparkstats.group_exec(spark, f"u{u}.{s}")
                    if s == "elt":
                        acc["cli.jobs"] = ex["jobs"]
                    _add_exec(acc, ex)
                _finish_exec(acc)
                run.readings.append(acc)
        return body

    k = 0
    for u, phase in enumerate(run.schedule(ELT_SETTLE, ELT_NOMINAL_UNIT_S)):
        kind = "cold" if phase == "cold" else "cycle"
        lake = snap if kind == "cold" else cur
        if kind == "cycle":
            shutil.rmtree(cur, ignore_errors=True)
            shutil.copytree(snap, cur)  # untimed restore of the snapshot
        traced = phase == "steady" and run.steady_traced(k)
        k += phase == "steady"
        out: dict = {}
        try:
            run.unit(phase, cycle(u, lake, sheets[kind], out), traced)
            bad = check(lake, expect[kind], out)
        except Exception as e:  # noqa: BLE001 — counted as a failed op
            bad = [f"{type(e).__name__}: {e}"]
        if run.ops.record(not bad, f"cycle {u}: " + "; ".join(bad)):
            {"cold": cold, "steady": walls}.get(phase, []).append(out["wall"])
        elif kind == "cold":
            break  # no snapshot to restore: the remaining cycles cannot run
    con.close()

    details = {"rows_per_cycle": plan.rows_sent, "model": expect}
    e2e = run.end_to_end(plan.rows_sent, walls, walls, cold[0] if cold else 0.0)
    return e2e, {"per_layer": run.per_layer(), **details}


WORKLOADS = {"elt_refresh": elt_refresh, "short_queries": short_queries}
