"""Materialization: every pin is read, pins live exactly as long as their
view, and both sides of the size gate match the oracle.

Every plan-side ``persist``/``localCheckpoint`` goes through
``chilekids_etl_pipeline_spark.materialize.materialize``. The plan-use
check records each pin an entry makes and asserts that something
downstream reads it: the entry's own plan, or the input of a later pin
or checkpoint of the same build.
A lazy pin counts as read when that plan holds its ``InMemoryRelation``,
an eager one when it holds its checkpointed ``LogicalRDD`` (``Scan
ExistingRDD`` in the physical plan).
"""

from __future__ import annotations

import os
import re
import sys

import pytest

from tests.conftest import SF_SMALL

PKG = "chilekids_etl_pipeline_spark"
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG, "plans"
)


def _materializing_entries() -> list[str]:
    from chilekids_etl_pipeline_spark import plans
    from chilekids_etl_pipeline_spark.plans import _dependency_sources
    from chilekids_etl_pipeline_spark.plans.registry import QUERIES

    plans.load_all()
    helper = f"{PKG}.materialize.materialize"
    return sorted(
        name
        for name, e in QUERIES.items()
        if any(p.split("\n", 1)[0] == helper for p in _dependency_sources(e.raw_fn))
    )


ENTRIES = _materializing_entries()


# ---------------------------------------------------------------------------
# static shape


def test_materialize_is_the_only_plan_pin_site():
    """Under plans/, only bpe_merge_learn's release-as-you-go loop pins
    directly, and the package has exactly one ``<< 20`` gate literal."""
    pin = re.compile(r"\.(persist|localCheckpoint)\(")
    offenders = []
    for f in sorted(os.listdir(PLANS_DIR)):
        if not f.endswith(".py"):
            continue
        fn = None
        for i, line in enumerate(open(os.path.join(PLANS_DIR, f)), 1):
            m = re.match(r"def (\w+)", line)
            if m:
                fn = m.group(1)
            if pin.search(line) and fn != "bpe_merge_learn":
                offenders.append(f"{f}:{i}")
    assert offenders == []

    gates = []
    pkg_dir = os.path.dirname(PLANS_DIR)
    for root, _, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                for i, line in enumerate(open(p), 1):
                    if re.search(r"<<\s*20\b", line.split("#")[0]):
                        gates.append(f"{os.path.relpath(p, pkg_dir)}:{i}")
    assert len(gates) == 1 and gates[0].startswith("sources/tables.py:"), gates


def test_pin_names_are_unique_per_site():
    """Each literal site name is used once; a non-literal name is a
    shared helper's ``pin`` parameter, supplied by each caller."""
    import ast

    literals, others = [], set()
    for f in sorted(os.listdir(PLANS_DIR)):
        if not f.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(PLANS_DIR, f)).read())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and getattr(node.func, "id", None) == "materialize"):
                name = node.args[1]
                if isinstance(name, ast.Constant):
                    literals.append(name.value)
                else:
                    others.add(ast.unparse(name))
    assert len(literals) == len(set(literals)), sorted(literals)
    assert others == {"pin"}


def test_materialize_releases_the_previous_pin_under_a_name(spark):
    from chilekids_etl_pipeline_spark.materialize import materialize

    jsc = spark.sparkContext._jsc

    def ids():
        return set(jsc.getPersistentRDDs().keySet())

    df = spark.range(50).selectExpr("id", "id % 5 AS k")
    before = ids()
    a = materialize(df, "test_pin_eager", eager=True)
    first = ids() - before
    assert len(first) == 1
    b = materialize(df, "test_pin_eager", eager=True)
    assert ids() - before != first and len(ids() - before) == 1
    assert spark.table("test_pin_eager").count() == 50 == b.count()
    del a

    lazy = materialize(df.groupBy("k").count(), "test_pin_lazy", eager=False)
    assert lazy.is_cached and spark.table("test_pin_lazy").count() == 5
    materialize(df.groupBy("k").count(), "test_pin_lazy", eager=False)
    assert spark.table("test_pin_lazy").count() == 5
    assert len(ids() - before) == 2  # one eager pin + one lazy pin


# ---------------------------------------------------------------------------
# plan use and lifetime over every materializing entry


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _leaves(df):
    plan = df._jdf.queryExecution().withCachedData()
    out = _seq(plan.collectLeaves())
    for sq in _seq(plan.subqueriesAll()):
        out += _seq(sq.collectLeaves())
    return out


def _storage_rdd(spark, pinned, eager):
    """Id of the RDD that holds a pin's blocks."""
    if eager:
        return pinned._jdf.queryExecution().analyzed().rdd().id()
    cm = spark._jsparkSession.sharedState().cacheManager()
    cached = cm.lookupCachedData(pinned._jdf)
    assert cached.isDefined(), "lazy pin is not in the cache"
    return cached.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()


def _read_rdds(df):
    """Ids of the pinned RDDs a frame's plan reads."""
    ids = set()
    for leaf in _leaves(df):
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRDD":
            ids.add(leaf.rdd().id())
        elif kind == "InMemoryRelation":
            ids.add(leaf.cacheBuilder().cachedColumnBuffers().id())
    return ids


class _Recorder:
    """Records every persist/localCheckpoint during a build as
    (caller module, input frame, pinned frame, eager)."""

    def __init__(self, monkeypatch, df_cls):
        self.calls = []
        persist, checkpoint = df_cls.persist, df_cls.localCheckpoint
        rec = self

        def _persist(self, *a, **k):
            out = persist(self, *a, **k)
            rec.calls.append((sys._getframe(1).f_globals["__name__"], self, out, False))
            return out

        def _checkpoint(self, *a, **k):
            out = checkpoint(self, *a, **k)
            rec.calls.append((sys._getframe(1).f_globals["__name__"], self, out, True))
            return out

        monkeypatch.setattr(df_cls, "persist", _persist)
        monkeypatch.setattr(df_cls, "localCheckpoint", _checkpoint)


@pytest.fixture(scope="module")
def passes(spark):
    """Three passes over every materializing entry in one session; each
    build is followed by an action on its frame. Pass 1 records which
    pins each entry's plans read."""
    from chilekids_etl_pipeline_spark.materialize import _PINNED
    from chilekids_etl_pipeline_spark.plans.registry import QUERIES

    mp = pytest.MonkeyPatch()
    rec = _Recorder(mp, type(spark.range(1)))
    jsc = spark.sparkContext._jsc
    out = {"unread": {}, "pins": {}, "rdds_after": [], "stale": {}, "lost": {}}
    try:
        for p in range(3):
            for name in ENTRIES:
                rec.calls.clear()
                df = QUERIES[name].fn(spark, SF_SMALL)
                calls = list(rec.calls)
                pins = [
                    (i, c) for i, c in enumerate(calls)
                    if c[0] == f"{PKG}.materialize"
                ]
                if p == 0:
                    unread = []
                    for i, (_, _, pinned, eager) in pins:
                        rdd = _storage_rdd(spark, pinned, eager)
                        readers = [df] + [c[1] for c in calls[i + 1:]]
                        if not any(rdd in _read_rdds(r) for r in readers):
                            unread.append(f"{'eager' if eager else 'lazy'} pin #{i}")
                    out["unread"][name] = unread
                df.write.format("noop").mode("overwrite").save()
                # the pins of this build still held under their names
                outs = {id(c[2]) for _, c in pins}
                ids = [
                    _storage_rdd(spark, pinned, eager)
                    for pinned, eager in _PINNED.values()
                    if id(pinned) in outs
                ]
                live = set(jsc.getPersistentRDDs().keySet())
                if name in out["pins"]:
                    out["stale"][name] = sorted(set(out["pins"][name]) & live)
                out["lost"][name] = sorted(set(ids) - live)
                out["pins"][name] = ids
            out["rdds_after"].append(jsc.getPersistentRDDs().size())
    finally:
        mp.undo()
    return out


def test_materializing_entries_are_found():
    assert len(ENTRIES) >= 20, ENTRIES


def test_every_pin_is_read_by_the_plans_of_its_build(passes):
    unread = {k: v for k, v in passes["unread"].items() if v}
    assert unread == {}


def test_rebuild_leaves_only_the_second_builds_pins(passes):
    assert {k: v for k, v in passes["stale"].items() if v} == {}
    assert {k: v for k, v in passes["lost"].items() if v} == {}


def test_persistent_rdds_flat_across_passes(passes):
    first, _, third = passes["rdds_after"]
    assert third == first, passes["rdds_after"]


# ---------------------------------------------------------------------------
# the above-gate branch of every gated entry against its oracle

GATED = [
    "ann_ivf_cosine",
    "ann_ivfpq_adc",
    "ann_lsh_cosine",
    "dedup_embedding_cosine",
    "dedup_yield_curve",
    "elt_end_to_end",
    "exact_substring_dedup",
    "knn_topk_cosine",
]


@pytest.mark.parametrize("name", GATED)
def test_above_gate_branch_matches_oracle(spark, duck, monkeypatch, name):
    from chilekids_etl_pipeline_spark.plans.registry import QUERIES, oracle_sql
    from chilekids_etl_pipeline_spark.sources import tables
    from tools.check import value_hash

    sizes = []
    size_of = tables.plan_size_bytes

    def spy(df):
        sizes.append(size_of(df))
        return sizes[-1]

    monkeypatch.setattr(tables, "SIZE_GATE_BYTES", 0)
    monkeypatch.setattr(tables, "plan_size_bytes", spy)
    sdf = QUERIES[name].fn(spark, SF_SMALL).toPandas()
    # the gate was consulted and, with a known size, took the big branch
    assert sizes and all(s is not None for s in sizes)
    odf = duck.execute(oracle_sql()[name]).fetchdf()
    assert len(sdf) == len(odf)
    assert sorted(map(str.lower, sdf.columns)) == sorted(map(str.lower, odf.columns))
    assert value_hash(sdf) == value_hash(odf)
