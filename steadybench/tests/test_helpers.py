"""Pure-helper tests for the benchmark (no Spark).

    python3 -m pytest steadybench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import Ops, percentile  # noqa: E402


# -- percentile rule -------------------------------------------------------

def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(100)), 90) == 89  # 10 samples above
    assert percentile(list(range(99)), 90) is None  # only 9 above
    assert percentile([float(i) for i in range(20)], 50) == 9.0
    assert percentile([float(i) for i in range(19)], 50) is None
    assert percentile([], 50) is None


# -- failure accounting ------------------------------------------------------

def test_failures_count_against_attempted():
    ops = Ops()
    assert ops.correct is False  # nothing attempted is not a pass
    assert ops.record(True)
    assert not ops.record(False, "q: result differs from oracle")
    assert (ops.attempted, ops.failed, ops.correct) == (2, 1, False)
    assert ops.errors == ["q: result differs from oracle"]
    ok = Ops()
    for _ in range(5):
        ok.record(True)
    assert (ok.attempted, ok.failed, ok.correct) == (5, 0, True)


# -- seeded inputs -------------------------------------------------------------

def _tree_bytes(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_star(7, 0.001, str(a))
    gen.write_star(7, 0.001, str(b))
    assert _tree_bytes(a) == _tree_bytes(b)
    plan = gen.SheetPlan(n_base=300, n_edited=6, n_appended=6)
    assert gen.sheet_values(7, plan, True) == gen.sheet_values(7, plan, True)


def test_sizes_do_not_depend_on_seed():
    counts = {s: {n: t.num_rows for n, t in gen.star_tables(s, 0.001).items()}
              for s in (1, 2, 99)}
    assert counts[1] == counts[2] == counts[99]
    plan = gen.SheetPlan(n_base=300, n_edited=6, n_appended=6)
    lens = {len(gen.sheet_values(s, plan, True)["values"]) for s in (1, 2, 99)}
    assert lens == {1 + plan.rows_sent}
    assert gen.star_tables(1, 0.001) != gen.star_tables(2, 0.001)


@pytest.mark.parametrize("seed", range(8))
def test_query_corpus_stays_below_the_gate(tmp_path, seed):
    """short_queries times the inline side of the 2 MB plan-size gate, so
    its documents parquet must stay well below it for every seed."""
    path = str(tmp_path / "documents.parquet")
    gen._write(gen.documents_table(seed, int(50_000 * workloads.SHORT_SF)), path)
    assert os.path.getsize(path) < gen.GATE_BYTES / 4


def test_sheet_model_matches_the_generated_sheets():
    plan = gen.SheetPlan(n_base=500, n_edited=10, n_appended=12)
    base = gen.sheet_values(3, plan, False)["values"]
    cyc = gen.sheet_values(3, plan, True)["values"]
    assert base[0] == cyc[0] == gen.SHEET_HEADER
    base_rows, cyc_rows = base[1:], cyc[1:]
    assert len(base_rows) == plan.n_base and len(cyc_rows) == plan.rows_sent
    total = gen.SHEET_HEADER.index("Total RUB")
    assert sum(r[total] == "not-money" for r in base_rows) == plan.bad_base
    appended = cyc_rows[plan.n_base:]
    assert sum(r[total] == "not-money" for r in appended) == plan.bad_appended
    base_ids = {r[0] for r in base_rows}
    assert not base_ids & {r[0] for r in appended}
    edited = [c for b, c in zip(base_rows, cyc_rows) if b != c]
    assert len(edited) == plan.n_edited and {r[0] for r in edited} <= base_ids
    exp = plan.expected_after_cycle()
    # every sent row ends up staged or quarantined; edits add no rows
    assert exp["staged"] + exp["quarantined"] == plan.rows_sent
    json.dumps(cyc)  # the payload is plain JSON


# -- spans ---------------------------------------------------------------------

def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner", "g1"):
            pass
        with tr.span("inner", "g2"):
            pass
    outer, in1, in2 = tr.spans
    assert in1.parent == in2.parent == 0 and outer.parent is None
    assert in1.group == "g1"
    st = tr.self_times()
    assert st["inner"] == pytest.approx(in1.dur + in2.dur)
    assert st["outer"] == pytest.approx(outer.dur - in1.dur - in2.dur)
