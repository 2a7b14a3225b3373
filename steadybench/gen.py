"""Seeded input generators for the benchmark (pure Python + pyarrow, no Spark).

Everything the program reads is made here from the run's seed: the
TPC-H-shaped star schema with its ``events``/``documents``/``embeddings``
side tables and the Sheets-API payloads the ELT loop ingests. Row counts depend only on the scale arguments, never on
the seed; the same seed writes the same bytes.

The distributions follow the repository's test tables: a 30-word
vocabulary corpus where every 20th document is a near-copy of an earlier
one with `` dup`` appended, unit-norm 64-d embeddings, and so on.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The plan-size gate the size-gated dedup plans switch on
# (`plan_size_bytes(documents) >= 2 << 20`): parquet file bytes.
GATE_BYTES = 2 << 20

VOCAB = (
    "a the data row column table key value part hash join scan filter "
    "group agg sort merge window stream batch query spark line order "
    "customer vector small big fast slow"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch micros
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, table), so adding a table never
    shifts another table's values."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.Generator(np.random.PCG64([seed, tag]))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_ts(rng, n, start_us, n_days):
    days = rng.integers(0, n_days, n)
    return pa.array(start_us + days * _DAY_US, pa.timestamp("us"))


def corpus_texts(seed: int, n_docs: int) -> list[str]:
    """Documents of 10-99 vocabulary words; every 20th (from the 20th on)
    copies an earlier document and appends `` dup``."""
    rng = _rng(seed, "documents")
    lens = rng.integers(10, 100, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    picks = rng.integers(0, 1 << 30, n_docs)
    texts: list[str] = []
    pos = 0
    for i in range(n_docs):
        if i >= 20 and i % 20 == 8:
            texts.append(texts[int(picks[i]) % i] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos:pos + lens[i]]))
        pos += lens[i]
    return texts


def documents_table(seed: int, n_docs: int) -> pa.Table:
    rng = _rng(seed, "doc_meta")
    texts = corpus_texts(seed, n_docs)
    lang_idx = rng.choice(len(LANGS), n_docs, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in lang_idx], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, n: int, dim: int = 64) -> pa.Table:
    rng = _rng(seed, "embeddings")
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, dim))
    v = centers[labels] + rng.normal(0, 1.5, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (0.01: 60k lineitem)."""
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_li, n_part = int(6_000_000 * sf), int(200_000 * sf)
    n_supp, n_ev = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_docs, n_users = int(50_000 * sf), max(10, int(15_000 * sf))
    r = {t: _rng(seed, t) for t in ("customer", "orders", "lineitem",
                                     "part", "supplier", "events")}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    g = r["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(g, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            g.integers(0, 5, n_cust)],
    })
    g = r["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(g, n_supp, -999.99, 9999.99),
    })
    g = r["part"]
    adj = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
    noun = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[g.integers(0, 6, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    g = r["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
        "o_totalprice": _money(g, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days_ts(g, n_ord, _EPOCH_1995, 2404),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            g.integers(0, 5, n_ord)],
    })
    g = r["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(g.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_li), pa.int32()),
        "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(g, n_li, 900.0, 105000.0),
        "l_discount": g.integers(0, 11, n_li) / 100.0,
        "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_li)],
        "l_shipdate": _days_ts(g, n_li, _EPOCH_1995 + _DAY_US, 2498),
    })
    g = r["events"]
    gaps = g.exponential(30 * _DAY_US / n_ev, n_ev)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + np.cumsum(gaps).astype(np.int64),
                       pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[g.integers(0, 5, n_ev)],
        "value": np.round(g.uniform(0.01, 490.02, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
    })
    out["documents"] = documents_table(seed, n_docs)
    out["embeddings"] = embeddings_table(seed, n_docs)
    return out


def write_star(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every catalog table as ``<out_dir>/<name>.parquet``. Returns the
    row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(seed, sf)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# Sheets-API payloads for the ELT loop

SHEET_HEADER = ["id", "Date", "Type", "Client", "Category", "Subcategory",
                "Vendor", "Currency", "Total RUB", "Total USD", "Year",
                "Month", "Description"]
_CLIENTS = [f"Client {i}" for i in range(40)]
_CATS = ["ads", "rent", "salary", "travel", "software", "events", "misc"]
_TYPES = ["Income", "Expense", "Доход", "Расход"]
BAD_EVERY = 97


@dataclass(frozen=True)
class SheetPlan:
    """The generator's own model of one refresh cycle.

    The base sheet (``n_base`` rows) is loaded and ELT'd once to make the
    snapshot every cycle restores. Each cycle re-sends the base rows, with
    ``n_edited`` of them carrying changed cells under their existing id,
    plus ``n_appended`` rows under new ids. ``run_load_sheets`` is
    insert-if-absent by id, so only the appended rows reach raw; of those,
    ``bad_appended`` carry an unparseable ``Total RUB`` and land in the
    quarantine instead of staging."""

    n_base: int
    n_edited: int
    n_appended: int

    @staticmethod
    def bad(row_no: int) -> bool:
        """About 1% malformed rows, in base and appended rows alike."""
        return row_no % BAD_EVERY == BAD_EVERY - 1

    @property
    def rows_sent(self) -> int:
        return self.n_base + self.n_appended

    @property
    def bad_base(self) -> int:
        return sum(self.bad(i) for i in range(self.n_base))

    @property
    def bad_appended(self) -> int:
        return sum(self.bad(i) for i in
                   range(self.n_base, self.n_base + self.n_appended))

    def expected_after_base(self) -> dict[str, int]:
        """The base sheet loaded into an empty lake."""
        return {
            "rows_loaded": self.n_base,
            "upserted": self.n_base - self.bad_base,
            "staged": self.n_base - self.bad_base,
            "quarantined": self.bad_base,
        }

    def expected_after_cycle(self) -> dict[str, int]:
        return {
            "rows_loaded": self.n_appended,
            "upserted": self.n_appended - self.bad_appended,
            "staged": self.n_base + self.n_appended
            - self.bad_base - self.bad_appended,
            "quarantined": self.bad_base + self.bad_appended,
        }


def _sheet_row(rng: np.random.Generator, row_no: int, bad: bool,
               edit: int = 0) -> list[str]:
    y = 2022 + int(rng.integers(0, 3))
    m = 1 + int(rng.integers(0, 12))
    d = 1 + int(rng.integers(0, 28))
    date = f"{d:02d}.{m:02d}.{y}" if rng.random() < 0.5 else f"{y}-{m:02d}-{d:02d}"
    rub = float(rng.uniform(10, 250_000))
    fmt = int(rng.integers(0, 3))
    if bad:
        total = "not-money"
    elif fmt == 0:
        whole, frac = divmod(round(rub * 100), 100)
        total = f"{whole:,}".replace(",", " ") + f",{frac:02d}"
    elif fmt == 1:
        total = f"${rub:.0f}"
    else:
        total = f"{rub:.2f}"
    return [
        f"r{row_no}", date, _TYPES[int(rng.integers(0, 4))],
        _CLIENTS[int(rng.integers(0, len(_CLIENTS)))],
        _CATS[int(rng.integers(0, len(_CATS)))],
        f"sub{int(rng.integers(0, 20))}", f"Vendor {int(rng.integers(0, 60))}",
        "RUB", total, f"{rub / 90:.2f}", str(y), str(m),
        f"line {row_no} rev {edit}",
    ]


def sheet_values(seed: int, plan: SheetPlan, cycle: bool) -> dict:
    """The base sheet (``cycle=False``) or the cycle's re-send. Edited rows
    keep their id and row values but bump the revision in Description."""
    rng = _rng(seed, "sheet")
    rows = [_sheet_row(rng, i, plan.bad(i)) for i in range(plan.n_base)]
    if cycle:
        step = max(1, plan.n_base // max(1, plan.n_edited))
        for i in range(0, step * plan.n_edited, step):
            rows[i][-1] = rows[i][-1].replace("rev 0", "rev 1")
        rows += [_sheet_row(rng, i, plan.bad(i)) for i in
                 range(plan.n_base, plan.n_base + plan.n_appended)]
    return {"range": "Sheet1!A:M", "values": [SHEET_HEADER] + rows}


def write_sheet(seed: int, plan: SheetPlan, cycle: bool, path: str) -> None:
    with open(path, "w") as f:
        json.dump(sheet_values(seed, plan, cycle), f, ensure_ascii=False)
