"""Query registry: the single source of truth binding each named query to
(a) its Spark implementation and (b) its DuckDB oracle SQL.

Keeping both halves adjacent (one ``@query`` decorator per operator) is what
keeps the driver's correctness gate honest — column aliases cannot drift
between the Spark plan and the oracle because they are declared together.

Determinism rules every registered query obeys:
- Aggregated doubles go through :func:`exact_sum` / :func:`exact_avg`
  (per-row cast to DECIMAL → exact, order-independent sum → cast back to
  DOUBLE). Plain double sums vary with partial-aggregation order and would
  hash-mismatch the oracle.
- Every LIMIT carries a total order (unique-key tiebreaker in the ORDER BY),
  otherwise the selected SET of rows is nondeterministic.
"""

from __future__ import annotations

import importlib
import json
import re
import sys
import traceback
from collections.abc import Callable, Mapping
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    doc: str


_REGISTRY: dict[str, QuerySpec] = {}

_PKG_DIR = Path(__file__).resolve().parent
#: The committed driver grades (``CORRECTNESS_r<N>.json``) sit at the repo
#: root, next to the package.
_LEDGER_DIR = _PKG_DIR.parent

#: Driver grades by round: ``{round: {query name: grade record}}``.
Ledger = Mapping[int, Mapping[str, Mapping]]


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name`` with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, fn.__doc__ or "")
        return fn

    return deco


def _query_modules() -> list[str]:
    """Every module of the package, in sorted path order. Importing one
    runs its ``@query`` decorators, so a new query needs no edit here."""
    mods = []
    for path in sorted(_PKG_DIR.rglob("*.py")):
        parts = path.relative_to(_PKG_DIR).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods.append(".".join((__package__, *parts)))
    return mods


def committed_ledger() -> Ledger:
    """The committed ``CORRECTNESS_r<N>.json`` files, keyed by round."""
    ledger = {}
    for path in _LEDGER_DIR.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            ledger[int(m.group(1))] = json.loads(path.read_text())
    return ledger


def grading_order(specs: Mapping[str, QuerySpec], ledger: Ledger) -> list[str]:
    """``specs``' names, oldest grade first, by name within a round.

    The driver grades the first 50 entries of ``queries()``, so this order
    is the grading queue. A query's vintage is the newest round in
    ``ledger`` that graded it; 0 if none did, or if that grade was a
    rows-only ``no_oracle`` record and the query has an oracle now (its
    upgrade grade is due)."""
    vintage = dict.fromkeys(specs, 0)
    for rnd in sorted(ledger):
        for name, rec in ledger[rnd].items():
            if name in specs:
                upgrade = rec.get("err") == "no_oracle" and specs[name].oracle is not None
                vintage[name] = 0 if upgrade else rnd
    return sorted(specs, key=lambda n: (vintage[n], n))


def all_queries() -> dict[str, QuerySpec]:
    """Import every query module and return the registry in grading order.

    Import failures are LOUD but non-fatal: a module that fails to import
    (missing transitive dependency, syntax error, …) gets a sentinel
    ``zz_import_failure_<module>`` entry whose fn raises with the original
    traceback — so the driver's correctness file shows an ``err`` row for
    the failed family instead of silently dropping its queries (the silent
    ModuleNotFoundError swallow here was ADVICE.md r1 finding #1).
    """
    failures: dict[str, str] = {}
    for mod in _query_modules():
        try:
            importlib.import_module(mod)
        except Exception:  # noqa: BLE001 - converted to a visible sentinel
            tb = traceback.format_exc()
            failures[mod] = tb
            print(f"[registry] FAILED to import query module {mod}:\n{tb}", file=sys.stderr)
    # Import-failure sentinels go FIRST so they always land inside the
    # driver's 50-entry grading window (a sentinel at position 51+ would be
    # as silent as the swallow it replaced).
    out: dict[str, QuerySpec] = {}
    for mod, tb in failures.items():
        # full dotted path (not just the last component): operators.windows
        # and streaming.windows must yield DISTINCT sentinels, or correlated
        # failures collapse to one visible row
        name = "zz_import_failure_" + mod.removeprefix(
            "recommender_systems_pyspark_spark."
        ).replace(".", "_")

        def _raiser(spark: SparkSession, sf_dir: str, _mod: str = mod, _tb: str = tb) -> DataFrame:
            raise RuntimeError(f"query module {_mod} failed to import:\n{_tb}")

        out[name] = QuerySpec(name, _raiser, None, f"import-failure sentinel for {mod}")
    out.update({n: _REGISTRY[n] for n in grading_order(_REGISTRY, committed_ledger())})
    return out


# ---------------------------------------------------------------------------
# Deterministic-aggregation helpers (used by every query module)
# ---------------------------------------------------------------------------

def ts_ntz(value: str) -> Column:
    """Timestamp literal matching the fixtures' TIMESTAMP_NTZ columns (the
    parquet files carry TIMESTAMP(NANOS) → Spark reads TIMESTAMP_NTZ; a plain
    TIMESTAMP/LTZ literal would fail type coercion against them)."""
    return F.lit(value).cast("timestamp_ntz")


def exact_sum(expr: Column, alias: str, prec: int = 18, scale: int = 6) -> Column:
    """Order-independent SUM of a double expression.

    Per-row cast to DECIMAL(prec, scale) makes each addend exact, decimal
    addition is associative, and the final cast back to DOUBLE is a single
    deterministic rounding — so Spark's partial/final aggregation order
    cannot change the result, and DuckDB computes the identical value from
    ``SQL_EXACT_SUM``. At 100 TB this costs one widening per row inside
    whole-stage codegen; the aggregation itself stays a hash aggregate with
    map-side partials.

    Precision 18 keeps the per-row value long-backed (Spark's Decimal uses
    a compact representation up to 18 digits; the SUM accumulator is
    auto-widened by +10 digits, so group totals cannot overflow until
    ~1e22). Measured on the Q1 shape at sf0.1: plain double sums 0.88s,
    DECIMAL(30,6) 2.6s, DECIMAL(18,6) 2.05s steady-state — determinism
    costs ~2.3×, the narrower cast claws back ~20%. Raise prec only for
    addends ≥ 1e12.
    """
    return F.sum(expr.cast(f"decimal({prec},{scale})")).cast("double").alias(alias)


def exact_avg(expr: Column, alias: str, prec: int = 18, scale: int = 6) -> Column:
    """Deterministic AVG: exact decimal sum → double, divided by exact count."""
    return (
        F.sum(expr.cast(f"decimal({prec},{scale})")).cast("double")
        / F.count(expr)
    ).alias(alias)


def sql_exact_sum(expr: str, alias: str, prec: int = 18, scale: int = 6) -> str:
    """DuckDB-side twin of :func:`exact_sum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL({prec},{scale}))) AS DOUBLE) AS {alias}"


def sql_exact_avg(expr: str, alias: str, prec: int = 18, scale: int = 6) -> str:
    """DuckDB-side twin of :func:`exact_avg`."""
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL({prec},{scale}))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )
