"""Oracle-differential tests for every registered query (sf0.001).

Mirrors the driver's verify loop: each queries() entry must match its
oracle_sql() DuckDB result on row-count, column names, and
order-insensitive values. sf0.001 keeps the loop fast; driver_sim.py
runs the same check at sf0.01 (the driver's gate scale).
"""

from __future__ import annotations

import pytest

from monday_etl_automation_spark.plans import registry
from oracle_compare import assert_matches_oracle

_QUERIES = registry.queries()
_ORACLES = registry.oracle_sql()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    df = _QUERIES[name](spark, sf_dir)
    if name in _ORACLES:
        assert_matches_oracle(df, _ORACLES[name], sf_dir)
    else:
        assert df.count() >= 0  # rows-only check for non-SQL-expressible ops


def test_every_query_has_oracle_or_is_whitelisted():
    """Queries without oracles get a weaker driver check — keep that
    set explicit so coverage regressions are visible."""
    no_oracle = set(_QUERIES) - set(_ORACLES)
    assert no_oracle <= set(), f"unexpected oracle-less queries: {no_oracle}"


def test_registry_fits_driver_window():
    """The driver's correctness pass covers only the first 50
    registered queries (round-1 lesson: 7 of 57 shipped unchecked).
    Every operator's covering query must sit inside that window."""
    assert len(_QUERIES) <= 50, f"registry has {len(_QUERIES)} queries; driver checks only 50"


def test_no_side_registries_or_probe_imports():
    """Registered queries are the only query table: no package module
    keeps a ``PYTEST_QUERIES`` dict beside the registry (tests import
    builders and oracles directly), and no test reaches into ``tools/``
    for an ``ann_*`` probe module."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    side = [
        str(p.relative_to(root))
        for p in sorted((root / "monday_etl_automation_spark").rglob("*.py"))
        if any(
            isinstance(n, ast.Name) and n.id == "PYTEST_QUERIES" and isinstance(n.ctx, ast.Store)
            for n in ast.walk(ast.parse(p.read_text()))
        )
    ]
    probes = [
        f"{p.name}:{n.lineno}"
        for p in sorted((root / "tests").glob("*.py"))
        for n in ast.walk(ast.parse(p.read_text()))
        if (isinstance(n, ast.ImportFrom) and (n.module or "").startswith("ann_"))
        or (isinstance(n, ast.Import) and any(a.name.startswith("ann_") for a in n.names))
    ]
    assert side == [], f"side query registries: {side}"
    assert probes == [], f"tests importing tools/ ann_* probes: {probes}"


def test_every_default_parameter_has_a_caller():
    """Every defaulted parameter of a package function or constructor
    is set — by keyword or by position — by some call in the package,
    ``tools/``, ``perfbench/``, ``tests/``, ``bench.py`` or
    ``__spark_entry__.py``. A knob no caller turns is a constant; keep
    it as one. Callees match by bare name, and a function referenced
    other than by a direct call (``pool.submit(fn)``, ``partial``,
    ``foreachBatch(sink.process_batch)``) counts as fully set."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pkg = sorted((root / "monday_etl_automation_spark").rglob("*.py"))
    scope = [
        *pkg,
        *(p for d in ("tools", "perfbench", "tests") for p in sorted((root / d).rglob("*.py"))),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]

    def defaulted(fn, shift):
        a = fn.args
        pos = [*a.posonlyargs, *a.args]
        first = len(pos) - len(a.defaults)
        out = [(p.arg, i - shift) for i, p in enumerate(pos) if i >= first]
        return out + [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]

    knobs = []  # (where, callee name, parameter, positional index or None)
    for path in pkg:
        tree = ast.parse(path.read_text())
        methods = set()
        for cls in (n for n in ast.walk(tree) if isinstance(n, ast.ClassDef)):
            for fn in cls.body:
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    methods.add(fn)
                    static = any(getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list)
                    name = cls.name if fn.name == "__init__" else fn.name
                    for arg, idx in defaulted(fn, 0 if static else 1):
                        knobs.append((f"{path.name}:{fn.lineno}", name, arg, idx))
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and fn not in methods:
                for arg, idx in defaulted(fn, 0):
                    knobs.append((f"{path.name}:{fn.lineno}", fn.name, arg, idx))

    keywords: dict[str, set[str]] = {}
    n_positional: dict[str, int] = {}
    opaque: set[str] = set()
    for path in scope:
        tree = ast.parse(path.read_text())
        callees = set()
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            callees.add(f)
            if any(isinstance(a, ast.Starred) for a in call.args) or any(k.arg is None for k in call.keywords):
                opaque.add(name)
            keywords.setdefault(name, set()).update(k.arg for k in call.keywords)
            n_positional[name] = max(n_positional.get(name, 0), len(call.args))
        for n in ast.walk(tree):
            if n not in callees and isinstance(getattr(n, "ctx", None), ast.Load):
                if isinstance(n, ast.Name):
                    opaque.add(n.id)
                elif isinstance(n, ast.Attribute):
                    opaque.add(n.attr)

    never = [
        f"{where} {name}({arg})"
        for where, name, arg, idx in knobs
        if name not in opaque
        and arg not in keywords.get(name, ())
        and (idx is None or idx >= n_positional.get(name, 0))
    ]
    assert never == [], f"{len(never)} defaulted parameters no caller sets: {never}"


def test_quantile_matches_independent_quantile_cont():
    """QUANTILE_ORACLE is the same SQL text as the Spark side (shared
    rank construct), so the driver compare alone would let a bug in
    that construct pass on both engines. Pin the construct against
    DuckDB's INDEPENDENT quantile_cont implementation (round-9
    code-review finding)."""
    import duckdb

    from monday_etl_automation_spark.plans.relational import QUANTILE_SQL

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet'"
        )
        got = con.execute(QUANTILE_SQL).fetchall()
        want = con.execute(
            """
SELECT l_returnflag,
  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 6) AS q25,
  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS median,
  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 6) AS q75,
  min(CAST(l_quantity AS DOUBLE)) AS min_qty,
  max(CAST(l_quantity AS DOUBLE)) AS max_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""".strip()
        ).fetchall()
        con.close()
        assert got == want, f"{sf}: histogram quantiles diverge from quantile_cont"
