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


def test_no_global_sort_windows(tmp_path):
    """The gate's static rule, run in tier-1 too: no ``Window.orderBy``
    (a window with no partition spec) anywhere in the package. The rule
    itself must catch a planted offender."""
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "tools"))
    try:
        from gate import global_window_hits
    finally:
        sys.path.remove(str(root / "tools"))
    assert global_window_hits(str(root / "monday_etl_automation_spark")) == []
    (tmp_path / "offender.py").write_text("w = Window.orderBy('ts')\n")
    assert len(global_window_hits(str(tmp_path))) == 1


def test_no_literal_createdataframe_in_plans(tmp_path):
    """The gate's static rule, run in tier-1 too: no plan builds a
    small parameter relation with ``spark.createDataFrame(<literal>)``
    (CLAUDE.md: VALUES relations carry size statistics). The rule
    itself must catch a planted offender."""
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "tools"))
    try:
        from gate import createdataframe_literal_hits
    finally:
        sys.path.remove(str(root / "tools"))
    assert createdataframe_literal_hits(str(root / "monday_etl_automation_spark")) == []
    (tmp_path / "plans").mkdir()
    (tmp_path / "plans" / "offender.py").write_text(
        "rows = spark.createDataFrame([('O', 'alice')], 'status string, signer string')\n"
        "ok = spark.createDataFrame(rows_from_a_probe, 'n bigint')\n"
    )
    assert len(createdataframe_literal_hits(str(tmp_path))) == 1


def test_sinks_commit_only_through_the_helpers(tmp_path):
    """The gate's static rule, run in tier-1 too: no package code sets
    ``partitionOverwriteMode`` or globs a ``col=*`` partition dir
    outside ``streaming/pipeline.py:_commit`` / ``_committed``. The rule
    itself must catch a planted offender."""
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "tools"))
    try:
        from gate import sink_commit_hits
    finally:
        sys.path.remove(str(root / "tools"))
    assert sink_commit_hits(str(root / "monday_etl_automation_spark")) == []
    (tmp_path / "offender.py").write_text(
        "df.write.option('partitionOverwriteMode', 'dynamic').partitionBy('b').parquet(p)\n"
        "files = glob.glob(os.path.join(p, '*.parquet'))\n"
    )
    assert len(sink_commit_hits(str(tmp_path))) == 1


def test_gate_rejects_unknown_arguments(monkeypatch, capsys):
    """``tools/gate.py --help`` prints its usage and exits 2 before any
    step (static checks, driver_sim, strict_compare, pytest) starts."""
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "tools"))
    try:
        import gate
    finally:
        sys.path.remove(str(root / "tools"))

    def no_step(*_args):
        raise AssertionError("a gate step started")

    monkeypatch.setattr(gate, "run", no_step)
    monkeypatch.setattr(gate, "static_checks", no_step)
    monkeypatch.setattr(sys, "argv", ["gate.py", "--help"])
    assert gate.main() == 2
    assert "usage: python tools/gate.py [--full]" in capsys.readouterr().err


# Defaulted parameters that only tests set, each with the code path
# it forces. Every other test-only knob is a constant.
TEST_ONLY_SEAMS = {
    "load_merges(path)": "loads the 8k merges artifact or a written merges file",
    "salted_join_hot_only(how)": "the LEFT join (unmatched cold rows survive the split)",
    "salted_join_hot_only(salt_on)": "the column-derived (retry-stable) salt",
    "salted_aggregate(salt_on)": "the column-derived (retry-stable) salt",
    "_converge_components(local_max_edges)": "the distributed label-propagation loop",
    "pack_sequences(chunk_size)": "the oversize-chunk rejection",
    "pack_sequences(counter)": "BPE token counts",
    "release_training_corpus(pack_budget)": "a budget that fits BPE chunks (>= word counts)",
    "release_training_corpus(tokenizer)": "the tokenized (BPE) release",
    "release_training_corpus(merges)": "the production-vocab Arrow tokenizer",
    "release_training_corpus(eod)": "EOD ids at every doc_span boundary",
    "quality_floor_sample(keep_frac)": "the keep-fraction sweep",
    "quality_floor_sample_oracle(keep_frac)": "the keep-fraction sweep",
    "chunk_oracle(counter)": "the BPE chunker oracle",
    "encode_documents(merges)": "the vectorized Arrow BPE path",
    "write_bucketed(sort_cols)": "the sortBy layout",
    "compact_parquet(partition_by)": "the partitioned (Hive layout) rewrite",
    "tumbling_counts(watermark)": "a watermark wide enough for a many-batch replay",
    "run_dedup_ingest(sink)": "reading the index the replay wrote",
}


def test_every_default_parameter_has_a_caller():
    """Every defaulted parameter of a package function or constructor
    is set — by keyword or by position — by some call in the package,
    ``tools/``, ``perfbench/``, ``tests/``, ``bench.py`` or
    ``__spark_entry__.py``. A knob no caller turns is a constant; keep
    it as one. Callees match by bare name, and a function referenced
    other than by a direct call (``pool.submit(fn)``, ``partial``,
    ``foreachBatch(sink.process_batch)``) counts as fully set.

    Scanned again with ``tests/`` left out, the knobs only tests set
    must be exactly ``TEST_ONLY_SEAMS``: a test-only knob that forces
    no path a test checks is a constant too."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pkg = sorted((root / "monday_etl_automation_spark").rglob("*.py"))

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

    def never_set(dirs):
        scope = [
            *pkg,
            *(p for d in dirs for p in sorted((root / d).rglob("*.py"))),
            root / "bench.py",
            root / "__spark_entry__.py",
        ]
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
        return {
            f"{name}({arg})": where
            for where, name, arg, idx in knobs
            if name not in opaque
            and arg not in keywords.get(name, ())
            and (idx is None or idx >= n_positional.get(name, 0))
        }

    never = never_set(("tools", "perfbench", "tests"))
    assert never == {}, f"{len(never)} defaulted parameters no caller sets: {never}"
    test_only = never_set(("tools", "perfbench"))
    unlisted = {k: v for k, v in test_only.items() if k not in TEST_ONLY_SEAMS}
    assert unlisted == {}, f"test-only knobs that force no listed path: {unlisted}"
    stale = sorted(set(TEST_ONLY_SEAMS) - set(test_only))
    assert stale == [], f"TEST_ONLY_SEAMS entries that are no longer test-only: {stale}"


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
