"""Registry-wide plan lints: scale-hardening invariants over EVERY query.

The per-query plan gates in test_plans.py check specific shapes
(pushdown, broadcast choice, top-k). This module is the complement: a
sweep over the whole registry asserting the *absence* of the plan
patterns that silently break at 100 TB even though they pass every
small-SF correctness check:

- ``CartesianProduct`` — O(n*m) row explosion; never acceptable.
- ``BatchEvalPython`` — row-at-a-time Python UDF in the plan; the only
  sanctioned Python execution is Arrow-batched (ArrowEvalPython /
  MapInPandas / FlatMapGroupsInPandas), per SCALE.md "UDF policy".
- nondeterministic expressions (rand / uuid / monotonically_increasing_id)
  in the *optimized* plan — they break retry semantics: a recomputed
  task would emit different rows, so any operator relying on them is
  only correct until the first executor loss. All sampling/split ops
  here are hash-deterministic by design (operators/sampling.py).
- ``BroadcastNestedLoopJoin`` whose broadcast side is NOT a keyless
  aggregate — keyless agg == guaranteed exactly-1-row build side (the
  scalar-subquery pattern: q11/q22 thresholds, corpus-total joins),
  which is a constant-size broadcast at any scale. Anything else being
  BNLJ'd would ship an unbounded build side to every executor.
- a *forced* broadcast hint (ResolvedHint in the analyzed plan) whose
  subtree scans a fact table (lineitem/orders/events/documents/
  embeddings) without an intervening Aggregate. Statistics-driven
  broadcasts at sf0.001 are fine — AQE re-decides at real scale — but
  an explicit hint overrides statistics forever, so a hinted fact scan
  must be reduced (aggregated) before broadcast.

Reference posture: fuse-query picks join/shuffle strategy statically in
its planner (fusequery/query/src/interpreters/plan_scheduler.rs); we
delegate the choice to Catalyst/AQE, so THE thing to gate is that no
query takes the choice away from AQE in a way that can't scale.
"""

from __future__ import annotations

import re

import pytest

from fuse_query_spark.queries import load_registry

SF_DIR = "/root/testdata/sf0.001"

FACT_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}

KEYLESS_AGG_MARKERS = (
    "HashAggregate(keys=[]",
    "SortAggregate(keys=[]",
    "ObjectHashAggregate(keys=[]",
)

NONDETERMINISTIC_MARKERS = ("rand(", "uuid()", "monotonically_increasing_id")


def _walk(node):
    yield node
    children = node.children()
    for i in range(children.length()):
        yield from _walk(children.apply(i))


def _lint(df):
    """Return a list of issue strings for one DataFrame's plans."""
    issues = []
    qe = df._jdf.queryExecution()
    spark_plan = qe.sparkPlan()
    plan_str = spark_plan.treeString()
    optimized_str = qe.optimizedPlan().treeString()

    if "CartesianProduct" in plan_str:
        issues.append("CartesianProduct in physical plan")
    if "BatchEvalPython" in plan_str:
        issues.append("row-at-a-time Python UDF (BatchEvalPython) in physical plan")
    for marker in NONDETERMINISTIC_MARKERS:
        if marker in optimized_str:
            issues.append(f"nondeterministic expression {marker!r} in optimized plan")

    for node in _walk(spark_plan):
        if "BroadcastNestedLoopJoin" not in node.getClass().getSimpleName():
            continue
        build_left = "BuildLeft" in str(node.buildSide())
        build = node.children().apply(0 if build_left else 1)
        build_str = build.treeString()
        if not any(m in build_str for m in KEYLESS_AGG_MARKERS):
            issues.append(
                "BroadcastNestedLoopJoin with non-keyless-aggregate build side "
                "(unbounded broadcast)"
            )

    for node in _walk(qe.analyzed()):
        if node.getClass().getSimpleName() != "ResolvedHint":
            continue
        subtree = node.treeString().lower()
        hinted_facts = sorted(t for t in FACT_TABLES if t in subtree)
        if hinted_facts and "aggregate" not in subtree:
            issues.append(
                f"forced broadcast hint over unreduced fact table(s) {hinted_facts}"
            )

    return issues


@pytest.fixture(scope="module")
def registry():
    return load_registry()


def test_registry_plan_lints(spark, registry):
    """Every registry query's plan passes every lint (one sweep, one report)."""
    failures = {}
    for name, spec in registry.items():
        df = spec.fn(spark, SF_DIR)
        issues = _lint(df)
        if issues:
            failures[name] = issues
    assert not failures, "plan lints failed:\n" + "\n".join(
        f"  {n}: {'; '.join(iss)}" for n, iss in sorted(failures.items())
    )


# Registry queries whose physical plan contains a PARTITION-LESS window
# (Spark's "Moving all data to a single partition" warning — an executor
# OOM at 100 TB). Each entry must be the ORACLE-PORTABILITY form of an
# operator that ALSO ships a window-free scale path; the lint verifies
# that claim by building the named variant and asserting its plan has
# no Window at all, so a justification can never go stale into fiction
# (the r6 verdict caught exactly that: a docstring pointing to an
# approx variant that didn't exist).
GLOBAL_WINDOW_JUSTIFIED = {
    # exact ntile banding is the DuckDB-hashable twin; bands="approx"
    # (percentile_approx thresholds + CASE) is the 100 TB path
    "text_perplexity_bands": lambda spark: __import__(
        "fuse_query_spark.operators.text", fromlist=["perplexity_bands"]
    ).perplexity_bands(
        __import__(
            "fuse_query_spark.sources.tables", fromlist=["table"]
        ).table(spark, SF_DIR, "documents"),
        bands="approx",
    ),
    # exact top-frac cut is the hashable twin; cut="approx"
    # (one percentile_approx threshold) is the 100 TB path
    "sample_dsir_importance": lambda spark: __import__(
        "fuse_query_spark.operators.sampling", fromlist=["dsir_select"]
    ).dsir_select(
        __import__(
            "fuse_query_spark.sources.tables", fromlist=["table"]
        ).table(spark, SF_DIR, "documents"),
        cut="approx",
    ),
}

_WINDOW_EXEC_CLASSES = ("WindowExec", "WindowGroupLimitExec", "WindowInPandasExec")


def _global_windows(df) -> list[str]:
    hits = []
    for node in _walk(df._jdf.queryExecution().sparkPlan()):
        cls = node.getClass().getSimpleName()
        if cls in _WINDOW_EXEC_CLASSES and node.partitionSpec().isEmpty():
            hits.append(cls)
    return hits


def test_no_unjustified_global_window(spark, registry):
    """No registry query may move the whole input into ONE partition
    via a partition-less window unless its operator ships a verified
    window-free scale variant (GLOBAL_WINDOW_JUSTIFIED). The allowlist
    is checked both ways: unlisted offenders fail, and stale entries
    (no longer exhibiting a global window) fail too."""
    offenders = {}
    for name, spec in registry.items():
        hits = _global_windows(spec.fn(spark, SF_DIR))
        if hits:
            offenders[name] = hits
    unjustified = {n: h for n, h in offenders.items() if n not in GLOBAL_WINDOW_JUSTIFIED}
    assert not unjustified, (
        "partition-less Window in registry plans without a justified "
        f"scale variant: {unjustified}"
    )
    stale = sorted(set(GLOBAL_WINDOW_JUSTIFIED) - set(offenders))
    assert not stale, f"GLOBAL_WINDOW_JUSTIFIED entries no longer needed: {stale}"
    # every justification must be real: the scale variant's plan holds
    # NO window at all (not merely a partitioned one)
    for name, build in GLOBAL_WINDOW_JUSTIFIED.items():
        variant_plan = (
            build(spark)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in variant_plan, (
            f"{name}: the claimed scale variant still contains a Window"
        )


def test_lint_catches_cartesian(spark):
    """Self-test: the lint actually fires on a genuine cartesian product."""
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    bad = a.crossJoin(b)
    assert any("Cartesian" in i or "BroadcastNestedLoopJoin" in i for i in _lint(bad))


def test_lint_catches_row_udf(spark):
    """Self-test: a row-at-a-time Python UDF is flagged."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x + 1, LongType())
    bad = spark.range(10).select(slow("id").alias("y"))
    assert any("BatchEvalPython" in i for i in _lint(bad))


def test_lint_catches_nondeterminism(spark):
    """Self-test: rand() in the plan is flagged."""
    from pyspark.sql import functions as F

    bad = spark.range(10).select(F.rand(42).alias("r"))
    assert any("nondeterministic" in i for i in _lint(bad))


def test_lint_accepts_scalar_subquery_pattern(spark):
    """Self-test: the whitelisted 1-row-aggregate broadcast passes."""
    from pyspark.sql import functions as F

    a = spark.range(100).withColumn("v", F.col("id") * 2)
    total = a.agg(F.sum("v").alias("total"))
    ok = a.crossJoin(total).filter(F.col("v") > F.col("total") / 200)
    assert _lint(ok) == []


def test_driver_priority_schemas_atomic(spark):
    """Every driver-facing query emits only atomic, non-decimal columns.

    The driver's correctness gate canonicalizes results through pandas
    (sort_values + per-cell hashing); Array/Map/Struct cells are
    unhashable there (killed agg_approx in r2 and embedding_pq_encode
    in r5) and Decimal cells stringify differently than the DuckDB
    oracle's float64 (killed correlated_scalar_subquery in r5). Gate
    the whole 50-slot prefix so the class can't recur: complex values
    must be exploded to scalars or stringified before the boundary.
    """
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    from fuse_query_spark.queries import DRIVER_PRIORITY, load_registry

    reg = load_registry()
    failures = {}
    for name in DRIVER_PRIORITY:
        df = reg[name].fn(spark, SF_DIR)
        bad = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType, DecimalType))
        ]
        if bad:
            failures[name] = bad
    assert not failures, (
        "driver-facing queries with non-atomic/decimal output columns "
        "(explode or cast at the boundary):\n"
        + "\n".join(f"  {n}: {c}" for n, c in sorted(failures.items()))
    )


def test_package_reads_only_deployment_env():
    """No env-var knobs in the package: every line under
    fuse_query_spark/ that touches os.environ or getenv names one of
    the deployment settings. A behaviour switch belongs in code (one
    production path) or in an engine setting visible in
    system.settings."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "fuse_query_spark"
    allowed = re.compile(r"[\"'](SPARK_GRAFT_CPUS|SPARK_GRAFT_DRIVER_MEM)[\"']")
    bad = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"os\.environ|getenv", line) and not allowed.search(line)
    ]
    assert bad == []


def test_engine_builds_driver_rows_as_local_relations():
    """No createDataFrame call in the engine, the Snapshot source, the
    system tables, the operators or the plans:
    rows the driver holds go through sources.tables.local_rows, an
    Arrow local relation (LocalTableScan). createDataFrame on a Python
    list plans a Python RDD, and every scan of it, for the life of a
    Memory table, starts Python workers to unpickle the rows."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "fuse_query_spark"
    files = [
        pkg / rel
        for rel in (
            "engine.py", "sources/snapshots.py", "sources/storage.py", "sources/system_tables.py"
        )
    ]
    files += sorted((pkg / "operators").glob("*.py")) + sorted((pkg / "plans").glob("*.py"))
    bad = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in files
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert bad == []


# A one-character string literal holding a quote, as Python source.
_QUOTE_CHAR = r"""(?:"'"|'"'|"\\""|'\\'')"""
_QUOTE_TEST = re.compile(
    rf"[=!]=\s*{_QUOTE_CHAR}|{_QUOTE_CHAR}\s*[=!]="  # ch == "'"
    rf"|{_QUOTE_CHAR}\s+(?:not\s+)?in\b"  # "'" in text
    r"""|\bin\s+(?:"[^"\s]*'[^"\s]*"|'[^'\s]*"[^'\s]*'|"[^"\s]*\\"[^"\s]*")"""  # ch in "'\""
    rf"|\(\s*{_QUOTE_CHAR}\s*,"  # ch in ("'", '"')
    rf"|\.(?:startswith|endswith|strip|lstrip|rstrip)\(\s*{_QUOTE_CHAR}"
    r"""|\[\^\\?['"]"""  # a regex class that stops at a quote: '(?:[^']|'')*'
)


def _quote_tests(pkg) -> list[str]:
    lexer = pkg / "dialect" / "lexer.py"
    return [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != lexer
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _QUOTE_TEST.search(line)
    ]


def test_only_the_lexer_tests_for_quotes():
    """One module knows what a quote is: no line under
    fuse_query_spark/ outside dialect/lexer.py tests for a quote
    character. A scanner of its own would lex some statement
    differently from the lexer (and from Spark); callers split, mask,
    strip comments and decode literals through dialect.lexer."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "fuse_query_spark"
    assert _quote_tests(pkg) == []


def test_quote_lint_flags_hand_written_scanners(tmp_path):
    """The lint recognizes the scanner shapes it forbids."""
    src = r"""
if ch in "'\"":
if ch in "'\"`":
if ch == "'":
if ch in ("'", '"'):
if "'" in g or '"' in g:
if v.startswith("'") and v.endswith("'"):
value = raw.strip().strip("'")
scan = re.sub(r"'(?:[^']|'')*'", "''", s)
m = re.match(r"^'([^']*)'$", a)
""".strip().splitlines()
    (tmp_path / "dialect").mkdir()
    (tmp_path / "scanner.py").write_text("\n".join(src) + "\n")
    (tmp_path / "dialect" / "lexer.py").write_text("\n".join(src) + "\n")
    assert [hit.split(":")[1] for hit in _quote_tests(tmp_path)] == [
        str(n) for n in range(1, len(src) + 1)
    ]


# An engine-name comparison: `tdef.engine == "Memory"`, `engine in (…)`.
_ENGINE_TEST = re.compile(r"\bengine\s*(?:==|!=|not\s+in\b|in\b)")


def _engine_tests(pkg) -> list[str]:
    storage = pkg / "sources" / "storage.py"
    return [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != storage
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _ENGINE_TEST.search(line)
    ]


def test_only_storage_compares_engine_names():
    """One module decides what an engine does: no line under
    fuse_query_spark/ outside sources/storage.py compares an engine
    name. Behaviour per engine lives on its storage object
    (TableDef.storage); tdef.engine is only the name shown."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "fuse_query_spark"
    assert _engine_tests(pkg) == []


def test_engine_lint_flags_name_branches(tmp_path):
    """The lint recognizes the branch shapes it forbids."""
    src = """
if tdef.engine == "Memory":
elif tdef.engine in writers:
if tdef.engine not in ("Parquet", "CSV"):
if engine != "Snapshot":
if engine in cls._PARTITIONABLE_ENGINES:
""".strip().splitlines()
    (tmp_path / "sources").mkdir()
    (tmp_path / "engine.py").write_text("\n".join(src) + "\nengine._live.get(pid) == 1\n")
    (tmp_path / "sources" / "storage.py").write_text("\n".join(src) + "\n")
    assert [hit.split(":")[1] for hit in _engine_tests(tmp_path)] == [
        str(n) for n in range(1, len(src) + 1)
    ]


def test_distributed_planner_reads_no_sql_text():
    """The distributed planner reads the analyzed plan, not statement
    text: plans/distributed.py imports nothing from the dialect
    package (no lexer, no rewriter), so it cannot grow a clause
    scanner of its own again."""
    import ast
    import pathlib

    src = pathlib.Path(__file__).resolve().parent.parent / "fuse_query_spark/plans/distributed.py"
    imported = []
    for node in ast.walk(ast.parse(src.read_text())):
        if isinstance(node, ast.ImportFrom):
            imported.append(node.module or "")
        elif isinstance(node, ast.Import):
            imported += [a.name for a in node.names]
    assert [m for m in imported if m.startswith("fuse_query_spark.dialect")] == []


# A JPEG segment-length read: the two bytes after a marker at `pos`,
# sliced `data[pos + 2 : pos + 4]` or shifted `data[pos + 2] << 8`.
_SEGMENT_LENGTH = re.compile(r"\[\s*(\w+)\s*\+\s*2\s*(?::\s*\1\s*\+\s*4\s*\]|\]\s*<<\s*8)")


def _jpeg_walk_report(src: str) -> tuple[set[str], list[str]]:
    """(functions that read a JPEG segment length, nested `seg`
    helpers as outer.seg) in one module's source."""
    import ast

    funcs = [
        n for n in ast.walk(ast.parse(src))
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]

    def owner(lineno: int) -> str:
        inner = [f for f in funcs if f.lineno <= lineno <= f.end_lineno]
        return min(inner, key=lambda f: f.end_lineno - f.lineno).name if inner else "<module>"

    readers = {
        owner(n) for n, line in enumerate(src.splitlines(), 1) if _SEGMENT_LENGTH.search(line)
    }
    nested = [
        f"{outer.name}.{f.name}"
        for outer in funcs
        for f in ast.walk(outer)
        if f is not outer and isinstance(f, ast.FunctionDef) and f.name == "seg"
    ]
    return readers, nested


def test_one_jpeg_segment_walk():
    """One function reads JPEG segment lengths: in
    operators/multimodal.py only _jpeg_segments takes the two length
    bytes after a marker, and no function defines a nested `seg`
    writer. The header probes and the decoder walk through
    _jpeg_segments, and every encoder writes through _jpeg_seg, so a
    second marker walk cannot drift from the first."""
    import pathlib

    src = pathlib.Path(__file__).resolve().parent.parent / "fuse_query_spark/operators/multimodal.py"
    assert _jpeg_walk_report(src.read_text()) == ({"_jpeg_segments"}, [])


def test_jpeg_walk_lint_flags_second_walks():
    """The lint recognizes the shapes it forbids."""
    src = """
def _jpeg_segments(data, pos):
    end = pos + 2 + (data[pos + 2] << 8 | data[pos + 3])

def _jpeg_dims(b, pos):
    seglen = struct.unpack(">H", b[pos + 2 : pos + 4])[0]

def encode():
    def seg(marker, body):
        return body
"""
    assert _jpeg_walk_report(src) == ({"_jpeg_segments", "_jpeg_dims"}, ["encode.seg"])


# Statement text read by hand: a name regex (`[\w.]+`, `(\w+)`), a
# re.match / re.compile (every one in these modules read statement
# text), or a keyword prefix test (`.upper().startswith(`,
# `.startswith("DROP TABLE")`).
_STATEMENT_REGEX = re.compile(
    r"\[\\w\.\]\+|\(\\w\+\)|\bre\.(?:match|compile|fullmatch)\("
    r"|\.upper\(\)\.startswith\(|\.startswith\(\(?\"[A-Z][A-Z ]*\""
)


def _statement_regexes(pkg) -> list[str]:
    files = [pkg / "engine.py"] + sorted((pkg / "servers").glob("*.py"))
    return [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in files
        if path.exists()
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _STATEMENT_REGEX.search(line)
    ]


def test_statements_are_read_by_the_grammar():
    """The engine and the wire servers read statements through the one
    statement grammar (dialect.lexer.Cursor): no name regex, no
    re.match/re.compile and no upper-cased prefix test over statement
    text, so whitespace, comments, keyword case and quoted names mean
    the same in every statement kind."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "fuse_query_spark"
    assert _statement_regexes(pkg) == []


def test_statement_lint_flags_hand_written_parsers(tmp_path):
    """The lint recognizes the shapes it forbids."""
    src = r"""
if up.startswith("CREATE TABLE"):
if inner.upper().startswith(("SELECT", "WITH", "(")):
m = re.match(r"(?is)^DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*$", s)
_DELETE = re.compile(r"(?is)^DELETE\s+FROM\s+(\S+)\s+WHERE\s+(.+)$")
m = re.search(r"(?is)^SET\s+(\w+)\s*=\s*(.+)$", s)
if not qid or not re.fullmatch(r"[\w-]+", qid):
""".strip().splitlines()
    (tmp_path / "servers").mkdir()
    (tmp_path / "engine.py").write_text("\n".join(src) + "\nc.accept('DROP', 'TABLE')\n")
    (tmp_path / "servers" / "wire.py").write_text(src[0] + "\n")
    assert [hit.split(":")[:2] for hit in _statement_regexes(tmp_path)] == [
        ["engine.py", str(n)] for n in range(1, len(src) + 1)
    ] + [["servers/wire.py", "1"]]
