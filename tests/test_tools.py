"""Verification tooling honesty: a mistyped check_oracle selector must
fail loudly, never print a green transcript over zero queries
(VERDICT r04 'What's wrong' #4)."""

from __future__ import annotations

import sys

from tools import check_oracle


def test_unknown_query_name_is_a_hard_error(monkeypatch):
    monkeypatch.setattr(
        sys, "argv", ["check_oracle.py", "/root/testdata/sf0.001", "bogus_q"]
    )
    # returns before any Spark/DuckDB work: exit code 2, not PASS(0)
    assert check_oracle.main() == 2


def test_mixed_known_and_unknown_names_still_error(monkeypatch):
    monkeypatch.setattr(
        sys,
        "argv",
        ["check_oracle.py", "/root/testdata/sf0.001", "q1_pickup_count", "nope"],
    )
    assert check_oracle.main() == 2


def test_hostile_columns_flags_uncast_sum():
    """The shared type predicate: DuckDB widens sum(BIGINT) to HUGEINT,
    which the driver's pandas canonicalizer hashes differently from
    Spark's int64 even when every value matches (VERDICT r07 #1)."""
    import duckdb

    from tools.check_oracle_types import hostile_columns

    con = duckdb.connect()
    desc = con.execute(
        "DESCRIBE SELECT sum(x) AS s, CAST(sum(x) AS BIGINT) AS ok"
        " FROM (SELECT CAST(1 AS BIGINT) AS x)"
    ).fetchall()
    bad = hostile_columns(desc)
    assert [c for c, _ in bad] == ["s"], bad


def test_uncast_oracle_fails_the_gate_even_when_values_match(
    spark, monkeypatch
):
    """End-to-end proof the mandatory gate inside check_oracle.main
    cannot be green over a driver-hostile oracle: a fixture query whose
    Spark and DuckDB values are IDENTICAL, but whose oracle emits a
    HUGEINT column, must FAIL (VERDICT r07 item 2's fixture test)."""
    from tools import check_oracle

    def fixture_q(spark, sf_dir):
        return spark.sql("SELECT CAST(3 AS BIGINT) AS s")

    monkeypatch.setattr(
        check_oracle.entry, "queries", lambda: {"fixture_uncast": fixture_q}
    )
    monkeypatch.setattr(
        check_oracle.entry,
        "oracle_sql",
        lambda: {
            # values match Spark's exactly (one row, s=3) — only the
            # bound type (HUGEINT from the uncast sum) is hostile
            "fixture_uncast": (
                "SELECT sum(x) AS s FROM (SELECT CAST(3 AS BIGINT) AS x)"
            )
        },
    )
    monkeypatch.setattr(
        sys, "argv", ["check_oracle.py", "/root/testdata/sf0.001"]
    )
    assert check_oracle.main() == 1


def test_make_ledger_covers_every_registry_entry():
    """LEDGER.md generation: every queries() entry gets a row, rows for
    green entries carry their latest round, and entries without a green
    correctness row are flagged as awaiting their first window.
    Rendered in memory: the committed table is left as it is."""
    import __spark_entry__ as entry
    from tools import make_ledger

    text = make_ledger.render()
    for name in entry.queries():
        assert f"| {name} |" in text, name


def test_float_audit_no_raw_transcendentals_in_oracles():
    """The determinism tripwire (tools/float_audit.py): no oracle-paired
    expression may call a non-correctly-rounded function (ln/exp/pow/...)
    outside the explicit allowlist — those must go through
    functions/detmath.py, or the driver hash can flip on a cross-engine
    ulp at a quantization boundary (the r08 fuzz counterexample). The
    allowlist must also stay live: a stale row (entry no longer hitting)
    fails too, so the r10 tfidf migration cannot silently leave its
    exception behind."""
    from tools import float_audit

    hits = float_audit.audit()
    unexpected = {n: f for n, f in hits.items() if n not in float_audit.ALLOW}
    assert not unexpected, unexpected
    assert all(n in hits for n in float_audit.ALLOW), "stale allowlist row"


def test_float_audit_source_scan_covers_spark_only_expressions(tmp_path):
    """The r10 extension of the tripwire (ADVICE r09 #4): the oracle
    scan only sees text shared with ``oracle_sql()``; a Spark-side-only
    ``F.expr("... ln(x) ...")`` or a direct ``F.log`` call in a plan
    builder would reintroduce the cross-engine ulp exposure unseen.
    ``audit_sources`` walks every package module's AST. Two assertions:
    the real package is clean, and the scanner actually CATCHES both
    violation shapes (planted in a temp package) while ignoring
    docstrings and comments that merely mention ln()."""
    from tools import float_audit

    hits = float_audit.audit_sources()
    unexpected = {
        rel: [t for t in toks if (rel, t) not in float_audit.ALLOW_SOURCES]
        for rel, toks in hits.items()
    }
    assert not {r: t for r, t in unexpected.items() if t}, unexpected
    assert all(
        k[1] in hits.get(k[0], []) for k in float_audit.ALLOW_SOURCES
    ), "stale source allowlist row"

    pkg = tmp_path / "fakepkg"
    pkg.mkdir()
    (pkg / "dirty.py").write_text(
        '"""Docstring mentioning ln(x) — must NOT be flagged."""\n'
        "from pyspark.sql import functions as F\n"
        "# a comment with exp(y) — must NOT be flagged\n"
        'EXPR = "a + ln(b / c)"\n'
        "COL = F.log(2.0)\n"
    )
    (pkg / "clean.py").write_text(
        '"""exp(z) in a docstring only."""\nX = "floor(a * 1e6 + 0.5)"\n'
    )
    # r10 review: non-`F` spellings must be caught too
    (pkg / "aliased.py").write_text(
        "from pyspark.sql import functions as sf\n"
        "COL = sf.exp(1.0)\n"
    )
    (pkg / "qualified.py").write_text(
        "import pyspark.sql.functions\n"
        "COL = pyspark.sql.functions.pow(2.0, 3.0)\n"
    )
    (pkg / "fromimport.py").write_text(
        "from pyspark.sql.functions import log\n"
    )
    planted = float_audit.audit_sources(str(pkg))
    assert planted == {
        "fakepkg/dirty.py": ["F.log", "ln"],
        "fakepkg/aliased.py": ["F.exp"],
        "fakepkg/qualified.py": ["F.pow"],
        "fakepkg/fromimport.py": ["from-import of forbidden function"],
    }, planted


def test_no_duplicate_top_level_definitions():
    """A second top-level ``def``/``class`` of the same name silently
    shadows the first, and callers written against the first one's
    contract get the second's (the corpus_io token-clock bug: recovery's
    None-on-unparseable clock was replaced by expiry's 0). No package
    module may define a top-level name twice."""
    import ast
    import os
    from collections import Counter

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "flink_stream_processing_refarch_spark",
    )
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    dups = []
    for root, _, files in os.walk(pkg):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                body = ast.parse(f.read(), path).body
            names = Counter(n.name for n in body if isinstance(n, defs))
            dups += [f"{path}: {n}" for n, c in names.items() if c > 1]
    assert dups == []


def test_tools_reference_only_live_package_names():
    """Every attribute a tool script reads off a package module it binds
    by name (jobs, sketches, selection, relational, sinks, corpus_io),
    and every name it imports from one of those modules, must exist: a
    helper or option removed or moved in the package must not leave a
    script behind that only fails when someone runs it. AST scan; no
    script is executed."""
    import ast
    import glob
    import importlib
    import os

    modules = {
        m.__name__: m
        for m in (
            importlib.import_module(
                f"flink_stream_processing_refarch_spark.{sub}"
            )
            for sub in (
                "streaming.jobs",
                "operators.sketches",
                "operators.selection",
                "plans.relational",
                "streaming.sinks",
                "operators.corpus_io",
            )
        )
    }
    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    missing = []
    for path in sorted(glob.glob(os.path.join(tools, "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        bound = {}  # local name -> module object, however it was imported
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    full = f"{node.module}.{a.name}"
                    if full in modules:
                        bound[a.asname or a.name] = modules[full]
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name in modules and a.asname:
                        bound[a.asname] = modules[a.name]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in bound
            ):
                module, names = bound[node.value.id], [node.attr]
            elif isinstance(node, ast.ImportFrom) and node.module in modules:
                module, names = modules[node.module], [
                    a.name for a in node.names
                ]
            else:
                continue
            missing += [
                f"{os.path.basename(path)}:{node.lineno}: {n}"
                for n in names
                if not hasattr(module, n)
            ]
    assert missing == []


def test_docs_and_code_name_only_existing_tools():
    """Every ``tools/<name>`` script named in the package, the tests, the
    driver entry, README.md, SCALING*.md, PLANS.md or the verify skill
    must exist, unless that same line says the script was removed: a
    deleted probe must not leave a pointer that sends a reader to a file
    that is gone."""
    import glob
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = (
        glob.glob(
            os.path.join(root, "flink_stream_processing_refarch_spark", "**", "*.py"),
            recursive=True,
        )
        + glob.glob(os.path.join(root, "tests", "*.py"))
        + glob.glob(os.path.join(root, "SCALING*.md"))
        + [
            os.path.join(root, p)
            for p in (
                "__spark_entry__.py",
                "README.md",
                "PLANS.md",
                ".claude/skills/verify/SKILL.md",
            )
        ]
    )
    dangling = []
    for path in sorted(paths):
        with open(path) as f:
            for n, line in enumerate(f, 1):
                if "removed" in line:
                    continue
                dangling += [
                    f"{os.path.relpath(path, root)}:{n}: tools/{name}.py"
                    for name in re.findall(r"\btools/(\w+)", line)
                    if not os.path.exists(os.path.join(root, "tools", f"{name}.py"))
                ]
    assert dangling == []
