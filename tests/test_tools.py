"""Guards for tools/: every package name a tool imports still exists (a
lane deletion must not leave a tool broken unnoticed), and the ABAB
harness passes equal variants and fails unequal ones."""

import ast
import importlib
import sys
from pathlib import Path

from pyspark.sql import functions as F
from test_bucketing import SF  # the sf0.001 test lake

from flink_cdc_multi_spark.plans.queries import load_table

TOOLS = Path(__file__).resolve().parents[1] / "tools"
PACKAGE = "flink_cdc_multi_spark"

sys.path.insert(0, str(TOOLS))

import abab  # noqa: E402


def _package_imports(path: Path):
    """(module, name-or-None) for every package import in one file,
    function-local imports included."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and (node.module or "").split(".")[0] == PACKAGE:
            for alias in node.names:
                yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield alias.name, None


def test_tool_package_imports_resolve():
    missing = []
    for path in sorted(TOOLS.glob("*.py")):
        for module, name in _package_imports(path):
            try:
                mod = importlib.import_module(module)
            except ImportError as e:
                missing.append(f"{path.name}: {module} ({e})")
                continue
            if name is not None and not hasattr(mod, name):
                try:  # `from pkg import submodule`
                    importlib.import_module(f"{module}.{name}")
                except ImportError:
                    missing.append(f"{path.name}: {module}.{name}")
    assert not missing, missing


# ABAB variants: the harness resolves them as module:function strings
def open_orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    ).select("o_orderkey", "o_totalprice")


def open_orders_rewritten(spark, sf_dir):
    # same rows, different plan text: project first, filter via semi-join
    o = load_table(spark, sf_dir, "orders")
    keys = o.filter("o_orderstatus = 'O'").select("o_orderkey")
    return o.select("o_orderkey", "o_totalprice").join(keys, "o_orderkey", "left_semi")


def all_orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")


def test_abab_gates_on_checksums(spark, monkeypatch):
    monkeypatch.setattr(abab, "ROUNDS", 1)
    specs = ("test_tools:open_orders", "test_tools:open_orders_rewritten",
             "test_tools:all_orders")
    res = abab.run_abab(spark, SF, {s: abab.resolve(s) for s in specs})
    for t in res.values():
        assert t.rows > 0 and len(t.samples) == 2  # one per alternation order
    equal = {s: res[s] for s in specs[:2]}
    assert abab.checksums_agree(equal)
    assert "checksums: equal" in abab.report(equal)
    assert not abab.checksums_agree(res)
    assert "checksums: DIFFER" in abab.report(res)
