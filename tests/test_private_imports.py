"""Ratchet: no new private (``_``-prefixed) names reached across modules.

Shared mechanisms get a public home (cache lifetime lives in
``plans/scope.py``); a private name imported from another tstore_spark
module, or read as an attribute of one, is a second copy waiting to
happen. The allowlist holds the imports that predate this rule; shrink it,
never grow it."""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

ALLOWED = {
    ("tstore_spark.operators.search", "_tokens"),
    ("tstore_spark.sources.zonemaps", "_list_parquet"),
    ("tstore_spark.operators.countmin", "_cells"),
    ("tstore_spark.operators.promhist", "_check_bounds"),
    ("tstore_spark.operators.rollup", "_pcts_from_hist_batch"),
    ("tstore_spark.operators.rollup", "_merged_hist_udf"),
    ("tstore_spark.sources.zorder", "_as_double"),
    ("tstore_spark.sources.zorder", "_cut_cell"),
    ("tstore_spark.sources.zorder", "_scaled_cell"),
}


def _is_module(dotted: str) -> bool:
    p = REPO.joinpath(*dotted.split("."))
    return p.with_suffix(".py").exists() or (p / "__init__.py").exists()


def _private_uses(path: Path) -> list[tuple[str, str, int]]:
    tree = ast.parse(path.read_text(), filename=str(path))
    uses, modules = [], {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("tstore_spark"):
            for a in node.names:
                if a.name.startswith("_"):
                    uses.append((node.module, a.name, node.lineno))
                elif _is_module(f"{node.module}.{a.name}"):
                    modules[a.asname or a.name] = f"{node.module}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("tstore_spark") and a.asname:
                    modules[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and node.attr.startswith("_")
            and not node.attr.startswith("__")
        ):
            uses.append((modules[node.value.id], node.attr, node.lineno))
    return uses


def test_no_new_private_cross_module_imports():
    files = sorted((REPO / "tstore_spark").rglob("*.py")) + [REPO / "__spark_entry__.py"]
    bad = [
        f"{f.relative_to(REPO)}:{line}: {mod}.{name}"
        for f in files
        for mod, name, line in _private_uses(f)
        if (mod, name) not in ALLOWED
    ]
    assert not bad, "private cross-module names:\n" + "\n".join(bad)


def test_ratchet_sees_both_access_forms(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text(
        "from tstore_spark.operators.dedup import _hidden\n"
        "from tstore_spark.operators import dedup as DD\n"
        "DD._other()\n"
    )
    assert {(m, n) for m, n, _ in _private_uses(src)} == {
        ("tstore_spark.operators.dedup", "_hidden"),
        ("tstore_spark.operators.dedup", "_other"),
    }
