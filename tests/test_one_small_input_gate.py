"""One small-input gate: every driver twin sizes its input through
``session.collect_if_small``.

AST only (no Spark, no imports of the package). Fails when a function of
the package other than ``collect_if_small`` probes a size with its own
``.limit(<n> + 1).collect()`` chain, or when a def takes a ``driver_max_*``
parameter (a per-call bound instead of the shared one).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "crawl4ai_custom_spark"


def _is_plus_one(node: ast.AST) -> bool:
    return (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add)
            and any(isinstance(x, ast.Constant) and x.value == 1
                    for x in (node.left, node.right)))


def _is_limit_plus_one_collect(node: ast.AST) -> bool:
    """``<expr>.limit(<n> + 1).collect()``"""
    if not (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "collect"):
        return False
    inner = node.func.value
    return (isinstance(inner, ast.Call)
            and isinstance(inner.func, ast.Attribute)
            and inner.func.attr == "limit"
            and any(_is_plus_one(a) for a in inner.args))


def _violations(tree: ast.AST, rel: str) -> list[str]:
    out: list[str] = []

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            params = a.posonlyargs + a.args + a.kwonlyargs + [
                x for x in (a.vararg, a.kwarg) if x is not None]
            out.extend(f"{rel}:{node.lineno} {node.name}({p.arg})"
                       for p in params if p.arg.startswith("driver_max_"))
            func = node.name
        elif _is_limit_plus_one_collect(node) and func != "collect_if_small":
            out.append(f"{rel}:{node.lineno} limit(n + 1).collect() in "
                       f"{func or '<module>'}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def test_size_probes_go_through_collect_if_small():
    found: list[str] = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG.parent))
        found += _violations(ast.parse(path.read_text(), rel), rel)
    assert not found, "\n".join(found)


def test_guard_sees_a_probe_and_a_bound_parameter():
    src = (
        "def gate(df, driver_max_rows=5):\n"
        "    return df.limit(driver_max_rows + 1).collect()\n"
        "def collect_if_small(df, max_rows):\n"
        "    return df.limit(max_rows + 1).collect()\n"
    )
    assert _violations(ast.parse(src), "m.py") == [
        "m.py:1 gate(driver_max_rows)",
        "m.py:2 limit(n + 1).collect() in gate",
    ]
