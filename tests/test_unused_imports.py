"""No unused module-level imports in the runtime package (the repo has no
linter; this AST scan is its guard). Package `__init__.py` files are
skipped (their imports are re-exports), as are the DuckDB oracle twins
(`oracle/`) and vendored code (`vendor/`). No Spark session needed."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "unifydb_spark"
SKIP_DIRS = {"oracle", "vendor"}


def _module_imports(tree: ast.Module) -> dict:
    """Bound name -> line of every module-level import (top-level and
    inside top-level try/if blocks)."""
    out: dict = {}
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Try, ast.If)):
            stack.extend(node.body + node.orelse)
            stack.extend(h for t in getattr(node, "handlers", []) for h in t.body)
        elif isinstance(node, ast.Import):
            for a in node.names:
                out[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                out[a.asname or a.name] = node.lineno
    return out


def _annotations(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.returns
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]:
                yield arg and arg.annotation
        elif isinstance(node, ast.AnnAssign):
            yield node.annotation


def _used_names(tree: ast.Module) -> set:
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    # names inside quoted annotations ("dict[int, Var]")
    for ann in filter(None, _annotations(tree)):
        for c in ast.walk(ann):
            if isinstance(c, ast.Constant) and isinstance(c.value, str):
                sub = ast.parse(c.value, mode="eval")
                used.update(n.id for n in ast.walk(sub) if isinstance(n, ast.Name))
    # re-exports listed in __all__
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used.update(ast.literal_eval(node.value))
    return used


def test_no_unused_module_level_imports():
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG)
        if path.name == "__init__.py" or SKIP_DIRS & set(rel.parts[:-1]):
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        used = _used_names(tree)
        unused += [
            f"{rel}:{line} {name}"
            for name, line in _module_imports(tree).items()
            if name not in used
        ]
    assert not unused, "unused module-level imports:\n" + "\n".join(unused)
