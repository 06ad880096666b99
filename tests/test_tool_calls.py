"""Every keyword argument that the tools, bench scripts, jobs and the query
registry pass to an engine function names a parameter that function has.

The callers are parsed with `ast`, not run, so a removed or renamed option
fails here instead of on the next (slow, rarely run) bench or tool run. No
Spark session is started."""

import ast
import importlib
import inspect
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
CALLERS = sorted(
    [*ROOT.glob("tools/*.py"), *ROOT.glob("jobs/**/*.py")]
    + [ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"]
)


def _import_bindings(nodes) -> dict[str, tuple[str, ...]]:
    """name -> (module, attr...) for engine imports among `nodes` (not
    descending into nested functions)."""
    out = {}
    for node in nodes:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("engine.") and a.asname:
                    out[a.asname] = (a.name,)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            if mod != "engine" and not mod.startswith("engine."):
                continue
            for a in node.names:
                name = a.asname or a.name
                if mod == "engine":
                    out[name] = (f"engine.{a.name}",)
                else:
                    out[name] = (mod, a.name)
    return out


def _scope_nodes(body):
    """Nodes of one scope: walk `body`, yielding nested defs and classes
    but not descending into them (lambdas share the enclosing bindings)."""
    stack = list(body)
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            stack.extend(ast.iter_child_nodes(node))


def _local_names(fn) -> set[str]:
    """Names a function binds other than by import (args, assignments,
    nested defs) — they shadow an outer engine binding."""
    a = fn.args
    names = {
        x.arg
        for x in [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]
        if x is not None
    }
    for node in _scope_nodes(fn.body):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            names.add(node.id)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
            names.add(node.name)
    return names


def _target(func: ast.expr, bindings) -> tuple[str, ...] | None:
    """(module, attr...) a call's func expression resolves to, if it is
    rooted at an engine binding."""
    attrs = []
    while isinstance(func, ast.Attribute):
        attrs.append(func.attr)
        func = func.value
    if not isinstance(func, ast.Name) or func.id not in bindings:
        return None
    return bindings[func.id] + tuple(reversed(attrs))


def _resolve(target: tuple[str, ...]):
    obj = importlib.import_module(target[0])
    for attr in target[1:]:
        obj = getattr(obj, attr)
    return obj


def bad_keywords(tree: ast.AST, where: str = "<src>") -> tuple[list, int]:
    """(problems, n_checked_calls) for one parsed module."""
    problems, checked = [], [0]

    def visit_scope(body, bindings):
        for node in _scope_nodes(body):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = {
                    k: v for k, v in bindings.items()
                    if k not in _local_names(node)
                }
                inner.update(_import_bindings(_scope_nodes(node.body)))
                visit_scope(node.body, inner)
            elif isinstance(node, ast.ClassDef):
                visit_scope(node.body, bindings)
            elif isinstance(node, ast.Call):
                check_call(node, bindings)

    def check_call(call: ast.Call, bindings):
        target = _target(call.func, bindings)
        if target is None:
            return
        name = ".".join(target)
        try:
            obj = _resolve(target)
        except AttributeError:
            problems.append(
                (call.lineno, f"{where}:{call.lineno}: {name} does not exist")
            )
            return
        if not callable(obj) or inspect.ismodule(obj):
            return
        try:
            params = inspect.signature(obj).parameters
        except (TypeError, ValueError):
            return
        checked[0] += 1
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            return
        for kw in call.keywords:
            if kw.arg is not None and kw.arg not in params:
                problems.append((
                    call.lineno,
                    f"{where}:{call.lineno}: {name}() has no parameter "
                    f"{kw.arg!r}",
                ))

    body = tree.body if isinstance(tree, ast.Module) else [tree]
    visit_scope(body, _import_bindings(_scope_nodes(body)))
    return [msg for _, msg in sorted(problems)], checked[0]


def test_callers_pass_only_existing_keywords():
    problems, checked = [], 0
    for path in CALLERS:
        tree = ast.parse(path.read_text(), filename=str(path))
        p, n = bad_keywords(tree, str(path.relative_to(ROOT)))
        problems += p
        checked += n
    assert not problems, "\n".join(problems)
    # the scan reaches the registry and the bench tools, not an empty set
    assert checked > 300, checked


def test_checker_flags_unknown_keywords():
    src = '''
from engine import focal
from engine.raster import kde_tiles
import engine.terrain as ter


def run(tiles, pts):
    focal.focal_sum(tiles, 8, radius=1, plan="halo")
    kde_tiles(pts, 8.0, res=8, smoothing="box")
    ter.basins(tiles, 8, labels="sink")
    focal.no_such_op(tiles)


def shadowed(focal):
    focal.focal_sum(plan="halo")  # a parameter, not the module
'''
    problems, checked = bad_keywords(ast.parse(src))
    assert checked == 3
    assert [p.split(": ", 1)[1] for p in problems] == [
        "engine.focal.focal_sum() has no parameter 'plan'",
        "engine.raster.kde_tiles() has no parameter 'smoothing'",
        "engine.terrain.basins() has no parameter 'labels'",
        "engine.focal.no_such_op does not exist",
    ]
