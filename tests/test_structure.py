"""Structural guards: each of these mechanisms has one home in the
package, so a fix to it lands everywhere at once."""

import ast
import os

import gpi_etl_spark

PKG_DIR = os.path.dirname(gpi_etl_spark.__file__)
SINKS = os.path.join("streaming", "sinks.py")

_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _sources():
    for root, _dirs, files in os.walk(PKG_DIR):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG_DIR), fh.read()


def _names():
    """``(module, enclosing function, name)`` for every identifier and
    string constant of the package; docstrings are skipped."""
    for rel, src in _sources():
        tree = ast.parse(src)
        docstrings = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Module, *_SCOPES))
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        stack = [(tree, None)]
        while stack:
            node, scope = stack.pop()
            for child in ast.iter_child_nodes(node):
                if id(child) in docstrings:
                    continue
                inner = child.name if isinstance(child, _SCOPES) else scope
                if isinstance(child, ast.Constant) and isinstance(
                    child.value, str
                ):
                    yield rel, scope, child.value
                for field in ("id", "attr", "name", "arg"):
                    value = getattr(child, field, None)
                    if isinstance(value, str):
                        yield rel, scope, value
                stack.append((child, inner))


def test_only_sinks_know_swap_dirs_and_attach_foreach_batch():
    """A state table's ``__staging``/``__old`` swap dirs and the
    ``foreachBatch`` attach are named only in ``streaming/sinks.py``;
    callers reset a state table through ``sinks.reset``."""
    offenders = sorted(
        {
            f"{rel}:{scope}:{name}"
            for rel, scope, name in _names()
            if rel != SINKS
            and ("__staging" in name or "__old" in name
                 or name == "foreachBatch")
        }
    )
    assert not offenders, (
        f"swap dirs or foreachBatch outside sinks: {offenders}"
    )


def test_only_in_parallel_starts_a_thread_pool():
    """Every driver thread pool goes through ``queries._in_parallel``,
    which hands the caller's job group and description to its threads."""
    offenders = sorted(
        {
            f"{rel}:{scope}"
            for rel, scope, name in _names()
            if name == "ThreadPoolExecutor"
            and (rel, scope) != ("queries.py", "_in_parallel")
        }
    )
    assert not offenders, (
        f"ThreadPoolExecutor outside _in_parallel: {offenders}"
    )


def test_no_trigger_available_now_parameter():
    """Every streamed sink runs with an ``availableNow`` trigger; no
    parameter switches it off."""
    offenders = [
        rel for rel, src in _sources() if "trigger_available_now" in src
    ]
    assert not offenders, f"trigger_available_now in {offenders}"


def test_only_probe_writes_to_the_noop_sink():
    """``tools/probe.py`` holds the tools' one timer; no other tool
    times a frame by running it to the ``noop`` sink."""
    tools_dir = os.path.join(os.path.dirname(PKG_DIR), "tools")
    offenders = []
    for fn in sorted(os.listdir(tools_dir)):
        if not fn.endswith(".py") or fn == "probe.py":
            continue
        with open(os.path.join(tools_dir, fn)) as fh:
            tree = ast.parse(fh.read())
        offenders += [
            f"{fn}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "format"
            and any(
                isinstance(a, ast.Constant) and a.value == "noop"
                for a in node.args
            )
        ]
    assert not offenders, f"noop sink writes outside tools/probe.py: {offenders}"
