"""Every public option has a caller (no Spark).

A defaulted parameter of a public top-level function under
``ehr_data_pipeline_spark/`` is an option. An option that no call in the
package, ``tools/``, ``perfbench/``, ``bench.py``, ``__spark_entry__.py``
or ``tests/`` ever sets is a configuration that nothing runs: it should
be a constant. This test fails on any such option, so that knobs do not
grow back.

A call sets a parameter when it names the function (directly or as an
attribute, ``mod.fn(...)``) and passes the parameter by position or by
keyword. ``**name``, where ``name`` is bound once in the calling scope to
a ``dict(...)`` call or a ``{...}`` display with literal keys, sets those
keys; any other ``*args`` or ``**kwargs`` sets every parameter.
"""
from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "ehr_data_pipeline_spark"

# Deployment settings: set by whoever runs the library, not by its code.
ALLOWED_UNSET = {"get_spark.master", "write_jdbc.properties"}


def _files() -> list[pathlib.Path]:
    files = [
        p
        for d in (PACKAGE, "tools", "perfbench", "tests")
        for p in sorted((ROOT / d).rglob("*.py"))
    ]
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _options(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    names = [x.arg for x in pos[len(pos) - len(a.defaults):]]
    return names + [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def _dict_keys(node: ast.expr) -> set[str] | None:
    """Keys of a literal ``dict(k=...)`` call or ``{"k": ...}`` display."""
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) \
            and node.func.id == "dict" and not node.args \
            and all(k.arg is not None for k in node.keywords):
        return {k.arg for k in node.keywords}
    if isinstance(node, ast.Dict) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in node.keys
    ):
        return {k.value for k in node.keys}
    return None


def _bound_dicts(scope: ast.AST) -> dict[str, set[str]]:
    """Names assigned exactly once in ``scope``, to a literal dict."""
    seen: dict[str, list[ast.expr]] = defaultdict(list)
    for node in ast.walk(scope):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    seen[t.id].append(node.value)
    out = {}
    for name, values in seen.items():
        keys = _dict_keys(values[0]) if len(values) == 1 else None
        if keys is not None:
            out[name] = keys
    return out


def _set_by(call: ast.Call, params: list[str], dicts: dict[str, set[str]]) -> set[str] | None:
    """Parameters the call sets; None means every parameter."""
    if any(isinstance(a, ast.Starred) for a in call.args):
        return None
    out = set(params[: len(call.args)])
    for k in call.keywords:
        if k.arg is not None:
            out.add(k.arg)
        elif isinstance(k.value, ast.Name) and k.value.id in dicts:
            out |= dicts[k.value.id]
        else:
            return None
    return out


def _scopes(tree: ast.Module):
    """(call, scope) for every call; the scope is its innermost function."""
    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = child if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else scope
            if isinstance(child, ast.Call):
                yield child, scope
            yield from walk(child, inner)
    yield from walk(tree, tree)


def unset_options() -> list[str]:
    trees = {p: ast.parse(p.read_text()) for p in _files()}
    defs = defaultdict(list)
    for p, tree in trees.items():
        if p.is_relative_to(ROOT / PACKAGE):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                        and not node.name.startswith("_"):
                    defs[node.name].append((p, node))
    set_params: dict[tuple, set[str] | None] = defaultdict(set)
    for tree in trees.values():
        dict_cache: dict[int, dict[str, set[str]]] = {}
        for call, scope in _scopes(tree):
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            for p, fn in defs.get(name, ()):
                key = (p, fn.name, fn.lineno)
                if set_params[key] is None:
                    continue
                if id(scope) not in dict_cache:
                    dict_cache[id(scope)] = _bound_dicts(scope)
                params = [x.arg for x in fn.args.posonlyargs + fn.args.args]
                got = _set_by(call, params, dict_cache[id(scope)])
                set_params[key] = None if got is None else set_params[key] | got
    unset = []
    for name, found in defs.items():
        for p, fn in found:
            done = set_params[(p, fn.name, fn.lineno)]
            for opt in _options(fn):
                if done is not None and opt not in done:
                    unset.append(f"{p.relative_to(ROOT)}:{fn.lineno} {name}.{opt}")
    return sorted(unset)


def test_every_public_option_has_a_caller():
    offenders = [u for u in unset_options() if u.split()[1] not in ALLOWED_UNSET]
    assert not offenders, (
        f"{len(offenders)} public options that no call sets; make each a "
        "constant (or add the call that needs another value):\n" + "\n".join(offenders)
    )


def test_allowlist_names_unset_options():
    unset = {u.split()[1] for u in unset_options()}
    assert ALLOWED_UNSET <= unset, ALLOWED_UNSET - unset
