"""Every public option has a caller that changes it (no Spark).

A defaulted parameter of a public top-level function under
``ehr_data_pipeline_spark/`` is an option. An option that no call in the
package, ``tools/``, ``perfbench/``, ``bench.py``, ``__spark_entry__.py``
or ``tests/`` sets to a value other than its default has one value in
use: it should be a constant. This test fails on any such option, so that
knobs do not grow back, not even as calls that pass the default.

A call reaches a function when it names it directly, as an attribute
(``mod.fn(...)``), through an import alias (``from m import fn as g``),
or through a name bound once in the calling scope to a lookup in a
literal dict of functions (``write = {"csv": write_csv, ...}.get(fmt)``).
``pool.submit(fn, *args)`` calls ``fn(*args)``, also when ``fn`` is
wrapped as ``wrapper(...)(fn)``.

A call sets a parameter when it passes it, by position or by keyword, a
value other than the default. A literal equal to the default literal, or
an expression with the default's source text (``k=DEFAULT_SHINGLE_K``),
is the default. ``**name``, where ``name`` is bound once in the calling
scope to a ``dict(...)`` call or a ``{...}`` display with literal keys,
passes those items. ``*g(...)``, where every ``return`` of the package
function ``g`` is a tuple display of n items, passes n positional
arguments; any other ``*args`` or ``**kwargs`` sets every parameter.
"""
from __future__ import annotations

import ast
import pathlib
import textwrap
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "ehr_data_pipeline_spark"

# Deployment settings: set by whoever runs the library, not by its code.
# ``run_pipeline.fmt`` is set only by the benchmark's own files
# (perfbench/workloads.py), which pass the default; they stay unchanged so
# that benchmark runs of different commits compare.
ALLOWED_UNSET = {"get_spark.master", "write_jdbc.properties", "run_pipeline.fmt"}


def _files() -> list[pathlib.Path]:
    files = [
        p
        for d in (PACKAGE, "tools", "perfbench", "tests")
        for p in sorted((ROOT / d).rglob("*.py"))
    ]
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _options(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> dict[str, ast.expr]:
    """Option name -> default expression."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {x.arg: d for x, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)}
    out.update((x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
    return out


def _is_default(value: ast.expr, default: ast.expr) -> bool:
    """An equal literal, or the same source text."""
    try:
        return repr(ast.literal_eval(value)) == repr(ast.literal_eval(default))
    except (ValueError, TypeError):
        return ast.unparse(value) == ast.unparse(default)


def _name(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    return node.attr if isinstance(node, ast.Attribute) else None


def _dict_items(node: ast.expr | None) -> dict[str, ast.expr] | None:
    """Items of a literal ``dict(k=...)`` call or ``{"k": ...}`` display."""
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) \
            and node.func.id == "dict" and not node.args \
            and all(k.arg is not None for k in node.keywords):
        return {k.arg: k.value for k in node.keywords}
    if isinstance(node, ast.Dict) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in node.keys
    ):
        return {k.value: v for k, v in zip(node.keys, node.values)}
    return None


def _dispatched(node: ast.expr | None) -> list[str] | None:
    """Functions a ``{key: fn, ...}.get(k)`` or ``{...}[k]`` lookup returns."""
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) \
            and node.func.attr == "get":
        node = node.func.value
    elif isinstance(node, ast.Subscript):
        node = node.value
    if not isinstance(node, ast.Dict):
        return None
    names = [_name(v) for v in node.values]
    return names if all(names) else None


def _bindings(scope: ast.AST) -> dict[str, ast.expr]:
    """Names assigned exactly once in ``scope``, to their value."""
    seen: dict[str, list[ast.expr]] = defaultdict(list)
    for node in ast.walk(scope):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    seen[t.id].append(node.value)
    return {name: values[0] for name, values in seen.items() if len(values) == 1}


def _aliases(tree: ast.Module) -> dict[str, str]:
    """``from m import f as g`` anywhere in the module: g -> f."""
    return {
        a.asname: a.name
        for node in ast.walk(tree) if isinstance(node, ast.ImportFrom)
        for a in node.names if a.asname
    }


def _direct(call: ast.Call) -> ast.Call:
    """``pool.submit(fn, *args)`` as ``fn(*args)``; any other call as is."""
    if _name(call.func) != "submit" or not call.args:
        return call
    fn = call.args[0]
    while isinstance(fn, ast.Call) and len(fn.args) == 1 and isinstance(fn.func, ast.Call):
        fn = fn.args[0]  # wrapper(...)(fn)
    return ast.Call(func=fn, args=call.args[1:], keywords=call.keywords)


def _tuple_width(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> int | None:
    """n when every ``return`` of ``fn`` (not of functions nested in it)
    is a tuple display of n items."""
    widths, todo = set(), list(fn.body)
    while todo:
        node = todo.pop()
        if isinstance(node, ast.Return):
            v = node.value
            tup = isinstance(v, ast.Tuple) and not any(isinstance(e, ast.Starred) for e in v.elts)
            widths.add(len(v.elts) if tup else None)
        elif not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)):
            todo.extend(ast.iter_child_nodes(node))
    return widths.pop() if len(widths) == 1 else None


def _callees(func: ast.expr, aliases: dict[str, str], bound: dict[str, ast.expr]) -> list[str]:
    if isinstance(func, ast.Attribute):
        return [func.attr]
    if not isinstance(func, ast.Name):
        return []
    names = _dispatched(bound.get(func.id)) or [func.id]
    return [aliases.get(n, n) for n in names]


def _expand_stars(call: ast.Call, widths: dict[str, set], aliases: dict[str, str],
                  bound: dict[str, ast.expr]) -> ast.Call:
    """``*g(...)`` as n positional arguments when every package function
    the call reaches has tuple width n (``widths``: name -> widths)."""
    args = []
    for a in call.args:
        found = set()
        if isinstance(a, ast.Starred) and isinstance(a.value, ast.Call):
            for name in _callees(a.value.func, aliases, bound):
                found |= widths.get(name, {None})
        n = found.pop() if len(found) == 1 else None
        args += [a.value] * n if n is not None else [a]
    return ast.Call(func=call.func, args=args, keywords=call.keywords)


def _set_by(call: ast.Call, fn: ast.FunctionDef, bound: dict[str, ast.expr]) -> set[str] | None:
    """Options the call sets to a value other than their default; None
    means every option."""
    if any(isinstance(a, ast.Starred) for a in call.args):
        return None
    params = [x.arg for x in fn.args.posonlyargs + fn.args.args]
    passed = list(zip(params, call.args))
    for k in call.keywords:
        if k.arg is not None:
            passed.append((k.arg, k.value))
            continue
        items = _dict_items(bound.get(k.value.id)) if isinstance(k.value, ast.Name) else None
        if items is None:
            return None
        passed += items.items()
    defaults = _options(fn)
    return {p for p, v in passed if p in defaults and not _is_default(v, defaults[p])}


def _scopes(tree: ast.Module):
    """(call, scope) for every call; the scope is its innermost function."""
    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = child if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else scope
            if isinstance(child, ast.Call):
                yield child, scope
            yield from walk(child, inner)
    yield from walk(tree, tree)


def unset_options(sources: dict[str, str] | None = None) -> list[str]:
    """``path:line function.option`` for every option no call changes.
    ``sources`` (path -> text) replaces the repository's files; a path
    under ``ehr_data_pipeline_spark/`` defines options."""
    if sources is None:
        sources = {str(p.relative_to(ROOT)): p.read_text() for p in _files()}
    trees = {p: ast.parse(text) for p, text in sources.items()}
    defs, widths = defaultdict(list), defaultdict(set)
    for p, tree in trees.items():
        if p.startswith(PACKAGE + "/"):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    widths[node.name].add(_tuple_width(node))
                    if not node.name.startswith("_"):
                        defs[node.name].append((p, node))
    set_params: dict[tuple, set[str] | None] = defaultdict(set)
    for tree in trees.values():
        aliases = _aliases(tree)
        bound_cache: dict[int, dict[str, ast.expr]] = {}
        for call, scope in _scopes(tree):
            if id(scope) not in bound_cache:
                bound_cache[id(scope)] = _bindings(scope)
            bound = bound_cache[id(scope)]
            call = _expand_stars(_direct(call), widths, aliases, bound)
            for name in _callees(call.func, aliases, bound):
                for p, fn in defs.get(name, ()):
                    key = (p, fn.name, fn.lineno)
                    if set_params[key] is None:
                        continue
                    got = _set_by(call, fn, bound)
                    set_params[key] = None if got is None else set_params[key] | got
    unset = []
    for name, found in defs.items():
        for p, fn in found:
            done = set_params[(p, fn.name, fn.lineno)]
            for opt in _options(fn):
                if done is not None and opt not in done:
                    unset.append(f"{p}:{fn.lineno} {name}.{opt}")
    return sorted(unset)


def test_every_public_option_has_a_caller():
    offenders = [u for u in unset_options() if u.split()[1] not in ALLOWED_UNSET]
    assert not offenders, (
        f"{len(offenders)} public options that no call sets to another value "
        "than the default; make each a constant (or add the call that needs "
        "another value):\n" + "\n".join(offenders)
    )


def test_allowlist_names_unset_options():
    unset = {u.split()[1] for u in unset_options()}
    assert ALLOWED_UNSET <= unset, ALLOWED_UNSET - unset


def test_scan_compares_values_and_resolves_aliases():
    lib = textwrap.dedent('''
        DEFAULT_K = 5

        def pairs(df, threshold=0.6, k=DEFAULT_K, keys=("a",)):
            pass

        def stats(df, keys=None, mode="x"):
            pass

        def write_csv(df, path, mode="overwrite"):
            pass

        def write_parquet(df, path, mode="overwrite"):
            pass

        def load(path, fmt="json", strict=True):
            pass

        def index(df):
            if df:
                return df, 1
            return df, 2

        def search(idx, stats, terms, k1=1.2, b=0.75):
            pass
    ''')
    caller = textwrap.dedent('''
        from ehr_data_pipeline_spark.lib import pairs, stats as st

        def run(df, fmt, pool, wrap):
            pairs(df, threshold=0.60, k=DEFAULT_K, keys=("a",))
            st(df, keys=["k"])
            write = {"csv": write_csv, "parquet": write_parquet}.get(fmt)
            write(df, "p", mode="append")
            opts = dict(strict=True)
            pool.submit(wrap(df)(load), "p", "csv", **opts)
            search(*index(df), ["t"], b=0.75)
    ''')
    unset = {u.split()[1] for u in unset_options(
        {f"{PACKAGE}/lib.py": lib, "tools/caller.py": caller})}
    assert unset == {
        "pairs.threshold", "pairs.k", "pairs.keys", "stats.mode", "load.strict",
        "search.k1", "search.b",
    }
