"""Every call the contract entry, the engine, the tools and the
benchmark make into `operators.similarity`, `operators.dedup`,
`operators.retrieval`, the streaming maintenance modules
(`streaming.rollup`, `streaming.ingest`, `streaming.ann`),
`sources.catalog` and `sources.sidecar` binds against the callee's
signature.  The tools (scale rehearsals, recall measurements) run for
hours and never in this suite, so without this check a removed or
renamed parameter would leave them broken until their next run."""

import ast
import inspect
import pathlib

from esper_tv_spark.operators import dedup, retrieval, similarity
from esper_tv_spark.sources import catalog, sidecar
from esper_tv_spark.streaming import ann, ingest, rollup

ROOT = pathlib.Path(__file__).resolve().parent.parent
MODULES = {
    m.__name__: m
    for m in (similarity, dedup, retrieval, rollup, ingest, ann, catalog, sidecar)
}
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)


def _sources():
    yield ROOT / "__spark_entry__.py"
    yield from sorted((ROOT / "tools").glob("*.py"))
    yield from sorted((ROOT / "perfbench").glob("*.py"))
    yield from sorted((ROOT / "esper_tv_spark").rglob("*.py"))


def _own_nodes(scope):
    """The nodes of `scope` itself: nested functions, lambdas and
    classes are yielded but not entered."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, _SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def _imported(node):
    """{local name: module or function} for one import statement."""
    out = {}
    for a in node.names:
        local = a.asname or a.name
        if isinstance(node, ast.Import):
            if a.asname and a.name in MODULES:
                out[local] = MODULES[a.name]
        elif f"{node.module}.{a.name}" in MODULES:
            out[local] = MODULES[f"{node.module}.{a.name}"]
        elif node.module in MODULES and hasattr(MODULES[node.module], a.name):
            out[local] = getattr(MODULES[node.module], a.name)
    return out


def _calls(scope, outer):
    """(call, callee) for every call in `scope` and its nested scopes
    whose callee resolves to a function of MODULES.  A name assigned in
    a scope shadows an outer import there, as in Python."""
    own, local = {}, set()
    if not isinstance(scope, ast.Module):
        a = scope.args if not isinstance(scope, ast.ClassDef) else None
        if a is not None:
            local |= {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
            local |= {x.arg for x in (a.vararg, a.kwarg) if x is not None}
    nodes = list(_own_nodes(scope))
    for node in nodes:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            own.update(_imported(node))
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            local.add(node.id)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            local.add(node.name)
    env = {k: v for k, v in outer.items() if k not in local}
    env.update(own)
    if isinstance(scope, ast.Module):
        # a module's top-level defs are `outer` itself: they resolve
        # to the module's functions, not shadow them
        env.update(outer)
    for node in nodes:
        if isinstance(node, _SCOPES):
            yield from _calls(node, env)
        elif isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name) and callable(env.get(f.id)):
                yield node, env[f.id]
            elif (
                isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name)
                and inspect.ismodule(env.get(f.value.id))
            ):
                mod = env[f.value.id]
                yield node, getattr(mod, f.attr, f"{mod.__name__}.{f.attr}")


def _problem(call, fn):
    """Why `call` cannot bind to `fn`, or None."""
    if isinstance(fn, str):
        return f"{fn} does not exist"
    try:
        sig = inspect.signature(fn)
    except (TypeError, ValueError):
        return None
    kws = [k.arg for k in call.keywords]
    if None in kws or any(isinstance(a, ast.Starred) for a in call.args):
        # a splat hides the rest of the call: check the spelled-out names
        varkw = any(p.kind is p.VAR_KEYWORD for p in sig.parameters.values())
        bad = [k for k in kws if k is not None and k not in sig.parameters]
        return None if varkw or not bad else f"{fn.__name__}() takes no {bad}"
    try:
        sig.bind(*[None] * len(call.args), **dict.fromkeys(kws))
    except TypeError as e:
        return f"{fn.__name__}(): {e}"
    return None


def test_operator_calls_bind_to_their_signatures():
    problems, seen = [], {}
    for path in _sources():
        tree = ast.parse(path.read_text(), str(path))
        rel = str(path.relative_to(ROOT))
        mod_name = rel[:-3].replace("/", ".")
        top = {}
        if mod_name in MODULES:
            # a module's own functions call each other by bare name
            top = {
                n.name: getattr(MODULES[mod_name], n.name)
                for n in tree.body
                if isinstance(n, ast.FunctionDef)
            }
        for call, fn in _calls(tree, top):
            seen[rel] = seen.get(rel, 0) + 1
            why = _problem(call, fn)
            if why:
                problems.append(f"{rel}:{call.lineno}: {why}")
    assert not problems, "\n".join(problems)
    # the resolver must actually reach the callers it exists for
    for rel in (
        "__spark_entry__.py",
        "tools/rehearse_ann.py",
        "esper_tv_spark/frontend/dsl.py",
        "esper_tv_spark/streaming/rollup.py",
        "perfbench/ingest.py",
    ):
        assert seen.get(rel, 0) >= 5, (rel, seen.get(rel))
