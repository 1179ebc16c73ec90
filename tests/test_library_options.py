"""Every parameter of a top-level function under pii_filter_spark/ takes
two values in production, or has a recorded reason to stay.

Production is the non-test sources of the repo (pii_filter_spark/, jobs/,
tools/, perfbench/ without its test_*.py, __spark_entry__.py, bench.py).
A call site is a call whose callee resolves through that file's imports
to the function: `f(...)` after `from m import f [as g]` or inside m
itself, `m.f(...)` after `import m [as alias]` or `from pkg import m`,
and `functools.partial(f, ...)`. Package re-exports are followed.

The value a call gives a parameter is the argument it passes by keyword
or by position, or the default when it passes none. A literal
(`ast.literal_eval`) is its value, and so is a name bound to a
module-level literal; a name bound to another module-level object
(function, class, computed constant) is that binding. A parameter of
the enclosing top-level function passed on unchanged takes every value
that parameter takes. Anything else (a local variable, an expression, a
`*args` / `**kwargs` spread, an argument that `functools.partial` leaves
open) may vary, and so may every parameter of a function that production
uses as a value instead of calling it. A parameter that every production
call site gives the same value is a constant, not an option: inline it.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
LIBRARY = REPO / "pii_filter_spark"
SOURCES = ["pii_filter_spark", "jobs", "tools", "perfbench", "__spark_entry__.py", "bench.py"]

# kept although production gives it one value: "module.func(param)" -> reason
ALLOWED = {
    "operators.components.connected_components(small_graph_threshold)":
        "its other value lets a test reach the distributed label propagation, "
        "which production reaches only on graphs too large for a test",
    "operators.components.connected_components(max_iter)":
        "its other value lets a test reach the non-convergence error, which "
        "production reaches only on graphs too large for a test",
    "operators.similarity.cosine_near_pairs_exact(max_rows)":
        "its other value lets a test reach the row-bound error, which "
        "production reaches only on inputs too large for a test",
    "images.jpeg_codec.encode_jpeg(subsampling)":
        "it shapes a fixture whose variety a test asserts over: the codec "
        "tests cover both chroma subsamplings",
    "sources.synth.write_input_table(num_partitions)":
        "it shapes a fixture whose variety a test asserts over: the pipeline "
        "and checkpoint tests map inputs of several file counts to parts",
    "sources.table_io.read_table(snapshot_id)":
        "safety code: it reads a retained snapshot back after a bad write",
    "pipeline.with_part_id(num_parts)":
        "perfbench passes it, and perfbench is the benchmark's own code",
}


def _files():
    for entry in SOURCES:
        path = REPO / entry
        for f in sorted(path.rglob("*.py")) if path.is_dir() else [path]:
            if not f.name.startswith("test_"):
                yield f


def _module(f):
    parts = f.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _dotted(node):
    """'a.b.c' for a Name/Attribute chain, else None."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return base and f"{base}.{node.attr}"
    return None


def _literal(node):
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None
    return ("literal", type(v).__name__, repr(v))


def _bindings(f, tree):
    """(local name -> qualified name, from every import in the file
    (function bodies included) and its own top-level defs, classes and
    assignments; qualified name -> value of each NAME = <literal>)."""
    module = _module(f)
    package = module if f.name == "__init__.py" else module.rpartition(".")[0]
    out, literals = {}, {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = a.name
                else:
                    first = a.name.split(".")[0]
                    out[first] = first
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            for a in node.names:
                out[a.asname or a.name] = f"{base}.{a.name}"
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[node.name] = f"{module}.{node.name}"
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                pairs = [(t, node.value)]
                if isinstance(t, ast.Tuple):
                    values = getattr(node.value, "elts", [])
                    pairs = list(zip(t.elts, values if len(values) == len(t.elts)
                                     else [None] * len(t.elts)))
                for n, v in pairs:
                    if isinstance(n, ast.Name):
                        out[n.id] = f"{module}.{n.id}"
                        if v is not None and _literal(v):
                            literals[out[n.id]] = _literal(v)
    return out, literals


class _Varies:
    """A value that a static scan cannot pin: equal to nothing."""


def _params(fn):
    a = fn.args
    return [p for p in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg] if p]


def _stored(fn):
    return {n.id for n in ast.walk(fn) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}


def _scoped(node, module, bound=frozenset(), forward=None):
    """(node, bound, forward) for every node under `node`: `bound` holds
    the names its enclosing defs and lambdas bind (local variables,
    whatever a module-level binding of the same name holds); `forward`
    maps each parameter of the enclosing top-level def that nothing in
    it rebinds to its (qualified function, parameter) key."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
        names = {p.arg for p in _params(node)} | _stored(node)
        if forward is None and not isinstance(node, ast.Lambda):
            forward = {p.arg: (f"{module}.{node.name}", p.arg) for p in _params(node)
                       if p.arg not in _stored(node)}
        else:
            forward = {k: v for k, v in (forward or {}).items() if k not in names}
        bound = bound | names
    yield node, bound, forward or {}
    for child in ast.iter_child_nodes(node):
        yield from _scoped(child, module, bound, forward)


def _scan():
    """(parameters {(qualified func, param)}, their values {(qualified
    func, param): [value per production call site]})."""
    trees = {f: ast.parse(f.read_text(encoding="utf-8"), filename=str(f)) for f in _files()}
    bindings, literals = {}, {}
    for f, t in trees.items():
        bindings[_module(f)], found = _bindings(f, t)
        literals.update(found)

    def resolve(name, seen=()):
        # follow package re-exports: pkg.f bound in pkg/__init__ to m.f
        module, _, attr = name.rpartition(".")
        target = bindings.get(module, {}).get(attr)
        if target and target != name and name not in seen:
            return resolve(target, seen + (name,))
        return name

    def qualify(node, local, bound):
        dotted = _dotted(node)
        if not dotted:
            return None
        head, _, rest = dotted.partition(".")
        if head not in local or head in bound:
            return None
        return resolve(local[head] + (f".{rest}" if rest else ""))

    def value(node, local, bound, forward):
        if isinstance(node, ast.Name) and node.id in forward:
            return ("param", forward[node.id])
        name = qualify(node, local, bound)
        v = _literal(node) or literals.get(name)
        return v or (("name", name) if name else _Varies())

    defaults, functions = {}, {}
    for f, tree in trees.items():
        if not f.is_relative_to(LIBRARY):
            continue
        local = bindings[_module(f)]
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                positional = a.posonlyargs + a.args
                given = [None] * (len(positional) - len(a.defaults)) + a.defaults
                qualified = f"{_module(f)}.{node.name}"
                functions[qualified] = []
                for i, (p, d) in enumerate(zip(positional, given)):
                    defaults[(qualified, p.arg)] = (i, d and value(d, local, frozenset(), {}))
                for p, d in zip(a.kwonlyargs, a.kw_defaults):
                    defaults[(qualified, p.arg)] = (None, d and value(d, local, frozenset(), {}))

    for f, tree in trees.items():
        local = bindings[_module(f)]
        callees = set()
        for node, bound, forward in _scoped(tree, _module(f)):
            if not isinstance(node, ast.Call):
                continue
            func, args, partial = node.func, node.args, False
            if _dotted(func) in ("partial", "functools.partial") and args:
                func, args, partial = args[0], args[1:], True
            target = qualify(func, local, bound)
            if target in functions:
                callees.add(id(func))
                functions[target].append(
                    (args, node.keywords, partial, (local, bound, forward)))
        # a function used as a value is called with arguments no scan sees
        for node, bound, _ in _scoped(tree, _module(f)):
            if (isinstance(node, (ast.Name, ast.Attribute)) and id(node) not in callees
                    and isinstance(node.ctx, ast.Load)):
                target = qualify(node, local, bound)
                if target in functions:
                    functions[target].append(None)

    direct = {}
    for (qualified, param), (index, default) in defaults.items():
        out = direct[(qualified, param)] = []
        for call in functions[qualified]:
            if call is None:
                out.append(_Varies())
                continue
            args, keywords, partial, scope = call
            kw = [k for k in keywords if k.arg == param]
            if kw:
                out.append(value(kw[0].value, *scope))
            elif any(k.arg is None for k in keywords) or (
                    index is not None and any(isinstance(x, ast.Starred) for x in args)):
                out.append(_Varies())
            elif index is not None and len(args) > index:
                out.append(value(args[index], *scope))
            elif partial or default is None:
                out.append(_Varies())
            else:
                out.append(default)

    def expand(key, seen=()):
        # a forwarded parameter takes the values of the one it forwards
        if key in seen or key not in direct:
            return [_Varies()]
        out = []
        for v in direct[key]:
            if isinstance(v, tuple) and v[0] == "param":
                out += expand(v[1], seen + (key,))
            else:
                out.append(v)
        return out

    return set(defaults), {key: expand(key) for key in defaults}


def _name(key):
    qualified, param = key
    return f"{qualified.removeprefix('pii_filter_spark.')}({param})"


def _one_valued():
    params, values = _scan()
    one = {
        _name(key) for key, vs in values.items()
        if vs and not any(isinstance(v, _Varies) for v in vs) and len(set(vs)) == 1
    }
    return {_name(key) for key in params}, one


def test_every_library_parameter_takes_two_values_in_production():
    _, one_valued = _one_valued()
    missing = sorted(one_valued - set(ALLOWED))
    assert not missing, (
        f"{len(missing)} parameters that every production call site gives the "
        f"same value; inline it: {missing}")


def test_the_allowlist_names_only_defined_parameters_with_one_value():
    named, one_valued = _one_valued()
    assert set(ALLOWED) <= named, sorted(set(ALLOWED) - named)
    assert set(ALLOWED) <= one_valued, (
        "these now take two values in production; drop them from ALLOWED: "
        f"{sorted(set(ALLOWED) - one_valued)}")
