"""Every defaulted parameter of a top-level function under
pii_filter_spark/ is passed by some call site, or has a recorded reason
to stay.

A call site is a call in any source of the repo, tests included
(pii_filter_spark/, jobs/, tools/, perfbench/, __spark_entry__.py,
bench.py, tests/), whose callee resolves through that file's imports to
the function: `f(...)` after `from m import f [as g]` or inside m itself,
`m.f(...)` after `import m [as alias]` or `from pkg import m`, and
`functools.partial(f, ...)`. Package re-exports are followed. A call
passes a parameter by keyword, by position, or through `*args` /
`**kwargs`. A parameter that no call passes has one value in use, so it
is a constant, not an option: inline its default.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
LIBRARY = REPO / "pii_filter_spark"
SOURCES = ["pii_filter_spark", "jobs", "tools", "perfbench", "__spark_entry__.py",
           "bench.py", "tests"]

# kept although no call site passes it: "module.func(param)" -> reason
ALLOWED: dict = {}


def _files():
    for entry in SOURCES:
        path = REPO / entry
        yield from sorted(path.rglob("*.py")) if path.is_dir() else [path]


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


def _bindings(f, tree):
    """Local name -> qualified name, from every import in the file (function
    bodies included) and, for library modules, their own top-level defs."""
    module = _module(f)
    package = module if f.name == "__init__.py" else module.rpartition(".")[0]
    out = {}
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
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out[node.name] = f"{module}.{node.name}"
    return out


def _scan():
    """(defaulted: {(qualified func, param): (index or None)},
    calls: {qualified func: [ast.Call-like (args, keywords)]})."""
    trees = {f: ast.parse(f.read_text(encoding="utf-8"), filename=str(f)) for f in _files()}
    bindings = {_module(f): _bindings(f, t) for f, t in trees.items()}

    def resolve(name, seen=()):
        # follow package re-exports: pkg.f bound in pkg/__init__ to m.f
        module, _, attr = name.rpartition(".")
        target = bindings.get(module, {}).get(attr)
        if target and target != name and name not in seen:
            return resolve(target, seen + (name,))
        return name

    defaulted, calls = {}, {}
    for f, tree in trees.items():
        local = bindings[_module(f)]
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func, args = node.func, node.args
            if _dotted(func) in ("partial", "functools.partial") and args:
                func, args = args[0], args[1:]
            dotted = _dotted(func)
            if not dotted:
                continue
            head, _, rest = dotted.partition(".")
            if head not in local:
                continue
            target = resolve(local[head] + (f".{rest}" if rest else ""))
            calls.setdefault(target, []).append((args, node.keywords))
        if f.is_relative_to(LIBRARY):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    a = node.args
                    positional = a.posonlyargs + a.args
                    first = len(positional) - len(a.defaults)
                    qualified = f"{_module(f)}.{node.name}"
                    for i, p in enumerate(positional[first:], first):
                        defaulted[(qualified, p.arg)] = i
                    for p, d in zip(a.kwonlyargs, a.kw_defaults):
                        if d is not None:
                            defaulted[(qualified, p.arg)] = None
    return defaulted, calls


def _passes(call, param, index):
    args, keywords = call
    if any(k.arg is None or k.arg == param for k in keywords):
        return True
    if index is None:
        return False
    return len(args) > index or any(isinstance(x, ast.Starred) for x in args)


def _unpassed():
    defaulted, calls = _scan()
    out = {
        f"{qualified.removeprefix('pii_filter_spark.')}({param})"
        for (qualified, param), index in defaulted.items()
        if not any(_passes(c, param, index) for c in calls.get(qualified, []))
    }
    named = {f"{q.removeprefix('pii_filter_spark.')}({p})" for q, p in defaulted}
    return named, out


def test_every_defaulted_library_parameter_is_passed_somewhere():
    _, unpassed = _unpassed()
    missing = sorted(unpassed - set(ALLOWED))
    assert not missing, (
        f"{len(missing)} defaulted parameters that no call site passes; inline "
        f"their defaults: {missing}")


def test_the_allowlist_names_only_defined_parameters_that_nothing_passes():
    named, unpassed = _unpassed()
    assert set(ALLOWED) <= named, sorted(set(ALLOWED) - named)
    assert set(ALLOWED) <= unpassed, (
        "these now have a caller; drop them from ALLOWED: "
        f"{sorted(set(ALLOWED) - unpassed)}")
