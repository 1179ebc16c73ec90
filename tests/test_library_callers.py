"""Every top-level function and class under pii_filter_spark/ has a caller
outside tests/, or a recorded reason to stay.

A caller is a whole-word occurrence of the name in a non-test source
(pii_filter_spark/, jobs/, tools/, perfbench/, __spark_entry__.py,
bench.py) that lies neither inside the name's own definition nor in an
import statement, so a package `__init__` re-export is not a caller.
Library code that only tests reach is deleted, not kept.
"""

import ast
import re
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
LIBRARY = REPO / "pii_filter_spark"
SOURCES = ["pii_filter_spark", "jobs", "tools", "perfbench", "__spark_entry__.py", "bench.py"]

# kept without a non-test caller: qualified name -> reason
ALLOWED = {
    "pii_filter_spark.images.phash.hamming64":
        "test helper: the pHash tests of several modules compare hashes with it",
    "pii_filter_spark.sources.synth.gen_pandas":
        "test helper: several test modules build synth captions with it",
    "pii_filter_spark.core.normalizers.normalize_pii_value":
        "matches the reference's normalizer (SURVEY F3), pinned by test_validators",
    "pii_filter_spark.core.validators.is_valid_cpf":
        "matches the reference's CPF validator (SURVEY F3), pinned by test_validators",
}


def _sources():
    for entry in SOURCES:
        path = REPO / entry
        for f in sorted(path.rglob("*.py")) if path.is_dir() else [path]:
            if not f.name.startswith("test_"):
                yield f


def _span(node):
    first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
    return first, node.end_lineno


def _scan():
    """(definitions: qualified name -> (file, name, span), occurrences:
    name -> [(file, line)] outside import statements)."""
    defs, occurrences = {}, defaultdict(list)
    for f in _sources():
        text = f.read_text(encoding="utf-8")
        tree = ast.parse(text, filename=str(f))
        imports = set()
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                first, last = _span(node)
                imports.update(range(first, last + 1))
        for lineno, line in enumerate(text.splitlines(), 1):
            if lineno not in imports:
                for word in set(re.findall(r"\w+", line)):
                    occurrences[word].append((f, lineno))
        if f.is_relative_to(LIBRARY):
            module = ".".join(f.relative_to(REPO).with_suffix("").parts)
            for node in tree.body:
                if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                        and not (node.name.startswith("__") and node.name.endswith("__"))):
                    defs[f"{module}.{node.name}"] = (f, node.name, _span(node))
    return defs, occurrences


def _uncalled():
    defs, occurrences = _scan()
    out = set()
    for qualified, (f, name, (first, last)) in defs.items():
        if not any(g != f or not first <= line <= last for g, line in occurrences[name]):
            out.add(qualified)
    return defs, out


def test_every_library_function_has_a_caller_outside_tests():
    _, uncalled = _uncalled()
    missing = sorted(uncalled - set(ALLOWED))
    assert not missing, (
        "no caller outside tests/; delete them or route a query, job or tool "
        f"through them: {missing}")


def test_the_allowlist_names_only_defined_functions_without_a_caller():
    defs, uncalled = _uncalled()
    assert set(ALLOWED) <= set(defs), sorted(set(ALLOWED) - set(defs))
    assert set(ALLOWED) <= uncalled, (
        "these now have a caller; drop them from ALLOWED: "
        f"{sorted(set(ALLOWED) - uncalled)}")
