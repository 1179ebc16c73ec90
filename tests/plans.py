"""Physical plans as text, for the plan tests.

`Plan(df)` reads the formatted plan (`df.explain("formatted")`) that Spark
builds before execution; `Plan(df, executed=True)` collects `df` first and
keeps only the nodes of AQE's final plan. Each node is its operator name
(`Exchange`, `BroadcastExchange`, `ArrowEvalPython`, `Scan parquet`, ...)
with the fields of its detail block (`Input`, `Output`, `Arguments`,
`ReadSchema`, `Join type`, ...).
"""

from __future__ import annotations

import re
from typing import Dict, List, Set

_HEAD = re.compile(r"\((\d+)\) ([^\[]+)(?:\[codegen id : (\d+)\])?")
_FIELD = re.compile(r"([A-Za-z][\w ]*?)(?: \[\d+\])?\s?: (.*)$")
_NODE_ID = re.compile(r"\((\d+)\)")
_COLUMN = re.compile(r"(\w+)#\d+L?")
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def columns(text: str) -> Set[str]:
    """Names of the attributes that `text` refers to (`caption#5` -> caption)."""
    return set(_COLUMN.findall(text))


def _calls(text: str) -> List[str]:
    """The outermost `name(...)` calls in `text`."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch == "(":
            if depth == 0:
                start = i - len(re.search(r"\w*$", text[:i]).group())
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                out.append(text[start:i + 1])
    return out


def _top_level(struct: str) -> List[str]:
    """Field names of a `struct<a:int,b:array<string>>` schema string."""
    names, depth, field = [], 0, ""
    for ch in struct[len("struct<"):-1] + ",":
        depth += (ch == "<") - (ch == ">")
        if ch == "," and depth == 0:
            names.append(field.split(":", 1)[0])
            field = ""
        else:
            field += ch
    return [n for n in names if n]


class Plan:
    def __init__(self, df, executed: bool = False):
        if executed:
            df.collect()
        self.text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        tree, _, details = self.text.partition("\n\n\n")
        final, _, initial = tree.partition("== Initial Plan ==")
        dropped = set(_NODE_ID.findall(initial)) - set(_NODE_ID.findall(final))
        self.nodes: List[Dict[str, str]] = []
        for block in details.split("\n\n"):
            lines = block.strip().splitlines()
            head = _HEAD.match(lines[0]) if lines else None
            if not head or head.group(1) in dropped:
                continue
            node = {"name": head.group(2).strip(), "codegen": head.group(3)}
            for line in lines[1:]:
                field = _FIELD.match(line)
                if field:
                    node[field.group(1)] = field.group(2)
            self.nodes.append(node)

    def named(self, name: str) -> List[Dict[str, str]]:
        return [n for n in self.nodes if n["name"] == name]

    def count(self, name: str) -> int:
        return len(self.named(name))

    def has(self, fragment: str) -> bool:
        """Whether some node name contains `fragment` ("Exchange" matches
        BroadcastExchange and ReusedExchange too)."""
        return any(fragment in n["name"] for n in self.nodes)

    def read_schemas(self) -> List[List[str]]:
        """Top-level columns each file scan reads, one list per scan."""
        return [_top_level(n["ReadSchema"]) for n in self.nodes if "ReadSchema" in n]

    def python_calls(self) -> List[str]:
        """Every Python UDF call with its arguments, ids dropped
        (`caption_scrub(caption)`): what each Python worker is sent. An
        ArrowEvalPython node keeps its other input columns in the JVM."""
        return [call for n in self.nodes if n["name"] in PYTHON_NODES
                for call in _calls(re.sub(r"#\d+L?", "", n["Arguments"]))]

    def exchanged_columns(self) -> Set[str]:
        """Columns that enter a shuffle or a broadcast."""
        return set().union(*(columns(n["Input"]) for n in self.nodes
                             if n["name"] in ("Exchange", "BroadcastExchange")))

    def shuffles(self) -> List[str]:
        """Partitioning of each shuffle, without ids and partition counts:
        `hashpartitioning(doc_id), REPARTITION_BY_NUM`."""
        return [re.sub(r"#\d+L?|, \[plan_id=\d+\]|, \d+(?=\))|\d+(?=\))", "", n["Arguments"])
                for n in self.named("Exchange")]

    def shuffle_inputs(self) -> List[List[str]]:
        """Columns each shuffle carries, in order."""
        return [_COLUMN.findall(n["Input"]) for n in self.named("Exchange")]

    def joins(self) -> List[str]:
        return [f"{n['name']} {n['Join type']}" for n in self.nodes if "Join type" in n]

    def window_keys(self) -> List[List[str]]:
        """Partition keys of each Window node ([] is one global window)."""
        return [_COLUMN.findall(n["Arguments"].split("], [")[1])
                for n in self.named("Window")]

    def generates(self) -> List[str]:
        """Each Generate as `<generator>` or `<generator> outer`."""
        out = []
        for n in self.named("Generate"):
            args = n["Arguments"]
            outer = re.search(r", (true|false), \[[^\[\]]*\]$", args).group(1)
            out.append(args.split("(")[0] + (" outer" if outer == "true" else ""))
        return out

    def interpreted(self) -> List[str]:
        """Row operators left outside whole-stage codegen (e.g. a Project
        holding a CodegenFallback expression such as `aggregate`). AQE
        plans get codegen stages only as they execute: read this from an
        executed plan, or from a plan without shuffles."""
        return [n["name"] for n in self.nodes
                if n["name"] in ("Project", "Filter", "HashAggregate") and not n["codegen"]]

    def udfs_per_arrow_node(self) -> List[int]:
        """Python UDFs evaluated by each ArrowEvalPython node (Spark puts
        independent UDFs over one input into ONE node, so the node count
        alone would not see a chained second stage)."""
        return [n["Arguments"].split("], [")[1].count("pythonUDF")
                for n in self.named("ArrowEvalPython")]
