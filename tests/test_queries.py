"""Local replica of the driver's correctness gate: every queries() entry
runs on Spark and, when an oracle_sql() entry exists, must match DuckDB
row-for-row (columns sorted by name, rows sorted, values compared)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
# fixture oracles (oracle_support.py) recompute expected values from the
# parquet dir; point them at the same sf this test runs the queries on
os.environ["SPARK_GRAFT_ORACLE_SF"] = SF_DIR
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = f"{v:.6g}"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    srows = sdf.collect()
    assert len(srows) >= 0  # must execute

    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        assert len(srows) > 0  # rows-only check for model-backed ops
        return
    res = duck.execute(sql)
    drows = res.fetchall()
    dcols = [d[0] for d in res.description]
    scols = sdf.columns
    assert sorted(scols) == sorted(dcols), (scols, dcols)
    assert len(srows) == len(drows)
    got = _canon([[r[c] for c in scols] for r in srows], scols)
    exp = _canon(drows, dcols)
    mismatches = [i for i, (g, e) in enumerate(zip(got, exp)) if g != e]
    assert not mismatches, (name, [(got[i], exp[i]) for i in mismatches[:3]])


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 500
    assert {"doc_id", "keep", "scrubbed_caption", "scrub_count"} <= set(df.columns)


def test_unverified_queries_in_first_50():
    """Standing coverage policy (round-4 verdict #1/#5): the driver's
    correctness gate checks exactly the FIRST 50 queries() entries each
    round (a count cap — r3 checked 50/63, r4 checked 50/71), so any
    query WITHOUT a driver-green row in some CORRECTNESS_r*.json must sit
    inside the first 50 positions or it can never be proven. This test
    makes the r3/r4 regression (9 queries stuck past the cap for two
    rounds) structurally impossible to reintroduce."""
    import glob
    import json

    proven = set()
    arts = sorted(glob.glob(os.path.join(os.path.dirname(__file__), "..",
                                         "CORRECTNESS_r*.json")))
    for path in arts:
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            if (row.get("rows_match") and row.get("schema_match")
                    and row.get("hash_match") in (True, None)):
                proven.add(name)
    if not arts:
        pytest.skip("no CORRECTNESS artifacts yet (round 1)")
    order = list(entry_mod.queries().keys())
    late_unproven = [n for n in order[50:] if n not in proven]
    assert not late_unproven, (
        f"queries with no driver-green row sit past position 50 and will "
        f"never be checked: {late_unproven} — move them into the prefix"
    )


def test_every_query_has_an_oracle():
    """No oracle may silently degrade: a fixture generator that raises
    would turn its query into a rows-only check that still passes."""
    assert set(entry_mod.oracle_sql()) == set(entry_mod.queries())


def test_every_builder_is_declared_once():
    """Every q_* builder of the module sits in the gate order exactly once,
    under the name its function carries."""
    builders = {k for k, v in vars(entry_mod).items()
                if k.startswith("q_") and callable(v)}
    order = [q.__name__ for q in entry_mod._GATE_ORDER]
    assert sorted(order) == sorted(builders)
    assert [f"q_{n}" for n in entry_mod.queries()] == order


def test_oracle_check_writes_forensics_on_mismatch(tmp_path, monkeypatch):
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "oracle_check",
        os.path.join(os.path.dirname(__file__), "..", "tools", "oracle_check.py"),
    )
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    monkeypatch.chdir(tmp_path)
    path = oc.write_forensics(
        "demo",
        [(1, 0.5), (2, None), (2, None)], ["id", "x"],
        [(0.5, 1), (None, 2), (0.25, 3)], ["x", "id"],
    )
    out = json.loads((tmp_path / path).read_text())
    assert path == "oracle_forensics_demo.json"
    assert out["only_spark"] == ["2|NULL"]
    assert out["only_oracle"] == ["3|0.25"]
    assert set(out["versions"]) == {"duckdb", "pyspark"}


def test_fixture_generators_take_only_sf_dir():
    import inspect

    from pii_filter_spark import oracle_support

    gens = {k: v for k, v in vars(oracle_support).items()
            if k.endswith("_sql") and not k.startswith("_")
            and inspect.isfunction(v)}
    assert len(gens) == 52
    for name, fn in gens.items():
        assert list(inspect.signature(fn).parameters) == ["sf_dir"], name
