"""The scripts under tools/, each run in-process through its ``main(argv)``
on the test session at sf0.001 (the store soak on a tiny serve corpus). No
``--arm`` is passed: an arm stops the active session to start its own."""

import importlib.util
import json
import os

import pytest

import __spark_entry__ as entry_mod

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
SF = entry_mod.SF_DEFAULT


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(
        f"tools_{name}", os.path.join(TOOLS, f"{name}.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture
def same_session(spark):
    """The tools must run on the active test session, not reconfigure it."""
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    yield
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions


def test_probe_phases(spark, same_session):
    rec = _tool("probe").main(["-n", "1", "--sf", SF, "--phases", "t42_readability"])
    op = rec["results"]["default"]["t42_readability"]
    [sample] = op["samples"]
    phases = sample["phases"]
    assert set(phases) == {"build", "plan", "exec"}
    # readability is one narrow projection: the digest action is its job
    assert phases["exec"]["jobs"] >= 1
    assert sample["jobs"] == sum(p["jobs"] for p in phases.values())
    assert sample["s"] > 0 and op["min_s"] == sample["s"]
    assert op["digest"].startswith("500:")
    assert [p["arm"] for p in rec["passes"]] == ["default"]


def test_probe_rejects_bad_arm():
    with pytest.raises(SystemExit):
        _tool("probe").main(["--arm", "no-settings", "t42_readability"])


def _json_lines(capsys) -> list[dict]:
    return [json.loads(line) for line in capsys.readouterr().out.splitlines()
            if line.startswith("{")]


def test_soak_rows_grow_with_scale(spark, same_session, capsys):
    assert _tool("soak").main(["--sf", SF, "--scales", "1,2", "t42_readability"]) == 0
    rows = {r["scale"]: r["rows"] for r in _json_lines(capsys)}
    assert rows[2] == 2 * rows[1] > 0


def test_soak_store(spark, same_session, cache_empty, capsys, monkeypatch):
    from perfbench import workloads
    from perfbench.tests.test_smoke import TINY

    monkeypatch.setattr(workloads.Serve, "spec", TINY)
    assert _tool("soak").main(["--store", "--scales", "1,2"]) == 0
    lines = _json_lines(capsys)
    spans = {(r["scale"], r["span"]): r for r in lines}
    names = {"store.write", "store.optimize", "cc", "store.optimize.sliced",
             "store.bucketed", "store.stream"}
    for scale in (1, 2):
        assert names <= {name for s, name in spans if s == scale}
    # the corpus doubles, up to the rounding of its duplicate count
    rows = {s: spans[s, "store.optimize.sliced"]["rows"] for s in (1, 2)}
    assert rows[2] == pytest.approx(2 * rows[1], rel=0.02)
    assert spans[2, "store.stream"]["rows"] == rows[2]
    assert cache_empty()


def test_soak_needs_ops_or_store():
    with pytest.raises(SystemExit):
        _tool("soak").main(["--scales", "1"])
    with pytest.raises(SystemExit):
        _tool("soak").main(["--store", "--scales", "1", "t42_readability"])


def test_check_oracle_rejects_unknown_query():
    assert _tool("check_oracle").main([SF, "no_such_query"]) != 0
