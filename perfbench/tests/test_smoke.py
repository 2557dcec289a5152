"""Smoke test of the benchmark harness at a tiny scale.

    python3 -m pytest perfbench/tests -q

Starts Spark sessions in this process, about a minute each.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpus, run, workloads  # noqa: E402

TINY = corpus.CorpusSpec(
    people=100, companies=40, orgs=20, addresses=20, payments=80,
    first_pool=20, last_pool=25, word_pool=20,
)


def test_seed_fixes_the_corpus():
    first = corpus.digest(corpus.generate(1, TINY))
    assert corpus.digest(corpus.generate(1, TINY)) == first
    assert corpus.digest(corpus.generate(2, TINY)) != first


def _result(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_every_metric_is_emitted_with_its_unit(monkeypatch, capsys):
    spec = run._spec()
    monkeypatch.setattr(workloads.Serve, "spec", TINY)
    for workload, trace, key in (("serve", 0, "end_to_end"),
                                 ("serve", 1, "per_layer"),
                                 ("operators", 1, "per_layer")):
        rc = run.main(["--workload", workload, "--seed", "1",
                       "--seconds", "0", "--trace", str(trace)])
        out = _result(capsys)
        assert rc == 0, (workload, trace)
        assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
        assert {k: v["unit"] for k, v in out["metrics"].items()} == {
            m["name"]: m["unit"] for m in spec[key]}
        if key == "end_to_end":
            assert all(v["value"] > 0 for v in out["metrics"].values())
