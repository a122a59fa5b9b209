"""Self-test of the frozen workload lists against the traced baseline.

    python3 -m pytest perfbench/test_workloads.py -q

Needs no Spark session: it reads ``workloads.json``, the registry and
``baseline/layers.json``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

WORKLOADS = json.loads((HERE / "workloads.json").read_text())["workloads"]
BASELINE = json.loads((HERE / "baseline" / "layers.json").read_text())["queries"]


def _total(workload: str, span: str, key: str) -> float:
    return sum(BASELINE[n][span][key] for n in WORKLOADS[workload]["queries"])


def test_every_listed_query_is_registered():
    from jigsaw_spark.plans.queries import QUERIES

    for name, w in WORKLOADS.items():
        missing = [q for q in w.get("queries", []) if q not in QUERIES]
        assert not missing, f"{name}: {missing}"


def test_every_scheduled_workload_resolves():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    for w in bench["workloads"]:
        entry = WORKLOADS[w["name"]]
        parts = [WORKLOADS[p] for p in entry.get("parts", [])] or [entry]
        assert any("queries" in p or "export" in p for p in parts), w["name"]


def test_every_listed_query_ran_in_the_baseline():
    for name, w in WORKLOADS.items():
        raised = [q for q in w.get("queries", []) if "error" in BASELINE[q]]
        assert not raised, f"{name}: {raised}"


def test_relational_has_no_python_nodes():
    nodes = _total("relational", "build", "python_nodes") + _total(
        "relational", "execute", "python_nodes"
    )
    assert nodes == 0


def test_barriers_spend_half_their_wall_in_plan_construction():
    build = _total("barriers", "build", "s")
    assert build >= 0.5 * (build + _total("barriers", "execute", "s"))


def test_curation_spends_half_its_task_time_in_python_kernels():
    def both(key):
        return _total("curation", "build", key) + _total("curation", "execute", key)

    assert both("python_run_s") >= 0.5 * both("task_s")


def test_python_run_time_stays_within_task_time():
    # "time to run Python workers" is read once per stage (layers.py); a
    # figure above the tasks' own run time would let the curation check
    # pass whatever the kernels' real share.  Spark rounds it to 0.1 s.
    over = {
        n: (r[s]["python_run_s"], r[s]["task_s"])
        for n, r in BASELINE.items()
        if "error" not in r
        for s in ("build", "execute")
        if r[s]["python_run_s"] > r[s]["task_s"] + 0.05
    }
    assert not over, over


def test_lists_are_what_the_selection_rule_picks_from_the_baseline():
    from baseline import select

    picked = select(BASELINE)
    for name, w in WORKLOADS.items():
        if "queries" in w:
            assert w["queries"] == picked[name]["queries"], name


if __name__ == "__main__":
    import pytest

    sys.exit(pytest.main([__file__, "-q", "-p", "no:cacheprovider"]))
