"""Traced baseline: the per-query layer record for every registered query.

    python3 perfbench/baseline.py [--out perfbench/baseline] [names...]
    python3 perfbench/baseline.py --report   # top20.md from layers.json

Starts one warmed session on ``local[<cores>]``, then runs each query once,
in registry order, as two spans (``plans.build`` = ``QuerySpec.spark`` and
``execute`` = the noop-sink action), each under its own job group.  Writes

- ``layers.json``: one record per query, ``{"build": {...}, "execute":
  {...}}`` with the counters of ``layers.COUNTERS``, or ``"error"`` with the
  exception class;
- ``top20.md``: the 20 queries with the largest ``plans.build_s`` and the
  20 with the most shuffle bytes written, the queries that meet each
  workload's rule, and what ``select`` picks from them.

The workload lists in ``workloads.json`` are what ``select`` picked from
the committed record; they are frozen, and re-running this script does
not change them.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time
from pathlib import Path

import harness
import layers


def classify(rec: dict) -> str | None:
    """The rule of each query-driven workload: the queries it may draw from.

    - barriers: plan construction launches jobs and takes at least 70 % of
      wall, and no Python node runs (kernel work is bypassed);
    - relational: no Python node, plan construction under a quarter of wall;
    - curation: a Python node runs, plan construction is under a quarter of
      wall, and Python-node time is at least half of all task time.
    """
    b, x = rec["build"], rec["execute"]
    wall = b["s"] + x["s"]
    python = b["python_nodes"] + x["python_nodes"]
    if python == 0 and b["jobs"] > 0 and b["s"] >= 0.7 * wall:
        return "barriers"
    if b["s"] >= 0.25 * wall:
        return None
    if python == 0:
        return "relational"
    if b["python_run_s"] + x["python_run_s"] >= 0.5 * (b["task_s"] + x["task_s"]):
        return "curation"
    return None


# Selection within a workload: the queries that meet its rule are grouped by
# mechanism, each mechanism gets a share of the pass budget in proportion
# to its share of the rule's weight, and within a mechanism the heaviest
# queries whose baseline wall fits what is left of that share are taken.
PASS_BUDGET_S = 3.5
WEIGHT = {
    "relational": "wall_s",
    "curation": "python_run_s",
    "barriers": "build_s",
}
FAMILIES = {
    "relational": ("q", "p", "j", "w", "agg"),
    "curation": ("dedup", "mm", "ann", "text"),
}


def _wall(rec: dict) -> float:
    return rec["build"]["s"] + rec["execute"]["s"]


def weight(kind: str, rec: dict) -> float:
    b, x = rec["build"], rec["execute"]
    return {
        "wall_s": _wall(rec),
        "python_run_s": b["python_run_s"] + x["python_run_s"],
        "build_s": b["s"],
    }[WEIGHT[kind]]


def mechanism(kind: str, name: str, rec: dict) -> str | None:
    """Barriers: how plan construction launches jobs.  Relational and
    curation: the query family (name prefix); a query outside the families
    the workload stands for (``FAMILIES``) is not drawn from."""
    if kind == "barriers":
        b = rec["build"]
        if b["stream_batches"]:
            return "stream drain"
        return "iterative (10+ build jobs)" if b["jobs"] >= 10 else "1-9 barrier jobs"
    family = re.match(r"[a-z]+", name).group()
    return family if family in FAMILIES[kind] else None


def select(records: dict) -> dict[str, dict]:
    """The frozen list of each query-driven workload, with the share of
    the rule's weight that the list covers, overall and per mechanism."""
    out = {}
    for kind in WEIGHT:
        met = {
            n: r
            for n, r in records.items()
            if "error" not in r and classify(r) == kind and mechanism(kind, n, r)
        }
        total = sum(weight(kind, r) for r in met.values())
        groups: dict[str, list[str]] = {}
        for n in met:
            groups.setdefault(mechanism(kind, n, met[n]), []).append(n)
        picked: list[str] = []
        shares = {}
        for mech, names in sorted(groups.items()):
            mech_w = sum(weight(kind, met[n]) for n in names)
            left = PASS_BUDGET_S * mech_w / total
            took = []
            for n in sorted(names, key=lambda n: (-weight(kind, met[n]), n)):
                if _wall(met[n]) <= left:
                    took.append(n)
                    left -= _wall(met[n])
            picked += took
            shares[mech] = {
                "rule_share": round(mech_w / total, 3),
                "queries": len(names),
                "picked": took,
                "covers": round(sum(weight(kind, met[n]) for n in took) / mech_w, 4),
            }
        out[kind] = {
            "queries": picked,
            "drawn_from": len(met),
            "covers": round(sum(weight(kind, met[n]) for n in picked) / total, 4),
            "mechanisms": shares,
        }
    return out


def _table(rows: list[tuple], head: tuple) -> list[str]:
    out = ["| " + " | ".join(head) + " |", "|" + "---|" * len(head)]
    out += ["| " + " | ".join(str(c) for c in r) + " |" for r in rows]
    return out


def write_report(records: dict, out: Path, cores: int) -> None:
    ok = {n: r for n, r in records.items() if "error" not in r}
    by_build = sorted(ok, key=lambda n: -ok[n]["build"]["s"])[:20]
    by_shuffle = sorted(
        ok,
        key=lambda n: -(
            ok[n]["build"]["shuffle_write_bytes"] + ok[n]["execute"]["shuffle_write_bytes"]
        ),
    )[:20]
    lines = [
        f"# Traced baseline, sf0.1, local[{cores}], one warm session",
        "",
        f"{len(records)} queries traced, {len(records) - len(ok)} raised.",
        "",
        "## Top 20 by plans.build_s",
        "",
    ]
    lines += _table(
        [
            (
                f"`{n}`",
                f"{ok[n]['build']['s']:.2f}",
                f"{ok[n]['execute']['s']:.2f}",
                ok[n]["build"]["jobs"],
                ok[n]["build"]["jobs"] + ok[n]["execute"]["jobs"],
            )
            for n in by_build
        ],
        ("query", "build_s", "exec_s", "build jobs", "jobs"),
    )
    lines += ["", "## Top 20 by shuffle.write_bytes", ""]
    lines += _table(
        [
            (
                f"`{n}`",
                ok[n]["build"]["shuffle_write_bytes"] + ok[n]["execute"]["shuffle_write_bytes"],
                ok[n]["build"]["exchanges"] + ok[n]["execute"]["exchanges"],
                f"{ok[n]['build']['s'] + ok[n]['execute']['s']:.2f}",
            )
            for n in by_shuffle
        ],
        ("query", "shuffle write bytes", "exchanges", "wall_s"),
    )
    groups: dict[str, list[str]] = {}
    for n, r in ok.items():
        kind = classify(r)
        if kind:
            groups.setdefault(kind, []).append(n)
    picks = select(records)
    for kind in WEIGHT:
        names = groups.get(kind, [])
        total = sum(_wall(ok[n]) for n in names)
        pick = picks[kind]
        lines += [
            "",
            f"## Meets the `{kind}` rule: {len(names)} queries, {total:.1f} s",
            "",
            ", ".join(f"`{n}`" for n in names),
            "",
            f"Drawn from: {pick['drawn_from']} queries, weight `{WEIGHT[kind]}`,"
            f" pass budget {PASS_BUDGET_S:g} s: the list covers"
            f" {100 * pick['covers']:.1f} % of the weight.",
            "",
        ]
        lines += _table(
            [
                (
                    m,
                    f"{100 * v['rule_share']:.1f} %",
                    v["queries"],
                    ", ".join(f"`{n}`" for n in v["picked"]) or "(none fits)",
                    f"{100 * v['covers']:.1f} %",
                )
                for m, v in pick["mechanisms"].items()
            ],
            ("mechanism", "share of weight", "queries", "picked", "covers"),
        )
    errors = {n: r["error"] for n, r in records.items() if "error" in r}
    if errors:
        lines += ["", "## Raised", ""]
        lines += [f"- `{n}`: {e}" for n, e in sorted(errors.items())]
    (out / "top20.md").write_text("\n".join(lines) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="perfbench/baseline")
    ap.add_argument("--report", action="store_true", help="only rewrite top20.md")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.report:
        record = json.loads((Path(args.out) / "layers.json").read_text())
        write_report(record["queries"], Path(args.out), record["cores"])
        return 0
    harness.prepare()
    from jigsaw_spark.plans.queries import QUERIES

    sf = harness.sf_dir()
    cpus = harness.cores()
    spark = None
    records: dict[str, dict] = {}
    t0 = time.perf_counter()
    try:
        spark, _ = harness.start_session(cpus, sf)
        tracer = layers.Tracer(spark)
        for name in args.names or list(QUERIES):
            rec: dict = {}
            try:
                with tracer.span("plans.build") as b:
                    df = harness.build(spark, name, sf)
                with tracer.span("execute") as x:
                    harness.execute(df)
                rec = {"build": b, "execute": x}
            except Exception as e:  # recorded, and the pass continues
                rec = {"error": type(e).__name__}
            records[name] = rec
            print(name, json.dumps(rec), file=sys.stderr, flush=True)
    finally:
        harness.shutdown(spark)
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    for rec in records.values():
        for span in ("build", "execute"):
            if span in rec:
                rec[span].pop("name", None)
                rec[span] = {k: round(v, 4) if isinstance(v, float) else v for k, v in rec[span].items()}
    (out / "layers.json").write_text(
        json.dumps(
            {"sf": Path(sf).name, "cores": cpus, "seconds": round(time.perf_counter() - t0, 1), "queries": records},
            indent=1,
            sort_keys=True,
        )
    )
    write_report(records, out, cpus)
    return 0


if __name__ == "__main__":
    sys.exit(main())
