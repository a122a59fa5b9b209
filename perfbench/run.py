"""sparkjig benchmark: one workload, one driver process, ``local[<cores>]``.

    python3 perfbench/run.py --workload curation_barriers --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  A closed loop with one client: one query
(or one export) at a time, each started after the previous one finished.

1. Set-up, three times: start the session, read every table's footer and
   warm one Python worker per core.  ``setup_s`` is the median; the first
   set-up also starts the JVM, the later ones reuse it.
2. Output check of the queries, once and untimed (``check.py``); it is
   the queries' warm-up pass.
3. Timed passes until ``--seconds`` have gone by, and at least
   ``MIN_PASSES``.  The check collects each query's result instead of
   running the noop action, and the first export of a run is a cold one,
   so the first timed pass reads slower than the later ones; the median
   over the passes leaves it out.
   A pass runs the workload's items in an order drawn from ``--seed``:
   its frozen query list (``workloads.json``) and, where the workload has
   one, an export, which is one ``run_pipeline`` + ``write_dataset`` into
   a temp dir that is deleted before the next export.  A workload with
   ``parts`` runs the items of every part it names.
   - ``--trace 0``: untraced; prints the end-to-end metrics.
   - ``--trace 1``: untraced and traced passes alternate, at least two of
     each.  Every query is a span with children ``plans.build`` and
     ``execute`` (export: ``plans.run_pipeline`` and
     ``sinks.write_dataset``), each under its own job group
     (``layers.py``).  Per-layer metrics are medians over traced passes of
     per-pass totals; ``trace.overhead_s`` is the traced minus the
     untraced median pass time.  The spans are written to
     ``.perfbench_out/trace-<workload>-<seed>.json`` at the end.
4. Output check of the export, once and untimed: the last timed export's
   shards are read back before they are deleted.

A query that raises is recorded with its exception class on stderr, left
out of the timings and counted in ``failed``; the pass goes on.  Every
metric is printed as ``name value unit`` once the session has stopped,
followed by one JSON line.  Exits 2 without a result when the checkout
holds no program.  On every way out, SIGTERM included, the session, the
driver JVM and every process they started are stopped and waited for
(``harness.shutdown``).
"""

from __future__ import annotations

import argparse
import json
import math
import random
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

import harness

HERE = Path(__file__).resolve().parent
SETUPS = 3
MIN_PASSES = 3


def _walk(path: str) -> tuple[int, int]:
    files = size = 0
    for p in Path(path).rglob("*"):
        if p.is_file():
            files += 1
            size += p.stat().st_size
    return files, size


def resolve(workloads: dict, name: str) -> dict:
    """A workload's query list and export spec; a workload with ``parts``
    runs the queries and the export of each part it names."""
    w = workloads[name]
    parts = [workloads[p] for p in w.get("parts", [])] or [w]
    return {
        "queries": [q for p in parts for q in p.get("queries", [])],
        "export": next((p["export"] for p in parts if "export" in p), None),
    }


class Runner:
    """Runs passes of one workload and keeps what they measured."""

    def __init__(self, spark, workload: dict, seed: int, sf: str):
        self.spark = spark
        self.queries = workload["queries"]
        self.spec = workload["export"]
        self.rng = random.Random(seed)
        self.sf = sf
        self.tracer = None
        self.attempted = 0
        self.failures: list[str] = []
        self.times: dict[str, list[float]] = {}
        self.n_export = 0
        self.exported: tuple[str, dict] | None = None

    def _call(self, span: str, children: list, fn, *args):
        if self.tracer is None:
            return fn(*args)
        with self.tracer.span(span) as rec:
            out = fn(*args)
        children.append(rec)
        return out

    def _timed(self, item: str, t0: float, children: list, spans: list) -> None:
        s = time.perf_counter() - t0
        self.times.setdefault(item, []).append(s)
        if self.tracer is not None:
            spans.append({"name": item, "s": s, "children": children})

    def query(self, name: str, spans: list) -> None:
        children: list = []
        t0 = time.perf_counter()
        df = self._call("plans.build", children, harness.build, self.spark, name, self.sf)
        self._call("execute", children, harness.execute, df)
        self._timed(name, t0, children, spans)

    def export(self, spans: list) -> dict:
        """One export into a fresh directory; returns ``write_dataset``'s
        per-split record counts.  The caller deletes the directory."""
        from jigsaw_spark.plans.pipeline import run_pipeline
        from jigsaw_spark.sources.sinks import write_dataset

        spec = self.spec
        self.n_export += 1
        out = harness.export_dir(self.n_export)
        children: list = []
        t0 = time.perf_counter()
        src = harness.export_input(self.spark, self.sf)
        res = self._call(
            "plans.run_pipeline", children, run_pipeline, src, harness.export_spec(spec)
        )
        counts = self._call(
            "sinks.write_dataset",
            children,
            write_dataset,
            res.selected,
            out,
            spec["key_cols"],
            0.2,
            spec["num_folds"],
        )
        self._timed("export", t0, children, spans)
        if children:
            children[-1]["files"], children[-1]["bytes"] = _walk(out)
            children[-1]["records"] = sum(counts.values())
        return counts

    def _export_once(self, spans: list) -> None:
        """One export; its output stays until the next export, so the
        check can read the last one back."""
        if self.exported:
            shutil.rmtree(self.exported[0], ignore_errors=True)
            self.exported = None
        try:
            counts = self.export(spans)
        except BaseException:
            shutil.rmtree(harness.export_dir(self.n_export), ignore_errors=True)
            raise
        self.exported = (harness.export_dir(self.n_export), counts)

    def one_pass(self) -> tuple[float, list[dict]]:
        """One pass over the workload's items in an order drawn from the
        seed; returns its wall time and the spans it recorded."""
        spans: list[dict] = []
        order = list(self.queries) + (["export"] if self.spec else [])
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        for item in order:
            self.attempted += 1
            try:
                if item == "export":
                    self._export_once(spans)
                else:
                    self.query(item, spans)
            except Exception as e:  # recorded; the pass goes on
                self._failed(item, f"raised {type(e).__name__}")
        return time.perf_counter() - t0, spans

    def _failed(self, item: str, why: str) -> None:
        self.failures.append(item)
        print(f"FAILED {item}: {why}", file=sys.stderr, flush=True)

    def check_queries(self, checks) -> None:
        """The untimed output check of the queries (``check.py``), before the
        timed passes; a mismatch counts as a failure."""
        if self.queries:
            self.attempted += len(self.queries)
            self._report(checks.check_queries(self.spark, self.queries, self.sf))

    def check_export(self, checks) -> None:
        """The untimed output check of the last timed export, read back after
        the timed passes; a mismatch counts as a failure of ``export``."""
        if not self.exported:
            return  # every export raised, and each is counted already
        out, counts = self.exported
        try:
            problems = checks.check_export(self.spark, self.spec, out, counts, self.sf)
        except Exception as e:  # a failed check, not an abort
            problems = {"export": f"raised {type(e).__name__}"}
        finally:
            shutil.rmtree(out, ignore_errors=True)
        self._report(problems)

    def _report(self, problems: dict[str, str]) -> None:
        for item, why in problems.items():
            self._failed(item, f"output check: {why}")


def layer_metrics(spans: list[dict], wall: float, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass: totals over its spans."""
    leaves = [c for s in spans for c in s["children"]]

    def total(key: str, names=None) -> float:
        return sum(c.get(key, 0) for c in leaves if names is None or c["name"] in names)

    build = ("plans.build", "plans.run_pipeline")
    run = ("execute", "sinks.write_dataset")
    sink = ("sinks.write_dataset",)
    return {
        "session.scan_tasks": total("scan_tasks"),
        "session.input_bytes": total("input_bytes"),
        "plans.build_s": total("s", build),
        "plans.build_jobs": total("jobs", build),
        "plans.exchanges": total("exchanges"),
        "plans.python_nodes": total("python_nodes"),
        "execute.exec_s": total("s", run),
        "execute.jobs": total("jobs", run),
        "execute.stages": total("stages", run),
        "execute.tasks": total("tasks", run),
        "execute.task_s": total("task_s", run),
        "execute.core_util": total("task_s") / (wall * cores),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "spill.bytes": total("spill_bytes"),
        "kernels.python_run_s": total("python_run_s"),
        "kernels.arrow_bytes": total("arrow_bytes"),
        "streaming.batches": total("stream_batches"),
        "streaming.batch_s": total("stream_batch_s"),
        "sinks.write_s": total("s", sink),
        "sinks.records": total("records", sink),
        "sinks.bytes": total("bytes", sink),
        "sinks.files": total("files", sink),
    }


def tail(values: list[float]) -> tuple[int, float] | None:
    """Highest percentile with at least ten samples above it, and its value."""
    n = len(values)
    if n < 11:
        return None
    return math.floor(100 * (n - 10) / n), sorted(values)[n - 11]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the ``finally`` that ends every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    workload = resolve(
        json.loads((HERE / "workloads.json").read_text())["workloads"], args.workload
    )
    try:
        harness.prepare()
    except harness.ProgramMissing as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    import check
    import layers
    from jigsaw_spark.plans.queries import QUERIES

    unknown = [n for n in workload["queries"] if n not in QUERIES]
    sf = harness.sf_dir()
    if unknown or not Path(sf).is_dir():
        print(f"perfbench: unregistered {unknown} or no tables at {sf}", file=sys.stderr)
        harness.shutdown(None)
        return 2
    cpus = harness.cores()

    spark = tracer = None
    plain: list[float] = []
    traced: list[tuple[float, list[dict]]] = []
    try:
        t_start = time.perf_counter()
        setups = []
        for _ in range(SETUPS):
            spark, s = harness.start_session(cpus, sf, spark)
            setups.append(s)
        runner = Runner(spark, workload, args.seed, sf)
        t_check = time.perf_counter()
        runner.check_queries(check)

        if args.trace:
            tracer = layers.Tracer(spark)
        t_timed = time.perf_counter()
        deadline = t_timed + args.seconds
        # a traced run takes two passes per round; two rounds keep it short
        need = MIN_PASSES if tracer is None else 2
        while len(plain) < need or time.perf_counter() < deadline:
            runner.tracer = None
            plain.append(runner.one_pass()[0])
            if tracer is not None:
                runner.tracer = tracer
                traced.append(runner.one_pass())
        t_end = time.perf_counter()
        if tracer is not None:
            memory = {
                "memory.peak_rss_mb": layers.peak_rss_mb(spark),
                "memory.retained_mb": layers.retained_mb(spark),
            }
        runner.check_export(check)
        print(
            f"perfbench: set-up {t_check - t_start:.1f} s {[round(s, 1) for s in setups]},"
            f" query check {t_timed - t_check:.1f} s, timed {t_end - t_timed:.1f} s"
            f" {[round(w, 2) for w in plain]},"
            f" export check {time.perf_counter() - t_end:.1f} s",
            file=sys.stderr,
        )
    finally:
        harness.shutdown(spark)

    # a query that failed in any pass leaves the timings entirely
    timed = {n: t for n, t in runner.times.items() if n not in runner.failures}
    if not timed:
        print("perfbench: every query failed", file=sys.stderr)
        return 1
    if tracer is not None:
        runs = [layer_metrics(spans, wall, cpus) for wall, spans in traced]
        metrics = {k: statistics.median(r[k] for r in runs) for k in runs[0]}
        metrics["session.start_s"] = statistics.median(setups)
        metrics.update(memory)
        metrics["trace.wall_s"] = statistics.median(w for w, _ in traced)
        metrics["trace.overhead_s"] = metrics["trace.wall_s"] - statistics.median(plain)
        out = harness.ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        (out / f"trace-{args.workload}-{args.seed}.json").write_text(
            json.dumps(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "untraced_walls": plain,
                    "passes": [{"wall": w, "spans": s} for w, s in traced],
                },
                indent=1,
            )
        )
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "wall_s": statistics.median(plain),
            "query_geomean_s": math.exp(
                statistics.fmean(math.log(statistics.median(t)) for t in timed.values())
            ),
        }
    lines = [f"{k} {v!r} {units[k]}" for k, v in metrics.items()]
    lines += [f"query_s.{n} {statistics.median(t)!r} s" for n, t in sorted(timed.items())]
    lines.append(f"failed_ratio {len(runner.failures) / runner.attempted!r} ratio")
    lines.append(f"passes {len(plain)} count")
    t = tail(plain)
    lines.append(
        f"wall_s_p{t[0]} {t[1]!r} s"
        if t
        else f"wall_s_tail nan s (needs 11 passes, has {len(plain)})"
    )
    print("\n".join(lines))
    print(
        json.dumps(
            {
                "correct": not runner.failures,
                "attempted": runner.attempted,
                "failed": len(runner.failures),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
