"""Output checks, run once per invocation and never timed.

- Queries: each oracle-backed query's Spark result is compared with its
  DuckDB oracle on the same tables (sorted column names, row count and the
  order-insensitive value hash of ``tools/verify_oracle.py``).  A query
  without an oracle must run and yield only scalar cells.
- Export: the shards under ``splits/`` (all but the held-out test split)
  are read back through the program's ``tfrecord`` data source and must
  hold as many records as their ``.numexamples`` sidecars say; each
  split's shards, read with ``read_tfrecords`` (which
  checks every CRC), must match its sidecar and the count
  ``write_dataset`` returned; the
  splits must partition the selection, and the selection size must equal
  the DuckDB count of the filter groups.

Each function returns ``{item: problem}`` for the items that failed.
"""

from __future__ import annotations

import glob
import os

from tools.verify_oracle import UnsortableCell, table_hash, to_pandas_rows


def _duckdb(sf: str):
    import duckdb

    from jigsaw_spark.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _compare(spark_df, oracle_pdf) -> str | None:
    scols = spark_df.columns
    srows = to_pandas_rows(spark_df.toPandas())
    if oracle_pdf is None:
        table_hash(srows, list(range(len(scols))))
        return None
    dcols = list(oracle_pdf.columns)
    drows = to_pandas_rows(oracle_pdf)
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rows spark={len(srows)} duckdb={len(drows)}"
    s_order = [scols.index(c) for c in sorted(scols)]
    d_order = [dcols.index(c) for c in sorted(dcols)]
    if table_hash(srows, s_order) != table_hash(drows, d_order):
        return "value-hash mismatch"
    return None


def check_queries(spark, names: list[str], sf: str) -> dict[str, str]:
    from jigsaw_spark.plans.queries import QUERIES

    con = _duckdb(sf)
    problems: dict[str, str] = {}
    try:
        for name in names:
            spec = QUERIES[name]
            try:
                oracle = con.execute(spec.oracle).df() if spec.oracle else None
                problem = _compare(spec.spark(spark, sf), oracle)
            except UnsortableCell as e:
                problem = f"array-typed output cell ({e})"
            except Exception as e:  # recorded as a failed check
                problem = f"raised {type(e).__name__}"
            if problem:
                problems[name] = problem
    finally:
        con.close()
    return problems


def _group_sql(group: dict) -> str:
    hits = [f"(lang = '{t}' OR source = '{t}')" for t in group["tags"]]
    joiner = " AND " if group["type"] == "and" else " OR "
    return "(" + joiner.join(hits) + ")"


def check_export(spark, spec: dict, out_dir: str, counts: dict, sf: str) -> dict[str, str]:
    from jigsaw_spark.sources.tfrecord import read_tfrecords
    from jigsaw_spark.sources.tfrecord_source import register_tfrecord_source

    register_tfrecord_source(spark)
    problems: dict[str, str] = {}
    key = spec["key_cols"][0]
    source_read = (
        spark.read.format("tfrecord")
        .schema(f"{key} long")
        .load(os.path.join(out_dir, "splits", "*", "*.record"))
        .count()
    )
    sidecars = 0
    for path, n in sorted(counts.items()):
        rel = os.path.relpath(path, out_dir)
        with open(path + ".numexamples") as f:
            sidecar = int(f.read())
        if rel.startswith("splits"):
            sidecars += sidecar
        read = sum(len(read_tfrecords(p)) for p in glob.glob(path + "-*.record"))
        if not sidecar == n == read:
            problems[rel] = f"returned={n} sidecar={sidecar} read back={read}"
    if source_read != sidecars:
        problems["splits/*"] = f"tfrecord source read {source_read}, sidecars say {sidecars}"

    def count(rel: str) -> int:
        return counts[os.path.join(out_dir, rel)]

    dev = count("splits/complete/train") + count("splits/complete/test")
    selected = count("test/test") + dev
    pairs = {"splits/standard": count("splits/standard/train") + count("splits/standard/test")}
    for k in range(spec["num_folds"]):
        pairs[f"splits/fold_{k}"] = count(f"splits/fold_{k}/train") + count(f"splits/fold_{k}/test")
    for rel, total in pairs.items():
        if total != dev:
            problems[rel] = f"train+test={total}, dev={dev}"
    fold_tests = sum(count(f"splits/fold_{k}/test") for k in range(spec["num_folds"]))
    if fold_tests != dev:
        problems["splits/fold_*/test"] = f"sum={fold_tests}, dev={dev}"
    con = _duckdb(sf)
    try:
        where = " OR ".join(_group_sql(g) for g in spec["groups"])
        expected = con.execute(
            f"SELECT count(DISTINCT {key}) FROM documents WHERE {where}"
        ).fetchone()[0]
    finally:
        con.close()
    if selected != expected:
        problems["selection"] = f"exported={selected} duckdb={expected}"
    return problems
