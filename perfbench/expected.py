"""Expected outputs of the query workloads, and the check against them.

``expected.json`` holds, for every query of the ``relational`` and
``corpus`` workloads at each data scale the benchmark uses, the row
count, column list and order-insensitive hash of the query's DuckDB twin
(``canonical()`` from ``tools/check_correctness.py``). The queries whose
registry entry has a ``bound_check`` instead of a twin are marked
``"bound": true`` and checked with that function against DuckDB at run
time.

Regenerate (after changing the generator, a query set or a scale):

    python3 perfbench/expected.py

Regeneration also runs every query on Spark and reports any query whose
Spark result does not match its twin; it exits non-zero in that case and
writes nothing.
"""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
EXPECTED_FILE = HERE / "expected.json"

if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from etl_transparencia_sergipe_spark.sources.catalog import TABLES  # noqa: E402


def _load_canonical():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", ROOT / "tools" / "check_correctness.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canonical


canonical = _load_canonical()


def duck_views(data_dir: Path) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir / (t + '.parquet')}')")
    return con


def arrow_to_pandas(table, schema, timezone: str) -> pd.DataFrame:
    """The pandas frame ``DataFrame.toPandas()`` would have returned for
    this ``toArrow()`` result (same Arrow options, same per-field
    converters), so the twin hashes of ``check_correctness`` apply."""
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    names = list(schema.names)
    if table.num_rows == 0:
        return pd.DataFrame(columns=names)
    pdf = table.rename_columns([f"col_{i}" for i in range(len(names))]) \
        .to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
    pdf.columns = names
    if not names:
        return pdf
    return pd.concat(
        [_create_converter_to_pandas(
            f.dataType, f.nullable, timezone=timezone,
            struct_in_pandas="dict",
            error_on_duplicated_field_names=True)(ser)
         for (_, ser), f in zip(pdf.items(), schema.fields)],
        axis="columns")


def check(entry: dict | None, pdf: pd.DataFrame, bound_check,
          con_factory) -> str | None:
    """None when ``pdf`` matches its expected entry, else the reason."""
    if entry is None:
        return "no expected entry"
    if entry.get("bound"):
        return bound_check(pdf, con_factory())
    n, cols, h = canonical(pdf)
    if (n, cols, h) != (entry["rows"], entry["cols"], entry["hash"]):
        return (f"got rows={n} hash={h}, expected rows={entry['rows']} "
                f"hash={entry['hash']}")
    return None


def load(path: Path = EXPECTED_FILE) -> dict:
    return json.loads(path.read_text())


def _twin(qd, con) -> pd.DataFrame:
    if qd.oracle_py is not None:
        return qd.oracle_py(con)
    return con.execute(qd.oracle).fetchdf()


def regenerate() -> int:
    import workloads
    from etl_transparencia_sergipe_spark.caching import release_all
    from etl_transparencia_sergipe_spark.plans import registry
    from etl_transparencia_sergipe_spark.session import get_spark

    registry.queries()  # loads every plan module
    spark = get_spark("perfbench-expected")
    tz = spark.conf.get("spark.sql.session.timeZone")
    out: dict = {}
    bad = []
    for wl, (sf_full, names) in workloads.QUERY_SETS.items():
        for sf in sorted({sf_full, workloads.TINY_SF}):
            data_dir = workloads.ensure_data(ROOT / workloads.WORK_DIR, sf)
            con = duck_views(data_dir)
            entries = {}
            for name in names:
                qd = registry.REGISTRY[name]
                df = qd.build(spark, str(data_dir))
                pdf = arrow_to_pandas(df.toArrow(), df.schema, tz)
                release_all(spark)
                if qd.oracle is None and qd.oracle_py is None:
                    err = qd.bound_check(pdf, con)
                    entries[name] = {"bound": True}
                else:
                    n, cols, h = canonical(_twin(qd, con))
                    entries[name] = {"rows": n, "cols": cols, "hash": h}
                    err = check(entries[name], pdf, None, None)
                status = "FAIL" if err else "ok"
                print(f"{status:4} {wl} sf{sf} {name}"
                      + (f": {err}" if err else ""), flush=True)
                if err:
                    bad.append((wl, sf, name))
            out.setdefault(wl, {})[str(sf)] = entries
            con.close()
    spark.stop()
    if bad:
        print(f"{len(bad)} Spark results differ from their twins: {bad}")
        return 1
    EXPECTED_FILE.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {EXPECTED_FILE}")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    import workloads

    workloads.configure_env(ROOT)
    sys.exit(regenerate())
