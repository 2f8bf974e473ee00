"""DuckDB yardstick: the reference's own SQL stages on the same
generated inputs, for context next to `rows_per_s`. It is never an
end-to-end metric and never gates anything.

Stages, as the reference runs them in DuckDB: `read_csv` into a raw
table (all VARCHAR), the config's schema checks as a filter, the
row_number() dedup window plus `DELETE` per key set, the `age_gte`
rules (`DATE_PART('year', AGE(as_of, d))`), the projections, and a
`COPY` of each projection to CSV.
"""
import os
import shutil
import time

import duckdb
import yaml

import gen

INT = r"^[+-]?\d+(\.0*)?$"
FLOAT = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"
BOOL = r"(?i)^(true|false|0|1)$"


def _q(s):
    return "'" + s.replace("'", "''") + "'"


def _valid_sql(fields):
    checks = []
    for name, f in fields.items():
        c = f'"{name}"'
        if f.get("default") is not None:
            c = f"coalesce({c}, {_q(str(f['default']))})"
        if f.get("required"):
            checks.append(f"{c} IS NOT NULL")
        pattern = {"int": INT, "float": FLOAT, "bool": BOOL}.get(f.get("type"))
        for p in filter(None, [pattern, f.get("pattern")]):
            checks.append(f"({c} IS NULL OR regexp_matches({c}, {_q(p)}))")
    return " AND ".join(checks) or "TRUE"


def _entity(con, name, spec, out, as_of):
    settings = spec["settings"]
    src = spec["source"]
    if os.path.isdir(src):
        src = os.path.join(src, "*.csv")
    con.execute(f"CREATE OR REPLACE TABLE raw AS SELECT * FROM "
                f"read_csv({_q(src)}, header = true, all_varchar = true)")
    total = con.execute("SELECT count(*) FROM raw").fetchone()[0]
    fields = spec["validations"]["schema"]["fields"]
    con.execute(f'CREATE OR REPLACE TABLE "{name}" AS SELECT * FROM raw WHERE {_valid_sql(fields)}')
    valid = con.execute(f'SELECT count(*) FROM "{name}"').fetchone()[0]
    keep_last = (settings.get("duplicate_resolution") == "last"
                 and settings.get("duplicate_resolution_compat") != "reference")
    dups = 0
    for keys in settings.get("unique_composite", []):
        part = ", ".join(f'"{k}"' for k in keys)
        before = con.execute(f'SELECT count(*) FROM "{name}"').fetchone()[0]
        con.execute(f'DELETE FROM "{name}" WHERE rowid IN (SELECT rid FROM ('
                    f'SELECT rowid AS rid, row_number() OVER (PARTITION BY {part} '
                    f'ORDER BY rowid {"DESC" if keep_last else "ASC"}) AS rn '
                    f'FROM "{name}") WHERE rn > 1)')
        dups += before - con.execute(f'SELECT count(*) FROM "{name}"').fetchone()[0]
    invalid = 0
    for rule in spec.get("validations", {}).get("custom", {}).get("rules", []):
        if rule["validation"] != "age_gte":
            continue
        fail = (f"DATE_PART('year', AGE(DATE {_q(as_of)}, CAST(\"{rule['field']}\" AS DATE)))"
                f" < {rule['params']['min_age']}")
        invalid += con.execute(f'SELECT count(*) FROM "{name}" WHERE {fail}').fetchone()[0]
        con.execute(f'DELETE FROM "{name}" WHERE {fail}')
    projections = {}
    for p in spec.get("projections", []):
        target = os.path.join(out, f"{p['name']}.csv")
        con.execute(f"COPY ({p['query']}) TO {_q(target)} (HEADER)")
        projections[p["name"]] = con.execute(
            f"SELECT count(*) FROM read_csv({_q(target)}, header = true)").fetchone()[0]
    return {"total": total, "valid": valid, "schema_errors": total - valid,
            "custom_invalid": invalid, "duplicates": dups, "projections": projections}


def run(workload, seed, base):
    """Generate the workload's inputs, run the DuckDB stages once per
    entity, and report the rows/s with a count check against the key."""
    work = os.path.join(base, f"{workload}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        key = gen.generate(workload, work, seed)
        config = yaml.safe_load(open(key["config"]))["transformations_config"]
        con = duckdb.connect()
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        failed, rows, wall = 0, 0, 0.0
        for e in key["entities"]:
            out = os.path.join(work, "out", e["name"])
            os.makedirs(out)
            t0 = time.perf_counter()
            got = _entity(con, e["name"], config[e["name"]], out, key["as_of"])
            wall += time.perf_counter() - t0
            rows += e["input_rows"]
            if got != e["summary"]:
                print(f"[yardstick] {e['name']}: {got} != expected {e['summary']}")
                failed += 1
        con.close()
        n = len(key["entities"])
        return {"correct": failed == 0, "attempted": n, "failed": failed,
                "metrics": {"duckdb_rows_per_s": {"value": rows / wall, "unit": "1/s"},
                            "duckdb_op_s": {"value": wall / n, "unit": "s"}}}
    finally:
        shutil.rmtree(work, ignore_errors=True)
