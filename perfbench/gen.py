"""Seeded input generator and independent answer key for the importer
workloads.

Every input the program sees is written here from the workload seed, and
the expected `PipelineSummary` counts and export contents are computed
here, in Python, without running the program. The op check in the JVM
driver compares each `Pipeline.run` against this key.

Only well-formed RFC-4180 rows are written: every row has the header's
field count and no field holds a newline. Ragged rows and quoted
newlines are a known importer defect that this benchmark does not cover.
"""
import csv
import datetime
import hashlib
import json
import os
import random
import re

AS_OF = datetime.date(2026, 1, 1)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "src", "test", "resources", "golden")

EMPLOYEE_HEADER = [
    "company_id", "employee_id", "first_name", "last_name", "email", "gender",
    "birthday_on", "country", "effective_on", "starts_on", "ends_on",
    "has_payroll", "has_trial_period", "trial_period_ends_on", "salary_amount",
    "salary_frequency", "working_week_days", "working_hours",
    "working_hours_frequency", "max_legal_yearly_hours", "maximum_weekly_hours",
    "created_at", "updated_at", "contracts_es_tariff_group_id",
]

FIRST = ["Ana", "John", "Sarah", "Maria", "Carlos", "Laura", "Pedro", "Emma",
         "Lucas", "Clara", "Noah", "Ines", "Omar", "Yuki", "Zoe", "Ivan"]
LAST = ["Blanco", "Doe", "Connor", "Lopez", "Garcia", "Martinez", "Sanchez",
        "Davis", "Hernandez", "Smith", "Okafor", "Tanaka", "Novak", "Berg"]
COUNTRIES = ["ES", "GB", "US", "MX", "FR", "PT", "DE", "IT", "NL"]
FREQS = ["yearly", "monthly", "weekly", "daily", "hourly"]
WEEKDAYS = ["monday,tuesday,wednesday,thursday,friday",
            "monday,tuesday,wednesday", "saturday,sunday"]

# Birth years far from the age_gte cut so that Spark's months_between
# rounding can never flip a row: at AS_OF these are ages 20-30 (fail a
# min_age of 35) and 37-75 (pass it).
FAIL_BIRTH_YEARS = range(1995, 2006)
PASS_BIRTH_YEARS = range(1950, 1989)


def _date(rng, years):
    return f"{rng.choice(years):04d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _key_digest(values):
    """sha256 of the newline-joined first-column values of a CSV body."""
    return hashlib.sha256("\n".join(values).encode()).hexdigest()


def _write_csv(path, header, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _entity(name, input_rows, summary, files):
    return {"name": name, "input_rows": input_rows, "summary": summary, "files": files}


def _rows_file(rows, first_col=None):
    spec = {"rows": rows}
    if first_col is not None:
        spec["first_col_sha256"] = _key_digest(first_col)
    return spec


# ---------------------------------------------------------------- import_small

def _golden_summary(entity):
    text = open(os.path.join(GOLDEN, entity, "stdout.txt"), encoding="utf-8").read()

    def grab(label):
        return int(re.search(re.escape(label) + r": (\d+)", text).group(1))

    projections = {m.group(1): int(m.group(2))
                   for m in re.finditer(r"^  (\w+) \((?:table|view)\): (\d+) rows$", text, re.M)}
    return {
        "total": grab("Total rows processed"),
        "valid": grab("Total valid rows inserted into raw table"),
        "schema_errors": grab("Total rows with schema validation errors"),
        "custom_invalid": grab("Total rows with custom validation errors"),
        "duplicates": grab("Total duplicate rows removed"),
        "projections": projections,
    }


def import_small(work, seed):
    """The golden config and CSVs; the answer key is the golden output."""
    del seed  # the golden inputs are fixed
    golden = GOLDEN
    cfg = open(os.path.join(golden, "config.yaml"), encoding="utf-8").read()
    # the fixture's sources point at the reference checkout; the same
    # CSVs are committed under golden/input_data
    cfg = re.sub(r"(source: ).*/([^/\n]+\.csv)",
                 lambda m: m.group(1) + os.path.join(golden, "input_data", m.group(2)), cfg)
    with open(os.path.join(work, "config.yaml"), "w", encoding="utf-8") as f:
        f.write(cfg)
    entities = []
    for name in ("employees", "locations"):
        with open(os.path.join(golden, "input_data", f"{name}.csv"), encoding="utf-8") as f:
            input_rows = sum(1 for _ in csv.reader(f)) - 1
        files = {}
        for sub in ("exports", "errors"):
            d = os.path.join(golden, name, sub)
            for fn in sorted(os.listdir(d)):
                mode = "exact" if sub == "exports" else (
                    "row_ids" if "schema_validation" in fn else "row_set")
                files[f"{sub}/{fn}"] = {"golden": os.path.join(d, fn), "mode": mode}
        entities.append(_entity(name, input_rows, _golden_summary(name), files))
    return {"config": os.path.join(work, "config.yaml"), "entities": entities}


# ----------------------------------------------------------------- import_bulk

BULK_ROWS = 20000


def _bulk_config(source):
    """The golden employees entity, pointed at the generated file."""
    golden = open(os.path.join(GOLDEN, "config.yaml"), encoding="utf-8").read()
    body = golden.split("\n  locations:\n")[0]
    body = re.sub(r"source: .*", lambda _: "source: " + source, body, count=1)
    return body + "\n"


def _schema_error(rng, row):
    """Break exactly one validated field of a row."""
    field = rng.choice(["email", "gender", "working_hours", "salary_frequency", "first_name"])
    row[EMPLOYEE_HEADER.index(field)] = {
        "email": "not-an-email", "gender": "unknown", "working_hours": "forty",
        "salary_frequency": "biweekly", "first_name": ""}[field]


def import_bulk(work, seed):
    """One single-file employees CSV: ~1% duplicate keys, ~1% schema
    errors, ~30% age_gte failures, quoted-comma fields."""
    rng = random.Random(seed)
    out = []
    valid = []          # indexes into `out` of schema-valid rows
    schema_errors = 0
    next_id = 1000
    for _ in range(BULK_ROWS):
        r = rng.random()
        if r < 0.01 and valid:
            row = list(out[rng.choice(valid)])
            row[EMPLOYEE_HEADER.index("updated_at")] = _date(rng, range(2024, 2026))
            valid.append(len(out))
            out.append(row)
            continue
        next_id += 1
        company = 1 + next_id % 50
        fail = rng.random() < 0.30
        birthday = _date(rng, FAIL_BIRTH_YEARS if fail else PASS_BIRTH_YEARS)
        start = _date(rng, range(2015, 2025))
        row = [
            str(company), str(next_id), rng.choice(FIRST), rng.choice(LAST),
            f"user{next_id}@example{company}.com", rng.choice(["male", "female"]),
            birthday, rng.choice(COUNTRIES), start, start, _date(rng, range(2026, 2031)),
            rng.choice(["true", "false"]), rng.choice(["true", "false"]),
            _date(rng, range(2025, 2027)), str(rng.randrange(18000, 95000, 500)),
            rng.choice(FREQS), rng.choice(WEEKDAYS), str(rng.choice([20, 30, 37, 40])),
            rng.choice(["week", "month", "year"]), str(rng.choice([1800, 2000, 2080])),
            str(rng.choice([35, 40, 45])), start, _date(rng, range(2024, 2026)),
            str(1 + next_id % 9),
        ]
        if r < 0.02:
            _schema_error(rng, row)
            schema_errors += 1
        else:
            valid.append(len(out))
        out.append(row)
    src = os.path.join(work, "employees.csv")
    _write_csv(src, EMPLOYEE_HEADER, out)
    with open(os.path.join(work, "config.yaml"), "w", encoding="utf-8") as f:
        f.write(_bulk_config(src))

    # answer key: keep-first dedup on (employee_id, company_id) over the
    # valid rows in input order, then the age_gte(35) rule in skip mode.
    # Duplicates copy their original's birthday, so the survivor choice
    # cannot change the rule count.
    seen = set()
    survivors = []
    for i in valid:
        key = (out[i][1], out[i][0])
        if key not in seen:
            seen.add(key)
            survivors.append(out[i])
    bday = EMPLOYEE_HEADER.index("birthday_on")
    passing = [r for r in survivors if int(r[bday][:4]) in PASS_BIRTH_YEARS]
    n_valid, n_dups = len(valid), len(valid) - len(survivors)
    n_invalid = len(survivors) - len(passing)
    ids = [r[1] for r in passing]
    files = {
        "errors/employees_custom_birthday_on_errors.csv": _rows_file(n_invalid),
        "exports/personal_data.csv": _rows_file(len(passing), ids),
        "exports/contract_data.csv": _rows_file(len(passing), ids),
    }
    if schema_errors:
        files["errors/employees_schema_validation_errors.csv"] = _rows_file(schema_errors)
    if n_dups:
        files["errors/employees_duplicates_errors.csv"] = _rows_file(n_dups)
    summary = {"total": BULK_ROWS, "valid": n_valid, "schema_errors": schema_errors,
               "custom_invalid": n_invalid, "duplicates": n_dups,
               "projections": {"personal_data": len(passing), "contract_data": len(passing)}}
    return {"config": os.path.join(work, "config.yaml"),
            "entities": [_entity("employees", BULK_ROWS, summary, files)]}


# ---------------------------------------------------------------- import_dedup

DEDUP_ROWS = 60000
DEDUP_FILES = 8
DEDUP_HEADER = ["company_id", "employee_id", "first_name", "last_name", "email",
                "gender", "birthday_on", "country", "hired_on"]

DEDUP_CONFIG = """transformations_config:
  records:
    source: {source}
    settings:
      duplicate_resolution: last
      custom_validation_mode: skip
      file_aware: true
      unique_composite:
      - - employee_id
        - company_id
      - - email
    projections:
    - name: roster
      type: table
      query: 'SELECT employee_id, company_id, email, hired_on FROM records'
    validations:
      schema:
        fields:
          company_id:
            type: int
            required: true
          employee_id:
            type: int
            required: true
          first_name:
            type: str
            required: true
          last_name:
            type: str
            required: true
          email:
            type: str
            required: true
            pattern: ^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}$
          gender:
            type: str
            required: true
            pattern: ^(male|female)$
          birthday_on:
            type: str
            required: true
            pattern: ^\\d{{4}}-\\d{{2}}-\\d{{2}}$
          country:
            type: str
            required: true
          hired_on:
            type: str
            required: true
            pattern: ^\\d{{4}}-\\d{{2}}-\\d{{2}}$
      custom:
        rules:
        - field: birthday_on
          validation: age_gte
          params:
            min_age: 35
        - field: hired_on
          validation: age_gte
          params:
            min_age: 2
"""

# hire dates at AS_OF: 2025 is under 2 completed years, <= 2022 is over
FAIL_HIRE_YEARS = range(2025, 2026)
PASS_HIRE_YEARS = range(2005, 2023)


def _keep_last(rows, key):
    last = {}
    for i, r in enumerate(rows):
        last[key(r)] = i
    keep = [r for i, r in enumerate(rows) if last[key(r)] == i]
    return keep, len(rows) - len(keep)


def import_dedup(work, seed):
    """A narrow CSV split across 8 files (file-aware ids); ~30% of rows
    repeat an employee key, ~5% repeat an email; two key sets, two rules."""
    rng = random.Random(seed)
    out = []
    next_id = 5000
    for _ in range(DEDUP_ROWS):
        if out and rng.random() < 0.30:
            company, eid = rng.choice(out)[:2]
        else:
            next_id += 1
            company, eid = str(1 + next_id % 40), str(next_id)
        if out and rng.random() < 0.05:
            email = rng.choice(out)[4]
        else:
            email = f"p{len(out)}@corp{company}.org"
        out.append([
            company, eid, rng.choice(FIRST), rng.choice(LAST), email,
            rng.choice(["male", "female"]),
            _date(rng, FAIL_BIRTH_YEARS if rng.random() < 0.25 else PASS_BIRTH_YEARS),
            rng.choice(COUNTRIES),
            _date(rng, FAIL_HIRE_YEARS if rng.random() < 0.2 else PASS_HIRE_YEARS),
        ])
    src = os.path.join(work, "records")
    os.makedirs(src)
    per = -(-DEDUP_ROWS // DEDUP_FILES)
    for f in range(DEDUP_FILES):
        _write_csv(os.path.join(src, f"part-{f:05d}.csv"), DEDUP_HEADER, out[f * per:(f + 1) * per])
    with open(os.path.join(work, "config.yaml"), "w", encoding="utf-8") as f:
        f.write(DEDUP_CONFIG.format(source=src))

    # answer key: file-aware ids follow the global row order above, so
    # keep-last runs over `out` directly, key set by key set
    stage, dups1 = _keep_last(out, lambda r: (r[1], r[0]))
    stage, dups2 = _keep_last(stage, lambda r: r[4])
    bad_bday = [r for r in stage if int(r[6][:4]) in FAIL_BIRTH_YEARS]
    stage = [r for r in stage if int(r[6][:4]) not in FAIL_BIRTH_YEARS]
    bad_hire = [r for r in stage if int(r[8][:4]) in FAIL_HIRE_YEARS]
    stage = [r for r in stage if int(r[8][:4]) not in FAIL_HIRE_YEARS]
    n_dups = dups1 + dups2
    expected_files = {
        "errors/records_duplicates_errors.csv": _rows_file(n_dups),
        "errors/records_custom_birthday_on_errors.csv": _rows_file(len(bad_bday)),
        "errors/records_custom_hired_on_errors.csv": _rows_file(len(bad_hire)),
        "exports/roster.csv": _rows_file(len(stage), [r[1] for r in stage]),
    }
    summary = {"total": DEDUP_ROWS, "valid": DEDUP_ROWS, "schema_errors": 0,
               "custom_invalid": len(bad_bday) + len(bad_hire), "duplicates": n_dups,
               "projections": {"roster": len(stage)}}
    return {"config": os.path.join(work, "config.yaml"),
            "entities": [_entity("records", DEDUP_ROWS, summary, expected_files)]}


WORKLOADS = {"import_small": import_small, "import_bulk": import_bulk,
             "import_dedup": import_dedup}


def generate(workload, work, seed):
    """Write the workload's inputs under `work`; return the answer key."""
    os.makedirs(work, exist_ok=True)
    key = WORKLOADS[workload](work, seed)
    key["as_of"] = AS_OF.isoformat()
    with open(os.path.join(work, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(key, f, indent=1)
    return key
