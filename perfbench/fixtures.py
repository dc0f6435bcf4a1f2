"""Seeded drift fixtures for the diff workloads, with their expected results.

Both sides are derived from the catalog in ``perfbench/data/sf0.01``. The
expected result (missing tables, schema-drift rows, rows only on each side
per table, and the report text) is computed here from the perturbation, by
plain Python set arithmetic over row tuples, never by graft.

A fixture directory holds ``db1/``, ``db2/`` and ``expected.json``; it is
written under a temporary name and renamed into place, so a directory that
exists is complete.
"""
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")
DB1, DB2 = "db1", "db2"
# Render of the column types the fixtures retype, as DriftCompare's schema
# drift names them (DuckDB-style type names, as in the reference).
RENDER = {pa.int32(): "INTEGER", pa.string(): "VARCHAR"}


def _read(name):
    return pq.read_table(os.path.join(BASE, name + ".parquet"))


def _write(table, side_dir, name):
    pq.write_table(table, os.path.join(side_dir, name + ".parquet"))


def _retype(table, column):
    """Column `column` as strings: a schema drift whose values still match."""
    i = table.schema.get_field_index(column)
    values = [None if v is None else str(v) for v in table.column(i).to_pylist()]
    return table.set_column(i, pa.field(column, pa.string()), pa.array(values, pa.string()))


def _perturb(table, rng, column, n_perturb, n_delete, n_dup=0):
    """Adds 1.0 to `column` in `n_perturb` seeded rows, deletes `n_delete`
    other rows and appends copies of `n_dup` untouched rows."""
    n = table.num_rows
    picked = rng.sample(range(n), n_perturb + n_delete + n_dup)
    perturb = sorted(picked[:n_perturb])
    delete = set(picked[n_perturb:n_perturb + n_delete])
    dup = sorted(picked[n_perturb + n_delete:])
    i = table.schema.get_field_index(column)
    values = table.column(i).to_pylist()
    for r in perturb:
        values[r] = values[r] + 1.0
    table = table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))
    keep = [r for r in range(n) if r not in delete]
    out = table.take(pa.array(keep))
    if dup:
        out = pa.concat_tables([out, table.take(pa.array(dup))])
    return out


def _rows(table, as_text):
    cols = []
    for name in table.column_names:
        vals = table.column(name).to_pylist()
        if name in as_text:
            vals = [None if v is None else str(v) for v in vals]
        elif pa.types.is_list(table.schema.field(name).type):
            vals = [None if v is None else tuple(v) for v in vals]
        cols.append(vals)
    return set(zip(*cols))


def _drift_counts(t1, t2):
    """Distinct rows only in t1 and only in t2 over the shared columns,
    with type-mismatched columns compared as text (as the diff casts them)."""
    shared = [c for c in t1.column_names if c in t2.column_names]
    t1, t2 = t1.select(shared), t2.select(shared)
    as_text = {c for c in shared if t1.schema.field(c).type != t2.schema.field(c).type}
    r1, r2 = _rows(t1, as_text), _rows(t2, as_text)
    return len(r1 - r2), len(r2 - r1)


def _q(s):
    return '"' + s + '"'


def render_report(missing, schema, summary):
    """The lotad text report for an expected result (no trailing newline)."""
    out = ["Database Comparison Report"]
    if missing:
        out.append("\n\nMissing Table Summary")
        for table, _observed, missing_in in sorted(missing):
            out.append(f"\n{_q(table)} not found in {_q(missing_in)}")
    if schema:
        out.append("\n\nSchema Drift Summary")
        for table, column, db1, t1, db2, t2 in sorted(schema, key=lambda r: (r[0], r[1])):
            out.append(f"\n\n{_q(table)}.{_q(column)}")
            out.append(f"\n    {_q(db1)} {_q(t1 or 'None')}")
            out.append(f"\n    {_q(db2)} {_q(t2 or 'None')}")
    if summary:
        out.append("\n\nData Drift Summary")
        out.append("\nFormat:")
        out.append("\n    my_table")
        out.append("\n        db1 - records only in db1")
        out.append("\n        db2 - records only in db2")
        for table, n1, n2 in sorted(summary):
            out.append(f"\n\n{table}\n    {DB1} - {n1}\n    {DB2} - {n2}")
    return "".join(out)


def _finish(sides, retyped):
    """The expected result of diffing `sides`.

    `sides` maps table name to (table on db1 or None, table on db2 or None);
    `retyped` lists the (table, column) pairs whose type differs."""
    missing, schema, summary = [], [], []
    rows = 0
    for name in sorted(sides):
        t1, t2 = sides[name]
        rows += (t1.num_rows if t1 is not None else 0) + (t2.num_rows if t2 is not None else 0)
        if t1 is None or t2 is None:
            observed, missing_in = (DB1, DB2) if t2 is None else (DB2, DB1)
            missing.append([name, observed, missing_in])
            continue
        for column in sorted(c for tbl, c in retyped if tbl == name):
            schema.append([name, column, DB1, RENDER[t1.schema.field(column).type],
                           DB2, RENDER[t2.schema.field(column).type]])
        # a table written unchanged to both sides cannot drift
        n1, n2 = (0, 0) if t1 is t2 else _drift_counts(t1, t2)
        if n1 + n2 > 0:
            summary.append([name, n1, n2])
    return {
        "db1": DB1, "db2": DB2,
        "missing": missing, "schema": schema, "summary": summary,
        "report": render_report(missing, schema, summary),
        "input_rows": rows,
    }


def diff_sf01(rng):
    """All ten catalog tables. db2 drops `region`, retypes `part.p_size` and
    perturbs a seeded 0.1% of `lineitem` and `orders` rows (plus a few
    deleted rows, and duplicated rows that set semantics must ignore)."""
    names = sorted(f[:-len(".parquet")] for f in os.listdir(BASE) if f.endswith(".parquet"))
    sides = {}
    for name in names:
        t = _read(name)
        if name == "region":
            sides[name] = (t, None)
        elif name == "part":
            sides[name] = (t, _retype(t, "p_size"))
        elif name in ("lineitem", "orders"):
            column = "l_quantity" if name == "lineitem" else "o_totalprice"
            n = t.num_rows
            sides[name] = (t, _perturb(t, rng, column, max(1, n // 1000), max(1, n // 2000),
                                       n_dup=3 if name == "lineitem" else 0))
        else:
            sides[name] = (t, t)
    return sides, [("part", "p_size")]


WORKLOADS = {"diff_sf01": diff_sf01}


def fixture(workload, seed, root):
    """Directory of the fixture for (workload, seed) under `root`, made on
    first use."""
    final = os.path.join(root, f"{workload}-seed{seed}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for side in (DB1, DB2):
        os.makedirs(os.path.join(tmp, side))
    rng = random.Random(f"{workload}:{seed}")
    sides, retyped = WORKLOADS[workload](rng)
    for name, (t1, t2) in sides.items():
        if t1 is not None:
            _write(t1, os.path.join(tmp, DB1), name)
        if t2 is not None:
            _write(t2, os.path.join(tmp, DB2), name)
    expected = _finish(sides, retyped)
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)
    os.rename(tmp, final)
    return final
