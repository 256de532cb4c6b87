"""DuckDB check of what the metric_interactive queries presented.

For each distinct request the JVM hands over the text table the first timed
`GraftClient.query` call presented (values rounded to 2 decimals, at most
`max_rows` rows) and the SQL `MetricPlanner.renderSql` gives for the request.
DuckDB runs that SQL over the same generated parquet tables. The presented
table must have DuckDB's columns, the right row count, and rows that are
DuckDB's rows: every value equal, numbers within one rounding step. Columns
are aligned with the repo's correctness gate (`canon` in
tools/localcheck.py).
"""
import datetime
import decimal
import os
import sys

EMPTY = "🔍 Query returned no results."
# half a unit of the 2-decimal rounding, plus room for the last bits of a
# double computed in another order
TOLERANCE = 0.0051


def parse_text(text):
    """Column names and rows of a presented text table."""
    if text == EMPTY:
        return None, []
    lines = text.split("\n")
    return lines[0].split(" | "), [line.split(" | ") for line in lines[1:]]


def kind(values):
    """How a DuckDB column's cells compare: 'time', 'number' or 'text'."""
    for v in values:
        if v is None or v != v:
            continue
        if isinstance(v, (datetime.date, datetime.datetime)) or hasattr(v, "to_pydatetime"):
            return "time"
        if isinstance(v, (int, float, decimal.Decimal)) or hasattr(v, "dtype"):
            return "number"
        return "text"
    return "text"


def cell(v, k):
    """One cell, from DuckDB or from the presented text, as a comparable value."""
    import pandas as pd
    if v is None or v is pd.NaT or v == "" or (isinstance(v, float) and v != v):
        return None
    if k == "time":
        return pd.Timestamp(str(v)).isoformat()
    if k == "number":
        return float(v)
    return str(v)


def split(row, kinds):
    """(key, numbers): the row's non-numeric cells identify it."""
    key = tuple(v for v, k in zip(row, kinds) if k != "number")
    nums = tuple(v for v, k in zip(row, kinds) if k == "number")
    return key, nums


def close(a, b):
    return all((x is None and y is None) or
               (x is not None and y is not None and abs(x - y) <= TOLERANCE + 1e-12 * abs(y))
               for x, y in zip(a, b))


def compare(got, want, whole):
    """None if every presented row is one of DuckDB's rows (each used once)
    and, when `whole`, every DuckDB row was presented; else why not."""
    pool = {}
    for key, nums in want:
        pool.setdefault(key, []).append(nums)
    for key, nums in got:
        cands = pool.get(key, [])
        j = next((j for j, w in enumerate(cands) if close(nums, w)), None)
        if j is None:
            return f"presented row {key + nums} is not in DuckDB's result"
        del cands[j]
    left = sum(len(c) for c in pool.values())
    if whole and left:
        return f"{left} of DuckDB's rows were not presented"
    return None


def check_shape(con, shape, canon):
    import pandas as pd
    want = canon(con.sql(shape["sql"]).df())
    n, max_rows = len(want), shape["max_rows"]
    if shape["row_count"] != min(n, max_rows):
        return f"query presented {shape['row_count']} rows, expected {min(n, max_rows)}"
    header, rows = parse_text(shape["text"])
    if header is None:
        return None if n == 0 else f"query presented no rows, DuckDB has {n}"
    if sorted(header) != list(want.columns):
        return f"columns {sorted(header)} != {list(want.columns)}"
    if len(rows) != min(n, max_rows):
        return f"text table has {len(rows)} rows, expected {min(n, max_rows)}"
    got = canon(pd.DataFrame(rows, columns=header))
    kinds = [kind(want[c].tolist()) for c in want.columns]
    # an ordered result, or one that fits, is presented whole; otherwise
    # the engine may show any max_rows of its rows
    whole = shape["ordered"] or n <= max_rows
    if whole:
        want = want.head(max_rows)
    conv = lambda df: [split([cell(v, k) for v, k in zip(r, kinds)], kinds)
                       for r in df.itertuples(index=False)]
    return compare(conv(got), conv(want), whole)


def check(spec, work_dir):
    """Returns the ops whose request failed the comparison, and why.
    DuckDB spills, if at all, under `work_dir`."""
    shapes = spec.get("shapes") or []
    out = {"failed_ops": set(), "messages": [], "shapes": len(shapes)}
    if not shapes:
        return out
    import duckdb
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from localcheck import canon
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql(f"SET temp_directory = '{work_dir}/duckdb-tmp'")
    for name, path in sorted(spec["tables"].items()):
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    for shape in shapes:
        try:
            why = check_shape(con, shape, canon)
        except Exception as e:  # a failing oracle query is a failed check too
            why = f"{type(e).__name__}: {e}"
        if why:
            out["failed_ops"] |= set(shape["ops"])
            out["messages"].append(f"request {shape['request']}: {why}")
    return out
