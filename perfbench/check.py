"""Independent checks of the program's outputs, run in DuckDB.

Two kinds of check:

* Oracle equality: DuckDB runs the program's own `SparkEntry.oracleSql`
  text over the same parquet inputs, and the result must equal the
  program's output under the repo's rule (tools/selfcheck.py): same column
  names, same type family per column, columns sorted by name, rows sorted,
  values equal (floats to 1e-9 relative).
* Ledger properties of an exported ledger: one row per exposure, the
  oracle's exposure count, non-negative CRM legs that sum back to
  `ead_pre_crm` within a cent per CRM item, 0 <= rwa <= 1.5 x ead_pre_crm,
  and the exact decimal sum of `rwa` equal to both the summary's
  `total_rwa` and the program's `totalRwa`.

Each check returns a list of failure messages; an empty list is a pass.
"""
import hashlib
import math
import os
from decimal import Decimal

import duckdb
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pyarrow.types as pt

from gen_book import TABLES

CENT = Decimal("0.01")


def connect(data_dir, temp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _inputs_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle(con, data_dir, sql, cache_dir):
    """The oracle's result as an arrow table, cached by SQL text and input
    file contents only."""
    key = hashlib.sha256((sql + _inputs_digest(data_dir)).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    table = con.execute(sql).fetch_arrow_table()
    os.makedirs(cache_dir, exist_ok=True)
    pq.write_table(table, path + ".partial")
    os.replace(path + ".partial", path)
    return table


def _family(t):
    for name, test in (("int", pt.is_integer), ("float", pt.is_floating),
                       ("decimal", pt.is_decimal), ("bool", pt.is_boolean),
                       ("date", pt.is_date), ("timestamp", pt.is_timestamp)):
        if test(t):
            return name
    if pt.is_string(t) or pt.is_large_string(t):
        return "string"
    if pt.is_null(t):
        return "null"
    return str(t)


def _canon(v):
    """Decimals compare as floats, as the repo's hasher sees them."""
    return float(v) if isinstance(v, Decimal) else v


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


def compare(got, expected):
    """Failures between the program's output and the oracle's, both arrow
    tables."""
    gc, ec = sorted(got.column_names), sorted(expected.column_names)
    if gc != ec:
        return [f"columns {gc} vs oracle {ec}"]
    bad = []
    for c in gc:
        fg = _family(got.schema.field(c).type)
        fe = _family(expected.schema.field(c).type)
        if fg != fe and "null" not in (fg, fe) and {fg, fe} != {"float", "decimal"}:
            bad.append(f"type of {c}: {fg} vs oracle {fe}")
    if bad:
        return bad
    if got.num_rows != expected.num_rows:
        return [f"rows {got.num_rows} vs oracle {expected.num_rows}"]

    def rows(t):
        cols = [[_canon(v) for v in t.column(c).to_pylist()] for c in gc]
        out = list(zip(*cols))
        out.sort(key=lambda r: [str(v) for v in r])
        return out

    for i, (rg, re) in enumerate(zip(rows(got), rows(expected))):
        for c, a, b in zip(gc, rg, re):
            if not _same(a, b):
                bad.append(f"row {i} column {c}: {a!r} vs oracle {b!r}")
                if len(bad) >= 3:
                    return bad
    return bad


def read_output(path):
    return pads.dataset(path, format="parquet").to_table()


def ledger_properties(con, ledger_dir, expected, summary, total_rwa):
    """Failures of the exported ledger's properties. `expected` is the q90
    oracle's (class, approach) summary and `summary` the program's, both
    arrow tables; `total_rwa` is the program's totalRwa."""
    con.execute(f"CREATE OR REPLACE VIEW ledger AS SELECT * FROM "
                f"read_parquet('{ledger_dir}/*.parquet')")
    n_expected = sum(expected.column("n_exposures").to_pylist())
    bad = []
    n, n_refs = con.execute(
        "SELECT count(*), count(DISTINCT exposure_reference) FROM ledger"
    ).fetchone()
    if n != n_refs:
        bad.append(f"{n} rows for {n_refs} exposures")
    if n != n_expected:
        bad.append(f"{n} ledger rows vs {n_expected} exposures in the oracle")
    checks = {
        "negative CRM leg":
            "coll_covered < 0 OR guar_covered < 0 OR unsecured < 0",
        "CRM legs do not sum to ead_pre_crm":
            "abs(coll_covered + guar_covered + unsecured - ead_pre_crm)"
            " > 0.01 * (1 + coalesce(n_items, 0)) + 1e-9",
        "rwa outside [0, 1.5 x ead_pre_crm]":
            "rwa < 0 OR rwa > 1.5 * ead_pre_crm + 0.01",
    }
    # CRM items per exposure: collateral is a returned line, a guarantee
    # the first line of a discounted order (DomainPipeline's book rules).
    items = """
      SELECT 'ORD-' || l_orderkey AS exposure_reference, count(*) AS n_items
      FROM lineitem
      WHERE l_returnflag = 'R' OR (l_linenumber = 1 AND l_discount >= 0.05)
      GROUP BY 1"""
    for what, cond in checks.items():
        k, example = con.execute(f"""
            SELECT count(*), min(exposure_reference)
            FROM ledger LEFT JOIN ({items}) USING (exposure_reference)
            WHERE {cond}""").fetchone()
        if k:
            bad.append(f"{what}: {k} rows, e.g. {example}")
    exact = con.execute(
        "SELECT sum(CAST(rwa AS DECIMAL(38, 2))) FROM ledger").fetchone()[0]
    exact = Decimal(exact or 0).quantize(CENT)
    by_class = sum(Decimal(repr(float(v))) for v in
                   summary.column("total_rwa").to_pylist()).quantize(CENT)
    if by_class != exact:
        bad.append(f"summary total_rwa {by_class} vs ledger sum {exact}")
    if Decimal(repr(total_rwa)).quantize(CENT) != exact:
        bad.append(f"totalRwa {total_rwa!r} vs ledger sum {exact}")
    return bad
