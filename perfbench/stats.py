"""Small pure helpers of the benchmark, kept apart so the self-tests can
exercise them without Spark: percentile selection, the metric-name
grammar, and the order-insensitive content digest used by output checks.
"""
import re

# BENCHMARK.json grammar: a name starts with a letter or digit and has at
# most 64 letters, digits, '_', '.' and '-'; a unit has at most 16 letters,
# digits, '_', '/', '%', '.' and '-'.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def valid_name(s):
    return bool(NAME_RE.match(s))


def valid_unit(s):
    return bool(UNIT_RE.match(s))


def tail_percentile(n):
    """Highest standard percentile with at least ten of `n` samples above
    it, or None when even the median has fewer than ten above it."""
    for p in PERCENTILES:
        if n * (1 - p / 100.0) >= 10 - 1e-9:
            return p
    return None


def quantile(xs, q):
    """Linear-interpolated quantile, the same rule as the harness."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _canonical(col, typ):
    """One canonical type per value family, so a Spark dump and a DuckDB
    oracle that agree on values also agree on hashes."""
    t = typ.upper()
    if t in ("FLOAT", "REAL", "DOUBLE") or t.startswith("DECIMAL"):
        return f'(CAST("{col}" AS DOUBLE) + 0.0)'
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return f'CAST("{col}" AS BIGINT)'
    if t.startswith("TIMESTAMP"):
        return f'CAST("{col}" AS TIMESTAMP)'
    if t.endswith("[]"):
        inner = t[:-2]
        if inner in ("FLOAT", "REAL", "DOUBLE") or inner.startswith("DECIMAL"):
            return f'CAST("{col}" AS DOUBLE[])'
        if inner in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
            return f'CAST("{col}" AS BIGINT[])'
    return f'"{col}"'


def digest(con, rel_sql):
    """(row count, order-insensitive content digest) of a relation: the sum
    of per-row hashes over name-sorted, type-canonical columns. Any changed,
    added or dropped row changes it; row order does not."""
    rel = con.sql(rel_sql)
    cols = sorted(zip(rel.columns, [str(t) for t in rel.types]))
    row = ", ".join(_canonical(c, t) for c, t in cols)
    n, h = con.sql(
        f"SELECT count(*), coalesce(sum(hash(ROW({row}))::HUGEINT), 0) "
        f"FROM ({rel_sql})").fetchone()
    return n, int(h), [c for c, _ in cols]
