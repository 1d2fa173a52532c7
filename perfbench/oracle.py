"""Correctness checks of the benchmark: DuckDB SQL generated from the same
statement template and parameters as each engine operation, run over the
same parquet, and compared with the rules of `tools/check_oracle.py`
(columns sorted by name, rows sorted by value, a relative float tolerance
of 1e-6, everything else compared as text).
"""
import json
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]

REV = "sum(l_extendedprice * (1 - l_discount))"
LO = "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
CUST = (" JOIN customer ON o_custkey = c_custkey"
        " JOIN nation cn ON c_nationkey = cn.n_nationkey"
        " JOIN region cr ON cn.n_regionkey = cr.r_regionkey")
SUPP = (" JOIN supplier ON l_suppkey = s_suppkey"
        " JOIN nation sn ON s_nationkey = sn.n_nationkey"
        " JOIN region sr ON sn.n_regionkey = sr.r_regionkey")
YEAR = "year(o_orderdate)"


def _q(s):
    return "'" + str(s).replace("'", "''") + "'"


def _customer(path):
    cond = f"cr.r_name = {_q(path[0])}"
    if len(path) > 1:
        cond += f" AND cn.n_name = {_q(path[1])}"
    return cond


def _events(deltas):
    """The Events fact after the first `len(deltas)` insert-deltas: the base
    table plus every replayed `event_id` range, duplicates kept."""
    parts = ["SELECT * FROM events"] + [
        f"SELECT * FROM events WHERE event_id >= {a} AND event_id < {b}"
        for a, b in deltas]
    return "(" + " UNION ALL ".join(parts) + ")"


def sql(template, p, deltas=()):
    """Oracle SQL of one statement (template + parameters)."""
    if template == "rev_by_customer":
        nation = ", cn.n_name AS cr_nation" if p["level"] == "nation" else ""
        return (f"SELECT cr.r_name AS cr_region{nation}, {REV} AS revenue, "
                f"sum(l_quantity) AS sum_qty {LO}{CUST} "
                f"WHERE {YEAR} = {p['year']} GROUP BY ALL")
    if template == "flag_by_supplier":
        nation = ", sn.n_name AS sr_nation" if p["level"] == "nation" else ""
        return (f"SELECT sr.r_name AS sr_region{nation}, {REV} AS revenue, "
                f"count(*) AS count_order {LO}{SUPP} "
                f"WHERE l_returnflag = {_q(p['flag'])} AND {YEAR} = {p['year']} "
                "GROUP BY ALL")
    if template == "status_by_customer":
        return (f"SELECT l_returnflag, l_linestatus, {REV} AS revenue, "
                f"avg(l_discount) AS avg_disc {LO}{CUST} "
                f"WHERE {_customer(p['customer'])} AND {YEAR} = {p['year']} "
                "GROUP BY ALL")
    if template == "quarters_of_year":
        yq = f"concat({YEAR}, '-Q', quarter(o_orderdate))"
        # the axis lists every quarter of the year in the time dimension,
        # with or without cells under the slicer
        return (f"WITH q AS (SELECT DISTINCT {YEAR} AS d_year, {yq} AS d_yq "
                f"FROM orders WHERE {YEAR} = {p['year']}), "
                f"c AS (SELECT {YEAR} AS d_year, {yq} AS d_yq, {REV} AS revenue, "
                f"count(DISTINCT l_orderkey) AS n_orders {LO}{CUST} "
                f"WHERE {_customer(p['customer'])} AND {YEAR} = {p['year']} "
                "GROUP BY ALL) "
                "SELECT d_year, d_yq, revenue, n_orders "
                "FROM q LEFT JOIN c USING (d_year, d_yq)")
    if template == "top_brands":
        return (f"SELECT p_brand, {REV} AS revenue {LO} "
                "JOIN part ON l_partkey = p_partkey "
                f"WHERE {YEAR} = {p['year']} AND l_returnflag = {_q(p['flag'])} "
                "GROUP BY 1 ORDER BY revenue DESC, p_brand LIMIT 5")
    if template == "priority_by_customer":
        return ("SELECT o_orderpriority, "
                "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS charge, "
                f"sum(l_extendedprice) AS sum_base_price {LO}{CUST} "
                f"WHERE {_customer(p['customer'])} AND {YEAR} = {p['year']} "
                "GROUP BY 1")
    ev = _events(deltas[:p.get("deltas", 0)])
    if template == "events_by_type":
        return ("SELECT event_type, count(*) AS n_events, sum(value) AS sum_value "
                f"FROM {ev} GROUP BY 1")
    if template == "purchases_by_day":
        d = "CAST(ts AS DATE)"
        return (f"SELECT year({d}) AS d_year, concat(year({d}), '-Q', quarter({d})) AS d_yq, "
                f"strftime({d}, '%Y-%m') AS d_ym, {d} AS d_date, "
                "count(*) AS n_events, sum(value) AS sum_value "
                f"FROM {ev} WHERE event_type = 'purchase' GROUP BY ALL")
    raise ValueError(f"no oracle for template {template!r}")


def _key(v):
    return f"{float(v):.6e}" if isinstance(v, float) else str(v)


def canon(columns, rows):
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(r[i] for i in idx) for r in rows]
    return [columns[i] for i in idx], sorted(out, key=lambda t: tuple(_key(x) for x in t))


def eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(eq(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-6 * max(1.0, abs(fa), abs(fb))
    return str(a) == str(b)


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when equal under the rules, else a one-line reason."""
    gc, gr = canon(got_cols, got_rows)
    wc, wr = canon(want_cols, want_rows)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (x, y) in enumerate(zip(gr, wr)):
        if not all(eq(a, b) for a, b in zip(x, y)):
            return f"row {i}: {x} != {y}"
    return None


class Oracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self.memo = {}

    def rows(self, query):
        if query not in self.memo:
            rel = self.con.sql(query)
            cols = rel.columns
            self.memo[query] = (cols, [tuple(_py(v) for v in r) for r in rel.fetchall()])
        return self.memo[query]

    def check(self, template, params, deltas, result):
        """Compare one engine result ({"columns", "rows"}) with its oracle."""
        cols, rows = self.rows(sql(template, params, deltas))
        return compare(result["columns"], result["rows"], cols, rows)


def _py(v):
    """DuckDB values in the text/number forms the engine record uses."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, (list, tuple)):
        return [_py(x) for x in v]
    try:
        return float(v) if v.__class__.__name__ == "Decimal" else str(v)
    except (TypeError, ValueError):
        return str(v)


def selftest(data_dir):
    """A result equal to its oracle passes; perturbed copies must fail."""
    o = Oracle(data_dir)
    cases = [("rev_by_customer", {"year": 1997, "level": "nation"}, []),
             ("events_by_type", {"deltas": 1}, [[0, 500]])]
    failures = []
    for template, params, deltas in cases:
        cols, rows = o.rows(sql(template, params, deltas))
        good = {"columns": list(cols), "rows": [list(r) for r in rows]}
        if o.check(template, params, deltas, good) is not None:
            failures.append(f"{template}: exact copy of the oracle did not pass")
        fi = next(i for i, v in enumerate(rows[0]) if isinstance(v, (int, float))
                  and not isinstance(v, bool))
        perturbed = [
            ("value", [[v * 1.001 if j == fi else v for j, v in enumerate(r)]
                       if i == 0 else r for i, r in enumerate(good["rows"])]),
            ("missing row", good["rows"][1:]),
            ("extra row", good["rows"] + [good["rows"][0]]),
        ]
        for what, bad_rows in perturbed:
            bad = {"columns": good["columns"], "rows": bad_rows}
            if o.check(template, params, deltas, bad) is None:
                failures.append(f"{template}: {what} perturbation was not caught")
        # a delta the engine did not merge must also be caught
        if deltas:
            stale = dict(params, deltas=0)
            scols, srows = o.rows(sql(template, stale, deltas))
            if compare(list(scols), [list(r) for r in srows], cols, rows) is None:
                failures.append(f"{template}: an unmerged delta was not caught")
    return failures


if __name__ == "__main__":
    import sys
    print(json.dumps(selftest(sys.argv[1])))
