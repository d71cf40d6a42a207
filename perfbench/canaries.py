"""Canary requests with expected answers computed independently.

    python3 perfbench/canaries.py --write   # recompute canaries.json

Each canary is a fixed slicer request. Its expected answer comes from a
DuckDB query over the same parquet files, written by hand against the
TPC-H tables (not derived from the cube model or the engine), and is
committed in canaries.json. Every run issues all canaries after set-up;
`check` compares the bodies with the committed answers.
"""

import csv
import io
import json
import math
import os
import sys
from urllib.parse import quote

HERE = os.path.dirname(os.path.abspath(__file__))
REL_TOL = 1e-9

# the star the cube model describes, joined by hand
STAR = """
create view f as select
  l_quantity as quantity, l_extendedprice as extendedprice,
  l_extendedprice * (1 - l_discount) as revenue,
  l_returnflag as returnflag, l_linestatus as linestatus,
  year(l_shipdate) as ship_year,
  o_orderstatus as orderstatus, o_orderpriority as orderpriority,
  year(o_orderdate) as year, quarter(o_orderdate) as quarter,
  month(o_orderdate) as month,
  cr.r_name as c_region, cn.n_name as c_nation,
  sr.r_name as s_region, p_brand as brand
from '{d}/lineitem.parquet'
join '{d}/orders.parquet' on l_orderkey = o_orderkey
join '{d}/customer.parquet' on o_custkey = c_custkey
join '{d}/nation.parquet' cn on c_nationkey = cn.n_nationkey
join '{d}/region.parquet' cr on cn.n_regionkey = cr.r_regionkey
join '{d}/part.parquet' on l_partkey = p_partkey
join '{d}/supplier.parquet' on l_suppkey = s_suppkey
join '{d}/nation.parquet' sn on s_nationkey = sn.n_nationkey
join '{d}/region.parquet' sr on sn.n_regionkey = sr.r_regionkey
"""

AGGS = {"fact_count": "count(*)", "quantity_sum": "sum(quantity)",
        "price_sum": "sum(extendedprice)", "revenue_sum": "sum(revenue)",
        "price_avg": "avg(extendedprice)", "price_min": "min(extendedprice)",
        "price_max": "max(extendedprice)"}


def url(route, **params):
    q = "&".join("%s=%s" % (k, quote(v, safe="")) for k, v in params.items())
    return "/cube/sales/" + route + ("?" + q if q else "")


def definitions(nation):
    """(name, verb, url, kind, {field: sql}, where, group by, order by).
    `nation` is a nation of ASIA, read from the data. A canary with an
    order by is compared in order."""
    def agg(name, where, keys, aggs, sql_order=None, **params):
        params.setdefault("aggregates", "|".join(aggs))
        return (name, "aggregate", url("aggregate", **params), "aggregate",
                dict(keys, **{a: AGGS[a] for a in aggs}), where,
                list(keys.values()), sql_order)
    small = ("year = 1995 and quarter = 1 and c_nation = '%s' and "
             "brand = 'Brand#13'" % nation)
    return [
        agg("agg_total", "true", {}, ["fact_count", "quantity_sum", "price_sum",
                                      "revenue_sum"]),
        agg("agg_region", "true", {"customer.region_name": "c_region"},
            ["fact_count", "revenue_sum"], drilldown="customer:region"),
        agg("agg_quarter_range", "year * 10 + quarter between 19962 and 19973",
            {"date.year": "year", "date.quarter": "quarter"}, ["fact_count"],
            cut="date:1996,2-1997,3", drilldown="date:quarter"),
        agg("agg_year_set", "year in (1996, 1999)", {"date.year": "year"},
            ["fact_count", "price_sum"], cut="date:1996;1999", drilldown="date:year"),
        agg("agg_not_r", "returnflag <> 'R'", {"linestatus": "linestatus"},
            ["fact_count"], cut="!returnflag:R", drilldown="linestatus"),
        agg("agg_supplier_f", "orderstatus = 'F'",
            {"supplier.region_name": "s_region"},
            ["quantity_sum", "price_min", "price_max"], cut="orderstatus:F",
            drilldown="supplier:region"),
        agg("agg_brand_top5", "true", {"part.brand": "brand"}, ["revenue_sum"],
            sql_order="sum(revenue) desc limit 5", drilldown="part:brand",
            order="revenue_sum:desc", page="0", pagesize="5"),
        ("members_nations", "members",
         url("members/customer", depth="2", cut="date:1995"), "rows",
         {"customer.region_name": "c_region", "customer.nation_name": "c_nation"},
         "year = 1995", ["c_region", "c_nation"], "c_region, c_nation"),
        ("facts_small", "facts",
         url("facts", cut="date:1995,1|customer:ASIA,%s|part:Brand#13" % nation,
             fields="customer.nation_name,part.brand,quantity", pagesize="1000"),
         "rows", {"customer.nation_name": "c_nation", "part.brand": "brand",
                  "quantity": "quantity"}, small, None, None),
        ("csv_priority", "csv",
         url("aggregate", drilldown="orderpriority",
             aggregates="fact_count|quantity_sum", format="csv"), "csv",
         {"orderpriority": "orderpriority", "fact_count": AGGS["fact_count"],
          "quantity_sum": AGGS["quantity_sum"]}, "true", ["orderpriority"], None),
    ]


REPORT = {"queries": {
    "total": {"query": "aggregate", "aggregates": ["fact_count"]},
    "flags": {"query": "aggregate", "drilldown": ["returnflag"],
              "aggregates": ["fact_count", "quantity_sum"]},
    "regions": {"query": "members", "dimension": "customer", "depth": 1}}}


def build(data_dir):
    import duckdb

    con = duckdb.connect()
    con.execute(STAR.format(d=data_dir))
    nation = con.execute(
        "select min(n_name) from '{d}/nation.parquet' join '{d}/region.parquet' "
        "on n_regionkey = r_regionkey where r_name = 'ASIA'".format(d=data_dir)
    ).fetchone()[0]

    def rows(select, where, group=None, order=None):
        cols = list(select)
        sql = "select %s from f where %s" % (
            ", ".join(select[c] for c in cols), where)
        if group:
            sql += " group by " + ", ".join(group)
        if order is not None:
            sql += " order by " + order
        return [dict(zip(cols, r)) for r in con.execute(sql).fetchall()]

    out = []
    for name, verb, u, kind, select, where, group, order in definitions(nation):
        c = {"name": name, "verb": verb, "url": u, "kind": kind,
             "ordered": order is not None}
        if kind == "aggregate":
            aggs = {k: v for k, v in select.items() if k in AGGS}
            c.update(summary=rows(aggs, where)[0],
                     cells=rows(select, where, group, order))
        else:
            c.update(rows=rows(select, where, group, order))
        out.append(c)
    out.append({
        "name": "report", "verb": "report", "url": url("report", cut="date:1998"),
        "body": json.dumps(REPORT, sort_keys=True), "kind": "report",
        "parts": {
            "total": rows({"fact_count": AGGS["fact_count"]}, "year = 1998"),
            "flags": rows({"returnflag": "returnflag",
                           "fact_count": AGGS["fact_count"],
                           "quantity_sum": AGGS["quantity_sum"]},
                          "year = 1998", ["returnflag"]),
            "regions": rows({"customer.region_name": "c_region"}, "year = 1998",
                            ["c_region"], "c_region"),
        }})
    out.append({
        "name": "cell", "verb": "cell",
        "url": url("cell", cut="customer:ASIA,%s|date:1996" % nation),
        "kind": "cell", "keys": [["ASIA", nation], [1996]]})
    con.close()
    return out


# ----------------------------------------------------------------- check

def load(path):
    with open(path) as f:
        return json.load(f)


def requests(canaries):
    """Canary requests in the generator's stream format."""
    return [{"logical": 100000 + i, "verb": c["verb"],
             "method": "POST" if c.get("body") else "GET", "url": c["url"],
             "body": c.get("body") or "", "sum_check": [], "pagesize": 0,
             "name": c["name"]} for i, c in enumerate(canaries)]


def same(a, b):
    if isinstance(a, (int, float)) or isinstance(b, (int, float)):
        try:
            x, y = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return math.isclose(x, y, rel_tol=REL_TOL, abs_tol=1e-6)
    return str(a) == str(b)


def rows_differ(expected, actual, ordered):
    """None when `actual` holds the expected rows (projected onto the
    expected fields), else a short description of the first difference."""
    if len(expected) != len(actual):
        return "%d rows, expected %d" % (len(actual), len(expected))
    if not expected:
        return None
    fields = list(expected[0])
    proj = [{k: r.get(k) for k in fields} for r in actual]

    def key(r):
        return tuple(str(r[k]) for k in fields)
    if not ordered:
        expected = sorted(expected, key=key)
        proj = sorted(proj, key=key)
    for e, a in zip(expected, proj):
        if not all(same(e[k], a[k]) for k in fields):
            return "row %s, expected %s" % (a, e)
    return None


def check_one(c, body):
    kind = c["kind"]
    if kind == "csv":
        table = list(csv.reader(io.StringIO(body)))
        header, data = table[0], table[1:]
        return rows_differ(c["rows"], [dict(zip(header, r)) for r in data],
                           c["ordered"])
    doc = json.loads(body)
    if kind == "aggregate":
        if "summary" in c:
            diff = rows_differ([c["summary"]], [doc["summary"]], False)
            if diff:
                return "summary: " + diff
        return rows_differ(c["cells"], doc["cells"], c["ordered"])
    if kind == "rows":
        return rows_differ(c["rows"], doc, c["ordered"])
    if kind == "report":
        for part, expected in c["parts"].items():
            diff = rows_differ(expected, doc.get(part, []), False)
            if diff:
                return "%s: %s" % (part, diff)
        return None
    if kind == "cell":
        got = [[m["_key"] for m in cut] for cut in doc]
        ok = len(got) == len(c["keys"]) and all(
            len(g) == len(e) and all(same(x, y) for x, y in zip(g, e))
            for g, e in zip(got, c["keys"]))
        return None if ok else "cut keys %s, expected %s" % (got, c["keys"])
    return "unknown canary kind " + kind


def check(canaries, body_dir):
    """Errors, one per canary whose body is missing or differs."""
    errors = []
    for c in canaries:
        p = os.path.join(body_dir, c["name"] + ".body")
        if not os.path.exists(p):
            errors.append("canary %s: no response" % c["name"])
            continue
        with open(p, encoding="utf-8") as f:
            body = f.read()
        try:
            diff = check_one(c, body)
        except (ValueError, KeyError, IndexError, TypeError) as e:
            diff = "unreadable body (%s)" % e
        if diff:
            errors.append("canary %s: %s" % (c["name"], diff))
    return errors


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit(__doc__)
    data = os.environ.get("SPARK_GRAFT_SF_DIR",
                          os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
    with open(os.path.join(HERE, "canaries.json"), "w") as f:
        json.dump(build(data), f, indent=1, sort_keys=True, default=str)
        f.write("\n")
