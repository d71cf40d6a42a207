"""Seeded request generator for the slicer workloads.

Member values (region and nation names, years and quarters, brands,
priorities, flags) are read from the test data when a run is set up; only
the resulting URLs reach the program. The same seed gives the same stream.

Requests come from a fixed list of request shapes (TEMPLATES): which verb,
which dimensions are drilled and cut, paging. The seed fills in the member
values, aggregates, fields and pages, and the order in which the shapes
come. Keeping the shape mix fixed keeps the work per request similar from
seed to seed, while every URL stays distinct.

Every generated request is one the server must answer with a 200. Each is
tagged with the checks that apply to it: `sum_check` lists the additive
aggregates whose summary must equal the sum of the cells (unpaged
aggregates with a drilldown), `pagesize` bounds a facts page.
"""

import heapq
import json
import random
from urllib.parse import quote

CUBE = "/cube/sales"
ADDITIVE = ["fact_count", "quantity_sum", "price_sum", "revenue_sum"]

# One round of request shapes, 20 requests: (verb, shape). A shape fixes
# everything that decides the plan: drilldowns, which dimensions are cut
# and how (see Generator.cut), fields, paging and ordering. The seed picks
# only member values, aggregates (a fixed number), pages and directions,
# so the work per request stays alike from seed to seed. The first six
# cover every verb, so even a short prefix (the traced run replays one)
# times each.
TEMPLATES = [
    ("aggregate", {"dd": ["returnflag"], "cuts": ["shipyear"]}),
    ("facts", {"cuts": ["yearquarter"], "fields": ["date.year", "returnflag", "linestatus"]}),
    ("members", {"dim": "customer", "depth": 2, "cuts": ["yearquarter"]}),
    ("cell", {"cuts": ["nation", "yearquarter"]}),
    ("csv", {"dd": ["orderpriority"], "cuts": ["year"]}),
    ("report", {"cuts": ["year"]}),
    ("aggregate", {"dd": ["date:year"], "cuts": ["cregion"]}),
    ("aggregate", {"dd": ["date:quarter"], "cuts": ["year", "returnflag"]}),
    ("aggregate", {"dd": ["customer:region"], "cuts": ["year"]}),
    ("aggregate", {"dd": ["customer:nation"], "cuts": ["sregion"]}),
    ("aggregate", {"dd": ["part:brand"], "cuts": ["yearquarter"], "page": True}),
    ("aggregate", {"dd": ["date:year", "shipdow"], "cuts": ["brands"]}),
    ("aggregate", {"dd": ["supplier:region"], "cuts": ["priority"]}),
    ("aggregate", {"dd": ["orderstatus"], "cuts": ["yearrange"]}),
    ("csv", {"dd": ["shipdate:quarter"], "cuts": ["linestatus"]}),
    ("csv", {"facts": True, "cuts": ["yearquarter", "cregion"],
             "fields": ["customer.nation_name", "orderpriority", "date.quarter"]}),
    ("facts", {"cuts": ["nation", "orderstatus"],
               "fields": ["customer.nation_name", "part.brand", "orderstatus"]}),
    ("facts", {"cuts": ["brands", "year"],
               "fields": ["part.brand", "supplier.region_name", "date.year", "returnflag"]}),
    ("members", {"dim": "date", "depth": 2, "cuts": ["sregion", "returnflag"]}),
    ("cell", {"cuts": ["brands", "returnflag"]}),
]


def members(data_dir):
    """Distinct member values of the cube's dimensions, from the data."""
    import duckdb

    con = duckdb.connect()

    def col(sql):
        return [r[0] for r in con.execute(sql.format(d=data_dir)).fetchall()]

    nations = {}
    for region, nation in con.execute(
            "select r_name, n_name from '{d}/nation.parquet' n join "
            "'{d}/region.parquet' r on n_regionkey = r_regionkey "
            "order by 1, 2".format(d=data_dir)).fetchall():
        nations.setdefault(region, []).append(nation)
    m = {
        "region": sorted(nations),
        "nation": nations,
        "year": col("select distinct year(o_orderdate) from "
                    "'{d}/orders.parquet' order by 1"),
        "shipyear": col("select distinct year(l_shipdate) from "
                        "'{d}/lineitem.parquet' order by 1"),
        "brand": col("select distinct p_brand from '{d}/part.parquet' "
                     "order by 1"),
        "orderpriority": col("select distinct o_orderpriority from "
                             "'{d}/orders.parquet' order by 1"),
        "orderstatus": col("select distinct o_orderstatus from "
                           "'{d}/orders.parquet' order by 1"),
        "returnflag": col("select distinct l_returnflag from "
                          "'{d}/lineitem.parquet' order by 1"),
        "linestatus": col("select distinct l_linestatus from "
                          "'{d}/lineitem.parquet' order by 1"),
    }
    con.close()
    return m


def esc(value):
    """Escape a member value for the cut-string grammar."""
    out = []
    for c in str(value):
        if c in "|:,-;\\!@":
            out.append("\\")
        out.append(c)
    return "".join(out)


def path(*values):
    return ",".join(esc(v) for v in values)


class Generator:
    """Instantiates request shapes with seeded member values."""

    def __init__(self, m, rng):
        self.m = m
        self.rng = rng

    def cut(self, kind):
        """One cut string of the given kind; the kind fixes the dimension,
        the level and the number of members."""
        r, m = self.rng, self.m
        if kind == "year":
            return "date:" + path(r.choice(m["year"]))
        if kind == "yearquarter":
            return "date:" + path(r.choice(m["year"]), r.randint(1, 4))
        if kind == "yearrange":
            a = r.choice(m["year"][:-2])
            return "date:%s-%s" % (path(a), path(a + 2))
        if kind == "shipyear":
            return "shipdate:" + ";".join(
                path(y) for y in sorted(r.sample(m["shipyear"], 2)))
        if kind in ("cregion", "sregion"):
            dim = "customer" if kind == "cregion" else "supplier"
            return "%s:%s" % (dim, path(r.choice(m["region"])))
        if kind == "nation":
            region = r.choice(m["region"])
            return "customer:" + path(region, r.choice(m["nation"][region]))
        if kind == "brands":
            return "part:" + ";".join(path(b) for b in r.sample(m["brand"], 2))
        if kind == "priority":
            return "orderpriority:" + ";".join(
                path(p) for p in r.sample(m["orderpriority"], 2))
        if kind in ("returnflag", "orderstatus", "linestatus"):
            return "!%s:%s" % (kind, path(r.choice(m[kind])))
        raise ValueError(kind)

    def aggregates(self, n=3):
        return self.rng.sample(ADDITIVE, n)

    def aggregate(self, dd, cuts, page=False, csv=False):
        r = self.rng
        aggs = self.aggregates()
        params = {"drilldown": "|".join(dd), "aggregates": "|".join(aggs),
                  "cut": [self.cut(k) for k in cuts]}
        if page:
            # a page needs a total order: money sums do not tie
            if not {"price_sum", "revenue_sum"} & set(aggs):
                aggs[-1] = "revenue_sum"
                params["aggregates"] = "|".join(aggs)
            by = r.choice([a for a in aggs if a in ("price_sum", "revenue_sum")])
            params["order"] = "%s:%s" % (by, r.choice(["asc", "desc"]))
            params["page"] = str(r.randint(0, 3))
            params["pagesize"] = "5"
        if csv:
            params["format"] = "csv"
            return self.request("csv", "aggregate", params)
        return self.request("aggregate", "aggregate", params,
                            sum_check=[] if page else aggs)

    def facts(self, cuts, fields, csv=False):
        r = self.rng
        params = {"cut": [self.cut(k) for k in cuts], "fields": ",".join(fields),
                  "page": str(r.randint(0, 20)), "pagesize": "20"}
        if csv:
            params["format"] = "csv"
            return self.request("csv", "facts", params)
        return self.request("facts", "facts", params, pagesize=20)

    def members(self, dim, depth, cuts):
        params = {"depth": str(depth), "cut": [self.cut(k) for k in cuts]}
        return self.request("members", "members/" + dim, params)

    def cell(self, cuts):
        return self.request("cell", "cell", {"cut": [self.cut(k) for k in cuts]})

    def report(self, cuts):
        queries = {
            "summary": {"query": "aggregate", "aggregates": self.aggregates(2)},
            "by": {"query": "aggregate", "drilldown": ["returnflag"],
                   "aggregates": self.aggregates(2)},
            "members": {"query": "members", "dimension": "orderpriority",
                        "depth": 1},
        }
        return self.request("report", "report",
                            {"cut": [self.cut(k) for k in cuts]},
                            body=json.dumps({"queries": queries},
                                            sort_keys=True))

    def request(self, verb, route, params, body=None, sum_check=(),
                pagesize=0):
        return {"verb": verb, "method": "POST" if body else "GET",
                "route": route, "params": params, "body": body,
                "sum_check": list(sum_check), "pagesize": pagesize}

    def draw(self, template):
        verb, a = template
        if verb == "aggregate":
            return self.aggregate(a["dd"], a["cuts"], a.get("page", False))
        if verb == "csv":
            if a.get("facts"):
                return self.facts(a["cuts"], a["fields"], csv=True)
            return self.aggregate(a["dd"], a["cuts"], csv=True)
        if verb == "facts":
            return self.facts(a["cuts"], a["fields"])
        if verb == "members":
            return self.members(a["dim"], a["depth"], a["cuts"])
        if verb == "cell":
            return self.cell(a["cuts"])
        return self.report(a["cuts"])


def spell(req, cut_order=None, param_order=None):
    """One URL spelling of a request: cut order and parameter order."""
    params = dict(req["params"])
    if "cut" in params:
        cuts = list(params["cut"])
        if cut_order is not None:
            cuts = [cuts[i] for i in cut_order]
        params["cut"] = "|".join(cuts)
    keys = sorted(params)
    if param_order is not None:
        keys = [keys[i] for i in param_order]
    query = "&".join("%s=%s" % (k, quote(params[k], safe="")) for k in keys)
    return "%s/%s" % (CUBE, req["route"]) + ("?" + query if query else "")


def line(req, url, logical):
    return {"logical": logical, "verb": req["verb"], "method": req["method"],
            "url": url, "body": req["body"] or "", "sum_check": req["sum_check"],
            "pagesize": req["pagesize"], "name": ""}


def cold_stream(m, seed, n):
    """`n` distinct requests, the request shapes in their fixed order,
    round after round."""
    g = Generator(m, random.Random(seed))
    seen, out = set(), []
    while len(out) < n:
        for t in TEMPLATES:
            for _ in range(50):  # redraw the values of a shape already used
                req = g.draw(t)
                url = spell(req)
                if (url, req["body"]) not in seen:
                    seen.add((url, req["body"]))
                    out.append(line(req, url, len(out)))
                    break
    return out[:n]


def zipf_schedule(logical, n, s):
    """Ranks for `n` draws with frequencies proportional to 1/rank^s,
    spread evenly (stride scheduling) instead of sampled, so the sequence
    of first occurrences, and with it the cache-miss pattern, is the same
    for every seed."""
    stride = [(k + 1) ** s for k in range(logical)]
    heap = [(stride[k] / 2, k) for k in range(logical)]
    heapq.heapify(heap)
    out = []
    for _ in range(n):
        pass_, k = heapq.heappop(heap)
        out.append(k)
        heapq.heappush(heap, (pass_ + stride[k], k))
    return out


def hot_stream(m, seed, n, logical=150, spellings=4, zipf_s=1.0):
    """`n` requests over `logical` distinct GET requests with Zipf
    popularity; request i has the shape of the i-th GET template (rank
    order is shape order) with seeded member values. Each is issued in up
    to `spellings` equivalent URLs, used in turn: permuted parameter order,
    and for facts and csv (whose bodies do not echo the cut list) permuted
    cut order. Reports are POSTs, which the server never caches; one opens
    the stream so the traced run times every verb."""
    rng = random.Random(seed)
    g = Generator(m, rng)
    shapes = [t for t in TEMPLATES if t[0] != "report"]
    pool, seen = [], set()
    while len(pool) < logical:
        req = g.draw(shapes[len(pool) % len(shapes)])
        key = spell(req)
        if key in seen:
            continue
        seen.add(key)
        urls = [key]
        ncut = len(req["params"].get("cut", []))
        nparam = len(req["params"])
        permute_cuts = req["verb"] in ("facts", "csv") and ncut > 1
        for _ in range(30):
            if len(urls) >= spellings:
                break
            co = rng.sample(range(ncut), ncut) if permute_cuts else None
            u = spell(req, co, rng.sample(range(nparam), nparam))
            if u not in urls:
                urls.append(u)
        pool.append((req, urls))
    report = g.report(["year"])
    out = [line(report, spell(report), logical)]
    uses = [0] * logical
    for k in zipf_schedule(logical, n - 1, zipf_s):
        req, urls = pool[k]
        out.append(line(req, urls[uses[k] % len(urls)], k))
        uses[k] += 1
    return out


def write_jsonl(path, rows):
    with open(path, "w") as f:
        for row in rows:
            f.write(json.dumps(row, sort_keys=True) + "\n")
