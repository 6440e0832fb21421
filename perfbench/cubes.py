"""The benchmark's own model of the engine's cubes: level -> SQL and
measure -> SQL over the fixture tables, the seeded cube-call generator,
and the translator from a call to the DuckDB SQL that checks it.

The model is written from the cube catalog's documented semantics, not
read from the engine, so the oracle stays independent of the code it
checks; `selftest.py` holds it to the registered cube queries' own
oracle SQL.
"""
import random

from fixture import EVENT_TYPES, LANGS, PART_TYPES, PRIORITIES, REGIONS, SEGMENTS, STATUSES

# alias -> (JOIN clause, parent alias); parents come before children.
TRADE_JOINS = {
    "orders": ("JOIN orders o ON f.l_orderkey = o.o_orderkey", "fact"),
    "customer": ("JOIN customer c ON o.o_custkey = c.c_custkey", "orders"),
    "nation": ("JOIN nation n ON c.c_nationkey = n.n_nationkey", "customer"),
    "region": ("JOIN region r ON n.n_regionkey = r.r_regionkey", "nation"),
    "part": ("JOIN part p ON f.l_partkey = p.p_partkey", "fact"),
    "supplier": ("JOIN supplier s ON f.l_suppkey = s.s_suppkey", "fact"),
    "supp_nation": ("JOIN nation sn ON s.s_nationkey = sn.n_nationkey", "supplier"),
    "supp_region": ("JOIN region sr ON sn.n_regionkey = sr.r_regionkey", "supp_nation"),
}
# alias -> "table alias" for member scans, which read only the level's table
TRADE_TABLES = {"fact": "lineitem f", "orders": "orders o", "customer": "customer c",
                "nation": "nation n", "region": "region r", "part": "part p",
                "supplier": "supplier s", "supp_nation": "nation sn",
                "supp_region": "region sr"}


def _lvl(dim, sql, typ, label=None):
    return {"dim": dim, "sql": sql, "type": typ, "label": label}


CUBES = {
    "trade": {
        "fact": "lineitem f", "joins": TRADE_JOINS, "tables": TRADE_TABLES,
        "levels": {
            "Year": _lvl("orders", "CAST(year(o.o_orderdate) AS INTEGER)", "INTEGER"),
            "Month": _lvl("orders", "CAST(month(o.o_orderdate) AS INTEGER)", "INTEGER"),
            "Ship Year": _lvl("fact", "CAST(year(f.l_shipdate) AS INTEGER)", "INTEGER"),
            "Order Status": _lvl("orders", "o.o_orderstatus", "VARCHAR"),
            "Order Priority": _lvl("orders", "o.o_orderpriority", "VARCHAR"),
            "Customer ID": _lvl("customer", "c.c_custkey", "BIGINT", "c.c_name"),
            "Customer": _lvl("customer", "c.c_name", "VARCHAR"),
            "Mkt Segment": _lvl("customer", "c.c_mktsegment", "VARCHAR"),
            "Nation ID": _lvl("nation", "n.n_nationkey", "INTEGER", "n.n_name"),
            "Nation": _lvl("nation", "n.n_name", "VARCHAR"),
            "Region ID": _lvl("region", "r.r_regionkey", "INTEGER", "r.r_name"),
            "Region": _lvl("region", "r.r_name", "VARCHAR"),
            "Part ID": _lvl("part", "p.p_partkey", "BIGINT", "p.p_name"),
            "Brand": _lvl("part", "p.p_brand", "VARCHAR"),
            "Part Type": _lvl("part", "p.p_type", "VARCHAR"),
            "Part Size": _lvl("part", "p.p_size", "INTEGER"),
            "Supplier ID": _lvl("supplier", "s.s_suppkey", "BIGINT", "s.s_name"),
            "Supplier": _lvl("supplier", "s.s_name", "VARCHAR"),
            "Supplier Nation": _lvl("supp_nation", "sn.n_name", "VARCHAR"),
            "Supplier Region": _lvl("supp_region", "sr.r_name", "VARCHAR"),
            "Return Flag": _lvl("fact", "f.l_returnflag", "VARCHAR"),
            "Line Status": _lvl("fact", "f.l_linestatus", "VARCHAR"),
        },
        "measures": {
            "Trade Value": "round(sum(f.l_extendedprice), 2)",
            "Quantity": "sum(f.l_quantity)",
            "Discounted Value": "round(sum(f.l_extendedprice * (1.0 - f.l_discount)), 2)",
            "Charged Value": "round(sum(f.l_extendedprice * (1.0 - f.l_discount)"
                             " * (1.0 + f.l_tax)), 2)",
            "Line Count": "CAST(count(*) AS BIGINT)",
            "Order Count": "CAST(count(DISTINCT f.l_orderkey) AS BIGINT)",
            "Avg Quantity": "round(avg(f.l_quantity), 4)",
            "Max Price": "max(f.l_extendedprice)",
            "Min Price": "min(f.l_extendedprice)",
        },
    },
    "events": {
        "fact": "events e", "joins": {}, "tables": {"fact": "events e"},
        "levels": {
            "Event Type": _lvl("fact", "e.event_type", "VARCHAR"),
            "Event Day": _lvl("fact", "CAST(date_trunc('day', e.ts) AS TIMESTAMP)", "TIMESTAMP"),
            "Event Hour": _lvl("fact", "CAST(date_trunc('hour', e.ts) AS TIMESTAMP)", "TIMESTAMP"),
            "User ID": _lvl("fact", "e.user_id", "BIGINT"),
            "Prop K": _lvl("fact", "CAST(regexp_extract(e.props, '\"k\": ([0-9]+)', 1)"
                                   " AS INTEGER)", "INTEGER"),
        },
        "measures": {
            "Event Count": "CAST(count(*) AS BIGINT)",
            "Total Value": "round(sum(e.value), 2)",
            "Avg Value": "round(avg(e.value), 4)",
            "Max Value": "max(e.value)",
            "User Count": "CAST(count(DISTINCT e.user_id) AS BIGINT)",
        },
    },
    "documents": {
        "fact": "documents d", "joins": {}, "tables": {"fact": "documents d"},
        "levels": {
            "Lang": _lvl("fact", "d.lang", "VARCHAR"),
            "Source": _lvl("fact", "d.source", "VARCHAR"),
        },
        "measures": {
            "Doc Count": "CAST(count(*) AS BIGINT)",
            "Total Chars": "CAST(sum(d.n_chars) AS BIGINT)",
            "Avg Chars": "round(avg(d.n_chars), 4)",
        },
    },
}


def norm(name):
    """The reference's column-name rule: replace(' ', '_').lower()."""
    return name.replace(" ", "_").lower()


def _literal(value, typ):
    return value if typ in ("INTEGER", "BIGINT") else "'" + value.replace("'", "''") + "'"


def _from_where(cube, levels, cuts):
    c = CUBES[cube]
    need = {c["levels"][l]["dim"] for l in levels} | {c["levels"][l]["dim"] for l in cuts}
    need.discard("fact")
    grown = True
    while grown:
        parents = {c["joins"][a][1] for a in need} - {"fact"}
        grown = not parents <= need
        need |= parents
    joins = [j for a, (j, _) in c["joins"].items() if a in need]
    preds = []
    for lvl, vals in cuts.items():
        d = c["levels"][lvl]
        lits = ", ".join(_literal(v, d["type"]) for v in vals)
        preds.append(f"{d['sql']} IN ({lits})")
    where = (" WHERE " + " AND ".join(preds)) if preds else ""
    return f"FROM {c['fact']} " + " ".join(joins) + where


def to_sql(call):
    """DuckDB SQL whose result the engine's answer to `call` must equal
    (as a set of rows; the comparison sorts)."""
    c = CUBES[call["cube"]]
    cuts = call.get("cuts", {})
    if call["kind"] == "members":
        lvl = c["levels"][call["level"]]
        cols = f"{lvl['sql']} AS id" + (f", {lvl['label']} AS label" if lvl["label"] else "")
        return f"SELECT DISTINCT {cols} FROM {c['tables'][lvl['dim']]}"
    msrs = ", ".join(f"{c['measures'][m]} AS {norm(m)}" for m in call["measures"])
    if call["kind"] == "data":
        dds = call["drilldowns"]
        src = _from_where(call["cube"], dds, cuts)
        keys = ", ".join(f"{c['levels'][l]['sql']} AS {norm(l)}" for l in dds)
        if not dds:
            return f"SELECT {msrs} {src}"
        group = ", ".join(str(i + 1) for i in range(len(dds)))
        return f"SELECT {keys}, {msrs} {src} GROUP BY {group}"
    # multi: one branch per grouping set; gid bit i (most significant
    # first) is set when union level i is aggregated away in that set
    union = list(dict.fromkeys(l for s in call["sets"] for l in s))
    src = _from_where(call["cube"], union, cuts)
    branches = []
    for s in call["sets"]:
        gid = sum(1 << (len(union) - 1 - i) for i, l in enumerate(union) if l not in s)
        keys = []
        for l in union:
            d = c["levels"][l]
            keys.append(f"{d['sql'] if l in s else 'CAST(NULL AS ' + d['type'] + ')'} AS {norm(l)}")
        group = (" GROUP BY " + ", ".join(str(union.index(l) + 2) for l in s)) if s else ""
        branches.append(f"SELECT CAST({gid} AS INTEGER) AS gid, {', '.join(keys)}, {msrs} {src}{group}")
    return " UNION ALL ".join(branches)


# --- seeded call generator -------------------------------------------------

# Member domains for cuts, from the fixture generator's value sets.
def _domain():
    nations = [f"NATION_{i}" for i in range(25)]
    return {
        "trade": {
            "Year": [str(y) for y in range(1995, 2002)], "Month": [str(m) for m in range(1, 13)],
            "Ship Year": [str(y) for y in range(1995, 2002)], "Order Status": STATUSES,
            "Order Priority": PRIORITIES, "Mkt Segment": SEGMENTS, "Nation": nations,
            "Region": REGIONS, "Brand": [f"Brand#{i}" for i in range(1, 26)],
            "Part Type": PART_TYPES, "Part Size": [str(i) for i in range(1, 51)],
            "Supplier Nation": nations, "Supplier Region": REGIONS,
            "Return Flag": ["A", "N", "R"], "Line Status": ["F", "O"]},
        "events": {"Event Type": EVENT_TYPES, "Prop K": [str(k) for k in range(100)]},
        "documents": {"Lang": LANGS, "Source": [f"src{i}" for i in range(20)]},
    }


# Drilldowns keep results reference-sized: ID and name levels with one
# member per customer/part/supplier are left to getMembers.
DRILLDOWNS = {
    "trade": ["Year", "Month", "Ship Year", "Order Status", "Order Priority",
              "Mkt Segment", "Nation", "Nation ID", "Region", "Region ID", "Brand",
              "Part Type", "Part Size", "Supplier Nation", "Supplier Region",
              "Return Flag", "Line Status"],
    "events": ["Event Type", "Event Day", "Event Hour", "Prop K", "User ID"],
    "documents": ["Lang", "Source"],
}
# Measures whose value does not depend on summation order. The averages
# and the discounted/charged sums are left out: their exact decimal
# values can sit on the rounding half-grid, where the engine's float
# partial sums and any oracle's legitimately round apart.
MEASURES = {
    "trade": ["Trade Value", "Quantity", "Line Count", "Order Count", "Max Price", "Min Price"],
    "events": ["Event Count", "Total Value", "Max Value", "User Count"],
    "documents": ["Doc Count", "Total Chars"],
}
# One block of calls: 7 getData (4 trade, 2 events, 1 documents), 2
# getMembers and 1 getDataMulti. The block's call shapes (cube, levels,
# measures, which levels are cut and how many members) are drawn once
# from a fixed catalogue seed, so every round of every run carries the
# same shape of work; the run's seed orders the calls and draws the cut
# members, so different seeds give different call streams.
BLOCK = ([("data", "trade")] * 4 + [("data", "events")] * 2 + [("data", "documents")]
         + [("members", "trade"), ("members", "events"), ("multi", "trade")])
BLOCK_SIZE = len(BLOCK)
CATALOGUE_SEED = 20240101


def _shape(rng, kind, cube):
    if kind == "members":
        return {"kind": kind, "cube": cube, "level": rng.choice(sorted(CUBES[cube]["levels"]))}
    measures = rng.sample(MEASURES[cube], rng.randint(1, 2))
    cut_levels = sorted(_domain()[cube])
    n_cuts = rng.randint(0, 2 if kind == "data" else 1)
    cuts = {l: rng.randint(1, min(3, len(_domain()[cube][l]) - 1))
            for l in rng.sample(cut_levels, n_cuts)}
    if kind == "data":
        n = rng.randint(1, min(3, len(DRILLDOWNS[cube])))
        return {"kind": kind, "cube": cube, "drilldowns": rng.sample(DRILLDOWNS[cube], n),
                "measures": measures, "cuts": cuts}
    a, b = rng.sample(DRILLDOWNS[cube], 2)
    sets = rng.choice([[[a, b], [a], []], [[a, b], [b]], [[a], [b], []]])
    return {"kind": kind, "cube": cube, "sets": sets, "measures": measures, "cuts": cuts}


def block_shapes():
    rng = random.Random(CATALOGUE_SEED)
    return [_shape(rng, k, c) for k, c in BLOCK]


def calls(seed, blocks):
    """`blocks` blocks of BLOCK_SIZE calls, deterministic in `seed`."""
    rng = random.Random(seed)
    dom = _domain()
    shapes = block_shapes()
    out = []
    for _ in range(blocks):
        order = list(range(BLOCK_SIZE))
        rng.shuffle(order)
        for i in order:
            call = dict(shapes[i])
            if "cuts" in call:
                call["cuts"] = {l: rng.sample(dom[call["cube"]][l], k)
                                for l, k in sorted(call["cuts"].items())}
            out.append(call)
    return out
