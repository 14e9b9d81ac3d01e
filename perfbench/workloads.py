"""Seeded op streams for the three workloads, each op with its oracle twin.

The generator is the only place the seed shapes the ops; the harness
receives the generated list and runs it. Every op carries what the
oracle needs: an ANSI twin for each dialect query, a DuckDB replay
statement for each DML statement, and the gate entry's own
`oracleSql` for each pipeline entry (looked up by the harness).
"""
import random

# --- dialect_serve -----------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# the named query and fieldset the dialect ops refer to
DIALECT_DECLS = """
create query active_customers as
  select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, ...
  from customer where c_acctbal > 0.0;
create fieldset cust_id(from customer AS a) as
  select a.c_custkey as cid, a.c_name as cname;
"""


def lit(p):
    """ANSI literal of a typed param (locale-independent)."""
    t, v = p["t"], p.get("v")
    if t == "string":
        return "'" + v.replace("'", "''") + "'"
    if t == "float":
        return repr(float(v))
    if t == "int":
        return str(int(v))
    if t == "ts":
        return f"TIMESTAMP '{v}'"
    raise ValueError(t)


def P(t, v):
    return {"t": t, "v": v}


def money(rng, lo, hi):
    return round(rng.uniform(lo, hi), 2)


# Each template: (name, dialect text with {a} as the fresh-alias slot,
# ANSI twin as a function of the params, param generator). Shapes cover
# joins, IN/EXISTS subqueries, GROUP BY/HAVING, LEFT OPTIONAL JOIN,
# named-query/fieldset/nav composition and MATCH variant params. Compile
# time grows with the tables a query loads; seven templates load two or
# more and three load one, so the compile-time median sits inside one
# mode of that distribution rather than in the gap between two.
TEMPLATES = [
    ("join_orders_agg",
     """select c_mktsegment as seg, count(1) as n_orders,
          max(o_totalprice) as max_price
        from customer as c{a} join orders as o{a} on o_custkey = c_custkey
        where o_totalprice > ?min
        group by c_mktsegment order by c_mktsegment""",
     lambda p: f"""SELECT c_mktsegment AS seg, count(1) AS n_orders,
          max(o_totalprice) AS max_price
        FROM customer JOIN orders ON o_custkey = c_custkey
        WHERE o_totalprice > {lit(p['min'])}
        GROUP BY c_mktsegment ORDER BY seg""",
     lambda rng: {"min": P("float", money(rng, 50000, 450000))}),
    ("in_subquery",
     """select c_custkey, c_name from customer as c{a}
        where c_nationkey = ?nat
          and c_custkey in (select o_custkey from orders where o_totalprice > ?p)
        order by c_custkey""",
     lambda p: f"""SELECT c_custkey, c_name FROM customer
        WHERE c_nationkey = {lit(p['nat'])}
          AND c_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > {lit(p['p'])})
        ORDER BY c_custkey""",
     lambda rng: {"nat": P("int", rng.randrange(25)),
                  "p": P("float", money(rng, 200000, 450000))}),
    ("exists_gate",
     """select n_nationkey, n_name from nation as n{a}
        where n_regionkey = ?reg
          and exists(select o_orderkey from orders where o_totalprice > ?p)
        order by n_nationkey""",
     lambda p: f"""SELECT n_nationkey, n_name FROM nation
        WHERE n_regionkey = {lit(p['reg'])}
          AND EXISTS (SELECT o_orderkey FROM orders
                      WHERE o_totalprice > {lit(p['p'])})
        ORDER BY n_nationkey""",
     lambda rng: {"reg": P("int", rng.randrange(5)),
                  "p": P("float", money(rng, 400000, 499990))}),
    ("group_having",
     """select l_orderkey, sum(l_quantity) as total_qty
        from lineitem as l{a} where l_discount <= ?d
        group by l_orderkey having sum(l_quantity) > ?q
        order by l_orderkey""",
     lambda p: f"""SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem WHERE l_discount <= {lit(p['d'])}
        GROUP BY l_orderkey HAVING sum(l_quantity) > {lit(p['q'])}
        ORDER BY l_orderkey""",
     lambda rng: {"d": P("float", rng.choice([0.02, 0.04, 0.06, 0.08, 0.1])),
                  "q": P("float", float(rng.randrange(60, 160)))}),
    ("optional_join",
     """select ck, nm from (
          select c_custkey as ck, with n_name as nm, with o_orderkey as ok
          from customer
          left optional join nation on n_nationkey = c_nationkey
          left optional join orders on o_custkey = c_custkey) as s{a}
        where ck < ?k
        order by ck""",
     lambda p: f"""SELECT c_custkey AS ck, n_name AS nm
        FROM customer LEFT JOIN nation ON n_nationkey = c_nationkey
        WHERE c_custkey < {lit(p['k'])} ORDER BY ck""",
     lambda rng: {"k": P("int", rng.randrange(100, 1500))}),
    ("named_fieldset",
     """select withscope ac{a} as c2, ...cust_id(ac{a}), c2.c_acctbal
        from active_customers as ac{a}
        where ac{a}.c_mktsegment = ?seg
        order by ac{a}.c_custkey limit 50""",
     lambda p: f"""SELECT c_custkey AS cid, c_name AS cname, c_acctbal
        FROM customer WHERE c_acctbal > 0.0 AND c_mktsegment = {lit(p['seg'])}
        ORDER BY c_custkey LIMIT 50""",
     lambda rng: {"seg": P("string", rng.choice(SEGMENTS))}),
    ("nav_pushdown",
     """select c{a}.c_name, stats.count(1) as n_orders
        from customer as c{a}
        join (select o_custkey as k, ... from orders
              where o_orderpriority = ?pri group by o_custkey) as stats
        on c{a}.c_custkey = stats.k
        where c{a}.c_nationkey = ?nat
        order by c{a}.c_name""",
     lambda p: f"""SELECT c.c_name AS c_name, stats.n AS n_orders
        FROM customer c JOIN (SELECT o_custkey AS k, count(1) AS n FROM orders
                              WHERE o_orderpriority = {lit(p['pri'])}
                              GROUP BY o_custkey) stats
        ON c.c_custkey = stats.k
        WHERE c.c_nationkey = {lit(p['nat'])}
        ORDER BY c.c_name""",
     lambda rng: {"pri": P("string", rng.choice(PRIORITIES)),
                  "nat": P("int", rng.randrange(25))}),
    ("match_variant",
     """select c_custkey, c_acctbal, n_name
        from customer as c{a} join nation on n_nationkey = c_nationkey
        where match ?q with
          | all -> true
          | rich ?min -> c_acctbal >= ?min: float
          end
        order by c_custkey""",
     lambda p: ("SELECT c_custkey, c_acctbal, n_name FROM customer "
                "JOIN nation ON n_nationkey = c_nationkey " +
                ("" if p["q"]["tag"] == "all" else
                 f"WHERE c_acctbal >= {lit(p['q']['args'][0])} ") +
                "ORDER BY c_custkey"),
     lambda rng: {"q": ({"t": "variant", "tag": "all", "args": []}
                        if rng.random() < 0.3 else
                        {"t": "variant", "tag": "rich",
                         "args": [P("float", money(rng, 1000, 9000))]})}),
    ("datetime_window",
     """select count(1) as n, min(l_quantity) as min_qty,
          max(l_quantity) as max_qty
        from lineitem as l{a} join orders on o_orderkey = l_orderkey
        where l_shipdate >= ?t0 and l_shipdate < ?t1 and o_orderstatus = ?st
        group by ()""",
     lambda p: f"""SELECT count(1) AS n, min(l_quantity) AS min_qty,
          max(l_quantity) AS max_qty
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate >= {lit(p['t0'])} AND l_shipdate < {lit(p['t1'])}
          AND o_orderstatus = {lit(p['st'])}""",
     lambda rng: (lambda y, m: {
         "t0": P("ts", f"{y}-{m:02d}-01 00:00:00"),
         "t1": P("ts", f"{y + 1}-{m:02d}-01 00:00:00"),
         "st": P("string", rng.choice(["F", "O", "P"]))})(
             rng.randrange(1995, 2001), rng.randrange(1, 13))),
    ("events_window",
     """select event_type, count(1) as n, min(value) as min_v,
          max(value) as max_v
        from events as e{a}
        where ts >= ?t and value > ?v
        group by event_type order by event_type""",
     lambda p: f"""SELECT event_type, count(1) AS n, min(value) AS min_v,
          max(value) AS max_v
        FROM events WHERE ts >= {lit(p['t'])} AND value > {lit(p['v'])}
        GROUP BY event_type ORDER BY event_type""",
     lambda rng: {"t": P("ts", f"2024-01-{rng.randrange(1, 29):02d} 00:00:00"),
                  "v": P("float", money(rng, 0, 200))}),
]


def dialect_serve(seed):
    """One pass: every template once fresh (new text: prepare + bind)
    and once re-bound, with other params, on the statement its fresh
    op prepared; the template order is seeded."""
    rng = random.Random(seed)
    twins, fresh, rebind = {}, [], []
    order = list(range(len(TEMPLATES)))
    rng.shuffle(order)
    for ti in order:
        name, text, twin, gen = TEMPLATES[ti]
        for k, kind in enumerate(["fresh", "rebind"]):
            params = gen(rng)
            key = f"{name}:{k}"
            twins[key] = twin(params)
            (fresh if kind == "fresh" else rebind).append(
                {"key": key, "kind": kind, "stmt": name, "params": params,
                 "text": " ".join(text.split()) if kind == "fresh" else ""})
    # each rebind runs one fresh op after its own statement's fresh op
    ops = [fresh[0]]
    for f, r in zip(fresh[1:], rebind):
        ops += [f, r]
    ops.append(rebind[-1])
    for i, op in enumerate(ops):
        op["seq"] = i
    return {"ops": ops, "twins": twins, "decls": DIALECT_DECLS,
            "tables": ["region", "nation", "customer", "orders", "lineitem",
                       "events"]}


# --- dml_mixed ---------------------------------------------------------------

MANAGED_DECLS = """
create table mo (
  o_orderkey int not null primary key, o_custkey int not null,
  o_orderstatus string not null, o_totalprice float not null,
  o_orderpriority string not null);
"""
MO_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
           "o_orderpriority"]
DUCK_MO = """CREATE TABLE mo (o_orderkey BIGINT PRIMARY KEY,
  o_custkey BIGINT NOT NULL, o_orderstatus VARCHAR NOT NULL,
  o_totalprice DOUBLE NOT NULL, o_orderpriority VARCHAR NOT NULL)"""


def _values(rows):
    return ", ".join(
        f"({k}, {c}, '{s}', {repr(p)}, '{pr}')" for k, c, s, p, pr in rows)


# writes per pass; fixed counts keep the latency mix, and so its median
# and 90th percentile, the same under every seed
WRITE_MIX = ["insert", "update", "delete", "upsert", "upsert"]


def dml_mixed(seed, orders=15000):
    """One pass: the WRITE_MIX writes in a seeded order (INSERT VALUES
    batches, UPDATE and DELETE by key range, ON CONFLICT upserts), each
    followed by a SELECT reading back the rows it touched; the second
    and last writes are also followed by a whole-table aggregate read.
    The same statements replay in DuckDB."""
    rng = random.Random(seed)
    cols = ", ".join(MO_COLS)
    ops, next_key = [], orders + 1000

    def rand_row(k):
        return (k, rng.randrange(1500), rng.choice("FOP"),
                money(rng, 1000, 499000), rng.choice(PRIORITIES))

    def read(lo, hi):
        sql = (f"select {cols} from mo where o_orderkey >= {lo} "
               f"and o_orderkey < {hi} order by o_orderkey")
        return {"kind": "read", "text": sql, "twin": sql}

    agg = ("select o_orderstatus, count(1) as n, max(o_totalprice) as mx, "
           "min(o_orderkey) as mn from mo group by o_orderstatus "
           "order by o_orderstatus")
    agg_twin = ("SELECT o_orderstatus, count(1) AS n, max(o_totalprice) AS mx, "
                "min(o_orderkey) AS mn FROM mo GROUP BY o_orderstatus "
                "ORDER BY o_orderstatus")
    kinds = list(WRITE_MIX)
    rng.shuffle(kinds)
    for w, kind in enumerate(kinds):
        if kind == "insert":
            n = rng.randrange(5, 30)
            rows = [rand_row(next_key + i) for i in range(n)]
            lo, hi = next_key, next_key + n
            next_key += n
            text = f"insert into mo({cols}) values {_values(rows)}"
            twin = f"INSERT INTO mo ({cols}) VALUES {_values(rows)}"
        elif kind in ("update", "delete"):
            lo = rng.randrange(0, orders - 400)
            hi = lo + rng.randrange(50, 400)
            cond = f"o_orderkey >= {lo} and o_orderkey < {hi}"
            if kind == "update":
                bump = repr(money(rng, 1, 99))
                text = (f"update mo set o_totalprice = o_totalprice + {bump}, "
                        f"o_orderstatus = 'U' where {cond}")
                twin = (f"UPDATE mo SET o_totalprice = o_totalprice + {bump}, "
                        f"o_orderstatus = 'U' WHERE {cond}")
            else:
                text = f"delete from mo where {cond}"
                twin = f"DELETE FROM mo WHERE {cond}"
        else:
            lo = rng.randrange(0, orders - 200)
            keys = sorted(set(rng.randrange(lo, lo + 100) for _ in range(12)))
            keys += [next_key + i for i in range(rng.randrange(2, 8))]
            next_key = keys[-1] + 1
            rows = [rand_row(k) for k in keys]
            hi = keys[-1] + 1
            text = (f"insert into mo({cols}) values {_values(rows)} "
                    "on conflict update set o_totalprice = excluded.o_totalprice, "
                    "o_orderstatus = excluded.o_orderstatus")
            twin = (f"INSERT INTO mo ({cols}) VALUES {_values(rows)} "
                    "ON CONFLICT (o_orderkey) DO UPDATE SET "
                    "o_totalprice = excluded.o_totalprice, "
                    "o_orderstatus = excluded.o_orderstatus")
        ops.append({"kind": "write", "text": text, "twin": twin})
        ops.append(read(lo, hi))
        if w in (1, len(kinds) - 1):
            ops.append({"kind": "read", "text": agg, "twin": agg_twin})
    for i, op in enumerate(ops):
        op["seq"] = i
        op["key"] = f"dml:{i}"
    return {"ops": ops, "decls": MANAGED_DECLS, "tables": ["orders"],
            "seed_table": "mo",
            "seed_columns": ["orders"] + MO_COLS,
            "duck_setup": [DUCK_MO,
                           f"INSERT INTO mo SELECT {cols} FROM orders"]}


# --- pipeline_iterative ------------------------------------------------------

# construction-heavy iterative gate entries: bp2 keeps the cores idle
# most of its wall time, gr1 is the execution-heavy one. Two entries
# keep a pass near 5 s, so a run fits a warm-up pass and still times
# two or more passes within its budget.
PIPELINE_ENTRIES = ["bp2_bpe_learn", "gr1_pagerank"]


def pipeline_iterative(seed):
    """One pass over the entries, in a seeded order."""
    rng = random.Random(seed)
    names = list(PIPELINE_ENTRIES)
    rng.shuffle(names)
    ops = [{"seq": i, "key": n, "kind": "entry", "stmt": n}
           for i, n in enumerate(names)]
    return {"ops": ops, "tables": ["orders", "lineitem", "documents"]}


WORKLOADS = {
    "dialect_serve": (dialect_serve, 0.01),
    "pipeline_iterative": (pipeline_iterative, 0.01),
    "dml_mixed": (dml_mixed, 0.01),
}


# Seconds one warm pass takes on a 4-core x86-64 host (local[4]). A run
# times the whole passes that fill `--seconds` at these rates, at least
# two; the count never depends on the run's own speed. With a deadline
# instead, a fast run fitted one more, warmer pass than a slow one, and
# dml_mixed's cpu_ms_per_op fell into two clusters 25% apart by pass
# count alone.
PASS_S = {"dialect_serve": 7.0, "pipeline_iterative": 5.5, "dml_mixed": 3.3}


def timed_passes(workload, seconds):
    return max(2, round(seconds / PASS_S[workload]))


def generate(workload, seed):
    """(ops document, scale factor) for `workload` under `seed`."""
    gen, sf = WORKLOADS[workload]
    return gen(seed), sf
