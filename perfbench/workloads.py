"""Seeded inputs of the workloads, and the wire workloads' expected answers.

A wire workload is a pool of distinct statements drawn from templates with
seeded parameters, plus one seeded schedule of (statement, hint) steps per
client. Every statement appears equally often in every schedule, so two seeds
give mixes of the same shape. The catalogue workload is a seeded call order
over a fixed pool of SparkEntry queries.
"""

import datetime
import random

CLIENTS = 4
ROUNDS = 4


def _day(offset):
    d = datetime.date(1995, 1, 1) + datetime.timedelta(days=offset)
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


# Short aggregates (1 to 10 rows) that overlap on lineitem, orders, customer
# and documents, so a window of them shares scans. The last one is the
# pair-enumerating self-join the plan audit warns about. Parameters stay in
# narrow bands, so every variant of a template costs about the same.
AGG_TEMPLATES = [
    lambda r: (lambda a: (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
        f"avg(l_discount) AS disc FROM lineitem WHERE l_shipdate >= {_day(a)} AND "
        f"l_shipdate < {_day(a + r.randrange(300, 360))} GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus"))(r.randrange(0, 2100)),
    lambda r: (lambda lo: (
        "SELECT count(*) AS n, sum(l_extendedprice * (1 - l_discount)) AS revenue "
        f"FROM lineitem WHERE l_discount BETWEEN {lo / 100} AND {(lo + 5) / 100} "
        f"AND l_quantity < {r.randrange(20, 30)}"))(r.randrange(0, 6)),
    lambda r: (lambda a: (
        "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total FROM orders "
        f"WHERE o_orderdate >= {_day(a)} AND o_orderdate < {_day(a + r.randrange(1000, 1200))} "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"))(r.randrange(0, 1200)),
    lambda r: (
        "SELECT o_orderstatus, count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey "
        f"WHERE c_mktsegment = '{r.choice(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])}' "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    lambda r: (
        "SELECT c_mktsegment, count(*) AS n, avg(c_acctbal) AS bal FROM customer "
        f"WHERE c_nationkey < {r.randrange(10, 20)} GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    lambda r: (
        "SELECT lang, count(*) AS n, sum(n_chars) AS chars FROM documents WHERE source IN ("
        + ", ".join(f"'src{s}'" for s in sorted(r.sample(range(20), r.randrange(5, 9))))
        + ") GROUP BY lang ORDER BY lang"),
    lambda r: (lambda k: (
        "SELECT count(*) AS n FROM documents a JOIN documents b ON "
        f"substring(a.text, 1, {k}) = substring(b.text, 1, {k}) AND a.doc_id < b.doc_id"))(
        r.randrange(32, 65)),
]

# Projections, filters and joins returning 10^4 to 10^5 rows each; each
# template's variants return within about 20 % of the same row count.
ROW_TEMPLATES = [
    lambda r: (lambda a: (
        "SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
        f"WHERE l_partkey >= {a} AND l_partkey < {a + r.randrange(1000, 1200)}"))(r.randrange(0, 18000)),
    lambda r: (lambda a: (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
        f"WHERE o_orderdate >= {_day(a)} AND o_orderdate < {_day(a + r.randrange(400, 480))}"))(
        r.randrange(0, 1900)),
    lambda r: (
        "SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment FROM orders o "
        "JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey IN ("
        + ", ".join(str(k) for k in sorted(r.sample(range(25), 3))) + ")"),
    lambda r: (
        "SELECT l.l_orderkey, l.l_linenumber, l.l_discount, s.s_name FROM lineitem l "
        f"JOIN supplier s ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey < {r.randrange(40, 48)}"),
    lambda r: (
        "SELECT event_id, user_id, event_type, value FROM events "
        f"WHERE user_id < {r.randrange(500, 600)}"),
]

WORKLOADS = {
    # kind: how the client checks a row stream; batching: BatchWindow in front;
    # warmup_s: closed-loop time before the window (the JIT and Spark's
    # generated code settle over it)
    "gw_window_agg": dict(templates=AGG_TEMPLATES, kind="agg", batching=True, variants=2,
                          hinted=True, warmup_s=22.0),
    "gw_stream_rows": dict(templates=ROW_TEMPLATES, kind="rows", batching=False, variants=2,
                           hinted=False, warmup_s=15.0),
}


# The catalogue's pool, fixed on the seed program at sf0.1 on a 4-core VM so
# that a run holds the 200 calls a p95 needs: from the cheapest sixth of each
# family (the name's leading letter) of SparkEntry.queries by a single-caller
# pass, the calls that stayed under ~1 s with 4 callers (at least the
# cheapest one per family), and all of the q family's. The graph family is
# left out: each of its queries takes 2 to 4 s with 4 callers, so its calls
# alone made the slowest twentieth of a run and p95 swung between seeds.
CATALOGUE_POOL = [
    "d01_exact_dedup", "d17_survivorship",
    "m05_modality_manifest", "m13_scene_change",
    "p07_stratified_sample", "p11_quality_cascade", "p17_sqrt_temperature",
    "q06_forecast_revenue", "q08_semi_join", "q09_anti_join", "q104_star_except",
    "q120_distribute_by", "q124_try_arithmetic", "q132_pagination", "q134_nulls_ordering",
    "q15_top_k", "q46_regexp_extract", "q64_encode", "q70_translate", "q72_posexplode",
    "q73_str_to_map", "q74_format_string", "q76_overlay", "q77_hash_fns",
    "q82_substring_index", "q85_elt_find_in_set", "q89_regexp_family", "q90_luhn_check",
    "q91_char_fns", "q96_bit_access",
    "s08_ivf_stats",
    "t04_fingerprint", "t25_gopher_repetition",
    "u04_observed_metrics",
    "w08_top_types", "w09_user_type_counts",
]
CATALOGUE_ROUNDS = 12

# every workload run.py runs; BENCHMARK.json lists the benchmarked ones
NAMES = [*WORKLOADS, "catalogue"]


def catalogue_queue(seed):
    """The catalogue's call order: shuffled rounds over the whole pool, which
    the callers take from one shared cursor, so any stretch of calls holds
    every query about equally often."""
    r = random.Random(f"catalogue:{seed}")
    return [q for _ in range(CATALOGUE_ROUNDS) for q in r.sample(CATALOGUE_POOL, len(CATALOGUE_POOL))]


def make(workload, seed):
    """Return (statements, schedules): statements is a list of SQL strings,
    schedules one list of (statement index, priority, deadline budget ms) per
    client."""
    spec = WORKLOADS[workload]
    r = random.Random(f"{workload}:{seed}")
    stmts = []
    for template in spec["templates"]:
        seen = set()
        while len(seen) < spec["variants"]:
            sql = template(r)
            if sql not in seen:
                seen.add(sql)
                stmts.append(sql)
    schedules = []
    for _ in range(CLIENTS):
        # every statement equally often: shuffled rounds over the whole pool
        order = [i for _ in range(ROUNDS) for i in r.sample(range(len(stmts)), len(stmts))]
        if spec["hinted"]:
            steps = [(i, r.choice([-1, 0, 0, 5]), r.choice([0, 0, 2000, 4000])) for i in order]
        else:
            steps = [(i, 0, 0) for i in order]
        schedules.append(steps)
    return stmts, schedules


def expected(corpus_dir, stmts, kind):
    """DuckDB answers on the same parquet files: the rows of each aggregate
    statement as dicts, or the row count of each row statement."""
    import duckdb
    con = duckdb.connect()
    try:
        for t in ("lineitem", "orders", "customer", "supplier", "documents", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
        out = []
        for sql in stmts:
            if kind == "agg":
                cur = con.execute(sql)
                cols = [d[0] for d in cur.description]
                out.append([dict(zip(cols, row)) for row in cur.fetchall()])
            else:
                out.append(con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0])
        return out
    finally:
        con.close()
