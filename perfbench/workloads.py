"""Seeded operation lists for the two workloads, with the oracle of each.

`operations(workload, seed, data_dir)` returns a list of `Op`s. The seed
picks the bound terms (customers, orders, parts) from the key space of the
input tables and the order of the list; the same seed gives a
byte-identical list (`ops_text`), another seed other bound terms. Each
SPARQL text appears once on every persisted layout, so one pass over the
list runs every query on all four layouts.

Every SPARQL op carries its oracle: plain SQL over the raw parquet tables
for DuckDB, written against the triple encoding of `graft.sources.RdfBridge`
(customer -(k+1000), order k+1, part -(k+500000000), supplier k+10^9,
nation k+2*10^9; :placed -2, :contains -13, :supplied_by -21,
:in_nation -31) but without using any of the engine's code. Pipeline ops are
checked against their gate's own `QueryDef.oracle`, which the JVM writes out.
"""
import random
from dataclasses import dataclass

import duckdb

LAYOUTS = ["single_subject", "single_predicate", "split_subject", "split_predicate"]
# Staged gates with localCheckpoint-heavy run() in queries.Pipeline, each
# once per pass. One of the six heaviest (91 Spark jobs per run): every gate
# adds about 25 s of cold set-up, answer saving and warm-up to a run, and
# with one gate a 20 s run times seven to nine of its executions.
PIPELINE_GATES = ["text_quality_classifier"]
# Untimed passes over the gates after the answer-saving one.
PIPELINE_WARM_PASSES = 5
WORKLOADS = ["sparql_mixed", "pipeline_staged"]
# Op-id prefix of each SPARQL family in sparql_mixed.
FAMILIES = {"pt": "point", "jn": "join", "pa": "path"}

TRIPLES = """triples AS (
  SELECT CAST(-(o_custkey + 1000) AS INTEGER) AS s, -2 AS p,
         CAST(o_orderkey + 1 AS INTEGER) AS o FROM orders
  UNION ALL
  SELECT CAST(l_orderkey + 1 AS INTEGER), -13,
         CAST(-(l_partkey + 500000000) AS INTEGER) FROM lineitem
  UNION ALL
  SELECT CAST(-(l_partkey + 500000000) AS INTEGER), -21,
         CAST(l_suppkey + 1000000000 AS INTEGER) FROM lineitem
  UNION ALL
  SELECT CAST(-(c_custkey + 1000) AS INTEGER), -31,
         CAST(c_nationkey + 2000000000 AS INTEGER) FROM customer)"""


@dataclass(frozen=True)
class Op:
    id: str        # one per distinct text; the four layouts share it
    layout: str    # a persisted layout, or "-" for a pipeline gate
    kind: str      # "sparql", "decoded" (sparqlDecoded) or "gate"
    text: str      # query text or gate name
    oracle: str    # DuckDB SQL giving the expected rows ("" for gates)


def cust(k): return -(k + 1000)
def order(k): return k + 1
def part(k): return -(k + 500000000)


def _closure(seed_sql, edges_sql):
    """Nodes reachable in one or more steps from `seed_sql` over
    `edges_sql` (s, o), as column `o`."""
    return f"""WITH RECURSIVE {TRIPLES},
edges AS ({edges_sql}),
reach AS (
  SELECT e.o AS node FROM edges e WHERE e.s IN ({seed_sql})
  UNION
  SELECT e.o FROM reach r JOIN edges e ON e.s = r.node)
SELECT CAST(node AS INTEGER) AS o FROM reach"""


class KeySpace:
    """Bound-term candidates read from the input tables."""

    def __init__(self, data_dir):
        con = duckdb.connect()
        q = lambda sql: [r[0] for r in con.execute(sql).fetchall()]
        t = lambda name: f"'{data_dir}/{name}.parquet'"
        self.customers_with_orders = q(
            f"SELECT DISTINCT o_custkey FROM {t('orders')} ORDER BY 1")
        self.customers = q(f"SELECT c_custkey FROM {t('customer')} ORDER BY 1")
        self.orders = q(f"SELECT o_orderkey FROM {t('orders')} ORDER BY 1")
        self.parts = q(f"SELECT DISTINCT l_partkey FROM {t('lineitem')} ORDER BY 1")
        self.orders_of = {}
        for c, o in con.execute(
                f"SELECT o_custkey, min(o_orderkey) FROM {t('orders')} GROUP BY 1").fetchall():
            self.orders_of[c] = o
        con.close()


def _point(rng, ks):
    """Short lookups: the fixed per-query cost (encode job, planning, job
    scheduling) dominates."""
    c = lambda: rng.choice(ks.customers_with_orders)
    c1, c2, c3, c4, c5 = c(), rng.choice(ks.customers), c(), c(), c()
    o1, p1 = rng.choice(ks.orders), rng.choice(ks.parts)
    o4 = ks.orders_of[c4]
    two_hop = (f"SELECT t1.o AS o, t2.o AS p2 FROM triples t1 JOIN triples t2 "
               f"ON t1.o = t2.s WHERE t1.p = -2 AND t2.p = -13 AND t1.s = {{c}}")
    return [
        ("sparql", f"SELECT ?o ?p2 WHERE {{ 'cust_{c1}' :placed ?o . ?o :contains ?p2 }}",
         f"WITH {TRIPLES} " + two_hop.format(c=cust(c1))),
        ("sparql", f"ASK {{ 'cust_{c2}' :placed ?o }}",
         f"WITH {TRIPLES} SELECT EXISTS (SELECT 1 FROM triples "
         f"WHERE s = {cust(c2)} AND p = -2) AS result"),
        ("sparql", f"DESCRIBE 'order_{o1}'",
         f"WITH {TRIPLES} SELECT DISTINCT s AS Subject, p AS Predicate, o AS Object "
         f"FROM triples WHERE s = {order(o1)} OR o = {order(o1)}"),
        ("sparql", f"SELECT ?n WHERE {{ 'cust_{c3}' :in_nation ?n }}",
         f"WITH {TRIPLES} SELECT o AS n FROM triples WHERE s = {cust(c3)} AND p = -31"),
        ("sparql", f"SELECT ?c WHERE {{ 'part_{p1}' ^:contains/^:placed ?c }}",
         f"WITH {TRIPLES} SELECT t2.s AS c FROM triples t1 JOIN triples t2 ON t2.o = t1.s "
         f"WHERE t1.p = -13 AND t1.o = {part(p1)} AND t2.p = -2"),
        ("sparql", f"SELECT ?o ?p2 WHERE {{ 'cust_{c4}' :placed ?o . ?o :contains ?p2 . "
                   f"FILTER(?o = 'order_{o4}') }}",
         f"WITH {TRIPLES} " + two_hop.format(c=cust(c4)) + f" AND t1.o = {order(o4)}"),
        ("decoded", f"SELECT ?n WHERE {{ 'cust_{c5}' :in_nation ?n }}",
         f"SELECT 'nation_' || CAST(c_nationkey AS VARCHAR) AS n FROM customer "
         f"WHERE c_custkey = {c5}"),
    ]


def _join(rng, ks):
    """Unbounded multi-pattern BGPs: scan, exchange and join dominate."""
    p1 = rng.choice(ks.parts)
    return [
        # reference Q1 chain without its bound subject: 30 x lineitem rows
        # out of the joins, counted per supplier
        ("sparql", "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?c :placed ?o . "
                   "?o :contains ?p . ?p :supplied_by ?s } GROUP BY ?s",
         f"WITH {TRIPLES} SELECT t3.o AS s, CAST(COUNT(t1.o) AS BIGINT) AS n "
         f"FROM triples t1 JOIN triples t2 ON t1.o = t2.s JOIN triples t3 ON t2.o = t3.s "
         f"WHERE t1.p = -2 AND t2.p = -13 AND t3.p = -21 GROUP BY t3.o"),
        # star on ?o, its one selective pattern written last
        ("sparql", f"SELECT ?c ?p WHERE {{ ?o :contains ?p . ?c :placed ?o . "
                   f"?o :contains 'part_{p1}' }}",
         f"WITH {TRIPLES} SELECT t2.s AS c, t1.o AS p FROM triples t1 "
         f"JOIN triples t2 ON t2.o = t1.s JOIN triples t3 ON t3.s = t1.s "
         f"WHERE t1.p = -13 AND t2.p = -2 AND t3.p = -13 AND t3.o = {part(p1)}"),
    ]


def _path(rng, ks):
    """A property-path closure from a seeded order: BgpPlanner runs it
    eagerly inside plan(), as serial BFS jobs in operators.Graph."""
    o1 = rng.choice(ks.orders)
    return [
        ("sparql", f"SELECT ?o WHERE {{ 'order_{o1}' (:contains|:supplied_by)+ ?o }}",
         _closure(str(order(o1)), "SELECT s, o FROM triples WHERE p IN (-13, -21)")),
    ]


def operations(workload, seed, data_dir):
    rng = random.Random(f"{workload}:{seed}")
    if workload == "pipeline_staged":
        gates = list(PIPELINE_GATES)
        rng.shuffle(gates)
        return [Op(f"g{PIPELINE_GATES.index(g)}", "-", "gate", g, "") for g in gates]
    ks = KeySpace(data_dir)
    ops = [Op(f"{prefix}{i}", layout, kind, text, oracle)
           for prefix, make in (("pt", _point), ("jn", _join), ("pa", _path))
           for i, (kind, text, oracle) in enumerate(make(rng, ks))
           for layout in LAYOUTS]
    rng.shuffle(ops)
    return ops


def warmup(ops):
    """The operations to run untimed before the timed loop: every point
    lookup, on every layout. Their latency is mostly per-query planning and
    code generation; a first run of one on a layout took about 1.2 times as
    long as a later one, and how much of that fell into the timed loop
    moved its median by up to 20% from run to run. A gate keeps getting
    faster over its first runs (about 4.4 s on its second, 2.4 s on its
    fifth and 2.0 s on its tenth), so after the answer-saving pass the gate
    list runs PIPELINE_WARM_PASSES more times."""
    gates = [o for o in ops if o.kind == "gate"]
    return [o for o in ops if o.id.startswith("pt")] + gates * PIPELINE_WARM_PASSES


def ops_text(ops):
    """The list as the JVM reads it: id, layout, kind, text per line."""
    return "".join(f"{o.id}\t{o.layout}\t{o.kind}\t{o.text}\n" for o in ops)
