"""Seeded inputs of the benchmark workloads. The engine only ever sees the
SQL text and file names produced here."""
import random

FORMATS = ("parquet", "csv", "json")

# operator_pipeline: registry operators built on hand-rolled iterative
# loops (distributed BPE merges, PageRank), whose per-round pins,
# re-planning and recompiles the open performance items target
OPERATORS = ("bp3", "gr1")
STREAM_FAMILY = tuple(f"st{i}" for i in range(1, 9))

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def _day(rng):
    return f"{rng.randint(1995, 2000)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _window(rng, months):
    y, m = rng.randint(1995, 2000), rng.randint(1, 12)
    m2, y2 = m + months, y
    while m2 > 12:
        m2, y2 = m2 - 12, y2 + 1
    d = rng.randint(1, 28)
    return f"{y}-{m:02d}-{d:02d} 00:00:00", f"{y2}-{m2:02d}-{d:02d} 00:00:00"


# Each template stays inside the Spark and DuckDB common dialect with a
# total ORDER BY and exact integer or DECIMAL aggregates, so the exported
# file can be compared value for value with DuckDB running the same text.
# The three templates cover the five query shapes: scan/filter/project with
# order-by-limit, group-by over a join, and window top-n over an aggregate.
def filter_limit(rng):
    p = rng.randint(0, 19000)
    return ("SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, "
            "CAST(l_quantity AS INT) AS qty, "
            "CAST(l_extendedprice AS DECIMAL(12,2)) AS price, l_returnflag "
            f"FROM lineitem WHERE l_partkey BETWEEN {p} AND {p + rng.randint(5, 1000)} "
            f"AND l_discount >= {rng.randint(0, 6) / 100:.2f} "
            f"AND l_shipdate >= TIMESTAMP '{_day(rng)} 00:00:00' "
            "ORDER BY price DESC, l_orderkey, l_linenumber, l_partkey, l_suppkey, qty, "
            f"l_returnflag LIMIT {rng.randint(20, 200)}")


def join_group(rng):
    lo, hi = _window(rng, rng.randint(6, 36))
    return ("SELECT n_name, o_orderpriority, count(*) AS n, "
            "sum(CAST(o_totalprice AS DECIMAL(14,2))) AS total "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE c_mktsegment = '{rng.choice(SEGMENTS)}' "
            f"AND o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}' "
            "GROUP BY n_name, o_orderpriority ORDER BY n_name, o_orderpriority")


def window_topn(rng):
    lo, hi = _window(rng, rng.randint(6, 24))
    return ("SELECT c_nationkey, c_custkey, spend, rk FROM ("
            "SELECT c_nationkey, c_custkey, spend, "
            "rank() OVER (PARTITION BY c_nationkey ORDER BY spend DESC, c_custkey) AS rk "
            "FROM (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(14,2))) AS spend "
            f"FROM orders WHERE o_orderstatus = '{rng.choice('FOP')}' "
            f"AND o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}' "
            "GROUP BY o_custkey) s JOIN customer ON o_custkey = c_custkey) t "
            f"WHERE rk <= {rng.randint(3, 10)} ORDER BY c_nationkey, rk")


TEMPLATES = (filter_limit, join_group, window_topn)


class AdhocStream:
    """Seeded stream of distinct exports, handed out one pass at a time: a
    pass is every template once, in a seeded order, with fresh literals."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.seen = set()
        self.n = 0

    def next_pass(self):
        out = []
        for template in self.rng.sample(TEMPLATES, len(TEMPLATES)):
            sql = template(self.rng)
            while sql in self.seen:
                sql = template(self.rng)
            self.seen.add(sql)
            out.append((template.__name__, sql, FORMATS[self.n % len(FORMATS)]))
            self.n += 1
        return out


class OperatorOrder:
    """operator_pipeline's timed rounds: every batch operator once a round.
    The seed picks the first round's order and each later round reverses the
    one before, so that two rounds run every operator both before and after
    the others (which one runs first moves a round's time by ~10%). The
    streaming family (launched by st1, fetched by st2-st8) runs once, after
    the last round."""

    def __init__(self, seed):
        self.order = random.Random(seed).sample(OPERATORS, len(OPERATORS))

    def next_round(self):
        out = list(self.order)
        self.order.reverse()
        return out
