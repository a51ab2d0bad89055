"""Seeded SQL templates: the dashboard's routed kinds and the ad-hoc pushdown
kinds.

Every template draws its literals from a seeded ``random.Random`` and
returns a :class:`Query` holding the Spark SQL text, the DuckDB SQL that
answers the same question over the same parquet, and what to expect of the
route. Both texts are built from the same literals, so a seed fixes both.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random
from dataclasses import dataclass, field

from gen import EVENT_TYPES, LINE_STATUS, RETURN_FLAGS, month_start


@dataclass(frozen=True)
class Query:
    kind: str
    sql: str
    oracle: str
    #: the cube the router should serve it from; None means pushdown
    cube: str | None
    #: columns compared within this absolute distance (a percentile served
    #: from a histogram sketch is exact only to its bin width)
    within: dict = field(default_factory=dict)


#: hist(100,0,50) on tpch_cube.hist_qty: 50 / 100
HIST_BIN_WIDTH = 0.5
#: date ranges have a fixed width, so a seed changes where a query reads,
#: not how much it reads
WINDOW = dt.timedelta(days=90)

_SNOWFLAKE = (
    "from lineitem join orders on l_orderkey = o_orderkey "
    "join customer on o_custkey = c_custkey "
    "join nation on c_nationkey = n_nationkey"
)


def _flags(rng: random.Random) -> str:
    picked = rng.sample(RETURN_FLAGS, rng.randint(1, len(RETURN_FLAGS)))
    return ", ".join(f"'{f}'" for f in sorted(picked))


def _day(rng: random.Random, months: int) -> dt.date:
    first, last = month_start(0), month_start(months)
    return first + dt.timedelta(days=rng.randrange((last - first).days))


def _exact(rng, ctx):
    flags, k = _flags(rng), rng.randrange(ctx.min_group_rows)
    sql = (
        "select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty, "
        "sum(l_extendedprice) as sum_price, count(*) as n from lineitem "
        f"where l_returnflag in ({flags}) group by l_returnflag, l_linestatus "
        f"having count(*) > {k}"
    )
    return Query("exact", sql, sql, "tpch_cube")


def _reagg(rng, ctx):
    k = rng.randrange(ctx.min_group_rows)
    sql = (
        "select l_returnflag, sum(l_quantity) as sum_qty, "
        "avg(l_extendedprice) as avg_price, min(l_extendedprice) as min_price, "
        f"count(*) as n from lineitem group by l_returnflag having count(*) > {k}"
    )
    return Query("reagg", sql, sql, "tpch_cube")


def _snowflake(rng, ctx):
    nations = ", ".join(f"'NATION_{i}'" for i in sorted(rng.sample(range(25), 5)))
    sql = (
        "select n_name, sum(l_extendedprice) as sum_price, "
        f"avg(l_quantity) as avg_qty, count(*) as n {_SNOWFLAKE} "
        f"where n_name in ({nations}) group by n_name"
    )
    return Query("snowflake", sql, sql, "tpch_cube")


def derived_query(day: dt.date) -> Query:
    """Revenue by customer nation in the 90 days from ``day``: the segmented
    cube stores c_nationkey and recovers n_name by joining the lookup back."""
    sql = (
        "select n_name, sum(l_extendedprice) as sum_price, count(*) as n "
        f"{_SNOWFLAKE} where l_shipdate >= date '{day}' "
        f"and l_shipdate < date '{day + WINDOW}' group by n_name"
    )
    return Query("derived", sql, sql, "tpch_cube_seg")


def _derived(rng, ctx):
    return derived_query(_day(rng, ctx.months - 3))


def segment_query(lo: int, hi: int) -> Query:
    """Lines shipped in months [lo, hi), by return flag."""
    sql = (
        "select l_returnflag, sum(l_quantity) as sum_qty, count(*) as n "
        f"from lineitem where l_shipdate >= date '{month_start(lo)}' "
        f"and l_shipdate < date '{month_start(hi)}' group by l_returnflag"
    )
    return Query("segment", sql, sql, "tpch_cube_seg")


def _segment(rng, ctx):
    lo = rng.randrange(ctx.months - 3)
    return segment_query(lo, lo + 3)


def history_query() -> Query:
    """Whole-history totals by return flag and line status."""
    sql = (
        "select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty, "
        "avg(l_extendedprice) as avg_price, count(*) as n from lineitem "
        "group by l_returnflag, l_linestatus"
    )
    return Query("history", sql, sql, "tpch_cube_seg")


def _bitmap(rng, ctx):
    status, k = rng.choice(LINE_STATUS), rng.randrange(ctx.min_group_rows)
    sql = (
        "select l_returnflag, count(distinct l_partkey) as nd, count(*) as n "
        f"from lineitem where l_linestatus = '{status}' group by l_returnflag "
        f"having count(*) > {k}"
    )
    return Query("bitmap", sql, sql, "tpch_cube")


def _topn(rng, ctx):
    k = rng.randint(1, 50)
    sql = (
        "select l_suppkey, sum(l_quantity) as total_qty from lineitem "
        f"group by l_suppkey order by total_qty desc, l_suppkey limit {k}"
    )
    return Query("topn", sql, sql, "tpch_cube")


def _percentile(rng, ctx):
    p = rng.randint(1, 99) / 100
    status = rng.choice(LINE_STATUS)
    where = f"where l_linestatus = '{status}' group by l_returnflag"
    return Query(
        "percentile",
        f"select l_returnflag, percentile_approx(l_quantity, {p}) as pq "
        f"from lineitem {where}",
        f"select l_returnflag, quantile_disc(l_quantity, {p}) as pq "
        f"from lineitem {where}",
        "tpch_cube",
        within={"pq": HIST_BIN_WIDTH},
    )


_COHORTS = [
    c for r in (2, 3) for c in itertools.permutations(EVENT_TYPES, r)
]


def _intersect(rng, ctx):
    cohort = rng.choice(_COHORTS)
    arr = ", ".join(f"'{e}'" for e in cohort)
    single = f"'{cohort[0]}'"
    return Query(
        "intersect",
        f"select intersect_count(user_id, event_type, array({arr})) as both_users, "
        f"intersect_count(user_id, event_type, array({single})) as first_users "
        "from events",
        "select (select count(*) from (select user_id from events "
        f"where event_type in ({arr}) group by user_id "
        f"having count(distinct event_type) = {len(cohort)})) as both_users, "
        "(select count(distinct user_id) from events "
        f"where event_type = {single}) as first_users",
        "events_cube",
    )


#: routed (dashboard) template kinds, one per route kind the router has
ROUTED = {
    "exact": _exact,
    "reagg": _reagg,
    "snowflake": _snowflake,
    "derived": _derived,
    "segment": _segment,
    "bitmap": _bitmap,
    "topn": _topn,
    "percentile": _percentile,
    "intersect": _intersect,
}


def _pd_join(rng, ctx):
    price = rng.randrange(1000, 400_000)
    sql = (
        "select c_mktsegment, count(*) as n, sum(o_totalprice) as total "
        "from orders join customer on o_custkey = c_custkey "
        f"where o_totalprice > {price} group by c_mktsegment"
    )
    return Query("pd_join", sql, sql, None)


def _pd_window(rng, ctx):
    day, k = _day(rng, ctx.months - 3), rng.randint(1, 5)
    sql = (
        "select o_orderpriority, o_orderkey, rnk from ("
        "select o_orderpriority, o_orderkey, rank() over (partition by "
        "o_orderpriority order by o_totalprice desc, o_orderkey) as rnk "
        f"from orders where o_orderdate >= timestamp '{day}' "
        f"and o_orderdate < timestamp '{day + WINDOW}') t where rnk <= {k}"
    )
    return Query("pd_window", sql, sql, None)


def _pd_distinct(rng, ctx):
    disc, qty = rng.randrange(0, 11) / 100, rng.randint(1, 50)
    sql = (
        "select l_returnflag, count(distinct l_orderkey) as n_orders "
        f"from lineitem where l_discount >= {disc} and l_quantity <= {qty} "
        "group by l_returnflag"
    )
    return Query("pd_distinct", sql, sql, None)


#: ad-hoc SQL that no cube can answer: filters on non-dimension columns,
#: facts other than lineitem, windows and exact distincts of non-measures
PUSHDOWN = {
    "pd_join": _pd_join,
    "pd_window": _pd_window,
    "pd_distinct": _pd_distinct,
}


#: rounds of warm-up texts: the JVM is still compiling the query path's hot
#: code after one round
WARMUP_ROUNDS = 2


@dataclass
class Context:
    """What templates need to know about the generated data."""

    months: int
    #: a HAVING threshold below this keeps every group of the result
    min_group_rows: int


class QueryStream:
    """Seeded stream of texts in a fixed template mix.

    Each round draws every kind once, in a seeded order. With ``repeats``,
    a kind's text is fresh on even rounds and, on odd rounds, a repeat of
    one of that kind's earlier texts, so half the texts repeat whatever the
    seed; without, every text is fresh. Warm-up texts are drawn first and
    never appear in the measured stream; ``new_pass`` starts a stream whose
    repeats come only from texts drawn after it.
    """

    def __init__(self, kinds: dict, ctx: Context, rng: random.Random,
                 repeats: bool = True):
        self.kinds, self.ctx, self.rng, self.repeats = kinds, ctx, rng, repeats
        self.texts: set[str] = set()
        self.warmup = [self._fresh(k) for _ in range(WARMUP_ROUNDS) for k in kinds]
        self.new_pass()

    def new_pass(self) -> None:
        self.seen: dict[str, list[Query]] = {k: [] for k in self.kinds}
        self._round: list[str] = []
        self._n_round = -1

    def _fresh(self, kind: str) -> Query:
        for _ in range(200):
            q = self.kinds[kind](self.rng, self.ctx)
            if q.sql not in self.texts:
                self.texts.add(q.sql)
                return q
        raise RuntimeError(f"template {kind} ran out of fresh texts")

    def next(self) -> tuple[Query, bool]:
        """The next query and whether its text repeats an earlier one."""
        if not self._round:
            self._n_round += 1
            self._round = list(self.kinds)
            self.rng.shuffle(self._round)
        kind = self._round.pop()
        pool = self.seen[kind]
        if self.repeats and self._n_round % 2 and pool:
            return self.rng.choice(pool), True
        q = self._fresh(kind)
        pool.append(q)
        return q, False
