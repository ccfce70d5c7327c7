"""Seeded operation lists for the benchmark's workloads.

Everything here is pure Python: a workload seed becomes a list of SQL
texts or pipeline-slice descriptions, and the engine sees only those
generated inputs. No corpus query function is called.

Lists are built in *blocks*, and a run executes whole blocks only. A
dashboard block holds one query of every template and an ingest block is
one landed day, each in a seeded order. Every run therefore carries the
same mix of operations whatever the seed, which keeps the latency
quantiles and rates of two seeds comparable.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: Zipf exponent for the dashboard's choice among a template's variants:
#: popular variants repeat, so the route memo serves a share of queries
ZIPF_S = 1.2
#: variants (distinct texts) per dashboard template
VARIANTS = 6
#: ingest: days cubed at set-up, and the refresh steps that follow
INGEST_BASE_DAYS = 10
INGEST_STEPS = 19
#: ingest: documents per curation slice and queries per IVF top-k batch
CURATE_SLICE_DOCS = 100
IVF_BATCH = 16
#: ingest: distinct slice (and batch) starts per run; repeats let the
#: oracle check each distinct slice once
CURATE_STARTS = 2
#: ingest: distinct texts of each read template per landed day: with five
#: templates, 40 reads a step, so that the 90th percentile rests on several
#: reads of the slowest template rather than on one
READ_VARIANTS = 8

_YEARS = (1995, 1996, 1997, 1998, 1999, 2000)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_FLAGS = ("A", "N", "R")
_STATUS = ("F", "O")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_MEASURES = (
    "sum(l_quantity) as sum_qty",
    "sum(l_extendedprice) as sum_price",
    "avg(l_quantity) as avg_qty",
    "min(l_extendedprice) as min_price",
    "max(l_extendedprice) as max_price",
)
_STAR = (
    "from lineitem join orders on l_orderkey = o_orderkey "
    "join customer on o_custkey = c_custkey "
    "join nation on c_nationkey = n_nationkey "
    "join region on n_regionkey = r_regionkey"
)


@dataclass(frozen=True)
class Op:
    """One operation: ``kind`` selects how the runner executes it."""

    kind: str  # "sql" | "refresh" | "curate" | "ivf"
    template: str
    text: str = ""
    #: curate: first doc_id of the slice; ivf: first vec_id of the batch;
    #: refresh: the number of days the source is widened to
    arg: int = 0


# -- dashboard: routable SQL over tpch_cube, tpch_cube_seg and events_cube --


def _exact(r: random.Random) -> str:
    m = r.sample(_MEASURES[:2], 2)
    return (
        f"select l_returnflag, l_linestatus, {m[0]}, {m[1]}, count(*) as n "
        "from lineitem group by l_returnflag, l_linestatus"
    )


def _reagg(r: random.Random) -> str:
    return (
        f"select l_returnflag, {r.choice(_MEASURES)}, count(*) as n from lineitem "
        f"where l_linestatus = '{r.choice(_STATUS)}' group by l_returnflag"
    )


def _snowflake(r: random.Random) -> str:
    return (
        f"select n_name, {r.choice(_MEASURES)}, count(*) as n {_STAR} "
        f"where r_name = '{r.choice(_REGIONS)}' group by n_name"
    )


def _priority(r: random.Random) -> str:
    return (
        f"select o_orderpriority, {r.choice(_MEASURES)}, count(*) as n "
        "from lineitem join orders on l_orderkey = o_orderkey "
        f"where l_returnflag = '{r.choice(_FLAGS)}' group by o_orderpriority"
    )


def _segment_range(r: random.Random) -> str:
    y = r.choice(_YEARS)
    return (
        "select l_returnflag, sum(l_quantity) as sum_qty, count(*) as n from lineitem "
        f"where l_shipdate >= date '{y}-01-01' and l_shipdate < date '{y + 1}-01-01' "
        "group by l_returnflag"
    )


def _derived(r: random.Random) -> str:
    y = r.choice(_YEARS)
    return (
        "select n_name, sum(l_extendedprice) as sum_price, count(*) as n "
        "from lineitem join orders on l_orderkey = o_orderkey "
        "join customer on o_custkey = c_custkey "
        "join nation on c_nationkey = n_nationkey "
        f"where l_shipdate >= date '{y}-07-01' group by n_name"
    )


def _global(r: random.Random) -> str:
    return (
        f"select {r.choice(_MEASURES)}, count(*) as n from lineitem "
        f"where l_returnflag = '{r.choice(_FLAGS)}'"
    )


def _topn(r: random.Random) -> str:
    k = r.choice((5, 10, 15, 20, 25, 30))
    return (
        "select l_suppkey, sum(l_quantity) as total_qty from lineitem "
        f"group by l_suppkey order by total_qty desc, l_suppkey limit {k}"
    )


def _bitmap(r: random.Random) -> str:
    types = "', '".join(sorted(r.sample(_EVENT_TYPES, 3)))
    return (
        "select event_type, count(distinct user_id) as users, count(*) as n "
        f"from events where event_type in ('{types}') group by event_type"
    )


def _join_contexts(r: random.Random) -> str:
    return (
        "select a.l_returnflag, a.sum_qty, b.n_s from "
        "(select l_returnflag, sum(l_quantity) as sum_qty from lineitem "
        "group by l_returnflag) a join "
        "(select l_returnflag as rf2, count(*) as n_s from lineitem "
        f"where l_linestatus = '{r.choice(_STATUS)}' group by l_returnflag) b "
        "on a.l_returnflag = b.rf2"
    )


def _union_contexts(r: random.Random) -> str:
    m = r.choice(("sum(l_quantity)", "sum(l_extendedprice)", "count(*)"))
    return (
        f"select l_returnflag as k, {m} as v from lineitem group by l_returnflag "
        f"union all select l_linestatus as k, {m} as v from lineitem "
        "group by l_linestatus"
    )


DASHBOARD_TEMPLATES = {
    "exact": _exact,
    "reagg": _reagg,
    "snowflake": _snowflake,
    "priority": _priority,
    "segment_range": _segment_range,
    "derived_dim": _derived,
    "global": _global,
    "topn": _topn,
    "bitmap_distinct": _bitmap,
    "join_contexts": _join_contexts,
    "union_contexts": _union_contexts,
}


# -- ingest: routed reads after every refresh --------------------------------

INGEST_SOURCE = "events_ingest"


def _types(r: random.Random, k: int) -> str:
    return "', '".join(sorted(r.sample(_EVENT_TYPES, k)))


def _counts(r: random.Random) -> str:
    return (
        "select event_type, count(*) as n, sum(value) as sum_value "
        f"from {INGEST_SOURCE} where event_type in ('{_types(r, r.choice((3, 4)))}') "
        "group by event_type"
    )


def _distinct_users(r: random.Random) -> str:
    return (
        "select event_type, count(distinct user_id) as users "
        f"from {INGEST_SOURCE} where event_type in ('{_types(r, r.choice((3, 4)))}') "
        "group by event_type"
    )


def _avg_value(r: random.Random) -> str:
    return (
        "select event_type, avg(value) as avg_value, max(value) as max_value "
        f"from {INGEST_SOURCE} where event_type in ('{_types(r, r.choice((3, 4)))}') "
        "group by event_type"
    )


def _total(r: random.Random) -> str:
    return (
        "select count(*) as n, min(value) as min_value "
        f"from {INGEST_SOURCE} where event_type in ('{_types(r, r.choice((3, 4)))}')"
    )


def _type_filter(r: random.Random) -> str:
    return (
        "select sum(value) as sum_value, count(*) as n "
        f"from {INGEST_SOURCE} where event_type in ('{_types(r, 2)}')"
    )


#: the routed reads issued after each refresh, READ_VARIANTS distinct texts
#: of each per step, so that every read plans cold. Latency quantiles are
#: taken over the reads.
INGEST_READS = {
    "counts": _counts,
    "distinct_users": _distinct_users,
    "avg_value": _avg_value,
    "total": _total,
    "type_filter": _type_filter,
}


def zipf_ranks(template: str, n: int, n_ranks: int) -> list[int]:
    """The popularity rank each of a template's first ``n`` queries asks
    for: Zipf draws from a stream that depends on the template only. Which
    text holds each rank depends on the seed, so the seed varies the texts
    and their order but not when a text repeats, and every seed gets the
    same share of route-memo hits."""
    r = random.Random(f"zipf:{template}")
    weights = [1.0 / (i + 1) ** ZIPF_S for i in range(n_ranks)]
    return r.choices(range(n_ranks), weights=weights, k=n)


def dashboard_ops(seed: int, n_blocks: int) -> list[list[Op]]:
    """Blocks of one op per template; each op's text is a Zipf draw among
    the template's VARIANTS seeded texts."""
    r = random.Random(f"dashboard:{seed}")
    pool: dict[str, list[str]] = {}
    for name in sorted(DASHBOARD_TEMPLATES):
        texts: list[str] = []
        for _ in range(200):  # a template may have fewer distinct texts
            t = DASHBOARD_TEMPLATES[name](r)
            if t not in texts:
                texts.append(t)
            if len(texts) == VARIANTS:
                break
        pool[name] = texts
    ranks = {name: zipf_ranks(name, n_blocks, len(pool[name])) for name in pool}
    blocks = []
    for b in range(n_blocks):
        order = sorted(DASHBOARD_TEMPLATES)
        r.shuffle(order)
        blocks.append([Op("sql", name, pool[name][ranks[name][b]]) for name in order])
    return blocks


def ingest_ops(seed: int, n_docs: int, n_vecs: int) -> list[list[Op]]:
    """One block per landed day: the refresh, then in seeded order
    READ_VARIANTS distinct texts of every routed read, one curation slice
    and one IVF top-k batch."""
    r = random.Random(f"ingest:{seed}")
    slices = [r.randrange(0, n_docs - CURATE_SLICE_DOCS + 1) for _ in range(CURATE_STARTS)]
    batches = [r.randrange(0, n_vecs - IVF_BATCH + 1) for _ in range(CURATE_STARTS)]
    blocks = []
    for step in range(INGEST_STEPS):
        day = INGEST_BASE_DAYS + step + 1
        rest = []
        for name in sorted(INGEST_READS):
            texts: list[str] = []
            while len(texts) < READ_VARIANTS:
                t = INGEST_READS[name](r)
                if t not in texts:
                    texts.append(t)
            rest += [Op("sql", name, t) for t in texts]
        rest.append(Op("curate", "curate", arg=r.choice(slices)))
        rest.append(Op("ivf", "ivf_topk", arg=r.choice(batches)))
        r.shuffle(rest)
        blocks.append([Op("refresh", "refresh", arg=day)] + rest)
    return blocks


def warmup_texts(workload: str, seed: int) -> list[str]:
    """One query per template of the workload. The leading comment makes
    every text differ from all timed texts, so warm-up plans each shape
    without filling the route memo for a timed text."""
    r = random.Random(f"warmup:{seed}")
    templates = DASHBOARD_TEMPLATES if workload == "dashboard" else INGEST_READS
    return ["/* warm-up */ " + templates[name](r) for name in sorted(templates)]
