"""One numeric reading of a property value (store.num): every numeric
context reads a property string through it, so a value that does not
read as a number is NULL there and never fails the job, and every
string column sorts by that reading first. Each form of reading the
property is checked against a pure-Python model of the same rule."""

import math
import statistics

import pytest

from g4s_spark.cypher import CypherParseError
from g4s_spark.graph import PropertyGraph
from g4s_spark.plans import run_cypher

# n.x per N node: numeric strings with a tie, a non-numeric string and a
# missing key; n.s never reads as a number
XS = {1: "10.0", 2: "2.0", 3: "9.0", 4: "2.0", 5: "abc", 6: None}
# e.p per E edge (a props map): numbers, a non-numeric string, a missing key
PS = {(1, 2): "7.0", (2, 3): "x", (3, 4): None, (4, 5): "3.5"}


@pytest.fixture(scope="module")
def g(spark):
    nodes = spark.createDataFrame(
        [(i, "N", {"s": f"s{i}", **({} if x is None else {"x": x})}) for i, x in XS.items()],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(a, b, "E", 1.0, {} if p is None else {"p": p}) for (a, b), p in PS.items()],
        "src long, dst long, type string, weight double, props map<string,string>",
    )
    return PropertyGraph(nodes, edges, spark).cache()


def reading(v):
    """The model of num(): the value as a float, else None."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def nums(vals):
    return [r for r in map(reading, vals) if r is not None]


def pct_disc(vals, q):
    s = sorted(nums(vals))
    return s[max(1, math.ceil(q * len(s))) - 1]


# (item over the value {}, model over the raw values); count reads the
# raw value, every other aggregate its numeric reading
AGGS = [
    ("count({})", lambda vs: sum(v is not None for v in vs)),
    ("sum({})", lambda vs: sum(nums(vs))),
    ("avg({})", lambda vs: statistics.mean(nums(vs))),
    ("min({})", lambda vs: min(nums(vs))),
    ("max({})", lambda vs: max(nums(vs))),
    ("stdev({})", lambda vs: statistics.stdev(nums(vs))),
    ("percentileCont({}, 0.5)", lambda vs: statistics.median(nums(vs))),
    ("percentileDisc({}, 0.5)", lambda vs: pct_disc(vs, 0.5)),
]

# form -> (query over the items {}, the value they read, its raw
# values); every form takes every aggregate. A WITH stage is implicitly
# DISTINCT, so `WITH n.x AS x` aggregates the distinct values.
AGG_FORMS = {
    "prop": ("MATCH (n:N) RETURN {}", "n.x", list(XS.values())),
    "alias": ("MATCH (n:N) WITH n.x AS x RETURN {}", "x", list(dict.fromkeys(XS.values()))),
    "carry": ("MATCH (n:N) WITH n, n.x AS x RETURN {}", "x", list(XS.values())),
    "unwind": ("UNWIND [1] AS k MATCH (n:N) RETURN k, {}", "n.x", list(XS.values())),
    "edge": ("MATCH (a:N)-[e:E]->(b:N) RETURN {}", "e.p", list(PS.values())),
}


@pytest.mark.parametrize("form", AGG_FORMS)
def test_aggregates_read_the_numeric_value(g, form):
    query, v, vals = AGG_FORMS[form]
    items = ", ".join(f"{it.format(v)} AS a{j}" for j, (it, _) in enumerate(AGGS))
    (row,) = run_cypher(g, query.format(items)).collect()
    for j, (it, model) in enumerate(AGGS):
        assert row[f"a{j}"] == pytest.approx(model(vals)), it


# an ORDER BY reads every string value numeric-first: the non-numeric
# values after a NULL first, then by number (ASC; DESC reverses it)
def model_order(vals, desc):
    key = [(reading(v) is not None, reading(v) or 0.0, v is not None, v or "") for v in vals]
    out = [v for _, v in sorted(zip(key, vals), key=lambda kv: kv[0])]
    return out[::-1] if desc else out


ORDER_FORMS = {
    "prop": ("MATCH (n:N) RETURN n, n.x AS x ORDER BY n.x", list(XS.values())),
    "alias": ("MATCH (n:N) RETURN n.x AS x ORDER BY x", list(XS.values())),
    "carry": ("MATCH (n:N) WITH n, n.x AS x RETURN x ORDER BY x", list(XS.values())),
    "carry_alias": ("MATCH (n:N) WITH n.x AS x RETURN x ORDER BY x", list(dict.fromkeys(XS.values()))),
    "unwind": ("UNWIND [1] AS k MATCH (n:N) RETURN k, n.x AS x ORDER BY x", list(XS.values())),
    "coalesce": (
        "MATCH (n:N) RETURN coalesce(n.x, '-1') AS x ORDER BY x",
        [v if v is not None else "-1" for v in XS.values()],
    ),
    "string_fn": ("MATCH (n:N) RETURN trim(n.x) AS x ORDER BY x", list(XS.values())),
}


@pytest.mark.parametrize("desc", [False, True], ids=["asc", "desc"])
@pytest.mark.parametrize("form", ORDER_FORMS)
def test_string_columns_sort_numeric_first(g, form, desc):
    query, vals = ORDER_FORMS[form]
    got = [r.x for r in run_cypher(g, query + (" DESC" if desc else "") + " LIMIT 4").collect()]
    assert got == model_order(vals, desc)[:4]


WHERE_FORMS = {
    "prop": ("MATCH (n:N) WHERE n.x > 5 RETURN n", XS),
    "expr": ("MATCH (n:N) WHERE n.x * 2 > 10 RETURN n", XS),
    "alias": ("MATCH (n:N) WITH n.x AS x WHERE x > 5 RETURN x", {x: x for x in XS.values()}),
    "carry": ("MATCH (n:N) WITH n, n.x AS x WHERE x > 5 RETURN n", XS),
    "unwind": ("UNWIND [1] AS k MATCH (n:N) WHERE n.x > 5 RETURN k, n", XS),
    "edge": ("MATCH (a:N)-[e:E]->(b:N) WHERE e.p > 5 RETURN a, b", PS),
}


@pytest.mark.parametrize("form", WHERE_FORMS)
def test_numeric_where_reads_the_numeric_value(g, form):
    query, values = WHERE_FORMS[form]
    want = {k for k, v in values.items() if (reading(v) or 0.0) > 5}
    rows = run_cypher(g, query).collect()
    got = {r.x if form == "alias" else tuple(r)[-2:] if form == "edge" else r.n for r in rows}
    assert got == want


# a cross-binding OR compares each atom like a single-binding WHERE
# (store.atom_cmp): by the numeric reading, by id, through its function
CROSS = {
    "a.x > 5 OR b.x > 5": {k for k in PS if any((reading(XS[i]) or 0.0) > 5 for i in k)},
    "id(a) = 1 OR b.s = 'none'": {(1, 2)},
    "toUpper(a.s) = 'S2' OR b.s = 'none'": {(2, 3)},
}


@pytest.mark.parametrize("where", CROSS)
def test_cross_binding_or_compares_like_one_binding(g, where):
    rows = run_cypher(g, f"MATCH (a:N)-[e:E]->(b:N) WHERE {where} RETURN a, b").collect()
    assert {tuple(r) for r in rows} == CROSS[where]


@pytest.mark.parametrize("query", [
    "MATCH (n:N) RETURN min(n.s) AS lo, max(n.s) AS hi",
    "MATCH (n:N) WITH n, n.s AS s RETURN min(s) AS lo, max(s) AS hi",
])
def test_min_max_over_no_numeric_value_is_null(g, query):
    assert [tuple(r) for r in run_cypher(g, query).collect()] == [(None, None)]


def test_carried_count_min_max_are_doubles(g):
    (row,) = run_cypher(
        g, "MATCH (a:N)-[:E]->(b:N) WITH a, count(b) AS k "
        "RETURN min(k) AS lo, max(k) AS hi, sum(k) AS s"
    ).collect()
    assert tuple(row) == (1.0, 1.0, 4.0)
    assert all(isinstance(v, float) for v in row)


@pytest.mark.parametrize("query", [
    "MATCH (n:N) RETURN min(n.x) AS m, max(n.x) AS M",
    "MATCH (n:N) RETURN n.x AS m, n.s AS M",
    "MATCH (n:N) WITH n, n.x AS x RETURN min(x) AS m, max(x) AS M",
])
def test_aliases_differing_only_in_case_are_rejected(g, query):
    """Spark resolves column names case-insensitively, so the two
    columns would collide."""
    with pytest.raises(CypherParseError, match="output aliases 'm' and 'M' differ only in case"):
        run_cypher(g, query)
