"""Property-based Query-compiler check: for random statement corpora and
random filters, the compiler's entity set must equal a direct Python
evaluation of the same semantics (the reference's dual-engine F11
guarantee, collapsed into one engine + this oracle)."""

import functools

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ftm_columnstore_spark.plans.compiler import compile_entities
from ftm_columnstore_spark.plans.query import Q
from ftm_columnstore_spark.sources.statements import statements_from_rows

DATASETS = ["d1", "d2"]
SCHEMAS = ["Company", "Person", "Payment"]
PROPS = {"name": "name", "amountEur": "number", "date": "date"}


#: numeric strings and strings no double cast parses, so the order key's
#: numeric-coercing rule and its nulls-last fallback both get exercised
VALUES = st.one_of(
    st.integers(1990, 2030).map(str),
    st.sampled_from(["acme", "Acme 2001", "beta", "x"]),
)
OPS = {
    "eq": lambda a, b: a == b,
    "not": lambda a, b: a != b,
    "gt": lambda a, b: a > b,
    "gte": lambda a, b: a >= b,
    "lt": lambda a, b: a < b,
    "lte": lambda a, b: a <= b,
}

statement_strategy = st.builds(
    lambda eid, ds, schema, prop, val: dict(
        id=f"{eid}-{prop}-{val}",
        entity_id=f"e{eid}",
        prop=prop,
        prop_type=PROPS[prop],
        schema=schema,
        value=val,
        dataset=ds,
        last_seen=None,
    ),
    st.integers(0, 8),
    st.sampled_from(DATASETS),
    st.sampled_from(SCHEMAS),
    st.sampled_from(list(PROPS)),
    VALUES,
)


def _num(value: str):
    """The compiler's ``try_cast('double')`` on the generated values."""
    try:
        return float(value)
    except ValueError:
        return None


def _cmp_nulls_last(a, b, ascending: bool) -> int:
    if a == b:
        return 0
    if a is None:
        return 1
    if b is None:
        return -1
    return (-1 if a < b else 1) * (1 if ascending else -1)


def py_eval(rows, dataset=None, schema=None, criteria=(), search=None, order=None):
    """Reference evaluation: entity matches if ALL criteria hold on its
    (dataset/schema-filtered) statements; each prop criterion needs one
    matching statement of that prop, the search one name-typed statement
    containing the term. With ``order`` = (prop, ascending, start, stop),
    the ids come back as a list: numeric key first (min ascending, max
    descending, over the values that parse), then the string key, nulls
    last in both directions, ties by id; then sliced."""
    by_entity: dict = {}
    for r in rows:
        by_entity.setdefault(r["entity_id"], []).append(r)
    out = {}
    for eid, stmts in by_entity.items():
        scoped = [
            s
            for s in stmts
            if (dataset is None or s["dataset"] == dataset)
            and (schema is None or s["schema"] == schema)
        ]
        if not scoped:
            continue
        if not all(
            any(s["prop"] == p and OPS[cmp](s["value"], str(val)) for s in scoped)
            for p, cmp, val in criteria
        ):
            continue
        if search is not None and not any(
            s["prop_type"] == "name" and search.lower() in s["value"].lower()
            for s in scoped
        ):
            continue
        out[eid] = scoped
    if order is None:
        return set(out)
    prop, ascending, start, stop = order
    pick = min if ascending else max
    keys = {}
    for eid, scoped in out.items():
        vals = [s["value"] for s in scoped if s["prop"] == prop]
        nums = [n for n in map(_num, vals) if n is not None]
        keys[eid] = (pick(nums) if nums else None, pick(vals) if vals else None)

    def cmp(a, b):
        return (
            _cmp_nulls_last(keys[a][0], keys[b][0], ascending)
            or _cmp_nulls_last(keys[a][1], keys[b][1], ascending)
            or _cmp_nulls_last(a, b, True)
        )

    return sorted(out, key=functools.cmp_to_key(cmp))[start:stop]


@settings(
    max_examples=int(__import__("os").environ.get("PARITY_MAX_EXAMPLES", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(statement_strategy, min_size=1, max_size=40),
    dataset=st.sampled_from([None, "d1", "d2"]),
    schema=st.sampled_from([None, "Payment", "Person"]),
    criteria=st.lists(
        st.tuples(
            st.sampled_from(list(PROPS)),
            st.sampled_from(list(OPS)),
            st.integers(1990, 2030),
        ),
        max_size=2,
    ),
    search=st.sampled_from([None, "acme", "20", "BETA"]),
    order=st.one_of(
        st.none(),
        st.tuples(
            st.sampled_from(list(PROPS)),
            st.booleans(),
            st.integers(0, 3),
            st.one_of(st.none(), st.integers(1, 4)),
        ),
    ),
)
def test_compiler_matches_python_eval(
    spark, rows, dataset, schema, criteria, search, order
):
    # dedup statement ids (content-hash semantics)
    uniq = {r["id"]: r for r in rows}.values()
    df = statements_from_rows(spark, uniq)
    q = Q()
    kwargs = {"criteria": criteria, "search": search}
    if dataset:
        q = q.where(dataset=dataset)
        kwargs["dataset"] = dataset
    if schema:
        q = q.where(schema=schema)
        kwargs["schema"] = schema
    for p, cmp, val in criteria:
        q = q.where(prop=p, value=val, comparator=cmp)
    if search is not None:
        q = q.search(search)
    if order is not None:
        prop, ascending, start, length = order
        stop = None if length is None else start + length
        q = q.order_by(prop, ascending=ascending)[start:stop]
        kwargs["order"] = (prop, ascending, start, stop)
    got = [r["id"] for r in compile_entities(df, q).collect()]
    expected = py_eval(list(uniq), **kwargs)
    assert (got if order else set(got)) == expected
