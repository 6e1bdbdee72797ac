"""TableIO.merge_into replayed against a pure-Python MERGE model: random
key sets with NULLs and duplicate source keys, both ``when_matched``
modes, each merge applied twice. Keys compare null-safely, as in SQL's
``<=>`` and in dropDuplicates."""

import itertools

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from ecokg_spark.io import TableIO

_S = dict(deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
SCHEMA = "subject string, predicate string, object string"
KEYS = ["subject", "predicate"]
_names = itertools.count()

_key = st.sampled_from(["a", "b", None])
_row = st.tuples(_key, _key, st.sampled_from(["x", "y", "z"]))


def _model(target, source, when_matched):
    """{key: values its merged row may carry}. The source keeps one row per
    key, any of its duplicates (dropDuplicates' survivor is arbitrary)."""
    out = {r[:2]: {r[2]} for r in target}
    offered = {}
    for r in source:
        offered.setdefault(r[:2], set()).add(r[2])
    for k, values in offered.items():
        if when_matched == "update" or k not in out:
            out[k] = values
    return out


def _check(rows, want):
    keys = [r[:2] for r in rows]
    assert sorted(keys, key=repr) == sorted(want, key=repr)  # one row per key
    for r in rows:
        assert r[2] in want[r[:2]], (r, want[r[:2]])


@settings(max_examples=10, **_S)
@given(st.lists(_row, max_size=6), st.lists(_row, min_size=1, max_size=8),
       st.sampled_from(["ignore", "update"]))
@example([(None, "a", "x")], [(None, "a", "y"), ("a", None, "z")], "ignore")
@example([(None, "a", "x")], [(None, "a", "y"), (None, None, "z")], "update")
def test_merge_into_matches_python_merge(spark, tmp_path, target, source,
                                         when_matched):
    io = TableIO(spark, warehouse=str(tmp_path / "wh"))
    name = f"kg.t{next(_names)}"
    target = list({r[:2]: r for r in target}.values())  # a table has unique keys
    if target:
        io.write(spark.createDataFrame(target, SCHEMA), name)
    want = _model(target, source, when_matched)
    for _ in range(2):  # a replayed merge changes nothing
        io.merge_into(spark.createDataFrame(source, SCHEMA), name, KEYS,
                      when_matched=when_matched)
        _check([tuple(r) for r in io.read(name).collect()], want)
