"""Twenty-first batch of independent pure-Python cross-checks: alias
identity edges and the crawl-frontier composition (link-graph authority +
canonical anti-join + per-host md5 cap)."""

import hashlib
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_S = dict(deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])


# ---------------------------------------------------------------------------
# alias_identity_edges — curies sharing any surface form
# ---------------------------------------------------------------------------

_curie = st.sampled_from(["A:1", "B:2", "C:3", "D:4"])
_norm = st.sampled_from(["maize", "corn", "rice", "zea"])


@settings(max_examples=12, **_S)
@given(st.lists(st.tuples(_curie, _norm), min_size=1, max_size=12))
def test_alias_identity_edges_match_python_reference(spark, rows):
    from ecokg_spark.operators.linking import alias_identity_edges

    df = spark.createDataFrame(rows, "curie string, term_norm string")
    got = {(r["u"], r["v"]) for r in alias_identity_edges(df).collect()}
    by_term: dict[str, set] = {}
    for c, t in rows:
        by_term.setdefault(t, set()).add(c)
    exp = set()
    for cs in by_term.values():
        cl = sorted(cs)
        for i, a in enumerate(cl):
            for b in cl[i + 1:]:
                exp.add((a, b))
    assert got == exp


# ---------------------------------------------------------------------------
# crawl_frontier — authority rank + politeness cap composition
# ---------------------------------------------------------------------------

def test_crawl_frontier_matches_python_reference(spark):
    from ecokg_spark.operators.web import crawl_frontier

    pages = [
        ("http://a.com/1", '<a href="http://b.com/x">B</a>'
                           '<a href="http://b.com/y">B2</a>'
                           '<a href="/local">rel</a>'),
        ("http://a.com/2", '<a href="http://b.com/z">B</a>'),
        ("http://c.com/1", '<a href="//b.com/w">pb</a>'
                           '<a href="http://a.com/1">A</a>'),
    ]
    cands = [(u,) for u in [
        "http://b.com/new1", "http://b.com/new2", "http://b.com/new3",
        "http://a.com/1",            # already crawled -> excluded
        "http://a.com/fresh",
        "http://d.com/unknown",      # host with no authority -> 0
    ]]
    pdf = spark.createDataFrame(pages, "url string, html string")
    cdf = spark.createDataFrame(cands, "url string")
    per_host = 2
    got = {(r["url"]): (r["host"], r["authority"], r["rank"])
           for r in crawl_frontier(pdf, cdf, per_host=per_host).collect()}

    # authority = weighted in-degree: per (src,dst) edge, n_pages summed
    # a.com -> b.com from 2 pages (n_pages 2); a.com -> a.com (rel link,
    # 1 page); c.com -> b.com (1); c.com -> a.com (1)
    auth = {"b.com": 2 + 1, "a.com": 1 + 1}
    crawled = {"http://a.com/1", "http://a.com/2", "http://c.com/1"}
    exp = {}
    by_host: dict[str, list] = {}
    for (u,) in cands:
        if u in crawled:
            continue
        host = re.search("://([^/]+)", u).group(1)
        by_host.setdefault(host, []).append(u)
    for host, urls in by_host.items():
        urls.sort(key=lambda u: (hashlib.md5(u.encode()).hexdigest(), u))
        for rk, u in enumerate(urls[:per_host], start=1):
            exp[u] = (host, auth.get(host, 0), rk)
    assert got == exp
