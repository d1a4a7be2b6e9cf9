"""HTTP demo facade round-trip (reference web surface:
LuceneFacadeImpl.java routes + lucene-client.js request shapes)."""

from __future__ import annotations

import json
import threading
import urllib.request
from urllib.parse import quote

import pytest

from lucene_plugin_spark import LuceneFacade
from lucene_plugin_spark.web import make_server


@pytest.fixture()
def server(spark, tmp_path):
    fac = LuceneFacade(spark, str(tmp_path / "wh"))
    srv = make_server(fac)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _post(base, route, body):
    req = urllib.request.Request(
        base + route, data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def _get(base, route):
    with urllib.request.urlopen(base + route) as r:
        return r.status, json.loads(r.read())


def test_http_round_trip(server):
    st, ok = _post(server, "/lucene/index-text",
                   {"collection": "web", "id": "d1",
                    "text": "mary had a little lamb"})
    assert st == 200 and ok is True
    _post(server, "/lucene/index-text",
          {"collection": "web", "id": "d2", "text": "lamb stew recipe"})
    _post(server, "/lucene/index-map",
          {"collection": "web", "id": "d3", "map": {"lang": "en"}})

    st, hits = _get(server, "/lucene/search?collection=web&query="
                    + quote("lamb") + "&limit=10")
    assert st == 200
    assert {h["externalId"] for h in hits} == {"d1", "d2"}
    assert all(h["score"] > 0 for h in hits)

    st, hits = _get(server, "/lucene/search?collection=web&query="
                    + quote("lang:en") + "&limit=10")
    assert {h["externalId"] for h in hits} == {"d3"}

    # delete then clear
    _post(server, "/lucene/delete", {"collection": "web", "id": "d2"})
    st, hits = _get(server, "/lucene/search?collection=web&query=lamb&limit=10")
    assert {h["externalId"] for h in hits} == {"d1"}
    _post(server, "/lucene/clear", {"collection": "web"})
    st, hits = _get(server, "/lucene/search?collection=web&query=lamb&limit=10")
    assert hits == []


def test_http_validation_errors(server):
    # empty collection -> LuceneException analogue -> 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/lucene/search?collection=&query=x")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/lucene/index-text", {"collection": "", "id": "a",
                                             "text": "t"})
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/lucene/nope")
    assert e.value.code == 404


def test_http_module_routes(server):
    for i, text in enumerate(["spark sparkle spangle", "spark beats the rest",
                              "nothing relevant here"]):
        _post(server, "/lucene/index-text",
              {"collection": "web", "id": f"m{i}", "text": text})

    st, sug = _get(server, "/lucene/suggest?prefix=spa&limit=10")
    assert st == 200
    assert [s["term"] for s in sug] == ["spark", "spangle", "sparkle"]
    assert sug[0]["cf"] == 2

    st, fix = _get(server, "/lucene/spellcheck?terms=sprak,beatz")
    assert st == 200
    got = {f["qterm"]: f["suggestion"] for f in fix}
    assert got == {"sprak": "spark", "beatz": "beats"}

    st, hl = _get(server, "/lucene/highlight?collection=web&term=spark"
                  "&limit=10&window=30")
    assert st == 200
    assert {h["externalId"] for h in hl} == {"m0", "m1"}
    assert all("<em>spark</em>" in h["snippet"] for h in hl)

    # paging: offset walks the same ranking the plain search returns
    st, full = _get(server, "/lucene/search?collection=web&query=spark&limit=10")
    st, page = _get(server,
                    "/lucene/search?collection=web&query=spark&limit=1&offset=1")
    assert [h["externalId"] for h in page] == [full[1]["externalId"]]


def test_http_span_and_sort_routes(server):
    for i, text in enumerate(["alpha beta gamma", "beta alpha gamma",
                              "alpha x y z beta", "gamma only here"]):
        _post(server, "/lucene/index-text",
              {"collection": "web", "id": f"s{i}", "text": text})

    st, hits = _get(server, "/lucene/span-near?collection=web"
                    "&terms=alpha,beta&slop=1&inOrder=false&limit=10")
    assert st == 200
    assert {h["externalId"] for h in hits} == {"s0", "s1"}

    st, hits = _get(server, "/lucene/span-near?collection=web"
                    "&terms=alpha,beta&slop=1&inOrder=true&limit=10")
    assert {h["externalId"] for h in hits} == {"s0"}

    st, rows = _get(server, "/lucene/search-sorted?collection=web"
                    "&query=gamma&sortField=path&limit=10")
    assert st == 200
    assert [r["externalId"] for r in rows] == ["s0", "s1", "s3"]
    assert [r["sortKey"] for r in rows] == ["s0", "s1", "s3"]


def test_http_extended_boolean_routes(server):
    for i, text in enumerate(["alpha beta gamma", "alpha only text",
                              "beta gamma delta", "delta epsilon zeta"]):
        _post(server, "/lucene/index-text",
              {"collection": "web", "id": f"b{i}", "text": text})

    # minimumNumberShouldMatch=2 over 3 SHOULD terms
    st, hits = _get(server, "/lucene/search-min-match?collection=web"
                    "&query=" + quote("alpha beta gamma")
                    + "&minShouldMatch=2&limit=10")
    assert st == 200
    assert {h["externalId"] for h in hits} == {"b0", "b2"}

    # FILTER: must contain delta, scored only on beta
    st, hits = _get(server, "/lucene/search-filtered?collection=web"
                    "&query=beta&filter=delta&limit=10")
    assert st == 200
    assert {h["externalId"] for h in hits} == {"b2"}

    # DisMax over two disjuncts
    st, hits = _get(server, "/lucene/search-dismax?collection=web"
                    "&queries=" + quote("alpha,epsilon") + "&tie=0.1&limit=10")
    assert st == 200
    assert {h["externalId"] for h in hits} == {"b0", "b1", "b3"}

    # SynonymQuery via POST (JSON map payload)
    st, hits = _post(server, "/lucene/search-synonyms",
                     {"collection": "web", "query": "alpha",
                      "synonyms": {"alpha": ["delta"]}, "limit": 10})
    assert st == 200
    assert {h["externalId"] for h in hits} == {"b0", "b1", "b2", "b3"}
    assert all(h["score"] > 0 for h in hits)


def test_http_multi_field_route(server):
    _post(server, "/lucene/index-map",
          {"collection": "web", "id": "m0",
           "map": {"title": "alpha systems", "body": "beta gamma"}})
    _post(server, "/lucene/index-map",
          {"collection": "web", "id": "m1",
           "map": {"title": "beta release", "body": "alpha delta"}})

    st, hits = _get(server, "/lucene/search-multi-field?collection=web"
                    "&query=alpha&fields=title,body&limit=10")
    assert st == 200
    assert {h["externalId"] for h in hits} == {"m0", "m1"}

    # per-field boosts lift the title match above the body match
    st, hits = _get(server, "/lucene/search-multi-field?collection=web"
                    "&query=alpha&fields=title,body"
                    "&boosts=" + quote("title:5.0") + "&limit=10")
    assert st == 200
    assert hits[0]["externalId"] == "m0"
    assert hits[0]["score"] > hits[1]["score"]


def test_http_round4_query_routes(server):
    for i, t in [("a", "spark index merge dup"),
                 ("b", "spark table plan"),
                 ("c", "query cache line"),
                 ("d", "quick join of the query cache")]:
        _post(server, "/lucene/index-text",
              {"collection": "web", "id": i, "text": t})

    # phrase-prefix: "query ca*" -> 'query cache' docs
    st, hits = _get(server, "/lucene/search-phrase-prefix?collection=web"
                    "&terms=query&prefix=ca&limit=10")
    assert st == 200 and {h["externalId"] for h in hits} == {"c", "d"}

    # complex phrase: "qu* cache~1"
    st, hits = _get(server, "/lucene/search-complex-phrase?collection=web"
                    "&slots=" + quote("qu*,cache~1") + "&limit=10")
    assert st == 200 and {h["externalId"] for h in hits} == {"c", "d"}

    # common terms: 'dup' low-df must-match, 'spark' common add-only
    st, hits = _get(server, "/lucene/search-common-terms?collection=web"
                    "&terms=dup,spark&maxTermFrequency=0.3&limit=10")
    assert st == 200 and {h["externalId"] for h in hits} == {"a"}

    # boosting: spark matches demoted when they also contain 'table'
    st, hits = _get(server, "/lucene/search-boosting?collection=web"
                    "&query=spark&negativeQuery=table"
                    "&negativeBoost=0.5&limit=10")
    assert st == 200 and {h["externalId"] for h in hits} == {"a", "b"}
    assert hits[0]["externalId"] == "a"  # 'b' demoted below 'a'

    # join route needs a secondary field
    for i, m in [("x", {"cat": "red", "body": "spark merge"}),
                 ("y", {"cat": "red", "body": "plan"}),
                 ("z", {"cat": "blue", "body": "scan"})]:
        _post(server, "/lucene/index-map",
              {"collection": "web", "id": i, "map": m})
    st, hits = _get(server, "/lucene/search-join?collection=web"
                    "&fromQuery=" + quote("body:spark")
                    + "&fromField=cat&scoreMode=max&limit=10")
    assert st == 200 and {h["externalId"] for h in hits} == {"x", "y"}

    # span-containing / span-within: s1's (merge..join) span holds 'scan';
    # s2 has a (merge, join) span too, but its 'scan' sits outside it
    for i, t in [("s1", "merge fast scan join pipeline"),
                 ("s2", "merge join scan")]:
        _post(server, "/lucene/index-text",
              {"collection": "web", "id": i, "text": t})
    st, hits = _get(server, "/lucene/search-span-containing?collection=web"
                    "&big=merge,join&little=scan&slop=3&limit=10")
    assert st == 200 and {h["externalId"] for h in hits} == {"s1"}
    st, hits = _get(server, "/lucene/search-span-within?collection=web"
                    "&big=merge,join&little=scan&slop=3&limit=10")
    assert st == 200 and {h["externalId"] for h in hits} == {"s1"}

    # DFR I(n)L2: both-term docs outrank the single-term doc; scores
    # strictly descending and positive
    st, hits = _get(server, "/lucene/search-dfr?collection=web"
                    "&terms=merge,scan&c=1.0&limit=10")
    assert st == 200 and len(hits) == 3
    dscores = [h["score"] for h in hits]
    assert dscores == sorted(dscores, reverse=True) and dscores[-1] > 0
    assert {h["externalId"] for h in hits[:2]} == {"s1", "s2"}

    # IB LL-DF-H2: same shape as DFR — both-term docs on top
    st, hits = _get(server, "/lucene/search-ib?collection=web"
                    "&terms=merge,scan&c=1.0&limit=10")
    assert st == 200 and len(hits) == 3
    iscores = [h["score"] for h in hits]
    assert iscores == sorted(iscores, reverse=True) and iscores[-1] > 0
    assert {h["externalId"] for h in hits[:2]} == {"s1", "s2"}

    # LM similarities: s2 (both terms, shortest) > s1 (both terms) > a
    # (merge only) under both language models; scores strictly descending
    for sim, param in (("dirichlet", "50"), ("jm", "0.3")):
        st, hits = _get(server, "/lucene/search-lm?collection=web"
                        f"&terms=merge,scan&similarity={sim}"
                        f"&param={param}&limit=10")
        assert st == 200
        assert [h["externalId"] for h in hits] == ["s2", "s1", "a"]
        scores = [h["score"] for h in hits]
        assert scores == sorted(scores, reverse=True) and scores[-1] > 0
