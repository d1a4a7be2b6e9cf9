"""Query parser coverage (SURVEY.md §2.4 Q1, Q13)."""

import pytest

from lucene_plugin_spark.query.parser import (QueryParseError, parse_query,
                                              sanitize_collection)
from lucene_plugin_spark.query.plan import (Bool, Fuzzy, MatchAll, Phrase,
                                            Range, Term, Wildcard)


def test_bare_term():
    assert parse_query("lamb") == Term("text", "lamb")


def test_implicit_or():
    n = parse_query("mary lamb")
    assert isinstance(n, Bool)
    assert n.should == (Term("text", "mary"), Term("text", "lamb"))


def test_and():
    n = parse_query("mary AND lamb")
    assert n.must == (Term("text", "mary"), Term("text", "lamb"))


def test_plus_minus():
    n = parse_query("+mary -dog lamb")
    assert n.must == (Term("text", "mary"),)
    assert n.must_not == (Term("text", "dog"),)
    assert n.should == (Term("text", "lamb"),)


def test_not_keyword():
    n = parse_query("mary NOT dog")
    assert n.must_not == (Term("text", "dog"),)


def test_field_qualified():
    assert parse_query("foo:lamb") == Term("foo", "lamb")


def test_field_range_inclusive():
    assert parse_query("age:[23 TO 23]") == Range("age", "23", "23")


def test_phrase_positions():
    n = parse_query('"mary little"')
    assert isinstance(n, Bool) or isinstance(n, Phrase)


def test_phrase_stopword_gap():
    # "had a little": 'a' drops, offsets keep the gap
    n = parse_query('"had a little"')
    assert isinstance(n, Phrase)
    assert n.terms == ("had", "little")
    assert n.offsets == (0, 2)


def test_camel_query_token_becomes_phrase():
    n = parse_query("getUserName")
    assert isinstance(n, Phrase)
    assert n.terms == ("get", "user", "name")
    assert n.offsets == (0, 1, 2)


def test_grouping():
    n = parse_query("(merge OR block) AND stream")
    assert isinstance(n, Bool)
    assert len(n.must) == 2


def test_stopword_only_is_empty_bool():
    n = parse_query("the")
    assert isinstance(n, Bool)
    assert n.should == () and n.must == () and n.must_not == ()


def test_empty_query_raises():
    with pytest.raises(QueryParseError):
        parse_query("   ")


def test_wildcard_and_prefix():
    assert parse_query("te*t") == Wildcard("text", "te*t")
    assert parse_query("Quer?") == Wildcard("text", "quer?")  # lowercased, unanalyzed
    assert parse_query("name:wid*") == Wildcard("name", "wid*")


def test_fuzzy():
    assert parse_query("roam~") == Fuzzy("text", "roam", max_edits=2)
    assert parse_query("roam~1") == Fuzzy("text", "roam", max_edits=1)
    assert parse_query("lang:EN~0") == Fuzzy("lang", "en", max_edits=0)


def test_boost_forms():
    assert parse_query("lamb^2") == Term("text", "lamb", boost=2.0)
    assert parse_query('"mary lamb"^3') == Phrase(
        "text", ("mary", "lamb"), (0, 1), boost=3.0)
    assert parse_query("[a TO c]^0.5") == Range("text", "a", "c", boost=0.5)
    assert parse_query("te*t^2") == Wildcard("text", "te*t", boost=2.0)
    assert parse_query("roam~1^4") == Fuzzy("text", "roam", max_edits=1, boost=4.0)
    # boost on a camelCase token rides on the resulting phrase
    n = parse_query("getUserName^2")
    assert isinstance(n, Phrase) and n.boost == 2.0


def test_match_all_in_any_clause():
    # QueryParserBase.getWildcardQuery: field '*' + term '*' is
    # MatchAllDocsQuery wherever the clause stands, not only alone
    x = Term("text", "x")
    assert parse_query("*:*") == MatchAll()
    assert parse_query("*:* -x") == Bool(should=(MatchAll(),), must_not=(x,))
    assert parse_query("+*:* -x") == Bool(must=(MatchAll(),), must_not=(x,))
    assert parse_query("(*:*) -x") == Bool(should=(MatchAll(),),
                                           must_not=(x,))
    assert parse_query("*:*^2") == MatchAll(boost=2.0)
    # a field wildcard is still a wildcard
    assert parse_query("text:*") == Wildcard("text", "*")


def test_sanitize_collection():
    # mirrors LuceneIndexBean.escapeSpecialCharacters (":553-586)
    assert sanitize_collection('fo+o-b!ar(){}[]^"~*?:\\x') == "foobarx"
    assert sanitize_collection("a&&b||c") == "abc"


def test_phrase_slop():
    n = parse_query('"index query"~2')
    assert isinstance(n, Phrase) and n.slop == 2 and n.boost == 1.0
    # slop then boost, classic order: "..."~n^b
    n = parse_query('"index query"~1^3')
    assert n.slop == 1 and n.boost == 3.0
    # slop=0 is the exact phrase
    assert parse_query('"index query"~0') == parse_query('"index query"')


def test_range_exclusive_and_mixed():
    assert parse_query("{se TO st}") == Range(
        "text", "se", "st", include_lo=False, include_hi=False)
    assert parse_query("[se TO st}") == Range(
        "text", "se", "st", include_lo=True, include_hi=False)
    assert parse_query("{se TO st]") == Range(
        "text", "se", "st", include_lo=False, include_hi=True)
    assert parse_query("lang:{a TO b}^2") == Range(
        "lang", "a", "b", include_lo=False, include_hi=False, boost=2.0)


def test_escapes():
    # escaped specials join the word and analyze away like punctuation
    n = parse_query(r"foo\-bar")
    assert isinstance(n, Phrase) and n.terms == ("foo", "bar")
    # escaped colon is not a field separator
    n = parse_query(r"path\:name")
    assert isinstance(n, Phrase) and n.terms == ("path", "name")
    # escaped wildcard chars are literals (analyzed away), unescaped stay
    n = parse_query(r"te\*t*")
    assert isinstance(n, Wildcard) and n.pattern == r"te\*t*"
    from lucene_plugin_spark.query.expand import wildcard_regex
    import re
    rx = wildcard_regex(n.pattern)
    assert re.match(rx, "te*tx") and not re.match(rx, "teXtx")


def test_operator_aliases():
    # classic-parser && / || / ! are AND / OR / NOT
    assert parse_query("merge && stream") == parse_query("merge AND stream")
    assert parse_query("merge || stream") == parse_query("merge OR stream")
    assert parse_query("merge !commit") == parse_query("merge NOT commit")
    assert parse_query("(merge || block) && stream") == \
        parse_query("(merge OR block) AND stream")


def test_regexp():
    from lucene_plugin_spark.query.plan import Regexp
    assert parse_query("/ta.le/") == Regexp("text", "ta.le")
    assert parse_query("/qu(er|ir)y/^2") == Regexp("text", "qu(er|ir)y", boost=2.0)
    assert parse_query("lang:/p[xy]/") == Regexp("lang", "p[xy]")
    # lowercaseExpandedTerms applies to regexps too
    assert parse_query("/TA.LE/") == Regexp("text", "ta.le")
    # a slash inside a word is NOT a regexp delimiter
    n = parse_query("foo/bar")
    assert isinstance(n, (Phrase,)) and n.terms == ("foo", "bar")


def test_regexp_prefix_soundness():
    """The sargable StringStartsWith prefix pushed for a regexp leaf must
    be implied by EVERY match (ADVICE r2: /segments?/ dropped 'segment',
    /a|b/ dropped 'b', /ab*c/ dropped 'ac')."""
    from lucene_plugin_spark.query.expand import regexp_prefix
    # zero-min quantifier after the prefix's last literal: trim it
    assert regexp_prefix("segments?") == "segment"
    assert regexp_prefix("ab*c") == "a"
    assert regexp_prefix("ab{0,2}c") == "a"
    # top-level alternation: no sound prefix at all
    assert regexp_prefix("a|b") == ""
    assert regexp_prefix("ab(c)|d") == ""
    # grouped alternation after the prefix is fine
    assert regexp_prefix("qu(er|ir)y") == "qu"
    # one-or-more keeps the preceding literal (every match has it)
    assert regexp_prefix("ab+c") == "ab"
    # plain metachar stops the prefix without trimming
    assert regexp_prefix("ta.le") == "ta"
    assert regexp_prefix("p[xy]") == "p"
    # escapes stop the prefix conservatively (shorter prefix is sound)
    assert regexp_prefix(r"ab\.c") == "ab"
    # pure literal: whole pattern is the prefix
    assert regexp_prefix("table") == "table"


def test_wildcard_prefix_unescapes():
    """te\\*t* must push startswith('te*t'), not startswith('te\\')
    (which excludes every term) — ADVICE r2."""
    from lucene_plugin_spark.query.expand import (wildcard_prefix,
                                                  wildcard_regex)
    import re
    assert wildcard_prefix(r"te\*t*") == "te*t"
    assert wildcard_prefix("te?t*") == "te"
    assert wildcard_prefix(r"\?x*") == "?x"
    assert wildcard_prefix("query*") == "query"
    # prefix must agree with the full wildcard regex on every match
    for pat, terms in [(r"te\*t*", ["te*t", "te*tx", "tet"]),
                       ("se?ment*", ["segment", "sediment", "segments"])]:
        rx = wildcard_regex(pat)
        pfx = wildcard_prefix(pat)
        for t in terms:
            if re.match(rx, t):
                assert t.startswith(pfx), (pat, t, pfx)


def test_field_unescape_word_path():
    """Escaped chars in field names resolve identically on the word and
    regexp paths (ADVICE r2)."""
    from lucene_plugin_spark.query.plan import Regexp
    w = parse_query(r"fo\-o:xray")
    assert getattr(w, "field", None) == "fo-o", w
    r = parse_query(r"fo\-o:/xray/")
    assert r == Regexp("fo-o", "xray")


def test_trailing_whitespace_lexes():
    assert parse_query("table ") == parse_query("table")
    assert parse_query("  a b  ") == parse_query("a b")


def test_prefix_pushdown_property():
    """Property: for random wildcard/regexp patterns, every term the full
    (anchored) pattern matches must start with the computed pushdown
    prefix — the pushdown may only ever shrink the candidate set from
    above, never drop a true match."""
    import itertools
    import re as _re
    from lucene_plugin_spark.query.expand import (regexp_prefix,
                                                  wildcard_prefix,
                                                  wildcard_regex)
    alphabet = "abc"
    terms = ["".join(t) for n in range(0, 5)
             for t in itertools.product(alphabet, repeat=n)]
    import random
    rng = random.Random(99)
    wild_chars = list("abc*?") + ["\\*", "\\?"]
    reg_chars = list("abc") + ["a?", "b*", "c+", "(a|b)", "a|b", ".", "[ab]"]
    for _ in range(300):
        wp = "".join(rng.choice(wild_chars) for _ in range(rng.randint(1, 5)))
        rx = wildcard_regex(wp)
        pfx = wildcard_prefix(wp)
        for t in terms:
            if _re.match(rx, t):
                assert t.startswith(pfx), (wp, t, pfx)
    for _ in range(300):
        rp = "".join(rng.choice(reg_chars) for _ in range(rng.randint(1, 4)))
        try:
            creg = _re.compile(rp)
        except _re.error:
            continue
        pfx = regexp_prefix(rp)
        for t in terms:
            if creg.fullmatch(t):
                assert t.startswith(pfx), (rp, t, pfx)
