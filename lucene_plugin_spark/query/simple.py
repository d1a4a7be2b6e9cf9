"""``SimpleQueryParser`` analogue (lucene queryparser ``simple`` package,
shipped in the 5.2 line the reference embeds — the reference instantiates
only the classic parser at LuceneIndexBean.java:727-735, but exposes the
whole queryparser module on its classpath).

Grammar and combine semantics replicated from
``org.apache.lucene.queryparser.simple.SimpleQueryParser``:

- operators: AND ``+``, OR ``|``, NOT ``-`` (prefix, toggling — ``--x``
  is ``x``), PHRASE ``"..."`` (with ``~N`` slop suffix), PREFIX (trailing
  unescaped ``*``), FUZZY (``term~N``), PRECEDENCE ``(...)``, ESCAPE
  ``\\``, WHITESPACE separates clauses (implicit ``default_operator``,
  SHOULD by default like Lucene);
- LENIENT — parsing never raises: a stray ``)`` is skipped, an
  unterminated group or phrase runs to end-of-query, a dangling trailing
  operator is dropped, a leading ``+``/``|`` with no left-hand operand is
  ignored, a token that analyzes to nothing (pure stopwords) vanishes;
- combine algorithm is ``buildQueryTree``: strictly LEFT-ASSOCIATIVE with
  NO precedence between ``+`` and ``|`` (``a | b + c`` is
  ``(a OR b) AND c``); a run of the same operator extends the current
  BooleanQuery, an operator change nests the accumulated tree as the
  first clause of a fresh one;
- negation compiles exactly like ``buildQueryTree``:
  ``BQ{SHOULD(MatchAllDocsQuery), MUST_NOT(x)}`` — so in ``a -b`` the
  negated branch still CONTRIBUTES (constant 1.0 for every doc lacking
  ``b``) instead of gating, and a pure ``-b`` query matches everything
  except ``b``;
- ``-`` only negates at clause start; inside a token (``foo-bar``) it is
  text, because ``tokenFinished`` does not break on ``-`` — the token is
  then handed to the analyzer like any other;
- trailing unescaped ``*`` is a prefix query (our sargable
  ``Wildcard``, ``StringStartsWith`` pushed to the term-sorted
  dictionary scan); ``*``/``?`` anywhere ELSE are literal text (unlike
  the classic parser) and fall to the analyzer;
- ``term~N`` is a FuzzyQuery with ``max_edits = min(N, 2)``
  (``LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE``); a bare ``~``
  defaults to 2; ``~0`` is the exact analyzed term.

Documented deviations: a query token the analyzer splits into several
sub-terms becomes a positional :class:`Phrase` (the same choice our
classic parser makes; Lucene's ``createBooleanQuery`` would OR them), and
fuzzy matching is classic Levenshtein, not Lucene's Damerau variant
(transpositions count as 2 edits) — both identical to the classic-parser
surface so the two parsers stay mutually consistent.

Execution: :func:`simple_query_search` rewrites bare leaves over a
``weights`` field map (the ``SimpleQueryParser(analyzer, weights)``
constructor shape, same rewrite as ``MultiFieldQueryParser``) and runs
``SearchEngine.search_node``.  The ``MatchAll`` leaf of the negation wrap
is one more per-slice kernel leaf (every doc of the slice, docIDs from
``docs_meta``), so every tree takes the engine's one route, driver fast
path included.
"""

from __future__ import annotations

import dataclasses
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

from lucene_plugin_spark.analysis.tokenizer import tokenize_text
from lucene_plugin_spark.query.plan import (DEFAULT_FIELD, Bool, MatchAll,
                                            Node, Phrase, Term, Wildcard)

#: chars that end a token (SimpleQueryParser.tokenFinished) — note the
#: deliberate ABSENCE of '-' (text inside a token) and '~' / '*'
#: (consumed as part of the token, interpreted as suffix operators after)
_TOKEN_END = set('"|+() \t\n\r')

_FUZZY_SUFFIX = re.compile(r"^(?P<body>.*?)(?<!\\)~(?P<n>\d*)$", re.S)
_SLOP_SUFFIX = re.compile(r"~(\d+)")


@dataclass
class _State:
    """``SimpleQueryParser.State``: the accumulated left-associative tree."""
    top: Node | None = None
    prev_op: str | None = None   # occur of the Bool `top` currently extends
    cur_op: str | None = None    # pending explicit +/| operator
    neg: int = 0                 # count of '-' seen before the next clause


def _unescape(s: str) -> str:
    return re.sub(r"\\(.)", r"\1", s, flags=re.S)


def _analyzed_leaf(field: str, raw: str, variant: str,
                   slop: int = 0) -> Node | None:
    """Analyze token/phrase text with the INDEX's analyzer chain; one
    sub-term -> Term, several -> positional Phrase, none -> dropped."""
    analyzed = tokenize_text(raw, variant=variant)
    if not analyzed:
        return None
    if len(analyzed) == 1:
        return Term(field=field, term=analyzed[0][0])
    base = analyzed[0][1]
    return Phrase(field=field, terms=tuple(t for t, _ in analyzed),
                  offsets=tuple(p - base for _, p in analyzed), slop=slop)


def _token_leaf(field: str, raw: str, variant: str) -> Node | None:
    """One raw token -> leaf: fuzzy suffix, then prefix suffix, else
    analyzed term/phrase.  A LONE ``*`` is ``MatchAllDocsQuery``, like
    SimpleQueryParser's special case (ES: "* returns all documents")."""
    if raw == "*":
        return MatchAll()
    fm = _FUZZY_SUFFIX.match(raw)
    if fm is not None:
        from lucene_plugin_spark.query.plan import Fuzzy
        body = _unescape(fm.group("body")).lower()
        if not body:
            return None
        n = int(fm.group("n")) if fm.group("n") else 2
        if n == 0:
            return _analyzed_leaf(field, body, variant)
        return Fuzzy(field=field, term=body, max_edits=min(n, 2))
    if raw.endswith("*") and not raw.endswith(r"\*"):
        body = _unescape(raw[:-1]).lower()
        if not body:
            return None
        # inner metacharacters are LITERAL text in this grammar — escape
        # them so the wildcard machinery treats only the tail '*' as glob
        body = re.sub(r"([*?])", r"\\\1", body)
        return Wildcard(field=field, pattern=body + "*")
    return _analyzed_leaf(field, _unescape(raw), variant)


def _build(state: _State, branch: Node | None, defop: str) -> None:
    """``SimpleQueryParser.buildQueryTree`` — left-associative combine."""
    if branch is None:              # lenient: vanished clause drops its '-'
        state.neg = 0
        return
    if state.neg % 2 == 1:
        branch = Bool(should=(MatchAll(),), must_not=(branch,))
    state.neg = 0
    if state.top is None:
        state.top = branch
        state.cur_op = None
        return
    op = state.cur_op or defop
    state.cur_op = None
    if op == state.prev_op and isinstance(state.top, Bool):
        # same-operator run extends the combine-created BooleanQuery
        if op == "must":
            state.top = dataclasses.replace(
                state.top, must=state.top.must + (branch,))
        else:
            state.top = dataclasses.replace(
                state.top, should=state.top.should + (branch,))
    else:
        if op == "must":
            state.top = Bool(must=(state.top, branch))
        else:
            state.top = Bool(should=(state.top, branch))
    state.prev_op = op


def parse_simple(q: str, default_field: str = DEFAULT_FIELD,
                 variant: str = "standard",
                 default_operator: str = "should") -> Node | None:
    """Parse ``q`` under the SimpleQueryParser grammar.  Never raises;
    returns ``None`` when nothing survives (empty / all-stopword query)."""
    if default_operator not in ("should", "must"):
        raise ValueError("default_operator must be 'should' or 'must'")
    node, _ = _parse_sub(q, 0, default_field, variant, default_operator,
                         depth=0)
    return node


def _parse_sub(q: str, i: int, field: str, variant: str, defop: str,
               depth: int) -> tuple[Node | None, int]:
    st = _State()
    n = len(q)
    while i < n:
        c = q[i]
        if c in " \t\n\r":
            i += 1
        elif c == "(":
            sub, i = _parse_sub(q, i + 1, field, variant, defop, depth + 1)
            _build(st, sub, defop)
        elif c == ")":
            i += 1
            if depth > 0:
                return st.top, i
            # lenient: stray close-paren at top level is skipped
        elif c == '"':
            branch, i = _consume_phrase(q, i + 1, field, variant)
            _build(st, branch, defop)
        elif c == "+":
            if st.top is not None and st.cur_op is None:
                st.cur_op = "must"
            i += 1                  # lenient: leading/duplicate + ignored
        elif c == "|":
            if st.top is not None and st.cur_op is None:
                st.cur_op = "should"
            i += 1
        elif c == "-":
            st.neg += 1
            i += 1
        else:
            raw, i = _consume_token(q, i)
            _build(st, _token_leaf(field, raw, variant), defop)
    return st.top, i


def _consume_token(q: str, i: int) -> tuple[str, int]:
    out = []
    n = len(q)
    while i < n:
        c = q[i]
        if c == "\\" and i + 1 < n:
            out.append(q[i:i + 2])
            i += 2
            continue
        if c in _TOKEN_END:
            break
        out.append(c)
        i += 1
    return "".join(out), i


def _consume_phrase(q: str, i: int, field: str,
                    variant: str) -> tuple[Node | None, int]:
    out = []
    n = len(q)
    while i < n:
        c = q[i]
        if c == "\\" and i + 1 < n:
            out.append(q[i + 1])
            i += 2
            continue
        if c == '"':
            i += 1
            break
        out.append(c)
        i += 1
    slop = 0
    m = _SLOP_SUFFIX.match(q, i)    # `"..."~N` — slop binds to the phrase
    if m is not None:
        slop = int(m.group(1))
        i = m.end()
    return _analyzed_leaf(field, "".join(out), variant, slop=slop), i


def simple_query_search(engine, repo: str | None, query: str,
                        weights: dict[str, float] | None = None,
                        default_operator: str = "should",
                        limit: int = 255) -> DataFrame:
    """Parse ``query`` with :func:`parse_simple` and execute it.

    ``weights`` is the ``SimpleQueryParser(analyzer, weights)`` field map:
    every bare leaf becomes a SHOULD-disjunction over the weighted fields
    (identical rewrite to ``MultiFieldQueryParser`` — each per-field copy
    scores against its own field statistics).  Omitted -> default field.
    """
    node = parse_simple(query, variant=engine.analyzer,
                        default_operator=default_operator)
    if node is None:
        return engine.spark.createDataFrame(
            [], "doc_id long, path string, score double")
    if weights:
        from lucene_plugin_spark.query.advanced import rewrite_multi_field
        node = rewrite_multi_field(node, list(weights), weights)
    return engine.search_node(node, repo, limit)
