"""Property-based tests (hypothesis) over the core pipeline.

The reference ships no tests, so these pin OUR invariants: total functions
(no crashes on arbitrary input), determinism, and structural contracts that
hold for every parsed statement.
"""

import string

from hypothesis import given, settings, strategies as st

from logtemplatecrawler_spark.core.detect import detect_page, page_framework
from logtemplatecrawler_spark.core.extract import extract_statements
from logtemplatecrawler_spark.core.filters import prefilter_keep, template_valid
from logtemplatecrawler_spark.core.formalize import (
    TOKEN_TYPES,
    formalize_template,
    segment_template,
)
from logtemplatecrawler_spark.core.parse import parse_statement
from logtemplatecrawler_spark.core.tokenize import lex

PLACEHOLDER_NAMES = {name for name, _ in TOKEN_TYPES}

ident = st.text(alphabet=string.ascii_letters, min_size=1, max_size=10)
literal = st.text(
    alphabet=string.ascii_letters + string.digits + " %d{}.:+-_",
    max_size=30,
)
arbitrary = st.text(max_size=200)


@st.composite
def log_statement(draw):
    """Random-but-plausible java log statement."""
    obj = draw(ident)
    method = draw(st.sampled_from(["info", "warn", "error", "debug", "trace"]))
    msg = draw(literal).replace('"', "")
    parts = [f'"{msg}"']
    for _ in range(draw(st.integers(0, 3))):
        kind = draw(st.sampled_from(["var", "num", "str", "concat"]))
        if kind == "var":
            parts.append(draw(ident))
        elif kind == "num":
            parts.append(str(draw(st.integers(0, 10 ** 6))))
        elif kind == "str":
            parts.append(f'"{draw(literal).replace(chr(34), "")}"')
        else:
            parts[-1] = parts[-1] + " + " + draw(ident)
    return f"{obj}.{method}({', '.join(parts)})"


@given(log_statement())
@settings(max_examples=300, deadline=None)
def test_parse_total_and_deterministic(stmt):
    a = parse_statement(stmt, "java", "slf4j")
    b = parse_statement(stmt, "java", "slf4j")
    assert a == b
    if a is not None:
        template, args = a
        assert isinstance(template, str) and template
        assert all(isinstance(x, str) for x in args)


@given(arbitrary)
@settings(max_examples=300, deadline=None)
def test_parse_never_crashes_on_garbage(s):
    for lang, fw in (("java", "slf4j"), ("java", "utillogger"), ("c", "unknown")):
        out = parse_statement(s, lang, fw)
        assert out is None or isinstance(out[0], str)


@given(arbitrary)
@settings(max_examples=300, deadline=None)
def test_extract_total(s):
    for lang in ("java", "c", "python", "csharp"):
        stmts = extract_statements(s, lang, "unknown")
        assert isinstance(stmts, list)
        # every raw statement is a substring of the input
        for raw in stmts:
            assert raw in s


@given(arbitrary)
@settings(max_examples=300, deadline=None)
def test_detect_and_filters_total(s):
    for lang in ("java", "c", "python", "csharp", "other"):
        hit, indicator = detect_page(s, lang)
        assert isinstance(hit, bool)
        assert page_framework(s, lang) in ("log4j", "slf4j", "utillogger", "unknown")
    assert isinstance(prefilter_keep(s), bool)
    assert isinstance(template_valid(s), bool)


@given(arbitrary)
@settings(max_examples=300, deadline=None)
def test_template_validity_is_always_true(s):
    """The reference's find_valid is provably a no-op (core/filters.py) —
    property-check the proof."""
    assert template_valid(s) is True


@given(arbitrary, st.lists(st.text(max_size=20), max_size=6))
@settings(max_examples=300, deadline=None)
def test_formalize_total_and_slots_resolved(template, args):
    out = formalize_template(template, args)
    if out is None:
        return
    segs = segment_template(template)
    assert segs.count("{}") == len(args)
    # formalized output never contains more bare slots than unmatched args
    bare = out.count("{}")
    assert bare <= len(args)


@given(arbitrary)
@settings(max_examples=300, deadline=None)
def test_tokenizer_consumes_all_or_raises(s):
    """``lex`` tokens never invent characters: each token's text occurs in
    the input after the previous token's, so the texts (quotes stripped)
    never exceed the input length.

    The reference lexer's ``croak`` ValueError on an unhandled character
    (strstream.py:18-19) is unreachable: the var class is the complement of
    punc+op, so every non-whitespace char starts some token and ``lex``
    never raises.
    """
    pos = 0
    for _kind, text in lex(s):
        found = s.find(text, pos)
        assert found >= 0
        pos = found + len(text)
