"""Differential tests: the core's regex/``rfind`` hot paths ≡ the pinned
per-character reference in ``tests/reference_core.py``.

Each property feeds the same input to the package function and to its
reference twin and asserts identical results — exceptions included, since
the callers turn specific exception types into dropped rows.
"""

import pytest
from hypothesis import example, given, settings, strategies as st

from logtemplatecrawler_spark.core.detect import page_framework
from logtemplatecrawler_spark.core.extract import (
    TRIGGERS,
    extract_statements,
    statement_begin,
)
from logtemplatecrawler_spark.core.formalize import segment_template
from logtemplatecrawler_spark.core.parse import _count_call_args, parse_statement
from logtemplatecrawler_spark.core.tokenize import lex
from logtemplatecrawler_spark.sources.fixtures import generate_pages
from tests import reference_core as ref

LANG_FRAMEWORKS = (("java", "slf4j"), ("java", "utillogger"), ("c", "unknown"))

# Structural chars of every stage, plus non-ASCII whitespace (NBSP, em
# space, ideographic space, the \x1c-\x1f separators) and non-ASCII digits
# (Arabic-Indic, fullwidth, Thai), which the char-class tests must classify
# exactly as the reference's regexes do.
_SPECIAL = (
    ' \t\n\r\x0b\x0c\x1c\x1f\x85\xa0 　'
    '٣７๓019'
    ';,.(){}[]+*|^/%=&-<>!"@:\\#'
    'abxyz'
)
_FRAGMENTS = (
    "log.info(", "LOG.debug(", "logger.log(", "String.format(", "printf(",
    "printk(", "fprintf(", "av_log(", "g_log(", '"%d x {} %s"', '"msg"',
    " + ", ", ", ")", "(", "x", "a.b", "12", "-", "!", "++", "{key}", "{}",
)

text = st.one_of(st.text(max_size=120), st.text(alphabet=_SPECIAL, max_size=120))
statement = st.one_of(
    text,
    st.lists(st.sampled_from(_FRAGMENTS), max_size=14).map("".join),
)


def _outcome(fn, *args):
    try:
        return fn(*args)
    except Exception as exc:  # noqa: BLE001 — the exception type IS the outcome
        return type(exc)


# -- lexer / parser -----------------------------------------------------------

@given(text)
@settings(max_examples=500, deadline=None)
@example("a( 　")
@example('x "unclosed ٣')
def test_lex_matches_pull_lexer(s):
    assert lex(s) == ref.stream_tokens(s)


@given(statement)
@settings(max_examples=500, deadline=None)
@example('log.info("a" +')
@example('printk("m", x)')
def test_parse_matches_reference(s):
    for lang, fw in LANG_FRAMEWORKS:
        assert parse_statement(s, lang, fw) == ref.parse_statement(s, lang, fw)


@given(statement)
@settings(max_examples=300, deadline=None)
def test_count_call_args_matches_reference(s):
    assert (_outcome(_count_call_args, lex(s))
            == _outcome(ref._count_call_args, ref.TokenStream(s)))


# -- extract ------------------------------------------------------------------

@given(text)
@settings(max_examples=300, deadline=None)
def test_statement_begin_matches_reference_at_every_index(s):
    for index in range(len(s) + 1):
        assert (_outcome(statement_begin, s, index)
                == _outcome(ref.statement_begin, s, index)), index


_BOUNDARY_TEXTS = (";", "{", "}", "@", ":", "*/", "//", "->")


@pytest.mark.parametrize("boundary", _BOUNDARY_TEXTS)
@pytest.mark.parametrize("distance", [126, 127, 128, 129, 130, 300])
@given(filler=st.text(alphabet="ab \t\n\xa0", min_size=300, max_size=300),
       farther=st.sampled_from(("", ";", "{\n", "*/ ", "x")))
@settings(max_examples=25, deadline=None)
def test_statement_begin_window_edges(boundary, distance, filler, farther):
    """The boundary's last char sits exactly ``distance`` chars before the
    trigger's match end: 128 is the last position inside the rfind window,
    129 needs the whole-prefix fallback (which must still find the nearest
    boundary when ``farther`` holds another one)."""
    trigger = "log.info("
    gap = distance - 1 - len(trigger)
    body = filler[:gap] if gap >= 0 else ""
    data = "pre" + farther + filler[:40] + boundary + body + trigger + 'x);\n'
    index = data.index(trigger) + len(trigger)
    if gap >= 0:
        assert index - distance == data.index(trigger) - len(body) - 1
    for at in (index, index - 1):
        assert _outcome(statement_begin, data, at) == _outcome(ref.statement_begin, data, at)
    got = extract_statements(data, "java", "log4j")
    want = []
    try:  # extract_statements keeps the statements before a failing one
        for m in TRIGGERS["log4j"].finditer(data):
            begin = ref.statement_begin(data, m.end())
            end = data.find(";", begin)
            want.append(data[begin:end] if end >= 0 else data[begin:])
    except (ValueError, IndexError):
        pass
    assert got == want


# -- formalize ----------------------------------------------------------------

@given(st.one_of(text, st.text(alphabet="ab {}\n", max_size=60)))
@settings(max_examples=500, deadline=None)
@example("ab{cd")
@example("{a{b}c{}")
def test_segment_template_matches_reference(s):
    assert segment_template(s) == ref.segment_template(s)


# -- page corpora -------------------------------------------------------------

@pytest.mark.parametrize("seed,density", [
    (42, {}),
    (7, {"methods": (8, 16), "stmts": (3, 6)}),
])
def test_fixture_corpus_matches_reference(seed, density):
    """Every trigger match, statement and template of a fixture corpus."""
    n_stmts = 0
    for page in generate_pages(120, seed=seed, **density):
        data, lang = page["text"], page["lang"]
        framework = page_framework(data, lang)
        for trigger in set(TRIGGERS.values()):
            for m in trigger.finditer(data):
                assert (_outcome(statement_begin, data, m.end())
                        == _outcome(ref.statement_begin, data, m.end()))
        for raw in extract_statements(data, lang, framework):
            n_stmts += 1
            raw = raw.strip() if lang == "c" else raw
            assert lex(raw) == ref.stream_tokens(raw)
            parsed = parse_statement(raw, lang, framework)
            assert parsed == ref.parse_statement(raw, lang, framework)
            if parsed is not None:
                assert segment_template(parsed[0]) == ref.segment_template(parsed[0])
    assert n_stmts > 200
