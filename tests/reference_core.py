"""Pinned per-character reference for the core hot paths (test-only).

These are the engine's original character-by-character re-expressions of
the reference algorithms, kept as they were (the lexer classifies chars with
its regexes directly, without the ASCII lookup tables that were derived from
them) so the differential tests in ``tests/test_core_differential.py`` can
assert that the package's regex/``rfind``-based versions are byte-identical
on arbitrary input.  Helpers the rewrite left unchanged (role tables,
``_trim_roles``, ``_skip_past_line``…) are imported from the package.

Pinned here:

* ``TokenStream`` — pull lexer with one-token lookahead
  (logparser/javatokenizer.py:7-96, logparser/strstream.py:1-19);
* ``parse_statement`` and its walkers over that stream
  (logparser/java.py:247-257, :268-341, :384-432, :442-474);
* ``statement_begin`` — the backwards walk of ``_begin_of_line``
  (logextractor/java/log4j.py:58-92);
* ``segment_template`` — the bounded cursor loop of ``_parse_string``
  (formalizer.py:68-98).

Nothing in the package imports this module; it is the spec the package
is checked against, not a second code path.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from logtemplatecrawler_spark.core.extract import _skip_past_line
from logtemplatecrawler_spark.core.parse import (
    C_FUNCS,
    FRAMEWORK_FUNCS,
    PRINTF_SPEC_RE,
    SLF4J_FUNCS,
    _PARSEABLE_STYLES,
    _flatten,
    _lookup_func,
    _trim_roles,
)
from logtemplatecrawler_spark.core.tokenize import is_unary_op

# -- lexer ------------------------------------------------------------------

_WS_RE = re.compile(r"\s")
_OP_RE = re.compile(r"[+*|^/%=\&\-<>!]")
_PUNC_RE = re.compile(r"[;,.(){}[\]]")
_VAR_RE = re.compile(r"[^.+*|^/%=\&\-<>!;,(){}[\]]")
_DIGIT_RE = re.compile(r"\d")


def _is(pattern: re.Pattern):
    return lambda ch: bool(pattern.search(ch))


_is_ws = _is(_WS_RE)
_is_op = _is(_OP_RE)
_is_punc = _is(_PUNC_RE)
_is_var = _is(_VAR_RE)
_is_digit = _is(_DIGIT_RE)

Token = Tuple[str, str]


class TokenStream:
    """Pull lexer with one-token lookahead over a raw statement string."""

    def __init__(self, source: str):
        self.source = source
        self.char_pos = 0
        self._pending: Optional[Token] = None

    def _char_eof(self) -> bool:
        return self.char_pos >= len(self.source)

    def _take_while(self, check) -> str:
        start = self.char_pos
        while self.char_pos < len(self.source) and check(self.source[self.char_pos]):
            self.char_pos += 1
        return self.source[start:self.char_pos]

    def _take_string_literal(self) -> str:
        self.char_pos += 1
        s = self.source
        end = s.find('"', self.char_pos)
        if end < 0:
            body = s[self.char_pos:]
            self.char_pos = len(s)
            return body
        body = s[self.char_pos:end]
        self.char_pos = end + 1
        return body

    def _lex(self) -> Optional[Token]:
        self._take_while(_is_ws)
        if self._char_eof():
            return None
        ch = self.source[self.char_pos]
        if ch == '"':
            return "str", self._take_string_literal()
        if _is_punc(ch):
            self.char_pos += 1
            return "punc", ch
        if _is_op(ch):
            return "op", self._take_while(_is_op)
        if _is_digit(ch):
            return "num", self._take_while(_is_digit)
        if _is_var(ch):
            return "var", self._take_while(_is_var)
        raise ValueError(f"Can't handle character {ch} [offset {self.char_pos}]")

    def peek(self) -> Optional[Token]:
        if not self._pending:
            self._pending = self._lex()
        return self._pending

    def next(self) -> Optional[Token]:
        tok = self._pending
        self._pending = None
        return tok or self._lex()

    def eof(self) -> bool:
        return self.peek() is None


def stream_tokens(source: str) -> List[Token]:
    """Every token of ``source`` through the pull lexer."""
    stream = TokenStream(source)
    toks = []
    while not stream.eof():
        toks.append(stream.next())
    return toks


# -- parser -----------------------------------------------------------------

def rewrite_printf_specs(s: str) -> str:
    if PRINTF_SPEC_RE.search(s):
        return PRINTF_SPEC_RE.sub("{}", s)
    return s


def _count_call_args(lexer: TokenStream) -> int:
    prev: Optional[Tuple[str, str]] = None
    while not lexer.eof():
        kind, tok = lexer.peek()
        if kind == "punc" and tok == "(":
            prev = (kind, tok)
            lexer.next()
            break
        lexer.next()
    if lexer.eof():
        raise ValueError("Does not contain a function call")

    depth: List[str] = []
    count = 1
    while not lexer.eof():
        kind, tok = lexer.peek()
        if kind == "punc" and tok == ")" and not depth:
            if prev == ("punc", "("):
                return 0
            return count
        elif kind == "punc" and tok == "(":
            depth.append(tok)
        elif kind == "punc" and tok == ")":
            depth.pop()
        elif kind == "punc" and tok == "," and not depth:
            count += 1
        prev = (kind, tok)
        lexer.next()
    return count


def _parse_format_call(lexer: TokenStream, roles, funcs: dict):
    if not roles:
        raise ValueError("Trying to parse format without argument. Aborting...")

    role_idx = 0
    role = roles[role_idx]
    message = ""
    variables: list = []
    depth: List[str] = []
    while not lexer.eof():
        kind, tok = lexer.peek()

        if kind == "punc" and tok == "," and role != "...":
            role_idx += 1
            if role_idx >= len(roles):
                raise ValueError("Missparsing number of arguments")
            role = roles[role_idx]
        elif role == "skip":
            pass
        elif kind == "punc" and tok == "(":
            depth.append(tok)
        elif kind == "punc" and tok == ")":
            depth.pop()
            if not depth:
                break
        elif kind == "str" and role == "...":
            variables.append(tok)
        elif kind == "str":
            message += rewrite_printf_specs(tok)
        elif kind == "num" and role == "str":
            message += str(tok)
        elif kind == "num" and role == "...":
            variables.append(tok)
        elif kind == "var" or (kind == "op" and is_unary_op(tok)):
            sub_mode, sub_payload, sub_args = _read_variable(lexer, funcs)
            if sub_mode == "simple":
                variables.append("".join(sub_payload))
                if role == "str":
                    message += "{}"
            if sub_mode == "nested":
                message += sub_payload
                variables.append(sub_args)
        elif role == "str" and kind == "op" and tok == "+":
            lexer.next()
            kind, tok = lexer.peek()
            if kind == "str":
                message += tok
            elif kind == "var":
                sub_mode, sub_payload, _ = _read_variable(lexer, funcs)
                if sub_mode == "simple" and sub_payload:
                    message += "{}"
                    variables += sub_payload
                elif sub_mode == "nested":
                    pass

        lexer.next()
    rewrite_printf_specs(message)
    return message, variables


def _read_variable(lexer: TokenStream, funcs: dict):
    depth: List[str] = []
    gathered: List[str] = []
    prev_was_ident = False
    while not lexer.eof():
        kind, tok = lexer.peek()
        if kind == "punc" and tok == "," and not depth:
            return "simple", gathered, None
        elif kind == "op" and tok == "+" and not depth:
            return "simple", gathered, None
        elif kind == "var":
            prev_was_ident = True
        elif kind == "punc" and tok == "(" and prev_was_ident:
            prev_was_ident = False
            style, default_roles = _lookup_func(gathered[-1], funcs)
            if style in _PARSEABLE_STYLES:
                sub = TokenStream(lexer.source[lexer.char_pos - 1:])
                nargs = _count_call_args(sub)
                roles = _trim_roles(default_roles, nargs)
                message, variables = _parse_format_call(lexer, roles, funcs)
                return "nested", message, variables
            else:
                depth.append("(")
        elif kind == "punc" and tok == "(":
            prev_was_ident = False
            depth.append("(")
        elif kind == "punc" and tok == ")":
            prev_was_ident = False
            if not depth:
                return "simple", gathered, None
            depth.pop()
        else:
            prev_was_ident = False
        gathered.append(tok)
        lexer.next()
    raise ValueError("Unexpected EOF")


def parse_statement(raw: str, lang: str, framework: str):
    funcs = C_FUNCS if lang == "c" else FRAMEWORK_FUNCS.get(framework, SLF4J_FUNCS)
    lexer = TokenStream(raw)
    try:
        mode, payload, variables = _read_variable(lexer, funcs)
    except (ValueError, IndexError, TypeError):
        return None
    if mode != "nested":
        return None
    template = payload.strip()
    if not template:
        return None
    return template, _flatten(variables)


# -- extract ----------------------------------------------------------------

def statement_begin(data: str, index: int) -> int:
    space_run = 0
    back = 1
    while index - back > 0:
        cur = data[index - back]
        prev = data[index - back - 1]
        if cur == ";":
            return index - back + space_run + 1
        if cur == "{" or cur == "}":
            return _skip_past_line(data, index - back)
        if cur == "/" and prev == "*":
            return index - back + space_run + 1
        if cur == "/" and prev == "/":
            return _skip_past_line(data, index - back)
        if cur == "@":
            return _skip_past_line(data, index - back)
        if cur == ":":
            return _skip_past_line(data, index - back)
        if prev == "-" and cur == ">":
            return index - back + space_run + 1
        if cur.isspace():
            space_run += 1
        else:
            space_run = 0
        back += 1
    return 0


# -- formalize --------------------------------------------------------------

def segment_template(template: str) -> List[str]:
    out: List[str] = []
    literal = ""
    pos = 0
    n = len(template)
    for _ in range(n):
        if pos >= n:
            break
        ch = template[pos]
        if ch == "{":
            rest = template[pos + 1:]
            if len(rest) > 0 and rest[0] == "}":
                if literal:
                    out.append(literal)
                out.append("{}")
                pos += 2
                literal = ""
            else:
                close = rest.find("}")
                if close > 0:
                    literal += "{{" + rest[:close] + "}}"
                    pos += close + 2
        else:
            literal += ch
            pos += 1
    if literal:
        out.append(literal)
    return out
