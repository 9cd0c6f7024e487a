"""Hand-rolled Java/C expression lexer, parity with the reference tokenizer.

Behavioral spec: /root/reference/src/templatecrawler/logparser/javatokenizer.py:7-96
over the char stream at logparser/strstream.py:1-19.

Token kinds: ``str`` (double-quoted literal, quotes stripped), ``punc``
(single char of ``;,.(){}[]`` — note '.' is punctuation, not an operator),
``op`` (maximal run of ``+*|^/%=&-<>!``), ``num`` (maximal digit run — no
decimal point, so ``3.14`` lexes as num/punc/num), ``var`` (maximal run of
anything that is neither punctuation nor an operator char).

Mechanism: ``lex`` tokenizes a whole statement in one pass of a single
compiled alternation regex (whitespace skip, then str | punc | op | num |
var in the reference's dispatch order) and returns the token list; the
parser walks it with an integer cursor.  The reference's pull lexer is
context-free at token boundaries (its only state is the char position), so
one up-front pass yields exactly the tokens it would hand out one at a time.

Replicated QUIRKs:

* the escape check in ``_read_escaped`` compares one char against the
  two-char literal ``r'\\\\'`` (javatokenizer.py:77), so escape handling never
  triggers: a string literal is simply "all chars up to the next unescaped…
  er, any next double quote", backslashes included verbatim; an unclosed
  literal runs to the end of the statement.
* the ``var`` character class (javatokenizer.py:13) is the complement of
  punc+ops, so identifiers absorb whitespace and quote chars mid-token
  (``x  )`` → var token ``'x  '`` is impossible since ')' stops it, but
  ``foo bar,`` lexes as one var token ``'foo bar'``).
* unknown characters raise ValueError via ``croak`` (strstream.py:18-19) —
  unreachable here: every non-whitespace char is a quote, punc, op, digit
  or (by complement) var char, so ``lex`` is total.
"""

from __future__ import annotations

import re
from typing import List, Tuple

_PUNC = r";,.(){}[\]"
_OP = r"+*|^/%=\&\-<>!"

# One group per kind: str | punc | op | num | var.  A var token may hold
# whitespace but not start with it, so trailing whitespace that the
# leading skip backs off from never becomes a var token.
_TOKEN_RE = re.compile(
    rf'\s*(?:"([^"]*)"?|([{_PUNC}])|([{_OP}]+)|(\d+)'
    rf'|([^\s{_PUNC}{_OP}][^{_PUNC}{_OP}]*))'
)
_UNARY_RE = re.compile(r"^(\+\+|-|--|!)$")

Token = Tuple[str, str]


def lex(source: str) -> List[Token]:
    """All ``(kind, text)`` tokens of a raw statement, in order."""
    out: List[Token] = []
    append = out.append
    # Only the matched kind's group is non-empty (an empty str literal
    # leaves all five empty, hence the str fallback).
    for string, punc, op, num, var in _TOKEN_RE.findall(source):
        if punc:
            append(("punc", punc))
        elif var:
            append(("var", var))
        elif op:
            append(("op", op))
        elif num:
            append(("num", num))
        else:
            append(("str", string))
    return out


def is_unary_op(tok: str) -> bool:
    """Full-token unary-operator test (javatokenizer.py:14,21-22)."""
    return bool(_UNARY_RE.match(tok))
