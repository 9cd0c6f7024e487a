"""Template formalization: '{}' slots → typed placeholders like {IntegerPlaceholder}.

Behavioral spec: /root/reference/src/templatecrawler/formalizer.py:7-116 and
the token-type vocabulary at /root/reference/src/templatecrawler/tokentypes.py:12-30.

Stages per row (formalize(), formalizer.py:7-30):

1. segment the parsed template into literal runs and '{}' slots
   (``_parse_string``, :68-98) — bare '{}' become slots, '{named}' braces are
   escaped to '{{named}}' inside the literal run;
2. count slots and arguments;
3. the "cut longer" trim (:33-37) — QUIRK: ``difference`` is a *bool*, so at
   most ONE argument is ever trimmed, and the eligibility mask (:20) compares
   the *original* argument count, so any row the trim touched is dropped
   anyway (the trim is effectively dead code); replicated;
4. keep rows whose argument count equals the slot count;
5. per argument, collect candidate token types by substring-matching the
   lowercased argument name against each type's keyword list (first matching
   keyword wins per type, :47-54), then rewrite the i-th slot to the chosen
   type's name.

DETERMINISM: the reference picks among candidates with unseeded
``random.choice`` (formalizer.py:58).  Byte-stable output needs a seeding
convention shared by engine and oracle, so we pick
``candidates[crc32(f"{arg}|{slot_idx}") % len(candidates)]`` — deterministic,
distribution-preserving over the candidate list, and documented here as the
single sanctioned deviation knob.
"""

from __future__ import annotations

import re
import zlib
from functools import lru_cache
from typing import List, Optional, Tuple

# tokentypes.py:12-30.  Order matters twice: candidate collection iterates in
# *this* list order (the reference's ``tokens`` list puts user before boolean)
# and the deterministic choice indexes into the candidate list.
# QUIRK: the IP type's keyword list is a single string 'ip, address'
# (tokentypes.py:27) — kept verbatim.
TOKEN_TYPES: List[Tuple[str, List[str]]] = [
    ("IntegerPlaceholder", ["number", "num", "integer", "int", "index", "idx", "size",
                            "length", "count", "capacity", "per", "offset", "sum"]),
    ("FloatPlaceholder", ["number", "num", "float", "double", "ratio", "size", "per",
                          "frequency", "interval"]),
    ("PathPlaceholder", ["path", "dir", "directory", "location", "file"]),
    ("URLPlaceholder", ["address", "host", "addr", "url", "uri"]),
    ("TimePlaceholder", ["time", "seconds", "date", "timestamp"]),
    ("DatePlaceholder", ["time", "timestamp", "date", "today", "now"]),
    ("IDPlaceholder", ["id", "identifier"]),
    ("UserPlaceholder", ["user", "username", "mail", "email", "name"]),
    ("BoolPlaceholder", ["bool", "boolean"]),
    ("StatusPlaceholder", ["state", "status", "condition"]),
    ("StringPlaceholder", ["name", "input"]),
    ("IPPlaceholder", ["ip, address"]),
]


# A slot '{}', a named brace '{…}' (any chars but '}', so '{a{b}' is one
# named brace, as in the reference), or a lone '{' that no '}' follows.
_BRACE_RE = re.compile(r"\{\}|\{[^}]+\}|\{")


def segment_template(template: str) -> List[str]:
    """Split a parsed template into literal runs and '{}' slot markers.

    Re-expression of ``_parse_string`` (formalizer.py:68-98) as one scan over
    the braces, including the '{named}'→'{{named}}' escaping.  QUIRK: a lone
    '{' with no closing '}' stalls the reference's cursor until its
    ``for i in range(len(inp))`` bound ends the loop (formalizer.py:87-91),
    so everything from that '{' on is dropped — here the scan stops there.
    """
    out: List[str] = []
    literal = ""
    pos = 0
    for m in _BRACE_RE.finditer(template):
        brace = m[0]
        literal += template[pos:m.start()]
        if brace == "{":
            break
        pos = m.end()
        if brace == "{}":
            if literal:
                out.append(literal)
            out.append("{}")
            literal = ""
        else:
            literal += "{" + brace + "}"
    else:
        literal += template[pos:]
    if literal:
        out.append(literal)
    return out


@lru_cache(maxsize=65536)
def _candidates_for(arg_low: str) -> Tuple[str, ...]:
    """Candidate placeholder types for a lowercased argument name — pure
    function of the text, memoized (argument names repeat heavily)."""
    out = []
    for type_name, keywords in TOKEN_TYPES:
        for keyword in keywords:
            if arg_low.find(keyword) >= 0:
                out.append(type_name)
                break
    return tuple(out)


def _choose_placeholder(arg: str, slot_idx: int, candidates) -> str:
    """Deterministic stand-in for ``random.choice`` — see module docstring."""
    key = f"{arg}|{slot_idx}".encode("utf-8")
    return candidates[zlib.crc32(key) % len(candidates)]


def match_tokens(segments: List[str], args: List[str]) -> str:
    """Rewrite slots to typed placeholders (``_match_tokens``, formalizer.py:40-61).

    Candidate collection: for each token type (in TOKEN_TYPES order), the
    first keyword that is a substring of the lowercased argument adds the
    type once.  Arguments with no candidates leave their slot as bare '{}'.
    NOTE: the reference's per-argument candidate dict is keyed by argument
    *text* (:47), so duplicate argument names share one entry; harmless since
    candidates depend only on the text — replicated implicitly.
    """
    segments = list(segments)
    slot_positions = [i for i, seg in enumerate(segments) if seg == "{}"]
    for i, arg in enumerate(args):
        candidates = _candidates_for(arg.lower())
        if candidates:
            chosen = _choose_placeholder(arg, i, candidates)
            segments[slot_positions[i]] = "{" + chosen + "}"
    return "".join(segments)


def formalize_template(parsed_template: Optional[str], args: Optional[List[str]]) -> Optional[str]:
    """One-row formalization; None = row dropped.

    Mirrors formalize() (formalizer.py:7-30): null templates are dropped,
    the bool-trim quirk is applied, eligibility compares the ORIGINAL
    argument count to the slot count, and TypeError/ValueError from token
    matching drop the row.
    """
    if parsed_template is None:
        return None
    args = list(args) if args is not None else []
    segments = segment_template(parsed_template)
    slot_count = segments.count("{}")
    arg_count = len(args)

    # QUIRK trim (formalizer.py:33-37): bool 'difference' trims at most one.
    trimmed = args
    difference = arg_count > slot_count  # bool, arithmetic value 0/1
    if 0 < difference < arg_count:
        trimmed = args[:-difference]

    # Eligibility uses the ORIGINAL count (formalizer.py:20) — trimmed rows
    # therefore never survive; 'trimmed' exists only for parity of record.
    if arg_count != slot_count:
        return None
    try:
        return match_tokens(segments, trimmed)
    except (TypeError, ValueError):
        return None
