"""Log-call-site extraction: find every logging statement in a source file.

Behavioral parity with the reference extractors, which share one algorithm
across four near-identical classes:

* trigger regexes: log4j /root/reference/src/templatecrawler/logextractor/java/log4j.py:13,
  slf4j java/slf4j.py:13, utillogger java/utillogger.py:13, C c/c.py:15.
* backwards scan to statement start: ``_begin_of_line`` (log4j.py:58-92),
  done with ``str.rfind`` per boundary over a bounded window instead of the
  reference's per-character walk (see ``statement_begin``).
* forwards scan to statement end: ``_end_of_line`` (log4j.py:101-113).
* framework→extractor selection: /root/reference/src/templatecrawler/extractor.py:15-36
  (java: log4j|slf4j|util|utillogger, 'unknown'→log4j; c: always the C extractor).

Replicated QUIRKs (the byte-identical contract lives here):

* ``_read_string`` (log4j.py:115-122) compares ``peek()`` — one char — against
  the two-char literal ``r'\\\\'``, so ``escaped`` is never set, and it returns
  at the opening quote *without consuming anything*.  Net effect: string
  literals are NOT skipped and a ``;`` inside a string literal terminates the
  statement.  We therefore implement ``_end_of_line`` as "index of the next
  ';' at or after offset".
* ``_end_of_line`` returns ``None`` when no ';' follows (log4j.py:108-113
  falls off the loop) → the reference slices ``data[begin:None]`` = to EOF.
* ``_begin_of_line``'s loop condition ``index - counter > 0`` never examines
  index 0; falling off the loop returns 0 (log4j.py:70-92).
* a mid-file ValueError (``_run_forward_comment`` EOF, log4j.py:137) aborts
  the *rest* of the file but keeps statements extracted before the error
  (the try wraps the whole per-file loop, log4j.py:28-41).  Deviation: the
  reference lets IndexError from ``_run_forward_comment``'s first loop
  (log4j.py:126-128, read past end when the file lacks a trailing newline)
  crash the process; a distributed engine cannot crash the job for one bad
  file, so we treat IndexError like ValueError (abort rest of file).
"""

from __future__ import annotations

import re
from typing import List, Optional

TRIGGERS = {
    # log4j.py:13 — note: no leading dot, so bare `printf(`/`info(` match too.
    "log4j": re.compile(r"(fatal|info|error|debug|trace|warn|log|printf)\("),
    # slf4j.py:13
    "slf4j": re.compile(r"\.(fatal|info|error|debug|trace|warn)\("),
    # utillogger.py:13
    "utillogger": re.compile(r"(fine|finer|finest|info|log|logp|logrb|warning|severe)\("),
    # c/c.py:15 — leading group excludes letters but allows line start/space.
    "c": re.compile(
        r"([^a-zA-Z]|^|[ ])(printf|printk|fprintf|av_log|log|Log_print|logf|warning|warn"
        r"|warnx|fatal|dfatal|debug|LOG_ERR|GX_LOG|vcos_log_error|vcos_log_warn"
        r"|vcos_log_info|vcos_log_trace|vcos_logc_error|vcos_logc_warn|vcos_logc_info"
        r"|vcos_logc_trace|GIMP_LOG|Critf|Infof|Warningf|Tracef|Debugf|Errf|Crit|Info"
        r"|Warning|Trace|Debug|Err|g_log)\("
    ),
}

# extractor.py:15-31 — the java framework→extractor table ('unknown'→log4j);
# every C framework key routes to the single C extractor.
_JAVA_FRAMEWORK_TRIGGER = {
    "log4j": "log4j",
    "slf4j": "slf4j",
    "util": "utillogger",
    "utillogger": "utillogger",
    "unknown": "log4j",
}


def trigger_for(lang: str, framework: str) -> Optional[re.Pattern]:
    """Select the trigger regex the reference would use for this file."""
    if lang == "c":
        return TRIGGERS["c"]
    if lang == "java":
        return TRIGGERS[_JAVA_FRAMEWORK_TRIGGER.get(framework, "log4j")]
    # python/csharp extraction is NotImplemented in the reference
    # (extractor.py:33-36) — such files contribute no statements.
    return None


# Boundaries of the backwards scan: (text, offset of its last char,
# resolves-by-line-skip).  A hit is reported at the position of the text's
# LAST char — the char the reference's walk is on when it recognizes it.
_BOUNDARIES = (
    (";", 0, False), ("{", 0, True), ("}", 0, True), ("@", 0, True),
    (":", 0, True), ("*/", 1, False), ("//", 1, True), ("->", 1, False),
)
_BEGIN_WINDOW = 128
_WS_RUN = re.compile(r"\s*")  # \s is exactly str.isspace() for str patterns


def _last_boundary(data: str, lo: int, index: int):
    """(position, by_line) of the rightmost boundary whose last char sits in
    [lo, index); a position below ``lo`` (lo >= 1) means there is none."""
    best, by_line = -1, False
    for text, last, skip in _BOUNDARIES:
        # rfind's -1 maps to -1 or 0 here, both below lo.
        pos = data.rfind(text, lo - last, index) + last
        if pos > best:
            best, by_line = pos, skip
    return best, by_line


def statement_begin(data: str, index: int) -> int:
    """Backwards scan from a trigger-match end to the statement start.

    Re-expression of ``_begin_of_line`` (log4j.py:58-92): the reference walks
    backwards char by char, examining positions index-1 down to 1 (never 0),
    until a boundary char; boundaries ``;``, ``*/``, ``->`` resolve via the
    whitespace-run bookkeeping (the statement starts after the whitespace
    run that follows the boundary, at most at ``index``), while ``{``,
    ``}``, ``//``, ``@``, ``:`` resolve by skipping forward past the
    boundary's line.  The nearest boundary is found with one ``str.rfind``
    per boundary, over a fixed window before ``index`` first and the whole
    prefix only when the window holds none; no boundary → 0.
    """
    lo = max(1, index - _BEGIN_WINDOW)
    pos, by_line = _last_boundary(data, lo, index)
    if pos < lo:
        pos, by_line = _last_boundary(data, 1, lo)
        if pos < 1:
            return 0
    if by_line:
        return _skip_past_line(data, pos)
    return _WS_RUN.match(data, pos + 1, index).end()


def _skip_past_line(data: str, offset: int) -> int:
    """Skip forward past the boundary's line to the next non-space char.

    Faithful re-expression of ``_run_forward_comment`` (log4j.py:124-137),
    including the pre-increment read that raises IndexError at EOF without a
    trailing newline, and the ValueError when only whitespace remains.
    """
    i = 0
    n = len(data)
    while offset + i < n:
        i += 1
        ch = data[offset + i]  # IndexError at EOF — see module QUIRK notes.
        if ch == "\n":
            break
    while offset + i < n:
        ch = data[offset + i]
        if not ch.isspace():
            return offset + i
        i += 1
    raise ValueError("Unexpected EOF")


def statement_end(data: str, offset: int) -> Optional[int]:
    """Index of the statement-terminating ';', or None to slice to EOF.

    Because the reference's string-skipping is a no-op (see module QUIRK
    notes), this is exactly "next ';' at or after offset".
    """
    pos = data.find(";", offset)
    return pos if pos >= 0 else None


def extract_statements(text: str, lang: str, framework: str) -> List[str]:
    """All raw log statements of one file, in match order.

    Mirrors the per-file loop of ``extract_events`` (log4j.py:29-35): collect
    all trigger-match ends first, then expand each to [begin, end).  The
    trailing ';' is NOT part of the statement (slice ends at its index).
    """
    trigger = trigger_for(lang, framework)
    if trigger is None:
        return []
    out: List[str] = []
    try:
        for match_end in [m.end() for m in trigger.finditer(text)]:
            begin = statement_begin(text, match_end)
            end = statement_end(text, begin)
            out.append(text[begin:end] if end is not None else text[begin:])
    except (ValueError, IndexError):
        # Abort the rest of the file, keep earlier statements (log4j.py:39-41).
        pass
    return out
