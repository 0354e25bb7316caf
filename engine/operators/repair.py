"""Repair-then-rescore: salvage rows instead of tombstoning them.

Graft of the reference's repair family R1-R7, which rewrites rows and
keeps them rather than dropping (endpoint imputation
Step2-Data-Incompleteness.R:349-454; gap interpolation Step3:1083-1703;
spatial snap/repair Step4:310-487).  The transcript analog: a row failing
TXT_LEN/CHAR_RATIO only because of whitespace/control-character damage is
NORMALIZED (control chars -> space, ASCII-whitespace-run collapse, trim),
re-evaluated against the same text rules, and — if the normalized text
now passes — kept with `repaired = True` lineage and scored (scrub/LID/
PPL/simhash) on the repaired text.  A row the repair cannot rescue keeps
its original transcript and its original failure.

Scale shape — the repair is FUSED into the one scoring `mapInPandas`
crossing (scoring._score_batch calls `repair_batch` before the model
scoring), because every earlier design lost at scale:

  * a 2-column rescore UDF + merge-back join costs a second shuffle of
    both sides (round 1);
  * a branch-union (untouched ∪ rescored) costs nothing by itself, but
    the dedup stage references its input from three plan branches, so an
    un-persisted union re-executes the repair subtree three times, and
    persisting it costs an extra materialization pass (round 2);
  * fusing it into the already-mandatory Python crossing costs only the
    normalization work itself, on candidate rows only, perfectly
    distributed, with no new shuffle, join, union, or cached table —
    and downstream heuristic flags evaluate the repaired transcript
    naturally, so no flag-clearing merge exists at all.

The rules evaluated here mirror engine/operators/heuristics.py exactly
(TXT_LEN bounds; CHAR_RATIO = alpha-ratio floor + chars/sec band).
Python `str.isalpha()` and the heuristics' Java `\\p{L}` both match
Unicode categories Lu/Ll/Lt/Lm/Lo, so the candidate predicate here and
the flag recompute there agree.

Whitespace class is ASCII-EXPLICIT in both engines and the oracle: Java's
\\s and Python's re \\s disagree on unicode spaces, so the normalization
regex never uses bare \\s.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import config

CTRL_CLASS = "[\\x00-\\x1F\\x7F]"
WS_RUN = "[ \\t\\n\\x0B\\f\\r]+"

_CTRL_RE = re.compile("[\x00-\x1f\x7f]")
_WS_RE = re.compile("[ \t\n\x0b\f\r]+")


def normalize_col(t: Column) -> Column:
    """control chars -> space, collapse ASCII whitespace runs, trim.
    (Column form, used by demo_text_queries.q_repair_rescore, whose DuckDB
    twin spells the same regexes; semantics identical to `normalize_text`
    below, which the scoring UDF runs.)"""
    return F.trim(F.regexp_replace(
        F.regexp_replace(t, CTRL_CLASS, " "), WS_RUN, " "))


def normalize_text(t: str) -> str:
    """Python form of `normalize_col` — same three steps, ASCII classes."""
    return _WS_RE.sub(" ", _CTRL_RE.sub(" ", t)).strip(" ")


def _fails_text_rules(t: str, dur_ms: int | None) -> bool:
    """True iff TXT_LEN or CHAR_RATIO fires for this transcript — the same
    definitions as heuristics.with_heuristic_flags, null semantics and all
    (an unevaluable sub-predicate contributes False)."""
    n = len(t)
    if n < config.TXT_LEN_MIN or n > config.TXT_LEN_MAX:
        return True
    if n > 0:
        if sum(ch.isalpha() for ch in t) / n < config.ALPHA_RATIO_MIN:
            return True
        if dur_ms is not None and dur_ms > 0:
            cps = n / (dur_ms / 1000.0)
            if cps > config.CHARS_PER_SEC_MAX or cps < config.CHARS_PER_SEC_MIN:
                return True
    return False


def repair_batch(transcripts: list[str | None],
                 durs: list[int | None]) -> tuple[list[str | None], list[bool]]:
    """(transcripts, dur_ms) -> (final transcripts, repaired flags).

    A transcript is a candidate iff it currently fails a text rule; the
    normalization runs ONLY for candidates (few %), and a candidate is
    rescued iff its normalized text differs, is non-empty, and passes all
    text rules.  Non-candidates pass through untouched."""
    out = list(transcripts)
    repaired = [False] * len(out)
    for i, t in enumerate(out):
        if t is None:
            continue
        dur = durs[i]
        if not _fails_text_rules(t, dur):
            continue
        norm = normalize_text(t)
        if norm != t and len(norm) > 0 and not _fails_text_rules(norm, dur):
            out[i] = norm
            repaired[i] = True
    return out, repaired
