"""Prometheus label-matcher algebra compiled to Catalyst ``Column`` predicates.

Reproduces the matcher->SQL translation of the reference
(``read.go:103-139``, operators F1-F12 in SURVEY.md §2.2) with Spark as the
execution engine.  Each matcher becomes one boolean ``Column``; the query
builder ANDs them together (the reference joins clause strings with
``" AND "``, ``sqlbuilder.go:20``).

Semantics preserved exactly:

- ``__name__`` matchers hit the ``metric_name`` column; other matchers probe
  the ``labels`` array for the joined ``"name=value"`` string.
- Regex matchers are **fully anchored** by concatenating ``^`` + pattern +
  ``$`` (the reference anchors via ``concat('^', v, '$')`` to "match
  prometheus behavior", ``read.go:104``).  For label matchers the *entire
  joined string* ``name=value`` is the pattern body, so the effective regex
  is ``^name=<value-re>$`` — value regexes interact with the label name
  exactly as in the reference.
- Missing-label semantics: ``k!="v"`` / ``k!~"v"`` match series *without*
  label ``k`` (absence makes ``array_contains``/``exists`` false, and the
  negation true) — F9/F11.
- The configured ignore-label (default ``remote=clickhouse``) is silently
  dropped, but **only for the EQ branch** (``read.go:123-125``); NEQ/RE/NRE
  on that label still apply.

Regex dialect note: Prometheus and ClickHouse ``match()`` use RE2; Spark
``rlike`` uses Java regex.  Java accepts a superset (backreferences,
lookaround) that RE2 would reject, so we proactively reject those constructs
to stay within the common dialect; see :func:`check_re2_portable`.

All predicates are pure Catalyst expressions (no UDFs): name/time predicates
push down to the Parquet scan, and array predicates run inside whole-stage
codegen before the aggregation shuffle.

:class:`ArrowMatchers` evaluates the same algebra without Spark, over
Arrow string arrays of distinct names and label lists (the local store's
``/read``, ``SamplesStore.read_request``).  Its regexes run in RE2
(``pyarrow.compute.match_substring_regex``), the reference's own dialect,
with the same portability check and concat-anchoring.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import IntEnum

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.model import DEFAULT_READ_IGNORE_LABEL, NAME_LABEL


class MatcherType(IntEnum):
    """Wire enum values of ``prompb.LabelMatcher.Type``."""

    EQ = 0
    NEQ = 1
    RE = 2
    NRE = 3


@dataclass(frozen=True)
class LabelMatcher:
    """One Prometheus label matcher, e.g. ``job=~"om.*"``."""

    type: MatcherType
    name: str
    value: str


class UnsupportedMatcherError(ValueError):
    """Raised for unknown matcher types (reference ``read.go:116-117``)."""


#: Java-regex constructs RE2 (the Prometheus/ClickHouse dialect) rejects.
#: Every construct that begins with a quantifier character or an opening
#: paren guards against that character being itself escaped (``\*+`` is a
#: valid RE2 "one or more literal asterisks"; ``\(?=x`` is an optional
#: escaped paren followed by literal ``=x``, not lookahead — ADVICE r12).
#: The scan runs on a pair-collapsed copy of the pattern (see
#: ``_ESCAPED_BACKSLASH``), so every remaining backslash is a genuine
#: escape and the single-character lookbehinds are exact.  The
#: backreference spellings carry no guard on purpose: their backslash IS
#: the construct, and after the pair collapse it is always a genuine
#: escape (``\\1`` — literal backslash then digit — collapses away).
_NON_RE2_CONSTRUCTS = re.compile(
    r"""
    \\[1-9]            # backreferences \1..\9
  | \\k<               # named backreferences
  | (?<!\\)\(\?=      # lookahead
  | (?<!\\)\(\?!      # negative lookahead
  | (?<!\\)\(\?<[=!]  # lookbehind
  | (?<!\\)[*+?]\+     # possessive quantifiers a*+ a++ a?+ (Java-only)
  | (?<!\\)\{\d+(?:,\d*)?\}\+   # possessive bounded quantifier a{m,n}+
  | (?<!\\)\(\?>       # atomic (independent) groups (?>...)
    """,
    re.VERBOSE,
)

#: Character classes are opaque to the construct scan: ``[*+]+`` is a valid
#: RE2 "one or more of * or +", not a possessive quantifier, and ``[(?=]``
#: is a plain class, not lookahead.  Each class is replaced by a single
#: placeholder atom (not deleted — deletion would splice ``a*[x]+`` into a
#: phantom ``a*+``).
_CHAR_CLASS = re.compile(r"(?<!\\)\[(?:\\.|[^\]\\])*\]")

#: An escaped literal backslash (``\\``).  Both scans above decide "is this
#: char escaped?" with a single-character ``(?<!\\)`` lookbehind, which
#: misreads any sequence where backslash PARITY matters: ``\\[*+]+`` is a
#: valid RE2 class-with-quantifier after a literal backslash (the ``[`` is
#: NOT escaped), and ``\\*+``/``\\1`` put a quantifier/digit after a
#: literal-backslash atom, not after an escape.  Collapsing each pair to a
#: placeholder atom before scanning makes every surviving backslash a
#: genuine escape, so the lookbehinds are exact — this closed a confirmed
#: false positive (``\\[*+]+`` rejected, ADVICE r11) and the previously
#: documented ``\\*+`` false negative (RE2: "bad repetition operator") in
#: one move.  Backslash parity means the same thing in Java and RE2, so
#: the collapse never changes which dialect a construct belongs to.
_ESCAPED_BACKSLASH = re.compile(r"\\\\")


def check_re2_portable(pattern: str) -> str:
    """Reject regex constructs outside the RE2 dialect.

    Prometheus would reject these patterns at parse time (RE2 ``match()``
    is the dialect on both reference legs, ``read.go:113,115,130,132``);
    accepting them here (Java regex supports them) would silently diverge
    from reference semantics, so we fail fast instead.  Beyond
    backreferences/lookaround, RE2 also rejects Java's possessive
    quantifiers (``a*+``, ``a{2,3}+`` — "bad repetition operator") and
    atomic groups (``(?>...)``), which Java would accept with
    backtracking-pruning semantics.
    """
    if _NON_RE2_CONSTRUCTS.search(_CHAR_CLASS.sub("C", _ESCAPED_BACKSLASH.sub("B", pattern))):
        raise ValueError(
            f"regex {pattern!r} uses constructs outside the RE2 dialect "
            "(backreference/lookaround/possessive quantifier/atomic group); "
            "Prometheus-compatible matchers cannot contain them"
        )
    return pattern


def _to_java_dialect(pattern: str) -> str:
    """Translate RE2 spellings Java rejects into their Java equivalents.

    RE2 (and Python) named groups are ``(?P<name>...)``; Java spells them
    ``(?<name>...)`` and throws on the ``P``.  A valid Prometheus matcher
    must not crash the engine, so rewrite instead of reject.  (The sequence
    is only rewritten where it has regex meaning — an escaped ``\\(`` never
    forms a group opener, but after a literal backslash ``\\\\(?P<`` it
    does; backslash parity decides, same as the construct scan.)
    """
    return re.sub(
        r"(\\*)\(\?P<",
        lambda m: m.group(0) if len(m.group(1)) % 2 else m.group(1) + "(?<",
        pattern,
    )


def _anchored(pattern: str) -> str:
    """'^' + pattern + '$' — concat-anchoring exactly as ``read.go:104``
    (``concat(?, ?, ?)`` with bare '^'/'$', then partial-match
    ``match()``).

    Deliberate reference parity, NOT upstream-Prometheus parity: genuine
    Prometheus wraps ``^(?:`` + pattern + ``)$``, so for a pattern with a
    TOP-LEVEL alternation the two disagree — ``a|b`` anchors here as
    ``^a|b$`` (prefix-``a`` OR suffix-``b``, since '|' binds looser than
    the anchors under partial-match), while Prometheus full-matches
    ``^(?:a|b)$``.  The reference ships the concat spelling to ClickHouse
    (its read.go:104 NOTE claims Prometheus behavior, which holds for
    every alternation-free or group-wrapped pattern but not this edge),
    and matching the reference's results is the assignment — pinned by
    tests/test_matchers.py::test_top_level_alternation_anchors_like_reference."""
    return _to_java_dialect(re2_anchored(pattern))


def re2_anchored(pattern: str) -> str:
    """The anchored pattern in RE2 spelling, before the Java translation."""
    return "^" + check_re2_portable(pattern) + "$"


def joined_label(name: str, value: str) -> str:
    """The storage encoding of one label: ``name=value`` (``write.go:43``)."""
    return f"{name}={value}"


def compile_matcher(
    m: LabelMatcher,
    *,
    ignore_label: str | None = DEFAULT_READ_IGNORE_LABEL,
    metric_col: str = "metric_name",
    labels_col: str = "labels",
) -> Column | None:
    """Compile one matcher to a boolean ``Column``.

    Returns ``None`` when the matcher is the configured ignore-label EQ
    matcher (F8): the caller emits no predicate for it.
    """
    if m.name == NAME_LABEL:
        col = F.col(metric_col)
        if m.type == MatcherType.EQ:
            return col == F.lit(m.value)  # F3
        if m.type == MatcherType.NEQ:
            return col != F.lit(m.value)  # F4 — "Don't do this." (full scan)
        if m.type == MatcherType.RE:
            return col.rlike(_anchored(m.value))  # F5
        if m.type == MatcherType.NRE:
            return ~col.rlike(_anchored(m.value))  # F6
        raise UnsupportedMatcherError(f"unsupported LabelMatcher type {m.type!r}")

    label = joined_label(m.name, m.value)
    arr = F.col(labels_col)
    if m.type == MatcherType.EQ:
        if ignore_label is not None and label == ignore_label:
            return None  # F8: routing label, never stored — emit no clause
        return F.array_contains(arr, label)  # F7: has(labels, 'k=v')
    if m.type == MatcherType.NEQ:
        return ~F.array_contains(arr, label)  # F9: matches series missing k
    if m.type == MatcherType.RE:
        pat = _anchored(label)
        return F.exists(arr, lambda x: x.rlike(pat))  # F10: arrayExists+match
    if m.type == MatcherType.NRE:
        pat = _anchored(label)
        return ~F.exists(arr, lambda x: x.rlike(pat))  # F11: vacuous-∀ on missing
    raise UnsupportedMatcherError(f"unsupported LabelMatcher type {m.type!r}")


def compile_matchers(
    matchers: list[LabelMatcher],
    *,
    ignore_label: str | None = DEFAULT_READ_IGNORE_LABEL,
    metric_col: str = "metric_name",
    labels_col: str = "labels",
) -> Column:
    """AND all matcher predicates together (``sqlbuilder.go:20``).

    An empty (or fully-ignored) matcher list compiles to ``TRUE``.
    """
    conds = [
        c
        for m in matchers
        if (
            c := compile_matcher(
                m, ignore_label=ignore_label, metric_col=metric_col, labels_col=labels_col
            )
        )
        is not None
    ]
    if not conds:
        return F.lit(True)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


class ArrowMatchers:
    """One query's matchers evaluated over Arrow arrays, with the semantics
    of :func:`compile_matcher`: ``__name__`` matchers per distinct metric
    name (:meth:`name_mask`), the others per distinct label list
    (:meth:`labels_mask`), where ``k=v``/``k=~v`` holds when some element
    matches and ``k!=v``/``k!~v`` when none does (F9/F11), and the
    ignore-label EQ matcher is dropped (F8).  Patterns are checked and
    anchored when the query is built, before any scan."""

    def __init__(
        self,
        matchers: tuple[LabelMatcher, ...],
        *,
        ignore_label: str | None = DEFAULT_READ_IGNORE_LABEL,
    ):
        # (negated, is_regex, operand) per matcher
        self.on_name: list[tuple[bool, bool, str]] = []
        self.on_labels: list[tuple[bool, bool, str]] = []
        for m in matchers:
            if m.type not in (MatcherType.EQ, MatcherType.NEQ, MatcherType.RE, MatcherType.NRE):
                raise UnsupportedMatcherError(f"unsupported LabelMatcher type {m.type!r}")
            if m.name == NAME_LABEL:
                operand, target = m.value, self.on_name
            else:
                operand, target = joined_label(m.name, m.value), self.on_labels
                if m.type == MatcherType.EQ and operand == ignore_label:
                    continue  # F8
            regex = m.type in (MatcherType.RE, MatcherType.NRE)
            negated = m.type in (MatcherType.NEQ, MatcherType.NRE)
            target.append((negated, regex, re2_anchored(operand) if regex else operand))

    @staticmethod
    def _hits(values: pa.Array, regex: bool, operand: str) -> np.ndarray:
        hit = pc.match_substring_regex(values, operand) if regex else pc.equal(values, operand)
        return hit.to_numpy(zero_copy_only=False)

    def name_mask(self, names: pa.Array) -> np.ndarray:
        """Which metric names (a string array) every ``__name__`` matcher
        accepts."""
        ok = np.ones(len(names), dtype=bool)
        for negated, regex, operand in self.on_name:
            ok &= self._hits(names, regex, operand) != negated
        return ok

    def labels_mask(self, labelsets: pa.ListArray) -> np.ndarray:
        """Which label lists (``name=value`` strings) every label matcher
        accepts."""
        ok = np.ones(len(labelsets), dtype=bool)
        if self.on_labels:
            flat = pc.list_flatten(labelsets)
            owner = pc.list_parent_indices(labelsets).to_numpy()
        for negated, regex, operand in self.on_labels:
            has = np.zeros(len(labelsets), dtype=bool)
            has[owner[self._hits(flat, regex, operand)]] = True
            ok &= has != negated
        return ok
