"""Regex toolkit as Catalyst column expressions (reference parity: F1-F10).

The reference implements these as row-at-a-time Python helpers
(``src/files_kraken/retools/_retools.py:13-156``). Here every one is a
pure column expression — JVM-side, whole-stage-codegen'd, regex
compiled once per task by Catalyst. No Python in the hot path.

Semantics preserved exactly:

- Python ``re.fullmatch`` → pattern anchored as ``^(?:p)$`` (F1,
  reference ``_retools.py:13-14``).
- Python returns ``None`` on no-match while Spark's
  ``regexp_extract`` returns ``''`` → every extract is wrapped in
  ``nullif(…, '')`` so "no match" is NULL throughout the engine.
- Scheme matching tries pattern alternatives in declaration order,
  first hit wins (reference ``_retools.py:128-132``) → lazy
  left-to-right ``coalesce``.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# A pattern spec mirrors the reference's convention
# (``_retools.py:40-73``):
#   "raw"            -> fullmatch, whole match returned
#   ("pat", g)       -> search, group g returned
#   (spec, spec, …)  -> all must match (conjunction)
PatternSpec = "str | tuple"


def fullmatch(col: Column, pattern: str, group: int = 0) -> Column:
    """F1 — ``re.fullmatch`` semantics: whole string must match.

    Returns the requested group, NULL on no-match. Anchored with
    ``\\A…\\z`` (absolute input ends): Java's ``$`` would also match
    before a trailing newline, which Python ``fullmatch`` does not
    (SURVEY §7.4 newline edge). ``(?:…)`` keeps user group numbers
    stable.
    """
    anchored = rf"\A(?:{pattern})\z"
    # rlike guard instead of nullif('') so a legitimate empty-string
    # match (e.g. pattern '.*' on '') stays '' — Python parity — while
    # no-match stays NULL.
    return F.when(col.rlike(anchored), F.regexp_extract(col, anchored, group))


def fullmatch_pred(col: Column, pattern: str) -> Column:
    """F1 predicate form: boolean full-string match."""
    return col.rlike(rf"\A(?:{pattern})\z")


def search(col: Column, pattern: str, group: int = 0) -> Column:
    """F2 — ``re.search`` semantics: substring match, extract group.

    Same rlike guard as ``fullmatch``: the reference returns the group
    of any successful match — including a legitimately EMPTY group
    (``_retools.py:8-10,16-18`` gates on the match object, not the
    group text) — so matched-with-empty-group stays ``''`` and only
    true no-match maps to NULL. A bare nullif('') would silently turn
    an empty-group match into a miss, dropping the file from required
    gates and breaking scheme_match's first-hit-wins order.
    """
    return F.when(col.rlike(pattern), F.regexp_extract(col, pattern, group))


def findall(col: Column, pattern: str, group: int = 0) -> Column:
    """F3 — ``re.findall``: array of all (group) matches."""
    return F.regexp_extract_all(col, F.lit(pattern), F.lit(group))


def group_searcher(pattern: str, group: int = 0):
    """F4 — precompiled extractor bound to (pattern, group).

    Returns a callable Column → Column (Catalyst compiles the regex
    once per task regardless; this is API parity).
    """

    def _search(col: Column) -> Column:
        return search(col, pattern, group)

    return _search


def _spec_to_extract(col: Column, spec) -> Column:
    """One pattern spec → extracted-value column (NULL = no match)."""
    if isinstance(spec, str):
        return fullmatch(col, spec)
    if isinstance(spec, tuple) and len(spec) == 2 and isinstance(spec[1], int):
        return search(col, spec[0], spec[1])
    if isinstance(spec, tuple):  # conjunction: all sub-specs must hit
        subs = [_spec_to_extract(col, s) for s in spec]
        all_hit = subs[0].isNotNull()
        for s in subs[1:]:
            all_hit = all_hit & s.isNotNull()
        # scalar contexts (scheme fields) take the first sub-match; the
        # reference's full tuple-of-matches is `_spec_to_vector`
        return F.when(all_hit, subs[0])
    raise TypeError(f"bad pattern spec: {spec!r}")


def _spec_to_vector(col: Column, spec) -> Column:
    """One pattern spec → its result VECTOR (array<string>), exact
    reference shape: a conjunction spec yields the tuple of all
    sub-matches (``_retools.py:55-66``), a scalar spec a 1-element
    vector; NULL when the spec missed."""
    if isinstance(spec, str) or (
        isinstance(spec, tuple) and len(spec) == 2 and isinstance(spec[1], int)
    ):
        hit = _spec_to_extract(col, spec)
        return F.when(hit.isNotNull(), F.array(hit))
    if isinstance(spec, tuple):
        subs = [_spec_to_extract(col, s) for s in spec]
        all_hit = subs[0].isNotNull()
        for s in subs[1:]:
            all_hit = all_hit & s.isNotNull()
        return F.when(all_hit, F.array(*subs))
    raise TypeError(f"bad pattern spec: {spec!r}")


def _spec_to_pred(col: Column, spec) -> Column:
    """One pattern spec → boolean predicate."""
    if isinstance(spec, str):
        return fullmatch_pred(col, spec)
    if isinstance(spec, tuple) and len(spec) == 2 and isinstance(spec[1], int):
        return col.rlike(spec[0])
    if isinstance(spec, tuple):
        p = _spec_to_pred(col, spec[0])
        for s in spec[1:]:
            p = p & _spec_to_pred(col, s)
        return p
    raise TypeError(f"bad pattern spec: {spec!r}")


def multimatch(col: Column, specs: Sequence) -> Column:
    """F5 — vector of per-spec results as an array column.

    Reference: ``MultimatchExecutor.multimatch``
    (``_retools.py:40-73``) — element is NULL where the spec missed.
    Conjunction specs contribute their first sub-match here (scalar
    element type); use :func:`multimatch_vectors` for the reference's
    exact tuple-of-sub-matches shape.
    """
    return F.array(*[_spec_to_extract(col, s) for s in specs])


def multimatch_vectors(col: Column, specs: Sequence) -> Column:
    """F5 exact tuple parity: per-spec result vectors as
    ``array<array<string>>``.

    The reference returns, per spec, the match string — or, for a
    conjunction spec, the TUPLE of every sub-spec's match
    (``_retools.py:55-66``). Element i here is that tuple as an
    array<string> (scalar specs yield 1-element vectors); a missed
    spec yields a NULL element.
    """
    return F.array(*[_spec_to_vector(col, s) for s in specs])


def bool_multimatch(
    col: Column,
    patterns: Sequence,
    mode: str = "any",
    exclude: Iterable | None = None,
) -> Column:
    """F6 — BoolOutputMultimatcher (``_retools.py:76-100``).

    ``mode='any'``: true if any pattern matches; ``'cons'``: all must
    match. ``exclude`` patterns veto a match either way.
    """
    preds = [_spec_to_pred(col, p) for p in patterns]
    if mode == "any":
        hit = preds[0]
        for p in preds[1:]:
            hit = hit | p
    elif mode == "cons":
        hit = preds[0]
        for p in preds[1:]:
            hit = hit & p
    else:
        raise ValueError(f"mode must be 'any' or 'cons', got {mode!r}")
    if exclude:
        for e in exclude:
            hit = hit & ~_spec_to_pred(col, e)
    return hit


def scheme_match(col: Column, scheme: dict) -> dict[str, Column]:
    """F7 — SchemeMatcher (``_retools.py:103-141``): named multi-extract
    with ordered fallback.

    ``scheme`` maps field name → spec or list of alternative specs;
    alternatives are tried in order, first hit wins (lazy
    ``coalesce``). A field that matches nothing is NULL — the caller
    decides presence semantics (reference drops absent keys from the
    dict; NULL is the columnar encoding of absence).
    """
    out: dict[str, Column] = {}
    for field, spec in scheme.items():
        alts = spec if isinstance(spec, list) else [spec]
        cols = [_spec_to_extract(col, a) for a in alts]
        out[field] = cols[0] if len(cols) == 1 else F.coalesce(*cols)
    return out


def correlated_pattern(*parts) -> Column:
    """F8 — per-entity (correlated) pattern built from columns.

    The reference interpolates already-bound required-field values into
    an optional-field regex (``blueprint/_blueprint.py:34-37``,
    ``examples/easy_example.py:61-67``). Columnar form: the pattern is a
    ``concat`` of literal fragments (str) and value columns (Column);
    match with ``col.rlike(pattern_col)``. NOTE: like the reference, the
    interpolated values are NOT regex-escaped — document-level parity.
    """
    cols = [F.lit(p) if isinstance(p, str) else p for p in parts]
    return F.concat(*cols)


def re_sort_key(col: Column, pattern: str, group: int = 0, cast: str | None = "int") -> Column:
    """D2 — ReSorter (``_retools.py:144-156``): deterministic ordering
    by a regex-extracted, optionally casted key."""
    k = search(col, pattern, group)
    return k.cast(cast) if cast else k
