"""The aggregation EXPRESSION compiler: ``_expr``/``_expr_op`` (every
computed-value operator — arithmetic, string, array/HOF, date with
timezone support, $convert family), the ``$$var`` environment
machinery (``_ref``/``_root_env``), date-format translation, BSON
type introspection, the type-family bracketing helpers, the
``$sort``-spec array comparator (``_lookup_sort_cmp``) and the one
field-path resolver (``_field``). Leaf module: depends only on
``errors``. Split from sources/mongoql.py in r15."""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.errors import (  # noqa: E501
    UNSUPPORTED_EXPR_OPS,
    UnsupportedMongoStage,
)


_CMP = {"$eq": "__eq__", "$ne": "__ne__", "$gt": "__gt__", "$gte": "__ge__",
        "$lt": "__lt__", "$lte": "__le__"}

#: Mongo's documented default $trim whitespace set (wider than SQL's
#: plain space): null, tab, LF, VT, FF, CR, space, and the Unicode
#: space separators Mongo lists.
_TRIM_DEFAULT_CHARS = (
    "\x00\t\n\x0b\x0c\r \u00a0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007"
    "\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000")

#: Mongo startOfWeek day name -> Spark dayofweek index (1=Sun..7=Sat).
_WEEK_START = {"sunday": 1, "monday": 2, "tuesday": 3, "wednesday": 4,
               "thursday": 5, "friday": 6, "saturday": 7}

#: $bucketAuto granularity preferred-number series (Renard / 1-2-5 /
#: E-series bases; POWERSOF2 handled analytically). Lives here (leaf
#: module) so both the driver-side rounder (stages._gran_round, on
#: collected scalars) and the column-side snap (_gran_round_col, inside
#: a $lookup) share one table.
_GRAN_SERIES = {
    "R5": [1.0, 1.6, 2.5, 4.0, 6.3],
    "R10": [1.0, 1.25, 1.6, 2.0, 2.5, 3.15, 4.0, 5.0, 6.3, 8.0],
    "R20": [1.0, 1.12, 1.25, 1.4, 1.6, 1.8, 2.0, 2.24, 2.5, 2.8, 3.15,
            3.55, 4.0, 4.5, 5.0, 5.6, 6.3, 7.1, 8.0, 9.0],
    "R40": [1.0, 1.06, 1.12, 1.18, 1.25, 1.32, 1.4, 1.5, 1.6, 1.7, 1.8,
            1.9, 2.0, 2.12, 2.24, 2.36, 2.5, 2.65, 2.8, 3.0, 3.15, 3.35,
            3.55, 3.75, 4.0, 4.25, 4.5, 4.75, 5.0, 5.3, 5.6, 6.0, 6.3,
            6.7, 7.1, 7.5, 8.0, 8.5, 9.0, 9.5],
    "1-2-5": [1.0, 2.0, 5.0],
    "E6": [1.0, 1.5, 2.2, 3.3, 4.7, 6.8],
    "E12": [1.0, 1.2, 1.5, 1.8, 2.2, 2.7, 3.3, 3.9, 4.7, 5.6, 6.8, 8.2],
    "E24": [1.0, 1.1, 1.2, 1.3, 1.5, 1.6, 1.8, 2.0, 2.2, 2.4, 2.7, 3.0,
            3.3, 3.6, 3.9, 4.3, 4.7, 5.1, 5.6, 6.2, 6.8, 7.5, 8.2, 9.1],
}


def _gran_round_col(x: Column, series: str, up: bool) -> Column:
    """Column-expression image of the driver-side preferred-number
    rounder (``stages._gran_round``), for the $lookup lowering where
    boundaries are PER-KEY columns, not collected scalars. Same
    contract: ``up`` -> the series value STRICTLY greater than x,
    ``down`` -> strictly less; 0 maps to 0; a NEGATIVE value raises at
    RUNTIME via raise_error (the top-level stage raises at plan time —
    inside a join decomposition the check is data-dependent); null
    propagates. Same arithmetic shape (b * 10^(k+p), p in k±1) so both
    paths pick identical candidates."""
    tol = 1e-9
    err = F.raise_error(F.concat(
        F.lit("$bucketAuto granularity requires non-negative values; "
              "got "), x.cast("string")))
    if series == "POWERSOF2":
        e = F.log2(x)
        k = (F.floor(e + tol) + 1) if up else (F.ceil(e - tol) - 1)
        snapped = F.pow(F.lit(2.0), k)
        return (F.when(x == 0, F.lit(0.0)).when(x < 0, err)
                .otherwise(snapped))
    base = _GRAN_SERIES[series]
    k = F.floor(F.log10(x)).cast("double")

    def _scaled(p: float):
        # factory: F.transform lambdas must be SINGLE-ARG (bound
        # defaults make PySpark pass the element index)
        return F.transform(
            F.array(*[F.lit(float(b)) for b in base]),
            lambda b: b * F.pow(F.lit(10.0), k + F.lit(p)))

    cands = F.flatten(F.array(_scaled(-1.0), _scaled(0.0), _scaled(1.0)))
    if up:
        snapped = F.array_min(
            F.filter(cands, lambda c: c > x * F.lit(1 + tol)))
    else:
        # the driver rounder's fallback (no candidate below x) is
        # smallest-candidate/10 = 10^(k-1)/10; unreachable for x with
        # k = floor(log10 x), kept for exact parity
        snapped = F.coalesce(
            F.array_max(F.filter(cands, lambda c: c < x * F.lit(1 - tol))),
            F.pow(F.lit(10.0), k - 1) / F.lit(10.0))
    return (F.when(x == 0, F.lit(0.0)).when(x < 0, err)
            .otherwise(snapped))


def _gran_snap_edges(bnd: Column, series: str) -> Column:
    """Snap a sorted per-key percentile-boundary array ``[min, b1..,
    max]`` to the preferred-number series — the column image of the
    top-level ``_bucket_auto`` granularity path: ``[down(min)] +
    dedupe(up(interior) within (lo, hi) exclusive) + [up(max)]``.
    Monotone input keeps array_distinct's order-preserving dedupe
    sorted; the caller's existing clamp/elemAt machinery then assigns
    buckets off this array unchanged."""
    lo = _gran_round_col(F.get(bnd, 0), series, up=False)
    hi = _gran_round_col(F.get(bnd, F.size(bnd) - 1), series, up=True)
    interior = F.slice(bnd, 2, F.greatest(F.size(bnd) - 2, F.lit(0)))
    rb = F.array_distinct(F.filter(
        F.transform(interior,
                    lambda b: _gran_round_col(b, series, up=True)),
        lambda c: (c > lo) & (c < hi)))
    return F.concat(F.array(lo), rb, F.array(hi))


def _tz_literal(arg: dict) -> str | None:
    """Extract a Mongo ``timezone`` option — an Olson name or a
    ``(+|-)HH[:mm]`` offset, required to be a string LITERAL (Mongo
    allows expressions; a data-driven zone can't be verified at
    compile time, so the translator refuses it — raise, never
    guess)."""
    tz = arg.get("timezone")
    if tz is None:
        return None
    if not isinstance(tz, str) or not tz:
        raise ValueError(
            f"timezone must be a non-empty string literal (Olson name "
            f"or (+|-)HH:mm offset), got {tz!r}")
    return tz


def _tz_in(col: Column, tz: str | None) -> Column:
    """UTC instant -> wall clock in ``tz`` (no-op without a zone).
    Mongo dates are UTC instants; every zoned date operation is
    'shift to the zone's wall clock, operate, shift back'."""
    return F.from_utc_timestamp(col, tz) if tz else col


def _tz_out(col: Column, tz: str | None) -> Column:
    """Wall clock in ``tz`` -> UTC instant (no-op without a zone)."""
    return F.to_utc_timestamp(col, tz) if tz else col


def _date_operand(arg: Any, env: dict | None) -> Column:
    """Unwrap a date-part getter's operand: Mongo's long form
    ``{date: <expr>, timezone: <tz>}`` yields the date SHIFTED into
    the zone's wall clock (so the plain getter math is zone-correct);
    anything else evaluates as a bare expression."""
    if isinstance(arg, dict) and "date" in arg \
            and set(arg) <= {"date", "timezone"}:
        return _tz_in(_expr(arg["date"], env), _tz_literal(arg))
    return _expr(arg, env)


def _week_start_idx(name: Any) -> int:
    """Resolve a Mongo ``startOfWeek`` (full day name or 3-letter
    abbreviation, case-insensitive — Mongo's accepted forms) to
    Spark's ``dayofweek`` index. Raises on anything else (a typo'd
    day silently defaulting would shift every week boundary)."""
    if isinstance(name, str):
        low = name.lower()
        for full, idx in _WEEK_START.items():
            if low == full or low == full[:3]:
                return idx
    raise ValueError(f"invalid startOfWeek: {name!r} (day name or "
                     "3-letter abbreviation)")


def _ref(v: Any, env: dict | None = None) -> Column:
    """'$a.b' → the field it reads (:func:`_field`); '$$var[.path]' →
    a bound HOF/$let variable from ``env`` (with struct-field access on
    the tail); anything else → literal."""
    if isinstance(v, str) and v.startswith("$$"):
        name, _, rest = v[2:].partition(".")
        if name in ("ROOT", "CURRENT") and not (env and name in env):
            raise ValueError(
                f"$${name} is not bound in this expression context "
                "(stage-level $group/$project/$addFields/$match-$expr/"
                "$replaceRoot/$setWindowFields bind it); reference "
                "fields directly ('$field') here")
        if not env or name not in env:
            raise ValueError(f"unknown pipeline variable: $${name}")
        col = env[name]
        for part in (rest.split(".") if rest else []):
            col = col[part]
        return col
    if isinstance(v, str) and v.startswith("$"):
        return _field(v[1:], env)
    return F.lit(v)


def _regex_is_context_free(pat: str) -> bool:
    """True when every match of ``pat`` is determined by the matched
    text alone — no lookaround, no anchors, no word boundaries, no
    backreferences — so a substring re-search finds the same match
    sequence as the global matcher ($regexFindAll's idx position
    walk). Conservative by design: tokens inside character classes
    still disqualify (a false negative only omits idx; a false
    positive would mis-position it)."""
    import re as _re

    return not _re.search(
        r"""\(\?=      # lookahead
          | \(\?!      # negative lookahead
          | \(\?<[=!]  # lookbehind (NOT named groups '(?<name>')
          | (?<!\\)(?:\\\\)*(?<!\[)\^   # unescaped ^ (not class negation)
          | (?<!\\)(?:\\\\)*\$          # unescaped $
          | \\[bBAzZG] # word/text boundaries
          | \\[1-9]    # backreferences
          | \\k<       # named backreferences
        """, pat, _re.VERBOSE)


def _pcre_only_construct(pat: str) -> str | None:
    """Name the first PCRE-only construct in ``pat``, or None.

    Mongo's regex engine is PCRE; Spark's is ``java.util.regex``. The
    common subset — the overwhelming majority of real patterns — is
    identical, but a handful of PCRE constructs either fail to compile
    on the JVM (an opaque PatternSyntaxException deep inside a stage)
    or silently match differently. Detecting them at TRANSLATION time
    turns that into the translator's own ValueError naming the
    divergence and the rewrite (ADVICE r17).

    Detected: ``\\K`` match-start reset (JVM: illegal escape; PCRE
    resets the reported match), recursion/subroutine calls ``(?R)``
    ``(?n)`` ``(?&name)`` ``(?P>name)``, backtracking-control verbs
    ``(*SKIP)``/``(*FAIL)``/..., callouts ``(?C``, and branch-reset
    groups ``(?|``. The scanner honors escaping (``\\\\K`` is a literal
    backslash + K) and character classes (``[(*F)]`` is a class of
    literals — except ``\\K``, which diverges INSIDE a class too: PCRE
    reads a literal K, the JVM refuses the escape). Possessive
    quantifiers compile on both engines (edge semantics documented as a
    low-frequency divergence, not detectable syntactically)."""
    import re as _re

    i, n, in_class = 0, len(pat), False
    while i < n:
        c = pat[i]
        if c == "\\":
            if i + 1 < n and pat[i + 1] == "K":
                return r"\K (match-start reset)"
            i += 2
            continue
        if in_class:
            in_class = c != "]"
            i += 1
            continue
        if c == "[":
            in_class = True
            i += 1
            # leading ] (or ^]) is a literal inside a class
            if i < n and pat[i] == "^":
                i += 1
            if i < n and pat[i] == "]":
                i += 1
            continue
        if c == "(":
            rest = pat[i:]
            for probe, name in (
                    (r"\(\?R\)", "(?R) pattern recursion"),
                    (r"\(\?[0-9]+\)", "(?n) subpattern recursion"),
                    (r"\(\?&\w", "(?&name) subroutine call"),
                    (r"\(\?P>\w", "(?P>name) subroutine call"),
                    (r"\(\?C[0-9]*\)", "(?C) callout"),
                    (r"\(\?\|", "(?| branch-reset group"),
                    (r"\(\*\w+[):]", "(*VERB) backtracking control")):
                m = _re.match(probe, rest)
                if m:
                    return name
        i += 1
    return None


def _reject_pcre_only(pat: str, where: str) -> None:
    """Raise the translator's ValueError when ``pat`` uses a PCRE-only
    construct — BEFORE the JVM's PatternSyntaxException (or a silent
    match divergence) can surface mid-query."""
    desc = _pcre_only_construct(pat)
    if desc:
        raise ValueError(
            f"{where}: pattern {pat!r} uses the PCRE-only construct "
            f"{desc}, which Java regex (Spark's rlike/regexp_*) does "
            "not support — rewrite with Java-regex equivalents "
            "(lookbehind replaces \\K; unroll recursion; drop "
            "control verbs)")


def _expr(v: Any, env: dict | None = None) -> Column:
    """Aggregation EXPRESSION evaluator — the value language of
    ``$project`` computed fields, ``$addFields``/``$set`` and ``$group``
    accumulator arguments: field refs ('$a.b'), literals, and operator
    documents ({$cond}, {$ifNull}, {$concat}, arithmetic, expression
    comparisons, boolean combinators, array higher-order functions,
    date math), recursively. ``env`` carries lexically-scoped variable
    bindings ('$$x') introduced by $map/$filter/$reduce/$let — each
    binds Spark lambda variables, so HOF pipelines stay inside
    whole-stage codegen like the rest of the translator. An unknown
    $-operator raises ValueError (the translator's declared error
    class). A document whose keys carry NO $-prefix is Mongo's
    DOCUMENT LITERAL ({x: "$a", y: 1} in $project/$addFields) —
    a struct whose field values are themselves expressions; a
    multi-key document that MIXES $-keys with plain keys is rejected
    rather than guessed at."""
    if isinstance(v, dict):
        if len(v) == 1 and next(iter(v)).startswith("$"):
            (op, arg), = v.items()
            return _expr_op(op, arg, env)
        if v and not any(k.startswith("$") for k in v):
            return F.struct(*[_expr(x, env).alias(k)
                              for k, x in v.items()])
        raise ValueError(
            f"unsupported expression document: {v!r} (operator documents "
            "have exactly one $-key; literals and composite _ids have none)")
    return _ref(v, env)


def _expr_op(op: str, arg: Any, env: dict | None = None) -> Column:
    def args(n: int | None = None) -> list[Column]:
        if not isinstance(arg, list) or (n is not None and len(arg) != n):
            raise ValueError(
                f"{op} expects an array of {n if n else '>=1'} operands")
        if not arg:
            raise ValueError(f"{op} expects a non-empty operand array")
        return [_expr(x, env) for x in arg]

    def fold(cols, f):
        acc = cols[0]
        for c in cols[1:]:
            acc = f(acc, c)
        return acc

    if op == "$literal":
        return F.lit(arg)
    if op == "$cond":
        if isinstance(arg, dict):
            i, t, e = arg["if"], arg["then"], arg["else"]
        elif isinstance(arg, list) and len(arg) == 3:
            i, t, e = arg
        else:
            raise ValueError("$cond expects [if, then, else] or "
                             "{if, then, else}")
        return F.when(_expr(i, env), _expr(t, env)).otherwise(_expr(e, env))
    if op == "$ifNull":
        cols = args()
        if len(cols) < 2:
            raise ValueError("$ifNull expects at least 2 operands")
        return F.coalesce(*cols)
    if op == "$concat":
        return F.concat(*args())       # null-if-any-null, Mongo's rule
    if op == "$add":
        return fold(args(), lambda a, b: a + b)
    if op == "$multiply":
        return fold(args(), lambda a, b: a * b)
    if op == "$subtract":
        a, b = args(2)
        return a - b
    if op == "$divide":
        a, b = args(2)
        return a / b
    if op == "$mod":
        a, b = args(2)
        return a % b                   # dividend sign, Mongo/C semantics
    if op == "$abs":
        return F.abs(_expr(arg, env))
    if op in ("$min", "$max"):
        # EXPRESSION form (distinct from the $group accumulators,
        # r15): an operand LIST compares element-wise (least/greatest
        # — nulls ignored, all-null -> null, Mongo's rule); a single
        # operand resolving to an ARRAY reduces over it (array_min/
        # array_max, same null handling). Mongo's SINGLETON rule: a
        # single NON-array operand is the value itself — honored here
        # for the statically-knowable scalar forms (plain literals,
        # $literal, non-$ strings); a field-path/operator singleton
        # compiles to the array reduce (its type is unknown until
        # analysis), and a scalar there surfaces as the translator's
        # ValueError via the apply_pipeline conversion (r16 ADVICE)
        if not isinstance(arg, list) or len(arg) == 1:
            single = arg[0] if isinstance(arg, list) else arg
            scalar_literal = (
                not isinstance(single, (list, dict))
                and not (isinstance(single, str)
                         and single.startswith("$"))
            ) or (isinstance(single, dict) and set(single) == {"$literal"}
                  and not isinstance(single["$literal"], list))
            if scalar_literal:
                return _expr(single, env)
            return (F.array_min if op == "$min"
                    else F.array_max)(_expr(single, env))
        cols = [_expr(a, env) for a in arg]
        return (F.least if op == "$min" else F.greatest)(*cols)
    if op in ("$sum", "$avg"):
        # EXPRESSION form (r17; distinct from the $group/window
        # accumulators): an operand LIST adds/averages the values
        # element-wise with nulls ignored (Mongo's rule — $sum of
        # all-null is 0, $avg is null); a single operand resolving to
        # an ARRAY reduces over it, nulls dropped first, with the
        # accumulator's zero DERIVED from the array's own element type
        # (first-element × 0 — no literal-zero type guess, the $reduce
        # initialValue lesson), so long arrays sum as longs. Empty →
        # $sum 0 / $avg null. The singleton rules mirror $min/$max:
        # statically-knowable scalars return themselves ($sum) /
        # themselves ($avg of one value); a field-path singleton
        # compiles to the array reduce and a scalar there surfaces as
        # the structured singleton-rule ValueError (apply_pipeline).
        if not isinstance(arg, list) or len(arg) == 1:
            single = arg[0] if isinstance(arg, list) else arg
            scalar_literal = (
                not isinstance(single, (list, dict))
                and not (isinstance(single, str)
                         and single.startswith("$"))
            ) or (isinstance(single, dict) and set(single) == {"$literal"}
                  and not isinstance(single["$literal"], list))
            if scalar_literal:
                val = (single["$literal"] if isinstance(single, dict)
                       else single)
                if isinstance(val, bool) or not isinstance(
                        val, (int, float)):
                    # Mongo: non-numeric operands are ignored —
                    # $sum → 0, $avg → null
                    return (F.lit(0) if op == "$sum"
                            else F.lit(None).cast("double"))
                return _expr(single, env)
            aarr = _expr(single, env)
            nn = F.filter(aarr, lambda x: x.isNotNull())
            zero = F.get(nn, F.lit(0)) * F.lit(0)
            total = F.aggregate(nn, zero, lambda a, x: a + x)
            if op == "$sum":
                return F.coalesce(total, F.lit(0))
            return F.when(F.size(nn) > 0,
                          total / F.size(nn))
        cols = [_expr(a, env) for a in arg]
        if op == "$sum":
            return fold([F.coalesce(c, F.lit(0)) for c in cols],
                        lambda a, b: a + b)
        total = fold([F.coalesce(c, F.lit(0)) for c in cols],
                     lambda a, b: a + b)
        n = fold([F.when(c.isNotNull(), 1).otherwise(0) for c in cols],
                 lambda a, b: a + b)
        return F.when(n > 0, total / n)
    if op == "$toUpper":
        return F.upper(_expr(arg, env))
    if op == "$toLower":
        return F.lower(_expr(arg, env))
    if op in _CMP:                     # expression-form comparison
        a, b = args(2)
        return getattr(a, _CMP[op])(b)
    if op == "$and":
        return fold(args(), lambda a, b: a & b)
    if op == "$or":
        return fold(args(), lambda a, b: a | b)
    if op == "$not":
        inner = arg[0] if isinstance(arg, list) and len(arg) == 1 else arg
        return ~_expr(inner, env)
    if op == "$switch":
        if not isinstance(arg, dict) or "branches" not in arg:
            raise ValueError("$switch expects {branches: [...], default}")
        col = None
        for br in arg["branches"]:
            w = F.when(_expr(br["case"], env), _expr(br["then"], env))
            col = w if col is None else col.when(_expr(br["case"], env),
                                                 _expr(br["then"], env))
        if col is None:
            raise ValueError("$switch needs at least one branch")
        return col.otherwise(_expr(arg["default"], env)) if "default" in arg \
            else col
    # strings (codepoint semantics match Spark's character functions)
    if op == "$substrCP":
        s, start, length = args(3)
        return F.substring(s, start + F.lit(1), length)  # 0- -> 1-indexed
    if op == "$strLenCP":
        return F.length(_expr(arg, env))
    if op == "$strLenBytes":
        # UTF-8 byte length (octet_length), vs $strLenCP's code points
        return F.octet_length(_expr(arg, env))
    if op in ("$substrBytes", "$substr"):
        # byte-indexed substring ($substr is Mongo's deprecated alias).
        # Deviation, documented: slicing through the middle of a
        # multi-byte UTF-8 character yields replacement characters
        # where Mongo errors — binary substring has no validity check.
        s, start, length = args(3)
        return F.substring(s.cast("binary"), start + F.lit(1), length) \
            .cast("string")
    if op == "$split":
        s, delim = args(2)
        # Mongo splits on a LITERAL delimiter; split() takes a regex —
        # a field-ref delimiter ('$col') can't be regex-escaped per row
        if not (isinstance(arg, list) and isinstance(arg[1], str)
                and not arg[1].startswith("$")):
            raise ValueError("$split delimiter must be a string literal")
        import re as _re
        return F.split(s, _re.escape(arg[1]))
    if op in ("$trim", "$ltrim", "$rtrim"):
        # chars honored (r14 — previously silently ignored); the
        # default set is Mongo's documented whitespace list, wider
        # than Spark's plain-space default
        fn = {"$trim": F.trim, "$ltrim": F.ltrim, "$rtrim": F.rtrim}[op]
        inp = _expr(arg["input"] if isinstance(arg, dict) else arg, env)
        chars = (_expr(arg["chars"], env)
                 if isinstance(arg, dict) and "chars" in arg
                 else F.lit(_TRIM_DEFAULT_CHARS))
        return fn(inp, chars)
    # arrays
    if op == "$size":
        return F.size(_expr(arg, env))
    if op == "$arrayElemAt":
        a, idx = args(2)
        # Mongo: 0-indexed, negative from the end, out-of-range -> missing.
        # element_at is 1-indexed and ANSI-errors out of range; get() is
        # 0-indexed and null-safe but positive-only — branch on sign.
        n = F.size(a)
        return F.when(idx >= 0, F.get(a, idx)).otherwise(F.get(a, n + idx))
    if op == "$in":
        v, array = args(2)
        return F.array_contains(array, v)
    # dates — every part getter accepts Mongo's long form
    # {date, timezone} (r14): the operand arrives pre-shifted into the
    # zone's wall clock, so the part math below is zone-correct as-is
    if op in ("$year", "$month", "$dayOfMonth", "$hour", "$minute",
              "$second"):
        fn = {"$year": F.year, "$month": F.month,
              "$dayOfMonth": F.dayofmonth, "$hour": F.hour,
              "$minute": F.minute, "$second": F.second}[op]
        return fn(_date_operand(arg, env))
    if op == "$dayOfWeek":       # 1 = Sunday .. 7 = Saturday, both engines
        return F.dayofweek(_date_operand(arg, env))
    if op == "$isoDayOfWeek":    # 1 = Monday .. 7 = Sunday
        return ((F.dayofweek(_date_operand(arg, env)) + 5) % 7) + 1
    if op == "$dayOfYear":
        return F.dayofyear(_date_operand(arg, env))
    if op == "$isoWeek":         # Spark's weekofyear IS the ISO week
        return F.weekofyear(_date_operand(arg, env))
    if op == "$week":
        # Mongo's Sunday-based week-of-year: week 1 begins at the
        # first Sunday; earlier days are week 0. Closed form, no
        # branch: floor((dayOfYear + 6 - daysSinceSunday) / 7), where
        # daysSinceSunday = dayofweek - 1 (Spark: 1=Sunday..7=Saturday)
        d = _date_operand(arg, env)
        return F.floor(
            (F.dayofyear(d) + 6 - (F.dayofweek(d) - 1)) / 7).cast("int")
    if op == "$isoWeekYear":
        # ISO week-numbering year = calendar year of that week's
        # THURSDAY (the classic trick — no extract(YEAROFWEEK) needed,
        # stays a plain column expression): shift the date to its ISO
        # Thursday (iso_dow 4) and take the year
        d = _date_operand(arg, env).cast("date")
        iso_dow = ((F.dayofweek(d) + 5) % 7) + 1
        return F.year(F.date_add(d, (F.lit(4) - iso_dow).cast("int")))
    if op == "$millisecond":
        return F.date_format(_date_operand(arg, env), "SSS").cast("int")
    if op == "$dateFromParts":
        if isinstance(arg, dict) and "isoWeekYear" in arg:
            raise ValueError("$dateFromParts ISO-week form is "
                             "unsupported — use the calendar parts")
        if not isinstance(arg, dict) or "year" not in arg:
            raise ValueError("$dateFromParts expects {year[, month, day, "
                             "hour, minute, second, millisecond]}")
        def part(name, default):
            return (_expr(arg[name], env) if name in arg
                    else F.lit(default))
        # Mongo CARRIES out-of-range parts (month 14 -> next February,
        # day 0 -> last day of the previous month, hour 25 -> next
        # day): build year-01-01 00:00 and ADD each part as an offset —
        # the additive chain is exactly Mongo's carry rule (each part
        # offsets the date the larger parts produced), where
        # make_timestamp would raise. r14: closes the documented
        # carry deviation; only year must be in range (Mongo: 1-9999).
        ts = F.make_timestamp(
            part("year", 0).cast("int"), F.lit(1), F.lit(1),
            F.lit(0), F.lit(0), F.lit(0.0))
        ts = F.timestamp_add("month",
                             (part("month", 1) - 1).cast("int"), ts)
        ts = F.timestamp_add("day", (part("day", 1) - 1).cast("int"), ts)
        ts = F.timestamp_add("hour", part("hour", 0).cast("int"), ts)
        ts = F.timestamp_add("minute", part("minute", 0).cast("int"), ts)
        us = (part("second", 0).cast("double") * 1_000_000.0
              + part("millisecond", 0).cast("double") * 1_000.0)
        ts = F.timestamp_add("microsecond",
                             F.round(us, 0).cast("long"), ts)
        # the parts describe a WALL CLOCK in `timezone` (r14) — shift
        # the built timestamp back to the UTC instant Mongo stores
        return _tz_out(ts, _tz_literal(arg))
    if op == "$dateToParts":
        if not isinstance(arg, dict) or "date" not in arg:
            raise ValueError("$dateToParts expects {date}")
        if arg.get("iso8601"):
            d = _tz_in(_expr(arg["date"], env), _tz_literal(arg))
            iso_dow = ((F.dayofweek(d) + 5) % 7) + 1
            thu = F.date_add(d.cast("date"),
                             (F.lit(4) - iso_dow).cast("int"))
            return F.struct(
                F.year(thu).alias("isoWeekYear"),
                F.weekofyear(d).alias("isoWeek"),
                iso_dow.alias("isoDayOfWeek"),
                F.hour(d).alias("hour"), F.minute(d).alias("minute"),
                F.second(d).alias("second"),
                F.date_format(d, "SSS").cast("int").alias("millisecond"))
        d = _tz_in(_expr(arg["date"], env), _tz_literal(arg))
        return F.struct(
            F.year(d).alias("year"), F.month(d).alias("month"),
            F.dayofmonth(d).alias("day"), F.hour(d).alias("hour"),
            F.minute(d).alias("minute"), F.second(d).alias("second"),
            F.date_format(d, "SSS").cast("int").alias("millisecond"))
    if op == "$dateToString":
        if not isinstance(arg, dict) or "date" not in arg:
            raise ValueError("$dateToString expects {date, format}")
        fmt = arg.get("format", "%Y-%m-%dT%H:%M:%S.%LZ")
        raw = _expr(arg["date"], env)
        d = _tz_in(raw, _tz_literal(arg))

        def with_on_null(col: Column) -> Column:
            if "onNull" in arg:
                return F.when(raw.isNull(),
                              _expr(arg["onNull"], env)
                              .try_cast("string")).otherwise(col)
            return col

        if not any(s in fmt for s in _COMPUTED_SPECIFIERS):
            return with_on_null(F.date_format(d, _mongo_date_format(fmt)))
        # week-family specifiers have no SimpleDateFormat letter with
        # Mongo's semantics (Spark 3+ removed week patterns; %U is
        # Sunday-based) — split the format at them and concat plain
        # date_format segments with the computed parts (r14)
        pieces: list[Column] = []
        buf: list[str] = []

        def flush():
            if buf:
                pieces.append(
                    F.date_format(d, _mongo_date_format("".join(buf))))
                buf.clear()

        i = 0
        while i < len(fmt):
            if fmt[i] == "%":
                spec = fmt[i:i + 2]
                if spec in _COMPUTED_SPECIFIERS:
                    flush()
                    pieces.append(_computed_specifier(spec, d))
                else:
                    buf.append(spec)   # validated by _mongo_date_format
                i += 2
            else:
                buf.append(fmt[i])
                i += 1
        flush()
        return with_on_null(F.concat(*pieces))
    if op == "$dateFromString":
        if not isinstance(arg, dict) or "dateString" not in arg:
            raise ValueError("$dateFromString expects {dateString[, format]}")
        inp = _expr(arg["dateString"], env)
        soft = "onError" in arg      # unparseable -> onError, not abort
        fmt = (_mongo_date_format(arg["format"]) if "format" in arg
               else None)
        # API asymmetry: to_timestamp takes the pattern as a str;
        # try_to_timestamp takes ColumnOrName (a bare str would be
        # read as a COLUMN NAME) — pass each what it wants
        if fmt is not None:
            parsed = (F.try_to_timestamp(inp, F.lit(fmt)) if soft
                      else F.to_timestamp(inp, fmt))
        else:
            parsed = F.try_to_timestamp(inp) if soft \
                else F.to_timestamp(inp)
        # the string is a WALL CLOCK in `timezone` — shift to the UTC
        # instant (Mongo ignores the option when the string itself
        # carries an offset; formats here carry none, %z is not in
        # the specifier table)
        out = _tz_out(parsed, _tz_literal(arg))
        # fallbacks unify to TIMESTAMP (the $convert discipline —
        # Mongo returns them as-is, but a rectangular column needs
        # one type; try_cast keeps ANSI from re-aborting)
        if soft:
            out = F.when(inp.isNotNull() & out.isNull(),
                         _expr(arg["onError"], env).try_cast("timestamp")
                         ).otherwise(out)
        if "onNull" in arg:
            out = F.when(inp.isNull(),
                         _expr(arg["onNull"], env).try_cast("timestamp")
                         ).otherwise(out)
        return out
    # numeric
    if op == "$floor":
        return F.floor(_expr(arg, env))
    if op == "$ceil":
        return F.ceil(_expr(arg, env))
    if op == "$round":
        if isinstance(arg, list) and len(arg) == 2 \
                and isinstance(arg[1], int):
            return F.round(_expr(arg[0], env), arg[1])
        return F.round(_expr(arg[0] if isinstance(arg, list) else arg, env), 0)
    if op == "$sqrt":
        return F.sqrt(_expr(arg, env))
    if op == "$pow":
        a, b = args(2)
        return F.pow(a, b)
    if op == "$ln":
        return F.log(_expr(arg, env))
    if op == "$log10":
        return F.log10(_expr(arg, env))
    if op == "$log":
        a, b = args(2)        # [number, base]
        return F.log(a) / F.log(b)
    if op == "$exp":
        return F.exp(_expr(arg, env))
    if op == "$trunc":
        if isinstance(arg, list) and len(arg) == 2 \
                and isinstance(arg[1], int):
            # truncate toward zero at `place` decimal digits, in pure
            # double math: s - s % 1.0 drops the fraction with the
            # dividend's sign (Java %), so it never overflows the way
            # a long cast does for |x| > ~9.2e18/10^p — beyond 2^53
            # s % 1.0 is 0 and the value passes through, exactly
            # Mongo's double behavior
            scale = 10 ** arg[1]
            s = _expr(arg[0], env) * scale
            return (s - s % F.lit(1.0)) / F.lit(scale)
        x = _expr(arg[0] if isinstance(arg, list) else arg, env)
        return x.cast("long")
    _TRIG = {"$sin": F.sin, "$cos": F.cos, "$tan": F.tan,
             "$asin": F.asin, "$acos": F.acos, "$atan": F.atan,
             "$sinh": F.sinh, "$cosh": F.cosh, "$tanh": F.tanh,
             "$degreesToRadians": F.radians,
             "$radiansToDegrees": F.degrees}
    if op in _TRIG:
        return _TRIG[op](_expr(arg, env))
    if op == "$atan2":
        a, b = args(2)
        return F.atan2(a, b)
    # type conversion (Mongo $convert's common shorthands)
    if op in ("$toInt", "$toLong", "$toDouble", "$toString", "$toBool"):
        t = {"$toInt": "int", "$toLong": "long", "$toDouble": "double",
             "$toString": "string", "$toBool": "boolean"}[op]
        return _expr(arg, env).cast(t)
    if op == "$toDate":
        return _mongo_to_date(_expr(arg, env))
    # array higher-order functions — Spark lambda functions, so the
    # per-element logic runs inside codegen, never a Python UDF
    if op == "$__granSnap":
        # INTERNAL (translator-generated — $bucketAuto granularity in
        # a $lookup sub-pipeline, lookup._bucket_auto_as_stages): snap
        # a per-key percentile boundary array to the preferred-number
        # series. The __ prefix marks it out of the public Mongo
        # grammar, like the __ column namespace.
        series = arg["granularity"]
        if series != "POWERSOF2" and series not in _GRAN_SERIES:
            raise ValueError(
                f"unsupported $bucketAuto granularity {series!r} "
                f"(supported: {sorted(_GRAN_SERIES) + ['POWERSOF2']})")
        return _gran_snap_edges(_expr(arg["input"], env), series)
    if op == "$map":
        var = arg.get("as", "this")
        return F.transform(
            _expr(arg["input"], env),
            lambda x: _expr(arg["in"], {**(env or {}), var: x}))
    if op == "$filter":
        var = arg.get("as", "this")
        out = F.filter(
            _expr(arg["input"], env),
            lambda x: _expr(arg["cond"], {**(env or {}), var: x}))
        if "limit" in arg:
            out = F.slice(out, 1, _expr(arg["limit"], env))
        return out
    if op == "$reduce":
        return F.aggregate(
            _expr(arg["input"], env), _expr(arg["initialValue"], env),
            lambda acc, x: _expr(arg["in"],
                                 {**(env or {}), "value": acc, "this": x}))
    if op == "$let":
        # Mongo resolves every vars expression against the OUTER scope
        # (a var shadowing an outer binding must not be visible to its
        # sibling vars — sequential scoping would silently change
        # results); only 'in' sees the new bindings
        bound = {name: _expr(vexpr, env)
                 for name, vexpr in arg["vars"].items()}
        return _expr(arg["in"], {**(env or {}), **bound})
    if op == "$range":
        ops = args()
        s, e = ops[0], ops[1]
        st = ops[2] if len(ops) == 3 else F.lit(1)
        # Mongo: end-EXCLUSIVE, and an unwalkable range (step 0 / wrong
        # sign / s == e) is EMPTY; Spark sequence is end-inclusive and
        # ERRORS on those — so substitute safe arguments when invalid
        # and let the element filter erase everything (single
        # expression, no typed-empty-array branch to coerce)
        valid = (st != 0) & (((e > s) & (st > 0)) | ((e < s) & (st < 0)))
        seq = F.sequence(F.when(valid, s).otherwise(F.lit(0)),
                         F.when(valid, e).otherwise(F.lit(0)),
                         F.when(valid, st).otherwise(F.lit(1)))
        return F.filter(seq, lambda x: valid &
                        F.when(st > 0, x < e).otherwise(x > e))
    if op == "$concatArrays":
        return F.concat(*args())
    if op == "$reverseArray":
        return F.reverse(_expr(arg, env))
    if op == "$indexOfArray":
        a, v = args(2)       # 0-based; -1 when absent (array_position+1)
        return (F.array_position(a, v) - 1).cast("int")
    if op == "$first":
        return F.get(_expr(arg, env), 0)
    if op == "$last":
        a = _expr(arg, env)
        return F.get(a, F.size(a) - 1)
    if op == "$slice":
        ops = args()
        if len(ops) == 2:
            a, n = ops
            # n >= 0: first n; n < 0: last n (Mongo's 2-arg form).
            # Mongo CLAMPS |n| to the array size; Spark's slice returns
            # [] when the negative start is out of range — clamp it,
            # and pin start to -1 for EMPTY arrays (start 0 is a Spark
            # runtime error; -1 on empty yields [], Mongo's answer)
            start = F.least(F.lit(-1), F.greatest(-F.size(a), n))
            return F.when(n >= 0, F.slice(a, 1, n)) \
                .otherwise(F.slice(a, start, -n))
        if len(ops) == 3:
            a, pos, n = ops
            # 3-arg: position may be negative (from the end), n > 0;
            # Spark's slice start is 1-based / negative-from-end too.
            # Mongo CLAMPS a negative position beyond the length to the
            # array start ({$slice: [[1,2,3], -10, 2]} -> [1,2]) where
            # Spark returns [] — clamp like the 2-arg branch, with the
            # same -1 pin so empty arrays never hit Spark's illegal
            # start-0 (and still yield [], Mongo's answer)
            neg = F.least(F.lit(-1), F.greatest(-F.size(a), pos))
            return F.slice(a, F.when(pos >= 0, pos + 1).otherwise(neg), n)
        raise ValueError("$slice expects [array, n] or [array, pos, n]")
    if op == "$mergeObjects":
        # expression form, the [struct, doc-literal...] subset: later
        # operands must be document literals, each field grafted with
        # withField (later fields overwrite — Mongo's rule). Covers the
        # classic $replaceWith {$mergeObjects: ["$$ROOT", {...}]}
        # idiom. Merging two OPAQUE struct columns needs runtime field
        # iteration Spark expressions don't have — raise. Deviation,
        # documented: a NULL base stays NULL (withField semantics);
        # Mongo ignores null operands.
        if not isinstance(arg, list) or not arg:
            raise ValueError("$mergeObjects expects a non-empty array")
        base = _expr(arg[0], env)
        for part in arg[1:]:
            if not isinstance(part, dict) \
                    or any(k.startswith("$") for k in part):
                raise ValueError(
                    "$mergeObjects operands after the first must be "
                    "document literals ({field: expr}) — merging two "
                    "opaque documents has no expression lowering")
            for k2, v2 in part.items():
                if "." in k2:
                    raise ValueError(
                        f"$mergeObjects nested path {k2!r} unsupported")
                base = base.withField(k2, _expr(v2, env))
        return base
    if op == "$sortArray":
        # scalar arrays (or whole-struct element order): sort_array
        # handles both; a sortBy DOCUMENT selecting specific fields /
        # mixed directions is not expressible in one expression — raise
        sb = arg["sortBy"]
        if isinstance(sb, dict):
            # doc-array sort ({field: ±1, ...}): array_sort with the
            # per-field asc/desc comparator (BSON null-first ordering,
            # whole-doc tiebreak) — the same machinery as the $lookup
            # terminal-$sort lowering, one JVM expression
            if not sb or any("." in f for f in sb):
                raise ValueError(
                    "$sortArray sortBy documents need non-empty "
                    "top-level field names (no dotted paths)")
            return F.array_sort(
                _expr(arg["input"], env),
                _lookup_sort_cmp({f: int(d) for f, d in sb.items()}))
        return F.sort_array(_expr(arg["input"], env), int(sb) == 1)
    if op == "$zip":
        inputs = arg["inputs"]
        if not isinstance(inputs, list) or len(inputs) < 2:
            raise ValueError("$zip needs an inputs list of 2+ arrays")
        arrs = [_expr(x, env) for x in inputs]
        if arg.get("useLongestLength"):
            # pad to the LONGEST input with the per-input defaults
            # (null without `defaults`, Mongo's rule): concat each
            # input with array_repeat(default, deficit) — genuine null
            # ELEMENTS inside the shorter array stay null, only
            # positions beyond its length take the default; no index
            # arithmetic, no ANSI out-of-bounds edge
            dflt = arg.get("defaults")
            if dflt is not None and (not isinstance(dflt, list)
                                     or len(dflt) != len(arrs)):
                raise ValueError(
                    "$zip defaults must list one value per input")
            ds = ([_expr(d, env) for d in dflt] if dflt
                  else [F.lit(None)] * len(arrs))
            n = F.greatest(*[F.size(a) for a in arrs])
            padded = [F.concat(a, F.array_repeat(d, n - F.size(a)))
                      for a, d in zip(arrs, ds)]
        else:
            # Mongo zips to the SHORTEST input; zip_with pads with
            # null — slice all to the common length first
            n = F.least(*[F.size(a) for a in arrs])
            padded = [F.slice(a, 1, n) for a in arrs]
        # arity 3+ (r14): left-fold binary zip_with, appending each
        # further input's element to the growing per-position array —
        # k-1 chained JVM lambda expressions, still one projection
        out = F.zip_with(padded[0], padded[1],
                         lambda x, y: F.array(x, y))
        for nxt in padded[2:]:
            out = F.zip_with(out, nxt,
                             lambda xs, y: F.concat(xs, F.array(y)))
        return out
    if op == "$cmp":
        # BSON total order ranks null/missing BELOW numbers/strings,
        # so $cmp(null, 1) is -1, not null
        a, b = args(2)
        return (F.when(a.isNull() & b.isNull(), 0)
                .when(a.isNull(), -1)
                .when(b.isNull(), 1)
                .when(a < b, -1).when(a > b, 1)
                .when(a == b, 0))
    if op == "$strcasecmp":
        # same BSON null ordering: null sorts below any string
        a, b = args(2)
        a, b = F.upper(a), F.upper(b)
        return (F.when(a.isNull() & b.isNull(), 0)
                .when(a.isNull(), -1)
                .when(b.isNull(), 1)
                .when(a < b, -1).when(a > b, 1)
                .when(a == b, 0))
    if op == "$rand":
        return F.rand()
    if op == "$getField":
        # static-name subset; bare-string form reads the current doc
        if isinstance(arg, str):
            return _field(arg, env)
        fld = arg["field"]
        if not isinstance(fld, str):
            raise ValueError("$getField needs a literal field name")
        return _expr(arg["input"], env)[fld] if "input" in arg \
            else _field(fld, env)
    if op == "$setField":
        fld = arg["field"]
        if not isinstance(fld, str):
            raise ValueError("$setField needs a literal field name")
        target = _expr(arg["input"], env)
        val = _expr(arg["value"], env)
        return target.withField(fld, val)
    if op == "$convert":
        to = arg["to"]
        types = {"int": "int", "long": "long", "double": "double",
                 "string": "string", "bool": "boolean",
                 "date": "timestamp", "decimal": "decimal(38,10)"}
        if to not in types:
            raise ValueError(f"unsupported $convert target: {to!r}")
        inp = _expr(arg["input"], env)
        if to == "date":
            # Mongo's number→date rule is millis-since-epoch, not the
            # SQL seconds cast (r14) — shared with $toDate
            cast = _mongo_to_date(inp, use_try="onError" in arg)
        elif "onError" in arg:
            cast = inp.try_cast(types[to])
        else:
            cast = inp.cast(types[to])
        out = cast
        # Deviation, documented: Mongo returns onError/onNull values
        # AS-IS (heterogeneous result); a rectangular engine must unify
        # the branch types, so both fallbacks are try_cast to the
        # TARGET type — otherwise Spark's CASE-WHEN coercion could pick
        # the FALLBACK's type and re-cast the converted input under
        # ANSI (fuzz-found: to:'string' + onError:-1 made the string
        # branch cast to BIGINT and abort on unparseable input)
        if "onError" in arg:
            # only a FAILED conversion takes onError — null input does
            # not count as an error in Mongo
            out = F.when(inp.isNotNull() & cast.isNull(),
                         _expr(arg["onError"], env).try_cast(types[to])
                         ).otherwise(cast)
        if "onNull" in arg:
            out = F.when(inp.isNull(),
                         _expr(arg["onNull"], env).try_cast(types[to])
                         ).otherwise(out)
        return out
    if op == "$objectToArray":
        # MAP columns: entries as {k, v} docs (Mongo's shape). Struct
        # columns have no runtime field iteration in one expression —
        # Spark's analyzer raises on the type mismatch with a clear
        # message, the documented contract.
        return F.transform(
            F.map_entries(_expr(arg, env)),
            lambda e: F.struct(e["key"].alias("k"),
                               e["value"].alias("v")))
    if op == "$arrayToObject":
        inner = arg[0] if isinstance(arg, list) and len(arg) == 1 else arg
        return F.map_from_entries(F.transform(
            _expr(inner, env),
            lambda e: F.struct(e["k"], e["v"])))
    if op in ("$setUnion", "$setIntersection", "$setDifference"):
        fn = {"$setUnion": F.array_union,
              "$setIntersection": F.array_intersect,
              "$setDifference": F.array_except}[op]
        # set semantics: deduped, order unspecified in Mongo — pinned
        # sorted (the translator's determinism convention)
        return F.sort_array(F.array_distinct(fold(args(), fn)))
    if op == "$allElementsTrue":
        inner = arg[0] if isinstance(arg, list) and len(arg) == 1 else arg
        return F.forall(_expr(inner, env), lambda x: x.cast("boolean"))
    if op == "$anyElementTrue":
        inner = arg[0] if isinstance(arg, list) and len(arg) == 1 else arg
        return F.exists(_expr(inner, env), lambda x: x.cast("boolean"))
    # strings (regex + search/replace)
    if op == "$regexMatch":
        pat = arg["regex"]
        if not isinstance(pat, str):
            raise ValueError("$regexMatch regex must be a string literal")
        opts = arg.get("options", "")
        if set(opts) - set("imsx"):
            raise ValueError(f"unsupported $regexMatch options: {opts!r}")
        # Java regex, not PCRE — the common subset is identical;
        # detectable PCRE-only constructs are refused by name here
        # (r17); possessive-quantifier edge semantics remain the one
        # documented silent deviation
        _reject_pcre_only(pat, "$regexMatch")
        if opts:
            pat = f"(?{opts}){pat}"
        return _expr(arg["input"], env).rlike(pat)
    if op in ("$regexFind", "$regexFindAll"):
        import re as _re

        pat = arg["regex"]
        if not isinstance(pat, str):
            raise ValueError(f"{op} regex must be a string literal")
        opts = arg.get("options", "")
        if set(opts) - set("imsx"):
            raise ValueError(f"unsupported {op} options: {opts!r}")
        _reject_pcre_only(pat, op)
        ngroups = _re.compile(pat).groups
        if opts:
            pat = f"(?{opts}){pat}"
        inp = _expr(arg["input"], env)
        # Deviation, documented: captures that matched EMPTY map to
        # null like unmatched ones (regexp_extract returns '' for both).
        caps = F.array(*[
            F.nullif(F.regexp_extract(inp, pat, i + 1), F.lit(""))
            for i in range(ngroups)]).cast("array<string>")
        if op == "$regexFind":
            pos = F.regexp_instr(inp, F.lit(pat))
            return F.when(pos > 0, F.struct(
                F.regexp_extract(inp, pat, 0).alias("match"),
                (pos - 1).cast("int").alias("idx"),
                caps.alias("captures")))
        # Mongo: a null/missing input finds NOTHING — empty array
        matches = F.coalesce(F.regexp_extract_all(inp, F.lit(pat), 0),
                             F.array().cast("array<string>"))
        # Per-match captures are extracted POSITIONALLY from the
        # ORIGINAL input — one aligned array per group,
        # regexp_extract_all(inp, pat, j+1) runs the same matcher loop
        # as the match array so lengths align — never by re-matching
        # the pattern against the isolated match text, which silently
        # rebinds or fails for context-dependent patterns
        # (lookaround/anchors/alternation — r13 ADVICE).
        garrs = [F.regexp_extract_all(inp, F.lit(pat), j + 1)
                 for j in range(ngroups)]

        def caps_at(i: Column) -> Column:
            if ngroups == 0:
                return F.array().cast("array<string>")
            return F.array(*[
                F.nullif(F.element_at(g, i + F.lit(1)), F.lit(""))
                for g in garrs]).cast("array<string>")

        if _regex_is_context_free(pat):
            # Per-match idx via a sequential position walk: each step
            # re-searches the REMAINDER of the input (substring from
            # the previous match's end), so the k-th hit's absolute
            # position is offset + relative regexp_instr. Sound only
            # for context-free patterns — the guard below — because a
            # substring search must find the same match sequence as
            # the global matcher. Zero-length matches advance by one,
            # the Java matcher's own rule, keeping the walk aligned
            # with regexp_extract_all. O(matches × remaining-length)
            # per row — the document-scan shapes this serves are
            # bounded by doc length, and the walk stays JVM-side
            # codegen (the JPEG-SOF aggregate() trick).
            walk = F.aggregate(
                matches,
                F.struct(F.lit(0).alias("off"),
                         F.array().cast("array<int>").alias("idxs")),
                lambda acc, m: F.struct(
                    (acc["off"]
                     + F.regexp_instr(
                         F.substring(inp, acc["off"] + 1, F.length(inp)),
                         F.lit(pat)) - 1
                     + F.greatest(F.length(m), F.lit(1))
                     ).cast("int").alias("off"),
                    F.concat(acc["idxs"], F.array(
                        (acc["off"] + F.regexp_instr(
                            F.substring(inp, acc["off"] + 1,
                                        F.length(inp)),
                            F.lit(pat)) - 1).cast("int"))).alias("idxs")))
            idxs = walk["idxs"]
            return F.transform(matches, lambda m, i: F.struct(
                m.alias("match"),
                F.element_at(idxs, i + F.lit(1)).alias("idx"),
                caps_at(i).alias("captures")))
        # Context-dependent pattern (lookaround/anchor/\b/backref): a
        # substring walk would mis-position matches whose context the
        # cut removed, so the struct omits idx — reading .idx fails
        # loudly at analysis, never silently (documented deviation).
        return F.transform(matches, lambda m, i: F.struct(
            m.alias("match"),
            caps_at(i).alias("captures")))
    if op == "$indexOfCP":
        ops = args()
        if len(ops) == 2:
            s, sub = ops          # 0-based; -1 when absent (instr's
            # 1-based 0-when-missing maps exactly under the -1 shift)
            return (F.call_function("instr", s, sub) - 1).cast("int")
        if len(ops) in (3, 4):
            # range form: search within [start, end) — locate() from
            # the 1-based start; an end bound truncates the haystack
            # so the match must lie FULLY inside the range (the
            # documented interpretation of Mongo's end index)
            s, sub = ops[0], ops[1]
            start = ops[2].cast("int")
            if len(ops) == 4:
                s = F.substring(s, 1, ops[3].cast("int"))
            pos = F.call_function("locate", sub, s, start + F.lit(1))
            return (pos - 1).cast("int")
    if op == "$indexOfBytes":
        ops = args()
        if len(ops) != 2:
            raise ValueError(
                "$indexOfBytes supports the 2-arg form only — the "
                "range form's byte offsets need byte-sliced haystacks; "
                "use $indexOfCP for code-point ranges")
        # byte index = UTF-8 length of the prefix BEFORE the match
        # (0-based; -1 when absent) — instr gives the code-point
        # position, octet_length(left(...)) converts it to bytes
        s, sub = ops
        cp = F.call_function("instr", s, sub)   # 1-based, 0 = missing
        return F.when(cp == 0, F.lit(-1)).otherwise(
            F.octet_length(F.substring(s, 1, (cp - 1).cast("int")))
        ).cast("int")
    if op == "$binarySize":
        # UTF-8 byte size of a string / length of a binary payload
        return F.octet_length(_expr(arg, env)).cast("int")
    if op == "$replaceAll":
        # LITERAL find/replace, Mongo's contract — F.replace is
        # literal (regexp_replace would reinterpret the pattern)
        return F.replace(_expr(arg["input"], env),
                         _expr(arg["find"], env),
                         _expr(arg["replacement"], env))
    if op == "$replaceOne":
        s = _expr(arg["input"], env)
        find = _expr(arg["find"], env)
        repl = _expr(arg["replacement"], env)
        pos = F.instr(s, find)
        return F.when(pos == 0, s).otherwise(F.concat(
            F.substring(s, F.lit(1), pos - 1), repl,
            F.substring(s, pos + F.length(find),
                        F.length(s))))
    # date math
    if op == "$dateTrunc":
        if arg.get("binSize", 1) != 1:
            raise ValueError("$dateTrunc binSize != 1 is unsupported")
        unit = arg["unit"]
        if unit not in ("year", "quarter", "month", "week", "day",
                        "hour", "minute", "second", "millisecond"):
            raise ValueError(f"unsupported $dateTrunc unit: {unit!r}")
        tz = _tz_literal(arg)
        if unit == "week":
            # Mongo weeks default to SUNDAY start (startOfWeek option
            # for any other day); Spark's date_trunc('week') is pinned
            # Monday — truncate to day and step back to the week-start
            # day instead (r14: closes the week-start deviation)
            idx = _week_start_idx(arg.get("startOfWeek", "sunday"))
            day = F.to_date(_tz_in(_expr(arg["date"], env), tz))
            back = (F.dayofweek(day) - F.lit(idx) + 7) % 7
            return _tz_out(
                F.date_sub(day, back.cast("int")).cast("timestamp"), tz)
        # zoned truncation: boundaries are the ZONE's wall-clock
        # boundaries; the result is the UTC instant of that boundary
        return _tz_out(
            F.date_trunc(unit, _tz_in(_expr(arg["date"], env), tz)), tz)
    if op in ("$dateAdd", "$dateSubtract"):
        unit = arg["unit"]
        if unit not in ("year", "quarter", "month", "week", "day",
                        "hour", "minute", "second", "millisecond",
                        "microsecond"):
            raise ValueError(f"unsupported {op} unit: {unit!r}")
        amt = _expr(arg["amount"], env)
        if op == "$dateSubtract":
            amt = -amt
        start = _expr(arg["startDate"], env)
        tz = _tz_literal(arg)
        if tz and unit in ("year", "quarter", "month", "week", "day"):
            # Mongo: for day-or-larger units the arithmetic is the
            # ZONE's calendar (a +1 day across a DST change keeps the
            # wall-clock time); hour and below stay absolute instants
            return _tz_out(
                F.timestamp_add(unit, amt, _tz_in(start, tz)), tz)
        return F.timestamp_add(unit, amt, start)
    if op == "$dateDiff":
        unit = arg["unit"]
        if unit not in ("year", "quarter", "month", "week", "day",
                        "hour", "minute", "second"):
            raise ValueError(f"unsupported $dateDiff unit: {unit!r}")
        # Mongo counts BOUNDARY CROSSINGS, not complete intervals:
        # dateDiff(23:00, next day 01:00, 'day') == 1. truncate both
        # ends to the unit, then count whole units between truncations.
        tz = _tz_literal(arg)
        if unit == "week":
            # week boundaries follow startOfWeek (default Sunday, as
            # in $dateTrunc) — truncate both ends to their week start,
            # then the day gap is an exact multiple of 7 (r14)
            idx = _week_start_idx(arg.get("startOfWeek", "sunday"))

            def wk(e):
                day = F.to_date(_tz_in(_expr(arg[e], env), tz))
                back = (F.dayofweek(day) - F.lit(idx) + 7) % 7
                return F.date_sub(day, back.cast("int"))
            return (F.datediff(wk("endDate"), wk("startDate")) / 7) \
                .cast("long")
        # boundaries counted in the zone's wall clock; the count
        # itself is zone-free, so no shift back
        s = F.date_trunc(unit, _tz_in(_expr(arg["startDate"], env), tz))
        e = F.date_trunc(unit, _tz_in(_expr(arg["endDate"], env), tz))
        return F.timestamp_diff(unit, s, e).cast("long")
    if op in ("$bitAnd", "$bitOr", "$bitXor"):
        # Mongo 6.3 bitwise family over int/long args; the empty-array
        # forms return the operator's identity (all-ones for AND,
        # zero for OR/XOR — Mongo's documented values)
        if not isinstance(arg, list):
            raise ValueError(f"{op} expects an array of integer "
                             "expressions")
        if not arg:
            return F.lit(-1 if op == "$bitAnd" else 0)
        meth = {"$bitAnd": "bitwiseAND", "$bitOr": "bitwiseOR",
                "$bitXor": "bitwiseXOR"}[op]
        acc = _expr(arg[0], env)
        for a in arg[1:]:
            acc = getattr(acc, meth)(_expr(a, env))
        return acc
    if op == "$bitNot":
        return F.bitwise_not(_expr(arg, env))
    if op == "$type":
        # BSON type name of the value. Rectangular frames have one
        # static type per column, so this folds to a constant per
        # expression — except SQL NULL, which reports 'null' (a
        # missing field and a null field are the same thing here;
        # Mongo's 'missing' never occurs)
        c = _expr(arg, env)
        return F.when(c.isNull(), F.lit("null")) \
            .otherwise(_bson_type_col(c))
    if op == "$isNumber":
        c = _expr(arg, env)
        t = F.call_function("typeof", c)
        return c.isNotNull() & (
            t.isin("bigint", "int", "smallint", "tinyint",
                   "double", "float") | t.startswith("decimal"))
    if op == "$isArray":
        a = arg[0] if isinstance(arg, list) and len(arg) == 1 else arg
        c = _expr(a, env)
        return c.isNotNull() \
            & F.call_function("typeof", c).startswith("array")
    if op == "$meta" and arg == "vectorSearchScore":
        # The one $meta form with an off-server meaning (r17): the
        # similarity score a leading $vectorSearch stage attached to
        # every document (stages.py::_vector_search carries it as the
        # internal __vs_score column; _root_env binds it here). Any
        # other $meta — or this one outside a $vectorSearch pipeline —
        # falls through to the by-design refusal below.
        if env and "VS_SCORE" in env:
            return env["VS_SCORE"]
        raise UnsupportedMongoStage(
            "{$meta: 'vectorSearchScore'} is only defined in a pipeline "
            "whose FIRST stage is $vectorSearch (the score of the "
            "current document against the query vector)")
    if op in UNSUPPORTED_EXPR_OPS:
        raise UnsupportedMongoStage(
            f"{op} is refused by design: {UNSUPPORTED_EXPR_OPS[op]}")
    raise ValueError(f"unsupported expression operator: {op}")


def _mongo_to_date(c: Column, use_try: bool = False) -> Column:
    """Mongo's number→date rule: a numeric value is MILLISECONDS since
    the epoch (r14 — a bare ``cast(timestamp)`` reads numbers as
    SECONDS, a silent 1000× divergence). Strings parse, date/timestamp
    pass through. The numeric branches route through a string cast
    because not every input type casts straight to long at analysis
    time (DATE does not) — the string leg is exact for integers, and
    the typeof guard keeps it from ever evaluating on non-numeric
    columns."""
    t = F.call_function("typeof", c)
    as_str = c.cast("string")
    int_ms = as_str.try_cast("long") if use_try else as_str.cast("long")
    dbl = as_str.try_cast("double") if use_try else as_str.cast("double")
    # the double→long step honors the try discipline too: an
    # out-of-long-range double (1e300) must route to onError under
    # use_try, not abort the job under ANSI (r14 ADVICE)
    dbl_ms = dbl.try_cast("long") if use_try else dbl.cast("long")
    base = c.try_cast("timestamp") if use_try else c.cast("timestamp")
    return (F.when(t.isin("bigint", "int", "smallint", "tinyint"),
                   F.timestamp_millis(int_ms))
            .when(t.isin("double", "float") | t.startswith("decimal"),
                  F.timestamp_millis(dbl_ms))
            .otherwise(base))


def _bson_type_col(c: Column) -> Column:
    """Map Spark's ``typeof()`` name to the BSON type name Mongo's
    ``$type`` returns. Evaluated as a column expression so it composes
    anywhere, but the typeof of a fixed-schema expression is a
    runtime constant — Catalyst folds the whole CASE chain."""
    t = F.call_function("typeof", c)
    return (F.when(t.startswith("array"), F.lit("array"))
            .when(t.startswith("struct") | t.startswith("map"),
                  F.lit("object"))
            .when(t.startswith("decimal"), F.lit("decimal"))
            .when(t == "bigint", F.lit("long"))
            .when(t.isin("int", "smallint", "tinyint"), F.lit("int"))
            .when(t.isin("double", "float"), F.lit("double"))
            .when(t == "boolean", F.lit("bool"))
            .when(t.isin("date", "timestamp", "timestamp_ntz"),
                  F.lit("date"))
            .when(t == "binary", F.lit("binData"))
            .otherwise(t))


#: Mongo $dateToString format specifiers -> Spark date_format patterns.
_DATE_SPECIFIERS = {"%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH",
                    "%M": "mm", "%S": "ss", "%L": "SSS", "%j": "DDD",
                    "%%": "%"}

#: week-family specifiers with no SimpleDateFormat equivalent under
#: Mongo's semantics (Spark 3+ removed week pattern letters; %U is
#: Sunday-based, %w is 1=Sunday): computed as column expressions and
#: concat-spliced between plain date_format segments (r14).
_COMPUTED_SPECIFIERS = {"%w", "%u", "%U", "%V", "%G"}


def _computed_specifier(spec: str, d: Column) -> Column:
    """One computed $dateToString specifier over the (zone-shifted)
    date column: %w day-of-week 1=Sunday, %u ISO day-of-week 1=Monday,
    %U Sunday-based week (00-53), %V ISO week (01-53), %G ISO
    week-numbering year — padded exactly as Mongo pads them."""
    if spec == "%w":
        return F.dayofweek(d).cast("string")
    if spec == "%u":
        return (((F.dayofweek(d) + 5) % 7) + 1).cast("string")
    if spec == "%U":
        wk = F.floor((F.dayofyear(d) + 6 - (F.dayofweek(d) - 1)) / 7)
        return F.lpad(wk.cast("string"), 2, "0")
    if spec == "%V":
        return F.lpad(F.weekofyear(d).cast("string"), 2, "0")
    if spec == "%G":
        iso_dow = ((F.dayofweek(d) + 5) % 7) + 1
        thu = F.date_add(d.cast("date"), (F.lit(4) - iso_dow).cast("int"))
        return F.lpad(F.year(thu).cast("string"), 4, "0")
    raise AssertionError(spec)


def _mongo_date_format(fmt: str) -> str:
    """Translate a Mongo strftime-style format into Spark's
    SimpleDateFormat-style pattern, rejecting specifiers outside the
    supported table (silently mistranslating a date format corrupts
    every downstream partition key). Literal text is quoted where it
    could collide with pattern letters."""
    out = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            spec = fmt[i:i + 2]
            if spec not in _DATE_SPECIFIERS:
                raise ValueError(
                    f"unsupported $dateToString specifier: {spec!r}")
            out.append(_DATE_SPECIFIERS[spec])
            i += 2
        else:
            ch = fmt[i]
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


def _type_family(dt) -> str | None:
    from pyspark.sql import types as ST

    if isinstance(dt, ST.BooleanType):
        return "bool"
    if isinstance(dt, ST.NumericType):
        return "num"
    if isinstance(dt, ST.StringType):
        return "str"
    return None


def _lit_family(v: Any) -> str | None:
    if isinstance(v, bool):          # before int: bool subclasses int
        return "bool"
    if isinstance(v, (int, float)):
        return "num"
    if isinstance(v, str):
        return "str"
    return None


def _field_type(schema, path: str):
    """The type a dotted field path reads in ``schema``, None when it is
    missing. Names compare exactly, as Mongo's do. Through an array of
    documents the path reads every element's field (an array of it);
    any key of a map reads its values."""
    from pyspark.sql import types as ST

    node = schema
    for part in path.split("."):
        if isinstance(node, ST.MapType):
            node = node.valueType
            continue
        arr = isinstance(node, ST.ArrayType)
        doc = node.elementType if arr else node
        if not isinstance(doc, ST.StructType) or part not in doc.names:
            return None
        node = doc[part].dataType
        node = ST.ArrayType(node) if arr else node
    return node


def _field(path: str, env: dict) -> Column:
    """The one field-path resolver: the column ``$path`` reads in the
    stage document ``env["__doc"] = (schema, base)`` (``base``: a struct
    column, else the row). A path the schema lacks reads as null."""
    schema, base = env["__doc"]
    if _field_type(schema, path) is None:
        return F.lit(None)
    if base is None:
        return F.col(path)
    for part in path.split("."):
        base = base[part]
    return base


def _require_fields(df: DataFrame, paths, where: str) -> None:
    """Refuse a missing key field with the declared error."""
    missing = [p for p in paths if _field_type(df.schema, p) is None]
    if missing:
        raise ValueError(f"{where} field(s) {missing} missing from the "
                         "documents at this stage")


def _compatible(schema, path: str, v: Any) -> bool | None:
    """Mongo type bracketing: a query literal only matches values of its
    own BSON type family. True/False when both families resolve; None
    (unknown — keep the plain comparison) otherwise."""
    if schema is None or v is None:
        return None
    cf = _type_family(_field_type(schema, path))
    lf = _lit_family(v)
    return (cf == lf) if cf is not None and lf is not None else None


def _regex_cond(col: Column, pattern: Any, options: str | None) -> Column:
    """``$regex`` (optionally with ``$options``): Mongo's i/m/s/x flags
    are exactly Java's inline-flag letters, so they prefix the pattern
    and the whole predicate stays one JVM RLIKE."""
    if not isinstance(pattern, str):
        raise ValueError("$regex expects a string pattern")
    _reject_pcre_only(pattern, "$regex")
    if options:
        if not set(options) <= set("imsx"):
            raise ValueError(f"unsupported $regex options: {options!r}")
        pattern = f"(?{options})" + pattern
    return col.rlike(pattern)


def _root_env(df: DataFrame, extra: dict | None = None) -> dict:
    """Stage-level ``$$ROOT``/``$$CURRENT`` bindings: the whole current
    document as one struct (translator-internal ``__``-prefixed columns
    excluded, so ``$push: "$$ROOT"`` never leaks ``__pos``/``__lk``
    scratch). At stage start CURRENT is ROOT, Mongo's rule. ``__doc`` is
    the input document for the field resolver (:func:`_field`)."""
    cols = [c for c in df.columns if not c.startswith("__")]
    root = F.struct(*[F.col(c).alias(c) for c in cols])
    env = {**(extra or {}), "ROOT": root, "CURRENT": root,
           "__doc": (df.schema, None)}
    if "__vs_score" in df.columns:
        # the $vectorSearch score rides as internal scratch; {$meta:
        # "vectorSearchScore"} is its only user-visible accessor
        env["VS_SCORE"] = F.col("__vs_score")
    return env


def _lookup_sort_cmp(sortspec: dict[str, Any]):
    """array_sort comparator for a Mongo ``$sort`` spec over an array
    of doc structs: fields compared in spec order with ±1 directions,
    nulls ordered FIRST ascending (BSON ranks null below values), and
    a whole-struct comparison as the final tiebreak so equal sort keys
    still pack deterministically (Mongo leaves ties unspecified; the
    translator's determinism convention pins them)."""
    bad = {f: d for f, d in sortspec.items() if int(d) not in (1, -1)}
    if bad:
        # Mongo rejects 0/garbage directions; silently coercing to -1
        # would flip a typo'd order instead of raising (r13 ADVICE)
        raise ValueError(
            f"$sort direction must be 1 or -1, got {bad}")

    def cmp(a: Column, b: Column) -> Column:
        expr = F.when(a < b, -1).when(a > b, 1).otherwise(0)
        for f, d in reversed(list(sortspec.items())):
            d = int(d)
            af, bf = a[f], b[f]
            expr = (F.when(af.isNull() & bf.isNull(), expr)
                    .when(af.isNull(), F.lit(-d))
                    .when(bf.isNull(), F.lit(d))
                    .when(af < bf, F.lit(-d))
                    .when(af > bf, F.lit(d))
                    .otherwise(expr))
        return expr
    return cmp
