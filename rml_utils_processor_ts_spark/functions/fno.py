"""FnO function registry: each function IRI maps to a Column-expression
builder, so nested FnO calls compose as nested Catalyst expressions
(SURVEY.md §2.B10; function inventory at /root/reference/src/voc.ts:95-115).

The stateful CDC functions (explicitCreate/implicitUpdate/implicitDelete)
are *not* pure column expressions — the executor routes them to the CDC
operator (operators/cdc.py); :func:`is_stateful_function` detects them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..plans import voc
from ..plans.model import FunctionCall, TermMap

STATEFUL_FUNCTIONS = {
    voc.IDLAB_EXPLICIT_CREATE,
    voc.IDLAB_IMPLICIT_UPDATE,
    voc.IDLAB_IMPLICIT_DELETE,
}


def is_stateful_function(fn: FunctionCall | None) -> bool:
    return fn is not None and fn.function_iri in STATEFUL_FUNCTIONS


def _param(fn: FunctionCall, *names: str) -> TermMap | None:
    for n in names:
        if n in fn.params:
            return fn.params[n]
    return None


def param_sort_key(key: str) -> tuple[str, int]:
    """Document-order sort key for repeated parameters: '#N' suffixes
    compare NUMERICALLY (plain lexicographic sort puts #10 before #2,
    which would scramble grel:array_join element order — and watched
    fingerprints — past 10 repeated params)."""
    base, sep, n = key.rpartition("#")
    if sep and n.isdigit():
        return (base, int(n))
    return (key, -1)


def sorted_params(fn: FunctionCall):
    return sorted(fn.params.items(), key=lambda kv: param_sort_key(kv[0]))


def compile_function(fn: FunctionCall, compile_term: Callable[[TermMap, str], Column]) -> Column:
    """Build a Column for an FnO call. ``compile_term`` compiles a
    parameter TermMap in a given position ('value' -> plain string)."""
    iri = fn.function_iri

    if iri == voc.IDLAB_TRUE_CONDITION:
        # trueCondition(strBoolean=cond, str=value): value when cond else null
        # (/root/reference/test/incrml.test.ts:55-119)
        cond_tm = _param(fn, voc.IDLAB_STR_BOOLEAN)
        val_tm = _param(fn, voc.IDLAB_STR)
        if cond_tm is None or val_tm is None:
            raise ValueError("trueCondition needs strBoolean + str parameters")
        cond = compile_term(cond_tm, "boolean")
        val = compile_term(val_tm, "value")
        return F.when(cond, val).otherwise(F.lit(None))

    if iri == voc.IDLAB_STR_BOOLEAN:
        inner = _param(fn, voc.GREL_VALUE_PARAMETER, voc.GREL_BOOL_B)
        if inner is None and len(fn.params) == 1:
            inner = next(iter(fn.params.values()))
        if inner is None:
            raise ValueError("strBoolean needs a parameter")
        return F.lower(compile_term(inner, "value")) == F.lit("true")

    if iri in (voc.IDLAB_EQUAL, voc.IDLAB_NOT_EQUAL):
        a = _param(fn, voc.GREL_VALUE_PARAMETER)
        b = _param(fn, voc.GREL_VALUE_PARAMETER2)
        if a is None or b is None:
            raise ValueError(f"{iri} needs valueParameter + valueParameter2")
        ca = compile_term(a, "value")
        cb = compile_term(b, "value")
        eq = ca.eqNullSafe(cb)
        return eq if iri == voc.IDLAB_EQUAL else ~eq

    if iri == voc.GREL_ARRAY_JOIN:
        # grel:array_join(p_array_a..., param_string_sep) -> concat_ws
        # (watched-property fingerprints, /root/reference/src/rml/incrml.ts:486-507)
        sep_tm = _param(fn, voc.GREL_PARAM_STRING_SEP)
        sep = sep_tm.constant if sep_tm is not None and sep_tm.constant is not None else "&"
        parts = [
            compile_term(tm, "value")
            for key, tm in sorted_params(fn)
            # both array-element param spellings: p_array_a (grel proper)
            # and the reference rewriter's short param_a (voc.ts:97)
            if voc.GREL_PARAM_A in key or voc.GREL_PARAM_A_ALT in key
        ]
        if not parts:
            parts = [
                compile_term(tm, "value")
                for key, tm in sorted_params(fn)
                if key != voc.GREL_PARAM_STRING_SEP
            ]
        return F.concat_ws(sep, *parts)

    if iri == voc.IDLAB_STR:
        inner = next(iter(fn.params.values()), None)
        if inner is None:
            raise ValueError("idlab-fn:str needs a parameter")
        return compile_term(inner, "value")

    if iri in STATEFUL_FUNCTIONS or iri == voc.IDLAB_UNIQUE_IRI:
        raise ValueError(
            f"stateful function {iri} must be executed by the CDC operator, "
            "not compiled as a pure expression"
        )

    if iri in _EXTRA_FUNCTIONS:
        return _EXTRA_FUNCTIONS[iri](fn, compile_term)

    raise ValueError(
        f"unknown FnO function {iri} — register a Column builder with "
        "rml_utils_processor_ts_spark.functions.fno.register_function"
    )


# -- extensible registry -------------------------------------------------------

_EXTRA_FUNCTIONS: dict[str, Callable] = {}


def register_function(iri: str, builder: Callable) -> None:
    """Register a Column builder for an FnO function IRI. The builder
    receives (FunctionCall, compile_term) and returns a Column — the
    extension point mirroring the reference engine's pluggable function
    registry (SURVEY.md §2.C UDF surface)."""
    _EXTRA_FUNCTIONS[iri] = builder


def _single_param(fn: FunctionCall, compile_term) -> Column:
    tm = _param(fn, voc.GREL_VALUE_PARAMETER) or next(iter(fn.params.values()), None)
    if tm is None:
        raise ValueError(f"{fn.function_iri} needs a parameter")
    return compile_term(tm, "value")


def _register_grel_string_functions() -> None:
    """Common GREL string transforms (the wrapped engine ships these;
    they're pure Column expressions here)."""
    g = voc.GREL

    register_function(g + "toUpperCase", lambda fn, ct: F.upper(_single_param(fn, ct)))
    register_function(g + "toLowerCase", lambda fn, ct: F.lower(_single_param(fn, ct)))
    register_function(g + "trim", lambda fn, ct: F.trim(_single_param(fn, ct)))
    register_function(g + "string_length", lambda fn, ct: F.length(_single_param(fn, ct)).cast("string"))

    def _replace(fn: FunctionCall, ct) -> Column:
        value = _param(fn, voc.GREL_VALUE_PARAMETER)
        find = _param(fn, g + "p_string_find")
        repl = _param(fn, g + "p_string_replace")
        if value is None or find is None or repl is None:
            raise ValueError("grel:string_replace needs valueParameter, p_string_find, p_string_replace")
        if find.constant is None or repl.constant is None:
            raise ValueError("grel:string_replace find/replace must be constants")
        import re as _re

        return F.regexp_replace(ct(value, "value"), _re.escape(find.constant), repl.constant)

    register_function(g + "string_replace", _replace)

    # hashing (grel string_md5/string_sha1 — deterministic, engine-
    # portable: Spark md5/sha1 emit the same lowercase hex as DuckDB)
    register_function(g + "string_md5", lambda fn, ct: F.md5(_single_param(fn, ct)))
    register_function(g + "string_sha1", lambda fn, ct: F.sha1(_single_param(fn, ct)))
    register_function(g + "toTitlecase", lambda fn, ct: F.initcap(_single_param(fn, ct)))

    def _slice(fn: FunctionCall, ct) -> Column:
        # GREL slice(value, from[, to]): 0-based, end-exclusive; negative
        # or missing 'to' = rest of string
        value = _single_param(fn, ct)
        fro = _param(fn, g + "p_int_i_from")
        to = _param(fn, g + "p_int_i_opt_to")
        if fro is None or fro.constant is None:
            raise ValueError("grel:string_slice needs a constant p_int_i_from")
        start = int(fro.constant)
        if to is not None and to.constant is not None:
            return F.substring(value, start + 1, int(to.constant) - start)
        return F.substring(value, start + 1, 2_147_483_647)

    register_function(g + "string_slice", _slice)

    # predicates -> boolean Columns (composable with trueCondition /
    # boolean_not, same contract as idlab-fn:equal)
    def _binary_str(fn: FunctionCall, ct) -> tuple[Column, Column]:
        a = _param(fn, voc.GREL_VALUE_PARAMETER)
        b = _param(fn, g + "string_sub") or _param(fn, voc.GREL_VALUE_PARAMETER2)
        if a is None or b is None:
            raise ValueError(f"{fn.function_iri} needs valueParameter + string_sub")
        return ct(a, "value"), ct(b, "value")

    # math transforms (GREL param name p_dec_n; valueParameter accepted
    # too via _single_param's fallback). Output renders as an integer
    # string for the integral results (GREL floor/ceil/round return
    # numbers; ".0" suffixes would leak Spark's double rendering).
    def _math(op):
        def build(fn: FunctionCall, ct) -> Column:
            v = _param(fn, g + "p_dec_n")
            value = ct(v, "value") if v is not None else _single_param(fn, ct)
            return op(value.cast("double")).cast("long").cast("string")

        return build

    register_function(g + "math_floor", _math(F.floor))
    register_function(g + "math_ceil", _math(F.ceil))
    # GREL round is Java Math.round = floor(x + 0.5): round(-2.5) -> -2,
    # unlike Spark's F.round HALF_UP which gives -3 (ADVICE r5).
    register_function(g + "math_round", _math(lambda c: F.floor(c + F.lit(0.5))))

    def _math_abs(fn: FunctionCall, ct) -> Column:
        # Same integral-string contract as floor/ceil/round: abs("-3")
        # renders "3", not Spark's double rendering "3.0"; fractional
        # inputs keep their decimals (abs(3.5) -> "3.5").
        v = _param(fn, g + "p_dec_n")
        value = (ct(v, "value") if v is not None else _single_param(fn, ct)).cast("double")
        a = F.abs(value)
        return F.when(a == F.floor(a), a.cast("long").cast("string")).otherwise(
            a.cast("string")
        )

    register_function(g + "math_abs", _math_abs)

    def _format_date(fn: FunctionCall, ct) -> Column:
        # grel:date_formatDate(value, pattern): Java SimpleDateFormat-
        # style pattern constant; deterministic given the input value
        # (no now()/timezone surprises — session TZ pinned UTC).
        value = _param(fn, voc.GREL_VALUE_PARAMETER) or _param(fn, g + "p_date_d")
        pat = _param(fn, g + "p_string_pattern")
        if value is None or pat is None or pat.constant is None:
            raise ValueError("grel:date_formatDate needs valueParameter + constant p_string_pattern")
        return F.date_format(ct(value, "value").cast("timestamp"), pat.constant)

    register_function(g + "date_formatDate", _format_date)

    register_function(
        g + "string_contains", lambda fn, ct: (lambda a, b: a.contains(b))(*_binary_str(fn, ct))
    )
    register_function(
        g + "string_startsWith", lambda fn, ct: (lambda a, b: a.startswith(b))(*_binary_str(fn, ct))
    )
    register_function(
        g + "string_endsWith", lambda fn, ct: (lambda a, b: a.endswith(b))(*_binary_str(fn, ct))
    )

    def _bool_param(fn: FunctionCall, ct, tm: TermMap) -> Column:
        # a nested function (equal/contains/...) compiles to a boolean
        # Column already; a reference/constant is GREL's string boolean
        if tm.function is not None:
            return ct(tm, "boolean")
        return F.lower(ct(tm, "value")) == F.lit("true")

    def _not(fn: FunctionCall, ct) -> Column:
        tm = _param(fn, g + "bool_b") or next(iter(fn.params.values()), None)
        if tm is None:
            raise ValueError("grel:boolean_not needs a parameter")
        return ~_bool_param(fn, ct, tm)

    register_function(g + "boolean_not", _not)

    def _and_or(op):
        def build(fn: FunctionCall, ct) -> Column:
            parts = [_bool_param(fn, ct, tm) for _, tm in sorted_params(fn)]
            if not parts:
                raise ValueError(f"{fn.function_iri} needs parameters")
            out = parts[0]
            for p in parts[1:]:
                out = op(out, p)
            return out

        return build

    register_function(g + "boolean_and", _and_or(lambda a, b: a & b))
    register_function(g + "boolean_or", _and_or(lambda a, b: a | b))

    # idlab-fn:slugify — IRI-safe slug (lowercase, non-alphanumerics
    # collapsed to '-'): a common subject-template helper
    register_function(
        voc.IDLAB_FN + "slugify",
        lambda fn, ct: F.regexp_replace(
            F.regexp_replace(F.lower(_single_param(fn, ct)), r"[^a-z0-9]+", "-"),
            r"(^-+|-+$)",
            "",
        ),
    )


_register_grel_string_functions()
