"""FnO / FNML scalar-function registry — Column-expression builders.

The reference dispatches FnO IRIs to row-at-a-time Python functions
(reference: rdfizer/rdfizer/fnml_functions.py:17-232, ``functions_pool`` +
``execute_function``); parameters are bound by the IRI local name
(``execution_dic``, fnml_functions.py:234-302). Here every built-in
compiles to native Column expressions — the UDF long tail stays JVM-side.

A builder receives ``{param_local_name: (Column, valid)}`` plus the raw
constant strings where known, and returns ``(Column, valid)``. Boolean
results render as "True"/"False" strings in term position (Python ``str``
semantics) but stay boolean when used as row conditions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

Params = "dict[str, tuple[Column, Column]]"
Result = "tuple[Column, Column]"


def _one(params, *names):
    for n in names:
        if n in params:
            return params[n]
    raise KeyError(f"missing parameter {names} in {sorted(params)}")


def _true(_c):
    return F.lit(True)


def bool_to_term(col: Column) -> Column:
    """Python str(bool) rendering (fnml results are str()-ed by the
    reference before emission)."""
    return F.when(col, F.lit("True")).otherwise(F.lit("False"))


def _encode_component(col: Column) -> Column:
    """The term compiler's IRI-component encoding over a Column."""
    from .compiler.terms import IRI_FIXUPS

    out = F.url_encode(col)
    for a, b in IRI_FIXUPS:
        out = F.replace(out, F.lit(a), F.lit(b))
    return out


# -- string ------------------------------------------------------------

def _to_lower(p):
    v, ok = _one(p, "valueParam", "valueParameter", "str")
    return F.lower(v), ok


def _to_upper(p):
    v, ok = _one(p, "valueParam", "valueParameter", "str")
    return F.upper(v), ok


def _string_length(p):
    v, ok = _one(p, "valueParam", "valueParameter", "str")
    return F.length(v).cast("string"), ok


def _string_replace(p):
    if "valueParam" in p:
        v, ok1 = p["valueParam"]
        find, ok2 = _one(p, "param_find")
        rep, ok3 = _one(p, "param_replace")
    else:
        v, ok1 = p["valueParameter"]
        find, ok2 = _one(p, "p_string_find")
        rep, ok3 = _one(p, "p_string_replace")
    return F.replace(v, find, rep), ok1 & ok2 & ok3


def _string_substring(p):
    # fnml_functions.py:128-141: one- and two-index variants with
    # out-of-range → NULL semantics
    if "p_int_i_from" in p:
        v, ok1 = _one(p, "valueParam", "valueParameter")
        frm, ok2 = p["p_int_i_from"]
        i = frm.cast("int")
        expr = F.when(i == F.length(v), F.lit("")).when(
            i < F.length(v), F.substring(v, i + 1, F.lit(2147483647))
        )
        return expr, ok1 & ok2
    v, ok1 = _one(p, "valueParameter", "valueParam")
    frm, ok2 = _one(p, "param_int_i_from")
    to, ok3 = _one(p, "param_int_i_opt_to")
    i, j = frm.cast("int"), to.cast("int")
    expr = F.when(
        (i < F.length(v)) & (j < F.length(v)), F.substring(v, i + 1, j - i)
    )
    return expr, ok1 & ok2 & ok3


def _string_contains(p):
    v, ok1 = _one(p, "valueParameter", "valueParam")
    sub, ok2 = _one(p, "string_sub")
    return F.contains(v, sub), ok1 & ok2


def _concat2(p):
    v1, ok1 = _one(p, "value1")
    v2, ok2 = _one(p, "value2")
    both = v1.isNotNull() & (v1 != "") & v2.isNotNull() & (v2 != "")
    return F.when(both, F.concat(v1, v2)).otherwise(F.lit("")), ok1 & ok2


def _string_md5(p):
    v, ok = _one(p, "valueParameter", "valueParam", "str")
    return F.md5(v), ok


def _slugify(p):
    # python-slugify behavior approximated natively: lowercase, non-word
    # runs → '-', trimmed (fnml_functions.py:82-84 delegates to the lib)
    v, ok = _one(p, "str", "valueParam", "valueParameter")
    s = F.lower(v)
    s = F.regexp_replace(s, r"[^a-z0-9]+", "-")
    s = F.regexp_replace(s, r"(^-+|-+$)", "")
    return s, ok


def _array_join(p):
    sep, ok2 = _one(p, "p_string_sep")
    arr, ok1 = _one(p, "p_array_a")
    return F.array_join(arr, sep), ok1 & ok2


def _escape(p):
    v, ok1 = _one(p, "valueParam", "valueParameter")
    mode, ok2 = _one(p, "modeParam")
    html = F.replace(v, F.lit("&"), F.lit("&amp;"))
    html = F.replace(html, F.lit("<"), F.lit("&lt;"))
    html = F.replace(html, F.lit(">"), F.lit("&gt;"))
    url = _encode_component(v)
    return F.when(mode == "html", html).when(mode == "url", url), ok1 & ok2


# -- URL / IRI ---------------------------------------------------------

def _parse_url(p, output: str = "stringOutput"):
    v, ok = _one(p, "stringParameter", "valueParam", "valueParameter")
    after = F.substring_index(v, "://", -1)
    proto = F.substring_index(v, "://", 1)
    has_frag = F.contains(v, F.lit("#"))
    frag = F.substring_index(after, "#", -1)
    pre_frag = F.substring_index(after, "#", 1)
    last_seg = F.substring_index(after, "/", -1)
    domain_nofrag = F.when(
        F.contains(after, F.lit("/")),
        F.substring(after, 1, F.length(after) - F.length(last_seg) - 1),
    ).otherwise(after)
    if output == "protocolOutput":
        return proto, ok
    if output == "domainOutput":
        return F.when(has_frag, pre_frag).otherwise(domain_nofrag), ok
    return F.when(has_frag, frag).otherwise(last_seg), ok


def _to_upper_url(p):
    v, ok = _one(p, "str", "valueParam", "valueParameter")
    low = F.lower(v)
    is_http = low.startswith("http://") | low.startswith("https://")
    return (
        F.when(is_http, F.upper(v)).otherwise(
            F.concat(F.lit("http://"), _encode_component(F.upper(v)))
        ),
        ok,
    )


def _schema(p):
    v, ok = _one(p, "stringParameter", "valueParam", "valueParameter")
    return F.concat(F.lit("https://schema.org/"), _encode_component(v)), ok


# -- dates -------------------------------------------------------------

_STRPTIME_TO_JAVA = [
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"),
    ("%H", "HH"), ("%M", "mm"), ("%S", "ss"), ("%f", "SSSSSS"),
    ("%b", "MMM"), ("%B", "MMMM"), ("%j", "DDD"),
]


def strptime_to_java(fmt: str) -> str:
    for a, b in _STRPTIME_TO_JAVA:
        fmt = fmt.replace(a, b)
    return fmt


def _strptime_rows(vals, pats):
    """str(datetime.strptime(v, pattern)) per row — exact reference
    semantics (fnml_functions.py:39-47) for non-constant patterns."""
    from datetime import datetime

    import pandas as pd

    out = []
    for v, pat in zip(vals, pats):
        try:
            out.append(str(datetime.strptime(str(v), str(pat))))
        except (ValueError, TypeError):
            out.append(None)
    return pd.Series(out, dtype="object")


def _normalize_date(p):
    # str(datetime.strptime(v, pattern)) → "yyyy-MM-dd HH:mm:ss"
    # (fnml_functions.py:38-46). A constant pattern compiles to the
    # JVM-side to_timestamp (whole-stage codegen); a reference/template-
    # valued pattern falls back to an Arrow-batched Pandas UDF running
    # datetime.strptime per row — the reference's exact semantics, off
    # the codegen fast path only for this one term.
    v, ok1 = _one(p, "strDate")
    pat, ok2 = _one(p, "pattern")
    fmt = p.get("__pattern_const")
    if fmt:
        java = strptime_to_java(fmt)
        ts = F.to_timestamp(v, java)
        return (F.date_format(ts, "yyyy-MM-dd HH:mm:ss"),
                ok1 & ok2 & ts.isNotNull())
    from pyspark.sql.functions import pandas_udf

    strp = pandas_udf(_strptime_rows, "string")
    out = strp(v.cast("string"), pat.cast("string"))
    return out, ok1 & ok2 & out.isNotNull()


# -- logic -------------------------------------------------------------

def _controls_if(p):
    b, ok = _one(p, "bool_b")
    cond = b if isinstance(b, Column) else F.lit(bool(b))
    cond = cond.cast("boolean")
    t = p.get("any_true")
    f = p.get("any_false")
    t_expr = F.when(t[0] != "None", t[0]) if t else F.lit(None).cast("string")
    f_expr = F.when(f[0] != "None", f[0]) if f else F.lit(None).cast("string")
    expr = F.when(cond, t_expr).otherwise(f_expr)
    return expr, ok & expr.isNotNull()


def _true_condition(p):
    b, ok1 = _one(p, "strBoolean")
    s, ok2 = _one(p, "str")
    cond = b.cast("boolean") & (s != "None") & s.isNotNull()
    return F.when(cond, s), ok1 & ok2 & cond


def _equal(p):
    a, ok1 = _one(p, "valueParam", "valueParameter")
    b, ok2 = _one(p, "valueParam2", "valueParameter2")
    return a.eqNullSafe(b), ok1 & ok2


def _not_equal(p):
    a, ok1 = _one(p, "valueParam", "valueParameter")
    b, ok2 = _one(p, "valueParam2", "valueParameter2")
    return ~a.eqNullSafe(b), ok1 & ok2


def _is_null(p):
    v, _ = _one(p, "str")
    return (v == "null") | (v == "") | v.isNull(), F.lit(True)


def _list_contains(p):
    lst, ok1 = _one(p, "list")
    v, ok2 = _one(p, "str")
    return F.array_contains(lst, v.cast("string")), ok1 & ok2


# -- generation --------------------------------------------------------

def _uuid(p):
    return F.expr("uuid()"), F.lit(True)


def _hello(p):
    return F.lit("Hello World!"), F.lit(True)


def _abc(p):
    return F.lit("ABC"), F.lit(True)


FUNCTION_BUILDERS: dict[str, Callable] = {
    "toLowerCase": _to_lower,
    "toUpperCase": _to_upper,
    "string_length": _string_length,
    "length": _string_length,
    "string_replace": _string_replace,
    "replaceValue": _string_replace,
    "string_substring": _string_substring,
    "string_contains": _string_contains,
    "concat2": _concat2,
    "string_md5": _string_md5,
    "slugify": _slugify,
    "array_join": _array_join,
    "escape": _escape,
    "parseURL": _parse_url,
    "toUpperCaseURL": _to_upper_url,
    "schema": _schema,
    "normalizeDate": _normalize_date,
    "normalizeDateTime": _normalize_date,
    "controls_if": _controls_if,
    "trueCondition": _true_condition,
    "equal": _equal,
    "notEqual": _not_equal,
    "isNull": _is_null,
    "listContainsElement": _list_contains,
    "uuid": _uuid,
    # the reference's grel:random is ALSO str(uuid4()) — not a float
    # (fnml_functions.py:185-187) — so the uuid alias is exact parity
    "random": _uuid,
    "helloworld": _hello,
    "alwaysReturnsABC": _abc,
}


def local_name(iri: str) -> str:
    """Function IRI → registry key (dispatch mirrors
    fnml_functions.py:217-222: after '#', else after last '/')."""
    if "#" in iri:
        return iri.split("#")[-1]
    return iri.rstrip("/").split("/")[-1]


def register_function(name: str, builder: Callable) -> None:
    """User extension point (the reference's 'add your function here',
    fnml_functions.py:13-15): builder(params) -> (Column, valid)."""
    FUNCTION_BUILDERS[name] = builder


