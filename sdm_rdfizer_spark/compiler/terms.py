"""Term-map → Spark SQL expression text.

This is the replacement for the reference's row-at-a-time
``string_substitution`` interpreter (reference:
rdfizer/rdfizer/functions.py:1775-1965) and the term-type/datatype
decoration logic (reference: rdfizer/rdfizer/semantify.py:6328-6381,
6794-6885). Every term compiles to SQL expression text over built-in
functions; the planner hands each layer of named subexpressions to one
``selectExpr`` (one parse per layer instead of one py4j round trip per
Column operation), so Catalyst sees the whole plan and whole-stage codegen
applies — no Python in the hot path.

String literals are quoted with ``ops._exprs._sql_str`` and column
references with ``_ident`` — the only two quoting rules the SQL text uses.

Semantics preserved from the reference:
  * NULL-ish values — ``None``/``"nan"``/``"N/A"``/``"None"``/``"NULL"`` or
    whitespace-only — invalidate the term and drop the triple
    (functions.py:1882-1912).
  * Template values are trimmed and percent-encoded (safe set
    ``'_-.~:@=+%'``, functions.py:580-582) when they land inside an IRI and
    don't themselves contain "http".
  * Reference-valued literals replace ``"`` with ``'`` (functions.py:1950).
  * Float-looking values are canonicalized like Python ``repr(float(v))``
    (functions.py:1884-1890) — e.g. ``"150.00"`` → ``"150.0"``.
  * Blank nodes: ``/``→``2F``, percent signs stripped, ``.``→``2E``
    (semantify.py:6354-6367).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

from ..ir import CONSTANT, REFERENCE, TEMPLATE, TermMap, TT_BLANKNODE, TT_IRI, TT_LITERAL, TT_UNSAFE_IRI
from ..ops._exprs import _sql_str

XSD = "http://www.w3.org/2001/XMLSchema#"
DEFAULT_BASE = "http://example.com/base/"

_NULLISH = ("nan", "N/A", "None", "NULL")

_TEMPLATE_REF_RE = re.compile(r"(?<!\\)\{(.+?)(?<!\\)\}")

NULL_STRING = "CAST(NULL AS STRING)"
EMPTY_ARRAY = "CAST(array() AS ARRAY<STRING>)"


def _ident(ref: str, exact: bool = True) -> str:
    """SQL identifier for a column reference: an exact column name is one
    backtick-quoted part (so names with dots, spaces or backticks stay one
    column); a nested ref splits on dots into quoted struct-field parts."""
    parts = [ref] if exact else ref.split(".")
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def opt_str(v: str | None) -> str:
    """A nullable STRING literal."""
    return NULL_STRING if v is None else _sql_str(v)


def template_references(template: str) -> list[str]:
    """Column references inside a ``{...}`` template."""
    return _TEMPLATE_REF_RE.findall(template)


_INLINE_PRED_RE = re.compile(
    r"^(?P<base>.+?)\[\?\(@\.(?P<path>[A-Za-z0-9_.]+)\s*(?P<op>==|!=)\s*"
    r"'(?P<val>[^']*)'\)\]\.(?P<field>[A-Za-z0-9_.]+)$"
)


def _inline_predicate(df: DataFrame, ref: str) -> str | None:
    """``field[?(@.attr=='v')].out`` — inline JSON predicate on a reference
    (reference: functions.py:1820-1864): filter an array-of-structs column
    by an equality/inequality on a (dotted) member, project ``out`` from
    the LAST match; no match ⇒ NULL (triple dropped)."""
    m = _INLINE_PRED_RE.match(ref)
    if m is None:
        return None
    b, path, fld = (_ident(m.group(g), exact=False) for g in ("base", "path", "field"))
    try:
        dtype = df.selectExpr(b).schema[0].dataType
    except Exception:
        return None
    test = f"{'=' if m.group('op') == '==' else '!='} {_sql_str(m.group('val'))}"
    if isinstance(dtype, T.ArrayType):
        filtered = f"filter({b}, __e -> CAST(__e.{path} AS STRING) {test})"
        # get is NULL on out-of-bounds (ANSI-safe) — empty ⇒ NULL ⇒ drop
        elem = f"get({filtered}, size({filtered}) - 1)"
        return f"CAST(({elem}).{fld} AS STRING)"
    # scalar struct: conditional projection
    return f"CASE WHEN CAST({b}.{path} AS STRING) {test} THEN CAST({b}.{fld} AS STRING) END"


# regex literals of the float canonicalization
_FLOATISH = _sql_str(r"^-?\d+\.\d+$")
_TRAIL0 = _sql_str(r"(\.\d*?)0+$")
_TRAILDOT = _sql_str(r"\.$")
_MANTISSA = _sql_str(r"^(-?\d+(?:\.\d+)?)[eE]")
_DOT0 = _sql_str(r"\.0$")
_EXPONENT = _sql_str(r"[eE]([+-]?\d+)$")


def _float_canon(s: str) -> str:
    """Float-looking strings (``_FLOATISH``) → ``repr(float())`` form."""
    canon = f"regexp_replace(regexp_replace({s}, {_TRAIL0}, '$1'), {_TRAILDOT}, '.0')"
    return f"CASE WHEN {s} RLIKE {_FLOATISH} THEN {canon} ELSE {s} END"


def canonical_string(df: DataFrame, ref: str) -> str:
    """A column rendered to its canonical string form.

    Matches the reference's row model where every value is a string
    (CSV is read with dtype=str, semantify.py:10227) and float-like values
    go through ``repr(float(v))`` (functions.py:1884-1890): typed parquet
    doubles become shortest-decimal strings without scientific notation and
    with at least one fractional digit.
    """
    inline = _inline_predicate(df, ref)
    if inline is not None:
        return _float_canon(inline)
    return _canonical_core(ref, dict(df.dtypes).get(ref), ref in df.columns)


def _canonical_core(ref: str, dtype: str | None, exact: bool) -> str:
    # exact column: one quoted part, so names with dots (XML parent-axis
    # refs like "../@id") aren't parsed as struct field access; otherwise
    # nested struct access via dots
    col = _ident(ref, exact)

    if dtype in ("double", "float"):
        # decimal-cast → trim trailing zeros, keep >=1 fractional digit:
        # 1234.5600 → "1234.56", 150.0 → "150.0", 12345678.9 stays plain
        # notation (Spark's native double→string cast would give E-notation
        # for |v|>=1e7, which diverges from Python repr()).
        # Values outside DECIMAL(38,10) — |v| >= ~1e28 or needing more than
        # 10 fractional digits to round-trip — would overflow (ANSI error)
        # or silently round; for those fall back to the native cast and
        # rewrite Java E-notation ("1.0E30") to Python-repr style ("1e+30").
        # Rendering is always VALUE-EXACT (float(s) == v, property-tested);
        # notation diverges from repr() only in [1e-10, 1e-4), where repr
        # switches to E-notation and this stays plain-decimal.
        dec = f"try_cast({col} AS DECIMAL(38,10))"
        s = f"regexp_replace(CAST({dec} AS STRING), {_TRAIL0}, '$1')"
        s = f"regexp_replace({s}, {_TRAILDOT}, '.0')"
        plain = f"CAST({col} AS STRING)"
        mant = f"regexp_replace(regexp_extract({plain}, {_MANTISSA}, 1), {_DOT0}, '')"
        exp = f"CAST(regexp_extract({plain}, {_EXPONENT}, 1) AS INT)"
        # Python pads exponents to TWO digits minimum but never truncates
        # (repr(1e100) == '1e+100'); lpad(…, 2, '0') silently truncated
        # three-digit exponents to a 10^90-off value (hypothesis r2)
        digits = f"CAST(abs({exp}) AS STRING)"
        digits = f"CASE WHEN length({digits}) < 2 THEN concat('0', {digits}) ELSE {digits} END"
        sci = f"concat({mant}, 'e', CASE WHEN {exp} < 0 THEN '-' ELSE '+' END, {digits})"
        fallback = f"CASE WHEN {plain} RLIKE '[eE]' THEN {sci} ELSE {plain} END"
        exact_dec = f"{dec} IS NOT NULL AND CAST({dec} AS DOUBLE) = CAST({col} AS DOUBLE)"
        return f"CASE WHEN {exact_dec} THEN {s} ELSE {fallback} END"
    if dtype == "boolean":
        return f"CASE WHEN {col} THEN 'True' WHEN NOT {col} THEN 'False' END"
    if dtype == "string":
        return _float_canon(col)
    return f"CAST({col} AS STRING)"


def valid_value(x: str) -> str:
    """True when the value is usable (reference NULL semantics,
    functions.py:1882-1912): non-null, not a NULL-marker string, not
    whitespace-only."""
    markers = ", ".join(_sql_str(v) for v in _NULLISH)
    return f"({x} IS NOT NULL AND {x} NOT IN ({markers}) AND trim({x}) != '')"


# java.net.URLEncoder (form encoding) → urllib.parse.quote(v,
# safe='_-.~:@=+%'): space→%20 (not '+'), keep ``~ : @ = + %``
# unencoded, encode ``*``; '%25' last so a literal '%' is un-encoded
IRI_FIXUPS = (("+", "%20"), ("%2B", "+"), ("%7E", "~"), ("%3A", ":"),
              ("%40", "@"), ("%3D", "="), ("*", "%2A"), ("%25", "%"))


def encode_iri_component(x: str) -> str:
    """Percent-encode like ``urllib.parse.quote(v, safe='_-.~:@=+%')``
    (reference functions.py:580-582) using only JVM-side expressions:
    ``url_encode`` plus the ``IRI_FIXUPS`` rewrites."""
    out = f"url_encode({x})"
    for a, b in IRI_FIXUPS:
        out = f"replace({out}, {_sql_str(a)}, {_sql_str(b)})"
    return out


@dataclass
class CompiledValue:
    """SQL text of a lexical value + its row-validity condition.

    ``core``/``suffix`` (optional) factor the rendered term into a
    per-row part and a CONSTANT tail, i.e. ``expr == concat(core,
    suffix)``. Narrow dedup keys on ``core`` alone and re-attaches
    the suffix after the shuffle — a literal's `^^<datatype>` decoration
    is ~47 bytes/row that would otherwise ride (and spill) the dedup
    hash for no information. Appending a fixed-per-entry suffix is
    injective, so dedup on the core is exact."""

    expr: str
    valid: str
    core: str | None = None
    suffix: str | None = None


class ExprLayers:
    """Named-subexpression builder.

    Term constructors branch on their own inputs (``CASE WHEN
    contains(v, 'http') THEN v ELSE encode(v) END``), which inlined
    DUPLICATES the input expression in every branch — nested over
    templates and IRI completion this grows combinatorially (observed:
    a 2-ref subject template expanded to >20 copies of the per-ref
    expression, blowing generated code past the JIT limit). Registering
    each intermediate as a named column in layered projections makes
    every reuse a cheap attribute reference; Catalyst's CollapseProject
    keeps non-trivial aliases that are referenced more than once.

    An entry may only reference columns of lower layers. Entries are SQL
    text; FNML results arrive as Columns (the builders' contract).
    """

    def __init__(self) -> None:
        self.layers: list[dict[str, str | Column]] = []
        self._names: dict = {}

    def add(self, level: int, key, expr: str | Column) -> str:
        """Register ``expr`` under ``key`` at ``level``; returns the
        column name that references it (the first registration wins)."""
        name = self._names.get((level, key))
        if name is None:
            while len(self.layers) <= level:
                self.layers.append({})
            name = f"__x{level}_{len(self._names) + 1}"
            self.layers[level][name] = expr
            self._names[(level, key)] = name
        return name

    def apply(self, df: DataFrame) -> DataFrame:
        for layer in self.layers:
            sql = [f"{e} AS {n}" for n, e in layer.items() if isinstance(e, str)]
            cols = {n: e for n, e in layer.items() if not isinstance(e, str)}
            if sql:
                df = df.selectExpr("*", *sql)
            if cols:
                df = df.withColumns(cols)
        return df


def _canon(df: DataFrame, ref: str, layers: ExprLayers | None) -> str:
    raw = canonical_string(df, ref)
    if layers is not None:
        raw = layers.add(0, ("canon", ref), raw)
    return raw


def compile_template(
    df: DataFrame, template: str, *, encode: bool = True,
    layers: ExprLayers | None = None,
) -> CompiledValue:
    """Expand ``"http://x/{a}/{b}"`` into concat + validity condition.

    Encoding rule mirrors functions.py:1896-1899: a substituted value is
    percent-encoded iff the template text before the placeholder contains
    "http" and the value itself doesn't.
    """
    parts: list[str] = []
    valid: list[str] = []
    pos = 0
    seen_http = False
    for m in _TEMPLATE_REF_RE.finditer(template):
        lit = template[pos : m.start()].replace(r"\{", "{").replace(r"\}", "}")
        if lit:
            parts.append(_sql_str(lit))
        seen_http = seen_http or ("http" in template[: m.start()])
        ref = m.group(1)
        raw = _canon(df, ref, layers)
        do_encode = encode and seen_http
        valid.append(valid_value(raw))
        v = f"trim({raw})"
        if do_encode:
            v = f"CASE WHEN contains({v}, 'http') THEN {v} ELSE {encode_iri_component(v)} END"
        if layers is not None:
            v = layers.add(1, ("tv", ref, do_encode), v)
        parts.append(v)
        pos = m.end()
    tail = template[pos:].replace(r"\{", "{").replace(r"\}", "}")
    if tail:
        parts.append(_sql_str(tail))
    return CompiledValue(expr=f"concat({', '.join(parts or [_sql_str('')])})",
                         valid=f"({' AND '.join(valid or ['true'])})")


_DQUOTE, _SQUOTE = _sql_str('"'), _sql_str("'")


def compile_reference(
    df: DataFrame, ref: str, *, for_literal: bool = True,
    layers: ExprLayers | None = None,
) -> CompiledValue:
    raw = _canon(df, ref, layers)
    v = f"trim({raw})"
    if for_literal:
        v = f"replace({v}, {_DQUOTE}, {_SQUOTE})"   # functions.py:1950
    if layers is not None:
        v = layers.add(1, ("rv", ref, for_literal), v)
    return CompiledValue(expr=v, valid=valid_value(raw))


# N-Triples literal-body escapes; the reference emits raw strings (only
# ``"``→``'`` on references), escaping control characters keeps the
# output valid N-Triples — a strict superset of valid outputs on clean data
_NT_ESCAPES = (("\\", "\\\\"), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t"))


def _nt_escape_literal(x: str) -> str:
    """Escape backslash/newline/CR/tab for N-Triples literal bodies."""
    for a, b in _NT_ESCAPES:
        x = f"replace({x}, {_sql_str(a)}, {_sql_str(b)})"
    return x


def wrap_iri(value: str, *, base: str | None = None) -> str:
    """IRI term completion (semantify.py:6334-6350): values without "http"
    get the base IRI prepended (encoded under the default base)."""
    b = base if base else DEFAULT_BASE
    rel = value if base else encode_iri_component(value)
    return (f"concat('<', CASE WHEN contains({value}, 'http') THEN {value} "
            f"ELSE concat({_sql_str(b)}, {rel}) END, '>')")


def wrap_blank(value: str) -> str:
    """Blank-node term (semantify.py:6354-6367)."""
    v = encode_iri_component(f"replace({value}, '/', '2F')")
    return f"concat('_:', replace(replace({v}, '%', ''), '.', '2E'))"


def wrap_literal(value: str, datatype: str | None, language: str | None,
                 *, datatype_nullable: bool = False) -> str:
    """Literal term with optional datatype/language decoration
    (semantify.py:6794-6885). ``datatype_nullable`` keeps the plain
    literal when a per-row inferred datatype is NULL (value sniffing)."""
    body = f"concat('\"', {_nt_escape_literal(value)}, '\"')"
    if language is not None:
        return f"concat({body}, '@', {language})"
    if datatype is not None:
        decorated = f"concat({body}, '^^<', {datatype}, '>')"
        if datatype_nullable:
            return f"CASE WHEN {datatype} IS NULL THEN {body} ELSE {decorated} END"
        return decorated
    return body


_NATURAL_DT = {
    "tinyint": XSD + "integer", "smallint": XSD + "integer",
    "int": XSD + "integer", "bigint": XSD + "integer",
    "float": XSD + "double", "double": XSD + "double",
    "decimal": XSD + "decimal", "boolean": XSD + "boolean",
    "date": XSD + "date", "timestamp": XSD + "dateTime",
}


def natural_datatype(df: DataFrame, ref: str) -> str | None:
    """xsd datatype inferred from the source column's Spark type (the
    natural-mapping analogue of value sniffing at functions.py:16-65,
    applied at semantify.py:8537-8546 for typed DB sources)."""
    dtype = dict(df.dtypes).get(ref)
    if dtype is None:
        return None
    base = dtype.split("(")[0]
    return _NATURAL_DT.get(base)


def sniff_datatype(value: str) -> tuple[str, str]:
    """Per-row value-sniffed (value, datatype IRI) for STRING sources —
    the reference's is_convertible_to_int / is_bool /
    is_convertible_to_double / is_date / is_datetime chain
    (functions.py:16-65, precedence at semantify.py:9492-9508: explicit
    datatype > integer > boolean > double > date > dateTime > plain).
    Booleans lower-case the lexical form like the reference. Runs as one
    whole-stage-codegen CASE chain, no UDF."""
    lower = f"lower({value})"
    is_int = f"{value} RLIKE '^[+-]?[0-9]+$'"
    is_bool = f"{lower} IN ('true', 'false')"
    is_double = f"try_cast({value} AS DOUBLE) IS NOT NULL"
    # cheap regex prefilter so the expensive date/timestamp casts only
    # run on date-shaped values, not every plain string in the corpus
    datish = f"{value} RLIKE '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}'"
    is_date = (f"({datish} AND {value} RLIKE '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$' "
               f"AND try_cast({value} AS DATE) IS NOT NULL)")
    is_dt = (f"({datish} AND try_cast(replace({value}, ' T', 'T') AS TIMESTAMP) "
             f"IS NOT NULL)")
    dt = (f"CASE WHEN {is_int} THEN '{XSD}integer' WHEN {is_bool} THEN '{XSD}boolean' "
          f"WHEN {is_double} THEN '{XSD}double' WHEN {is_date} THEN '{XSD}date' "
          f"WHEN {is_dt} THEN '{XSD}dateTime' END")
    out_value = f"CASE WHEN NOT ({is_int}) AND {is_bool} THEN {lower} ELSE {value} END"
    return out_value, dt


def compile_term_map(
    df: DataFrame,
    tm: TermMap,
    position: str,
    *,
    base: str | None = None,
    infer_datatypes: bool = False,
    func_maps: dict | None = None,
    layers: ExprLayers | None = None,
) -> CompiledValue:
    """Compile a non-join term map into the SQL text of an N-Triples term.

    ``position`` ∈ {subject, predicate, object, graph, datatype, language}.
    Returns the fully-wrapped term (``<iri>`` / ``_:b`` / ``"lit"...``).
    """
    if tm.kind == CONSTANT:
        return _compile_constant(tm, position)

    if tm.kind == TEMPLATE:
        cv = compile_template(df, tm.value, layers=layers)
    elif tm.kind == REFERENCE:
        is_lit = _is_literal_position(tm, position)
        cv = compile_reference(df, tm.value, for_literal=is_lit, layers=layers)
    elif tm.kind == "function":
        from .fnml import compile_function

        fm = (func_maps or {}).get(tm.value)
        if fm is None:
            raise ValueError(f"unresolved function map {tm.value!r}")
        cv = compile_function(df, fm, func_maps or {}, layers=layers)
    else:
        raise NotImplementedError(f"term map kind {tm.kind} must be handled by the planner")

    if position in ("datatype", "language"):
        return cv

    tt = tm.term_type
    if tt is None:
        if position in ("subject", "predicate", "graph"):
            tt = TT_IRI
        else:
            tt = TT_LITERAL if tm.kind in (REFERENCE, "function") else TT_IRI

    if layers is not None and tm.kind == TEMPLATE:
        # name the lexical value so the term wrappers below (whose branches
        # repeat it, e.g. wrap_iri's 3 uses) reference one computed column;
        # reference values and function results are layer columns already
        cv = CompiledValue(layers.add(2, ("cv", tm.value), cv.expr), cv.valid)

    if tt == TT_BLANKNODE:
        return CompiledValue(wrap_blank(cv.expr), cv.valid)
    if tt == TT_UNSAFE_IRI:
        return CompiledValue(f"concat('<', url_decode({cv.expr}), '>')", cv.valid)
    if tt == TT_IRI:
        return CompiledValue(wrap_iri(cv.expr, base=base), cv.valid)

    # Literal: resolve datatype / language (constant or map-valued)
    dt = lang = None
    valid = cv.valid
    # const_suffix: the decoration when it is a plan CONSTANT — lets
    # narrow dedup key on the bare body and re-attach the tail after the
    # shuffle ("" = undecorated; None = per-row decoration, can't split)
    const_suffix: str | None = ""
    if tm.language is not None:
        lang = _sql_str(tm.language)
        const_suffix = f"@{tm.language}"
    elif tm.language_map is not None:
        lcv = compile_term_map(df, tm.language_map, "language", base=base,
                               func_maps=func_maps, layers=layers)
        lang, valid = lcv.expr, f"({valid} AND {lcv.valid})"
        const_suffix = None
    elif tm.datatype is not None:
        dt = _sql_str(tm.datatype)
        const_suffix = f"^^<{tm.datatype}>"
    elif tm.datatype_map is not None:
        dcv = compile_term_map(df, tm.datatype_map, "datatype", base=base,
                               func_maps=func_maps, layers=layers)
        dt, valid = dcv.expr, f"({valid} AND {dcv.valid})"
        const_suffix = None
    elif infer_datatypes and tm.kind == REFERENCE:
        nd = natural_datatype(df, tm.value)
        if nd:
            dt = _sql_str(nd)
            const_suffix = f"^^<{nd}>"
        elif dict(df.dtypes).get(tm.value) == "string":
            # string source (CSV/XML/JSON text): per-row value sniffing
            # (reference functions.py:16-65)
            return CompiledValue(
                wrap_literal(*sniff_datatype(cv.expr), None, datatype_nullable=True),
                valid)
    full = wrap_literal(cv.expr, dt, lang)
    if const_suffix is None:
        # per-row datatype/language column — the term can't be split
        return CompiledValue(full, valid)
    return CompiledValue(full, valid, core=wrap_literal(cv.expr, None, None),
                         suffix=const_suffix)


def _is_literal_position(tm: TermMap, position: str) -> bool:
    if position != "object":
        return False
    return tm.term_type in (None, TT_LITERAL) or tm.term_type == TT_LITERAL


def _compile_constant(tm: TermMap, position: str) -> CompiledValue:
    v = tm.value
    if position in ("datatype", "language"):
        return CompiledValue(_sql_str(v), "true")
    if tm.constant_is_iri or position in ("subject", "predicate", "graph"):
        term = f"<{v}>"
    else:
        # constant-shortcut literal, possibly with "...@lang" suffix
        # (reference parses it at semantify.py:6695-6713); escaped here,
        # in Python, like reference-valued bodies plus the quote itself
        for a, b in (_NT_ESCAPES[0], ('"', '\\"'), *_NT_ESCAPES[1:]):
            v = v.replace(a, b)
        body = f'"{v}"'
        if tm.language:
            term = f"{body}@{tm.language}"
        elif tm.datatype:
            term = f"{body}^^<{tm.datatype}>"
        else:
            term = body
    # a constant term is ALL suffix for narrow dedup — no reason to
    # carry its bytes through the shuffle when the entry index names it
    return CompiledValue(_sql_str(term), "true", core="''", suffix=term)
