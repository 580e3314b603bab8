"""FNML function application → Column expressions.

Parameter binding mirrors the reference's ``execution_dic``
(rdfizer/rdfizer/fnml_functions.py:234-302): parameters are keyed by the
IRI local name; constant / reference / template / nested-function values
are resolved against the row. Nested composition
(mapping_functions.py:10-103) is plain recursion here.

Builders take and return Columns (``functions.register_function``), so
this is where term SQL meets the Column API: each parameter's SQL text
becomes a Column through ``F.expr``, and the builder's result and validity
are registered as named layer columns whose names are the SQL handed back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import FUNCTION_BUILDERS, bool_to_term, local_name
from ..ir import FunctionMap
from .terms import CompiledValue, ExprLayers, _canon, compile_template, valid_value

# functions whose result is boolean (term position renders "True"/"False")
BOOL_FUNCS = {"string_contains", "equal", "notEqual", "isNull", "listContainsElement"}


def compile_function(
    df: DataFrame,
    fm: FunctionMap,
    func_maps: dict[str, FunctionMap],
    *,
    as_condition: bool = False,
    layers: ExprLayers | None = None,
) -> CompiledValue:
    if layers is None:
        raise ValueError(
            f"function map {fm.name!r} needs a layered compile (ExprLayers)")
    return _compile(df, fm, func_maps, as_condition, layers)[0]


def _compile(df, fm, func_maps, as_condition, layers) -> tuple[CompiledValue, int]:
    """(result, layer level): a function's columns sit one layer above
    every nested function it reads and above the template-value layer."""
    params: dict = {}
    level = 2
    for param_iri, desc in fm.parameters.items():
        key = local_name(param_iri)
        kind = desc.get("type")
        value = desc.get("value", "")
        if kind == "reference":
            raw = _canon(df, value, layers)
            params[key] = (F.expr(raw), F.expr(valid_value(raw)))
        elif kind == "template":
            cv = compile_template(df, value, encode=False, layers=layers)
            params[key] = (F.expr(cv.expr), F.expr(cv.valid))
        elif kind == "function":
            nested = desc.get("nested") or func_maps.get(value)
            ncv, nlevel = _compile(df, nested, func_maps, False, layers)
            level = max(level, nlevel + 1)
            params[key] = (F.expr(ncv.expr), F.expr(ncv.valid))
        else:
            params[key] = (F.lit(value), F.lit(True))
            if kind == "constant" and key == "pattern":
                params["__pattern_const"] = value

    name = local_name(fm.name)
    builder = FUNCTION_BUILDERS.get(name)
    if builder is None:
        raise NotImplementedError(
            f"FnO function {fm.name!r} not registered; add it via "
            f"sdm_rdfizer_spark.functions.register_function"
        )
    if name == "parseURL":
        output = local_name(fm.return_iri) if fm.return_iri else "stringOutput"
        expr, valid = builder(params, output=output)
    else:
        expr, valid = builder(params)

    if as_condition:
        expr = expr.cast("boolean")
    elif name in BOOL_FUNCS:
        expr = bool_to_term(expr)
    e = layers.add(level, ("fn", id(fm), as_condition), expr)
    v = layers.add(level, ("fn_valid", id(fm), as_condition), valid)
    if as_condition:
        return CompiledValue(e, v), level
    return CompiledValue(e, f"({v} AND {e} IS NOT NULL)"), level
