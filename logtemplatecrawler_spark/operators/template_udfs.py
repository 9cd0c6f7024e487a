"""Vectorized Arrow UDFs wrapping the core template pipeline.

Only the genuinely procedural stages are UDFs (extract's backwards/forwards
statement-boundary scan, the recursive parser, formalization); every
filter/predicate around them is a native column expression
(functions/columns.py) placed BEFORE the UDF so Catalyst never has to push
a predicate through an opaque Python stage.

Both UDFs are Arrow-native (``F.arrow_udf``): they receive each batch's
columns as ``pa.Array`` and build ``pa.Array`` / ``pa.StructArray`` results
straight from Python lists, so no pandas Series or DataFrame is built on
either side of the per-row loop.

Batch sizing: page bodies are large strings — callers should set
``spark.sql.execution.arrow.maxRecordsPerBatch`` modestly (the session
helper uses 256) so Arrow batches stay memory-friendly.

UDF-count note: detect/framework are native (no UDF); extract runs per page;
parse+formalize run per statement (post-explode, different cardinality) and
are fused into ONE Python stage each to minimize Python-worker crossings.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from logtemplatecrawler_spark.core.extract import extract_statements
from logtemplatecrawler_spark.core.formalize import formalize_template
from logtemplatecrawler_spark.core.parse import parse_statement

_STRINGS = pa.list_(pa.string())


def _values(strings: pa.Array):
    """The Python ``str`` (None for null) values of a string array.

    ``to_numpy`` converts in one native pass; ``to_pylist`` boxes an Arrow
    scalar per element first, about 20x slower per row (pyarrow 16).
    """
    return strings.to_numpy(zero_copy_only=False)


@F.arrow_udf(ArrayType(StringType()))
def extract_raws(text: pa.Array, lang: pa.Array, framework: pa.Array) -> pa.Array:
    """Per-page raw log statements, in trigger-match order (U5).

    The per-row loop lives inside the Arrow batch; result order feeds
    ``posexplode`` so each statement keeps its in-file index.
    """
    return pa.array(
        [extract_statements(t, l, f) for t, l, f in
         zip(_values(text), _values(lang), _values(framework))],
        type=_STRINGS,
    )


_PARSE_RESULT = StructType(
    [
        StructField("parsed_template", StringType(), True),
        StructField("arguments", ArrayType(StringType()), True),
        StructField("template", StringType(), True),
    ]
)


@F.arrow_udf(_PARSE_RESULT)
def parse_and_formalize(raw: pa.Array, lang: pa.Array, framework: pa.Array) -> pa.Array:
    """Parse (U6-U10) + formalize (U11-U12) fused into one Python stage.

    A null ``parsed_template`` means the parser dropped the row; a null
    ``template`` means formalization dropped it (count mismatch).  The
    native validity filter between the two is always-true (F8), so fusing
    loses nothing and saves one Arrow round-trip per statement batch.
    """
    templates, arguments, formals = [], [], []
    for r, l, f in zip(_values(raw), _values(lang), _values(framework)):
        parsed = parse_statement(r, l, f)
        if parsed is None:
            templates.append(None)
            arguments.append(None)
            formals.append(None)
            continue
        parsed_template, args = parsed
        templates.append(parsed_template)
        arguments.append(args)
        formals.append(formalize_template(parsed_template, args))
    return pa.StructArray.from_arrays(
        [pa.array(templates, pa.string()), pa.array(arguments, _STRINGS),
         pa.array(formals, pa.string())],
        names=["parsed_template", "arguments", "template"],
    )


# The function IS deterministic; the marker only pins it in place.  Without
# it Catalyst pushes the downstream null-filter below the struct-field
# projection and evaluates the UDF TWICE (one ArrowEvalPython feeding the
# Filter, another feeding the Project) — verified via executedPlan and
# pinned by tests/test_spark_pipeline.py::test_each_udf_evaluated_once.
# Marking it non-deterministic forbids that duplication; our native
# pre-filters are already placed below it explicitly, so no optimization is
# lost.
parse_and_formalize = parse_and_formalize.asNondeterministic()
