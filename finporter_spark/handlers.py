"""Entry-point handlers: transform, detect, and (importer, schema) resolution.

Reference: /root/reference/Sources/Handlers/TransformHandler.swift:25-128 and
DetectHandler.swift:24-36. The error taxonomy is preserved exactly, and the
disambiguation principle (SURVEY §2C-5: ambiguity raises, never "pick
first") likewise:

- explicit importer id not found        -> ImporterNotRecognized
- auto-detect with 0 matches            -> SourceFormatNotRecognized
- auto-detect with >=2 importers        -> MultipleImportersMatch
- explicit schema unsupported           -> TargetSchemaNotSupported
- 0 output schemas detected             -> NeedExplicitOutputSchema
- >=2 output schemas detected           -> MultipleOutputSchemasMatch

The Spark difference (SURVEY §3): steps stay driver-side through resolution
(prefix bytes only), then decode->validate->export is ONE lazy plan
``read -> selectExpr(cast/regex/default SQL) -> filter(reject SQL) ->
selectExpr(concat_ws(...)) -> write`` that Catalyst optimizes end-to-end;
no per-entity monomorphization is needed. Each step is built as SQL text,
one parse in the driver JVM, because a per-file CLI call pays for every
py4j round trip a Column-API plan would make (hundreds per file); the text
resolves to the same Catalyst plan.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from finporter_spark.errors import (
    ImporterNotRecognized,
    MultipleImportersMatch,
    MultipleOutputSchemasMatch,
    NeedExplicitOutputSchema,
    SourceFormatNotRecognized,
    TargetSchemaNotSupported,
)
from finporter_spark.importers.base import Importer
from finporter_spark.importers.prospector import Prospector
from finporter_spark.model import AllocFormat, AllocSchema
from finporter_spark.sources import read_prefix


def get_pair(
    prospector: Prospector,
    data_prefix: bytes,
    importer_id: str | None = None,
    output_schema: AllocSchema | None = None,
) -> tuple[Importer, AllocSchema]:
    """Resolve (importer, schema) — TransformHandler.swift:57-108.

    DELIBERATE divergence from the reference's getPair: when no explicit
    schema is given, the implicit schema resolves from the DETECTED set,
    not from ``importer.outputSchemas`` (the reference raises
    multipleOutputSchemasMatch whenever the importer merely *declares*
    >=2 schemas, even if detect narrowed to exactly one — under that rule
    AllocDataImporter's 7 declared schemas would always force an explicit
    ``output_schema`` although the header identifies the entity
    unambiguously). The 0-detected case raises NeedExplicitOutputSchema
    (reference: targetSchemaNotSupported([])) for the same reason: the
    caller's fix is to pass a schema, and the error should say so.
    """
    if importer_id is not None:
        imp = prospector.get(importer_id)
        if imp is None:
            raise ImporterNotRecognized(importer_id)
        detected: list[AllocSchema] = list(imp.output_schemas)
    else:
        results = prospector.prospect(data_prefix, [AllocFormat.CSV])
        if len(results) == 0:
            raise SourceFormatNotRecognized()
        if len(results) > 1:
            raise MultipleImportersMatch(list(results))
        imp, det = next(iter(results.items()))
        detected = list(det)

    if output_schema is not None:
        if output_schema not in imp.output_schemas:
            raise TargetSchemaNotSupported(list(imp.output_schemas))
        return imp, output_schema

    if len(detected) == 0:
        raise NeedExplicitOutputSchema(list(imp.output_schemas))
    if len(detected) > 1:
        raise MultipleOutputSchemasMatch(detected)
    return imp, detected[0]


def handle_transform(
    spark: SparkSession,
    prospector: Prospector,
    path: str,
    importer_id: str | None = None,
    output_schema: AllocSchema | None = None,
    output_format: AllocFormat = AllocFormat.CSV,
    def_time_of_day: str | None = None,
    time_zone: str | None = None,
    **decode_kw,
) -> str:
    """Path -> standardized delimited string (TransformHandler.swift:25-55).

    Returns the encoded export (line endings already normalized: the golden
    encoder emits ``\\n`` natively, so the reference's final normalization
    pass at TransformHandler.swift:127 is a no-op here).
    """
    prefix = read_prefix(path)
    imp, schema = get_pair(prospector, prefix, importer_id, output_schema)
    # decode reads the format detect saw (an AllocData TSV is not a CSV);
    # a caller's explicit input_format wins
    formats = imp.detect(prefix).get(schema, [])
    if "input_format" not in decode_kw and len(formats) == 1:
        decode_kw["input_format"] = formats[0]
    # In the reference, decode sees the whole file and captures per-file
    # context (e.g. the account banner) itself; here decode is a lazy plan
    # over the data rows, so driver-side prefix capture feeds it instead.
    if "account_id" not in decode_kw and hasattr(imp, "account_id"):
        captured = imp.account_id(prefix)
        if captured is not None:
            decode_kw["account_id"] = captured
    good, _bad = imp.decode(
        spark,
        path,
        output_schema=schema,
        def_time_of_day=def_time_of_day,
        time_zone=time_zone,
        **decode_kw,
    )
    try:
        return imp.export(good, output_format, schema)
    finally:
        # export materialized the decode; drop its corrupt-channel cache
        # so repeated transforms don't accumulate storage (caching.py)
        from finporter_spark.caching import release_caches

        release_caches(good, _bad)


def handle_detect(
    prospector: Prospector, path: str, n_bytes: int = 4096
) -> list[str]:
    """Detect report (DetectHandler.swift:24-36): for each matching importer,
    ``"schema: fmt,fmt"`` strings."""
    prefix = read_prefix(path, n_bytes)
    results = prospector.prospect(prefix, [AllocFormat.CSV])
    out: list[str] = []
    for imp, det in results.items():
        for schema, fmts in det.items():
            out.append(
                f"{imp.id_}: {schema.value}: "
                + ",".join(f.value for f in fmts)
            )
    return out
