"""Projection-spec compiler (reference operators O6-O9).

The reference transforms each entity through a per-type Handlebars template
(reference app.js:84-86, templates/*.hbs, templates.js:15-34): a declarative
row->row mapping of source fields to target fields, with literal columns,
string interpolation, and an empty-string-falsy fallback (``{{#with
entity.aws_tag_Name}}{{.}}{{else}}{{entity.aws_instance_id}}{{/with}}``,
templates/awsEc2.hbs:8).

Here the same mapping is a list of declarative field specs compiled to Spark
``Column`` expressions — JVM-side, whole-stage-codegen'd; no Python UDF. The
compiler implements *faithful Handlebars semantics* by default:

- a referenced field missing from the schema renders as ``""`` (not NULL)
- NULL values render as ``""``
- the fallback form treats ``""`` as falsy (``F.coalesce`` alone would not)

Spec grammar (each entry produces one output column named ``target``)::

    {"target": "cmdb_ci", "source": "aws_arn"}              # rename (O6)
    {"target": "type", "value": "VM"}                        # literal (O6)
    {"target": "name",
     "first_nonempty": ["aws_tag_Name", "aws_instance_id"]}  # fallback (O7)
    {"target": "comments",
     "template": "Version: {v} Code SHA256: {sha}"}          # interp (O8)
    {"target": "os", "concat": [
        {"source": "azure_offer"}, {"value": " "},
        {"source": "azure_sku"}]}                            # concat (O8)

``{name}`` inside ``template`` references a source column; ``{{`` / ``}}``
escape literal braces.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import colcache

_TEMPLATE_TOKEN = re.compile(r"\{\{|\}\}|\{([^{}]+)\}")


def _str_ref(name: str, schema_fields: set[str] | None) -> Column:
    """A field reference with Handlebars semantics: missing column or NULL
    value renders as the empty string."""
    if schema_fields is not None and name not in schema_fields:
        return F.lit("")
    return F.coalesce(F.col(name).cast("string"), F.lit(""))


def _compile_concat(parts: Sequence[Mapping], schema_fields: set[str] | None) -> Column:
    cols: list[Column] = []
    for part in parts:
        if "source" in part:
            cols.append(_str_ref(part["source"], schema_fields))
        elif "value" in part:
            cols.append(F.lit(str(part["value"])))
        else:
            raise ValueError(f"concat part needs 'source' or 'value': {part!r}")
    return F.concat(*cols) if cols else F.lit("")


def _compile_template(template: str, schema_fields: set[str] | None) -> Column:
    cols: list[Column] = []
    pos = 0
    buf = ""
    for m in _TEMPLATE_TOKEN.finditer(template):
        buf += template[pos : m.start()]
        pos = m.end()
        tok = m.group(0)
        if tok == "{{":
            buf += "{"
        elif tok == "}}":
            buf += "}"
        else:
            if buf:
                cols.append(F.lit(buf))
                buf = ""
            cols.append(_str_ref(m.group(1).strip(), schema_fields))
    buf += template[pos:]
    if buf:
        cols.append(F.lit(buf))
    return F.concat(*cols) if cols else F.lit("")


def compile_field(spec: Mapping, schema_fields: set[str] | None = None) -> Column:
    """Compile one field spec to an aliased Column expression."""
    target = spec["target"]
    if "source" in spec:
        # Plain rename keeps the source datatype (SQL mode); pass
        # string=True for byte-faithful Handlebars string rendering.
        if spec.get("string"):
            col = _str_ref(spec["source"], schema_fields)
        elif schema_fields is not None and spec["source"] not in schema_fields:
            col = F.lit("")
        else:
            col = F.col(spec["source"])
    elif "value" in spec:
        col = F.lit(spec["value"])
    elif "first_nonempty" in spec:
        # Handlebars #with: "" and NULL are both falsy (templates/awsEc2.hbs:8).
        # DIVERGENCE: Handlebars also treats numeric 0 as falsy; this
        # post-stringification chain cannot distinguish 0 from "0" and keeps
        # "0" truthy. For byte-faithful numeric-source fallbacks use the
        # type-aware hbs.py compiler ({{#with}} there is 0-falsy).
        col = F.lit("")
        for name in reversed(spec["first_nonempty"]):
            c = _str_ref(name, schema_fields)
            col = F.when(c != "", c).otherwise(col)
    elif "concat" in spec:
        col = _compile_concat(spec["concat"], schema_fields)
    elif "template" in spec:
        col = _compile_template(spec["template"], schema_fields)
    else:
        raise ValueError(f"unrecognized field spec: {spec!r}")
    return col.alias(target)


def compile_mapping(
    specs: Iterable[Mapping], schema_fields: set[str] | None = None
) -> list[Column]:
    """Compile a whole projection spec (one reference .hbs template) to a
    ``select()`` list."""
    return [compile_field(s, schema_fields) for s in specs]


def apply_mapping(df: DataFrame, specs: Iterable[Mapping]) -> DataFrame:
    """Project ``df`` through a mapping spec (reference transform(),
    app.js:84-86). Unknown source fields render as ``""`` per Handlebars.

    The select list is built once per spec and set of column names
    (:mod:`~entity_etl_spark.colcache`); a spec that does not serialize
    to JSON is compiled every call."""
    specs = list(specs)
    fields = frozenset(df.columns)
    try:
        key = ("mapping", json.dumps(specs, sort_keys=True), fields)
    except (TypeError, ValueError):
        return df.select(*compile_mapping(specs, set(fields)))
    return df.select(
        *colcache.cached(key, lambda: compile_mapping(specs, set(fields)))
    )


def to_json_rows(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Serialize each row to one JSON string column ``json`` (reference O9:
    every template render emits a JSON string per entity, app.js:85)."""
    cols = tuple(columns) if columns else tuple(df.columns)
    return df.select(
        colcache.cached(
            ("to_json", cols),
            lambda: F.to_json(F.struct(*[F.col(c) for c in cols])).alias("json"),
        )
    )


def load_projection_specs(specs_dir: str | None = None) -> dict[str, list]:
    """Load the per-entity-type projection specs (the engine's counterpart
    of the reference's templates/ directory, templates.js:15-28: one spec
    per type, discovered from disk at startup).

    The shipped specs re-express all 19 entity-type templates of the
    reference in the declarative grammar above, with its two
    invalid-JSON template bugs fixed (awsS3.hbs:6 trailing comma,
    awsDynamoDb.hbs:6-7 missing comma) and its azureVm aws_hypervisor
    copy-paste bug reproduced-but-documented (specs/azureVm.json)."""
    import glob as _glob
    import os as _os

    if specs_dir is None:
        specs_dir = _os.path.join(_os.path.dirname(__file__), "specs")
    out: dict[str, list] = {}
    for path in sorted(_glob.glob(_os.path.join(specs_dir, "*.json"))):
        name = _os.path.splitext(_os.path.basename(path))[0]
        with open(path) as f:
            out[name] = json.load(f)
    return out
