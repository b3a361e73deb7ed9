"""XML → badgerfish-JSON source.

Parity: the reference ingests XML (badgerfish convention: attributes
as '@'-prefixed keys) and resolves xi:include references
(reference: src/main/index.js:44-70, FileResolver.js:80-94). Two
paths here:

- ``parse_xml_column``: DISTRIBUTED parse of an xml-string column with
  Spark's built-in ``from_xml`` — the scale path for row-per-document
  XML, run in the JVM with no Python worker. Options:
  ``attributePrefix="@"`` names each root attribute ``@<name>``, the
  badgerfish key; ``ignoreSurroundingSpaces="false"`` keeps an
  attribute's leading and trailing spaces, as ElementTree does. Like
  ElementTree, the parser decodes ``&amp;``-style references,
  normalizes tab/newline in attribute values to spaces, keeps a
  namespaced ``n:id`` out of ``@id``, and gives NULL attributes for a
  malformed or NULL document; an undefined entity is malformed in both.
  It differs on DTDs, where it gives a NULL row and ElementTree a value:
  an internal ``<!ENTITY>`` ElementTree expands, and an undefined entity
  after an external ``<!DOCTYPE … SYSTEM>`` reference, which ElementTree
  reads as ''. An external ``SYSTEM`` entity is read by neither.
- ``read_xml_file`` + ``resolve_xincludes``: driver-side parse of
  small config/control documents, as in the reference, through
  ``element_to_badgerfish``.

Literal XSLT (index.js:87-126) IS executed since r5: the
``xsl_transform`` entry point below delegates to the stdlib
XSLT-1.0-subset engine in functions/xslt.py. The declarative-chain
analogue — an xi:include-driven ORDERED CHAIN of mapping-spec reshapes
fused by Catalyst — lives in plans/xsl_chain.py.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def element_to_badgerfish(elem: ET.Element) -> dict:
    """Attributes -> '@key'; text -> '$'; children -> lists by tag."""
    out: dict = {f"@{k}": v for k, v in elem.attrib.items()}
    text = (elem.text or "").strip()
    if text:
        out["$"] = text
    for child in elem:
        out.setdefault(child.tag, []).append(element_to_badgerfish(child))
    return out


_FROM_XML_OPTIONS = {"attributePrefix": "@", "ignoreSurroundingSpaces": "false"}


def parse_xml_column(
    df: DataFrame, xml_col: str, attrs: list[str], out_schema: str
) -> DataFrame:
    """Parse an xml-string column into '@attr' columns, distributed.

    `attrs` are the root attribute names to surface; `out_schema` is the
    DDL schema of the result (columns named '@<attr>', all strings unless
    cast downstream). One ``from_xml`` per row in the JVM (module
    docstring), then one field per attribute.
    """
    parsed = df.select(
        F.from_xml(F.col(xml_col), out_schema, _FROM_XML_OPTIONS).alias("_xml")
    )
    return parsed.select(
        *[F.col("_xml").getField(f"@{a}").alias(f"@{a}") for a in attrs]
    )


def resolve_xincludes(doc, base_dir: str, encoding: str = "utf-8"):
    """Inline xi:include hrefs (reference resolveXIncludes, index.js:44)."""
    if isinstance(doc, list):
        return [resolve_xincludes(d, base_dir, encoding) for d in doc]
    if isinstance(doc, dict):
        out = {}
        for key, val in doc.items():
            if key == "xi:include":
                hrefs = val if isinstance(val, list) else [val]
                texts = []
                for h in hrefs:
                    href = h["@href"] if isinstance(h, dict) else h
                    with open(os.path.join(base_dir, href), encoding=encoding) as fh:
                        texts.append(fh.read())
                out[key] = texts if isinstance(val, list) else texts[0]
            else:
                out[key] = resolve_xincludes(val, base_dir, encoding)
        return out
    return doc


def read_xml_file(path: str) -> dict:
    """Driver-side: parse one XML document to badgerfish JSON."""
    return element_to_badgerfish(ET.parse(path).getroot())


def xsl_transform(xml: str, stylesheets) -> str:
    """XSLT pipeline (reference index.js:87-126): apply the stylesheet
    chain head-first over ``xml``. Delegates to the stdlib
    XSLT-1.0-subset engine in functions/xslt.py. ``stylesheets`` is an
    iterable of stylesheet source strings."""
    from cpx_etl_spark.functions.xslt import compile_stylesheet, xslt_pipeline

    return xslt_pipeline(xml, [compile_stylesheet(s) for s in stylesheets])
