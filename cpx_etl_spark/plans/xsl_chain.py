"""Ordered multi-step reshape pipeline — the XSLT-chain analogue.

Parity: the reference's ``xslTransform`` (src/main/index.js:87-126)
reads a control document whose ``xi:include`` entries name a CHAIN of
stylesheets; ``xslPipeline`` applies them in document order, each step
consuming the previous step's output. libxslt does not exist in this
environment, and row-at-a-time stylesheet application would be the
wrong execution model anyway — what survives is the observable
behavior: an ordered chain of declarative reshapes resolved from an
xi:include control file.

Here each chain step is a transform-mapping spec (plans/mapping.py, the
same spec language as applyTransform) stored as JSON. The control XML
is parsed driver-side (it is configuration, not data); the steps
compile to consecutive ``select`` projections over the DataFrame, which
Catalyst collapses into a single whole-stage-codegen projection — the
chain costs ONE pass over the data regardless of its length, applied
distributed with no driver row loop.
"""

from __future__ import annotations

import json
import os
import xml.etree.ElementTree as ET

import pandas as pd  # module level: pandas_udf resolves stringified hints here
from pyspark.sql import DataFrame

from cpx_etl_spark.plans.mapping import apply_mapping


def _local_name(tag: str) -> str:
    return tag.rsplit("}", 1)[-1] if "}" in tag else tag.rsplit(":", 1)[-1]


def load_chain(control_path: str, base_dir: str | None = None) -> list[dict]:
    """Resolve a control document's xi:include chain to mapping specs.

    Includes are collected in DOCUMENT ORDER (the reference applies
    ``transform['xi:include']`` head-first, index.js:119-124); each
    href resolves relative to the control file and must contain a JSON
    mapping spec. Namespaced ({http://www.w3.org/2001/XInclude}include)
    and plain ``xi:include`` spellings both work.
    """
    root = ET.parse(control_path).getroot()
    base = base_dir if base_dir is not None else os.path.dirname(control_path)
    specs: list[dict] = []
    for elem in root.iter():
        if _local_name(elem.tag) != "include":
            continue
        href = elem.attrib.get("href")
        if not href:
            raise ValueError(f"xsl_chain: include without href in {control_path}")
        with open(os.path.join(base, href), encoding="utf-8") as fh:
            specs.append(json.load(fh))
    if not specs:
        raise ValueError(f"xsl_chain: no xi:include entries in {control_path}")
    return specs


def apply_chain(df: DataFrame, specs: list[dict]) -> DataFrame:
    """Apply the reshape chain in order. Consecutive projections fuse
    into one Catalyst plan — verified by tests/test_plans.py (a chain
    of N steps shows a single Project over the scan)."""
    for spec in specs:
        df = apply_mapping(df, spec)
    return df


def apply_chain_from_control(df: DataFrame, control_path: str) -> DataFrame:
    return apply_chain(df, load_chain(control_path))


# ---------------------------------------------------------------------------
# REAL stylesheet execution (functions/xslt.py MiniXslt)
# ---------------------------------------------------------------------------

def load_stylesheet_chain(control_path: str, base_dir: str | None = None) -> list[str]:
    """Resolve a control document's xi:include chain to stylesheet
    SOURCES (the reference's own layout: hrefs name ``.xsl`` files,
    index.js:108-126). Document order, hrefs relative to the control."""
    root = ET.parse(control_path).getroot()
    base = base_dir if base_dir is not None else os.path.dirname(control_path)
    srcs: list[str] = []
    for elem in root.iter():
        if _local_name(elem.tag) != "include":
            continue
        href = elem.attrib.get("href")
        if not href:
            raise ValueError(f"xsl_chain: include without href in {control_path}")
        with open(os.path.join(base, href), encoding="utf-8") as fh:
            srcs.append(fh.read())
    if not srcs:
        raise ValueError(f"xsl_chain: no xi:include entries in {control_path}")
    return srcs


def xslt_transform_column(
    df: DataFrame, xml_col: str, out_col: str, stylesheet_srcs: list[str],
    spread: bool = True, base_dir: str | None = None,
) -> DataFrame:
    """Run a stylesheet chain over an XML string column, Arrow-batched.

    Stylesheet execution is genuinely imperative per-document work
    (template dispatch over a parsed tree), so this is the legitimate
    pandas-UDF path — same rationale as the multimodal decoders. The
    sources (KBs of configuration) ship in the closure and compile once
    per task; the data rows never leave the executor.

    ``spread`` repartitions to the cluster's default parallelism first:
    a CPU-bound ~0.6ms/row stage must not inherit the SCAN's
    partitioning (a small input can be 1-3 row groups → 3 busy cores
    and the rest idle; measured 25.7s -> ~3s at sf0.1 on local[32]).
    The exchange cost is noise next to the per-row work. Pass False
    when the input's partitioning is already compute-shaped."""
    from pyspark.sql import functions as F

    from cpx_etl_spark.functions.xslt import compile_stylesheet, xslt_pipeline

    if spread:
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    srcs = tuple(stylesheet_srcs)
    bdir = base_dir  # closure-shipped; document() refs resolve per task
    state: dict = {}

    @F.pandas_udf("string")
    def run(batch: pd.Series) -> pd.Series:
        if "fns" not in state:
            state["fns"] = [compile_stylesheet(s, base_dir=bdir) for s in srcs]
        fns = state["fns"]
        return batch.map(lambda x: xslt_pipeline(x, fns) if x is not None else None)

    # asNondeterministic: the transform IS deterministic, but this stops
    # Catalyst from cloning the expensive Python stage into pushed-down
    # filter predicates — a downstream filter on the output column
    # otherwise re-evaluates the whole UDF below the repartition (two
    # ArrowEvalPython nodes, one on the unspread scan: measured 19.5s
    # vs 2.6s at sf0.1). Pushdown past a ~0.6ms/row stage is never a
    # win anyway.
    return df.withColumn(out_col, run.asNondeterministic()(F.col(xml_col)))
