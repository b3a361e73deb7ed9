"""Unicode normalization column function, run in the JVM.

Spark has no built-in Unicode normalizer, but every Spark 4.1 JVM
carries ICU4J (a hard dependency of its collations), so
``unicode_normalize`` calls ``com.ibm.icu.text.Normalizer`` per row
through Spark's ``reflect``: the stage stays in the JVM and starts no
Python worker. ``compose``/``decompose`` with the ``compat`` flag give
the four forms (NFC, NFKC, NFD, NFKD). Training pipelines normalize text
BEFORE hashing/dedup so that composed and decomposed spellings of the
same grapheme ('é' vs 'e'+U+0301) dedup together.

Cross-engine determinism: NFC/NFKC are deterministic per Unicode
version. ICU 77 normalizes with Unicode 16 tables, Python 3.11's
``unicodedata`` with 14.0 and DuckDB's ``nfc_normalize`` with its own;
they agree on any character assigned in all of them, because
normalization of assigned characters is stabilized by the Unicode
standard's normalization stability policy. Only a character assigned
after the oldest of those versions can normalize differently.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# form -> (ICU Normalizer method, compat)
_FORMS = {
    "NFC": ("compose", False),
    "NFKC": ("compose", True),
    "NFD": ("decompose", False),
    "NFKD": ("decompose", True),
}


def unicode_normalize(col: Column, form: str = "NFC") -> Column:
    """Normalize a string column to the given Unicode normal form; NULL
    stays NULL."""
    if form not in _FORMS:
        raise ValueError(f"form must be one of {tuple(_FORMS)}, got {form!r}")
    method, compat = _FORMS[form]
    return F.when(
        col.isNotNull(),
        F.reflect(
            F.lit("com.ibm.icu.text.Normalizer"), F.lit(method), col, F.lit(compat)
        ),
    )
