"""Text normalization (F1, F2, F6, F7, F9, F10 in SURVEY.md §2.6).

Reference semantics at ``src/barrazueta_pipeline_etl_crossref.py``:
F1 ``norm_text_nfc`` :97-103, F2 ``norm_text_nfkd_lower`` :105-111,
F6 ``author_full_name`` :141-145, F7 ``normalize_aff_name`` :148-149,
F9 ORCID strip :317, F10 array join :670,672.

Engine policy: native Column expressions wherever the JVM has the
primitive; Arrow-vectorized pandas_udf ONLY for Unicode NFC/NFKD
normalization + HTML unescape, which Spark SQL lacks. These two UDFs are
the entire Python surface of the parity layer — everything else is
whole-stage-codegen-eligible.
"""

from __future__ import annotations

import html
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


# returnType as a DataType instance (not a DDL string): the decorator runs at
# import time, and DDL-string parsing needs an active SparkSession.
@pandas_udf(StringType())
def _nfc_unescape(s: pd.Series) -> pd.Series:
    """HTML-unescape + Unicode NFC (vectorized batch; Arrow transfer)."""
    return s.map(
        lambda x: unicodedata.normalize("NFC", html.unescape(x)) if x is not None else None
    )


def nfkd_deaccent_lower(x: str | None) -> str | None:
    """HTML-unescape + NFKD + strip combining marks + lower, one string."""
    if x is None:
        return None
    x = unicodedata.normalize("NFKD", html.unescape(x))
    return "".join(ch for ch in x if not unicodedata.combining(ch)).lower()


@pandas_udf(StringType())
def _nfkd_deaccent_lower_unescape(s: pd.Series) -> pd.Series:
    """``nfkd_deaccent_lower`` over an Arrow batch (vectorized)."""
    return s.map(nfkd_deaccent_lower)


def _collapse_ws_trim(col: Column) -> Column:
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def norm_text_nfc(col: Column) -> Column:
    """F1: unescape → NFC → collapse whitespace → trim; '' for null."""
    return F.coalesce(_collapse_ws_trim(_nfc_unescape(col)), F.lit(""))


def norm_text_nfkd_lower(col: Column) -> Column:
    """F2: unescape → NFKD de-accent → collapse ws → trim → lower; '' for null."""
    return F.coalesce(_collapse_ws_trim(_nfkd_deaccent_lower_unescape(col)), F.lit(""))


def author_full_name(given: Column, family: Column, name: Column) -> Column:
    """F6: ``trim(given + ' ' + family)`` else literal ``name`` — pre-F1."""
    joined = F.nullif(
        F.trim(F.concat_ws(" ", F.coalesce(given, F.lit("")), F.coalesce(family, F.lit("")))),
        F.lit(""),
    )
    return F.coalesce(joined, F.trim(name))


def strip_orcid_url(col: Column) -> Column:
    """F9: drop the ``https://orcid.org/`` prefix, trim; null-safe."""
    return F.nullif(F.trim(F.regexp_replace(col, r"^https?://orcid\.org/", "")), F.lit(""))


def join_str_array(col: Column, sep: str = "; ") -> Column:
    """F10: ``'; '.join(arr)`` — null array → ''."""
    return F.coalesce(F.array_join(col, sep), F.lit(""))
