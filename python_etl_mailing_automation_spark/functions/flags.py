"""Conditional flags and null-literal scrubbing (SURVEY.md §2.8 F10/F11)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# String literals the reference scrubs out of written files
# (compressor.py:25-34). With native null handling these never appear, but
# the scrub is kept for stringly-typed legacy ingestion.
NULL_LITERALS = ("nan", "NaT", "None", "NAN")


def conditional_flag_sim_nao(col: Column | str) -> Column:
    """F10: ``Cliente_Regulariza`` semantics
    (processing_pipeline.py:188-193): SIM iff value present and not ``'N'``
    (case/whitespace-insensitive); null/absent → ``'NÃO'``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull() & (F.upper(F.trim(c.cast("string"))) != "N"), F.lit("SIM")
    ).otherwise(F.lit("NÃO"))


def null_literal_scrub(col: Column | str) -> Column:
    """F11: replace literal 'nan'/'NaT'/'None'/'NAN' strings with ''."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isin(*NULL_LITERALS), F.lit("")).otherwise(c)

