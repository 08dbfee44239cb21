"""Diagnostics trio (profile/drift), Excel shim."""

from __future__ import annotations

import pytest

from python_etl_mailing_automation_spark.pipeline.diagnostics import (
    profile_unique_values,
    schema_drift,
)


def test_profile_unique_values(spark):
    df = spark.createDataFrame(
        [("A", "x"), ("A", "y"), ("B", None)], "bloq string, just string"
    )
    prof = {
        (r["column"], r["value"]): r["n_rows"]
        for r in profile_unique_values(df, ["bloq", "just", "missing"]).collect()
    }
    assert prof[("bloq", "A")] == 2
    assert prof[("bloq", "B")] == 1
    assert prof[("just", None)] == 1
    with pytest.raises(ValueError):
        profile_unique_values(df, ["nope"])


def test_schema_drift(spark):
    base = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
    new = spark.createDataFrame([(1, 3, 4)], "a int, c int, d int")
    d = schema_drift(base, new)
    assert d.added == ["d"] and d.removed == ["b"] and not d.reordered
    assert d.has_drift
    swapped = spark.createDataFrame([(2, 1)], "b int, a int")
    d2 = schema_drift(base.select("a", "b"), swapped)
    assert d2.reordered and d2.has_drift
    assert not schema_drift(base, base).has_drift


def test_excel_shim_roundtrip(spark, tmp_path):
    pd = pytest.importorskip("pandas")
    pytest.importorskip("openpyxl")
    from python_etl_mailing_automation_spark.sources.excel import read_excel

    path = tmp_path / "Pontuação_test.xlsx"
    with pd.ExcelWriter(path, engine="openpyxl") as xw:
        pd.DataFrame({" Documento ": ["d1"], "TELEFONE": ["84999"]}).to_excel(
            xw, sheet_name="Aba1", index=False
        )
        pd.DataFrame({"documento": ["d2"], "telefone": [None]}).to_excel(
            xw, sheet_name="Aba2", index=False
        )
    sheets = read_excel(spark, path, sheet_name=None)
    assert set(sheets) == {"Aba1", "Aba2"}
    assert sheets["Aba1"].columns == ["documento", "telefone"]  # P1 normalize
    assert sheets["Aba1"].first()["documento"] == "d1"
    assert sheets["Aba2"].first()["telefone"] is None


def test_profile_cardinality_hll(spark, sf_dir):
    from python_etl_mailing_automation_spark.pipeline.diagnostics import (
        profile_cardinality,
    )
    from python_etl_mailing_automation_spark.sources import read_table

    orders = read_table(spark, sf_dir, "orders")
    prof = {
        r["column"]: r
        for r in profile_cardinality(
            orders, ["o_custkey", "o_orderstatus", "missing"]
        ).collect()
    }
    assert set(prof) == {"o_custkey", "o_orderstatus"}
    assert prof["o_orderstatus"]["exact_distinct"] == 3
    for r in prof.values():  # HLL within 10% of exact at rsd=0.05
        err = abs(r["approx_distinct"] - r["exact_distinct"]) / max(r["exact_distinct"], 1)
        assert err <= 0.10
