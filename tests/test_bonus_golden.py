"""End-to-end golden test: bonus pipeline over the reference's committed
JSON fixtures must byte-match its committed CSV goldens
(combined_detail_per_file.csv, combined_table.csv).

The fixtures are read in place from /root/reference (read-only); nothing
is copied into this repo.
"""

from __future__ import annotations

import os

from lion_parcel_etl_spark.pipelines.bonus import metrics_detail, metrics_final
from tests.conftest import REFERENCE, REFERENCE_JSON, needs_ref


def df_to_csv_text(df) -> str:
    # pandas to_csv reproduces the reference's float repr / empty-null
    # formatting; used only for golden comparison, never in the engine.
    return df.toPandas().to_csv(index=False)


@needs_ref
def test_detail_matches_golden(spark):
    detail = metrics_detail(spark, REFERENCE_JSON)
    expected = open(os.path.join(REFERENCE, "combined_detail_per_file.csv")).read()
    assert df_to_csv_text(detail) == expected


@needs_ref
def test_final_matches_golden(spark):
    final = metrics_final(metrics_detail(spark, REFERENCE_JSON))
    expected = open(os.path.join(REFERENCE, "combined_table.csv")).read()
    assert df_to_csv_text(final) == expected
