"""Bonus detail plan: one corpus scan, and Python paid after the sort's
single-partition exchange; every ``Messages`` normalizer branch reaches
the detail table."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from lion_parcel_etl_spark.pipelines.bonus import metrics_detail
from lion_parcel_etl_spark.sources.metrics_json import normalize_message_doc


def test_metrics_detail_plan_scans_corpus_once(spark, bonus_json):
    df = metrics_detail(spark, bonus_json.path)
    df.collect()  # run it, so the adaptive plan below is the final one
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    lines = final.splitlines()
    assert sum("FileScan text" in ln for ln in lines) == 1, final
    # a global sort range-samples its input: a second job, a second scan
    assert "rangepartitioning" not in final.lower(), final
    udf = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
    exchange = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    # one linear plan: a node printed above another is its ancestor
    assert len(udf) == 1 and len(exchange) == 1, final
    assert udf[0] < exchange[0], final


def test_every_normalizer_branch_reaches_detail(spark, bonus_json):
    raw = (
        spark.read.text(os.path.join(bonus_json.path, "result-json-4.json"), wholetext=True)
        .select(F.get_json_object("value", "$.Messages"))
        .first()[0]
    )
    want = normalize_message_doc(raw)
    # the document holds a keyed object, a string, an empty-`message`
    # object falling through to `text`, a number, true, null and non-ASCII
    assert want == (
        "keyed message; plain string; falls through to text; 42.5; True; None; "
        "pengiriman tertunda — été ✓"
    )
    got = {
        r["Message"]
        for r in metrics_detail(spark, bonus_json.path)
        .filter(F.col("source_file") == "result-json-4.json")
        .collect()
    }
    assert got == {want}
