from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest

from lion_parcel_etl_spark.session import get_spark

REFERENCE = "/root/reference"
REFERENCE_JSON = os.path.join(REFERENCE, "downloads_json")
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

needs_ref = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_JSON),
    reason=f"reference fixtures unavailable: {REFERENCE_JSON} does not exist",
)

# A small MetricDataResults corpus (FIXTURES.md §5) covering the shapes the
# bonus pipeline must handle: ids shared across files (m1, m2), several
# entries in one document, an empty Values array (m3), an object-valued
# message, and one document (result-json-4) whose Messages reach every
# branch of the message normalizer.
_TS = ["2025-08-01T03:15:00+00:00", "2025-08-01T04:15:00+00:00"]
BONUS_DOCS = {
    "result-json-0.json": {
        "MetricDataResults": [
            {"Id": "m1", "Label": "VisualLoadTime", "Timestamps": _TS,
             "Values": [2049.0, 1800.5], "StatusCode": "Complete"},
        ],
        "Messages": [],
    },
    "result-json-1.json": {
        "MetricDataResults": [
            {"Id": "m1", "Label": "VisualLoadTime", "Timestamps": _TS[:1],
             "Values": [2500.0], "StatusCode": "Complete"},
            {"Id": "m2", "Label": "PageLoadTime", "Timestamps": _TS,
             "Values": [900.0, 1100.0], "StatusCode": "Complete"},
        ],
        "Messages": ["partial data"],
    },
    "result-json-2.json": {
        "MetricDataResults": [
            {"Id": "m3", "Label": "Empty", "Timestamps": [], "Values": [],
             "StatusCode": "Complete"},
        ],
        "Messages": [],
    },
    "result-json-3.json": {
        "MetricDataResults": [
            {"Id": "m2", "Label": "PageLoadTime", "Timestamps": _TS[1:],
             "Values": [1300.0], "StatusCode": "Complete"},
        ],
        "Messages": [{"Description": "High Priority Access"}],
    },
    "result-json-4.json": {
        "MetricDataResults": [
            {"Id": "m4", "Label": "FirstByte", "Timestamps": _TS,
             "Values": [310.0, 290.5], "StatusCode": "Complete"},
        ],
        "Messages": [
            {"Message": "keyed message"},
            "plain string",
            {"message": "", "text": "falls through to text"},
            42.5,
            True,
            None,
            "pengiriman tertunda — été ✓",
        ],
    },
}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="lpe-tests", master="local[4]", extra_conf={
        "spark.sql.shuffle.partitions": "4",
    })
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def bonus_json(tmp_path_factory):
    """BONUS_DOCS written one file each; ``entries`` (detail rows) and
    ``ids`` (final rows) are derived from the documents themselves."""
    d = tmp_path_factory.mktemp("bonus_json")
    for name, doc in BONUS_DOCS.items():
        (d / name).write_text(json.dumps(doc, ensure_ascii=False), encoding="utf-8")
    metrics = [m for doc in BONUS_DOCS.values() for m in doc["MetricDataResults"]]
    return SimpleNamespace(
        path=str(d),
        files=len(BONUS_DOCS),
        entries=len(metrics),
        ids=len({m["Id"] for m in metrics}),
    )
