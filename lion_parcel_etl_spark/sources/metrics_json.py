"""Schema-on-read source for the metrics JSON corpus.

Reference behavior being re-expressed (NOT ported): per-file
``json.load`` + manual flatten at
``public/lion_parcell_bonus_test_stg.py:175-212`` with skip-on-error at
``:250-260``.

Spark-first design: each document is one row of ``spark.read.text(...,
wholetext=True)`` — distributed file listing and IO, no driver loop —
then ``from_json`` with the strict schema for ``MetricDataResults``.

The ``Messages`` field is heterogeneous (``array<string | object>``,
e.g. ``result-json-6.json`` holds ``[{"Description": ...}]``), which no
Spark JSON schema can type (SURVEY.md §7 hard part 1). The source keeps
the raw array text (``get_json_object``) as ``raw_messages`` and does
not normalize it. :func:`normalize_messages` is the one rule that turns
it into text: a vectorized Pandas UDF over :func:`normalize_message_doc`,
which mirrors the reference's fallback chain (string → itself; object →
first of Message/message/text, else JSON dump; other → str).

Where the UDF sits in a plan decides how often it runs. Catalyst cannot
push work through or around a Python UDF (Spark SQL paper), and a UDF in
the scan stage runs again in every job that re-executes that stage —
including the range-sampling job of a global sort — and pays its
per-task Python worker cost even when every input is null. So callers
apply it last: ``pipelines/bonus.metrics_detail`` applies it in the one
task of its single-partition detail sort, and the streaming twin at the
end of its plan.
"""

from __future__ import annotations

import json
import sys

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from lion_parcel_etl_spark.schemas import METRICS_DOC

# The UDF calls a module-level function, which cloudpickle would send to
# Python workers by reference, so workers would have to import this
# package. Send this module's functions by value instead: the bonus
# pipeline runs wherever pyspark does.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def normalize_message_doc(txt: str | None) -> str:
    """One document's ``Messages`` JSON text → '; '-joined message strings.

    Mirrors extract_messages semantics
    (reference public/lion_parcell_bonus_test_stg.py:161-173).
    """
    if txt is None:
        return ""
    try:
        msgs = json.loads(txt)
    except (ValueError, TypeError):
        return ""
    if not isinstance(msgs, list):
        msgs = [msgs]
    out = []
    for m in msgs:
        if isinstance(m, str):
            out.append(m)
        elif isinstance(m, dict):
            val = m.get("Message") or m.get("message") or m.get("text")
            out.append(val if isinstance(val, str) else json.dumps(m))
        else:
            out.append(str(m))
    return "; ".join(out)


@F.pandas_udf(StringType())
def normalize_messages(raw_messages: pd.Series) -> pd.Series:
    """``raw_messages`` text → normalized ``Message`` strings."""
    return raw_messages.map(normalize_message_doc)


def read_metrics_docs(spark: SparkSession, path: str, streaming: bool = False) -> DataFrame:
    """Read a directory/glob of metrics JSON documents.

    Returns one row per document:
      source_file string, metrics array<struct<Id,Label,Timestamps,Values,StatusCode>>,
      raw_messages string (the raw ``$.Messages`` JSON text, not
      normalized; see :func:`normalize_messages`), corrupt boolean.

    Malformed documents get ``corrupt=true`` and null metrics (the
    skip-on-error analog); callers filter them out.

    ``streaming=True`` returns the same plan over a file-stream source
    (new files picked up per micro-batch; see streaming/jobs.py).
    """
    reader = spark.readStream if streaming else spark.read
    raw = reader.text(path, wholetext=True).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("source_file"),
        F.col("value").alias("raw"),
    )
    parsed = raw.select(
        "source_file",
        F.from_json("raw", METRICS_DOC).alias("doc"),
        F.get_json_object("raw", "$.Messages").alias("raw_messages"),
    )
    return parsed.select(
        "source_file",
        F.col("doc.MetricDataResults").alias("metrics"),
        "raw_messages",
        F.col("doc").isNull().alias("corrupt"),
    )
