"""Output checks. Each returns a list of problems; empty means correct.

The checkers take pandas frames or plain rows, so the tests can feed them
deliberately corrupted tables without a Spark session.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import numpy as np
import pandas as pd

from gen import BonusExpect, RetailExpect


def check_retail(mart: pd.DataFrame, scd: pd.DataFrame, exp: RetailExpect) -> list[str]:
    """``mart``: (id, deleted_at) of ``retail_transactions``;
    ``scd``: (id, versions, n_current) per id of ``retail_transactions_scd``.

    - the mart's ids are unique and are exactly the ids seen so far;
    - ``deleted_at`` is set on the tick an id became DONE and kept while
      it stays DONE (null otherwise);
    - SCD2 holds one current row per id and as many versions as the
      generator applied changes.
    """
    problems = []
    ids = mart["id"].to_numpy()
    if len(ids) != len(np.unique(ids)):
        problems.append(f"mart: {len(ids) - len(np.unique(ids))} duplicate ids")
    m = mart.drop_duplicates("id").set_index("id").reindex(exp.ids)
    if len(mart) and not np.array_equal(np.sort(np.unique(ids)), exp.ids):
        problems.append(f"mart: {len(np.unique(ids))} ids, expected {len(exp.ids)}")
    got = m["deleted_at"].to_numpy().astype("datetime64[us]")
    bad = ~((got == exp.deleted_at) | (np.isnat(got) & np.isnat(exp.deleted_at)))
    if bad.any():
        problems.append(f"mart: deleted_at wrong for {int(bad.sum())} ids")
    s = scd.set_index("id").reindex(exp.ids)
    if s["versions"].isna().any() or len(scd) != len(exp.ids):
        problems.append(f"scd: {len(scd)} ids, expected {len(exp.ids)}")
    if (s["n_current"].fillna(0) != 1).any():
        problems.append(f"scd: {int((s['n_current'].fillna(0) != 1).sum())} ids without exactly one current row")
    if (s["versions"].fillna(0).to_numpy() != exp.versions).any():
        n = int((s["versions"].fillna(0).to_numpy() != exp.versions).sum())
        problems.append(f"scd: version count wrong for {n} ids")
    return problems


def check_bonus(detail_rows: int, prod: pd.DataFrame, exp: BonusExpect) -> list[str]:
    """Row counts of the detail and prod tables, and each id's weighted
    ``load_time`` against the generator's own sums (relative 1e-9)."""
    problems = []
    if detail_rows != exp.detail_rows:
        problems.append(f"detail: {detail_rows} rows, expected {exp.detail_rows}")
    if len(prod) != len(exp.cnt) or prod["id"].nunique() != len(prod):
        problems.append(f"prod: {len(prod)} rows / {prod['id'].nunique()} ids, expected {len(exp.cnt)}")
    wrong = 0
    for mid, lt in zip(prod["id"], prod["load_time"]):
        if mid not in exp.cnt:
            wrong += 1
            continue
        want = exp.load_time(mid)
        if want is None or lt is None or (isinstance(lt, float) and math.isnan(lt)):
            wrong += (want is None) != (lt is None or (isinstance(lt, float) and math.isnan(lt)))
        elif not math.isclose(lt, want, rel_tol=1e-9):
            wrong += 1
    if wrong:
        problems.append(f"prod: load_time wrong for {wrong} ids")
    return problems


def _canon(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return _canon(float(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "asDict"):  # a Spark struct; DuckDB returns a dict
        v = v.asDict()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def row_hash(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of a result.

    Columns are taken in name order; floats are compared to 9 significant
    digits so summation order across partitions does not matter.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(columns)).encode())
    for line in canon:
        h.update(b"\x1e" + line.encode())
    return len(canon), h.hexdigest()
