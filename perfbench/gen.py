"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow/json: the program under test only
ever sees the files these functions write. The same seed always yields
the same bytes.

- :func:`star_tables` — the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the registry queries read, with
  the column types and value ranges of the repo's ``sf*`` test data.
- :func:`retail_plan` — an initial source snapshot derived from the
  generated ``orders`` table plus a changelog of hourly ticks, with the
  state each tick must leave behind (versions per id, soft-delete stamps).
- :func:`bonus_corpus` — a ``MetricDataResults`` JSON corpus with the
  variety of the reference downloads (several entries per doc, empty
  arrays, object-valued messages, ids shared across files, malformed
  docs), with the per-id sums the pipeline must reproduce.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the repo's sf0.1 tables; other scale factors scale
# linearly, with the floors the sf0.001 data has for the small tables.
_SF01_ROWS = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "documents": 5000,
    "embeddings": 2000,
}
_MIN_ROWS = {"documents": 500, "embeddings": 500, "supplier": 10}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "green", "large", "steel", "brass", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _rows(name: str, sf: float) -> int:
    return max(_MIN_ROWS.get(name, 1), int(round(_SF01_ROWS[name] * sf / 0.1)))


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf`` (sf0.1 ≈ 150k orders)."""
    rng = np.random.default_rng([seed, 1])
    n = {t: _rows(t, sf) for t in _SF01_ROWS}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": rng.choice(names, npart),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, ne)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(10, n["customer"] // 10), ne).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": _money(rng, ne, 0.01, 500.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    lens = rng.integers(8, 90, nd)
    words = rng.choice(VOCAB, int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    docs = [list(words[cuts[i] : cuts[i + 1]]) for i in range(nd)]
    # one doc in ten is a near-duplicate of an earlier one (two words swapped
    # out), so the dedup queries have pairs to find
    for i in rng.choice(np.arange(1, nd), nd // 10, replace=False):
        src = list(docs[int(rng.integers(i))])
        for j in rng.integers(0, len(src), 2):
            src[j] = VOCAB[int(rng.integers(len(VOCAB)))]
        docs[i] = src
    texts = [" ".join(d) for d in docs]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict:
    """One ``<name>.parquet`` per table; returns rows and bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return sizes


# ---------------------------------------------------------------------------
# retail_hourly: initial snapshot + hourly changelog
# ---------------------------------------------------------------------------

STATUSES = ["CREATED", "PICKUP", "IN_TRANSIT", "ARRIVED", "DONE"]
POS = [f"POS-{i:02d}" for i in range(25)]
RETAIL_T0 = datetime(2024, 3, 1)
CHANGE_RATE, NEW_RATE, DROP_RATE, NULL_CREATED_RATE = 0.05, 0.01, 0.005, 0.02


def run_ts(tick: int) -> str:
    """Injected run timestamp of tick ``tick`` (0 = the initial load)."""
    return (RETAIL_T0 + timedelta(hours=tick)).strftime("%Y-%m-%d %H:%M:%S")


@dataclass
class RetailExpect:
    """State the DAG must leave after a tick, per id ever seen."""

    ids: np.ndarray  # sorted ids ever seen
    versions: np.ndarray  # SCD2 rows per id
    deleted_at: np.ndarray  # mart deleted_at per id, datetime64[us] (NaT = null)


@dataclass
class RetailPlan:
    snapshots: list[pd.DataFrame]  # [0] = initial load, [k] = tick k
    expect: list[RetailExpect]
    stats: list[dict] = field(default_factory=list)


def _source_frame(ids, cust, status, orig, dest, created, updated) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "id": ids.astype(np.int64),
            "customer_id": cust.astype(np.int64),
            "last_status": status,
            "pos_origin": orig,
            "pos_destination": dest,
            "created_at": created.astype("datetime64[us]"),
            "updated_at": updated.astype("datetime64[us]"),
        }
    )


def _stamp(rng, tick: int, n: int) -> np.ndarray:
    """Source-side ``updated_at`` within the hour before tick's run."""
    end = np.datetime64(RETAIL_T0 + timedelta(hours=tick), "us")
    return end - rng.integers(1, 3600, n) * np.timedelta64(1, "s")


def retail_plan(seed: int, n_ids: int, n_ticks: int) -> RetailPlan:
    """Initial snapshot of ``n_ids`` orders plus ``n_ticks`` hourly ticks.

    Each tick changes one tracked column for ~5% of live ids (status moves
    include → ``DONE`` and back out of it), adds ~1% new ids (some with a
    null ``created_at``) and drops ~0.5% of the live ids for good.
    """
    rng = np.random.default_rng([seed, 2])
    orders = star_tables(seed, n_ids / 1.5e6)["orders"].slice(0, n_ids).to_pandas()
    status_of = {"F": "DONE", "O": "IN_TRANSIT", "P": "PICKUP"}
    n = len(orders)
    created = orders["o_orderdate"].to_numpy().astype("datetime64[us]").copy()
    created[rng.random(n) < NULL_CREATED_RATE] = np.datetime64("NaT")
    state = _source_frame(
        orders["o_orderkey"].to_numpy(),
        orders["o_custkey"].to_numpy(),
        orders["o_orderstatus"].map(status_of).to_numpy(),
        np.array(POS, dtype=object)[orders["o_custkey"].to_numpy() % 25],
        rng.choice(POS, n).astype(object),
        created,
        _stamp(rng, 0, n),
    ).set_index("id", drop=False)

    t0 = np.datetime64(RETAIL_T0, "us")
    versions = pd.Series(1, index=state.index, dtype=np.int64)
    deleted = pd.Series(
        np.where(state["last_status"] == "DONE", t0, np.datetime64("NaT", "us")),
        index=state.index,
    )

    def expect() -> RetailExpect:
        order = np.argsort(versions.index.to_numpy())
        return RetailExpect(
            versions.index.to_numpy()[order],
            versions.to_numpy()[order],
            deleted.to_numpy().astype("datetime64[us]")[order],
        )

    plan = RetailPlan([state.reset_index(drop=True)], [expect()])
    next_id = int(state["id"].max()) + 1
    for tick in range(1, n_ticks + 1):
        ts = np.datetime64(RETAIL_T0 + timedelta(hours=tick), "us")
        live = state.index.to_numpy()
        n_live = len(live)
        picked = rng.permutation(live)
        n_chg, n_drop = round(CHANGE_RATE * n_live), round(DROP_RATE * n_live)
        chg, drop = picked[:n_chg], picked[n_chg : n_chg + n_drop]

        kind = rng.random(n_chg)
        cur = state.loc[chg]
        status = cur["last_status"].to_numpy().copy()
        orig = cur["pos_origin"].to_numpy().copy()
        dest = cur["pos_destination"].to_numpy().copy()
        cust = cur["customer_id"].to_numpy().copy()
        flip = kind < 0.25  # → DONE, or back out of DONE
        status[flip] = np.where(status[flip] == "DONE", "IN_TRANSIT", "DONE")
        other = (kind >= 0.25) & (kind < 0.5)  # some other status move
        for i in np.flatnonzero(other):
            choices = [s for s in STATUSES if s != status[i]]
            status[i] = choices[rng.integers(len(choices))]
        o_m = (kind >= 0.5) & (kind < 0.75)
        orig[o_m] = [POS[(POS.index(p) + 1) % 25] for p in orig[o_m]]
        d_m = (kind >= 0.75) & (kind < 0.95)
        dest[d_m] = [POS[(POS.index(p) + 7) % 25] for p in dest[d_m]]
        c_m = kind >= 0.95
        cust[c_m] = cust[c_m] + 1

        was_done = cur["last_status"].to_numpy() == "DONE"
        now_done = status == "DONE"
        state.loc[chg, "last_status"] = status
        state.loc[chg, "pos_origin"] = orig
        state.loc[chg, "pos_destination"] = dest
        state.loc[chg, "customer_id"] = cust
        state.loc[chg, "updated_at"] = _stamp(rng, tick, n_chg)
        versions.loc[chg] += 1
        deleted.loc[chg[now_done & ~was_done]] = ts
        deleted.loc[chg[~now_done]] = np.datetime64("NaT", "us")

        state = state.drop(index=drop)

        n_new = round(NEW_RATE * n_live)
        new_ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        new_created = _stamp(rng, tick, n_new)
        new_created[rng.random(n_new) < 0.2] = np.datetime64("NaT")
        new_status = rng.choice(STATUSES, n_new).astype(object)
        new = _source_frame(
            new_ids,
            rng.integers(0, 1000, n_new),
            new_status,
            rng.choice(POS, n_new).astype(object),
            rng.choice(POS, n_new).astype(object),
            new_created,
            _stamp(rng, tick, n_new),
        ).set_index("id", drop=False)
        state = pd.concat([state, new])
        versions = pd.concat([versions, pd.Series(1, index=new_ids, dtype=np.int64)])
        deleted = pd.concat(
            [
                deleted,
                pd.Series(
                    np.where(new_status == "DONE", ts, np.datetime64("NaT", "us")),
                    index=new_ids,
                ),
            ]
        )
        plan.snapshots.append(state.reset_index(drop=True))
        plan.expect.append(expect())
        plan.stats.append(
            {"live": n_live, "changed": n_chg, "new": n_new, "dropped": n_drop}
        )
    return plan


def write_snapshot(df: pd.DataFrame, path: str) -> int:
    """Write one source snapshot as a parquet file; returns its bytes."""
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# bonus_ingest: MetricDataResults JSON corpus
# ---------------------------------------------------------------------------

_MESSAGES = [
    [],
    ["Slow first paint"],
    [{"Description": "High Priority Access"}],
    [{"Message": "Timeout on asset"}, "retry scheduled"],
    [{"text": "cache miss"}],
]
MALFORMED_RATE = 0.01


@dataclass
class BonusExpect:
    detail_rows: int  # one per (valid doc, entry)
    sum_ms: dict  # metric id -> [per-entry sums in file order]
    cnt: dict  # metric id -> valid value count
    docs: int
    malformed: int
    corpus_bytes: int
    entries: int
    values: int

    def load_time(self, mid: str) -> float | None:
        c = self.cnt[mid]
        return math.fsum(self.sum_ms[mid]) / c / 60000.0 if c > 0 else None


def bonus_corpus(seed: int, n_docs: int, out_dir: str) -> BonusExpect:
    """Write ``n_docs`` metrics JSON docs into ``out_dir``.

    Per doc: 1–4 ``MetricDataResults`` entries drawn from a pool of
    ``n_docs // 2`` ids (so ids recur across files), 0–300 values each
    (one entry in ten empty, ~1% null values), and a heterogeneous
    ``Messages`` array. ~1% of the docs are truncated mid-document.

    The entry counts per doc and value counts per entry are a fixed
    multiset that the seed only shuffles, so every seed's corpus holds
    the same amount of work.
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    pool = max(2, n_docs // 2)
    per_doc = rng.permutation(np.resize([1, 2, 3, 4], n_docs))
    n_values = np.round(np.linspace(0, 300, int(per_doc.sum()))).astype(int)
    n_values[::10] = 0
    n_values = iter(rng.permutation(n_values).tolist())
    bad_docs = set(rng.choice(n_docs, max(1, round(MALFORMED_RATE * n_docs)), replace=False).tolist())
    sum_ms: dict[str, list[float]] = {}
    cnt: dict[str, int] = {}
    detail_rows = malformed = entries_total = values_total = 0
    base = datetime(2025, 8, 1)
    for d in range(n_docs):
        entries = []
        doc_sums: list[tuple[str, float, int]] = []
        for _ in range(int(per_doc[d])):
            mid = f"m{int(rng.integers(pool))}"
            nv = next(n_values)
            vals = np.round(rng.uniform(200.0, 9000.0, nv), 1).tolist()
            for i in np.flatnonzero(rng.random(nv) < 0.01):
                vals[i] = None
            start = base + timedelta(minutes=int(rng.integers(0, 60 * 24 * 30)))
            stamps = [
                (start + timedelta(minutes=5 * i)).strftime("%Y-%m-%dT%H:%M:%S+00:00")
                for i in range(nv)
            ]
            entries.append(
                {
                    "Id": mid,
                    "Label": "VisualLoadTime",
                    "Timestamps": stamps,
                    "Values": vals,
                    "StatusCode": "Complete",
                }
            )
            valid = [v for v in vals if v is not None]
            doc_sums.append((mid, float(sum(valid)), len(valid)))
            values_total += nv
        doc = {
            "MetricDataResults": entries,
            "Messages": _MESSAGES[int(rng.integers(len(_MESSAGES)))],
        }
        text = json.dumps(doc)
        if d in bad_docs:
            text = text[: len(text) // 2]
            malformed += 1
        else:
            entries_total += len(entries)
            detail_rows += len(entries)
            for mid, s, c in doc_sums:
                sum_ms.setdefault(mid, []).append(s)
                cnt[mid] = cnt.get(mid, 0) + c
        with open(os.path.join(out_dir, f"result-json-{d:05d}.json"), "w") as f:
            f.write(text)
    corpus_bytes = sum(
        os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
    )
    return BonusExpect(
        detail_rows, sum_ms, cnt, n_docs, malformed, corpus_bytes,
        entries_total, values_total,
    )
