"""Independent oracles for the CDC engine (FIXTURES.md §5).

``expected_final_state`` computes the post-replay table with plain pandas
— no Spark, no shared code with the engine's reduction — so agreement is
meaningful. Per-row invariant: token-array equality (BASELINE.json
input_hint). ``count_jobs`` counts the Spark jobs a block of driver code
launches, for tests that pin a job-free control path.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

import numpy as np
import pandas as pd


def expected_final_state(events: pd.DataFrame, base: pd.DataFrame | None = None) -> pd.DataFrame:
    """Replay semantics in pandas: dedup (doc_id, lsn), then fold each
    doc's events in pure LSN order with the guard:

    * insert/update — replace the row (skip if lsn ≤ current row lsn);
    * delete        — tombstone (row removed from output, lsn kept as guard);
    * patch         — splice (start/del clamped to bounds, insert payload
      from ``tokens``) iff a LIVE row with smaller lsn exists; a patch
      finding no live predecessor is dropped — any future write carries a
      higher lsn, so it could never apply later anyway. This is the
      batch-independent contract the engine's pending mechanism converges
      to under bounded out-of-order delivery.

    Returns columns: doc_id, tokens, n_tok, source, lang, lsn —
    sorted by doc_id.
    """
    ev = events.sort_values(["doc_id", "lsn", "delivery_seq"])
    ev = ev.drop_duplicates(subset=["doc_id", "lsn"], keep="last")
    ev = ev.sort_values(["doc_id", "lsn"])

    rows: dict[str, dict] = {}
    dead_lsn: dict[str, int] = {}  # tombstone guards
    if base is not None:
        for _, r in base.iterrows():
            rows[r["doc_id"]] = {
                "doc_id": r["doc_id"],
                "tokens": r["tokens"],
                "n_tok": r["n_tok"],
                "source": r["source"],
                "lang": r.get("lang"),
                "lsn": r.get("lsn", -1),
            }
    for _, r in ev.iterrows():
        doc = r["doc_id"]
        cur = rows.get(doc)
        guard = cur["lsn"] if cur is not None else dead_lsn.get(doc, -(1 << 62))
        if r["lsn"] <= guard:
            continue
        op = r["op"]
        if op == "delete":
            rows.pop(doc, None)
            dead_lsn[doc] = r["lsn"]
        elif op == "patch":
            if cur is None:
                continue  # no live predecessor — dropped (see docstring)
            t = np.asarray(
                cur["tokens"] if cur["tokens"] is not None else [], dtype=np.int64
            )
            s = int(min(max(r["patch_start"], 0), len(t)))
            d = int(min(max(r["patch_del"], 0), len(t) - s))
            ins = np.asarray(
                r["tokens"] if r["tokens"] is not None else [], dtype=np.int64
            )
            nt = np.concatenate((t[:s], ins, t[s + d:]))
            cur.update({"tokens": nt, "n_tok": len(nt), "lsn": r["lsn"]})
        else:
            rows[doc] = {
                "doc_id": doc,
                "tokens": r["tokens"],
                "n_tok": r["n_tok"],
                "source": r["source"],
                "lang": r.get("lang"),
                "lsn": r["lsn"],
            }
    out = pd.DataFrame(
        list(rows.values()),
        columns=["doc_id", "tokens", "n_tok", "source", "lang", "lsn"],
    )
    return out.sort_values("doc_id").reset_index(drop=True)


def assert_states_equal(actual: pd.DataFrame, expected: pd.DataFrame) -> None:
    """Row-count, key-set, and per-row token-array equality."""
    a = actual.sort_values("doc_id").reset_index(drop=True)
    e = expected.sort_values("doc_id").reset_index(drop=True)
    assert len(a) == len(e), f"row count {len(a)} != expected {len(e)}"
    assert list(a["doc_id"]) == list(e["doc_id"]), "doc_id sets differ"
    for col in ("n_tok", "source", "lsn"):
        if col in a.columns and col in e.columns:
            mism = (a[col].fillna(-999) != e[col].fillna(-999)).to_numpy().nonzero()[0]
            assert len(mism) == 0, f"{col} mismatch at rows {mism[:5]}: " \
                f"{a.iloc[mism[:5]][['doc_id', col]].values} vs {e.iloc[mism[:5]][[ 'doc_id', col]].values}"
    for i in range(len(a)):
        ta, te = a["tokens"].iloc[i], e["tokens"].iloc[i]
        ta = np.asarray(ta if ta is not None else [], dtype=np.int64)
        te = np.asarray(te if te is not None else [], dtype=np.int64)
        assert np.array_equal(ta, te), (
            f"token-array mismatch for {a['doc_id'].iloc[i]}: {ta[:8]}... vs {te[:8]}..."
        )


_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel")


@contextmanager
def count_jobs(spark) -> Iterator[Callable[[], int]]:
    """Count the Spark jobs launched inside the block::

        with count_jobs(spark) as jobs:
            df = sink.lookup(keys)
            assert jobs() == 0

    The block runs under a fresh job group and ``jobs()`` returns
    ``len(statusTracker().getJobIdsForGroup(group))`` after the listener
    bus drains (job starts reach the status store asynchronously). A
    unique group keeps the count exact in a long session, where the
    status store's job list saturates at ``spark.ui.retainedJobs``. The
    thread's previous job group is restored on exit."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    prev = {p: sc.getLocalProperty(p) for p in _JOB_GROUP_PROPS}

    def jobs() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, "count_jobs")
    try:
        yield jobs
    finally:
        for p, v in prev.items():
            sc.setLocalProperty(p, v)
