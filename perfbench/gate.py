"""Correctness gate: every output of a run against ``oracle.replay``.

Frames are compared in the ``tests.conftest.normalize_frame`` form. A
column the engine has not promoted yet (no schema-v2 event reached it)
must be all-null on the oracle side and is otherwise ignored.
"""

from __future__ import annotations

import pandas as pd

from tests.conftest import normalize_frame

KEY = ["conv_id", "turn_idx"]


def expected(state: pd.DataFrame) -> pd.DataFrame:
    """An oracle frame in normalized form, ready for :func:`frames_equal`."""
    return normalize_frame(state)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, order: list[str] | None = None) -> bool:
    """``got`` (an engine read) equals ``want`` (from :func:`expected`)
    cell for cell, dtypes aside, under (conv_id, turn_idx) ordering or
    ``order``. An oracle column the engine does not have yet must be
    all-null."""
    extra = [c for c in want.columns if c not in got.columns]
    if any(want[c].notna().any() for c in extra) or set(got.columns) - set(want.columns):
        return False
    want = want.drop(columns=extra)
    got = normalize_frame(got[list(want.columns)])
    if order:
        got, want = (f.sort_values(order, kind="stable") for f in (got, want))
    return list(got.itertuples(index=False, name=None)) == list(
        want.itertuples(index=False, name=None))


def expected_changes(old: pd.DataFrame, new: pd.DataFrame) -> pd.DataFrame:
    """``table_changes`` semantics over two oracle states, both in
    :func:`expected` form: one row per inserted or deleted key, a pre- and
    post-image per updated key."""
    cols = [c for c in new.columns if c not in KEY]
    j = old.merge(new, on=KEY, how="outer", suffixes=("_o", "_n"), indicator=True)
    both = j["_merge"] == "both"
    differs = pd.Series(False, index=j.index)
    for c in cols:
        a, b = j[f"{c}_o"], j[f"{c}_n"]
        differs |= ~((a.isna() & b.isna()) | (a == b))
    parts = []
    for kind, mask, side in (
        ("insert", j["_merge"] == "right_only", "_n"),
        ("delete", j["_merge"] == "left_only", "_o"),
        ("update_preimage", both & differs, "_o"),
        ("update_postimage", both & differs, "_n"),
    ):
        sel = j.loc[mask, KEY + [f"{c}{side}" for c in cols]]
        sel.columns = KEY + cols
        parts.append(sel.assign(change_type=kind))
    return pd.concat(parts, ignore_index=True)[KEY + ["change_type"] + cols]


def dead_letter_multiset(rows) -> list[tuple]:
    """(lsn, batch_id, op, reason) per dead letter, sorted."""
    out = []
    for r in rows:
        lsn = r["lsn"]
        lsn = None if lsn is None or pd.isna(lsn) else int(lsn)
        op = r["op"] if isinstance(r["op"], str) else None
        out.append((lsn, r["batch_id"], op, r["reason"]))
    return sorted(out, key=repr)


class Gate:
    """Collects named checks; a failed check is a failed operation."""

    def __init__(self):
        self.results: list[tuple[str, bool]] = []

    def check(self, name: str, ok: bool) -> bool:
        self.results.append((name, bool(ok)))
        return bool(ok)

    @property
    def attempted(self) -> int:
        return len(self.results)

    @property
    def failed(self) -> list[str]:
        return [n for n, ok in self.results if not ok]
