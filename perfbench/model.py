"""A plain-Python model of the clinic replica, kept apart from the program.

It applies change events one micro-batch at a time, with the rules the
replica promises its readers:

- per table and batch, the event with the highest seq_no per key wins;
- an event lands only if its seq_no beats the seq_no the row already
  carries (replays and out-of-order events are ignored);
- I and U take the post-image; D keeps the row's values and sets the
  soft-delete flag; a D for a key never seen leaves a key-only tombstone;
- the metadata columns: ``_SNOWFLAKE_INSERTED_AT`` is the load time for
  snapshot rows and the sync time for new keys; ``_SNOWFLAKE_UPDATED_AT``
  is empty until an event lands (for a new key, only when it arrived by
  U or D) and the sync time after; the sync time of a batch is the
  newest event_ts among that table's events in it.
"""

from __future__ import annotations

import datetime as dt

from gen import CLINIC_COLUMNS, PRIMARY_KEYS

INSERTED, UPDATED, DELETED = (
    "_SNOWFLAKE_INSERTED_AT", "_SNOWFLAKE_UPDATED_AT", "_SNOWFLAKE_DELETED")
REPLICA_COLUMNS = {t: [c for c, _ in cols] + [INSERTED, UPDATED, DELETED]
                   for t, cols in CLINIC_COLUMNS.items()}


class ClinicModel:
    def __init__(self, snapshot: dict[str, list[dict]], load_ts: str):
        load = dt.datetime.fromisoformat(load_ts)
        self.rows: dict[str, dict] = {}
        self.seq: dict[str, dict] = {}
        for table, recs in snapshot.items():
            pk = PRIMARY_KEYS[table]
            self.rows[table] = {
                r[pk]: {**r, INSERTED: load, UPDATED: None, DELETED: False}
                for r in recs}
            self.seq[table] = {r[pk]: -1 for r in recs}

    def apply_batch(self, events: list[dict]) -> None:
        """One micro-batch (the events of one or more change files)."""
        by_table: dict[str, list[dict]] = {}
        for ev in events:
            if ev["op"] in ("I", "U", "D") and ev["after"].get(
                    PRIMARY_KEYS.get(ev["table_name"], "")) is not None:
                by_table.setdefault(ev["table_name"], []).append(ev)
        for table, evs in by_table.items():
            if table not in self.rows:
                continue
            pk = PRIMARY_KEYS[table]
            sync_ts = max(e["event_ts"] for e in evs)
            latest: dict = {}
            for e in evs:
                k = e["after"][pk]
                if k not in latest or e["seq_no"] > latest[k]["seq_no"]:
                    latest[k] = e
            rows, seqs = self.rows[table], self.seq[table]
            for k, e in latest.items():
                op, row = e["op"], rows.get(k)
                if row is None:
                    new = {c: e["after"].get(c) for c, _ in CLINIC_COLUMNS[table]}
                    new[INSERTED] = sync_ts
                    new[UPDATED] = sync_ts if op in ("U", "D") else None
                    new[DELETED] = op == "D"
                    rows[k] = new
                elif e["seq_no"] > seqs[k]:
                    if op != "D":
                        row.update({c: e["after"].get(c)
                                    for c, _ in CLINIC_COLUMNS[table]})
                    row[UPDATED] = sync_ts
                    row[DELETED] = op == "D"
                else:
                    continue
                seqs[k] = e["seq_no"]

    def table_rows(self, table: str) -> list[tuple]:
        cols = REPLICA_COLUMNS[table]
        return sorted((tuple(r[c] for c in cols) for r in self.rows[table].values()),
                      key=_sort_key)


def _sort_key(row: tuple):
    return tuple((v is None, str(v)) for v in row)


def diff_rows(table: str, expected: list[tuple], actual: list[tuple],
              limit: int = 3) -> list[str]:
    """Mismatch descriptions (empty when equal as multisets)."""
    exp, act = sorted(expected, key=_sort_key), sorted(actual, key=_sort_key)
    if exp == act:
        return []
    act_set, exp_set = set(act), set(exp)
    missing = [r for r in exp if r not in act_set]
    extra = [r for r in act if r not in exp_set]
    return [f"{table}: {len(exp)} expected rows, {len(act)} in replica; "
            f"missing {missing[:limit]}, unexpected {extra[:limit]}"]
