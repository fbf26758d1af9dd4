"""clinic: the reference pipeline — bootstrap, a live CDC stream, dashboard
refreshes, and a backlog catch-up.

Inputs (from the seed, before any timing): the reference seed ×SCALE as
parquet, and change files of EVENTS_PER_FILE busy-clinic events each.

1. Setup, SETUPS times: ``Engine(...).bootstrap`` from the parquet files
   into a fresh warehouse. ``setup_s`` is the median — with two, the mean
   of the first (cold, with the JIT warm-up) and a warm one.
2. Catch-up, on the last warehouse: BACKLOG files have landed, then the
   stream starts ("0 seconds" trigger) and applies them in one
   micro-batch. It warms the streaming path up before the timed phase;
   its rate (events per second until every table's watermark covers
   them) is printed as context. ``state_mb`` is the warehouse plus the
   checkpoint afterwards. Then one dashboard refresh warms the semantic
   layer up (the first refresh of a session takes about 1.5 s more).
3. Timed phase, on the same stream: the operations of PLAN, the same on
   every run. A sync lands one file and waits until
   ``ReplicaStore.watermark`` covers its last seq_no in every table it
   touches (``op_p50_s``); the next file lands only then. A dashboard
   refresh runs the DASHBOARD analytics queries, the VERIFIED queries and
   the ASK questions and collects every result (``read_pass_s``).
4. Checks: the replicas against the model, and every result of the last
   refresh against DuckDB over the model.
"""

from __future__ import annotations

import os
import time

import checks
import gen
from model import REPLICA_COLUMNS, ClinicModel
from procstat import dir_bytes
from spans import median

SCALE = 10
EVENTS_PER_FILE = 300
SETUPS = 2
BACKLOG = 1
PLAN = ["sync", "sync", "dashboard"]
SYNCS = PLAN.count("sync")
DASHBOARD = ["current_day_status", "revenue_by_department", "cdc_change_volume"]
VERIFIED = ["appointments_modified_today"]
ASK = ["total revenue by specialization"]


def _needs(batch: list[dict]) -> dict[str, int]:
    """Per table touched, the last seq_no the file carries for it."""
    need: dict[str, int] = {}
    for ev in batch:
        need[ev["table_name"]] = max(need.get(ev["table_name"], -1), ev["seq_no"])
    return need


def _await_watermarks(store, need: dict[str, int], query) -> None:
    while any(store.watermark(t) < s for t, s in need.items()):
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        time.sleep(0.002)


def _replica_rows(eng) -> dict[str, list[tuple]]:
    frames = eng.replicas(include_deleted=True)
    return {t: [tuple(r) for r in frames[t].select(*cols).collect()]
            for t, cols in REPLICA_COLUMNS.items()}


def run(r) -> dict:
    from sfguide_getting_started_openflow_postgresql_cdc_spark.engine import Engine

    snapshot = gen.clinic_snapshot(r.seed, SCALE)
    sources = gen.write_clinic_snapshot(snapshot, r.path("source"))
    files = gen.clinic_changes(snapshot, r.seed, BACKLOG + SYNCS, EVENTS_PER_FILE)
    backlog, live = files[:BACKLOG], files[BACKLOG:]
    stage, events = r.path("stage"), r.path("events")
    for d in (stage, events):
        os.makedirs(d)
    for i, batch in enumerate(backlog):
        gen.write_change_file(batch, os.path.join(events, f"backlog_{i:04d}.jsonl"))
    for i, batch in enumerate(live):
        gen.write_change_file(batch, os.path.join(stage, f"events_{i:04d}.jsonl"))

    engines = []
    for k in range(SETUPS):
        wh = r.path(f"warehouse{k}")
        _, eng = r.op("setup", lambda: Engine(r.spark, wh).bootstrap(
            sources, load_ts=gen.LOAD_TS))
        engines.append(eng)

    # -- catch-up: the live stream starts with the backlog already landed --------
    eng = engines[-1]
    need: dict[str, int] = {}
    for batch in backlog:
        for t, s in _needs(batch).items():
            need[t] = max(need.get(t, -1), s)
    query = None

    def catch_up():
        nonlocal query
        # one micro-batch takes the whole backlog; live files land one at
        # a time afterwards, so each of them is a micro-batch of its own
        query = eng.start_cdc(events, r.path("checkpoint"), processing_time="0 seconds",
                              max_files_per_trigger=BACKLOG)
        _await_watermarks(eng.cdc.store, need, query)

    try:
        secs, _ = r.op("catchup", catch_up)
    except Exception:
        if query is not None:
            query.stop()
        raise
    r.context["catchup_rows_per_s"] = sum(len(b) for b in backlog) / secs
    state_mb = (dir_bytes(r.path(f"warehouse{SETUPS - 1}"))
                + dir_bytes(r.path("checkpoint"))) / 1e6

    # -- timed phase ----------------------------------------------------------
    synced: list[list[dict]] = [[ev for b in backlog for ev in b]]
    last_dashboard: dict = {}

    def sync(i: int):
        name = f"events_{i:04d}.jsonl"
        r.tracer.count("events", len(live[i]))
        os.rename(os.path.join(stage, name), os.path.join(events, name))
        _await_watermarks(eng.cdc.store, _needs(live[i]), query)

    def refresh():
        reads = ([(name, eng.analytics) for name in DASHBOARD]
                 + [(name, eng.verified) for name in VERIFIED]
                 + [(question, eng.ask) for question in ASK])
        for name, build in reads:
            with r.tracer.span("semantic.build"):
                df = build(name)
            with r.tracer.span("semantic.exec"):
                last_dashboard[name] = (df.columns, [tuple(x) for x in df.collect()])

    def timed_phase():
        for kind in PLAN:
            if kind == "sync":
                i = len(synced) - 1
                r.op("sync", sync, i)
                synced.append(live[i])
            else:
                r.op("dashboard", refresh)

    try:
        r.op("warmup", refresh)
        r.timed_phase(timed_phase)
    finally:
        query.stop()

    # -- checks -----------------------------------------------------------------
    model = ClinicModel(snapshot, gen.LOAD_TS)
    for batch in synced:  # the backlog as one micro-batch, then each live file
        model.apply_batch(batch)
    problems = (checks.check_replicas(model, _replica_rows(eng))
                + checks.check_dashboard(model, last_dashboard))

    e2e = {
        "setup_s": median(r.samples["setup"]),
        "op_p50_s": median(r.samples["sync"]),
        "read_pass_s": median(r.samples["dashboard"]),
        "op_cpu_s": median(r.cpu_samples["sync"]),
        "state_mb": state_mb,
    }
    layers = {}
    if r.traced:
        events_per_sync = r.tracer.per_op("sync", "events", False)
        rows = r.tracer.per_op("sync", "store.rows_written", False)
        layers = {
            "cdc.batch_s": r.layer("sync", "cdc.batch"),
            "cdc.merge_s": r.layer("sync", "cdc.merge"),
            "cdc.journal_s": r.layer("sync", "cdc.journal"),
            # a sync ends inside write_merged, before its batch span does:
            # per_op clips spans to their operation
            "cdc.stream_s": median(
                s - b for s, b in zip(r.samples["sync"],
                                      r.tracer.per_op("sync", "cdc.batch", True))),
            "store.write_s": r.layer("sync", "store.write"),
            "store.rows_rewritten_per_event": median(
                w / e for w, e in zip(rows, events_per_sync)),
            "store.files_per_sync": r.layer("sync", "store.files_written", False),
            "semantic.build_s": r.layer("dashboard", "semantic.build"),
            "semantic.exec_s": r.layer("dashboard", "semantic.exec"),
            "spark.jobs": r.layer("sync", "spark.jobs", False),
            "spark.tasks": r.layer("sync", "spark.tasks", False),
            "cache.cached_mb": r.layer("dashboard", "cache.cached_mb", False),
        }
    return {"problems": problems, "e2e": e2e, "layers": layers}
