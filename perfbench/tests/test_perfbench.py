"""Fast tests of the benchmark's own parts; no Spark session.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import checks  # noqa: E402
import gen  # noqa: E402
from model import INSERTED, UPDATED, DELETED, REPLICA_COLUMNS, ClinicModel  # noqa: E402
from spans import Tracer, self_times, summary  # noqa: E402


def test_summary_reports_median_count_and_quartiles():
    assert summary([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}
    s = summary([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (s["median"], s["n"], s["q1"], s["q3"]) == (3.0, 5, 1.5, 4.5)


def _span(sid, parent, start, end, name="x", op=1):
    return {"id": sid, "name": name, "parent": parent, "op": op, "op_kind": "k",
            "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    spans = [_span(1, None, 0.0, 10.0, "root"),
             _span(2, 1, 1.0, 4.0, "a"), _span(3, 1, 3.0, 6.0, "b"),  # overlap
             _span(4, 1, 8.0, 12.0, "c"),  # runs past its parent
             _span(5, 2, 1.5, 2.0, "a.child")]
    own = {name: secs for _k, _op, name, secs in self_times(spans)}
    assert own["root"] == 10.0 - 5.0 - 2.0
    assert own["a"] == 3.0 - 0.5
    assert own["a.child"] == 0.5


def test_tracer_groups_spans_and_counts_by_operation():
    t = Tracer(enabled=True)
    for n in (1, 3):
        with t.operation("sync"):
            for _ in range(n):
                with t.span("cdc.merge"):
                    t.count("rows", 2)
    assert t.per_op("sync", "rows", spans=False) == [2.0, 6.0]
    assert len(t.per_op("sync", "cdc.merge", spans=True)) == 2
    assert set(t.layer_table()["sync"]) == {"sync", "cdc.merge"}
    off = Tracer(enabled=False)
    with off.operation("sync"):
        off.count("rows", 1)
    assert off.spans == [] and off.counts == []


def test_per_op_clips_a_span_that_outlasts_its_operation():
    t = Tracer(enabled=True)
    with t.operation("sync"):
        pass
    root = t.spans[0]
    root["start"], root["end"] = 0.0, 5.0
    t.spans.append(_span(9, root["id"], 3.0, 8.0, "cdc.batch", op=root["op"]))
    assert t.per_op("sync", "cdc.batch", spans=True) == [2.0]


def test_generators_are_deterministic_per_seed(tmp_path):
    def make(d, seed):
        snap = gen.clinic_snapshot(seed, 2)
        gen.write_clinic_snapshot(snap, str(d))
        for i, batch in enumerate(gen.clinic_changes(snap, seed, 3, 50)):
            gen.write_change_file(batch, str(d / f"c{i}.jsonl"))
        gen.write_documents(gen.corpus_documents(seed, 300), str(d))
        return {p.name: p.read_bytes() for p in d.iterdir()}, gen.dump_cuts(seed, 0, 300, 5)

    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    assert make(a, 7) == make(b, 7)
    assert make(c, 8)[0] != make(a, 7)[0]


def test_change_mix_is_the_reference_scenarios():
    from collections import Counter

    from sfguide_getting_started_openflow_postgresql_cdc_spark.sources import healthcare

    ref = healthcare.generate_scenario(healthcare.generate_snapshot(42))
    counts = Counter((e.table_name, e.op) for b in ref for e in b)
    assert dict(counts) == gen.SCENARIO_EVENTS
    assert sum(gen.SCENARIO_ACTIONS.values()) == 27 and sum(counts.values()) == 31
    snap = gen.clinic_snapshot(5, 10)
    events = [e for f in gen.clinic_changes(snap, 5, 8, 300) for e in f]
    ours = Counter((e["table_name"], e["op"]) for e in events)
    assert set(ours) == set(counts)
    for key, n in counts.items():
        assert abs(ours[key] / len(events) - n / 31) < 0.03, key


def test_documents_follow_the_sf01_profile():
    docs = gen.corpus_documents(4, 2000)
    words = [d["text"].split() for d in docs]
    dups = [w for w in words if w[-1] == "dup"]
    assert len(dups) == 100  # SF01_NEAR_DUP_SHARE of 2 000
    texts = {" ".join(w) for w in words}
    # as in sf0.1 (243 of 250), nearly every copy's original is still there
    assert sum(" ".join(w[:-1]) in texts for w in dups) >= 0.9 * len(dups)
    plain = [w for w in words if w[-1] != "dup"]
    lo, hi = gen.SF01_WORDS_PER_DOC
    assert all(lo <= len(w) <= hi for w in plain)
    assert {x for w in plain for x in w} == set(gen.SF01_WORDS)
    assert all(d["source"] == f"src{d['doc_id'] % 20}" and d["n_chars"] == len(d["text"])
               for d in docs)
    en = sum(d["lang"] == "en" for d in docs) / len(docs)
    assert abs(en - 2059 / 5000) < 0.04


def _ev(seq, table, op, after, minute=0):
    return {"seq_no": seq, "event_ts": dt.datetime(2024, 6, 3, 8, minute, seq),
            "table_name": table, "op": op, "after": after}


def _doctor(i, years=10):
    return {"doctor_id": i, "first_name": "A", "last_name": "B",
            "specialization": "Cardiology", "department": "Cardiovascular",
            "phone": None, "email": None, "years_of_experience": years,
            "accepting_new_patients": True}


def test_clinic_model_follows_the_replica_rules():
    snap = {"patients": [], "appointments": [], "visits": [], "doctors": [_doctor(1)]}
    m = ClinicModel(snap, gen.LOAD_TS)
    load = dt.datetime(2024, 6, 2, 12)
    m.apply_batch([_ev(1, "doctors", "I", _doctor(2)),
                   _ev(2, "doctors", "U", _doctor(1, years=11)),
                   _ev(3, "doctors", "U", _doctor(2, years=20)),
                   _ev(4, "doctors", "D", {"doctor_id": 9})])  # never seen
    rows = m.rows["doctors"]
    t3, t4 = dt.datetime(2024, 6, 3, 8, 0, 3), dt.datetime(2024, 6, 3, 8, 0, 4)
    # sync time of the batch = newest event_ts of the table's events
    assert rows[1]["years_of_experience"] == 11
    assert (rows[1][INSERTED], rows[1][UPDATED], rows[1][DELETED]) == (load, t4, False)
    # latest event per key wins inside the batch; an I-then-U new key is
    # "inserted" at sync time and carries the update stamp of its op
    assert rows[2]["years_of_experience"] == 20
    assert (rows[2][INSERTED], rows[2][UPDATED]) == (t4, t4)
    # delete of a key never seen: key-only tombstone
    assert rows[9]["first_name"] is None and rows[9][DELETED] is True
    # a later batch: delete keeps values; an out-of-order (older seq)
    # event is ignored
    m.apply_batch([_ev(5, "doctors", "D", {"doctor_id": 1}, minute=1)])
    m.apply_batch([_ev(2, "doctors", "U", _doctor(1, years=99), minute=2)])
    assert rows[1]["years_of_experience"] == 11 and rows[1][DELETED] is True
    assert rows[1][UPDATED] == dt.datetime(2024, 6, 3, 8, 1, 5)
    assert len(m.table_rows("doctors")[0]) == len(REPLICA_COLUMNS["doctors"])


def test_replica_check_fails_on_a_flipped_soft_delete_flag():
    snap = gen.clinic_snapshot(3, 1)
    m = ClinicModel(snap, gen.LOAD_TS)
    m.apply_batch(gen.clinic_changes(snap, 3, 1, 40)[0])
    good = {t: m.table_rows(t) for t in REPLICA_COLUMNS}
    assert checks.check_replicas(m, good) == []
    flag = REPLICA_COLUMNS["appointments"].index(DELETED)
    bad = dict(good)
    row = list(bad["appointments"][0])
    row[flag] = not row[flag]
    bad["appointments"] = [tuple(row)] + bad["appointments"][1:]
    assert checks.check_replicas(m, bad)


def test_dashboard_check_fails_on_a_changed_count():
    snap = gen.clinic_snapshot(3, 1)
    m = ClinicModel(snap, gen.LOAD_TS)
    m.apply_batch(gen.clinic_changes(snap, 3, 1, 40)[0])
    con = checks.model_connection(m)
    results = {}
    for name, (cols, sql) in checks.DASHBOARD_SQL.items():
        results[name] = (cols, con.execute(sql).fetchall())
    con.close()
    assert checks.check_dashboard(m, results) == []
    cols, rows = results["cdc_change_volume"]
    results["cdc_change_volume"] = (cols, [rows[0][:1] + (rows[0][1] + 1,) + rows[0][2:]]
                                    + rows[1:])
    assert checks.check_dashboard(m, results)


def test_oracle_checks_fail_on_a_dropped_pair_and_a_bad_property():
    oracle = [{"doc_a": 1, "doc_b": 2, "jaccard": 0.5},
              {"doc_a": 3, "doc_b": 7, "jaccard": Decimal("0.75")}]
    actual = [{"doc_a": 1, "doc_b": 2, "jaccard": 0.5}, {"doc_a": 3, "doc_b": 7, "jaccard": 0.75}]
    assert checks.check_against_oracle("pairs", oracle, actual) == []
    assert checks.check_against_oracle("pairs", oracle, actual[:1])
    assert checks.check_against_oracle("pairs", [], [])  # vacuous
    assert checks.check_pair_property("p", [(1, 2, 0.5)], 0.3) == []
    assert checks.check_pair_property("p", [(2, 1, 0.5)], 0.3)
    assert checks.check_pair_property("p", [(1, 2, 0.1)], 0.3)


def test_oracle_cache_misses_when_the_sql_text_changes(tmp_path):
    docs = gen.write_documents(gen.corpus_documents(1, 50), str(tmp_path / "sf"))
    cache = str(tmp_path / "cache")
    sql = "SELECT COUNT(*) AS n FROM documents"
    first = checks.run_oracle(sql, docs, cache_dir=cache)
    assert checks.run_oracle(sql, docs, cache_dir=cache) == first
    assert len(os.listdir(cache)) == 1
    other = checks.run_oracle(sql + " WHERE doc_id < 10", docs, cache_dir=cache)
    assert len(os.listdir(cache)) == 2 and other != first
    assert checks.run_oracle(sql, docs, where="doc_id < 5", cache_dir=cache) != first


def test_components_match_dd7_shape_and_catch_a_dropped_edge():
    groups = checks.components([(1, 2), (2, 3), (7, 9)])
    assert sorted((g["doc_id"], g["canonical_doc_id"], g["component_size"]) for g in groups) == [
        (1, 1, 3), (2, 1, 3), (3, 1, 3), (7, 7, 2), (9, 7, 2)]
    split = checks.components([(1, 2), (7, 9)])
    assert checks.check_against_oracle("dd7", groups, split)


def test_stats_oracle_is_px11s_corpus_and_catches_a_changed_count(tmp_path):
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators import ORACLES

    docs = gen.write_documents(gen.corpus_documents(2, 300), str(tmp_path / "sf"))
    px11 = ORACLES["px11_training_manifest"]
    cache = str(tmp_path / "cache")
    manifest = checks.run_oracle(px11, docs, cache_dir=cache)
    by_lang = checks.run_oracle(checks.curated_stats_sql(px11, "lang"), docs, cache_dir=cache)
    by_source = checks.run_oracle(checks.curated_stats_sql(px11, "source"), docs,
                                  cache_dir=cache)
    for stats in (by_lang, by_source):
        assert sum(r["n_docs"] for r in stats) == sum(r["n_docs"] for r in manifest)
        assert sum(r["n_tokens"] for r in stats) == sum(r["shard_tokens"] for r in manifest)
    assert {r["lang"]: r["n_docs"] for r in by_lang} == {
        lang: sum(r["n_docs"] for r in manifest if r["lang"] == lang)
        for lang in {r["lang"] for r in manifest}}
    assert checks.check_against_oracle("stats", by_source, by_source) == []
    bad = [dict(r) for r in by_source]
    bad[0]["n_tokens"] += 1
    assert checks.check_against_oracle("stats", by_source, bad)
