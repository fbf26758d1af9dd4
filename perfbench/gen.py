"""Seeded input generators. Standard library and pyarrow only: the program
under test receives nothing but the files written here.

- clinic: the reference's four healthcare tables scaled by ``scale``
  (100·scale patients, 10·scale doctors, 170·scale appointments,
  100·scale visits) as parquet, plus change files in the JSON-lines
  envelope the CDC stream consumes (seq_no, event_ts, table_name, op,
  after).
- corpus: a ``documents`` table (doc_id, text, lang, source, n_chars)
  shaped like the sf0.1 one, and the doc_id cut points of its dumps.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

AS_OF = dt.date(2024, 6, 3)  # the program's pinned "today"
LOAD_TS = "2024-06-02 12:00:00"

_FIRST = ["Ava", "Ben", "Cara", "Dev", "Elle", "Finn", "Gia", "Hugo", "Iris",
          "Jon", "Kira", "Liam", "Mona", "Nico", "Omar", "Pia", "Quinn", "Rosa"]
_LAST = ["Adams", "Baker", "Chen", "Diaz", "Evans", "Flores", "Garcia", "Ito",
         "Jones", "Kim", "Lopez", "Moore", "Nguyen", "Ortiz", "Patel", "Silva"]
_CITIES = [("Austin", "TX"), ("Dallas", "TX"), ("Miami", "FL"), ("Denver", "CO"),
           ("Seattle", "WA"), ("Boston", "MA"), ("Chicago", "IL")]
_INSURERS = ["Medicare", "Medicaid", "BlueCross", "Aetna", "Cigna", "United",
             "Humana", "Kaiser"]
_SPECS = {"General Practice": "Primary Care", "Cardiology": "Cardiovascular",
          "Pediatrics": "Children Services", "Orthopedics": "Surgical Services",
          "Dermatology": "Specialty Care", "Internal Medicine": "Primary Care"}
_REASONS = ["Annual physical", "Flu symptoms", "Back pain", "Headache",
            "Follow-up", "Skin rash", "Chest pain", "Allergies", "Checkup",
            "Joint pain", "Fatigue", "Vaccination", "Lab review", "Cough"]
_DIAGNOSES = ["Hypertension", "Type 2 diabetes", "Influenza", "Migraine",
              "Dermatitis", "Asthma", "Anxiety", "Arthritis", "Sinusitis",
              "Bronchitis", "Healthy", "GERD", "Insomnia", "Anemia"]
_TREATMENTS = ["Rest and fluids", "Prescribed medication", "Physical therapy",
               "Lifestyle counseling", "Follow-up in 2 weeks", "Lab work ordered"]
_TYPES = ["routine", "urgent", "follow_up", "annual"]
# the status steps of a same-day appointment: the statuses a step takes
# an appointment from, in order of preference, and the one it leaves
_FROM = {"confirm": ("scheduled",), "check_in": ("confirmed", "scheduled"),
         "start": ("checked_in",)}
_TO = {"confirm": "confirmed", "check_in": "checked_in", "start": "in_progress"}
_SAME_DAY = ("scheduled", "confirmed", "checked_in", "in_progress")

# column order and arrow type per table; timestamps carry a UTC zone so
# Spark reads them as TIMESTAMP, the replica schema's type
_TS = pa.timestamp("us", tz="UTC")
CLINIC_COLUMNS: dict[str, list[tuple[str, pa.DataType]]] = {
    "patients": [
        ("patient_id", pa.int64()), ("first_name", pa.string()),
        ("last_name", pa.string()), ("date_of_birth", pa.date32()),
        ("phone", pa.string()), ("email", pa.string()), ("address", pa.string()),
        ("city", pa.string()), ("state", pa.string()),
        ("insurance_provider", pa.string()), ("registration_date", _TS),
    ],
    "doctors": [
        ("doctor_id", pa.int64()), ("first_name", pa.string()),
        ("last_name", pa.string()), ("specialization", pa.string()),
        ("department", pa.string()), ("phone", pa.string()),
        ("email", pa.string()), ("years_of_experience", pa.int64()),
        ("accepting_new_patients", pa.bool_()),
    ],
    "appointments": [
        ("appointment_id", pa.int64()), ("patient_id", pa.int64()),
        ("doctor_id", pa.int64()), ("appointment_date", pa.date32()),
        ("appointment_time", pa.string()), ("status", pa.string()),
        ("reason_for_visit", pa.string()), ("appointment_type", pa.string()),
        ("created_at", _TS), ("updated_at", _TS),
    ],
    "visits": [
        ("visit_id", pa.int64()), ("appointment_id", pa.int64()),
        ("patient_id", pa.int64()), ("doctor_id", pa.int64()),
        ("visit_date", pa.date32()), ("visit_start_time", _TS),
        ("visit_end_time", _TS), ("diagnosis", pa.string()),
        ("treatment_notes", pa.string()), ("follow_up_required", pa.bool_()),
        ("prescription_given", pa.bool_()), ("total_charge", pa.decimal128(10, 2)),
    ],
}
PRIMARY_KEYS = {"patients": "patient_id", "doctors": "doctor_id",
                "appointments": "appointment_id", "visits": "visit_id"}


def _utc(ts: dt.datetime) -> dt.datetime:
    return ts.replace(tzinfo=dt.timezone.utc)


def _hhmm(rng: random.Random) -> str:
    return f"{rng.randint(8, 16):02d}:{rng.choice((0, 15, 30, 45)):02d}:00"


def _visit(vid: int, appt: dict, rng: random.Random) -> dict:
    h, m = int(appt["appointment_time"][:2]), int(appt["appointment_time"][3:5])
    start = dt.datetime.combine(appt["appointment_date"], dt.time(h, m))
    return {
        "visit_id": vid, "appointment_id": appt["appointment_id"],
        "patient_id": appt["patient_id"], "doctor_id": appt["doctor_id"],
        "visit_date": appt["appointment_date"], "visit_start_time": start,
        "visit_end_time": start + dt.timedelta(minutes=30),
        "diagnosis": rng.choice(_DIAGNOSES),
        "treatment_notes": rng.choice(_TREATMENTS),
        "follow_up_required": rng.random() < 0.3,
        "prescription_given": rng.random() < 0.4,
        "total_charge": Decimal(f"{rng.uniform(75.0, 350.0):.2f}"),
    }


def clinic_snapshot(seed: int, scale: int) -> dict[str, list[dict]]:
    """The reference seed's shape ×scale: appointments are 150·scale past
    (completed 100 / cancelled 40 / no_show 10 per 150) and 20·scale
    upcoming; visits are one per completed appointment; about a tenth of
    the upcoming appointments fall on AS_OF, the day the changes touch."""
    rng = random.Random(seed)
    base = dt.datetime.combine(AS_OF - dt.timedelta(days=1), dt.time(12))
    n_pat, n_doc = 100 * scale, 10 * scale
    specs = list(_SPECS)
    doctors = []
    for i in range(1, n_doc + 1):
        spec = specs[i % len(specs)]
        doctors.append({
            "doctor_id": i, "first_name": rng.choice(_FIRST),
            "last_name": rng.choice(_LAST), "specialization": spec,
            "department": _SPECS[spec], "phone": f"555-2{i:06d}",
            "email": f"doc{i}@clinic.example",
            "years_of_experience": rng.randint(7, 25),
            "accepting_new_patients": rng.random() < 0.9,
        })
    patients = [_patient(i, rng) for i in range(1, n_pat + 1)]
    past = (["completed"] * 100 + ["cancelled"] * 40 + ["no_show"] * 10) * scale
    rng.shuffle(past)
    appointments = []
    for i, status in enumerate(past, start=1):
        appointments.append(_appointment(
            i, rng, n_pat, n_doc, AS_OF - dt.timedelta(days=rng.randint(1, 90)),
            status, base - dt.timedelta(days=rng.randint(91, 120)),
            base - dt.timedelta(days=rng.randint(0, 90))))
    for i in range(len(past) + 1, 170 * scale + 1):
        day = AS_OF if rng.random() < 0.1 else AS_OF + dt.timedelta(rng.randint(1, 30))
        appointments.append(_appointment(
            i, rng, n_pat, n_doc, day,
            "scheduled" if rng.random() < 0.75 else "confirmed", base, base))
    completed = [a for a in appointments if a["status"] == "completed"]
    visits = [_visit(v, a, rng) for v, a in enumerate(completed, start=1)]
    return {"patients": patients, "doctors": doctors,
            "appointments": appointments, "visits": visits}


def _patient(i: int, rng: random.Random) -> dict:
    city, state = rng.choice(_CITIES)
    return {
        "patient_id": i, "first_name": rng.choice(_FIRST),
        "last_name": rng.choice(_LAST),
        "date_of_birth": dt.date(rng.randint(1942, 2016), rng.randint(1, 12),
                                 rng.randint(1, 28)),
        "phone": f"555-1{i:07d}", "email": f"patient{i}@mail.example",
        "address": f"{100 + i} Main St", "city": city, "state": state,
        "insurance_provider": rng.choice(_INSURERS),
        "registration_date": dt.datetime(rng.randint(2022, 2024),
                                         rng.randint(1, 5), rng.randint(1, 28),
                                         rng.randint(8, 17)),
    }


def _appointment(i, rng, n_pat, n_doc, day, status, created, updated) -> dict:
    return {
        "appointment_id": i, "patient_id": rng.randint(1, n_pat),
        "doctor_id": rng.randint(1, n_doc), "appointment_date": day,
        "appointment_time": _hhmm(rng), "status": status,
        "reason_for_visit": rng.choice(_REASONS),
        "appointment_type": rng.choices(_TYPES, weights=(60, 15, 15, 10))[0],
        "created_at": created, "updated_at": updated,
    }


def write_clinic_snapshot(snapshot: dict[str, list[dict]], out_dir: str) -> dict[str, str]:
    """One parquet file per table; returns table -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for table, cols in CLINIC_COLUMNS.items():
        rows = snapshot[table]
        arrays = []
        for name, typ in cols:
            vals = [r[name] for r in rows]
            if typ == _TS:
                vals = [None if v is None else _utc(v) for v in vals]
            arrays.append(pa.array(vals, type=typ))
        path = os.path.join(out_dir, f"{table}.parquet")
        pq.write_table(pa.Table.from_arrays(arrays, names=[c for c, _ in cols]), path)
        paths[table] = path
    return paths


# The busy-clinic morning the program ships as its reference change stream
# (``sources.healthcare.generate_scenario``): 27 actions that emit 31
# events. Per action kind, how often it occurs there:
#   confirm   a scheduled same-day appointment is confirmed: 2 U
#   check_in  a same-day patient checks in (confirmed ones first): 4 U
#   start     a checked-in visit starts: 2 U
#   complete  an appointment completes (started ones first, else checked
#             in) and its visit is recorded: 4 appointment U + 4 visit I
#   cancel    a scheduled appointment is cancelled or marked no-show: 2 U
#   walk_in   a new same-day appointment: 5 appointment I
#   future    a new appointment on one of the next days: 5 appointment I
#   purge     retention cleanup deletes the oldest cancelled one: 2 D
#   doctor    a doctor stops or starts accepting new patients: 1 doctor U
# The scenario has no patient events, so patients get none here either.
SCENARIO_ACTIONS = {"confirm": 2, "check_in": 4, "start": 2, "complete": 4,
                    "cancel": 2, "walk_in": 5, "future": 5, "purge": 2, "doctor": 1}
# the (table, op) event counts those actions emit in the scenario
SCENARIO_EVENTS = {("appointments", "U"): 14, ("appointments", "I"): 10,
                   ("appointments", "D"): 2, ("visits", "I"): 4, ("doctors", "U"): 1}


def clinic_changes(snapshot: dict[str, list[dict]], seed: int, n_files: int,
                   events_per_file: int) -> list[list[dict]]:
    """``n_files`` files of ``events_per_file`` events each (the last
    action of a file may add one more), seq_no strictly increasing across
    files, with actions drawn in the shares of SCENARIO_ACTIONS. An
    action with no row to act on (no same-day appointment ready to
    complete, say) is redrawn. Updates carry the full post-image,
    deletes the key only — the envelope the program's
    ``write_scenario_jsonl`` emits. Does not mutate ``snapshot``."""
    rng = random.Random(seed * 7919 + 1)
    rows = {t: {r[PRIMARY_KEYS[t]]: dict(r) for r in snapshot[t]} for t in PRIMARY_KEYS}
    appts = rows["appointments"]
    next_id = {t: max(rows[t]) + 1 for t in rows}
    # same-day appointments by status, and cancelled ones oldest first
    today = {s: sorted(k for k, a in appts.items()
                       if a["appointment_date"] == AS_OF and a["status"] == s)
             for s in _SAME_DAY}
    upcoming = sorted(k for k, a in appts.items()
                      if a["appointment_date"] > AS_OF and a["status"] == "scheduled")
    cancelled = sorted((a["appointment_date"], k) for k, a in appts.items()
                       if a["status"] == "cancelled")
    kinds, weights = zip(*SCENARIO_ACTIONS.items())
    t0 = dt.datetime.combine(AS_OF, dt.time(8))
    seq = 0

    def emit(batch, table, op, after):
        nonlocal seq
        seq += 1
        batch.append({"seq_no": seq, "event_ts": t0 + dt.timedelta(seconds=seq),
                      "table_name": table, "op": op, "after": after})

    def take(keys: list) -> int:
        return keys.pop(rng.randrange(len(keys)))

    def set_status(batch, k, status):
        a = appts[k]
        a["status"] = status
        a["updated_at"] = t0 + dt.timedelta(seconds=seq + 1)
        emit(batch, "appointments", "U", dict(a))

    def insert(batch, day):
        k = next_id["appointments"]
        next_id["appointments"] += 1
        ts = t0 + dt.timedelta(seconds=seq + 1)
        appts[k] = _appointment(k, rng, len(rows["patients"]), len(rows["doctors"]),
                                day, "scheduled", ts, ts)
        emit(batch, "appointments", "I", dict(appts[k]))
        return k

    def act(batch, kind) -> bool:
        if kind in _FROM:
            s = next((s for s in _FROM[kind] if today[s]), None)
            if s is None:
                return False
            k = take(today[s])
            set_status(batch, k, _TO[kind])
            today[_TO[kind]].append(k)
        elif kind == "complete":
            s = "in_progress" if today["in_progress"] else "checked_in"
            if not today[s]:
                return False
            k = take(today[s])
            set_status(batch, k, "completed")
            v = _visit(next_id["visits"], appts[k], rng)
            next_id["visits"] += 1
            rows["visits"][v["visit_id"]] = v
            emit(batch, "visits", "I", dict(v))
        elif kind == "cancel":
            if not upcoming:
                return False
            k = take(upcoming)
            set_status(batch, k, rng.choice(("cancelled", "no_show")))
            if appts[k]["status"] == "cancelled":
                cancelled.append((appts[k]["appointment_date"], k))
                cancelled.sort()
        elif kind == "walk_in":
            today["scheduled"].append(insert(batch, AS_OF))
        elif kind == "future":
            upcoming.append(insert(batch, AS_OF + dt.timedelta(days=rng.randint(1, 5))))
        elif kind == "purge":
            if not cancelled:
                return False
            _, k = cancelled.pop(0)
            del appts[k]
            emit(batch, "appointments", "D", {"appointment_id": k})
        else:
            d = rows["doctors"][rng.randrange(1, next_id["doctors"])]
            d["accepting_new_patients"] = not d["accepting_new_patients"]
            emit(batch, "doctors", "U", dict(d))
        return True

    files = []
    for _ in range(n_files):
        batch: list[dict] = []
        while len(batch) < events_per_file:
            while not act(batch, rng.choices(kinds, weights)[0]):
                pass
        files.append(batch)
    return files


def _json_value(v):
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    return v


def envelope_line(ev: dict) -> str:
    return json.dumps({
        "seq_no": ev["seq_no"], "event_ts": ev["event_ts"].isoformat(sep=" "),
        "table_name": ev["table_name"], "op": ev["op"],
        "after": {k: _json_value(v) for k, v in ev["after"].items()},
    })


def write_change_file(batch: list[dict], path: str) -> None:
    with open(path, "w") as f:
        for ev in batch:
            f.write(envelope_line(ev) + "\n")


# -- corpus -------------------------------------------------------------------

# A profile of the sf0.1 ``documents`` table (5 000 rows) the registry's
# dedup and curation entries run on, recorded here so that the corpus
# has its shape without reading it:
# - text: 10 to 100 words (uniform; median 54), each drawn uniformly from
#   the 30 words below;
# - near duplicates: 250 documents (5%) are another document's text plus
#   the word "dup" (the original may come later in doc_id order, and 4
#   are copies of copies; 7 originals were themselves overwritten); dd4
#   finds 256 pairs;
# - exact duplicates: 8 pairs of identical texts, all of them two near
#   copies of one original — none are made on purpose;
# - lang: en 2 059, zh 753, es 744, fr 742, de 702;
# - source: f"src{doc_id % 20}"; n_chars: the length of the text.
SF01_WORDS = ("a agg batch big column customer data fast filter group hash join "
              "key line merge order part query row scan slow small sort spark "
              "stream table the value vector window").split()
SF01_WORDS_PER_DOC = (10, 100)
SF01_NEAR_DUP_SHARE = 250 / 5000
SF01_LANGS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}
SF01_SOURCES = 20


def corpus_documents(seed: int, n_docs: int) -> list[dict]:
    """``n_docs`` documents (doc_id 0..n_docs-1) with the sf0.1 profile:
    word bags, then SF01_NEAR_DUP_SHARE of them replaced by a copy of
    another one's text plus " dup"."""
    rng = random.Random(seed * 104729 + 3)
    langs, weights = zip(*SF01_LANGS.items())
    texts = [" ".join(rng.choice(SF01_WORDS)
                      for _ in range(rng.randint(*SF01_WORDS_PER_DOC)))
             for _ in range(n_docs)]
    for i in rng.sample(range(n_docs), round(n_docs * SF01_NEAR_DUP_SHARE)):
        j = rng.randrange(n_docs - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    return [{"doc_id": i, "text": t, "lang": rng.choices(langs, weights)[0],
             "source": f"src{i % SF01_SOURCES}", "n_chars": len(t)}
            for i, t in enumerate(texts)]


def write_documents(docs: list[dict], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    types = (pa.int64(), pa.string(), pa.string(), pa.string(), pa.int64())
    table = pa.Table.from_arrays(
        [pa.array([d[c] for d in docs], type=t) for c, t in zip(cols, types)],
        names=list(cols))
    pq.write_table(table, path)
    return path


def dump_cuts(seed: int, lo: int, hi: int, n_dumps: int) -> list[int]:
    """Ascending doc_id boundaries cutting [lo, hi) into ``n_dumps``
    dumps whose sizes vary ±5% around the mean; dump i is
    ``cuts[i] <= doc_id < cuts[i + 1]``."""
    rng = random.Random(seed * 31 + 5)
    weights = [rng.uniform(0.95, 1.05) for _ in range(n_dumps)]
    total = sum(weights)
    cuts, acc = [lo], 0.0
    for w in weights[:-1]:
        acc += w
        cuts.append(lo + round((hi - lo) * acc / total))
    return cuts + [hi]
