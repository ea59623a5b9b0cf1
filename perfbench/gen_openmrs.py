"""Seeded OpenMRS-shaped source generator and small-delta generator.

The shapes follow the pipeline's test fixtures (persons with 1-4
encounters, clinical obs per encounter, multimap concept 1271,
encounter-less lab clusters, orders, voided rows, all-null and integral
numeric values), but the code and every constant live here so that an
edit to the test fixtures never changes the benchmark's inputs.

Tables are kept as column lists (``{table: {column: [values]}}``) and
written through Arrow with types that mirror the source schemas in
``mrsboraetl_spark/schemas.py``.
Each table is one parquet directory, the path-source deployment shape
the engine reads footer statistics from.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

BASE = dt.datetime(2024, 1, 1, 8, 0, 0)
WATERMARK = dt.datetime(2024, 6, 1, 0, 0, 0)
# Every delta timestamp lies after every base timestamp, so each cycle
# moves the change signals the engine watches.
DELTA_BASE = dt.datetime(2026, 1, 1, 6, 0, 0)

DECODE_CONCEPTS = {
    1836: [1065, 1066, 6765, 50, 6847, 6848],
    6760: [1384, 1385, 1386, 1175, 8015],
    1271: [5497, 21, 1569, 1883, 5622, 1107],
    6794: [6790, 6791, 6792, 6793],
    1571: [792, 160, 627, 633],
}
NUMERIC_CONCEPTS = {6743: (40.0, 120.0), 6744: (100.0, 200.0), 5089: (1.0, 99.0)}
DATETIME_CONCEPTS = [6746, 5096]
TEXT_CONCEPTS = [1111, 2222]
LAB_CONCEPTS = [
    856, 5497, 730, 21, 653, 790, 12, 1030, 1040, 1271, 9508, 6126, 887,
    6252, 1537, 857,
]
ORDER_CONCEPTS = [5497, 21, 1569, 1883, 856]

_TS = pa.timestamp("us", tz="UTC")
ARROW_SCHEMAS = {
    "obs": pa.schema([
        pa.field("obs_id", pa.int64(), False),
        pa.field("person_id", pa.int32(), False),
        ("encounter_id", pa.int32()),
        ("obs_datetime", _TS),
        pa.field("concept_id", pa.int32(), False),
        ("value_coded", pa.int32()),
        ("value_numeric", pa.float64()),
        ("value_datetime", _TS),
        ("value_boolean", pa.int32()),
        ("value_text", pa.string()),
        ("value_drug", pa.int32()),
        ("value_modifier", pa.string()),
        pa.field("voided", pa.int32(), False),
        ("date_voided", _TS),
        pa.field("date_created", _TS, False),
    ]),
    "encounter": pa.schema([
        pa.field("encounter_id", pa.int32(), False),
        pa.field("patient_id", pa.int32(), False),
        ("visit_id", pa.int32()),
        ("encounter_datetime", _TS),
        ("encounter_type", pa.int32()),
        ("location_id", pa.int32()),
        pa.field("voided", pa.int32(), False),
        ("date_changed", _TS),
        pa.field("date_created", _TS, False),
    ]),
    "orders": pa.schema([
        pa.field("order_id", pa.int32(), False),
        pa.field("patient_id", pa.int32(), False),
        ("encounter_id", pa.int32()),
        pa.field("concept_id", pa.int32(), False),
        ("location_id", pa.int32()),
        ("date_activated", _TS),
        pa.field("voided", pa.int32(), False),
        ("date_voided", _TS),
        pa.field("date_created", _TS, False),
    ]),
    "person": pa.schema([
        pa.field("person_id", pa.int32(), False),
        pa.field("uuid", pa.string(), False),
        pa.field("voided", pa.int32(), False),
        ("date_voided", _TS),
    ]),
}
TABLES = tuple(ARROW_SCHEMAS)


def _empty() -> dict[str, dict[str, list]]:
    return {t: {c: [] for c in s.names} for t, s in ARROW_SCHEMAS.items()}


def _add(table: dict[str, list], **values) -> None:
    for c, col in table.items():
        col.append(values.get(c))


def _random_value(rng: random.Random) -> tuple[int, dict]:
    kind = rng.random()
    if kind < 0.45:
        concept = rng.choice(list(DECODE_CONCEPTS))
        return concept, dict(value_coded=rng.choice(DECODE_CONCEPTS[concept]))
    if kind < 0.75:
        concept = rng.choice(list(NUMERIC_CONCEPTS))
        lo, hi = NUMERIC_CONCEPTS[concept]
        return concept, dict(value_numeric=round(rng.uniform(lo, hi), 1))
    if kind < 0.85:
        return rng.choice(DATETIME_CONCEPTS), dict(
            value_datetime=BASE + dt.timedelta(days=rng.randint(0, 400))
        )
    if kind < 0.95:
        return rng.choice(TEXT_CONCEPTS), dict(
            value_text=rng.choice(["ok", "follow-up", "a#b", "x!y"])
        )
    return 5087, dict(value_boolean=rng.choice([0, 1]))


class _Ids:
    def __init__(self, obs: int = 1, enc: int = 1, order: int = 1):
        self.obs, self.enc, self.order = obs, enc, order

    def next(self, kind: str) -> int:
        v = getattr(self, kind)
        setattr(self, kind, v + 1)
        return v


def _encounter(rng, t, ids, pid, day, created, n_obs, n_orders) -> None:
    """One encounter with its clinical obs, multimap obs and orders."""
    enc_id = ids.next("enc")
    _add(
        t["encounter"],
        encounter_id=enc_id,
        patient_id=pid,
        visit_id=None if rng.random() < 0.2 else 100000 + enc_id,
        encounter_datetime=day,
        encounter_type=rng.choice([21, 21, 22, 22, 21, 35, 45, 8]),
        location_id=rng.choice([1, 2, 3, None]),
        voided=1 if rng.random() < 0.02 else 0,
        date_changed=None,
        date_created=created,
    )
    for _ in range(n_obs):
        concept, kw = _random_value(rng)
        _add(
            t["obs"], obs_id=ids.next("obs"), person_id=pid,
            encounter_id=enc_id, obs_datetime=day, concept_id=concept,
            voided=1 if rng.random() < 0.05 else 0, date_created=created,
            **kw,
        )
    if rng.random() < 0.4:
        for code in rng.sample(DECODE_CONCEPTS[1271], k=2):
            _add(
                t["obs"], obs_id=ids.next("obs"), person_id=pid,
                encounter_id=enc_id, obs_datetime=day, concept_id=1271,
                value_coded=code, voided=0, date_created=created,
            )
    for _ in range(n_orders):
        _add(
            t["orders"], order_id=ids.next("order"), patient_id=pid,
            encounter_id=enc_id, concept_id=rng.choice(ORDER_CONCEPTS),
            location_id=rng.choice([1, 2, 3]), date_activated=day,
            voided=1 if rng.random() < 0.05 else 0, date_created=created,
        )


def generate(n_persons: int, seed: int) -> dict[str, dict[str, list]]:
    """Base sources: ``n_persons`` persons, about 19 obs, 2.5
    encounters and 3.8 orders each."""
    rng = random.Random(seed)
    t = _empty()
    ids = _Ids()
    for pid in range(1, n_persons + 1):
        p_voided = 1 if rng.random() < 0.02 else 0
        _add(
            t["person"], person_id=pid, uuid=f"uuid-{pid:07d}",
            voided=p_voided,
            date_voided=(
                None if pid % 5 == 0
                else WATERMARK + dt.timedelta(days=(pid % 7) - 3)
            ) if p_voided else None,
        )
        for _visit in range(rng.randint(1, 4)):
            day = BASE + dt.timedelta(
                days=rng.randint(0, 365), hours=rng.randint(0, 8)
            )
            created = day + dt.timedelta(hours=2)
            first = len(t["encounter"]["encounter_id"])
            _encounter(
                rng, t, ids, pid, day, created,
                n_obs=rng.randint(2, 8), n_orders=rng.randint(0, 3),
            )
            if rng.random() < 0.1:
                t["encounter"]["date_changed"][first] = (
                    created + dt.timedelta(days=200)
                )
        # encounter-less lab clusters
        for _ in range(rng.randint(0, 3)):
            day = BASE + dt.timedelta(days=rng.randint(0, 365), hours=9)
            created = day + dt.timedelta(days=1)
            for _ in range(rng.randint(1, 5)):
                concept = rng.choice(LAB_CONCEPTS)
                kw = (
                    dict(value_coded=rng.choice(DECODE_CONCEPTS[1271]))
                    if concept == 1271
                    else dict(value_numeric=round(rng.uniform(1, 500), 1))
                )
                _add(
                    t["obs"], obs_id=ids.next("obs"), person_id=pid,
                    encounter_id=None, obs_datetime=day, concept_id=concept,
                    voided=1 if rng.random() < 0.05 else 0,
                    date_created=created, **kw,
                )
    # an all-null value row and an integral numeric (blob rendering)
    _add(
        t["obs"], obs_id=ids.next("obs"), person_id=1, encounter_id=1,
        obs_datetime=BASE, concept_id=9999, voided=0, date_created=BASE,
    )
    _add(
        t["obs"], obs_id=ids.next("obs"), person_id=1, encounter_id=1,
        obs_datetime=BASE, concept_id=6743, value_numeric=72.0, voided=0,
        date_created=BASE,
    )
    # voids dated after the watermark (retraction scenario)
    obs = t["obs"]
    n = len(obs["obs_id"])
    for i in rng.sample(range(n), k=max(3, n // 50)):
        if obs["voided"][i] == 1:
            obs["date_voided"][i] = WATERMARK + dt.timedelta(days=3)
    return t


# One small delta: obs appended to existing encounters, new encounters
# with obs and orders, encounter ``date_changed`` edits, and dated obs
# and order voids.  It moves the obs, encounter and orders signals, so
# every stage runs incrementally.
DELTA_SIZES = {
    "appended_obs": 20,
    "new_encounters": 3,
    "encounter_edits": 3,
    "obs_voids": 3,
    "order_voids": 2,
}


def apply_delta(t: dict[str, dict[str, list]], seed: int, cycle: int) -> None:
    """Apply cycle ``cycle``'s seeded small delta (``DELTA_SIZES``) to
    ``t`` in place.  Every row it adds or edits carries one timestamp
    later than every earlier one.  Person voids, which force a full
    latest-table rewrite, are never part of a delta."""
    rng = random.Random(f"delta:{seed}:{cycle}")
    stamp = DELTA_BASE + dt.timedelta(days=cycle, hours=rng.randint(0, 8))
    enc, obs, orders, person = (
        t["encounter"], t["obs"], t["orders"], t["person"]
    )
    ids = _Ids(
        obs=max(obs["obs_id"]) + 1,
        enc=max(enc["encounter_id"]) + 1,
        order=max(orders["order_id"]) + 1,
    )
    live_enc = [i for i, v in enumerate(enc["voided"]) if v == 0]
    for i in rng.sample(live_enc, k=DELTA_SIZES["appended_obs"]):
        concept, kw = _random_value(rng)
        _add(
            obs, obs_id=ids.next("obs"), person_id=enc["patient_id"][i],
            encounter_id=enc["encounter_id"][i],
            obs_datetime=enc["encounter_datetime"][i], concept_id=concept,
            voided=0, date_created=stamp, **kw,
        )
    live_persons = [
        p for p, v in zip(person["person_id"], person["voided"]) if v == 0
    ]
    for pid in rng.sample(live_persons, k=DELTA_SIZES["new_encounters"]):
        day = stamp - dt.timedelta(hours=rng.randint(1, 4))
        _encounter(rng, t, ids, pid, day, stamp, n_obs=3, n_orders=1)
    for i in rng.sample(live_enc, k=DELTA_SIZES["encounter_edits"]):
        enc["date_changed"][i] = stamp
    live_obs = [i for i, v in enumerate(obs["voided"]) if v == 0]
    for i in rng.sample(live_obs, k=DELTA_SIZES["obs_voids"]):
        obs["voided"][i] = 1
        obs["date_voided"][i] = stamp
    live_orders = [i for i, v in enumerate(orders["voided"]) if v == 0]
    for i in rng.sample(live_orders, k=DELTA_SIZES["order_voids"]):
        orders["voided"][i] = 1
        orders["date_voided"][i] = stamp


def to_arrow(t: dict[str, dict[str, list]]) -> dict[str, pa.Table]:
    return {
        name: pa.Table.from_pydict(cols, schema=ARROW_SCHEMAS[name])
        for name, cols in t.items()
    }


def write_sources(
    t: dict[str, dict[str, list]], root: str, tag: str, n_files: int = 1
) -> dict[str, str]:
    """Write every table as ``n_files`` row-range parts
    ``<root>/<table>/part-<tag>-<i>.parquet`` (one per row when the
    table has fewer rows, so no part is empty), replacing the table's
    previous files, and return the path sources ``PipelineRunner.run``
    takes.  A new file name per version keeps no stale listing or
    footer cache in play."""
    paths = {}
    for name, table in to_arrow(t).items():
        d = os.path.join(root, name)
        if os.path.isdir(d):
            shutil.rmtree(d)
        os.makedirs(d)
        n = table.num_rows
        parts = max(1, min(n_files, n))  # no empty files
        for i in range(parts):
            lo, hi = i * n // parts, (i + 1) * n // parts
            pq.write_table(
                table.slice(lo, hi - lo),
                os.path.join(d, f"part-{tag}-{i:03d}.parquet"),
            )
        paths[name] = d
    return paths
