"""Deterministic OpenMRS-shaped pipeline fixtures (FIXTURES.md §A, seed=42).

Generates pandas frames matching the reference's source schemas, with every
scenario axis from FIXTURES.md §A.6: encounter-less obs, voided obs (with and
without encounter), voided persons/encounters, multimap concepts, lab panel
concepts incl. the 1271=1107 exclusion, watermark-straddling timestamps,
all-null value rows, numeric trailing-zero cases.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pandas as pd

from mrsboraetl_spark.config import LAB_CONCEPTS
from mrsboraetl_spark.schemas import (
    ENCOUNTER_SCHEMA,
    OBS_SCHEMA,
    ORDERS_SCHEMA,
    PERSON_SCHEMA,
    p_month_of,
)

BASE = dt.datetime(2024, 1, 1, 8, 0, 0)
WATERMARK = dt.datetime(2024, 6, 1, 0, 0, 0)

DECODE_CONCEPTS = {
    1836: [1065, 1066, 6765, 50, 6847, 6848],   # pregnancy
    6760: [1384, 1385, 1386, 1175, 8015],       # arv adherence
    1271: [5497, 21, 1569, 1883, 5622, 1107],   # tests ordered (1107 = NONE)
    6794: [6790, 6791, 6792, 6793],             # who stage answers
    1571: [792, 160, 627, 633],                 # regimen-ish codes
}
NUMERIC_CONCEPTS = {6743: (40.0, 120.0), 6744: (100.0, 200.0), 5089: (1.0, 99.0)}
DATETIME_CONCEPTS = [6746, 5096]
TEXT_CONCEPTS = [1111, 2222]


def make_sources(
    n_persons: int = 40, seed: int = 42
) -> dict[str, pd.DataFrame]:
    rng = random.Random(seed)
    persons, encounters, obs_rows, orders = [], [], [], []
    obs_id, enc_id, order_id = 1, 1, 1

    for pid in range(1, n_persons + 1):
        p_voided = 1 if rng.random() < 0.02 else 0
        persons.append(
            dict(
                person_id=pid,
                uuid=f"uuid-{pid:06d}-{'x' * 8}",
                voided=p_voided,
                # Mix of pre-/post-watermark voids plus the occasional
                # undated one, so the recently_voided month-probe scoping
                # sees every class.  A pure function of pid — NOT rng —
                # so the existing draw sequence (and every fixture value
                # pinned downstream) is unchanged.
                date_voided=(
                    None if pid % 5 == 0
                    else WATERMARK + dt.timedelta(days=(pid % 7) - 3)
                ) if p_voided else None,
            )
        )
        for _visit in range(rng.randint(1, 4)):
            day = BASE + dt.timedelta(days=rng.randint(0, 365), hours=rng.randint(0, 8))
            created = day + dt.timedelta(hours=2)
            etype = rng.choice([21, 21, 22, 22, 21, 35, 45, 8])
            encounters.append(
                dict(
                    encounter_id=enc_id,
                    patient_id=pid,
                    visit_id=None if rng.random() < 0.2 else 100000 + enc_id,
                    encounter_datetime=day,
                    encounter_type=etype,
                    location_id=rng.choice([1, 2, 3, None]),
                    voided=1 if rng.random() < 0.02 else 0,
                    date_changed=created + dt.timedelta(days=200)
                    if rng.random() < 0.1
                    else None,
                    date_created=created,
                )
            )
            # clinical obs for this encounter
            for _ in range(rng.randint(2, 8)):
                concept, kw = _random_value(rng)
                obs_rows.append(
                    dict(
                        obs_id=obs_id,
                        person_id=pid,
                        encounter_id=enc_id,
                        obs_datetime=day,
                        concept_id=concept,
                        voided=1 if rng.random() < 0.05 else 0,
                        date_voided=None,
                        date_created=created,
                        **kw,
                    )
                )
                obs_id += 1
            # multimap stress: concept 1271 repeated with different codes
            if rng.random() < 0.4:
                for code in rng.sample(DECODE_CONCEPTS[1271], k=2):
                    obs_rows.append(
                        dict(
                            obs_id=obs_id, person_id=pid, encounter_id=enc_id,
                            obs_datetime=day, concept_id=1271,
                            value_coded=code, voided=0, date_voided=None,
                            date_created=created,
                        )
                    )
                    obs_id += 1
            # orders for this encounter
            for _ in range(rng.randint(0, 3)):
                orders.append(
                    dict(
                        order_id=order_id,
                        patient_id=pid,
                        encounter_id=enc_id,
                        concept_id=rng.choice([5497, 21, 1569, 1883, 856]),
                        location_id=rng.choice([1, 2, 3]),
                        date_activated=day,
                        voided=1 if rng.random() < 0.05 else 0,
                        date_voided=None,
                        date_created=created,
                    )
                )
                order_id += 1
            enc_id += 1

        # encounter-less obs clusters (lab results), incl. lab concepts
        for _day_i in range(rng.randint(0, 3)):
            day = BASE + dt.timedelta(days=rng.randint(0, 365), hours=9)
            created = day + dt.timedelta(days=1)
            for _ in range(rng.randint(1, 5)):
                concept = rng.choice(LAB_CONCEPTS)
                kw = (
                    dict(value_coded=rng.choice(DECODE_CONCEPTS[1271]))
                    if concept == 1271
                    else dict(value_numeric=round(rng.uniform(1, 500), 1))
                )
                obs_rows.append(
                    dict(
                        obs_id=obs_id, person_id=pid, encounter_id=None,
                        obs_datetime=day, concept_id=concept,
                        voided=1 if rng.random() < 0.05 else 0,
                        date_voided=None, date_created=created, **kw,
                    )
                )
                obs_id += 1

    # all-null value row (CASE yields NULL -> entry dropped from blob)
    obs_rows.append(
        dict(
            obs_id=obs_id, person_id=1, encounter_id=1,
            obs_datetime=BASE, concept_id=9999, voided=0,
            date_voided=None, date_created=BASE,
        )
    )
    obs_id += 1
    # integral numeric (trailing-zero rendering check)
    obs_rows.append(
        dict(
            obs_id=obs_id, person_id=1, encounter_id=1,
            obs_datetime=BASE, concept_id=6743, value_numeric=72.0,
            voided=0, date_voided=None, date_created=BASE,
        )
    )
    obs_id += 1

    # voided-after-watermark obs (retraction scenario)
    for r in rng.sample(obs_rows, k=max(3, len(obs_rows) // 50)):
        if r["voided"] == 1:
            r["date_voided"] = WATERMARK + dt.timedelta(days=3)

    obs = pd.DataFrame(obs_rows)
    for c in OBS_SCHEMA.fieldNames():
        if c not in obs.columns:
            obs[c] = None
    return dict(
        obs=obs[OBS_SCHEMA.fieldNames()],
        encounter=pd.DataFrame(encounters)[ENCOUNTER_SCHEMA.fieldNames()],
        orders=pd.DataFrame(orders)[ORDERS_SCHEMA.fieldNames()],
        person=pd.DataFrame(persons)[PERSON_SCHEMA.fieldNames()],
    )


def _random_value(rng: random.Random):
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


def to_spark(spark, pdfs: dict[str, pd.DataFrame]):
    from pyspark.sql import types as T

    schemas = dict(
        obs=OBS_SCHEMA, encounter=ENCOUNTER_SCHEMA,
        orders=ORDERS_SCHEMA, person=PERSON_SCHEMA,
    )
    out = {}
    for name, pdf in pdfs.items():
        schema = schemas[name]
        rows = []
        for rec in pdf.to_dict("records"):
            row = []
            for field in schema.fields:
                v = rec.get(field.name)
                if v is None or (not isinstance(v, str) and pd.isna(v)):
                    row.append(None)
                elif isinstance(field.dataType, (T.IntegerType, T.LongType, T.ShortType)):
                    row.append(int(v))
                elif isinstance(field.dataType, T.TimestampType) and hasattr(
                    v, "to_pydatetime"
                ):
                    row.append(v.to_pydatetime())
                else:
                    row.append(v)
            rows.append(tuple(row))
        out[name] = spark.createDataFrame(rows, schema)
    return out


def with_month(runner, table):
    """``runner.read_target(table)`` plus its storage month column: the
    snapshot's leaf-file reads carry none."""
    return runner.read_target(table).withColumn(
        runner.PARTITION_COL, p_month_of(runner._PARTITION_SRC[table])
    )


def live_file_map(runner, table):
    """{month: {relpath: (inode, mtime_ns, size)}} of the live snapshot."""
    man = runner._load_manifest(table) or {"months": {}}
    base = runner._path(table)
    out: dict = {}
    for m, files in man["months"].items():
        out[m] = {}
        for rp in files:
            st = os.stat(os.path.join(base, rp))
            out[m][rp] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out
