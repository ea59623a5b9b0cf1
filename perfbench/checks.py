"""Correctness checks, run outside the timed region.

``key_mismatches`` derives each target's expected row count and
primary-key set from the generated sources with DuckDB, following the
reference semantics the stage plans implement, and compares them with
the targets the engine committed.  ``content_hash`` is an
order-insensitive full-row hash used to compare two storage roots.
"""

from __future__ import annotations

from mrsboraetl_spark.config import (
    CLINICAL_ENCOUNTER_TYPES,
    LAB_CONCEPTS,
    SYNTHETIC_ENCOUNTER_OFFSET,
    TESTS_ORDERED_CONCEPT,
    TESTS_ORDERED_NONE,
)

TARGETS = (
    "flat_obs", "flat_orders", "flat_lab_obs", "flat_visit_summary",
    "flat_latest_hiv_summary",
)
PRIMARY_KEYS = {
    "flat_obs": ("person_id", "encounter_id"),
    "flat_orders": ("person_id", "encounter_id"),
    "flat_lab_obs": ("person_id", "encounter_id"),
    "flat_visit_summary": ("person_id", "encounter_id"),
    "flat_latest_hiv_summary": ("person_id",),
}

_LIVE_PERSON = "person_id NOT IN (SELECT person_id FROM person WHERE voided = 1)"
_CLINICAL = f"""
    SELECT o.person_id, o.encounter_id::BIGINT AS encounter_id,
           e.encounter_type
    FROM obs o JOIN encounter e USING (encounter_id)
    WHERE o.voided = 0 AND e.voided = 0
    GROUP BY ALL
"""
_EXPECTED = {
    "flat_obs": f"""
        SELECT person_id, encounter_id FROM ({_CLINICAL}) WHERE {_LIVE_PERSON}
        UNION ALL
        SELECT person_id, min(obs_id) + {SYNTHETIC_ENCOUNTER_OFFSET}
        FROM obs WHERE voided = 0 AND encounter_id IS NULL AND {_LIVE_PERSON}
        GROUP BY person_id, obs_datetime
    """,
    "flat_orders": f"""
        SELECT * FROM (
            SELECT max(patient_id) AS person_id, encounter_id::BIGINT
            FROM orders WHERE voided = 0 AND encounter_id > 0
            GROUP BY encounter_id
        ) WHERE {_LIVE_PERSON}
    """,
    "flat_lab_obs": f"""
        SELECT person_id, min(obs_id) + {SYNTHETIC_ENCOUNTER_OFFSET}
        FROM obs
        WHERE voided = 0
          AND concept_id IN ({", ".join(map(str, LAB_CONCEPTS))})
          AND NOT (concept_id = {TESTS_ORDERED_CONCEPT}
                   AND value_coded = {TESTS_ORDERED_NONE})
        GROUP BY person_id, obs_datetime::DATE
    """,
    "flat_visit_summary": f"""
        SELECT c.person_id, c.encounter_id FROM ({_CLINICAL}) c
        JOIN person p USING (person_id)
        WHERE c.encounter_type IN ({", ".join(map(str, CLINICAL_ENCOUNTER_TYPES))})
          AND c.{_LIVE_PERSON}
    """,
}
_EXPECTED["flat_latest_hiv_summary"] = (
    f"SELECT DISTINCT person_id FROM ({_EXPECTED['flat_visit_summary']})"
)


def expected_keys(source_paths: dict[str, str]) -> dict[str, set[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for name, path in source_paths.items():
            con.execute(
                f"CREATE VIEW {name} AS "
                f"SELECT * FROM read_parquet('{path}/*.parquet')"
            )
        return {
            t: {tuple(int(v) for v in row) for row in con.sql(sql).fetchall()}
            for t, sql in _EXPECTED.items()
        }
    finally:
        con.close()


def key_mismatches(runner, source_paths: dict[str, str]) -> list[str]:
    """One message per target whose row count or primary-key set
    differs from what the sources imply; empty when all five match."""
    expected = expected_keys(source_paths)
    errors = []
    for t in TARGETS:
        df = runner.read_target(t)
        if df is None:
            errors.append(f"{t}: missing")
            continue
        rows = [
            tuple(int(v) for v in r)
            for r in df.select(*PRIMARY_KEYS[t]).collect()
        ]
        got = set(rows)
        if len(rows) != len(got):
            errors.append(f"{t}: {len(rows) - len(got)} duplicate keys")
        if got != expected[t]:
            errors.append(
                f"{t}: {len(got - expected[t])} unexpected and "
                f"{len(expected[t] - got)} missing keys"
            )
    return errors


def content_hash(df) -> tuple[int, int]:
    """(row count, sum of per-row 64-bit hashes) over every column, map
    columns compared as sorted entry lists: equal for equal row
    multisets whatever the row, column or map-entry order."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        if isinstance(f.dataType, T.MapType):
            c = F.array_sort(F.map_entries(c))
        cols.append(c.alias(f.name))
    h = F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return int(row[0]), int(row[1] or 0)


def root_hashes(runner) -> dict[str, tuple[int, int]]:
    return {t: content_hash(runner.read_target(t)) for t in TARGETS}
