"""Data-quality checks — the reference's dbt tests as engine assertions.

Each check is a predicate that is true on a VIOLATING row (the dbt
convention: a test passes when its query returns zero rows);
`run_quality_checks` counts all of them in one pass.

Reference tests (SURVEY.md §2.6):
- severity domain: dbt_project/tests/generic/severity_levels.sql:1-6
- status domain:   dbt_project/tests/generic/status.sql:1-6
- not-null contract columns: dbt_project/models/schema.yaml:83-178
- finding_uid regex CHECK (optional, pattern-driven):
  dbt_project/macros/add_finding_uid_constraint.sql:59-95
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import VALID_SEVERITIES, VALID_STATUSES

STAGING_NOT_NULL_COLUMNS = (
    "finding_uid",
    "finding_severity",
    "finding_status",
    "staging_loaded_at",
)


def _violations(
    columns: list[str], uid_pattern: str | None
) -> dict[str, Column]:
    """Check name → violation predicate over a staging frame with
    ``columns``. The uid regex CHECK runs only with a pattern (the
    reference's finding_uid_format_pattern var defaults to null,
    dbt_project/dbt_project.yml:27-31)."""
    checks = {
        "severity_domain": ~F.col("finding_severity").isin(*VALID_SEVERITIES)
        | F.col("finding_severity").isNull(),
        "status_domain": ~F.col("finding_status").isin(*VALID_STATUSES)
        | F.col("finding_status").isNull(),
    }
    for c in STAGING_NOT_NULL_COLUMNS:
        if c in columns:
            checks[f"not_null_{c}"] = F.col(c).isNull()
    if uid_pattern:
        checks["uid_format"] = ~F.col("finding_uid").rlike(uid_pattern) | F.col(
            "finding_uid"
        ).isNull()
    return checks


def run_quality_checks(
    stg_df: DataFrame, uid_pattern: str | None = None
) -> dict[str, int]:
    """Count violations per check in ONE job: a single aggregate of
    conditional sums instead of N separate scans."""
    checks = _violations(stg_df.columns, uid_pattern)
    row = stg_df.agg(
        *[F.sum(bad.cast("long")).alias(name) for name, bad in checks.items()]
    ).first()
    return {name: int(row[name] or 0) for name in checks}


def reconciliation_violations(
    landing: DataFrame, staging: DataFrame
) -> DataFrame:
    """Landing rows the staging table SHOULD contain but doesn't — the
    cross-table completeness audit for the incremental pipeline.

    The staging contract (plans/staging.py): every landing row with
    ``loaded_at`` ≤ the staging high-water mark has exactly one staged row
    keyed by (finding_uid, staging_loaded_at = loaded_at). A non-empty
    result means the incremental filter skipped rows — e.g. a landing
    backfill wrote rows with loaded_at BELOW the current HWM, which the
    ``loaded_at > hwm`` filter will never pick up (the classic silent gap
    of HWM pipelines; the reference's dbt incremental model has the same
    hazard).

    Scale: one anti-join on (finding_uid, loaded_at) — staging side
    projected to its key columns only, so the shuffle carries keys, not
    the wide rows; the HWM is a one-row broadcast aggregate. Returns
    violating landing keys (dbt convention: empty = pass).
    """
    hwm = staging.agg(F.max("staging_loaded_at").alias("_hwm"))
    staged_keys = staging.select(
        "finding_uid", F.col("staging_loaded_at").alias("loaded_at")
    )
    # NULL HWM (staging staged NOTHING yet) must not vacuously pass: with
    # a non-empty landing every row is missing, so treat them all as due —
    # a dead staging load surfaces as violations instead of silence
    due = (
        landing.select("finding_uid", "loaded_at")
        .join(F.broadcast(hwm))
        .filter(F.col("_hwm").isNull() | (F.col("loaded_at") <= F.col("_hwm")))
        .drop("_hwm")
    )
    return due.join(staged_keys, ["finding_uid", "loaded_at"], "left_anti")
