"""Pipeline 2 — resumable CSV load (reference: data_seoul_2_csv_noopenapi.py).

Reference control flow (§3.2): catalog scan (site=1, Y-flag, IN-list) → per
dataset: derive NLDATA_/TMP_ names → latest checkpoint row → open CSV →
ordered column metadata → per-line INSERT with row numbers and resume filter
→ audit UPDATE.

Engine shape: the catalog lookups are single-stage driver fetches (the
checkpoint is a filter → ``desc(id)`` → ``first()``; the column metadata is
collected once and sorted on the driver, since it is catalog-sized), the
load is one lazy plan per dataset (C4→S4→F6→J3→C6), and the audit is an
in-place ``when(id == physical_id)`` column update on the audit frame (C8),
so the lineage threaded from dataset to dataset stays one leaf with no
join. Data never loops on the driver."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.csv_ingest import load_csv_with_catalog_schema


@dataclass
class LoadResult:
    staging: DataFrame  # typed rows that were (newly) loaded
    ptable_updated: DataFrame  # audit table after the C8 update
    table_name: str
    loaded_rows: int


def staging_table_name(dataset_id: int) -> str:
    """NLDATA_<zero-padded id> (ref: data_seoul_2_csv_noopenapi.py:68)."""
    return f"NLDATA_{str(dataset_id).rjust(6, '0')}"


def latest_checkpoint(ptable: DataFrame, dataset_id: int) -> tuple[int, int]:
    """C2 — newest MANAGE_PHYSICAL_TABLE row for the dataset
    (ref: ORDER BY ID DESC + fetchall()[0], data_seoul_2_csv_noopenapi.py:
    74-79). Returns (manage_table_id, start_idx); one take-ordered stage."""
    row = (
        ptable.filter(F.col("data_basic_id") == dataset_id)
        .orderBy(F.desc("id"))
        .select("id", "start_idx")
        .first()
    )
    if row is None:
        raise ValueError(f"no physical table registered for dataset {dataset_id}")
    return int(row["id"]), int(row["start_idx"])


def ordered_columns(pcolumn: DataFrame, physical_id: int) -> list[tuple[str, str]]:
    """C3 — ordered (name, type) pairs for one physical table
    (ref: data_seoul_2_csv_noopenapi.py:89-96). Catalog-sized, so it is
    collected unordered and sorted on the driver: a Spark ``orderBy`` would
    add a range-partition sampling job."""
    rows = (
        pcolumn.filter(F.col("data_physical_id") == physical_id)
        .select("physical_column_order", "physical_column_name", "physical_column_type")
        .collect()
    )
    return [(name, typ) for _, name, typ in sorted(rows, key=lambda r: r[0])]


def run(
    spark: SparkSession,
    catalog: DataFrame,
    ptable: DataFrame,
    pcolumn: DataFrame,
    csv_path: str,
    dataset_id: int,
) -> LoadResult:
    """Load one dataset's CSV with resume semantics + audit bookkeeping."""
    physical_id, start_idx = latest_checkpoint(ptable, dataset_id)
    cols = ordered_columns(pcolumn, physical_id)
    staging = load_csv_with_catalog_schema(
        spark,
        csv_path,
        column_names=[c for c, _ in cols],
        column_types=[t for _, t in cols],
        start_idx=start_idx,
    )
    loaded = staging.count()
    # C8 audit: inserted flag, server-side now, cumulative row count
    # (ref: list_total_count seeded with start_idx,
    #  data_seoul_2_csv_noopenapi.py:112,133-140), set in place on the
    # checkpoint row as one projection.
    hit = F.col("id") == physical_id
    new = {
        "data_inserted_yn": F.lit("Y"),
        "data_insert_date": F.current_timestamp(),
        "data_insert_row": F.lit(start_idx + loaded).cast("long"),
    }
    updated = ptable.withColumns(
        {c: F.when(hit, v).otherwise(F.col(c)) for c, v in new.items()}
    )
    return LoadResult(staging, updated, staging_table_name(dataset_id), loaded)
