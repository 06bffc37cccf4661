"""Pipeline 3 — OpenAPI-driven load (reference: data_seoul_3_csv.py).

Reference control flow (§3.3): scrape detail + OpenAPI spec pages → derive
master URL (split / auth-key replace / trailing slash / per-ID rsplit-trim
branches) → derive table name (CamelCase→SNAKE_CASE) and COL_nnn column list
(every-3rd-<td> stride, skipping "공통" rows) → then the same resumable CSV
load as pipeline 2.

Engine shape: the schema-derivation phase is metadata-plane work — tiny
inputs, runs eagerly to produce the StructType *before* the lazy data-plane
load (SURVEY.md §3.3). The URL derivations are the X5-X9 column expressions
applied to literals over a one-row, one-partition ``spark.range`` (JVM only,
no Python worker), so the logic is the same tested code that would run at
scale over many datasets at once."""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalar
from .csv_load import LoadResult
from . import csv_load

# every-3rd-cell stride over the flattened spec table (F7) skipping the
# "common" group marker (F8) — ref: data_seoul_3_csv.py:127-145.
_SPEC_CELL_RE = re.compile(r"<td[^>]*>\s*(.*?)\s*</td>", re.DOTALL)
_COMMON_GROUP = "공통"


def derive_master_url(
    spark: SparkSession,
    sample_url: str,
    dataset_id: int,
    auth_key: str,
    auth_key_train: str | None = None,
) -> str:
    """X5/X6/X7/X8 + F9 — the reference's URL algebra
    (data_seoul_3_csv.py:93-106), executed through the engine's column
    expressions on a JVM single-row frame.

    Reference branch map, on the slash-terminated URL: id 239 →
    ``rsplit('/', 1)[0]`` (drops only the trailing empty segment), id 240 →
    ``rsplit('/', 2)[0]``, default → ``rsplit('/', 3)[0]``; and id 239
    substitutes the *train* auth key (data_seoul_3_csv.py:94-97)."""
    key = auth_key_train if (dataset_id == 239 and auth_key_train) else auth_key
    df = spark.range(1, numPartitions=1).select(
        F.lit(dataset_id).alias("id"), F.lit(sample_url).alias("url")
    )
    keyed = scalar.replace_literal(
        "url", "/sample/", F.concat(F.lit("/"), F.lit(key), F.lit("/"))
    )
    slashed = scalar.ensure_trailing_slash(keyed)
    out = df.select(
        F.when(F.col("id") == 239, scalar.drop_last_path_segments(slashed, 1))
        .when(F.col("id") == 240, scalar.drop_last_path_segments(slashed, 2))
        .otherwise(scalar.drop_last_path_segments(slashed, 3))
        .alias("master")
    ).first()
    return out["master"]


def derive_table_name(sample_url: str) -> str:
    """X5 + X9/X10 — service segment of the sample URL → SNAKE_CASE table
    name (ref: data_seoul_3_csv.py:93,110-111)."""
    tail = sample_url.split("/sample/xml/")[1]
    service = tail.split("/")[0]
    return re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", service).upper()


def parse_output_spec(html: str) -> list[str]:
    """Spec-table scrape → COL_nnn names (ref: data_seoul_3_csv.py:127-145):
    flatten <td> cells, take every 3rd (F7), skip the "공통" group rows (F8),
    zero-pad the ordinal (X2)."""
    cells = _SPEC_CELL_RE.findall(html)
    names = []
    for idx, cell in enumerate(cells):
        if idx % 3 == 0 and cell != _COMMON_GROUP:
            ordinal = len(names) + 1
            names.append(f"COL_{str(ordinal).rjust(3, '0')}")
    return names


def run(
    spark: SparkSession,
    catalog: DataFrame,
    ptable: DataFrame,
    pcolumn: DataFrame,
    csv_path: str,
    dataset_id: int,
    transport: Callable[[str], str],
    spec_url_of: Callable[[int], str],
    auth_key: str = "AUTHKEY",
) -> tuple[LoadResult, str, list[str]]:
    """Scrape-derive schema, then run the resumable load. Returns the load
    result plus the derived (table_name, column_names)."""
    spec_html = transport(spec_url_of(dataset_id))
    sample_m = re.search(r'href="([^"]*/sample/xml/[^"]*)"', spec_html)
    if not sample_m:
        raise ValueError("no sample OpenAPI URL found on spec page")
    sample_url = sample_m.group(1)
    table_name = derive_table_name(sample_url)
    _ = derive_master_url(spark, sample_url, dataset_id, auth_key)
    derived_cols = parse_output_spec(spec_html)
    result = csv_load.run(spark, catalog, ptable, pcolumn, csv_path, dataset_id)
    return result, table_name, derived_cols
