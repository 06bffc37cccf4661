"""Seeded input generators for the benchmark.

``write_tables`` writes the ten analytical tables (the FIXTURES.md §A
schemas) as one parquet file each. ``catalog_fixtures`` builds the catalog
rows and raw CSV datasets of FIXTURES.md §B for the ingest workload. Both
depend only on their arguments: the same seed gives byte-identical output.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generated value changes, so a cached copy is rebuilt.
TABLES_VERSION = "tables-1"

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "window order data column join small line customer query filter big group "
    "sort stream vector"
).split()
_LANGS = np.array(["en", "en", "de", "es", "fr", "zh"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_ADJ = np.array(["small", "red", "blue", "hot", "cold", "big", "green", "old"])
_NOUN = np.array(["ring", "widget", "bolt", "gear", "plate", "pipe", "nut", "valve"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.08:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and r < 0.16:  # near duplicate: one word replaced
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return texts


def tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """The ten tables at ``scale`` (1.0 = 6M lineitem rows, as TPC-H sf1)."""
    rng = np.random.default_rng(seed)
    n_sup, n_part, n_cust = int(10000 * scale), int(200000 * scale), int(150000 * scale)
    n_ord, n_li, n_ev = int(1500000 * scale), int(6000000 * scale), int(1000000 * scale)
    n_doc, n_emb = max(500, int(50000 * scale)), max(500, int(20000 * scale))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_sup, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_sup).astype(np.int32)),
            "s_acctbal": _money(rng, n_sup, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(rng.choice(_ADJ, n_part), " "),
                                  rng.choice(_NOUN, n_part)).tolist(),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_sup, n_li).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900, 105000),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li).tolist(),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_li).tolist(),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }),
    }
    # Irregular, strictly increasing event times over 30 days.
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev)
    ts = (np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps)).astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = _documents(rng, n_doc)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return out


def write_tables(out_dir: str, scale: float, seed: int) -> None:
    """Write the tables once; a ``_complete`` marker names what was built."""
    marker = os.path.join(out_dir, "_complete")
    stamp = f"{TABLES_VERSION} scale={scale} seed={seed}"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(scale, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as fh:
        fh.write(stamp)


# ---------------------------------------------------------------------------
# Catalog fixtures (FIXTURES.md §B) for the ingest workload.
# ---------------------------------------------------------------------------

_TYPES = ("VARCHAR", "NUMBER", "DATE")
# Column counts cycle per dataset. Widths and the type mix are fixed, so the
# seed changes values, order and row counts but not the amount of work.
_WIDTHS = (4, 12, 8)


@dataclass
class Dataset:
    id: int
    kind: str  # "CSV" or "OpenAPI"
    rows: int  # data lines in the CSV file
    columns: list[tuple[str, str]]  # (physical name, catalog type), in order
    start_idx: int  # resume checkpoint of the newest physical-table row
    physical_id: int  # id of that newest manage_physical_table row
    csv_path: str = ""

    @property
    def expected_rows(self) -> int:
        return max(0, self.rows - self.start_idx)


@dataclass
class Catalog:
    datasets: list[Dataset]
    basic_info: list[tuple]
    ptable: list[tuple]
    pcolumn: list[tuple]
    pending_ids: list[int] = field(default_factory=list)  # rows enrich fills


def _column(rng, ctype, rows):
    """One CSV column of ``rows`` string cells for a catalog type."""
    if ctype == "NUMBER":
        return np.char.mod("%.2f", rng.integers(0, 100000, rows) / 100)
    if ctype == "DATE":
        days = np.datetime64("2024-01-01") + rng.integers(0, 366, rows)
        return np.datetime_as_string(days, unit="D")
    return np.char.add("v", rng.integers(0, 10**6, rows).astype(str))


def catalog_fixtures(
    seed: int, out_dir: str, small: int, small_rows: int, large: int, large_rows: int
) -> Catalog:
    """``small`` datasets of ``small_rows`` ± 10% lines and ``large`` of
    ``large_rows``, each a CSV under ``out_dir``. Every third dataset,
    starting with the second, is OpenAPI-typed. Small datasets' checkpoints
    cycle through 0, past-end and mid-file; large ones resume mid-file."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    datasets, basic, ptable, pcolumn, pending = [], [], [], [], []
    pid = col_id = 0
    n = small + large
    for k in range(n):
        ds_id = 1000 + 7 * k + int(rng.integers(0, 7))
        rows = large_rows if k >= small else int(small_rows * rng.uniform(0.9, 1.1))
        width = _WIDTHS[k % len(_WIDTHS)]
        types = rng.permutation([_TYPES[j % len(_TYPES)] for j in range(width)])
        cols = [(f"COL_{j + 1:03d}", str(t)) for j, t in enumerate(types)]
        # Older checkpoints first; the newest (highest id) row is the one used.
        history = [0] * int(rng.integers(1, 3))
        start = rows // 2 if k >= small else (0, rows + 5, rows // 2)[k % 3]
        history.append(start)
        for s in history:
            pid += 1
            ptable.append((pid, ds_id, s, "N", None, s))
        kind = "OpenAPI" if k % 3 == 1 else "CSV"
        category = None if k % 2 == 0 else ("교통", "버스")
        if category is None:
            pending.append(ds_id)
        basic.append((ds_id, 1, f"dataset-{ds_id}", f"Key{ds_id}Data", kind,
                      f"http://data.example/{ds_id}", "Y", *(category or (None, None))))
        for j, (name, ctype) in enumerate(cols):
            col_id += 1
            pcolumn.append((col_id, pid, f"열{j + 1}", name, ctype, j + 1))
        path = os.path.join(out_dir, f"TMP_{ds_id}.csv")
        cells = [_column(rng, t, rows) for _, t in cols]
        lines = [",".join(f"h{j}" for j in range(width))]
        lines += [",".join(r) for r in zip(*(c.tolist() for c in cells))]
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        datasets.append(Dataset(ds_id, kind, rows, cols, start, pid, path))
    # Catalog rows the loop never loads: another site, and a disabled one.
    basic.append((9001, 2, "other-site", "OtherKey", "CSV", "http://y/9001", "Y", None, None))
    basic.append((9002, 1, "disabled", "OffKey", "CSV", "http://y/9002", "N", "문화", "공연"))
    return Catalog(datasets, basic, ptable, pcolumn, pending)
