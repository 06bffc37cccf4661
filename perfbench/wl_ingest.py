"""Ingest workload: the paper's catalog-driven batch pipeline over seeded
catalog fixtures. Per dataset it runs the resumable CSV load (or the
OpenAPI-typed load, whose spec pages a transport serves in-process), appends
the staged rows to a parquet sink and threads the updated audit frame into
the next dataset. Each pass ends with one category enrichment and the
catalog and audit overwrites."""

from __future__ import annotations

import os

from pins import INGEST_LARGE, INGEST_LARGE_ROWS, INGEST_SMALL, INGEST_SMALL_ROWS

BASIC_DDL = (
    "id long, collect_site_id int, data_name string, data_origin_key string,"
    "collect_data_type string, collect_url_link string, is_collect_yn string,"
    "category_big string, category_small string"
)
PTABLE_DDL = (
    "id long, data_basic_id long, start_idx long, data_inserted_yn string,"
    "data_insert_date timestamp, data_insert_row long"
)
PCOLUMN_DDL = (
    "id long, data_physical_id long, logical_column_korean string,"
    "physical_column_name string, physical_column_type string,"
    "physical_column_order int"
)
SPEC_PREFIX = "http://openapi.example/spec/"


def service_name(ds_id: int) -> str:
    return f"TbSeoulData{ds_id}Info"


def expected_small_category(origin_key: str) -> str:
    return f"분류{origin_key}"


class SiteTransport:
    """In-process stand-in for the portal: OpenAPI spec pages for spec URLs,
    detail pages with the category markers otherwise. Counts pages served
    in a Spark accumulator, so fetches made on Python workers count too."""

    def __init__(self, spec_columns: dict[int, int], pages):
        self.spec_columns = spec_columns  # dataset id -> spec column count
        self.pages = pages

    def __call__(self, url: str) -> str:
        self.pages.add(1)
        if url.startswith(SPEC_PREFIX):
            ds_id = int(url[len(SPEC_PREFIX):])
            rows = "<tr><td>공통</td><td>공통설명</td><td>RESULT</td></tr>"
            for i in range(self.spec_columns[ds_id]):
                rows += f"<tr><td>{i + 1}</td><td>항목{i + 1}</td><td>F{i + 1}</td></tr>"
            return (
                f'<html><body><p><a href="http://openapi.example/sample/xml/'
                f'{service_name(ds_id)}/1/5/">sample</a></p>'
                f"<table>{rows}</table></body></html>"
            )
        key = url.rsplit("/", 1)[-1]
        return (
            '<html><body><strong class="side-detail-ctg">\t교통\n</strong>'
            f'<span class="side-detail-stitle"><a href="#">'
            f"{expected_small_category(key)}</a></span></body></html>"
        )


class Ingest:
    def __init__(self, ctx):
        import gen

        self.ctx = ctx
        spark = ctx.spark
        self.cat = gen.catalog_fixtures(
            ctx.seed, os.path.join(ctx.work, "fixtures"),
            INGEST_SMALL, INGEST_SMALL_ROWS, INGEST_LARGE, INGEST_LARGE_ROWS,
        )
        self.basic = spark.createDataFrame(self.cat.basic_info, BASIC_DDL)
        self.ptable = spark.createDataFrame(self.cat.ptable, PTABLE_DDL)
        self.pcolumn = spark.createDataFrame(self.cat.pcolumn, PCOLUMN_DDL)
        self.pages = spark.sparkContext.accumulator(0)
        self.transport = SiteTransport(
            {d.id: len(d.columns) for d in self.cat.datasets}, self.pages
        )
        self.op_count = len(self.cat.datasets) + 2
        self.input_bytes = sum(os.path.getsize(d.csv_path) for d in self.cat.datasets)
        self.per_pass: dict[int, dict] = {}

    def sink(self, pass_no: int) -> str:
        return os.path.join(self.ctx.work, "sink", f"p{pass_no}")

    def warmup(self, tracer) -> tuple[float, list[str]]:
        """Pass 0 over the OpenAPI-typed dataset only, whose load runs the
        CSV load too: it warms every code path the passes use."""
        ops = self.run_pass(tracer, 0, [d for d in self.cat.datasets if d.kind == "OpenAPI"])
        return sum(dt for _, dt, _ in ops), [f"pass 0 {op}: {e}" for op, _, e in ops if e]

    def run_pass(self, tracer, pass_no: int, datasets=None) -> list[tuple[str, float, str | None]]:
        from seoul_big_data_spark.pipelines import category_enrich, csv_load, openapi_load
        from seoul_big_data_spark.sources import writers

        spark, clock, sink = self.ctx.spark, self.ctx.clock, self.sink(pass_no)
        out, rows_loaded = [], 0
        pages0 = self.pages.value
        ptable = self.ptable
        for ds in datasets or self.cat.datasets:
            op, err = f"ds{ds.id}", None
            t0 = clock()
            try:
                with tracer.span("op", op=op):
                    if ds.kind == "OpenAPI":
                        res, table, cols = openapi_load.run(
                            spark, self.basic, ptable, self.pcolumn, ds.csv_path, ds.id,
                            transport=self.transport,
                            spec_url_of=lambda i: f"{SPEC_PREFIX}{i}",
                        )
                        want = [f"COL_{i + 1:03d}" for i in range(len(ds.columns))]
                        if table != f"TB_SEOUL_DATA{ds.id}_INFO" or cols != want:
                            err = f"derived {table} {cols}"
                    else:
                        res = csv_load.run(
                            spark, self.basic, ptable, self.pcolumn, ds.csv_path, ds.id
                        )
                    writers.append_table(res.staging, os.path.join(sink, res.table_name))
                ptable = res.ptable_updated
                rows_loaded += res.loaded_rows
                if res.loaded_rows != ds.expected_rows:
                    err = f"loaded {res.loaded_rows} rows, expected {ds.expected_rows}"
            except Exception as e:  # noqa: BLE001 — a failing op is a result
                err = f"{type(e).__name__}: {e}"[:300]
            out.append((op, clock() - t0, err))

        t0, err = clock(), None
        try:
            with tracer.span("op", op="enrich"):
                with tracer.span("pipelines.category_enrich", "enrich"):
                    enriched = category_enrich.run(self.basic, self.transport)
                    writers.overwrite_table(enriched, os.path.join(sink, "catalog"))
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"[:300]
        out.append(("enrich", clock() - t0, err))

        t0, err = clock(), None
        try:
            with tracer.span("op", op="audit"):
                writers.overwrite_table(ptable, os.path.join(sink, "audit"))
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"[:300]
        out.append(("audit", clock() - t0, err))

        self.per_pass[pass_no] = {
            "rows_loaded": rows_loaded,
            "pages": self.pages.value - pages0,
            "audit_plan_nodes": _plan_nodes(ptable) if self.ctx.traced else 0,
        }
        return out

    def final_checks(self) -> list[str]:
        """Read the last pass's sinks back: staged rows and ID ranges per
        dataset, the audit rows, and the enriched catalog."""
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        last = max(self.per_pass)
        sink = self.sink(last)
        bad = []
        for ds in self.cat.datasets:
            path = os.path.join(sink, f"NLDATA_{ds.id:06d}")
            parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
            if not parts:
                got = (0, None, None)
            else:
                r = spark.read.parquet(path).agg(
                    F.count("*"), F.min("ID"), F.max("ID")
                ).first()
                got = (r[0], r[1], r[2])
            want = (ds.expected_rows, None, None)
            if ds.expected_rows:
                want = (ds.expected_rows, ds.start_idx + 1, ds.rows)
            if got != want:
                bad.append(f"final ds{ds.id}: staged (rows, min ID, max ID) {got} != {want}")
        audit = {
            r["id"]: (r["data_inserted_yn"], r["data_insert_row"])
            for r in spark.read.parquet(os.path.join(sink, "audit")).collect()
        }
        newest = {ds.physical_id: ds for ds in self.cat.datasets}
        for pid, yn_row in sorted(audit.items()):
            ds = newest.get(pid)
            want = ("Y", ds.start_idx + ds.expected_rows) if ds else ("N", yn_row[1])
            if yn_row != want:
                bad.append(f"final audit: physical id {pid} {yn_row} != {want}")
        if len(audit) != len(self.cat.ptable):
            bad.append(f"final audit: {len(audit)} rows != {len(self.cat.ptable)}")
        cats = {
            r["id"]: (r["category_big"], r["category_small"], r["data_origin_key"])
            for r in spark.read.parquet(os.path.join(sink, "catalog")).collect()
        }
        for ds_id in self.cat.pending_ids:
            big, small, key = cats[ds_id]
            if (big, small) != ("교통", expected_small_category(key)):
                bad.append(f"final enrich: id {ds_id} got {(big, small)}")
        return bad

    def install_tracing(self, tracer) -> None:
        from seoul_big_data_spark.pipelines import csv_load, openapi_load
        from seoul_big_data_spark.sources import csv_ingest, writers

        tracer.wrap(csv_load, "run", "pipelines.csv_load.run", "load")
        tracer.wrap(openapi_load, "run", "pipelines.openapi_load.run", "openapi")
        tracer.wrap(csv_load, "latest_checkpoint", "pipelines.catalog", "catalog")
        tracer.wrap(csv_load, "ordered_columns", "pipelines.catalog", "catalog")
        tracer.wrap(csv_ingest, "load_csv_with_catalog_schema", "sources.csv_ingest.load")
        tracer.wrap(writers, "append_table", "sources.writers.write", "write")
        tracer.wrap(writers, "overwrite_table", "sources.writers.write", "write")

    def layer_metrics(self, tracer, pass_no: int, ex: dict) -> dict:
        pp = self.per_pass[pass_no]
        ds_ops = {f"ds{d.id}" for d in self.cat.datasets}
        ds_jobs = sum(n for (op, _), n in ex["jobs_by_op_phase"].items() if op in ds_ops)
        written, files = 0, 0
        for base, _dirs, names in os.walk(self.sink(pass_no)):
            for f in names:
                if f.endswith(".parquet"):
                    written += os.path.getsize(os.path.join(base, f))
                    files += 1
        return {
            "pipelines.run_s": tracer.total(
                ("pipelines.csv_load.run", "pipelines.openapi_load.run"), pass_no, True
            ),
            "pipelines.catalog_s": tracer.total("pipelines.catalog", pass_no),
            "pipelines.jobs_per_dataset": ds_jobs / len(ds_ops),
            "pipelines.audit_plan_nodes": pp["audit_plan_nodes"],
            "pipelines.openapi_derive_s": tracer.self_time("pipelines.openapi_load.run", pass_no),
            "pipelines.enrich_s": tracer.total("pipelines.category_enrich", pass_no),
            "sources.writers.write_s": tracer.total("sources.writers.write", pass_no),
            "sources.writers.mb_written": written / (1024 * 1024),
            "sources.writers.bytes_per_input_byte": written / self.input_bytes,
            "sources.writers.files_written": files,
            "sources.csv_ingest.rows_loaded": pp["rows_loaded"],
            "sources.html_fetch.pages": pp["pages"],
        }


def _plan_nodes(df) -> int:
    """Exact node count of the analyzed logical plan: one numbered line per
    node in Spark's numbered tree string."""
    tree = df._jdf.queryExecution().analyzed().numberedTreeString()
    return sum(1 for line in tree.splitlines() if line[:1].isdigit())
