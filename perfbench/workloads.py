"""The benchmark's workloads. Each calls the program only through its
public entry points (``plans.pipeline.run_pipeline`` with sources from
``sdk_sources`` or ``io.readers.load_table``, and the query registry's
``spec.fn`` followed by a ``noop`` write) and checks every output.

An *op* is one table for the ETL workloads and one query for
``query_mix``; a *pass* runs every op of the workload once.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from dataclasses import dataclass, field

# Ticker pool for etl_tickers; the seed picks from it.
TICKERS = (
    "ACB BID CTG FPT GAS HPG MBB MSN MWG PNJ POW REE SAB SSI STB TCB VCB VHM VIC VNM"
).split()
N_TICKERS = 1
TICKER_TABLES = 2  # of the ticker's three statement tables, in sdk_sources order
BULK_TABLES = ("lineitem", "orders", "customer")
FAULT_SHARE = 1 / 500
# Read-only mix over the shared tables; each query is here for a layer
# (see NOTES.md): codegen aggregation, pinned label propagation over a
# self-join, min-label and star-alternation connected components, and
# the pandas/Arrow worker behind the audio codec.
QUERY_MIX = (
    "q1_pricing_summary",
    "graph_label_propagation",
    "dedup_pipeline_end_to_end",
    "multimodal_audio_dedup_pipeline_e2e",
)
ORACLE_HASHES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_hashes.json")


@dataclass
class Op:
    """One measured operation. Times are epoch seconds."""

    name: str
    start: float
    end: float
    build_end: float  # when the program's plan construction returned
    rows: int = 0  # rows delivered to the sink
    error: str = ""
    group: str = ""  # Spark job group, set only in traced passes

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def build_s(self) -> float:
        return self.build_end - self.start


@dataclass
class Pass:
    ops: list[Op]
    wall_s: float
    sink: dict = field(default_factory=dict)  # mock endpoint summary (ETL)

    @property
    def rows(self) -> int:
        return sum(op.rows for op in self.ops)


def describe(e: Exception) -> str:
    first = str(e).strip().splitlines()[:1]
    return f"{type(e).__name__}: {first[0][:200] if first else ''}"


def value_hash(columns, rows) -> str:
    """sha256 of the registry's canonical form (sorted columns, sorted
    stringified rows), the same canonicalization the correctness gate
    uses."""
    from scripts.check_correctness import canon_rows

    cols, canon = canon_rows(list(columns), rows)
    return hashlib.sha256(json.dumps([cols, canon]).encode()).hexdigest()


class Workload:
    checks_every_pass = True  # False: only warm-up passes verify outputs

    def run_pass(self, spark, tag: str, check: bool, traced: bool) -> Pass:
        raise NotImplementedError


class QueryMix(Workload):
    checks_every_pass = False

    def __init__(self, data_dir: str):
        from supabase_etl_spark.queries import load_all

        registry = load_all()
        self.specs = [registry[q] for q in QUERY_MIX]
        self.data_dir = data_dir
        with open(ORACLE_HASHES) as fh:
            self.expected = json.load(fh)["queries"]

    def _run(self, spark, spec, tag: str, check: bool, traced: bool) -> Op:
        group = f"{tag}/{spec.name}" if traced else ""
        if traced:
            spark.sparkContext.setJobGroup(group, spec.name)
        spark.catalog.clearCache()
        start = time.time()
        op = Op(spec.name, start, start, start, group=group)
        try:
            df = spec.fn(spark, self.data_dir)
            op.build_end = time.time()
            if check:
                rows = [tuple(r) for r in df.collect()]
                op.end = time.time()
                got = value_hash(df.columns, rows)
                if got != self.expected[spec.name]["hash"]:
                    op.error = f"value hash {got[:12]} != oracle {self.expected[spec.name]['hash'][:12]}"
            else:
                df.write.format("noop").mode("overwrite").save()
                op.end = time.time()
            op.rows = self.expected[spec.name]["rows"]
        except Exception as e:  # a failing query is a failed op, never a crash
            op.end = time.time()
            op.build_end = max(op.build_end, start)
            op.error = describe(e)
        return op

    def run_pass(self, spark, tag: str, check: bool, traced: bool) -> Pass:
        t0 = time.time()
        ops = [self._run(spark, s, tag, check, traced) for s in self.specs]
        return Pass(ops, time.time() - t0)


class Etl(Workload):
    """One ``run_pipeline`` call per pass with CSV, REST upsert and
    storage upload to the benchmark's mock endpoint. Per-table op
    boundaries come from the source callables, which the pipeline calls
    once per table, in order, on the driver thread."""

    def __init__(self, name: str, sources: dict, expected_rows: dict, work_dir: str, mock):
        self.sources = sources
        self.expected_rows = expected_rows
        self.csv_dir = os.path.join(work_dir, f"csv-{name}")
        self.mock = mock

    def _config(self, sources):
        from supabase_etl_spark.plans.pipeline import PipelineConfig

        return PipelineConfig(
            sources=sources,
            csv_dir=self.csv_dir,
            rest_base_url=f"{self.mock.url}/rest/v1",
            rest_api_key="bench-key",
            storage_base_url=f"{self.mock.url}/storage/v1",
        )

    def run_pass(self, spark, tag: str, check: bool, traced: bool) -> Pass:
        from supabase_etl_spark.plans.pipeline import run_pipeline

        tables = list(self.sources)
        ops: list[Op] = []

        def wrap(table, fn):
            def source(spark_):
                group = f"{tag}/{table}" if traced else ""
                if traced:
                    spark_.sparkContext.setJobGroup(group, table)
                spark_.catalog.clearCache()
                now = time.time()
                if ops:
                    ops[-1].end = now
                op = Op(table, now, now, now, group=group)
                ops.append(op)
                df = fn(spark_)
                op.build_end = time.time()
                return df

            return source

        self.mock.begin_pass()
        t0 = time.time()
        error = ""
        try:
            run_pipeline(spark, self._config({t: wrap(t, self.sources[t]) for t in tables}))
        except Exception as e:  # reported as a failed op below
            error = describe(e)
        t1 = time.time()
        if ops:
            ops[-1].end = t1
        sink = self.mock.end_pass()
        started = len(ops)
        ops += [Op(t, t1, t1, t1, error="not reached") for t in tables[started:]]
        if error:  # the table being loaded when the pipeline raised
            ops[max(started - 1, 0)].error = error
        for op in ops:
            op.rows = sink["tables"].get(op.name, {}).get("rows", 0)
            op.error = op.error or self._verify(op.name, sink)
        return Pass(ops, t1 - t0, sink)

    def _verify(self, table: str, sink: dict) -> str:
        """Distinct REST rows, accepted REST rows, CSV rows and the source
        row count must agree; the stored object must equal the CSV."""
        want = self.expected_rows[table]
        rest = sink["tables"].get(table, {"rows": 0, "distinct": 0})
        csv_dir = os.path.join(self.csv_dir, table)
        parts = [f for f in os.listdir(csv_dir) if f.endswith(".csv")] if os.path.isdir(csv_dir) else []
        if len(parts) != 1:
            return f"expected one CSV part, found {len(parts)}"
        with open(os.path.join(csv_dir, parts[0]), "rb") as fh:
            csv = fh.read()
        csv_rows = csv.count(b"\n") - 1
        problems = []
        if rest["distinct"] != want:
            problems.append(f"{rest['distinct']} distinct REST rows")
        if rest["rows"] != rest["distinct"]:
            problems.append(f"{rest['rows'] - rest['distinct']} duplicate REST rows")
        if csv_rows != want:
            problems.append(f"{csv_rows} CSV rows")
        if sink["storage"].get(table) != csv:
            problems.append("stored object differs from the CSV")
        return f"source has {want} rows; got " + ", ".join(problems) if problems else ""


def etl_bulk(data_dir: str, work_dir: str, mock) -> Etl:
    import pyarrow.parquet as pq

    from supabase_etl_spark.io.readers import load_table

    sources = {t: (lambda spark, t=t: load_table(spark, data_dir, t)) for t in BULK_TABLES}
    rows = {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows for t in BULK_TABLES}
    return Etl("etl_bulk", sources, rows, work_dir, mock)


def etl_tickers(seed: int, work_dir: str, mock) -> Etl:
    from pyspark.sql.datasource import InputPartition

    from supabase_etl_spark.io import sdk_source
    from supabase_etl_spark.plans.pipeline import sdk_sources

    tickers = random.Random(seed).sample(TICKERS, N_TICKERS)
    statements = sdk_source.STATEMENTS[:TICKER_TABLES]
    sources = {
        name: fn
        for name, fn in sdk_sources(",".join(tickers)).items()
        if name.split("_", 1)[1] in statements
    }
    reader = sdk_source.FinancialStatementsReader({})
    rows = {
        f"{t.lower()}_{s}": len(list(reader.read(InputPartition((t, s)))))
        for t in tickers
        for s in statements
    }
    return Etl("etl_tickers", sources, rows, work_dir, mock)
