"""The workloads: each one closed-loop client driving the package's public
entry points, one op at a time. A write op is followed by one read op that
reads its output back through ``write.format("noop")``.

A run is a fixed, seeded sequence of ops on fresh output tables, never a
deadline, so a faster program does the same work.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from spark_etl_framework_spark import catalog
from spark_etl_framework_spark.plans import builder
from spark_etl_framework_spark.plans.runner import PipelineRunner
from spark_etl_framework_spark.queries import ORACLES, QUERIES
from spark_etl_framework_spark.sources import deltalog, iceberg

from . import checks, gen

#: the registered curation pipelines, run the way users run them
CURATION = (
    "pipeline_containment_writeback",
    "pipeline_lsh_index_probe",
    "pipeline_ann_index_probe",
    "pipeline_bpe_writeback",
    "pipeline_pii_scrub",
)

ETL_AGG_SQL = """
select o_custkey, c_mktsegment,
       cast(date_trunc('month', o_orderdate) as date) as order_month,
       count(*) as n_lines,
       sum(cast(l_extendedprice as decimal(12,2)) * (1 - cast(l_discount as decimal(4,2)))) as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
where l_discount <= ${max_disc}
group by o_custkey, c_mktsegment, cast(date_trunc('month', o_orderdate) as date)
"""

ETL_WIN_SQL = """
select *,
       rank() over (partition by c_mktsegment, order_month
                    order by revenue desc, o_custkey) as seg_rank,
       sum(revenue) over (partition by o_custkey order by order_month
                          rows between unbounded preceding and current row) as cum_revenue
from agg
"""

UPSERT_SCHEMA = "id bigint, grp int, amount double, note string, day date"

#: input sizes: TPC-H scale factor of the ETL inputs (sf0.01: 60k line
#: items, 1.3 MB of parquet), documents and vectors of the curation inputs
ETL_SF = 0.01
N_DOCS = 300
N_VECTORS = 300


def etl_definition(data_dir: str, out: str, max_disc: str) -> dict:
    """file-reader x3 -> join+aggregate -> window rank + running sum ->
    delta-writer, with the discount cut-off as a pipeline variable."""

    def reader(table: str) -> dict:
        return {
            "name": f"load-{table}",
            "actor": {
                "type": "file-reader",
                "properties": {"format": "parquet", "fileUri": f"{data_dir}/{table}.parquet"},
            },
            "output-view": {"name": table},
        }

    return {
        "version": "1.0.0",
        "name": "etl-revenue-ranks",
        "variables": [{"name": "max_disc", "value": max_disc}],
        "jobs": [
            {
                "name": "main",
                "actions": [
                    reader("lineitem"),
                    reader("orders"),
                    reader("customer"),
                    {
                        "name": "aggregate",
                        "actor": {"type": "sql-transformer", "properties": {"sqlString": ETL_AGG_SQL}},
                        "input-views": ["lineitem", "orders", "customer"],
                        "output-view": {"name": "agg"},
                    },
                    {
                        "name": "rank",
                        "actor": {"type": "sql-transformer", "properties": {"sqlString": ETL_WIN_SQL}},
                        "input-views": ["agg"],
                        "output-view": {"name": "win"},
                    },
                    {
                        "name": "write",
                        "actor": {
                            "type": "delta-writer",
                            "properties": {"path": out, "mode": "overwrite", "view": "win"},
                        },
                        "input-views": ["win"],
                    },
                ],
            }
        ],
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def compact_bytes(rt, df) -> int:
    """Bytes of ``df`` written once as one compact parquet file (untimed)."""
    out = os.path.join(rt.work_dir, "compact")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    size = sum(
        os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if f.endswith(".parquet")
    )
    shutil.rmtree(out)
    return size


class Pipelines:
    """The ETL pipeline and the five curation pipelines, one run of each.
    Every write op is a framework pipeline run."""

    name = "pipelines"
    tables = ("lineitem", "orders", "customer", "documents", "embeddings")

    def fixtures(self, data_dir: str, seed: int) -> None:
        gen.make_tpch(data_dir, seed, sf=ETL_SF)
        gen.make_documents(data_dir, seed, n=N_DOCS)
        gen.make_embeddings(data_dir, seed, n=N_VECTORS)

    def warm(self, rt) -> None:
        for t in self.tables:
            catalog.load_table(rt.spark, rt.data_dir, t).write.format("noop").mode("overwrite").save()

    def run(self, rt) -> None:
        # A fixed order: the first pipeline of a process pays the JVM's and
        # the interpreter's first-use costs, and a seeded order would move
        # that cost from pipeline to pipeline between seeds.
        rng = np.random.default_rng([rt.seed, 5])
        self._etl(rt, f"{rng.choice([4, 6, 8, 10]) / 100:.2f}")
        for name in CURATION:
            self._curation(rt, name)

    def _etl(self, rt, max_disc: str) -> None:
        out = os.path.join(rt.tables_dir, "etl")
        defn = etl_definition(rt.data_dir, out, max_disc)
        spark = rt.spark
        rt.final_tables = [("delta", out)]
        ok = rt.timed("write", "etl", lambda: PipelineRunner(spark).run(builder.build_pipeline(defn, spark=spark)))
        if rt.corrupt and ok:
            deltalog.delete_where(spark, out, "seg_rank = 1")
        ok = rt.timed("read", "etl", lambda: rt.noop(deltalog.read_delta(spark, out), "delta.read_exec")) and ok
        if ok:
            rt.check(lambda: self._check_etl(rt, out, max_disc))

    @staticmethod
    def _check_etl(rt, out: str, max_disc: str):
        deltalog.read_delta(rt.spark, out).createOrReplaceTempView("win")
        got = checks.canon_row(rt.spark.sql(checks.ETL_FINGERPRINT).collect()[0])
        want = rt.oracle.etl_fingerprint(ETL_AGG_SQL.replace("${max_disc}", max_disc), ETL_WIN_SQL)
        if got != want:
            return f"etl max_disc={max_disc}: fingerprint {got} != oracle {want}"
        return None

    def _curation(self, rt, name: str) -> None:
        out = {}

        def call():
            with rt.span(f"queries.call.{name}"):
                out["df"] = QUERIES[name](rt.spark, rt.data_dir)

        ok = rt.timed("write", name, call)
        ok = rt.timed("read", name, lambda: rt.noop(out["df"], "query.read_exec")) and ok
        if ok:
            rt.check(lambda: self._check_curation(rt, name, out["df"]))

    @staticmethod
    def _check_curation(rt, name: str, df):
        pdf = df.toPandas()
        if rt.corrupt:
            pdf = pdf.iloc[1:]
        got = checks.normalize(pdf)
        want = rt.oracle.rows(ORACLES[name])
        if got != want:
            return f"{name}: {len(got[1])} rows differ from the {len(want[1])}-row oracle"
        return None


class _Delta:
    """The Delta layer's DML entry points. Each resolves the function on its
    module at call time, so the traced run's wrappers are the ones called."""

    name = "delta"
    append = staticmethod(lambda spark, loc, df: deltalog.write_delta(df, loc))
    merge = staticmethod(lambda spark, loc, df: deltalog.merge_upsert(spark, loc, df, ["id"]))
    delete = staticmethod(lambda spark, loc, pred: deltalog.delete_where(spark, loc, pred))
    read = staticmethod(lambda spark, loc: deltalog.read_delta(spark, loc))


class _Iceberg:
    """The same entry points of the Iceberg layer."""

    name = "iceberg"
    append = staticmethod(lambda spark, loc, df: iceberg.write_iceberg(df, loc))
    merge = staticmethod(lambda spark, loc, df: iceberg.merge_upsert(spark, loc, df, ["id"]))
    delete = staticmethod(lambda spark, loc, pred: iceberg.delete_where(spark, loc, pred))
    read = staticmethod(lambda spark, loc: iceberg.read_iceberg(spark, loc))


class Upserts:
    """A Delta table and an Iceberg table fed the same seeded time series
    of small batches (``gen.UPSERT_SCHEDULE``: appends, merge-upserts on
    half-existing keys, a predicate delete). A write op commits the batch
    to Delta, then to Iceberg; the read op after it reads both snapshots
    in full. Pairing the formats in one op keeps each latency sample the
    same mix of the two."""

    name = "table_upserts"
    tables = ()
    formats = (_Delta, _Iceberg)

    def __init__(self) -> None:
        self.ops: list[tuple] = []

    def fixtures(self, data_dir: str, seed: int) -> None:
        self.ops = gen.upsert_ops(seed)

    def warm(self, rt) -> None:
        rt.spark.createDataFrame(self.ops[0][1], UPSERT_SCHEMA).write.format("noop").mode("overwrite").save()

    def run(self, rt) -> None:
        spark = rt.spark
        locs = {f.name: os.path.join(rt.tables_dir, f.name) for f in self.formats}
        rt.final_tables = list(locs.items())
        model = pd.DataFrame(columns=["id", "grp", "amount", "note", "day"])
        for i, (kind, arg) in enumerate(self.ops):
            if kind == "delete":
                pred = f"grp = {arg[0]} AND id % 7 = {arg[1]}"
                after = model[~((model.grp == arg[0]) & (model.id % 7 == arg[1]))]
                changed = len(model) - len(after)

                def apply(fmt, loc):
                    return fmt.delete(spark, loc, pred)
            else:
                sdf = spark.createDataFrame(arg, UPSERT_SCHEMA)
                if kind == "append":
                    after = arg if model.empty else pd.concat([model, arg])
                else:
                    after = pd.concat([model[~model.id.isin(arg.id)], arg])
                changed = len(arg)

                def apply(fmt, loc):
                    return (fmt.append if kind == "append" else fmt.merge)(spark, loc, sdf)
            model = after
            res: dict = {}
            ok = rt.timed("write", kind, lambda: res.update(
                (f.name, apply(f, locs[f.name])) for f in self.formats))
            if ok:
                rt.commit_meta("delta", kind, locs["delta"], res["delta"], changed)
            if rt.corrupt and ok and i == len(self.ops) // 2:
                for f in self.formats:
                    f.delete(spark, locs[f.name], "id % 13 = 0")
            seen: dict = {}
            ok = rt.timed("read", "read", lambda: seen.update(
                (f.name, rt.noop(f.read(spark, locs[f.name]), f"{f.name}.read_exec"))
                for f in self.formats)) and ok
            if ok:
                for name, obs in seen.items():
                    rt.check(lambda: None if (n := obs.get["rows"]) == len(model) else
                             f"{name} op {i} ({kind}): {n} rows, model has {len(model)}")
        want = checks.normalize(model)
        for fmt in self.formats:
            rt.check(lambda: None if checks.normalize(fmt.read(spark, locs[fmt.name]).toPandas()) == want
                     else f"{fmt.name}: final table differs from the model")


WORKLOADS = {w.name: w for w in (Pipelines, Upserts)}
