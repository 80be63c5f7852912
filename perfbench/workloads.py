"""The three workloads: their inputs, operations and output checks.

Each workload is a closed loop with one client: a pass runs every operation
once, in an order drawn from the seed, and the next operation starts when the
previous one returns.
"""

from __future__ import annotations

import shutil
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import yaml

import check
import gen

HERE = Path(__file__).resolve().parent
# floor on the share of planted near-duplicate pairs dedup_minhash_verified
# finds; with 4 bands of 2 rows a planted pair (Jaccard >= 0.6) is missed
# with probability < 0.15, so a seed falls below 0.6 with negligible odds
MIN_PLANTED_RECALL = 0.6


@dataclass
class Ctx:
    spark: object
    root: Path  # the checkout: examples/ and the program live here
    data: Path  # generated inputs
    out: Path  # tables the jobs write
    seed: int
    tracer: object
    info: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    run: Callable[[Ctx], None]


def registry_op(name: str) -> Op:
    """A registry query through the noop sink: the builder, then planning
    and execution of the write."""

    def run(ctx: Ctx) -> None:
        from glue_etl_framework_spark.queries import REGISTRY

        with ctx.tracer.span("queries.build"):
            df = REGISTRY[name].fn(ctx.spark, str(ctx.data))
        with ctx.tracer.span("exec"):
            df.write.format("noop").mode("overwrite").save()

    return Op(name, run)


class Workload:
    name = ""

    def __init__(self, root: Path):
        self.root = root

    def final_check(self, ctx: Ctx) -> dict[str, str | None]:
        return {}


class RegistryWorkload(Workload):
    """Registry queries on generated inputs; each output is compared to
    DuckDB running the entry's oracle SQL on the same files."""

    queries: list[str] = []

    def ops(self) -> list[Op]:
        return [registry_op(q) for q in self.queries]

    def check_pass(self, ctx: Ctx) -> dict[str, str | None]:
        """First run of every query (it also warms the session), collected
        and compared with DuckDB running its oracle."""
        from glue_etl_framework_spark.queries import REGISTRY

        con = check.connect(check.table_views(ctx.data))
        results = {}
        for name in self.queries:
            t0 = time.perf_counter()
            try:
                rows = check.Rows(REGISTRY[name].fn(ctx.spark, str(ctx.data)))
                results[name] = check.compare(name, rows, con, REGISTRY[name].oracle)
                ctx.info.setdefault("check_op_s", {})[name] = round(time.perf_counter() - t0, 4)
                self.inspect(ctx, name, rows.frame)
            except Exception:  # noqa: BLE001 - reported as a failed check
                results[name] = traceback.format_exc(limit=3)
        con.close()
        return results

    def inspect(self, ctx: Ctx, name: str, got) -> None:
        pass


class Analytic(RegistryWorkload):
    name = "analytic_sf01"
    sf = 0.01
    queries = [
        "flagship_revenue_by_region",
        "tpch_q5_local_supplier_volume",
        "tpch_q18_large_volume_customer",
        "json_struct_parse",
        "text_bpe_learn_merges",
    ]

    def prepare(self, ctx: Ctx) -> None:
        ctx.info.update(gen.write_tpch(ctx.data, ctx.seed, self.sf))
        ctx.info.update(gen.write_corpus(ctx.data, ctx.seed, 500, 500, replicas=1))


class LlmCorpus(RegistryWorkload):
    name = "llm_corpus_10x"
    base_docs, base_vecs = 200, 100
    queries = [
        "dedup_minhash_verified",
        "multimodal_jpeg_decode_stats",
    ]

    def prepare(self, ctx: Ctx) -> None:
        ctx.info.update(gen.write_corpus(ctx.data, ctx.seed, self.base_docs, self.base_vecs))

    def inspect(self, ctx: Ctx, name: str, got) -> None:
        if name != "dedup_minhash_verified":
            return
        found = set(zip(got["doc_a"].tolist(), got["doc_b"].tolist()))
        planted = ctx.info["planted"]
        ctx.info["pairs_out"] = len(found)
        ctx.info["planted_recall"] = sum(p in found for p in planted) / len(planted)

    def check_pass(self, ctx: Ctx) -> dict[str, str | None]:
        results = super().check_pass(ctx)
        # a floor on how many planted near-duplicates the LSH finds: the
        # oracle replays the same banding, so it cannot catch a recall loss
        recall = ctx.info.get("planted_recall", 0.0)
        if recall < MIN_PLANTED_RECALL:
            results["dedup_minhash_verified"] = (
                f"planted recall {recall:.3f} < {MIN_PLANTED_RECALL}")
        return results


class EtlJobs(Workload):
    """The reference's job shape: YAML config -> temp views -> one SELECT ->
    a real parquet write, re-run on existing output like a daily re-run."""

    name = "etl_jobs"
    sf = 0.01
    order_days = 60  # daily_orders writes ~60 small day partitions
    ship_days = 730  # wide_lineitem writes ~24 larger month partitions
    change_share = 0.01

    def prepare(self, ctx: Ctx) -> None:
        ctx.info.update(gen.write_tpch(ctx.data, ctx.seed, self.sf, self.order_days, self.ship_days))
        orders = pq.read_table(ctx.data / "orders.parquet")
        rng = np.random.default_rng(np.random.SeedSequence([ctx.seed, 3]))
        n = max(1, int(orders.num_rows * self.change_share))
        rows = orders.take(pa.array(np.sort(rng.choice(orders.num_rows, n, replace=False))))
        changes = rows.set_column(
            rows.schema.get_field_index("o_orderstatus"), "o_orderstatus",
            pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        ).set_column(
            rows.schema.get_field_index("o_totalprice"), "o_totalprice",
            pc.add(rows["o_totalprice"], pa.scalar(0.5)),
        )
        pq.write_table(changes, ctx.data / "orders_changes.parquet")
        ctx.info["changed_rows"] = n
        (ctx.out / "orders_copy").mkdir(parents=True)
        shutil.copy(ctx.data / "orders.parquet", ctx.out / "orders_copy" / "part-0.parquet")

    def ops(self) -> list[Op]:
        def pipeline(name: str, config: Path, pipeline_name: str) -> Op:
            def run(ctx: Ctx) -> None:
                from glue_etl_framework_spark.pipeline import runner

                with ctx.tracer.span("pipeline.run_pipeline"):
                    runner.run_pipeline(ctx.spark, config, pipeline_name,
                                        {"sf_dir": str(ctx.data), "out_dir": str(ctx.out)})

            return Op(name, run)

        def upsert(ctx: Ctx) -> None:
            from glue_etl_framework_spark.io import writers

            changes = ctx.spark.read.parquet(str(ctx.data / "orders_changes.parquet"))
            writers.upsert_by_key(ctx.spark, changes, str(ctx.out / "orders_copy"), ["o_orderkey"])

        return [
            pipeline("sales_by_region", self.config("sales_by_region"), "demo"),
            pipeline("daily_orders", self.config("daily_orders"), "demo"),
            pipeline("wide_lineitem", HERE / "wide_lineitem.yaml", "bench"),
            Op("orders_upsert", upsert),
        ]

    def config(self, name: str) -> Path:
        return self.root / "examples" / f"{name}.yaml"

    def check_pass(self, ctx: Ctx) -> dict[str, str | None]:
        """First run of every job: warms the session and creates the
        outputs the timed passes re-run on."""
        for op in self.ops():
            t0 = time.perf_counter()
            op.run(ctx)
            ctx.info.setdefault("check_op_s", {})[op.name] = round(time.perf_counter() - t0, 4)
        return {}

    def final_check(self, ctx: Ctx) -> dict[str, str | None]:
        """Read every written table back and compare it with DuckDB running
        the job's SQL on the inputs."""
        con = check.connect(check.table_views(ctx.data))
        results = {}
        for name, sql in (
            ("sales_by_region", self.job_sql(self.config("sales_by_region"), "demo")),
            ("daily_orders", "SELECT * REPLACE (CAST(order_day AS VARCHAR) AS order_day) FROM ("
             + self.job_sql(self.config("daily_orders"), "demo") + ")"),
            ("wide_lineitem", self.job_sql(HERE / "wide_lineitem.yaml", "bench").replace(
                "date_format(l.l_shipdate, 'yyyy-MM')", "strftime(l.l_shipdate, '%Y-%m')")),
        ):
            got = check.Rows(check.read_output(con, ctx.out / name))
            results[name] = check.compare(name, got, con, sql)
        got = check.Rows(check.read_output(con, ctx.out / "orders_copy"))
        results["orders_upsert"] = check.compare(
            "orders_upsert", got, con,
            "SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders_changes) "
            "UNION ALL SELECT * FROM orders_changes")
        con.close()
        return results

    @staticmethod
    def job_sql(config_path: Path, pipeline: str) -> str:
        """The job's SELECT with its pipeline variables expanded and its
        ``sv_*`` input views renamed to the generated tables."""
        config = yaml.safe_load(config_path.read_text())
        variables = {k: str(v) for k, v in config["variables"][pipeline].items()}
        sql = config.get("sql") or (config_path.parent / config["sql_file"]).read_text()
        sql = sql.format(**variables)
        for table in config["input_tables"]:
            sql = sql.replace(table["name"], Path(table["location"]).stem)
        return sql


WORKLOADS = {w.name: w for w in (EtlJobs, Analytic, LlmCorpus)}
