"""The workloads. Each one generates its inputs and expected outputs
before the engine starts (``prepare``), then runs one iteration at a time
(``iterate``), returning (operations attempted, operations failed); an
output that differs from the oracle is a failed operation.

BENCHMARK.json lists nightly_invoice and corpus_recipe only: every run
costs 40-60 s whatever its measuring time (JVM launch and a 12-21 s cold
first iteration), which keeps the listed set small. media_dedup and
relational_mix run the same way when named.

Sizes are small on purpose: the Spark engine has a fixed per-query cost of
~0.3-1 s at any size, so one iteration takes 3-5 s on 4 cores and five
measured iterations fit in about 20 s.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import traceback

import inputs
import oracles

MEDIA_QUERIES = (
    "q141_image_phash_dedup",  # single-word banded hamming self-join
    "q145_video_phash_dedup",  # framewise hamming with a min-frames majority
    "q160_streaming_image_admission",  # batch-vs-index probe, two epochs
)
RELATIONAL_QUERIES = (
    "q01_billing_invoice",  # events -> sessionize window -> invoice
    "q58_nation_revenue_share",  # four-table join
    "q107_salted_join_revenue",  # salted skew join
    "q10_pricing_summary",  # scan + aggregate
)
CORPUS_ORACLE = "q143_corpus_recipe_images"

DUMP_INSTANCES = 2500
REGISTRY_SF = 0.01
REGISTRY_DOCS = 500


def _failed(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


class NightlyInvoice:
    """Nova mysqldump -> cli.main -> invoice CSV, checked row by row
    against a plain-Python replay of the billing state machine."""

    name = "nightly_invoice"

    def prepare(self, work_dir: str, seed: int) -> None:
        self.dump = os.path.join(work_dir, "nova.sql.gz")
        self.expected = oracles.expected_invoice(inputs.write_nova_dump(self.dump, seed, DUMP_INSTANCES))

    def iterate(self, spark, iter_dir: str) -> tuple[int, int]:
        from openstack_billing_from_db_spark import cli

        out = os.path.join(iter_dir, "invoice.csv")
        w0, w1 = inputs.WINDOW
        try:
            cli.main(["--sql-dump-file", self.dump, "--start", w0.isoformat(), "--end", w1.isoformat(), "--output", out])
            return 1, int(oracles.read_invoice_csv(out) != self.expected)
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            _failed(self.name)
            return 1, 1


class _RegistryWorkload:
    tables: tuple[str, ...] = ()

    def prepare(self, work_dir: str, seed: int) -> None:
        self.data_dir = os.path.join(work_dir, "tables")
        inputs.write_registry_tables(self.data_dir, seed, sf=REGISTRY_SF, n_docs=REGISTRY_DOCS, tables=self.tables)
        self.duck = oracles.DuckOracle(self.data_dir, self.tables)

    def close(self) -> None:
        self.duck.close()


class QueryMix(_RegistryWorkload):
    """Registry queries run one after another, each result checked against
    its DuckDB oracle. ``timer`` brackets the query function call, which
    builds the plan (and runs any eager jobs) before the final collect."""

    def __init__(self, name: str, queries: tuple[str, ...], tables: tuple[str, ...]):
        self.name, self.queries, self.tables = name, queries, tables

    def prepare(self, work_dir: str, seed: int) -> None:
        from openstack_billing_from_db_spark.registry import all_oracle_sql

        super().prepare(work_dir, seed)
        sql = all_oracle_sql()
        self.expected = {q: self.duck.rowset(sql[q]) for q in self.queries}

    def iterate(self, spark, iter_dir: str, timer=contextlib.nullcontext) -> tuple[int, int]:
        from openstack_billing_from_db_spark.registry import all_queries

        fns = all_queries()
        failed = 0
        for q in self.queries:
            try:
                with timer():
                    df = fns[q](spark, self.data_dir)
                failed += int(oracles.spark_rowset(df) != self.expected[q])
            except Exception:  # noqa: BLE001
                _failed(q)
                failed += 1
        return len(self.queries), failed


class CorpusRecipe(_RegistryWorkload):
    """``corpus_cli prepare --image-dedup`` writing the cleaned corpus;
    the written parquet is summarised by DuckDB and checked against the
    registry oracle of the same recipe (q143)."""

    name = "corpus_recipe"
    tables = ("documents",)

    def prepare(self, work_dir: str, seed: int) -> None:
        from openstack_billing_from_db_spark.registry import all_oracle_sql

        super().prepare(work_dir, seed)
        self.expected = self.duck.rowset(all_oracle_sql()[CORPUS_ORACLE])

    def iterate(self, spark, iter_dir: str) -> tuple[int, int]:
        from openstack_billing_from_db_spark import corpus_cli

        out = os.path.join(iter_dir, "corpus")
        try:
            with contextlib.redirect_stdout(io.StringIO()):
                result = corpus_cli.main(
                    ["prepare", "--data-dir", self.data_dir, "--output", out, "--image-dedup"], spark=spark
                )
            got = self.duck.rowset(
                "SELECT predicted_lang, CAST(count(*) AS BIGINT) AS n_docs, "
                "CAST(sum(n_tokens) AS BIGINT) AS n_tokens, CAST(min(doc_id) AS BIGINT) AS min_doc_id "
                f"FROM read_parquet('{out}/**/*.parquet', hive_partitioning = true) GROUP BY predicted_lang"
            )
            n_docs = sum(r[1] for r in got[1])
            return 1, int(got != self.expected or result["rows"] != n_docs)
        except Exception:  # noqa: BLE001
            _failed(self.name)
            return 1, 1


def make(name: str):
    if name == "nightly_invoice":
        return NightlyInvoice()
    if name == "corpus_recipe":
        return CorpusRecipe()
    if name == "media_dedup":
        return QueryMix(name, MEDIA_QUERIES, ("documents",))
    if name == "relational_mix":
        return QueryMix(name, RELATIONAL_QUERIES, ("events", "lineitem", "orders", "customer", "nation", "part"))
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("nightly_invoice", "corpus_recipe", "media_dedup", "relational_mix")
