"""The benchmark's workloads.

A workload names the ops one run executes and, for each op, how to build
it, how to run its timed action, and how to check its output outside the
timed passes.  Every call goes through the package's public functions.

- ``catalog_sf0.01``: for each operator family that only the registry
  exercises, the query of median cost, materialized through the ``noop``
  sink at sf0.01.
- ``models_pipeline_sf0.1``: the link and text models of the paper (the
  median-cost query of each family), written with the reference's
  JSON-lines sink, and the composed LLM training pipeline, exported as
  parquet shards, at sf0.1.

The op sets follow from the registry, the family map and ``op_costs.json``
(warm seconds per op, measured once on a 4-core host), so every seed runs
the same ops; the seed permutes their order in each pass.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from families import family

HERE = os.path.dirname(os.path.abspath(__file__))

with open(os.path.join(HERE, "op_costs.json"), encoding="utf-8") as _fh:
    OP_COSTS: dict[str, dict[str, float]] = json.load(_fh)
with open(os.path.join(HERE, "expected.json"), encoding="utf-8") as _fh:
    EXPECTED: dict = json.load(_fh)

PIPELINE = "llm_training_pipeline"

# the operator families only the catalog workload runs
CATALOG_FAMILIES = (
    "operators.dedup", "operators.events", "operators.multimodal",
    "operators.relational", "operators.similarity", "operators.text_analysis",
)
# the paper's models (SURVEY 2.1-2.2): links (comentions, entity graph) and text
MODEL_FAMILIES = ("models.links", "models.text")


def family_medians(families, costs: dict[str, float]) -> list[str]:
    """For each of ``families``, the registry query of median recorded cost
    (an op without a recorded cost counts as a median op)."""
    from sift_spark.queries import QUERIES

    default = statistics.median(costs.values())
    out = []
    for fam in families:
        ops = sorted((q for q in QUERIES if family(q) == fam),
                     key=lambda n: (costs.get(n, default), n))
        out.append(ops[(len(ops) - 1) // 2])
    return out


def catalog_ops() -> list[str]:
    return family_medians(CATALOG_FAMILIES, OP_COSTS["sf0.01"])


def models_pipeline_ops() -> list[str]:
    return family_medians(MODEL_FAMILIES, OP_COSTS["sf0.1"]) + [PIPELINE]


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024 * 1024)


class QueryWorkload:
    """Registry queries at one scale factor, timed through a sink."""

    sink = False
    settle_passes = 1  # untimed passes after the check pass
    passes_per_minute = 6  # timed passes per 60 s of --seconds

    def __init__(self, spark, data_dir: str, out_dir: str, sf: str, ops: list[str]):
        from tests.parity import duck_con

        self.spark, self.sf, self.ops = spark, sf, ops
        self.sf_dir = os.path.join(data_dir, sf)
        self.out_dir = out_dir
        self._con = duck_con(self.sf_dir)

    def family(self, name: str) -> str:
        return family(name)

    def prologue(self, span) -> None:
        """Work each timed pass does before its ops."""

    def build(self, name: str):
        from sift_spark.queries import QUERIES

        return QUERIES[name](self.spark, self.sf_dir)

    def act(self, name: str, df) -> None:
        raise NotImplementedError

    def check(self, name: str) -> tuple[float, str | None]:
        """Build and collect ``name``; returns the seconds that took and
        None when the output is right, else what is wrong: the DuckDB
        oracle's row hash where one exists (the canonicalization of
        ``tests/parity.py``), else the recorded row count."""
        from sift_spark.oracle import ORACLE
        from tests.parity import _pandas_rows, value_hash

        t0 = time.time()
        pdf = self.build(name).toPandas()
        spark_s = time.time() - t0
        if name not in ORACLE:
            want = EXPECTED["rows"][self.sf].get(name)
            if want is None:
                return spark_s, "no oracle and no recorded row count"
            return spark_s, None if len(pdf) == want else f"rows {len(pdf)} != recorded {want}"
        duck = self._con.sql(ORACLE[name]).fetchdf()
        if len(pdf) != len(duck):
            return spark_s, f"rows {len(pdf)} != oracle {len(duck)}"
        if sorted(pdf.columns) != sorted(duck.columns):
            return spark_s, f"columns {sorted(pdf.columns)} != oracle {sorted(duck.columns)}"
        if value_hash(_pandas_rows(pdf), list(pdf.columns)) != value_hash(
            _pandas_rows(duck), list(duck.columns)
        ):
            return spark_s, "value hash differs from oracle"
        return spark_s, None

    def output_mb(self) -> float:
        return dir_mb(self.out_dir)

    def close(self) -> None:
        self._con.close()


class Catalog(QueryWorkload):
    def __init__(self, spark, data_dir: str, out_dir: str):
        super().__init__(spark, data_dir, out_dir, "sf0.01", catalog_ops())

    def act(self, name: str, df) -> None:
        # noop materializes every column; count() would let Catalyst prune
        df.write.format("noop").mode("overwrite").save()


class ModelsPipeline(QueryWorkload):
    """The sift models and the composed pipeline on one sf0.1 corpus.  Each
    pass first releases the shared corpus artifacts and builder caches and
    rebuilds the artifacts through the public accessors."""

    sink = True
    # no settle pass: at about 11 s a pass, the run's time budget has no
    # room for one, so the first timed pass still carries some JIT warm-up
    settle_passes = 0
    passes_per_minute = 4

    def __init__(self, spark, data_dir: str, out_dir: str):
        super().__init__(spark, data_dir, out_dir, "sf0.1", models_pipeline_ops())

    def family(self, name: str) -> str:
        return "pipeline" if name == PIPELINE else family(name)

    def prologue(self, span) -> None:
        from sift_spark.caching import release_local_caches
        from sift_spark.queries import corpus_artifacts

        arts = corpus_artifacts(self.spark, self.sf_dir)
        arts.release()
        release_local_caches()
        with span("queries.artifact_tokens_s"):
            arts.tokens()
        with span("queries.artifact_tf_s"):
            arts.tf()
        with span("queries.artifact_shingles_s"):
            arts.shingles(3)

    def build(self, name: str):
        if name != PIPELINE:
            return super().build(name)
        from sift_spark.io import table
        from sift_spark.pipeline import llm_training_pipeline

        # the knobs of scripts/pipeline_run.py: a temperature budget of 40 %
        # of the corpus and a fixed-size eval slice of about 200 docs
        n = table(self.spark, self.sf_dir, "documents").count()
        return llm_training_pipeline(
            self.spark, self.sf_dir, persist_boundaries=True,
            temp_budget=int(n * 0.4), eval_fraction=min(0.02, 200.0 / n),
        )

    def act(self, name: str, built) -> None:
        path = os.path.join(self.out_dir, name)
        if name == PIPELINE:
            from sift_spark.pipeline import write_pipeline_shards

            shutil.rmtree(path, ignore_errors=True)
            write_pipeline_shards(built, path)
        else:
            from sift_spark.sinks.formats import to_json_lines, write_text

            write_text(to_json_lines(built), path)

    def check(self, name: str) -> tuple[float, str | None]:
        """Models are checked like registry queries; the pipeline's shard
        manifest must equal the recorded one."""
        if name != PIPELINE:
            return super().check(name)
        from sift_spark.pipeline import shard_manifest

        t0 = time.time()
        self.act(name, self.build(name))
        spark_s = time.time() - t0
        got = shard_manifest(self.spark, os.path.join(self.out_dir, name))
        want = EXPECTED["manifest"][self.sf]
        return spark_s, None if got == want else f"shard manifest {got} != recorded {want}"


def make(name: str, spark, data_dir: str, out_dir: str):
    kinds = {"catalog_sf0.01": Catalog, "models_pipeline_sf0.1": ModelsPipeline}
    if name not in kinds:
        raise ValueError(f"unknown workload {name!r}")
    return kinds[name](spark, data_dir, out_dir)
