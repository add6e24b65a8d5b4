#!/usr/bin/env python3
"""Write ``perfbench/provenance.json``: what each workload runs and why,
its inputs, what the seed changes, which end-to-end metric each per-layer
metric should move, and the environment the recorded costs come from.

    python3 perfbench/provenance.py

Run it from a checkout where ``perfbench/run.py`` has generated the data.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CATALOG, SIFT = "catalog_sf0.01", "models_pipeline_sf0.1"

# per-layer metric -> (end-to-end metrics it should move, workloads where)
LAYERS = {
    "session.start_s": ("setup_s", [CATALOG, SIFT]),
    "session.warmup_s": ("setup_s", [CATALOG, SIFT]),
    "queries.construct_s": ("op_p50_s, wall_s", [CATALOG]),
    "queries.construct_driver_s": ("op_p50_s, wall_s", [CATALOG]),
    "queries.construct_jobs": ("op_p50_s, wall_s", [CATALOG]),
    "py4j.calls": ("op_p50_s, wall_s", [CATALOG]),
    "queries.action_s": ("op_p50_s", [CATALOG]),
    "queries.action_driver_s": ("op_p50_s", [CATALOG]),
    "queries.artifact_tokens_s": ("wall_s", [SIFT]),
    "queries.artifact_tf_s": ("wall_s", [SIFT]),
    "queries.artifact_shingles_s": ("wall_s", [SIFT]),
    "<family>_s": ("wall_s, op_tail_s", [CATALOG, SIFT]),
    "caching.local_persists": ("peak_rss_mb, wall_s", [SIFT]),
    "caching.storage_mb": ("peak_rss_mb, wall_s", [SIFT]),
    "pipeline.build_s": ("wall_s, op_tail_s", [SIFT]),
    "pipeline.export_s": ("wall_s, op_tail_s", [SIFT]),
    "sinks.write_s": ("wall_s", [SIFT]),
    "sinks.output_mb": ("wall_s", [SIFT]),
    "spark.jobs": ("op_p50_s", [CATALOG]),
    "spark.stages": ("op_p50_s", [CATALOG]),
    "spark.tasks": ("op_p50_s", [CATALOG]),
    "spark.exec_run_s": ("wall_s", [SIFT]),
    "spark.exec_cpu_s": ("wall_s", [SIFT]),
    "spark.gc_s": ("wall_s", [SIFT]),
    "spark.shuffle_write_mb": ("wall_s", [SIFT]),
    "spark.shuffle_read_mb": ("wall_s", [SIFT]),
    "spark.shuffle_fetch_wait_s": ("wall_s", [SIFT]),
    "spark.spill_memory_mb": ("wall_s", [SIFT]),
    "spark.spill_disk_mb": ("wall_s", [SIFT]),
    "spark.input_mb": ("wall_s", [SIFT]),
    "host.control_s": ("none: records the host window", [CATALOG, SIFT]),
    "trace.overhead_ratio": ("none: traced wall_s / untraced wall_s", [CATALOG, SIFT]),
}


def inputs(sf: str) -> dict:
    import pyarrow.parquet as pq

    path = os.path.join(HERE, ".work", "data", sf)
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    return {
        "documents": pq.ParquetFile(os.path.join(path, "documents.parquet")).metadata.num_rows,
        "lineitem_rows": pq.ParquetFile(os.path.join(path, "lineitem.parquet")).metadata.num_rows,
        "parquet_bytes": sum(os.path.getsize(os.path.join(path, f)) for f in files),
    }


def environment() -> dict:
    import duckdb
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {"cores": os.cpu_count(), "spark_cpus": 4, "spark": pyspark.__version__,
            "java": java.splitlines()[0], "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def main() -> None:
    sys.path[:0] = [ROOT, HERE]
    import workloads
    from families import FAMILIES

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        why = {w["name"]: w["why"] for w in json.load(fh)["workloads"]}
    record = {
        "workloads": {
            CATALOG: {
                "why": why[CATALOG],
                "ops": workloads.catalog_ops(),
                "selection": "for each of CATALOG_FAMILIES, the registry query of median "
                             "recorded warm cost (op_costs.json)",
                "families": list(workloads.CATALOG_FAMILIES),
                "action": "df.write.format('noop') materializes every column",
                "inputs": inputs("sf0.01"),
            },
            SIFT: {
                "why": why[SIFT],
                "ops": workloads.models_pipeline_ops(),
                "selection": "for each of MODEL_FAMILIES, the registry query of median "
                             "recorded warm cost, plus the composed pipeline",
                "families": list(workloads.MODEL_FAMILIES) + ["pipeline"],
                "action": "models: to_json_lines + write_text (gzip); pipeline: "
                          "write_pipeline_shards",
                "per_pass": "release corpus artifacts and builder caches, rebuild "
                            "tokens, tf and 3-shingles through corpus_artifacts()",
                "inputs": inputs("sf0.1"),
            },
        },
        "passes": {
            w: {"settle": cls.settle_passes, "timed_per_minute_of_seconds": cls.passes_per_minute}
            for w, cls in ((CATALOG, workloads.Catalog), (SIFT, workloads.ModelsPipeline))
        },
        "seed": "permutes the op order of every pass; inputs are generated by "
                "datagen.py from a fixed data seed, so every seed runs the same ops "
                "on the same tables",
        "check": "one untimed pass per run before the timed ones: DuckDB oracle row "
                 "hash (tests/parity.py canonicalization), recorded row count for "
                 "the rows-only set, recorded shard manifest for the pipeline",
        "families": {fam: list(ops) for fam, ops in FAMILIES.items()},
        "layers": {k: {"moves": v[0], "on": v[1]} for k, v in LAYERS.items()},
        "op_tail_s": "highest percentile of per-op medians with ten values beyond it; "
                     "with fewer than twenty ops, the slowest op's median",
        "left_out": "streaming (sift_spark/streaming), sf >= 1, and timing the whole "
                    "registry or model list in one run (a run has about a minute)",
        "environment": environment(),
    }
    with open(os.path.join(HERE, "provenance.json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
