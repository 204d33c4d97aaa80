"""spark-submit entry point: ``python -m addressparser_spark.cli <cmd> ...``.

Deployment shape per the north rule: zip the package
(``python -m addressparser_spark.cli package /tmp/engine.zip``), then

    spark-submit --py-files /tmp/engine.zip \
        --jars addressparser_spark/jars/jw-udf.jar \
        -m ... cli.py link --input <transcripts> --output <dir>

``link`` and ``stream`` block and score with the JVM kernels in that jar
and raise ``RuntimeError`` before running any job when it is not on the
classpath. Both set ``session.SQL_SETTINGS`` (UTC session time zone, AQE)
on the session spark-submit built.

Commands:

- ``link``     batch linkage: transcripts parquet -> clusters + resolved
               entities + registry + lineage metrics
- ``stream``   incremental linkage over a growing transcripts directory;
               raises if it does not finish within ``--timeout`` seconds
- ``package``  build the --py-files zip

``link`` and ``stream`` run the one linkage plan,
``plans.pipeline.run_linkage``, and the one resolver,
``operators.resolve.resolve_cascade``, against a registry in
``CASCADE_REGISTRY_SCHEMA``: ``link`` over its whole input, ``stream``
once per micro-batch. So, against the same registry rows, a later ``link``
and a later micro-batch give a conversation the same entity id and stage.

``link`` writes the tables ``clusters``, ``resolved`` and
``dropped_blocks`` under ``--output``, and ``metrics.json``, and extends the
registry ``--output/registry``, and writes nothing else; a rerun recomputes
connected components from its input. The registry is the one ``stream``
extends (``sources.registry_writer.ParquetRegistryWriter``): ``link`` adds
one ``delta_epoch=<n>`` directory holding only the entities it minted, and
every few deltas folds them into a ``base_v<n>`` snapshot named by
``registry/_CURRENT``. So ``link`` and ``stream`` into one ``--output``
each resolve against every entity the other registered. The metrics keys
are:

- ``turns.rows``, ``pairs.candidates``, ``scored.rows``, ``scored.matches``:
  the pipeline's row counts (``PipelineMetrics``)
- ``n_clusters``: the number of clusters
- ``resolve_stages``: conversations per resolve stage
  (``sig``/``prefix``/``synonym``/``new``), stages with none left out
- ``profile_partitions``: rows per partition of the profiles
- ``dropped_blocks``: blocks dropped for exceeding the size cap

The tail's counts (``n_clusters``, ``resolve_stages``, ``dropped_blocks``)
are ``Observation``s on the table writes the command does anyway, so they
add no Spark jobs; only ``profile_partitions`` runs an aggregation of its
own.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import zipfile


def _cmd_package(args: argparse.Namespace) -> None:
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_root)
    with zipfile.ZipFile(args.out, "w") as z:
        for root, _, files in os.walk(pkg_root):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo_root))
    print(args.out)
    # the JVM kernels ride --jars (a --py-files zip is not on the JVM
    # classpath); link and stream raise without them
    jar = os.path.join(pkg_root, "jars", "jw-udf.jar")
    print(f"hint: add --jars {jar} (required by link and stream)", file=sys.stderr)


def _cmd_link(args: argparse.Namespace) -> None:
    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    from addressparser_spark.plans.pipeline import partition_histogram, run_linkage
    from addressparser_spark.operators.resolve import (
        RESOLVE_STAGES,
        cascade_registry_additions,
        resolve_cascade,
    )
    from addressparser_spark.session import apply_sql_settings, register_kernels
    from addressparser_spark.sources.registry_writer import registry_writer
    from addressparser_spark.sources.tables import TableStore

    # a bare builder, not get_spark: spark-submit's --master and --jars must
    # win over get_spark's local master and spark.jars; get_spark's runtime
    # SQL settings (UTC, AQE) are set on it instead. The kernel columns
    # register the kernels too; registering here fails a missing jar before
    # any job
    spark = SparkSession.builder.appName("transcript-linkage").getOrCreate()
    apply_sql_settings(spark)
    register_kernels(spark)
    store = TableStore(spark, args.output)
    result = run_linkage(spark.read.parquet(args.input))
    # MERGE seam: Iceberg MERGE INTO when --registry-table names a catalog
    # table and the jar is present; the append-delta parquet registry under
    # --output/registry otherwise, the one the stream extends
    writer = registry_writer(
        spark, store, iceberg_table=getattr(args, "registry_table", None)
    )
    registry = writer.read()
    # clusters feed their own write and resolve; resolved feeds its write and
    # the registry merge. The try/finally releases every persisted frame when
    # main() is called in-process — without it a second link on the same
    # SparkSession pins executor memory
    clusters = result.clusters.cache()
    resolved = resolve_cascade(clusters, result.profiles, registry).cache()
    try:
        store.write("clusters", clusters)
        # a cluster_id is its members' min conv_id: one row per cluster has
        # conv_id == cluster_id
        obs_resolved = Observation("resolved")
        store.write("resolved", resolved.observe(
            obs_resolved,
            F.count(F.when(F.col("conv_id") == F.col("cluster_id"), 1)).alias("n_clusters"),
            *(F.count(F.when(F.col("resolve_stage") == s, 1)).alias(s) for s in RESOLVE_STAGES),
        ))
        writer.merge(cascade_registry_additions(resolved, result.profiles, registry))
        obs_dropped = Observation("dropped_blocks")
        store.write("dropped_blocks", result.dropped_blocks.observe(
            obs_dropped, F.count(F.lit(1)).alias("rows")
        ))
        metrics = result.metrics.resolve()
        observed = obs_resolved.get
        metrics["n_clusters"] = int(observed["n_clusters"])
        metrics["resolve_stages"] = {
            s: int(observed[s]) for s in RESOLVE_STAGES if observed[s]
        }
        metrics["profile_partitions"] = partition_histogram(result.profiles)
        metrics["dropped_blocks"] = int(obs_dropped.get["rows"])
    finally:
        resolved.unpersist()
        result.unpersist()
    with open(os.path.join(args.output, "metrics.json"), "w") as f:
        json.dump(metrics, f)
    print(json.dumps(metrics))


def _cmd_stream(args: argparse.Namespace) -> None:
    from pyspark.sql import SparkSession

    from addressparser_spark.session import apply_sql_settings, register_kernels
    from addressparser_spark.streaming.incremental import incremental_linkage

    spark = SparkSession.builder.appName("transcript-linkage-stream").getOrCreate()
    apply_sql_settings(spark)
    # fail a missing jar now, not in the first micro-batch: the stream's
    # edge-only scoring plan still calls intersect_count_java
    register_kernels(spark)
    q = incremental_linkage(
        spark,
        input_dir=args.input,
        output_dir=os.path.join(args.output, "resolved"),
        tables_dir=args.output,
        checkpoint_dir=os.path.join(args.output, "stream_checkpoint"),
    )
    if not q.awaitTermination(args.timeout):
        # the query runs availableNow: a timeout means a partial result,
        # which must not exit 0
        q.stop()
        raise TimeoutError(f"stream did not finish within {args.timeout}s")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="addressparser_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pk = sub.add_parser("package", help="build the --py-files zip")
    pk.add_argument("out")
    pk.set_defaults(fn=_cmd_package)

    ln = sub.add_parser("link", help="batch linkage")
    ln.add_argument("--input", required=True)
    ln.add_argument("--output", required=True)
    ln.add_argument(
        "--registry-table",
        default=None,
        help="Iceberg catalog table for the registry (real MERGE INTO); "
        "default: parquet emulation under --output/registry",
    )
    ln.set_defaults(fn=_cmd_link)

    st = sub.add_parser("stream", help="incremental streaming linkage")
    st.add_argument("--input", required=True)
    st.add_argument("--output", required=True)
    st.add_argument("--timeout", type=int, default=300)
    st.set_defaults(fn=_cmd_stream)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
