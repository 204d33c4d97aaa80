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

``link`` and ``stream`` run the one link step,
``plans.pipeline.link_into``: the linkage plan (``run_linkage``), one
resolve through ``operators.resolve.resolve_cascade`` against the registry,
the table writes, the registry merge and ``metrics.json``. ``link`` runs it
once over its whole input into ``--output``; ``stream`` runs it once per
micro-batch into ``--output/epoch=<n>``. So, against the same registry
rows, a later ``link`` and a later micro-batch give a conversation the same
entity id and stage.

Each run of the step writes the tables ``clusters``, ``resolved`` and
``dropped_blocks`` and ``metrics.json`` (its keys: ``link_into``'s
docstring) under its directory, and extends the one registry
``--output/registry``, and writes nothing else; a rerun recomputes
connected components from its input. The registry
(``sources.registry_writer.ParquetRegistryWriter``) grows by one
``delta_epoch=<n>`` directory per run, holding only the entities it minted,
and every few deltas folds them into a ``base_v<n>`` snapshot named by
``registry/_CURRENT``. So ``link`` and ``stream`` into one ``--output``
each resolve against every entity the other registered, and neither's
tables hide the other's: ``link`` writes ``--output/resolved``, a
micro-batch ``--output/epoch=<n>/resolved``.
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
    from pyspark.sql import SparkSession

    from addressparser_spark.plans.pipeline import link_into
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
    # MERGE seam: Iceberg MERGE INTO when --registry-table names a catalog
    # table and the jar is present; the append-delta parquet registry under
    # --output/registry otherwise, the one the stream extends
    writer = registry_writer(
        spark, store, iceberg_table=getattr(args, "registry_table", None)
    )
    print(json.dumps(link_into(spark.read.parquet(args.input), store, writer)))


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
        output_dir=args.output,
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
