"""SparkSession factory tuned for the linkage workload.

Local-mode settings mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (skew-join splitting for hot blocking keys), shuffle
partitions sized to cores (overridden to ~2-3x total cores on a real cluster),
Arrow enabled for the ``mapInPandas``/``applyInPandasWithState`` operators,
the JVM scoring-kernel jar on the classpath, and a pinned UTC session
timezone so results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

# JVM scoring-kernel jar (built by java/build.sh, committed): the merge-walk
# intersect count and the fused [levenshtein_sim, jaro_winkler] text kernel.
# Pairwise scoring has no other implementation, so every session that scores
# needs it on its classpath: get_spark adds it, and spark-submit deployments
# pass it with --jars. scoring.score_pairs registers the kernels itself.
JW_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jars", "jw-udf.jar")
INTERSECT_FUNC = "intersect_count_java"
TEXTSIM_FUNC = "text_sim_java"  # fused [lev_sim, jw] — one decode per pair

_JVM_FUNCS = (
    (INTERSECT_FUNC, "addressparser.IntersectCount", IntegerType()),
    (TEXTSIM_FUNC, "addressparser.TextSim", ArrayType(DoubleType())),
)


def register_kernels(spark: SparkSession) -> None:
    """Register the JVM scoring kernels in ``spark``; safe to call repeatedly.

    ``score_pairs`` calls it on every plan it builds; ``get_spark`` and
    ``cli`` call it once more so a missing jar fails at session build.
    Raises ``RuntimeError`` when a kernel class does not load, which means
    the session was built without the jar on its classpath.
    """
    for name, cls, rt in _JVM_FUNCS:
        try:
            spark.udf.registerJavaFunction(name, cls, rt)
        except AnalysisException as e:
            raise RuntimeError(
                f"JVM scoring kernel {cls} did not load: pass "
                f"addressparser_spark/jars/jw-udf.jar to Spark with --jars "
                f"(get_spark loads {JW_JAR})"
            ) from e


def get_spark(
    app: str = "transcript-linkage",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` then ``*``. On a real cluster
    the master/deploy settings come from spark-submit; everything here is
    cluster-safe (no local paths, no driver-host assumptions).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(8, int(n))

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE right-size the output partitioning of cached plans too
        # (cached conv profiles feed every downstream stage)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.jars", JW_JAR)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    register_kernels(spark)
    return spark
