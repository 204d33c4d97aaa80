"""SparkSession factory tuned for the linkage workload.

Local-mode settings mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (skew-join splitting for hot blocking keys), shuffle
partitions sized to cores (overridden to ~2-3x total cores on a real cluster),
Arrow enabled for the ``mapInPandas``/``applyInPandasWithState`` operators,
the JVM kernel jar on the classpath, and a pinned UTC session timezone so
results compare bit-for-bit against the DuckDB oracle.

The runtime SQL settings live in one mapping, ``SQL_SETTINGS``:
``get_spark`` builds with it, and ``apply_sql_settings`` sets it on a
session someone else built (``cli`` under spark-submit). The kernels are
called through ``kernel``, which registers the ones the session lacks.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType

# The kernel jar (built by java/build.sh, committed): the merge-walk
# intersect count and the fused [levenshtein_sim, jaro_winkler] text kernel
# of pairwise scoring, and the MinHash of blocking and dedup. These
# operators have no other implementation, so every session that runs them
# needs the jar on its classpath: get_spark adds it, and spark-submit
# deployments pass it with --jars.
JW_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jars", "jw-udf.jar")
INTERSECT_FUNC = "intersect_count_java"
TEXTSIM_FUNC = "text_sim_java"  # fused [lev_sim, jw] — one decode per pair
MINHASH_FUNC = "minhash_java"  # (shingle hashes, a[], b[]) -> minhashes

_JVM_FUNCS = (
    (INTERSECT_FUNC, "addressparser.IntersectCount", IntegerType()),
    (TEXTSIM_FUNC, "addressparser.TextSim", ArrayType(DoubleType())),
    (MINHASH_FUNC, "addressparser.MinHash", ArrayType(LongType())),
)

# runtime SQL settings: get_spark builds with them, apply_sql_settings sets
# them on an existing session; neither master nor spark.jars is among them
SQL_SETTINGS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE right-size the output partitioning of cached plans too
    # (cached conv profiles feed every downstream stage). Without it, on a
    # 4-CPU host, run_s of the link_batch benchmark was worse in 4 of 4
    # pairs (8.55/7.63/7.27/8.06 s against 6.24/7.26/6.33/7.15 s) and of
    # queries_sf0.01 in 3 of 3 (13.70/15.29/15.18 against 13.35/13.66/11.73 s)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


def register_kernels(spark: SparkSession) -> None:
    """Register the JVM kernels ``spark`` lacks; safe to call repeatedly.

    ``kernel`` calls it for every kernel column it builds; ``get_spark`` and
    ``cli`` call it once more so a missing jar fails at session build.
    Raises ``RuntimeError`` when a kernel class does not load, which means
    the session was built without the jar on its classpath.
    """
    for name, cls, rt in _JVM_FUNCS:
        if spark.catalog.functionExists(name):
            continue
        try:
            spark.udf.registerJavaFunction(name, cls, rt)
        except AnalysisException as e:
            raise RuntimeError(
                f"JVM kernel {cls} did not load: pass "
                f"addressparser_spark/jars/jw-udf.jar to Spark with --jars "
                f"(get_spark loads {JW_JAR})"
            ) from e


def kernel(spark: SparkSession, name: str, *cols: Column) -> Column:
    """The JVM kernel ``name`` applied to ``cols``, registered in ``spark``
    first if it lacks it, so any session with the jar on its classpath can
    run it."""
    register_kernels(spark)
    return F.call_function(name, *cols)


def apply_sql_settings(spark: SparkSession) -> None:
    """Set ``SQL_SETTINGS`` on a session built elsewhere (spark-submit)."""
    for k, v in SQL_SETTINGS.items():
        spark.conf.set(k, v)


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
        n = (os.cpu_count() or 8) if cores == "*" else int(cores)
        shuffle_partitions = max(8, int(n))

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(map=SQL_SETTINGS)
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
