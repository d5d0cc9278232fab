"""SparkSession factory tuned for the test/bench environment, and
``scoped``, the one way query code sets session confs.

Local mode is a single JVM; ``SPARK_GRAFT_CPUS`` controls thread count
(default 32 to match the driver's box). On a real cluster the same
builder settings apply — AQE owns runtime re-planning (partition
coalescing, skew-join splitting, broadcast conversion), which is the
scale story for every operator here.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "lookup_transform_spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """The ONE session builder: every harness (tests, bench, probes)
    must measure under the same confs — UTC timezone, ANSI, AQE, arrow,
    and the measured 8g driver heap — or its numbers aren't comparable
    to the bench's (the r8 review caught a probe hand-building a
    session with a 48g heap this module documents as 2.4x slower, and
    without the UTC pin that keeps TIMESTAMP_NTZ comparisons
    host-independent). ``extra_confs`` layers probe-specific settings
    (e.g. event logging) ON TOP of the shared base instead of forking
    the builder."""
    # Python WORKERS resolve this package via PYTHONPATH/CWD, not the
    # driver's sys.path — a harness launched from any other directory
    # hit ModuleNotFoundError inside every pandas-UDF stage (r10: a
    # parity run from .scratch/ failed 7 queries this way). Export the
    # repo root before the JVM (and its worker daemons) start. APPEND,
    # not prepend, and only when a worker couldn't already import the
    # package from PYTHONPATH/CWD (ADVICE r10: an unconditional prepend
    # can shadow an installed copy — or an unrelated colliding top-level
    # module — in every worker/child process).
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    worker_importable = any(
        os.path.isdir(os.path.join(p, "lookup_transform_spark"))
        for p in pp.split(os.pathsep) + [os.getcwd()]
        if p
    )
    if not worker_importable and repo not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            (pp + os.pathsep if pp else "") + repo
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(full_width())
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Pin ANSI mode explicitly: fixedpoint.py's fail-loud-on-overflow
        # contract for long accumulators must not depend on the Spark 4.x
        # default (Spark 3.x defaults ANSI off, which would silently wrap).
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode runs executor tasks INSIDE the driver JVM: this is
        # the heap all 32 task threads share, and 8g is the measured
        # sweet spot on this box, not an oversight. Measured on the
        # heavy tier at the 128x probe scale: 48g runs 2.4x slower
        # (past the ~32GB CompressedOops boundary), 24g hits G1
        # GCLocker retry aborts on humongous shuffle allocations that
        # 8g's smaller regions never trigger, 8g == 24g where neither
        # fails. Operators are sized so per-task state stays bounded
        # (tile/blocks scaling in the registry) rather than leaning on
        # heap. Override with SPARK_GRAFT_DRIVER_MEM; on a real cluster
        # this setting stays driver-only and executor memory is its own
        # knob.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark 4 wraps EVERY DataFrame/Column API call to capture the
        # Python call site and push it to the JVM (PySparkCurrentOrigin)
        # for error enrichment — one extra py4j round-trip per call.
        # Plan BUILD is up to 50% of sub-second query walls
        # (FLOOR_PROFILE.json), and the capture is pure diagnostic
        # sugar; disabling it cut the measured build total of a 6-query
        # floor sample ~2.5x (1.9->0.8 s, interleaved A/B, r11). The
        # flag is read once per Python process and cached, so it must
        # be set at session-build time, not per query.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def full_width() -> str:
    """The at-scale shuffle width: ``SPARK_GRAFT_SHUFFLE``, else one
    partition per core (``SPARK_GRAFT_CPUS``)."""
    return os.environ.get(
        "SPARK_GRAFT_SHUFFLE", os.environ.get("SPARK_GRAFT_CPUS", "32")
    )


_SCOPED_LOCK = threading.Lock()


def scoped(spark: SparkSession, settings: dict[str, str]) -> SparkSession:
    """A cached child of ``spark`` with ``settings`` applied — the ONLY
    place query code sets session confs; ``spark`` itself never changes.

    The child is the JVM ``cloneSession()``: it inherits the parent's
    confs, temp views and UDFs as of clone time, and its confs never
    reach the parent. Later parent settings never reach it either, so
    the cache key includes the parent's conf fingerprint. Caching also
    bounds the listener-bus entries that every session's stream manager
    (each child's is created here) leaves on the SparkContext for good.
    The child shares the parent's stats registry and mirrors its
    streaming listeners, re-synced per call: a listener on the parent
    otherwise never sees a child's streams."""
    from lookup_transform_spark import stats

    jparent = spark._jsparkSession
    key = (jparent.conf().getAll().hashCode(), tuple(sorted(settings.items())))
    # two threads scoping at once must neither clone twice nor add a
    # listener twice (each copy would see every event)
    with _SCOPED_LOCK:
        children = spark.__dict__.setdefault("_lt_children", {})
        child = children.get(key)
        if child is None:
            child = type(spark)(spark.sparkContext, jparent.cloneSession())
            for k, v in settings.items():
                child.conf.set(k, v)
            child._lt_stats_registered = stats._registry(spark)
            children[key] = child
        want = list(jparent.streams().listListeners())
        mgr = child._jsparkSession.streams()
        have = list(mgr.listListeners())
        if len(want) != len(have) or not all(
            a.equals(b) for a, b in zip(want, have)
        ):
            for listener in have:
                mgr.removeListener(listener)
            for listener in want:
                mgr.addListener(listener)
    return child


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s logical plan as a frame of ``spark``: a frame plans and
    runs under the confs of its session (a join, under its left side's)."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return type(df)(jdf, spark)
