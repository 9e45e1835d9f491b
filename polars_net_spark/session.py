"""SparkSession bootstrap tuned for the engine.

The reference (ErrorLSC/Polars.NET) runs a single-process rayon pool inside the
polars crate (see /root/reference native_shim/src/lazy.rs:316-341); our execution
substrate is Spark.  This module centralises the session config so every entry
point (tests, bench, __spark_entry__) gets the same scale-aware defaults:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- shuffle partitions sized for the local core count (overridden by env); on a
  real cluster this should be ~2-3x total cores — callers pass it in.
- Arrow enabled for every Python boundary crossing (pandas_udf, toPandas);
  kernels that build their own output batches go through
  ``_arrow.map_batches``, which types them from the Spark schema.
- UTC session timezone so timestamp semantics are deterministic.
- PySpark's DataFrame debugging context off
  (``spark.python.sql.dataFrameDebugging.enabled=false``).  When it is on,
  PySpark 4 wraps every ``pyspark.sql.functions`` call and every ``Column``
  method so that it records the Python call site: about four extra py4j
  round trips, a walk of the Python stack and an ``import IPython``
  attempt per call.  Every expression this engine builds pays that.
  Measured on a 4-core VM with pyspark 4.1.2: each wrapped call took
  0.7-1.4 ms longer with it on (2-3x its cost off), and the first call of
  a process ~0.4 s longer (the IPython import).  What is lost: the Python
  call site in the ``== DataFrame ==`` section Spark adds to runtime error
  messages (a division by zero under ANSI names ``"__truediv__" was
  called from my_script.py:14`` on, a JVM frame off).  Analysis errors
  are unchanged: a missing column still raises ``AnalysisException`` with
  ``UNRESOLVED_COLUMN.WITH_SUGGESTION``.  To get the call sites back,
  build the session with
  ``get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"})``.
  The conf is static: it can only be set when the session is built, and
  PySpark reads it once per Python process.
- Spark's code-point case-mapping tables built on a spare core as soon as
  a session exists (``_preinit_case_mapping``).  With ICU case mapping on
  (Spark's default, kept), every ``lower``/``upper``/``initcap`` enters
  ``org.apache.spark.sql.catalyst.util.CollationAwareUTF8String``, ASCII
  input included.  Its static initializer title-cases every code point
  from 0 to 1,114,111 through ICU to build a one-to-many lookup table:
  1.4-1.8 s in a fresh JVM (4-core VM, Spark 4.1.2), paid by whichever
  query maps case first.  ICU itself is not the cost: a first
  ``UCharacter.toLowerCase`` takes 0.02 s.  A daemon thread loads
  that class while set-up and the first queries run; the JVM's class
  initialization lock makes a task that reaches the class mid-build wait
  for that one build, so the output is Spark's own, only computed
  earlier.  Rejected: ``spark.sql.icu.caseMappings.enabled=false`` skips
  the class but changes ``initcap`` on 11 of 24 adversarial strings
  (lone "ß" gives "ß", not "Ss"; "ﬁne" stays "ﬁne", not "Fine");
  initializing the class synchronously in ``get_spark`` adds ~1.5 s to
  every session's set-up, so it moves the cost without removing it; a
  warm-up query in a benchmark helps no user's first query.
"""

from __future__ import annotations

import os

from pyspark import InheritableThread
from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]

# the class whose static initializer builds Spark's code-point title-case
# table (module docstring)
_CASE_MAPPING_CLASS = "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String"

# the one case-mapping pre-init per JVM: the gateway JVM view it was started
# for, its thread, and the thread's outcome (None or the exception raised)
_PREINIT_JVM = None
_PREINIT_THREAD = None
_PREINIT_ERROR: "Exception | None" = None


def _preinit_case_mapping(spark: SparkSession) -> None:
    """Start initializing Spark's case-mapping class on a daemon thread,
    at most once per JVM, and return at once (module docstring).

    PySpark's JVM outlives ``spark.stop()``, so the guard is the JVM view
    of the gateway, not the session.  The thread is a
    ``pyspark.InheritableThread``, PySpark's way to call the JVM from a
    Python thread under pinned-thread mode.  A failure is stored in
    ``_PREINIT_ERROR`` and otherwise ignored: the class then initializes at
    its first use, as it would without the pre-init.

    Scope: in local mode the driver JVM is the executor, so every task
    finds the table built.  On a cluster each executor JVM still builds it
    at its first case mapping."""
    global _PREINIT_JVM, _PREINIT_THREAD, _PREINIT_ERROR
    try:
        jvm = spark.sparkContext._jvm
        # unlocked: two racing callers start two threads at worst, and the
        # second one's Class.forName waits for the same initialization
        if jvm is _PREINIT_JVM:
            return
        _PREINIT_JVM, _PREINIT_ERROR = jvm, None

        def load() -> None:
            global _PREINIT_ERROR
            try:
                jvm.java.lang.Class.forName(_CASE_MAPPING_CLASS)
            except Exception as exc:  # the cost is then paid at first use
                _PREINIT_ERROR = exc

        thread = InheritableThread(target=load, name="case-mapping-preinit", daemon=True)
        thread.start()
        _PREINIT_THREAD = thread
    except Exception as exc:
        _PREINIT_ERROR = exc


def get_spark(
    app_name: str = "polars_net_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    When a session is already active, it is returned UNCHANGED: on
    Spark 4, ``builder.config(...).getOrCreate()`` silently re-applies
    runtime confs (shuffle partitions, ANSI, timezone) to the existing
    session — so a library helper called mid-pipeline would stomp
    whatever the application configured.  Explicit overrides for an
    active session belong to ``spark.conf.set`` at the call site; a
    warning is emitted when explicit arguments are passed but an active
    session makes them moot (r7 ADVICE: no silent discard).

    The session is built with PySpark's DataFrame debugging context off
    (``spark.python.sql.dataFrameDebugging.enabled=false``): with it on,
    every Column call records its Python call site, which cost ~1 ms of
    py4j round trips and stack walking per call when measured (module
    docstring).
    This drops only the Python file and line from the ``== DataFrame ==``
    section of runtime error messages.  Pass
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
    to keep it; ``extra_conf`` is applied after the defaults, so it wins.

    A session it builds starts ``_preinit_case_mapping`` before returning:
    a daemon thread builds Spark's case-mapping table while the caller
    goes on (module docstring)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        try:
            if not active.sparkContext._jsc.sc().isStopped():
                ignored = [
                    name
                    for name, val in (
                        ("master", master),
                        ("shuffle_partitions", shuffle_partitions),
                        ("extra_conf", extra_conf),
                    )
                    if val is not None
                ]
                if ignored:
                    import warnings

                    warnings.warn(
                        "get_spark: an active SparkSession exists; explicit "
                        f"argument(s) {', '.join(ignored)} are IGNORED — use "
                        "spark.conf.set(...) on the active session, or "
                        "stop_spark() first to rebuild with new settings",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                return active
        except Exception:
            pass  # stopped/broken session: fall through and build fresh
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # polars arithmetic never throws (x/0 -> inf for floats, null for
        # ints; overflow wraps); Spark 4's ANSI default aborts the query on
        # the first zero divisor in the data. Non-ANSI (null on /0) is the
        # closest engine-wide match to the reference's kernel semantics.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet TIMESTAMP(NANOS) (e.g. the events table) reads as long;
        # loaders convert ns → µs timestamps (Spark's max precision)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        # static: no per-Column call-site capture (see module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _preinit_case_mapping(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


class scoped_checkpoint_dir:
    """Set ``sc.setCheckpointDir(path)`` for the duration of a with-block,
    restoring the PREVIOUS directory on exit so an iterative operator's
    ``checkpoint_dir=`` argument never silently redirects other code's
    reliable checkpoints in the same session.

    The block gets the one checkpoint policy of the iterative operators:
    ``with scoped_checkpoint_dir(sc, path) as ckpt`` binds
    ``ckpt(df, eager=True)``, a reliable ``df.checkpoint(eager)`` whose
    blocks survive executor loss when ``path`` is given, and
    ``df.localCheckpoint(eager)`` (executor memory, single-node grade)
    when it is None.

    If no directory was set before, there is no public API to unset one,
    so the new directory remains after exit (documented residual).  A
    checkpoint deferred with ``eager=False`` that materializes after exit
    writes to the restored/global directory — functionally equivalent, the
    directory is just block storage."""

    def __init__(self, sc, path: "str | None"):
        self._sc = sc
        self._path = path
        self._prev = None

    def __enter__(self):
        if self._path is not None:
            self._prev = self._sc.getCheckpointDir()
            self._sc.setCheckpointDir(self._path)
            return lambda df, eager=True: df.checkpoint(eager=eager)
        return lambda df, eager=True: df.localCheckpoint(eager=eager)

    def __exit__(self, *exc):
        if self._path is not None and self._prev is not None:
            self._sc.setCheckpointDir(self._prev)
        return False


__all__.append("scoped_checkpoint_dir")
