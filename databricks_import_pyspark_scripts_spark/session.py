"""SparkSession construction with scale-appropriate defaults.

The reference relies on the ambient Databricks session
(``/root/reference/unload_databricks_data_to_s3.py:464``); here we own session
construction so the same code runs on a laptop (local[N]) and on a real
cluster. Every config below is a public Spark conf.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Shuffle parallelism default: on local[N] match cores; AQE coalesces down at
# runtime so a modest over-estimate is safe at any scale.
_DEFAULT_CONF: dict[str, str] = {
    # local mode is a single JVM: the driver heap IS executor memory. The
    # 1g default thrashes GC with 32 concurrent tasks (measured 10x
    # slowdowns on later queries in a session); only effective at session
    # creation time.
    "spark.driver.memory": "48g",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Pin per-file record cap globally (the reference sets it only on the
    # coalesce path — SURVEY.md §4 known-inefficiency #4).
    "spark.sql.files.maxRecordsPerFile": "100000",
    "spark.ui.enabled": "false",
}


def configure_s3a_credentials(spark: SparkSession,
                              env: dict[str, str] | None = None) -> list[str]:
    """Map AWS environment variables onto the session's ``fs.s3a.*`` Hadoop
    conf; returns the conf keys that were set.

    Reference parity (C3): the reference pulls AWS keys from Databricks
    secrets and sets ``fs.s3a.access.key`` / ``fs.s3a.secret.key`` /
    ``fs.s3a.session.token`` plus ``TemporaryAWSCredentialsProvider``
    (/root/reference/unload_databricks_data_to_s3.py:464-476). Portable
    form: standard AWS env vars, set on ``hadoopConfiguration`` so every
    Hadoop FS call (reads, writes, sidecars) sees them — session-token
    credentials select the temporary-credentials provider exactly like the
    reference. A custom endpoint (AWS_ENDPOINT_URL, e.g. MinIO) maps to
    ``fs.s3a.endpoint``. No-op for keys that are absent, so IAM-role /
    instance-profile clusters are untouched.
    """
    env = os.environ if env is None else env
    hconf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    mapping = [
        ("AWS_ACCESS_KEY_ID", "fs.s3a.access.key"),
        ("AWS_SECRET_ACCESS_KEY", "fs.s3a.secret.key"),
        ("AWS_SESSION_TOKEN", "fs.s3a.session.token"),
        ("AWS_ENDPOINT_URL", "fs.s3a.endpoint"),
    ]
    set_keys: list[str] = []
    for env_key, conf_key in mapping:
        if env.get(env_key):
            hconf.set(conf_key, env[env_key])
            set_keys.append(conf_key)
    if env.get("AWS_SESSION_TOKEN"):
        hconf.set("fs.s3a.aws.credentials.provider",
                  "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider")
        set_keys.append("fs.s3a.aws.credentials.provider")
    return set_keys


def get_spark(app_name: str = "spark_graft", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so tests and
    bench share one code path; on a cluster, spark-submit supplies the master
    and this argument stays None without overriding it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        # an explicit cluster master from the environment wins; previously
        # the env var was CHECKED but never USED, so SPARK_MASTER=spark://…
        # silently ran the job on the submit host's local[*]
        master = os.environ.get("SPARK_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if not cpus:
            # Default to HALF the logical CPUs: on hyperthreaded/vCPU hosts,
            # local[all-logical] makes compute-bound stages (md5 loops, JIT
            # compilation) contend with their own sibling threads — measured
            # headline-bench totals on a 32-vCPU box: 16 threads 34.8 s,
            # 32 threads 47.9-117.9 s (the wide agg's codegen compile alone
            # degraded 7.6 s -> 22-52 s under 32-thread contention).
            # An explicit SPARK_GRAFT_CPUS always wins.
            cpus = str(max(1, (os.cpu_count() or 2) // 2))
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    # LOCAL mode only: put shuffle/spill files on tmpfs when available.
    # Shuffle-heavy plans on /tmp (spinning-rust-or-virtio disk) showed
    # 3-4x run-to-run wobble from page-cache-dependent spill throughput
    # (SCALE.md, melt-verify root cause); the same 1 GB shuffle on
    # /dev/shm measures flat (2.2-2.7 s across repeats vs 1.9-7.7 s
    # alternating). tmpfs pages compete with the JVM heap for physical
    # RAM, so this is right for local dev/bench boxes with RAM headroom —
    # NOT forced on clusters, where the resource manager provisions local
    # dirs (YARN/K8s ignore spark.local.dir anyway). Override with
    # SPARK_GRAFT_LOCAL_DIR (empty string = leave Spark's default).
    if master and master.startswith("local"):
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
        if local_dir is None and os.path.isdir("/dev/shm"):
            local_dir = "/dev/shm/spark_graft_local"
        if local_dir:
            conf.setdefault("spark.local.dir", local_dir)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows,
                schema: StructType | str) -> DataFrame:
    """A DataFrame over rows the driver already holds, planned as a
    Catalyst ``LocalRelation``.

    ``spark.createDataFrame(<list>, schema)`` parallelizes the list as a
    Python RDD: the plan is an opaque ``Scan ExistingRDD`` and every
    evaluation runs ``defaultParallelism`` Python worker tasks that unpickle
    the rows. Handing Spark a ``pyarrow.Table`` instead ships the rows to
    the JVM once, so evaluating the frame starts no Python worker and the
    optimizer sees the rows (``LocalTableScan``, broadcast size known).

    ``rows`` is a sequence of tuples (positional) or dicts (by field
    name), checked against ``schema`` exactly as ``createDataFrame``
    checks a list (types, NULLs in non-nullable fields), or a
    ``pyarrow.Table`` already in column form, cast to ``schema``.
    ``schema`` is a ``StructType`` or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if not isinstance(rows, pa.Table):
        verify = _make_type_verifier(schema)
        for r in rows:
            verify(r)
        rows = pa.Table.from_arrays(
            [pa.array([r.get(f.name) if isinstance(r, dict) else r[i]
                       for r in rows], type=af.type)
             for i, (f, af) in enumerate(zip(schema.fields, arrow_schema))],
            schema=arrow_schema)
    return spark.createDataFrame(rows, schema)
