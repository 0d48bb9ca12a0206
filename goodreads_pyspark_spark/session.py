"""SparkSession factory with scale-appropriate defaults.

The reference notebook (reference: goodreads.py, Databricks runtime) never
configures Spark; we centralize session construction so every entry point
(tests, bench, pipelines) gets the same AQE/shuffle/Arrow posture.

Local mode is a correctness harness only — the config keys chosen here are
the ones that matter on a real multi-executor cluster too (AQE, adaptive
skew join, shuffle partition count, Arrow transfer for the few Pandas-UDF
paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical RAM (``MemTotal`` in /proc/meminfo), at least 1g.

    A fixed default larger than the host lets the driver JVM grow until the
    machine runs out of memory; ``$SPARK_GRAFT_DRIVER_MEM`` overrides this.
    """
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{max(1024, int(line.split()[1]) // 2048)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "1g"


def _env_conf_overrides() -> list[tuple[str, str]]:
    """``SPARK_GRAFT_CONF="k=v;k=v"`` — deployment-specific overrides.

    ';'-separated so conf values that legitimately contain commas
    (extraJavaOptions, list-valued confs) stay expressible; ','-separated
    pairs are still accepted for backwards compatibility when no ';' is
    present. Malformed items (no '=') warn instead of vanishing.
    """
    import sys

    raw = os.environ.get("SPARK_GRAFT_CONF", "")
    if not raw.strip():
        return []
    items = raw.split(";") if ";" in raw else raw.split(",")
    out = []
    for item in items:
        if "=" in item:
            k, v = item.split("=", 1)
            out.append((k.strip(), v.strip()))
        elif item.strip():
            print(
                f"# SPARK_GRAFT_CONF: ignoring malformed item {item!r}"
                " (expected key=value)",
                file=sys.stderr,
            )
    return out


def get_spark(app_name: str = "goodreads_pyspark_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all cores.
    """
    if cpus is None:
        n = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{n}]" if n else "local[*]"
        shuffle = int(n) if n else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        shuffle = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # ~cores, not the 200 default: local shuffles are driver-disk bound.
        # On a real cluster this would be sized to cluster cores × 2-3.
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in _env_conf_overrides():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
