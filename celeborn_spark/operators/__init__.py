"""Reusable engine operators (DataFrame -> DataFrame combinators).

Query modules in celeborn_spark.queries declare the oracle-checked
surface; the generic, composable implementations live here.
"""


def values_table(spark, rows, schema: str):
    """JVM LocalRelation from small LITERAL rows — the createDataFrame
    twin without the Python-RDD scan. spark.createDataFrame(list)
    parallelizes the rows into defaultParallelism Python tasks, each
    paying a Python-worker launch: measured r13, a 4-size literal grid
    cost a 32-task stage with 8.5 s of executor run time (~90 ms of it
    CPU) PER QUERY EXECUTION. A SQL VALUES clause parses to a
    LocalTableScan: no job, no Python workers, identical rows/types.

    ``schema`` is "name type, name type, ..." with type in
    {int, long, double, string}; every value must be an int, float,
    str, bool, or None.
    """

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return f"{v}L"
        if isinstance(v, float):
            # repr round-trips the exact double; D-suffix keeps Spark
            # from parsing the literal as DECIMAL
            return f"{v!r}D"
        if isinstance(v, str):
            escaped = v.replace("\\", "\\\\").replace("'", "\\'")
            return f"'{escaped}'"
        raise TypeError(f"values_table: unsupported literal {v!r}")

    cols = [c.strip().split() for c in schema.split(",")]
    sql_types = {"int": "INT", "long": "BIGINT", "double": "DOUBLE",
                 "string": "STRING"}
    names = ", ".join(n for n, _ in cols)
    casts = ", ".join(
        f"CAST({n} AS {sql_types[t]}) AS {n}" for n, t in cols
    )
    vals = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return spark.sql(f"SELECT {casts} FROM VALUES {vals} AS t({names})")


_HELD: list = []


def hold(df):
    """Persist ``df`` until the next registered query is invoked (the
    registry calls release_held() first), so a rerun re-reads its files,
    which the CacheManager matches by path, not content. Local
    checkpoints are never held: their rows have no other copy."""
    _HELD.append(df)
    return df.persist()


def release_held() -> None:
    while _HELD:
        df = _HELD.pop()
        if df.sparkSession.sparkContext._jsc is not None:  # stop() freed it
            df.unpersist()


def _spread(df, key: str):
    """Hash-exchange a NARROW input across all cores before a CPU-heavy
    map stage (text kernels, Arrow mapInPandas, higher-order-function
    cosines at ~20 µs per 64-dim pair). Small parquet arrives as one
    split and would serialize the whole stage onto one core — measured
    r13: the near-dup recall guard spent 2.8 s on one task. At 100 TB
    inputs are already wide and the repartition is SKIPPED outright
    (r13 — the old unconditional form paid a full shuffle of the text
    mass at scale for nothing, and the skip keeps the zero-shuffle
    map-only plans the signature operators advertise). The
    partition-count probe is a plan-only driver check, no job."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, key)
