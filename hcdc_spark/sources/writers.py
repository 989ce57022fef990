"""Partitioned batch writers + the bulk loader (SURVEY §2A K3-K6, T29).

The reference's staging writers (LocalFileSystem/S3FileSystem +
Local/S3Writer, core/.../io/impl/*, ~750 LoC of create/append/truncate
block-file mechanics) collapse into ``df.write`` with a path scheme —
the same code serves local disk and s3a://. Its CSV→Parquet loader
(HadoopDataLoader.java:49-130) batched by bytes/rows by hand; here
``maxRecordsPerFile`` + partitioned writes do that inside the writers.

Scale notes baked into the defaults:
- explicit ``partition_by`` keeps entity scans partition-pruned;
- ``maxRecordsPerFile`` bounds file size (the reference's 16 MiB batch
  default, HadoopDataLoader.java:207);
- snappy parquet to match the reference's output
  (ParquetDataWriter.java:40-103).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    compression: str = "snappy",
    **options,
) -> None:
    """Write ``df`` to ``path`` as ``fmt`` with the scale defaults above.

    Avro without the spark-avro jar goes through the spec-codec writer,
    which FANS OUT to at least ``defaultParallelism`` tasks: a frame
    deliberately coalesce(1)'d before this call still lands as several
    part files (call avro_codec.write_avro directly for a single file).
    The fan-out is kept on purpose — skipping it on single-partition
    input would undo q39_avro's 4.26 → 1.78 s."""
    if fmt == "avro":
        from hcdc_spark.cdc.materialize import avro_available
        from hcdc_spark.sources import avro_codec

        if not avro_available(df.sparkSession):
            # Spec-codec OCF writer (one file per partition, null
            # codec). Supports overwrite/error modes on FS paths —
            # partition_by/maxRecordsPerFile need the connector.
            if partition_by or max_records_per_file:
                raise ValueError(
                    "avro fallback writer: partition_by/"
                    "max_records_per_file need the spark-avro jar"
                )
            import os
            import shutil

            if mode == "append":
                raise ValueError(
                    "avro fallback writer: append needs the "
                    "spark-avro jar (part-file names would collide)"
                )
            if os.path.exists(path):
                if mode == "overwrite":
                    shutil.rmtree(path)
                elif mode == "ignore":
                    return  # Spark contract: silent no-op on existing
                else:  # error / errorifexists / unknown modes
                    raise FileExistsError(path)
            # min_tasks: spread the per-row spec codec across the
            # session's cores when the input plans fewer partitions
            # (no-op at scale — see write_avro's doc)
            avro_codec.write_avro(
                df,
                path,
                min_tasks=df.sparkSession.sparkContext.defaultParallelism,
            ).collect()
            return
    w = df.write.format(fmt).mode(mode)
    if fmt in ("parquet", "orc"):
        w = w.option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    for k, v in options.items():
        w = w.option(k, v)
    w.save(path)


def csv_to_parquet(
    spark: SparkSession,
    src_glob: str,
    dest: str,
    schema=None,
    partition_by: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    register_schema_dir: str | None = None,
    domain: str = "default",
    entity: str = "table",
) -> DataFrame:
    """T29 HadoopDataLoader analogue: recursive CSV discovery → one
    distributed read → partitioned snappy parquet. Returns the written
    DataFrame (re-read from dest, so callers see exactly what landed).
    """
    from hcdc_spark.sources.readers import read_csv

    df = read_csv(spark, src_glob, schema=schema)
    write_table(
        df,
        dest,
        partition_by=partition_by,
        max_records_per_file=max_records_per_file,
    )
    if register_schema_dir is not None:
        from hcdc_spark.cdc.materialize import register_schema

        register_schema(spark, register_schema_dir, domain, entity, df.schema)
    return spark.read.parquet(dest)
