"""One land-to-queryable iteration, run as a folder-convention job.

The job runner injects ``spark``, ``job_arguments`` and
``metadata_base_path`` (the benchmark passes the generated metadata as the
job's shared resources: ``metadata/raw`` describes the landed files,
``metadata/conformed`` the partitioned parquet tables). Steps: drop the
conformed database and its data, load both metadata folders, then per
table read the raw landing with its declared schema, validate it, derive
the partition column and write it; finally register the database (DDL +
MSCK) and answer the first SQL query on each table.

Each step is a span (``spans.py`` in ``py_resources``, which the runner
puts on ``sys.path``). The runner returns this script's globals, so the
benchmark reads ``tracer``, ``reports`` and ``first_counts`` from them.
"""

import json
import os

from pyspark.sql import functions as F
from spans import Tracer

from etl_manager_spark import read_database_folder
from etl_manager_spark.engine import Engine
from etl_manager_spark.validation import validate

unit = int(job_arguments["--unit"])
tracer = Tracer(
    spark,
    job_arguments["--run_id"],
    job_arguments["--trace"] == "1",
    id_prefix=f"u{unit}.",
    root_parent=job_arguments["--parent_span"] or None,
)
partition_exprs = json.loads(job_arguments["--partition_exprs"])
reports = {}
first_counts = {}

with tracer.span("job", unit=unit):
    with tracer.span("meta.load", unit=unit):
        raw = read_database_folder(os.path.join(metadata_base_path, "raw"))
        conformed = read_database_folder(os.path.join(metadata_base_path, "conformed"))
    conformed.delete_database(spark)
    conformed.delete_data_in_database(i_am_sure=True)
    engine = Engine(spark)
    for table in conformed.tables:
        source = raw.table(table.name)
        with tracer.span("sources.read_plan", unit=unit, table=table.name):
            df = source.read(spark)
        with tracer.span("validation.validate", unit=unit, table=table.name):
            report = validate(df, source)
        reports[table.name] = {"ok": report.ok, "rows": report.row_count}
        for col, expr in partition_exprs[table.name].items():
            df = df.withColumn(col, F.expr(expr))
        with tracer.span("sources.write", unit=unit, table=table.name):
            table.write(df, mode="overwrite")
    with tracer.span("engine.register", unit=unit):
        engine.register(conformed)
    with tracer.span("engine.first_sql", unit=unit):
        for table in conformed.tables:
            first_counts[table.name] = engine.sql(
                f"SELECT count(*) AS n FROM {conformed.name}.{table.name}"
            ).collect()[0]["n"]
