"""CLI entrypoint — the reference binary's flow as ``python -m
gcs2postgres_spark`` (reference src/main.go:14-26: LoadConfig →
FetchSecret → Transfer).

Two sink modes:

- ``--jdbc``: the reference's real deployment — target schemas are
  fetched from Postgres information_schema (OP-4), rows reconcile onto
  them (OP-5/OP-6) and append via the partition-wise JDBC sink (OP-7).
  Needs a reachable database and the Postgres JDBC driver on the
  classpath.
- ``--sink-dir DIR`` (default): the offline/harness form — same
  read → reconcile → sink pipeline, parquet sink, identity target
  schemas derived from each source (so the reconcile stage still runs
  and is observable).

Secrets resolve env → file → Google Secret Manager exactly like the
reference's FetchSecret (src/utils/utils.go:70-87); a missing secret is
fatal only in --jdbc mode (parquet sinks need no password).

GCS deployments: pass --gcs-project/--gcs-keyfile to apply the
documented connector conf (sources/gcs.py) to the session, after which
bucket-relative file names in config.yaml resolve to gs:// URIs
(pipeline.resolve_source_path).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import types as T


def identity_target_schema(df) -> list[tuple[str, str]]:
    """A (column, pg_type) list equivalent to the source's own schema —
    the passthrough target for the offline sink, expressed in the same
    Postgres type names OP-6 maps so the reconcile stage is exercised
    rather than bypassed."""
    spark_to_pg = {
        T.StringType: "text",
        T.IntegerType: "integer",
        T.LongType: "bigint",
        T.DoubleType: "double precision",
        T.FloatType: "double precision",
        T.BooleanType: "boolean",
        T.DateType: "date",
        T.TimestampType: "timestamp",
        T.TimestampNTZType: "timestamp",
    }

    out = []
    for f in df.schema.fields:
        pg = next(
            (v for k, v in spark_to_pg.items() if isinstance(f.dataType, k)),
            "text",  # stringify fallback, same as OP-6's unknown-type rule
        )
        out.append((f.name, pg))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="gcs2postgres_spark")
    ap.add_argument("--config", required=True, help="config.yaml (reference shape)")
    ap.add_argument("--sink-dir", default=None, help="parquet sink directory (offline mode)")
    ap.add_argument("--jdbc", action="store_true", help="sink into Postgres via JDBC")
    ap.add_argument("--secrets-dir", default=None)
    ap.add_argument("--gsm-project", default=None, help="GCP project for bare secret names")
    ap.add_argument("--gcs-project", default=None)
    ap.add_argument("--gcs-keyfile", default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from gcs2postgres_spark.config import fetch_secret, load_config
    from gcs2postgres_spark.pipeline import resolve_source_path, transfer_all
    from gcs2postgres_spark.session import get_spark

    cfg = load_config(args.config)

    password = None
    if cfg.postgres.secret_name:
        try:
            password = fetch_secret(
                cfg.postgres.secret_name,
                secrets_dir=args.secrets_dir,
                project_id=args.gsm_project,
            )
        except Exception as e:
            if args.jdbc:
                print(f"secret resolution failed: {e}", file=sys.stderr)
                return 2
            print(f"warning: secret unresolved (parquet sink needs none): {e}", file=sys.stderr)

    spark = get_spark("gcs2postgres", master=args.master)
    # CLI flag beats config; config's gcs.project_id (reference
    # utils.go shape) is the default so a reference config works as-is
    gcs_project = args.gcs_project or cfg.gcs.project_id or None
    if gcs_project or args.gcs_keyfile:
        from gcs2postgres_spark.sources.gcs import gcs_connector_conf

        # session already exists: these land in the shared Hadoop conf
        for k, v in gcs_connector_conf(
            keyfile=args.gcs_keyfile, project_id=gcs_project, include_jar=False
        ).items():
            if k.startswith("spark.hadoop."):
                spark.sparkContext._jsc.hadoopConfiguration().set(
                    k[len("spark.hadoop."):], v
                )

    if args.jdbc:
        from gcs2postgres_spark.reconcile import fetch_target_schema_jdbc
        from gcs2postgres_spark.sinks import write_jdbc
        from gcs2postgres_spark.sources.readers import read_source
        from gcs2postgres_spark.reconcile import reconcile_to_target

        props = {"user": cfg.postgres.user, "driver": "org.postgresql.Driver"}
        if password:
            props["password"] = password
        url = cfg.postgres.jdbc_url()
        results = []
        for f in cfg.gcs.files:
            path = resolve_source_path(cfg.gcs, f.name)
            schema = fetch_target_schema_jdbc(spark, url, f.table, props)
            df = reconcile_to_target(read_source(spark, path), schema)
            write_jdbc(df, url, f.table, properties=props)
            results.append({"table": f.table, "ok": True})
        print(json.dumps(results))
        return 0

    sink_dir = args.sink_dir or "./out"
    from gcs2postgres_spark.sources.readers import read_source

    schemas = {
        f.table: identity_target_schema(
            read_source(spark, resolve_source_path(cfg.gcs, f.name))
        )
        for f in cfg.gcs.files
    }
    results = transfer_all(spark, cfg, schemas, sink_dir)
    print(
        json.dumps(
            [
                {"table": r.table, "rows": r.rows, "ok": r.ok, "error": r.error}
                for r in results
            ]
        )
    )
    return 0 if all(r.ok for r in results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
