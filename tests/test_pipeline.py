"""End-to-end parity pipeline: config → multi-format sources → reconcile →
sink, with table-level parallelism (SURVEY §5.2(5))."""

from __future__ import annotations

import textwrap

from gcs2postgres_spark.config import fetch_secret, load_config
from gcs2postgres_spark.pipeline import transfer_all
from gcs2postgres_spark.sources.readers import read_source


def test_load_config_reference_shape(tmp_path):
    # same YAML shape as reference config.yaml:1-25
    cfg_file = tmp_path / "config.yaml"
    cfg_file.write_text(
        textwrap.dedent(
            """
            postgres:
              host: "localhost"
              port: 5432
              user: "pg"
              database: "db"
              secret_name: "pg-pass"
            gcs:
              bucket_name: "bkt"
              concurrent_jobs: 2
              dataset: "tpch"
              files:
                - name: "regions.parquet"
                  table: "region"
            bq:
              dataset: "tpch"
              tables:
                - name: "nation"
                  table: "nation"
            """
        )
    )
    cfg = load_config(str(cfg_file))
    assert cfg.postgres.jdbc_url() == "jdbc:postgresql://localhost:5432/db"
    assert cfg.gcs.concurrent_jobs == 2
    assert cfg.gcs.files[0].table == "region"
    assert cfg.bq.tables[0].name == "nation"


def test_load_config_reference_verbatim_fields(tmp_path):
    # fields the REFERENCE config.yaml carries verbatim (sslmode,
    # dbname, gcs/bq project_id — reference utils.go:24, config.yaml)
    # must parse, not silently drop (r8 review: the example config
    # documented keys the loader ignored)
    cfg_file = tmp_path / "config.yaml"
    cfg_file.write_text(
        textwrap.dedent(
            """
            postgres:
              host: "h"
              port: 5433
              user: "u"
              dbname: "tfmv"
              sslmode: "require"
              secret_name: "s"
            gcs:
              bucket_name: "b"
              project_id: "proj-1"
              dataset: "d"
              files: []
              concurrent_jobs: 1
            bq:
              project_id: "proj-2"
              dataset: "d"
              tables: []
            """
        )
    )
    cfg = load_config(str(cfg_file))
    assert cfg.postgres.jdbc_url() == "jdbc:postgresql://h:5433/tfmv?sslmode=require"
    assert cfg.gcs.project_id == "proj-1"
    assert cfg.bq.project_id == "proj-2"


def test_fetch_secret_env(monkeypatch):
    monkeypatch.setenv("SECRET_PG_PASS", "hunter2")
    assert fetch_secret("pg-pass") == "hunter2"


def test_fetch_secret_file(tmp_path):
    (tmp_path / "tok").write_text("s3cret\n")
    assert fetch_secret("tok", secrets_dir=str(tmp_path)) == "s3cret"


def test_gsm_resource_name_assembly():
    from gcs2postgres_spark.config import gsm_resource_name

    # bare name + project expands to .../versions/latest
    assert (
        gsm_resource_name("pg-pass", "my-proj")
        == "projects/my-proj/secrets/pg-pass/versions/latest"
    )
    # full resource path passes through; secret-level path gains /versions/latest
    full = "projects/p/secrets/s/versions/7"
    assert gsm_resource_name(full) == full
    assert (
        gsm_resource_name("projects/p/secrets/s")
        == "projects/p/secrets/s/versions/latest"
    )
    import pytest

    with pytest.raises(ValueError, match="project_id"):
        gsm_resource_name("bare-name")


def test_fetch_secret_gsm_via_injected_client():
    # offline drive of the Secret Manager backend (reference
    # src/utils/utils.go:70-87): the client seam receives the assembled
    # resource name and its payload round-trips
    from gcs2postgres_spark.config import fetch_secret

    class FakeResp:
        class payload:  # noqa: N801 - mirrors the proto attribute shape
            data = b"from-gsm"

    class FakeClient:
        def __init__(self):
            self.seen = None

        def access_secret_version(self, name):
            self.seen = name
            return FakeResp()

    c = FakeClient()
    got = fetch_secret("pg-pass", project_id="my-proj", gsm_client=c)
    assert got == "from-gsm"
    assert c.seen == "projects/my-proj/secrets/pg-pass/versions/latest"
    # env var still wins over GSM (resolution order unchanged)
    import os

    os.environ["SECRET_PG_PASS2"] = "env-wins"
    try:
        assert (
            fetch_secret("pg-pass2", project_id="p", gsm_client=c) == "env-wins"
        )
    finally:
        del os.environ["SECRET_PG_PASS2"]


def test_cli_main_offline_parquet_sink(spark, sf_dir, tmp_path):
    """python -m gcs2postgres_spark, offline form: the reference
    binary's LoadConfig -> FetchSecret -> Transfer flow end-to-end
    against the test parquet, with identity target schemas keeping the
    reconcile stage in the pipeline. Secret resolution failure is a
    warning, not fatal, for the parquet sink."""
    import json

    import yaml

    from gcs2postgres_spark.__main__ import main

    cfg = {
        "postgres": {"host": "h", "port": 5432, "user": "u", "database": "d",
                     "secret_name": "does-not-exist"},
        "gcs": {
            "bucket_name": "",
            "concurrent_jobs": 2,
            "files": [
                {"name": f"{sf_dir}/region.parquet", "table": "region"},
                {"name": f"{sf_dir}/nation.parquet", "table": "nation"},
            ],
        },
    }
    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    sink = tmp_path / "out"
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["--config", str(cfg_path), "--sink-dir", str(sink)])
    assert rc == 0
    results = {r["table"]: r for r in json.loads(buf.getvalue())}
    assert results["region"]["ok"] and results["region"]["rows"] == 5
    assert results["nation"]["ok"] and results["nation"]["rows"] == 25
    got = spark.read.parquet(str(sink / "nation")).count()
    assert got == 25


def test_cli_identity_target_schema_types(spark):
    from gcs2postgres_spark.__main__ import identity_target_schema

    df = spark.createDataFrame(
        [(1, "a", 1.5, True)], "i long, s string, d double, b boolean"
    )
    assert identity_target_schema(df) == [
        ("i", "bigint"),
        ("s", "text"),
        ("d", "double precision"),
        ("b", "boolean"),
    ]


def test_cli_identity_target_keeps_zoneless_timestamps(spark, tmp_path):
    """A parquet TIMESTAMP_NTZ column (zone-less) reconciles as
    ``timestamp``, not the ``text`` fallback: the offline transfer keeps
    its wall-clock values under the pinned UTC session."""
    from gcs2postgres_spark.__main__ import identity_target_schema
    from gcs2postgres_spark.pipeline import transfer_file

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    src = tmp_path / "ntz.parquet"
    spark.sql(
        "SELECT 1 AS id, timestamp_ntz'1996-01-02 00:00:00' AS o_orderdate"
        " UNION ALL SELECT 2, timestamp_ntz'2024-06-30 23:59:58.25'"
    ).coalesce(1).write.parquet(str(src))
    df = read_source(spark, str(src))
    assert dict(df.dtypes)["o_orderdate"] == "timestamp_ntz"
    target = identity_target_schema(df)
    assert target == [("id", "integer"), ("o_orderdate", "timestamp")]
    res = transfer_file(spark, str(src), "ntz", target, str(tmp_path / "sink"))
    assert res.ok and res.rows == 2
    out = spark.read.parquet(str(tmp_path / "sink" / "ntz"))
    assert dict(out.dtypes)["o_orderdate"] == "timestamp"
    got = out.selectExpr("CAST(o_orderdate AS STRING) AS s").orderBy("s").collect()
    assert [r["s"] for r in got] == ["1996-01-02 00:00:00", "2024-06-30 23:59:58.25"]


def test_resolve_source_path_bucket_vs_local():
    from gcs2postgres_spark.config import GCSConfig
    from gcs2postgres_spark.pipeline import resolve_source_path

    with_bucket = GCSConfig(bucket_name="bkt")
    no_bucket = GCSConfig()
    # bucket-relative name → gs:// (reference SourceURIs, src/db/db.go:28)
    assert resolve_source_path(with_bucket, "data/region.csv") == (
        "gs://bkt/data/region.csv"
    )
    # absolute and scheme'd paths pass through even with a bucket set
    assert resolve_source_path(with_bucket, "/tmp/region.csv") == "/tmp/region.csv"
    assert (
        resolve_source_path(with_bucket, "s3a://other/x.parquet")
        == "s3a://other/x.parquet"
    )
    # no bucket configured: names are plain paths (offline harness)
    assert resolve_source_path(no_bucket, "data/region.csv") == "data/region.csv"


def test_gcs_connector_conf_assembly():
    from gcs2postgres_spark.sources.gcs import (
        BIGQUERY_CONNECTOR_COORD,
        GCS_CONNECTOR_COORD,
        bigquery_read_options,
        gcs_connector_conf,
        gcs_uri,
    )

    conf = gcs_connector_conf(keyfile="/secrets/sa.json", project_id="my-proj")
    assert conf["spark.jars.packages"] == GCS_CONNECTOR_COORD
    assert conf["spark.hadoop.fs.gs.impl"].endswith("GoogleHadoopFileSystem")
    assert (
        conf["spark.hadoop.google.cloud.auth.service.account.json.keyfile"]
        == "/secrets/sa.json"
    )
    assert conf["spark.hadoop.fs.gs.project.id"] == "my-proj"
    # ADC mode: no keyfile -> no service-account override keys at all
    adc = gcs_connector_conf()
    assert not any("service.account" in k for k in adc)
    assert gcs_uri("bkt", "/data/region.csv") == "gs://bkt/data/region.csv"
    assert "_2.13" in BIGQUERY_CONNECTOR_COORD
    opts = bigquery_read_options(
        "nation", dataset="tpch", parent_project="billing-proj"
    )
    assert opts == {"table": "tpch.nation", "parentProject": "billing-proj"}
    assert bigquery_read_options("p.d.t")["table"] == "p.d.t"


def test_transfer_all_parallel(spark, sf_dir, tmp_path):
    import yaml

    cfg_file = tmp_path / "config.yaml"
    cfg_file.write_text(
        yaml.safe_dump(
            {
                "postgres": {"host": "x", "port": 5432, "user": "u", "database": "d"},
                "gcs": {
                    "bucket_name": "local",
                    "concurrent_jobs": 2,
                    "files": [
                        {"name": f"{sf_dir}/region.parquet", "table": "region_out"},
                        {"name": f"{sf_dir}/nation.parquet", "table": "nation_out"},
                    ],
                },
            }
        )
    )
    cfg = load_config(str(cfg_file))
    schemas = {
        "region_out": [("r_regionkey", "integer"), ("r_name", "text"), ("load_note", "text")],
        "nation_out": [("n_nationkey", "integer"), ("n_name", "text")],
    }
    results = transfer_all(spark, cfg, schemas, str(tmp_path / "sink"))
    assert [r.table for r in results] == ["nation_out", "region_out"]
    assert all(r.ok for r in results)
    assert {r.table: r.rows for r in results} == {"nation_out": 25, "region_out": 5}

    region_out = read_source(spark, str(tmp_path / "sink" / "region_out"), fmt="parquet")
    assert region_out.columns == ["r_regionkey", "r_name", "load_note"]
    assert all(r["load_note"] is None for r in region_out.collect())


def test_transfer_isolates_failures(spark, sf_dir, tmp_path):
    import yaml

    cfg_file = tmp_path / "config.yaml"
    cfg_file.write_text(
        yaml.safe_dump(
            {
                "gcs": {
                    "concurrent_jobs": 2,
                    "files": [
                        {"name": f"{sf_dir}/region.parquet", "table": "ok_table"},
                        {"name": f"{sf_dir}/nope.parquet", "table": "bad_table"},
                    ],
                }
            }
        )
    )
    cfg = load_config(str(cfg_file))
    schemas = {"ok_table": [("r_regionkey", "int4")], "bad_table": [("x", "text")]}
    results = transfer_all(spark, cfg, schemas, str(tmp_path / "sink"))
    by_table = {r.table: r for r in results}
    assert by_table["ok_table"].ok
    assert not by_table["bad_table"].ok  # isolated, unlike reference log.Fatalf


def test_transfer_all_enumerates_bq_tables(spark, sf_dir, tmp_path):
    """The reference transfers BOTH gcs.files AND bq.tables; the bq half
    must be enumerated (it is the program's namesake). Offline the
    connector jar is absent, so the bq table reports an isolated
    actionable failure while the gcs file still lands."""
    import yaml

    from gcs2postgres_spark.pipeline import bq_table_id

    cfg_file = tmp_path / "config.yaml"
    cfg_file.write_text(
        yaml.safe_dump(
            {
                "gcs": {
                    "concurrent_jobs": 2,
                    "files": [
                        {"name": f"{sf_dir}/region.parquet", "table": "region_out"}
                    ],
                },
                "bq": {
                    "project_id": "proj",
                    "dataset": "tpch",
                    "tables": [{"name": "nation", "table": "nation_out"}],
                },
            }
        )
    )
    cfg = load_config(str(cfg_file))
    assert bq_table_id(cfg.bq, "nation") == "proj.tpch.nation"
    assert bq_table_id(cfg.bq, "other.ds.t") == "other.ds.t"
    schemas = {"region_out": [("r_regionkey", "int4")], "nation_out": [("n_nationkey", "int4")]}
    results = transfer_all(spark, cfg, schemas, str(tmp_path / "sink"))
    by_table = {r.table: r for r in results}
    assert by_table["region_out"].ok
    assert not by_table["nation_out"].ok
    assert "connector" in (by_table["nation_out"].error or "").lower()


def test_observation_metrics_on_load(spark, sf_dir):
    # pipeline observability via df.observe(): row counts and sums are
    # collected as a side effect of the ONE action (no second pass over
    # the data) — the mechanism a production transfer uses to publish
    # per-table load metrics without re-scanning.
    from pyspark.sql import Observation
    import pyspark.sql.functions as F

    from gcs2postgres_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("load_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("total_qty"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = li.agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("l_quantity").alias("total_qty")
    ).collect()[0]
    assert got["n_rows"] == want["n_rows"]
    assert abs(got["total_qty"] - want["total_qty"]) < 1e-6


def test_transfer_rows_match_source_count(spark, sf_dir, tmp_path):
    # TransferResult.rows is observed on the sink write itself (no job
    # reads the sink back); it must equal the source's own count, also
    # for a source with no rows
    from gcs2postgres_spark.pipeline import transfer_file

    src = f"{sf_dir}/lineitem.parquet"
    want = spark.read.parquet(src).count()
    got = transfer_file(
        spark, src, "lineitem_out",
        [("l_orderkey", "int8"), ("l_quantity", "numeric")],
        str(tmp_path / "sink"),
    )
    assert got.ok and got.rows == want > 0
    assert spark.read.parquet(str(tmp_path / "sink" / "lineitem_out")).count() == want

    empty = str(tmp_path / "empty_src")
    spark.read.parquet(src).limit(0).write.parquet(empty)
    got = transfer_file(spark, empty, "empty_out", [("l_orderkey", "int8")],
                        str(tmp_path / "sink"), fmt="parquet")
    assert got.ok and got.rows == 0
