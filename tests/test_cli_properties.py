"""cdm.properties front-end + CLI: the reference's own property file
must drop in unchanged, and the module CLI must reproduce the lab's
migrate/validate flows."""

from __future__ import annotations

import json

import pytest

from cassandra_data_migration_spark.__main__ import main
from cassandra_data_migration_spark.plans.properties import (
    config_from_properties,
    parse_properties,
)
from tests.conftest import SF_SMOKE

REFERENCE_PROPERTIES = "/root/reference/lab/cdm-config/cdm.properties"


def test_parse_properties_comments_and_whitespace():
    props = parse_properties(
        "# comment\n! also comment\n\n  a.b = 1 \nno_equals_line\nc=x=y\n"
    )
    assert props == {"a.b": "1", "c": "x=y"}


def test_reference_cdm_properties_drop_in():
    with open(REFERENCE_PROPERTIES, encoding="utf-8") as fh:
        props = parse_properties(fh.read())
    # the lab's file sets ratelimit.target, which migrate() does not
    # apply: it still loads, with a warning
    with pytest.warns(UserWarning, match="ratelimit.target"):
        cfg = config_from_properties(props, "origin", "target")
    # the exact values the lab ships (lab/cdm-config/cdm.properties)
    assert cfg.num_parts == 4
    assert cfg.batch_size == 5
    # ttl/writetime preservation enabled → metadata columns retained
    assert "_ttl" not in cfg.exclude_columns
    assert "_writetime" not in cfg.exclude_columns


def test_ratelimit_target_warns_instead_of_being_ignored():
    props = {
        "spark.cdm.perfops.ratelimit.target": "5000",
        "spark.cdm.perfops.numParts": "4",
    }
    with pytest.warns(UserWarning, match="perfops.ratelimit.target"):
        cfg = config_from_properties(props, "origin", "target")
    assert cfg.num_parts == 4
    assert not hasattr(cfg, "rate_limit_rows_per_sec")


def test_feature_toggles_exclude_metadata_columns():
    cfg = config_from_properties(
        {
            "spark.cdm.feature.ttl.enabled": "false",
            "spark.cdm.feature.writetime.enabled": "false",
            "spark.cdm.filter.cassandra.partition.min": "2",
            "spark.cdm.filter.cassandra.partition.max": "9",
            "spark.cdm.guardrail.colSizeInKB": "10",
            "spark.cdm.schema.ttlwritetime.calc.useCollections": "true",
        },
        "o",
        "t",
    )
    assert "_ttl" in cfg.exclude_columns
    assert "_writetime" in cfg.exclude_columns
    assert (cfg.partition_min, cfg.partition_max) == (2, 9)
    assert cfg.guardrail_col_kb == 10.0
    assert cfg.ttlwritetime_use_collections is True


def test_cli_migrate_and_validate_roundtrip(spark, tmp_path, capsys):
    props = tmp_path / "cdm.properties"
    props.write_text(
        "spark.cdm.perfops.numParts=2\n"
        "spark.cdm.filter.cassandra.whereCondition=o_orderstatus = 'O'\n"
    )
    target = str(tmp_path / "out")
    rc = main(
        [
            "migrate",
            "--properties",
            str(props),
            "--origin",
            f"{SF_SMOKE}/orders.parquet",
            "--target",
            target,
        ]
    )
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert report["rows_written"] == report["rows_read"] > 0
    want = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .filter("o_orderstatus = 'O'")
        .count()
    )
    assert report["rows_written"] == want

    rc = main(
        [
            "validate",
            "--origin",
            target,
            "--target",
            target,
            "--pk",
            "o_orderkey",
            "--table",
            "orders",
        ]
    )
    verdict = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert verdict["status"] == "PASS"
    assert verdict["missing"] == verdict["mismatched"] == 0


def test_cli_sizing_subcommand(spark, capsys):
    from cassandra_data_migration_spark.__main__ import main

    rc = main(
        [
            "sizing",
            "--tables",
            f"region={SF_SMOKE}/region.parquet,"
            f"orders={SF_SMOKE}/orders.parquet",
            "--pk-is-partition-key",
            "orders",
            "--ratelimit",
            "1000",
        ]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    plan = {p["table_name"]: p for p in out["plan"]}
    assert plan["orders"]["batch_size"] == 1  # PK=partition-key rule
    assert plan["region"]["batch_size"] == 5
    n = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
    assert plan["orders"]["eta_seconds"] == -(-n // 1000)
