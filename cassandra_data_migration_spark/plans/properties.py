"""cdm.properties front-end: parse the reference's property file
format into a :class:`MigrationConfig`.

The reference drives every CDM run with a Java-properties file plus
``--conf spark.cdm.*`` overrides (lab/cdm-config/cdm.properties:1-38,
lab/exercises/04-cdm-migration.md:116-124, docs/04-cdm-approach.md
property reference).  This module maps that exact key surface onto
the engine's config so an existing cdm.properties drops in unchanged;
cluster contact-point keys (``spark.cdm.connect.*``) are parsed and
reported but not dialed — origin/target resolve to table paths in
this environment (TESTDATA.md), with a Cassandra connector swapping
in at the read/write boundary on a real cluster.
"""

from __future__ import annotations

import os
import warnings

from cassandra_data_migration_spark.plans.migrate import MigrationConfig


def parse_properties(text: str) -> dict[str, str]:
    """Minimal Java-properties reader: ``k=v`` lines, ``#``/``!``
    comments, trimmed keys/values (the subset CDM files use)."""
    props: dict[str, str] = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith(("#", "!")):
            continue
        if "=" not in line:
            continue
        k, _, v = line.partition("=")
        props[k.strip()] = v.strip()
    return props


def _get_int(props: dict[str, str], key: str) -> int | None:
    v = props.get(key)
    return int(v) if v not in (None, "") else None


def _get_bool(props: dict[str, str], key: str, default: bool) -> bool:
    v = props.get(key)
    return default if v is None else v.lower() == "true"


def _get_list(props: dict[str, str], key: str) -> list[str]:
    v = props.get(key, "")
    return [c.strip() for c in v.split(",") if c.strip()]


def config_from_properties(
    props: dict[str, str],
    origin_path: str,
    target_path: str,
    dry_run: bool = False,
) -> MigrationConfig:
    """Map the spark.cdm.* key surface onto :class:`MigrationConfig`.

    Keys honored (reference file line refs in MigrationConfig):
    perfops.{numParts,batchSize}, schema.origin.
    {keyspaceTable,column.names,column.names.to.exclude}, filter.
    cassandra.{partition.min,partition.max,whereCondition}, feature.
    writetime.filter.{min,max}, feature.{ttl,writetime}.enabled,
    guardrail.{colSizeInKB,rowSizeInKB,columns} (no columns caps
    every migrated column), transform.custom.writetime.incrementBy,
    schema.ttlwritetime.calc.useCollections.

    ``perfops.ratelimit.target`` is not applied on the migrate path
    (the parquet sink has no throttle), so setting it warns instead of
    loading silently; the connector sink takes it as its own argument
    (``CassandraTableSource.write(rate_limit_rows_per_sec=...)``).
    """
    p = "spark.cdm."
    if props.get(p + "perfops.ratelimit.target"):
        warnings.warn(
            f"{p}perfops.ratelimit.target is not applied by migrate(); "
            "the run is not rate limited",
            stacklevel=2,
        )
    exclude = _get_list(props, p + "schema.origin.column.names.to.exclude")
    # feature toggles: disabling TTL/writetime preservation drops the
    # metadata columns from the migrated set (cdm.properties:20-21)
    if not _get_bool(props, p + "feature.ttl.enabled", True):
        exclude.append("_ttl")
    if not _get_bool(props, p + "feature.writetime.enabled", True):
        exclude.append("_writetime")
    guard_kb = props.get(p + "guardrail.colSizeInKB")
    guard_row_kb = props.get(p + "guardrail.rowSizeInKB")
    # spark.cdm.transform.custom.class: the reference names a Java
    # Transformer class; the Python analogue is a dotted callable path
    # ("pkg.mod:fn" or "pkg.mod.fn") resolved at load time
    transforms = []
    custom = props.get(p + "transform.custom.class")
    if custom:
        import importlib

        if ":" in custom:
            mod_name, fn_name = custom.split(":", 1)
        else:
            mod_name, _, fn_name = custom.rpartition(".")
        transforms.append(getattr(importlib.import_module(mod_name), fn_name))
    return MigrationConfig(
        origin_path=origin_path,
        target_path=target_path,
        table=props.get(p + "schema.origin.keyspaceTable", ""),
        include_columns=_get_list(props, p + "schema.origin.column.names")
        or None,
        exclude_columns=exclude,
        partition_min=_get_int(props, p + "filter.cassandra.partition.min"),
        partition_max=_get_int(props, p + "filter.cassandra.partition.max"),
        writetime_min=_get_int(props, p + "feature.writetime.filter.min"),
        writetime_max=_get_int(props, p + "feature.writetime.filter.max"),
        where_condition=props.get(p + "filter.cassandra.whereCondition"),
        guardrail_col_kb=float(guard_kb) if guard_kb else None,
        guardrail_row_kb=float(guard_row_kb) if guard_row_kb else None,
        guardrail_cols=_get_list(props, p + "guardrail.columns"),
        custom_transforms=transforms,
        writetime_increment=_get_int(
            props, p + "transform.custom.writetime.incrementBy"
        )
        or 0,
        num_parts=_get_int(props, p + "perfops.numParts"),
        batch_size=_get_int(props, p + "perfops.batchSize"),
        ttlwritetime_use_collections=_get_bool(
            props, p + "schema.ttlwritetime.calc.useCollections", False
        ),
        # trackRun/autoRerun (docs/04-cdm-approach.md:422-434); CDM
        # buckets by the table PK — the parquet stand-in names the key
        # column via the engine extension key trackRun.keyColumn
        track_run=_get_bool(props, p + "trackRun", False),
        track_key_col=props.get(p + "trackRun.keyColumn"),
        previous_run_id=props.get(p + "trackRun.previousRunId"),
        dry_run=dry_run,
    )


def load_config(
    path: str, origin_path: str, target_path: str, dry_run: bool = False
) -> MigrationConfig:
    with open(os.fspath(path), encoding="utf-8") as fh:
        return config_from_properties(
            parse_properties(fh.read()), origin_path, target_path, dry_run
        )
