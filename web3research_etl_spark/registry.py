"""Schema-registry-driven evolution.

The registry is a small DataFrame (payload_version → column changes,
FIXTURES.md §3). Before applying a batch that carries payload_version N,
the engine resolves versions ≤ N against the live lake-table schema and
issues the missing ALTERs (add / rename / widen) as one metadata commit.
The reference has no such mechanism (SURVEY.md §1.4: two hand-synced
declarations, manual ALTER TABLE).

Payload extras are parsed from the JSON ``payload`` column with the
registry-declared types, old names mapped through renames, and widened
via cast — all JVM-side (`from_json`), no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.schemas import REGISTRY_SCHEMA


def default_registry(spark: SparkSession) -> DataFrame:
    """The FIXTURES.md §3 registry: v1 baseline `content_len:int`; v2 adds
    `fetch_status:int`; v3 renames fetch_status→http_status and widens
    content_len int→long; v4 adds the nested `outlinks` column — an
    array<struct> payload (SURVEY §1.1/§1.3: the reference's
    ``Nested(...)`` columns map to array<struct>,
    src/ch_tron/schema.rs:165-170); v5 adds `headers` — a
    map<string,string> payload (the reference's ``Map(String, ...)``
    columns, src/ch_tron/schema.rs:173). The type string is Spark DDL
    and flows unchanged through ALTER, from_json, and the lake read
    casts."""
    rows = [
        (1, "content_len", "int", "add", None),
        (2, "fetch_status", "int", "add", None),
        (3, "http_status", "int", "rename", "fetch_status"),
        (3, "content_len", "bigint", "widen", None),
        (4, "outlinks", "array<struct<href:string,anchor:string>>", "add", None),
        (5, "headers", "map<string,string>", "add", None),
    ]
    return spark.createDataFrame(rows, REGISTRY_SCHEMA)


def registry_changes(registry: DataFrame, up_to_version: int) -> list[dict]:
    """Ordered change list for versions ≤ up_to_version. The registry is
    tiny — collecting it to the driver is the broadcast-dim pattern."""
    rows = (
        registry.filter(F.col("payload_version") <= up_to_version)
        .orderBy("payload_version", "column_name")
        .collect()
    )
    return [
        {
            "change": r["change"],
            "name": r["column_name"],
            "type": r["column_type"],
            "renamed_from": r["renamed_from"],
        }
        for r in rows
    ]


def column_lineages(changes: list[dict]) -> list[dict]:
    """Replay registry changes into net column lineages:
    [{names: [first, ..., final], type: final_type}]. A column added at
    v2 and renamed at v3 is ONE lineage — so diffing against a live
    table never re-adds a column under a pre-rename name."""
    lineages: list[dict] = []

    def by_current_name(name: str) -> dict | None:
        for ln in lineages:
            if ln["names"][-1] == name:
                return ln
        return None

    for ch in changes:
        if ch["change"] == "add":
            if by_current_name(ch["name"]) is None:
                lineages.append({"names": [ch["name"]], "type": ch["type"]})
        elif ch["change"] == "rename":
            ln = by_current_name(ch["renamed_from"])
            if ln is None:  # renaming a base-table column: synthesize lineage
                ln = {"names": [ch["renamed_from"]], "type": ch["type"]}
                lineages.append(ln)
            ln["names"].append(ch["name"])
        elif ch["change"] == "widen":
            ln = by_current_name(ch["name"])
            if ln is not None:
                ln["type"] = ch["type"]
    return lineages


def sync_table_schema(table: LakeTable, changes: list[dict]) -> int:
    """Resolve registry changes (``registry_changes``) → live schema
    diff; issue one ALTER commit for the NET missing changes.
    Idempotent: diffs target state vs live state, so re-running (or
    running after a partial history) never re-applies a change whose
    effect is already visible."""
    have = {f.name: f.dataType.simpleString() for f in table.schema().fields}
    pending: list[dict] = []
    for ln in column_lineages(changes):
        final = ln["names"][-1]
        live_name = next((n for n in reversed(ln["names"]) if n in have), None)
        if live_name is None:
            pending.append({"change": "add", "name": final, "type": ln["type"]})
        else:
            if live_name != final:
                pending.append(
                    {"change": "rename", "name": final, "renamed_from": live_name}
                )
            if have[live_name] != ln["type"]:
                pending.append({"change": "widen", "name": final, "type": ln["type"]})
    if pending:
        return table.alter(pending)
    return table.current_snapshot()["snapshot_id"]


def parse_payload(batch: DataFrame, changes: list[dict]) -> DataFrame:
    """Extract registry-declared payload columns from the JSON payload,
    normalized to the final (post-rename, post-widen) names/types.

    Each column lineage parses every name it ever had at its final type;
    old payloads that used a pre-rename key are mapped via coalesce over
    those names, newest first; missing keys are null. Pure `from_json` —
    JVM-side.
    """
    lineages = column_lineages(changes)
    json_schema = ", ".join(
        f"{name} {ln['type']}" for ln in lineages for name in ln["names"]
    )
    parsed = batch.withColumn("_p", F.from_json(F.col("payload"), json_schema))
    for ln in lineages:
        srcs = [F.col(f"_p.{name}") for name in reversed(ln["names"])]
        parsed = parsed.withColumn(
            ln["names"][-1], srcs[0] if len(srcs) == 1 else F.coalesce(*srcs)
        )
    return parsed.drop("_p")
