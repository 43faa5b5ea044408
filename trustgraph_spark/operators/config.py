"""Config service — the reference's workspace-scoped configuration
store (config/service/config.py:16-301 over the Cassandra table
``config(workspace, class, key, value) PRIMARY KEY ((workspace,
class), key)`` plus a global ``version`` counter —
tables/config.py:18-293).  Everything TrustGraph configures — prompts,
flow blueprints, ontologies, schemas, token costs — rides this store,
so its read/write semantics are a real user-facing contract.

Spark-first shape: the store is an APPEND LOG — each write batch
(put or delete) appends rows stamped with a monotonically increasing
``seq`` (the version counter), and reads resolve last-write-wins per
``(workspace, type, key)`` with a single window argmax, dropping
tombstones.  This is the same layout as the rows store's append-log
mode: writes never rewrite history (blind Cassandra INSERT semantics
preserved), reads prune on the ``(workspace, type)`` partition columns
(the Cassandra partition key as parquet pruning), and compaction =
``config_resolve`` materialized back as a new snapshot.  At 100 TB the
resolve is one map-side-combinable shuffle on the partition key; point
lookups prune to one partition directory.

The service dispatch (operation routing, error shaping, workspace
push notifications, template provisioning) mirrors the reference
handler-for-handler; the data plane stays in DataFrames.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalyst import empty_frame

WORKSPACES_NAMESPACE = "__workspaces__"
WORKSPACE_TYPE = "workspace"
TEMPLATE_WORKSPACE = "__template__"

CONFIG_LOG_SCHEMA = ("workspace string, type string, key string, "
                     "value string, seq long, deleted boolean")


# ---------------------------------------------------------------------------
# Data plane
# ---------------------------------------------------------------------------


def config_resolve(log: DataFrame) -> DataFrame:
    """Append log -> current state: last write (max seq) per
    (workspace, type, key); delete tombstones drop the key.  One
    window shuffle keyed on the Cassandra partition key + clustering
    column — at any scale this is the whole read path."""
    w = Window.partitionBy("workspace", "type", "key").orderBy(
        F.col("seq").desc())
    return (log
            .withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") == 1) & ~F.col("deleted"))
            .drop("_rn", "deleted"))


def config_version(log: DataFrame) -> int:
    """The version counter = number of applied write batches
    (tables/config.py:107-124: one inc per handled put/delete)."""
    row = log.agg(F.max("seq").alias("v")).collect()[0]
    return int(row.v) if row.v is not None else 0


def provision_from_template(log: DataFrame, workspace: str,
                            seq: int) -> DataFrame:
    """config.py:168-196 ``provision_from_template`` as an anti-join:
    template entries whose (type, key) does not already exist in the
    target workspace become one new write batch (upsert-missing —
    operator customisations survive re-provisioning)."""
    current = config_resolve(log)
    template = current.where(F.col("workspace") == TEMPLATE_WORKSPACE)
    existing = (current.where(F.col("workspace") == workspace)
                .select("type", "key"))
    return (template
            .join(existing, ["type", "key"], "left_anti")
            .select(F.lit(workspace).alias("workspace"), "type", "key",
                    "value", F.lit(seq).cast("long").alias("seq"),
                    F.lit(False).alias("deleted")))


# ---------------------------------------------------------------------------
# Service kernel (driver-side dispatch, reference handler parity)
# ---------------------------------------------------------------------------


@dataclass
class ConfigValue:
    type: str
    key: str
    value: str | None = None
    workspace: str | None = None


@dataclass
class WorkspaceChanges:
    created: list = field(default_factory=list)
    deleted: list = field(default_factory=list)


@dataclass
class ConfigResponse:
    version: int | None = None
    values: list | None = None
    directory: list | None = None
    config: dict | None = None
    error: dict | None = None


class ConfigService:
    """Workspace-scoped config store over the append log.  Mutations
    append a write batch and bump ``seq``; every handler mirrors its
    reference twin (config/service/config.py) including the push
    payload ``{type: [workspace]}`` and the ``__workspaces__``
    WorkspaceChanges notifications that drive workspace lifecycle."""

    def __init__(self, spark: SparkSession, log: DataFrame | None = None,
                 push=None):
        self.spark = spark
        self.log = (log if log is not None
                    else empty_frame(spark, CONFIG_LOG_SCHEMA))
        self.seq = config_version(self.log)
        self.push = push or (lambda **kw: None)
        self.pushes: list[dict] = []

    # -- write path --

    def _append(self, rows: list[tuple]) -> None:
        batch = self.spark.createDataFrame(rows, CONFIG_LOG_SCHEMA)
        self.log = self.log.unionByName(batch)

    def _notify(self, types: list[str], workspace: str,
                workspace_changes=None) -> None:
        payload = {"changes": {t: [workspace] for t in types},
                   "workspace_changes": workspace_changes}
        self.pushes.append(payload)
        self.push(**payload)

    def handle_put(self, values: list[ConfigValue],
                   workspace: str) -> ConfigResponse:
        types = list(set(v.type for v in values))
        self.seq += 1
        self._append([(workspace, v.type, v.key, v.value, self.seq, False)
                      for v in values])
        workspace_changes = None
        if workspace == WORKSPACES_NAMESPACE and WORKSPACE_TYPE in types:
            created = [v.key for v in values if v.type == WORKSPACE_TYPE]
            if created:
                workspace_changes = WorkspaceChanges(created=created)
        self._notify(types, workspace, workspace_changes)
        return ConfigResponse()

    def handle_delete(self, keys: list[ConfigValue],
                      workspace: str) -> ConfigResponse:
        types = list(set(k.type for k in keys))
        self.seq += 1
        self._append([(workspace, k.type, k.key, None, self.seq, True)
                      for k in keys])
        workspace_changes = None
        if workspace == WORKSPACES_NAMESPACE and WORKSPACE_TYPE in types:
            deleted = [k.key for k in keys if k.type == WORKSPACE_TYPE]
            if deleted:
                workspace_changes = WorkspaceChanges(deleted=deleted)
        self._notify(types, workspace, workspace_changes)
        return ConfigResponse()

    # -- read path --

    def _current(self) -> DataFrame:
        return config_resolve(self.log)

    def handle_get(self, keys: list[ConfigValue],
                   workspace: str) -> ConfigResponse:
        state = {(r.type, r.key): r.value for r in
                 self._current().where(F.col("workspace") == workspace)
                 .collect()}
        values = [ConfigValue(type=k.type, key=k.key,
                              value=state.get((k.type, k.key)))
                  for k in keys]
        return ConfigResponse(version=self.seq, values=values)

    def handle_list(self, type_: str, workspace: str) -> ConfigResponse:
        rows = (self._current()
                .where((F.col("workspace") == workspace)
                       & (F.col("type") == type_))
                .select("key").collect())
        return ConfigResponse(version=self.seq,
                              directory=sorted(r.key for r in rows))

    def handle_getvalues(self, type_: str, workspace: str) -> ConfigResponse:
        rows = (self._current()
                .where((F.col("workspace") == workspace)
                       & (F.col("type") == type_))
                .select("key", "value").collect())
        return ConfigResponse(
            version=self.seq,
            values=[ConfigValue(type=type_, key=r.key, value=r.value)
                    for r in sorted(rows, key=lambda r: r.key)])

    def handle_getvalues_all_ws(self, type_: str) -> ConfigResponse:
        rows = (self._current().where(F.col("type") == type_)
                .select("workspace", "key", "value").collect())
        return ConfigResponse(
            version=self.seq,
            values=[ConfigValue(workspace=r.workspace, type=type_,
                                key=r.key, value=r.value)
                    for r in sorted(rows,
                                    key=lambda r: (r.workspace, r.key))])

    def handle_getkeys_all_ws(self, type_: str) -> ConfigResponse:
        rows = (self._current().where(F.col("type") == type_)
                .select("workspace", "key").collect())
        return ConfigResponse(
            version=self.seq,
            values=[ConfigValue(workspace=r.workspace, type=type_, key=r.key)
                    for r in sorted(rows,
                                    key=lambda r: (r.workspace, r.key))])

    def get_config(self, workspace: str) -> dict:
        config: dict = {}
        for r in (self._current().where(F.col("workspace") == workspace)
                  .collect()):
            config.setdefault(r.type, {})[r.key] = r.value
        return config

    def handle_config(self, workspace: str) -> ConfigResponse:
        return ConfigResponse(version=self.seq,
                              config=self.get_config(workspace))

    def provision_from_template(self, workspace: str) -> int:
        """Copy __template__ config into ``workspace``, skipping keys
        that already exist; returns the number written."""
        batch = provision_from_template(self.log, workspace, self.seq + 1)
        rows = batch.collect()
        if not rows:
            return 0
        self.seq += 1
        self._append([tuple(r) for r in rows])
        return len(rows)

    # -- convenience surface (the FlowConfig-facing API of the
    #    reference config client: get/put/delete/keys/put_many/
    #    delete_many/workspaces_for_type) --

    def get(self, workspace: str, type_: str, key: str) -> str | None:
        resp = self.handle_get([ConfigValue(type_, key)], workspace)
        return resp.values[0].value

    def put(self, workspace: str, type_: str, key: str, value: str) -> None:
        self.handle_put([ConfigValue(type_, key, value)], workspace)

    def delete(self, workspace: str, type_: str, key: str) -> None:
        self.handle_delete([ConfigValue(type_, key)], workspace)

    def keys(self, workspace: str, type_: str) -> list[str]:
        return self.handle_list(type_, workspace).directory

    def put_many(self, workspace: str,
                 values: list[tuple[str, str, str]]) -> None:
        self.handle_put([ConfigValue(t, k, v) for t, k, v in values],
                        workspace)

    def delete_many(self, workspace: str,
                    keys: list[tuple[str, str]]) -> None:
        self.handle_delete([ConfigValue(t, k) for t, k in keys], workspace)

    def workspaces_for_type(self, type_: str) -> list[str]:
        rows = (self._current().where(F.col("type") == type_)
                .select("workspace").distinct().collect())
        return sorted(r.workspace for r in rows)

    # -- dispatch (config.py:211-301) --

    def handle_workspace(self, msg: dict, workspace: str) -> ConfigResponse:
        op = msg.get("operation")
        if op == "get":
            return self.handle_get(msg["keys"], workspace)
        if op == "list":
            return self.handle_list(msg["type"], workspace)
        if op == "getvalues":
            return self.handle_getvalues(msg["type"], workspace)
        if op == "delete":
            return self.handle_delete(msg["keys"], workspace)
        if op == "put":
            return self.handle_put(msg["values"], workspace)
        if op == "config":
            return self.handle_config(workspace)
        return ConfigResponse(error={"type": "bad-operation",
                                     "message": "Bad operation"})

    def handle_system(self, msg: dict) -> ConfigResponse:
        op = msg.get("operation")
        if op == "getvalues-all-ws":
            return self.handle_getvalues_all_ws(msg["type"])
        if op == "getkeys-all-ws":
            return self.handle_getkeys_all_ws(msg["type"])
        if op in ("get", "list", "getvalues", "delete", "put", "config"):
            workspace = msg.get("workspace")
            if not workspace:
                return ConfigResponse(
                    error={"type": "bad-request",
                           "message": "Workspace is required"})
            return self.handle_workspace(msg, workspace)
        return ConfigResponse(error={"type": "bad-operation",
                                     "message": "Bad operation"})
