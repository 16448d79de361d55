"""Admin / management surface: clusterql execution + user/auth statements.

Maps the reference's ClusterHandler (service/admin.go) and auth service
(service/auth.go, cluster/auth.go) onto the engine catalog:

- SHOW PARTITION KEYS → catalog.partition_keys, columns [database,
  measurement, tags] (admin.go:87-98)
- CREATE PARTITION KEY → register; duplicate → ConflictError/409
  (admin.go:100-116)
- DROP PARTITION KEY (admin.go:118-122)
- SHOW NODES → Spark executor inventory instead of etcd node storage
  (admin.go:136-144; columns [name, data location])
- REMOVE NODE → stub for API parity (Spark manages executors itself)
- SET REPLICATION FACTOR → recorded table property (README.md:109-129);
  storage-layer replication makes it advisory.
- Users/ACL: CREATE/DROP USER, GRANT/REVOKE, SET PASSWORD, SHOW USERS over
  an in-catalog user table with salted-hash passwords (auth.go:205-243).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from .influxql.clusterql import (Backup, ClusterQLError, CreatePartitionKey,
                                 DropPartitionKey, RemoveNode,
                                 SetReplicationFactor, ShowNodes,
                                 ShowPartitionKeys, ShowReplicationFactors,
                                 UpdatePartitionKey, is_admin_statement,
                                 parse_clusterql)
from .model import Catalog, PartitionKey
from .result import local_result


class ConflictError(Exception):
    """Duplicate partition key → HTTP 409 (admin.go:108-112)."""


class AdminHandler:
    def __init__(self, catalog: Catalog):
        self.catalog = catalog
        self.users: dict[str, dict] = {}

    # -- clusterql dispatch -------------------------------------------------
    def handle(self, q: str) -> DataFrame:
        stmt = parse_clusterql(q)
        if isinstance(stmt, ShowPartitionKeys):
            return self.show_partition_keys(stmt.database)
        if isinstance(stmt, CreatePartitionKey):
            return self.create_partition_key(stmt)
        if isinstance(stmt, DropPartitionKey):
            return self.drop_partition_key(stmt)
        if isinstance(stmt, ShowNodes):
            return self.show_nodes()
        if isinstance(stmt, RemoveNode):
            return self._empty([("name", "STRING")])  # parity stub
        if isinstance(stmt, SetReplicationFactor):
            key = f"{stmt.database}.{stmt.measurement}" if stmt.database else ""
            self.catalog.replication_factors[key] = stmt.factor
            return self._empty([("ok", "STRING")])
        if isinstance(stmt, UpdatePartitionKey):
            return self.update_partition_key(stmt)
        if isinstance(stmt, ShowReplicationFactors):
            return self.show_replication_factors()
        if isinstance(stmt, Backup):
            return self.backup(stmt)
        raise ClusterQLError("unhandled statement")

    def _empty(self, schema: list[tuple[str, str]]) -> DataFrame:
        return local_result(self.catalog.spark, [], schema)

    # -- partition keys -----------------------------------------------------
    def show_partition_keys(self, database: str | None = None) -> DataFrame:
        rows = [(pk.database, pk.measurement, ".".join(pk.tags))
                for pk in self.catalog.partition_keys
                if database is None or pk.database == database]
        return local_result(
            self.catalog.spark, rows,
            [("database", "STRING"), ("measurement", "STRING"),
             ("tags", "STRING")])

    def create_partition_key(self, stmt: CreatePartitionKey) -> DataFrame:
        for pk in self.catalog.partition_keys:
            if pk.database == stmt.database and pk.measurement == stmt.measurement:
                raise ConflictError(
                    f"partition key already exists on "
                    f"{stmt.database}.{stmt.measurement or '*'}")
        self.catalog.partition_keys.append(PartitionKey(
            database=stmt.database, measurement=stmt.measurement,
            tags=list(stmt.tags)))
        # a measurement with a physical hive layout is re-laid-out onto the
        # new key (the reference's post-key-change data movement,
        # syncing/importer.go:236-289); metadata-only measurements just get
        # the key recorded
        if stmt.measurement:
            try:
                m = self.catalog.get(stmt.database, stmt.measurement)
            except KeyError:
                m = None
            if m is not None and m.path:
                from .sources.partitioned import rebalance_measurement
                rebalance_measurement(self.catalog, stmt.database,
                                      stmt.measurement, list(stmt.tags))
        return self.show_partition_keys(stmt.database)

    def update_partition_key(self, stmt) -> DataFrame:
        """UPDATE PARTITION KEY — the reference's commented-out grammar
        (language.go:52-55: 'all data need to be downloaded and the
        partition key tag updated before saving the data in its new
        position'). Spark's version of that data movement: swap the
        registered key, then one repartition + hive rewrite
        (rebalance_measurement). Errors if no key exists to update."""
        existing = [pk for pk in self.catalog.partition_keys
                    if pk.database == stmt.database
                    and pk.measurement == stmt.measurement]
        if not existing:
            raise ClusterQLError(
                f"error parsing query: no partition key on "
                f"{stmt.database}.{stmt.measurement or '*'} to update")
        self.catalog.partition_keys = [
            pk for pk in self.catalog.partition_keys if pk not in existing]
        self.catalog.partition_keys.append(PartitionKey(
            database=stmt.database, measurement=stmt.measurement,
            tags=list(stmt.tags)))
        if stmt.measurement:
            try:
                m = self.catalog.get(stmt.database, stmt.measurement)
            except KeyError:
                m = None
            if m is not None and m.path:
                from .sources.partitioned import rebalance_measurement
                rebalance_measurement(self.catalog, stmt.database,
                                      stmt.measurement, list(stmt.tags))
        return self.show_partition_keys(stmt.database)

    def backup(self, stmt: Backup) -> DataFrame:
        """BACKUP — the reference's last commented-out grammar line
        (language.go:67: 'BACKUP * TO s3://my-bucket/'). Re-expressed as
        a distributed Parquet export: one write job per measurement to
        <dest>/<database>/<measurement>/, partitioned by the registered
        partition-key tags when present so a restore (or a direct
        spark.read on the backup) keeps partition pruning. No counts or
        collects — at 100 TB each export is a single scan+write."""
        targets = []
        for db, measurements in sorted(self.catalog.databases.items()):
            if stmt.database is not None and db != stmt.database:
                continue
            for name, m in sorted(measurements.items()):
                if stmt.measurement and name != stmt.measurement:
                    continue
                targets.append(m)
        if stmt.database is not None and not targets:
            raise ClusterQLError(
                f"error parsing query: no measurement matches "
                f"{stmt.database}.{stmt.measurement or '*'}")
        dest = stmt.destination.rstrip("/")
        rows = []
        for m in targets:
            location = f"{dest}/{m.database}/{m.name}"
            pk = self.catalog.partition_key_for(m.database, m.name)
            writer = m.df.write.mode("overwrite")
            part_cols = [t for t in (pk.tags if pk else []) if t in m.df.columns]
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            writer.parquet(location)
            rows.append((m.database, m.name, location,
                         ".".join(part_cols)))
        return local_result(
            self.catalog.spark, rows,
            [("database", "STRING"), ("measurement", "STRING"),
             ("location", "STRING"), ("partitioned_by", "STRING")])

    def show_replication_factors(self) -> DataFrame:
        """SHOW REPLICATION FACTORS — the reference's commented-out
        'SHOW REPLICATIONS FACTORS' (language.go:63)."""
        rows = []
        for key, factor in sorted(self.catalog.replication_factors.items()):
            db, _, m = key.partition(".")
            rows.append((db or "*", m, factor))
        return local_result(
            self.catalog.spark, rows,
            [("database", "STRING"), ("measurement", "STRING"),
             ("factor", "INT")])

    def drop_partition_key(self, stmt: DropPartitionKey) -> DataFrame:
        # language.go:45-48 notes data must be moved before dropping — in
        # Spark that move is a one-off repartition/rewrite job.
        self.catalog.partition_keys = [
            pk for pk in self.catalog.partition_keys
            if not (pk.database == stmt.database and
                    pk.measurement == stmt.measurement)]
        return self.show_partition_keys(stmt.database)

    # -- nodes ---------------------------------------------------------------
    def show_nodes(self) -> DataFrame:
        """SHOW NODES: executor inventory (columns per admin.go:143)."""
        sc = self.catalog.spark.sparkContext
        try:  # executor list is a JVM-side API; local mode → the driver only
            infos = sc._jsc.sc().statusTracker().getExecutorInfos()
            rows = [(e.host(), f"spark://{e.host()}:{e.port()}") for e in infos]
        except Exception:  # noqa: BLE001
            rows = []
        rows = rows or [("driver", sc.master)]
        return local_result(self.catalog.spark, rows,
                            [("name", "STRING"), ("data location", "STRING")])

    # -- users / auth (routing.go:140-148, service/auth.go) ------------------
    @staticmethod
    def _hash(password: str, salt: bytes | None = None) -> str:
        salt = salt or os.urandom(8)
        digest = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, 10_000)
        return salt.hex() + ":" + digest.hex()

    def _check(self, password: str, stored: str) -> bool:
        salt_hex, _, digest_hex = stored.partition(":")
        salt = bytes.fromhex(salt_hex)
        return hashlib.pbkdf2_hmac(
            "sha256", password.encode(), salt, 10_000).hex() == digest_hex

    def create_user(self, name: str, password: str, admin: bool = False):
        # first created user must be admin (query_handler.go:100-105)
        if not self.users and not admin:
            raise PermissionError("first user must be an admin")
        if name in self.users:
            raise ConflictError(f"user {name} already exists")
        self.users[name] = {"hash": self._hash(password), "admin": admin,
                            "grants": {}}

    def drop_user(self, name: str):
        self.users.pop(name, None)

    def set_password(self, name: str, password: str):
        if name not in self.users:
            raise KeyError(f"user not found: {name}")
        self.users[name]["hash"] = self._hash(password)

    def grant(self, name: str, database: str, privilege: str):
        if name not in self.users:
            raise KeyError(f"user not found: {name}")
        self.users[name]["grants"][database] = privilege.upper()

    def revoke(self, name: str, database: str):
        if name not in self.users:
            raise KeyError(f"user not found: {name}")
        self.users[name]["grants"].pop(database, None)

    def has_admin(self) -> bool:
        """True once any admin user exists (auth.go:61-70 HasAdmin — gates
        the first-admin-bootstrap exception)."""
        return any(u["admin"] for u in self.users.values())

    def is_admin(self, name: str) -> bool:
        u = self.users.get(name)
        return bool(u and u["admin"])

    def authenticate(self, name: str, password: str) -> bool:
        u = self.users.get(name)
        return bool(u) and self._check(password, u["hash"])

    def authorize(self, name: str, database: str, privilege: str) -> bool:
        """Per-statement privilege check (query_handler.go:98-111)."""
        u = self.users.get(name)
        if not u:
            return False
        if u["admin"]:
            return True
        have = u["grants"].get(database)
        if have == "ALL":
            return True
        return have == privilege.upper()

    def show_users(self) -> DataFrame:
        rows = [(n, u["admin"]) for n, u in sorted(self.users.items())]
        return local_result(self.catalog.spark, rows,
                            [("user", "STRING"), ("admin", "BOOLEAN")])
