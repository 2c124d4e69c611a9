"""Iceberg-backed Catalog: the production storage the contract targets.

This is the implementation the `Catalog` ABC's method-by-method mapping
(plans/catalog.py module docstring) promises. It needs the
``org.apache.iceberg:iceberg-spark-runtime`` jar on the session
classpath — absent in the offline sandbox, so
``IcebergCatalog.available(spark)`` gates it and
tests/test_catalog_contract.py parametrizes over it with skip-if-absent:
the conformance suite (including the full engine crawl) runs against it
anywhere the jar exists, unchanged.

Design — one extra Iceberg table makes multi-table commits atomic:

Iceberg's metadata-pointer swap is atomic PER TABLE; the Catalog
contract requires a cross-table atomic version (clause 1). The standard
recipe is a tiny ``__manifest`` Iceberg table whose single-row-per-
version appends are the linearization points: ``commit()`` first writes
each data table (``writeTo(...).append()`` / ``createOrReplace()``),
then — as the LAST step — appends one manifest row pinning each table's
Iceberg *snapshot id* as of this version. Readers resolve
version → snapshot id → ``spark.read.option("snapshot-id", ...)``, so a
reader sees either the whole commit (manifest row visible) or the
previous version (not yet visible); data written before a crashed
manifest append is invisible garbage that ``expire_snapshots`` reclaims.
Tables not named in a commit carry their pinned snapshot id forward
(clause 4) without touching data. ``read_as_of`` is Iceberg time travel
against the pinned id (clause 5). Segment keys in the manifest are the
append snapshot ids, so ``n_dirs`` keeps its "appends since last
replace" meaning and ``compact`` maps to a rewrite + single-segment
re-pin (``rewrite_data_files`` being the heavy-duty equivalent).

``published_path`` raises: streaming readers on Iceberg tail the table
itself incrementally (Structured Streaming ``readStream.format
("iceberg")`` by snapshot id), replacing SnapshotCatalog's
published-symlink scheme — same stance as MemoryCatalog.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import DataFrame, SparkSession

from crawleria_spark.plans.catalog import Catalog

_MANIFEST = "__manifest"


class IcebergCatalog(Catalog):
    """Catalog over Apache Iceberg tables (see module docstring).

    ``catalog``: the Spark catalog plugin name (configured or configurable
    at runtime — ``ensure_session_catalog`` sets up a local hadoop-type
    catalog when given a warehouse dir). ``namespace``: the Iceberg
    namespace holding this crawl's tables.
    """

    def __init__(
        self,
        spark: SparkSession,
        namespace: str,
        catalog: str = "crawleria",
        warehouse: str | None = None,
    ):
        if not self.available(spark):
            raise RuntimeError(
                "iceberg-spark-runtime jar not on the session classpath"
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.root = f"{catalog}.{namespace}"
        self._lock = threading.Lock()
        if warehouse is not None:
            self.ensure_session_catalog(spark, catalog, warehouse)
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self._ident(_MANIFEST)} "
            "(version BIGINT, payload STRING) USING iceberg"
        )

    # -- gating / session setup -------------------------------------------

    @staticmethod
    def available(spark: SparkSession) -> bool:
        """True iff the Iceberg Spark runtime is loadable in this JVM."""
        try:
            spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.iceberg.spark.SparkCatalog"
            )
            return True
        except Exception:
            return False

    @staticmethod
    def ensure_session_catalog(
        spark: SparkSession, catalog: str, warehouse: str
    ) -> None:
        """Configure a local hadoop-type Iceberg catalog at runtime
        (catalog plugins resolve lazily, so this works on a live
        session)."""
        spark.conf.set(
            f"spark.sql.catalog.{catalog}", "org.apache.iceberg.spark.SparkCatalog"
        )
        spark.conf.set(f"spark.sql.catalog.{catalog}.type", "hadoop")
        spark.conf.set(f"spark.sql.catalog.{catalog}.warehouse", warehouse)

    # -- identifiers --------------------------------------------------------

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.`{table}`"

    def _current_snapshot_id(self, table: str) -> int:
        """The table's CURRENT snapshot id.

        Primary path: the Iceberg Java API's ``currentSnapshot()`` — the
        authoritative pointer. It removes the ordering ambiguity of
        sorting the ``.snapshots`` metadata table by ``committed_at
        DESC, snapshot_id DESC`` (snapshot ids are random, not
        monotonic, so a same-millisecond tie could pin the WRONG
        snapshot). It does NOT close the read-after-write race: the
        pointer is read after append()/createOrReplace() returns, so a
        concurrent external writer committing in that window is still
        pinned as this commit's snapshot. The sort remains only as a
        fallback when the Java helper is unavailable."""
        try:
            jtable = self.spark._jvm.org.apache.iceberg.spark.Spark3Util.loadIcebergTable(  # type: ignore[union-attr]
                self.spark._jsparkSession, self._ident(table)
            )
            snap = jtable.currentSnapshot()
            if snap is not None:
                return int(snap.snapshotId())
        except Exception:
            pass
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self._ident(table)}.snapshots "
            "ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1"
        ).first()
        return int(row[0])

    # -- storage core -------------------------------------------------------

    def _manifest_rows(self):
        return self.spark.sql(
            f"SELECT version, payload FROM {self._ident(_MANIFEST)}"
        ).collect()

    def _versions(self) -> list[int]:
        return sorted(int(r["version"]) for r in self._manifest_rows())

    def _load_manifest(self, version: int) -> dict:
        row = self.spark.sql(
            f"SELECT payload FROM {self._ident(_MANIFEST)} "
            f"WHERE version = {int(version)}"
        ).first()
        if row is None:
            raise KeyError(f"no manifest version {version} in {self.root}")
        p = json.loads(row[0])
        return {
            "version": version,
            # contract shape: {name: [segment,...]}; segments here are the
            # per-append Iceberg snapshot ids (strings)
            "tables": {k: v["segments"] for k, v in p["tables"].items()},
            "meta": p["meta"],
            "pins": {k: v["snapshot_id"] for k, v in p["tables"].items()},
        }

    def _read_pinned(self, table: str, snapshot_id: int) -> DataFrame:
        return (
            self.spark.read.format("iceberg")
            .option("snapshot-id", int(snapshot_id))
            .load(f"{self.catalog}.{self.namespace}.{table}")
        )

    def read(self, table: str) -> DataFrame:
        m = self.latest_manifest()
        if not m or table not in m["tables"]:
            raise KeyError(f"table {table!r} not in catalog at {self.root}")
        return self._read_pinned(table, m["pins"][table])

    def read_as_of(self, table: str, version: int) -> DataFrame:
        m = self._load_manifest(version)
        if table not in m["tables"]:
            raise KeyError(f"table {table!r} not in manifest v{version}")
        return self._read_pinned(table, m["pins"][table])

    def commit(self, replace=None, append=None, meta=None, drop=None) -> int:
        with self._lock:
            prev = self.latest_manifest()
            version = (prev["version"] + 1) if prev else 0
            tables: dict[str, dict] = (
                {
                    name: {"snapshot_id": prev["pins"][name], "segments": list(segs)}
                    for name, segs in prev["tables"].items()
                }
                if prev
                else {}
            )
            for name in drop or []:
                tables.pop(name, None)
            for name, df in (replace or {}).items():
                df.writeTo(self._ident(name)).using("iceberg").createOrReplace()
                sid = self._current_snapshot_id(name)
                tables[name] = {"snapshot_id": sid, "segments": [str(sid)]}
            for name, df in (append or {}).items():
                writer = df.writeTo(self._ident(name)).using("iceberg")
                if name in tables:
                    writer.append()
                else:
                    writer.createOrReplace()
                sid = self._current_snapshot_id(name)
                entry = tables.setdefault(
                    name, {"snapshot_id": sid, "segments": []}
                )
                entry["snapshot_id"] = sid
                entry["segments"] = entry["segments"] + [str(sid)]
            payload = json.dumps({"tables": tables, "meta": meta or {}})
            # the linearization point: one single-table atomic append
            self.spark.createDataFrame(
                [(version, payload)], "version bigint, payload string"
            ).writeTo(self._ident(_MANIFEST)).append()
            return version

    @staticmethod
    def _pinned_snapshot_ids(manifests: list[dict]) -> dict[str, set[int]]:
        """table -> snapshot ids pinned by ANY of the given manifests —
        the set physical reclaim must never expire. Covers both the
        read pins and every per-append segment id (a compact() re-pin
        keeps segments that older surviving versions still read)."""
        pinned: dict[str, set[int]] = {}
        for m in manifests:
            for name, segs in m["tables"].items():
                ids = pinned.setdefault(name, set())
                ids.add(int(m["pins"][name]))
                ids.update(int(s) for s in segs)
        return pinned

    def gc(self, keep_last: int = 2) -> None:
        with self._lock:
            versions = self._versions()
            if len(versions) <= keep_last:
                return
            cutoff = versions[-keep_last]
            self.spark.sql(
                f"DELETE FROM {self._ident(_MANIFEST)} WHERE version < {cutoff}"
            )
            # Best-effort physical reclaim that can NEVER expire a pinned
            # snapshot. The previous retain_last=keep_last call kept the N
            # NEWEST snapshots per table — not the pinned ones: an orphan
            # snapshot from a crashed commit, or a table appearing in both
            # replace= and append= of one commit (2 snapshots/version),
            # shifts the window so a snapshot still pinned by a surviving
            # manifest version gets expired, breaking read()/read_as_of()
            # (r6 ADVICE). Now: compute the ids pinned by every SURVIVING
            # manifest version and expire strictly older than the oldest
            # pinned commit time; skip the table entirely if any pinned id
            # is missing from its snapshots metadata.
            survivors = [self._load_manifest(v) for v in self._versions()]
            pinned = self._pinned_snapshot_ids(survivors)
            for name, ids in pinned.items():
                try:
                    id_list = ",".join(str(i) for i in sorted(ids))
                    row = self.spark.sql(
                        f"SELECT count(*), min(committed_at) "
                        f"FROM {self._ident(name)}.snapshots "
                        f"WHERE snapshot_id IN ({id_list})"
                    ).first()
                    if row is None or int(row[0]) != len(ids) or row[1] is None:
                        continue  # a pinned id is unaccounted for: don't expire
                    oldest = row[1]
                    ts = oldest.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
                    self.spark.sql(
                        f"CALL {self.catalog}.system.expire_snapshots("
                        f"table => '{self.namespace}.{name}', "
                        f"older_than => TIMESTAMP '{ts}', retain_last => 1)"
                    )
                except Exception:
                    pass  # data-file GC is an optimization, never correctness

    def published_path(self, table: str) -> str:
        raise NotImplementedError(
            "Iceberg tables are tailed incrementally by snapshot id "
            "(readStream.format('iceberg')), not via published segment "
            "symlinks — use the table identifier, not a glob path."
        )
