"""ShareCatalog — the Share > Schema > Table namespace.

Mirrors the reference's static-config catalog
(server/.../config/ServerConfig.scala:49-95 ShareConfig/SchemaConfig/
TableConfig) and its listing endpoints with offset page tokens
(server/.../SharedTableManager.scala:40-190). Names are case-insensitive,
<=255 chars, no space/'/'/control chars; schema and table names also forbid
'.' (PROTOCOL.md:4300-4311).
"""

from __future__ import annotations

import base64
import json
import os
import threading
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from delta_sharing_spark.table import SharedTable

DEFAULT_MAX_RESULTS = 500  # ref SharedTableManager.scala:38
# long-lived table handles per catalog (ref deltaTableCacheSize,
# ServerConfig.scala:87; DeltaSharedTableLoader.scala:32-56)
TABLE_CACHE_SIZE = 10


@dataclass(frozen=True)
class Table:
    name: str
    schema: str
    share: str
    location: str = ""
    id: str | None = None
    cdf_enabled: bool = False


@dataclass(frozen=True)
class Schema:
    name: str
    share: str


@dataclass(frozen=True)
class Share:
    name: str


@dataclass
class _SchemaConfig:
    name: str
    tables: dict[str, Table] = field(default_factory=dict)


@dataclass
class _ShareConfig:
    name: str
    schemas: dict[str, _SchemaConfig] = field(default_factory=dict)


class CatalogError(Exception):
    pass


def _validate_name(name: str, allow_dot: bool = False) -> str:
    if not name or len(name) > 255:
        raise CatalogError(f"invalid name {name!r}: empty or >255 chars")
    bad = set(' /"') | {chr(c) for c in range(0x20)}
    if not allow_dot:
        bad.add(".")
    if any(ch in bad for ch in name):
        raise CatalogError(f"invalid name {name!r}: forbidden character")
    return name


def _encode_token(offset: int) -> str:
    return base64.urlsafe_b64encode(json.dumps({"offset": offset}).encode()).decode()


def _decode_token(token: str | None) -> int:
    if not token:
        return 0
    try:
        return int(json.loads(base64.urlsafe_b64decode(token))["offset"])
    except Exception as exc:
        raise CatalogError(f"invalid page token: {token!r}") from exc


def _page(items: list, max_results: int | None,
          page_token: str | None) -> tuple[list, str | None]:
    """Offset paging (ref SharedTableManager.scala:40-92 getPage)."""
    offset = _decode_token(page_token)
    if offset > len(items):
        raise CatalogError("page token out of range")
    n = DEFAULT_MAX_RESULTS if max_results is None else max_results
    if n < 0:
        raise CatalogError("maxResults must be >= 0")
    chunk = items[offset:offset + n]
    next_token = _encode_token(offset + n) if offset + n < len(items) else None
    return chunk, next_token


class ShareCatalog:
    """In-memory/JSON-file catalog of shares -> schemas -> tables."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._shares: dict[str, _ShareConfig] = {}
        # table location -> SharedTable, least recently used first: a
        # handle keeps its log's snapshot, manifest-plan, file-count and
        # commit caches across requests. Every cache hit inside the log
        # re-checks the files on disk, so a handle needs no expiry.
        self._tables: OrderedDict[str, SharedTable] = OrderedDict()
        self._tables_lock = threading.Lock()

    # ------------------------------------------------------------ definition

    def add_table(self, share: str, schema: str, table: str,
                  location: str, cdf_enabled: bool = False) -> Table:
        _validate_name(share, allow_dot=True)
        _validate_name(schema)
        _validate_name(table)
        share_cfg = self._shares.setdefault(share.lower(), _ShareConfig(share))
        schema_cfg = share_cfg.schemas.setdefault(schema.lower(),
                                                  _SchemaConfig(schema))
        t = Table(name=table, schema=schema_cfg.name, share=share_cfg.name,
                  location=os.path.abspath(location), cdf_enabled=cdf_enabled)
        schema_cfg.tables[table.lower()] = t
        return t

    @classmethod
    def from_config(cls, spark: SparkSession, config_path: str) -> ShareCatalog:
        """Load a JSON config shaped like the reference's YAML server config
        (shares -> schemas -> tables with name+location)."""
        cat = cls(spark)
        with open(config_path) as f:
            cfg = json.load(f)
        for share in cfg.get("shares", []):
            for schema in share.get("schemas", []):
                for table in schema.get("tables", []):
                    cat.add_table(share["name"], schema["name"], table["name"],
                                  table["location"],
                                  cdf_enabled=table.get("cdfEnabled", False))
        return cat

    # --------------------------------------------------------------- listing

    def list_shares(self, max_results: int | None = None,
                    page_token: str | None = None) -> tuple[list[Share], str | None]:
        items = [Share(s.name) for s in self._shares.values()]
        return _page(items, max_results, page_token)

    def get_share(self, share: str) -> Share:
        cfg = self._shares.get(share.lower())
        if cfg is None:
            raise CatalogError(f"share {share!r} not found")
        return Share(cfg.name)

    def list_schemas(self, share: str, max_results: int | None = None,
                     page_token: str | None = None) -> tuple[list[Schema], str | None]:
        cfg = self._shares.get(share.lower())
        if cfg is None:
            raise CatalogError(f"share {share!r} not found")
        items = [Schema(s.name, cfg.name) for s in cfg.schemas.values()]
        return _page(items, max_results, page_token)

    def list_tables(self, share: str, schema: str,
                    max_results: int | None = None,
                    page_token: str | None = None) -> tuple[list[Table], str | None]:
        share_cfg = self._shares.get(share.lower())
        if share_cfg is None:
            raise CatalogError(f"share {share!r} not found")
        schema_cfg = share_cfg.schemas.get(schema.lower())
        if schema_cfg is None:
            raise CatalogError(f"schema {share}.{schema!r} not found")
        return _page(list(schema_cfg.tables.values()), max_results, page_token)

    def list_all_tables(self, share: str, max_results: int | None = None,
                        page_token: str | None = None) -> tuple[list[Table], str | None]:
        """ListAllTables (ref SharedTableManager.scala:153-173)."""
        share_cfg = self._shares.get(share.lower())
        if share_cfg is None:
            raise CatalogError(f"share {share!r} not found")
        items = [t for sc in share_cfg.schemas.values()
                 for t in sc.tables.values()]
        return _page(items, max_results, page_token)

    # -------------------------------------------------------------- resolve

    def get_table(self, share: str, schema: str, table: str) -> Table:
        share_cfg = self._shares.get(share.lower())
        if share_cfg is None:
            raise CatalogError(f"share {share!r} not found")
        schema_cfg = share_cfg.schemas.get(schema.lower())
        if schema_cfg is None:
            raise CatalogError(f"schema {share}.{schema!r} not found")
        t = schema_cfg.tables.get(table.lower())
        if t is None:
            raise CatalogError(f"table {share}.{schema}.{table!r} not found")
        return t

    def load_table(self, qualified: str) -> SharedTable:
        """Resolve ``share.schema.table`` -> SharedTable (the reference's
        profile-URL fragment, python/delta_sharing/delta_sharing.py:37-52).
        Returns the catalog's long-lived handle for the table's location,
        from an LRU of TABLE_CACHE_SIZE handles."""
        parts = qualified.split(".")
        if len(parts) != 3:
            raise CatalogError(
                f"expected share.schema.table, got {qualified!r}")
        location = self.get_table(*parts).location
        with self._tables_lock:
            table = self._tables.get(location)
            if table is not None:
                self._tables.move_to_end(location)
                return table
            table = self._tables[location] = SharedTable(self.spark,
                                                         location)
            if len(self._tables) > TABLE_CACHE_SIZE:
                self._tables.popitem(last=False)
        return table


def register_share_views(catalog: ShareCatalog, share: str,
                         prefix: str | None = None) -> list[str]:
    """Register every table of a share as Spark temp views named
    ``<share>_<schema>_<table>`` (or ``<prefix>_<schema>_<table>``) so the
    whole share is queryable with plain ``spark.sql``."""
    names = []
    tables, token = catalog.list_all_tables(share), None
    for t in tables[0]:
        view = f"{prefix or t.share}_{t.schema}_{t.name}".replace(".", "_")
        catalog.load_table(f"{t.share}.{t.schema}.{t.name}") \
            .to_df().createOrReplaceTempView(view)
        names.append(view)
    _ = token
    return names
