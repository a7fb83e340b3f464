"""Client-surface parity: profile files and load_as_* entry points.

Mirrors the reference's Python connector surface
(python/delta_sharing/delta_sharing.py):

- profile file: JSON with shareCredentialsVersion and an engine endpoint
  (PROTOCOL.md:4278-4298). In-engine there is no REST endpoint or bearer
  token; the profile's ``endpoint`` is the path of a catalog config JSON
  (catalog.ShareCatalog.from_config shape).
- table URL: ``<profile-path>#<share>.<schema>.<table>``
  (delta_sharing.py:37-52 ``_parse_url``).
- ``load_as_spark(url)`` -> DataFrame (delta_sharing.py:455-500);
- ``load_as_pandas(url, limit=...)`` -> pandas DataFrame with the exact
  client-side limit cut (delta_sharing.py:118-157, reader.py:201-224);
- ``SharingClient``: list_shares/list_schemas/list_tables/list_all_tables
  (delta_sharing.py:627-688).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from delta_sharing_spark.catalog import Schema, Share, ShareCatalog, Table
from delta_sharing_spark.table import SharedTable


PROFILE_CURRENT_VERSION = 2


@dataclass(frozen=True)
class DeltaSharingProfile:
    """Profile file (PROTOCOL.md:4278-4298; Python mirror
    python/delta_sharing/protocol.py:30-156). V1 = bearer token (+optional
    ``expirationTime``); V2 adds a ``type`` discriminator —
    ``bearer_token`` | ``oauth_client_credentials`` (token endpoint +
    client id/secret, RFC 6749 client-credentials grant). In-engine the
    ``endpoint`` doubles as the catalog-config path."""

    share_credentials_version: int
    endpoint: str  # catalog config path (no REST in-engine)
    type: str | None = None
    bearer_token: str | None = None
    expiration_time: str | None = None
    token_endpoint: str | None = None
    client_id: str | None = None
    client_secret: str | None = None
    scope: str | None = None
    username: str | None = None
    password: str | None = None

    @classmethod
    def from_json(cls, cfg: dict | str) -> DeltaSharingProfile:
        """Mirrors protocol.py:70-155 incl. error texts."""
        if isinstance(cfg, (str, bytes, bytearray)):
            cfg = json.loads(cfg)
        version = int(cfg.get("shareCredentialsVersion", 1))
        endpoint = cfg.get("endpoint", "")
        if endpoint.endswith("/"):
            endpoint = endpoint[:-1]
        if version == 1:
            return cls(
                share_credentials_version=1, endpoint=endpoint,
                bearer_token=cfg.get("bearerToken"),
                expiration_time=cfg.get("expirationTime"))
        if version == 2:
            ptype = cfg["type"]
            if ptype == "oauth_client_credentials":
                token_endpoint = cfg["tokenEndpoint"]
                if token_endpoint and token_endpoint.endswith("/"):
                    token_endpoint = token_endpoint[:-1]
                return cls(
                    share_credentials_version=2, endpoint=endpoint,
                    type=ptype, token_endpoint=token_endpoint,
                    client_id=cfg["clientId"],
                    client_secret=cfg["clientSecret"],
                    scope=cfg.get("scope"))
            if ptype == "bearer_token":
                return cls(
                    share_credentials_version=2, endpoint=endpoint,
                    type=ptype, bearer_token=cfg["bearerToken"],
                    expiration_time=cfg.get("expirationTime"))
            if ptype == "basic":
                return cls(
                    share_credentials_version=2, endpoint=endpoint,
                    type=ptype, username=cfg["username"],
                    password=cfg["password"])
            if ptype == "oauth_jwt_bearer_private_key_jwt":
                # nested auth object (protocol.py:88-114); signing needs a
                # JWT/crypto library, so the provider raises at use — but
                # the profile parses with full reference fidelity
                auth = cfg["auth"]
                token_endpoint = auth["tokenEndpoint"]
                if token_endpoint and token_endpoint.endswith("/"):
                    token_endpoint = token_endpoint[:-1]
                return cls(
                    share_credentials_version=2, endpoint=endpoint,
                    type=ptype, token_endpoint=token_endpoint,
                    client_id=auth["clientId"], scope=auth.get("scope"))
            raise ValueError(
                f"The current release does not supports {ptype} type. "
                "Please check type.")
        raise ValueError(
            "'shareCredentialsVersion' in the profile is "
            f"{version} which is too new. The current release supports "
            f"version {PROFILE_CURRENT_VERSION} and below. "
            "Please upgrade to a newer release.")

    @classmethod
    def read_from_file(cls, path: str) -> DeltaSharingProfile:
        with open(path) as f:
            return cls.from_json(json.load(f))

    def check_not_expired(self) -> None:
        """Enforce bearer ``expirationTime`` (the reference surfaces this as
        rest_client.py:110-114's expired-token error)."""
        from delta_sharing_spark.auth import create_credential_provider

        provider = create_credential_provider(self)
        if provider.is_expired():
            raise ValueError(
                "It may be caused by an expired token as it has expired "
                f"at {self.expiration_time}")


def _parse_url(url: str) -> tuple[str, str, str, str]:
    """``profile#share.schema.table`` -> (profile, share, schema, table)."""
    shard = url.rsplit("#", 1)
    if len(shard) != 2:
        raise ValueError(f"invalid url: {url!r} (expected profile#s.s.t)")
    fragments = shard[1].split(".")
    if len(fragments) != 3:
        raise ValueError(f"invalid table fragment in {url!r}")
    return (shard[0], *fragments)


def _is_http(endpoint: str) -> bool:
    return endpoint.startswith("http://") or endpoint.startswith("https://")


_REST_CLIENT_CACHE: dict = {}


def _rest_client(profile: DeltaSharingProfile, spark=None):
    """Retried HTTP transport for a network profile (the reference client's
    rest_client stack: auth provider + retry/backoff on every route).
    Cached per profile (a frozen dataclass) so the OAuth provider's token
    cache survives across load_as_* calls instead of re-exchanging a
    token per query."""
    from delta_sharing_spark.auth import create_credential_provider
    from delta_sharing_spark.rest import DataSharingRestClient

    client = _REST_CLIENT_CACHE.get(profile)
    if client is None:
        client = DataSharingRestClient(
            profile.endpoint,
            auth_provider=create_credential_provider(profile),
            profile=profile)
        if len(_REST_CLIENT_CACHE) > 32:
            _REST_CLIENT_CACHE.clear()
        _REST_CLIENT_CACHE[profile] = client
    if spark is not None:
        # reference network confs override per call (ConfUtils.scala:27-49)
        # — on a FRESH client instance sharing the cached auth provider
        # (its OAuth token cache survives), never by mutating the cached
        # client: that would leak one query's conf into every other route
        # and session using this profile
        from delta_sharing_spark.retry import RetryConfig

        rc = RetryConfig.from_spark_conf(spark.conf)
        if rc != client.retry_config:
            return DataSharingRestClient(
                profile.endpoint, auth_provider=client.auth_provider,
                retry_config=rc, profile=profile)
    return client


def _resolve(spark: SparkSession, url: str) -> SharedTable:
    profile_path, share, schema, table = _parse_url(url)
    profile = DeltaSharingProfile.read_from_file(profile_path)
    profile.check_not_expired()
    catalog = ShareCatalog.from_config(spark, profile.endpoint)
    return catalog.load_table(f"{share}.{schema}.{table}")


def _query_over_http(spark: SparkSession, url: str,
                     version: int | None, timestamp: str | None,
                     limit: int | None = None,
                     row_ids: bool = False) -> DataFrame:
    """QueryTable over the REST endpoint and rebuild the DataFrame from
    the response, in whichever format the server answered (reference flow:
    python/delta_sharing/delta_sharing.py load_as_spark -> rest_client)."""
    from delta_sharing_spark.deltaformat import snapshot_lines_to_spark

    profile_path, share, schema, table = _parse_url(url)
    profile = DeltaSharingProfile.read_from_file(profile_path)
    profile.check_not_expired()
    client = _rest_client(profile, spark=spark)
    # reference connector conf gate (ConfUtils.scala:36-46): when
    # spark.delta.sharing.network.useAsyncQuery is set the load goes
    # through the async submit/poll flow; interval/timeout confs in ms
    conf = spark.conf
    use_async = conf.get(
        "spark.delta.sharing.network.useAsyncQuery", "false") == "true"
    kwargs = {}
    if conf.get("spark.delta.sharing.query.includeEndStreamAction",
                "false") == "true" and not use_async:
        # sync-query truncation check (ConfUtils.scala:47-49; the
        # reference skips ESA on async queries)
        kwargs["include_end_stream_action"] = True
    if use_async:
        kwargs = dict(
            async_query=True,
            poll_interval_s=int(conf.get(
                "spark.delta.sharing.network.asyncQueryRetryInterval",
                "10000")) / 1000.0,
            max_duration_s=int(conf.get(
                "spark.delta.sharing.network.asyncQueryTimeout",
                "600000")) / 1000.0,
        )
    _h, lines = client.list_files_in_table(
        share, schema, table, version=version, timestamp=timestamp,
        limit_hint=limit, response_formats="delta,parquet", **kwargs)
    df = snapshot_lines_to_spark(spark, lines, row_ids=row_ids)
    if limit is not None:
        df = df.limit(limit)
    return df


def load_as_spark(url: str, version: int | None = None,
                  timestamp: str | None = None,
                  spark: SparkSession | None = None,
                  row_ids: bool = False) -> DataFrame:
    """Load a shared table as a Spark DataFrame (optionally time-traveled).
    An ``http(s)://`` profile endpoint goes over REST (retried transport);
    a path endpoint resolves in-process. ``row_ids=True`` (requires a
    row-tracked table) appends the stable ``_row_id`` /
    ``_row_commit_version`` columns, reconstructed from the wire actions'
    ``baseRowId``/``defaultRowCommitVersion`` on the remote path."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession")
    profile_path, *_rest_frag = _parse_url(url)
    profile = DeltaSharingProfile.read_from_file(profile_path)
    if _is_http(profile.endpoint):
        return _query_over_http(spark, url, version, timestamp,
                                row_ids=row_ids)
    return _resolve(spark, url).to_df(version=version, timestamp=timestamp,
                                      row_ids=row_ids)


def load_as_pandas(url: str, limit: int | None = None,
                   version: int | None = None, timestamp: str | None = None,
                   spark: SparkSession | None = None) -> pd.DataFrame:
    """Load a shared table as pandas; ``limit`` is exact (file-cutoff hint +
    client-side cut, ref reader.py:201-224)."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession")
    profile_path, *_rest_frag = _parse_url(url)
    profile = DeltaSharingProfile.read_from_file(profile_path)
    if _is_http(profile.endpoint):
        return _query_over_http(spark, url, version, timestamp,
                                limit=limit).toPandas()
    df = _resolve(spark, url).to_df(version=version, timestamp=timestamp,
                                    limit=limit)
    return df.toPandas()


def get_table_version(url: str, starting_timestamp: str | None = None,
                      spark: SparkSession | None = None) -> int:
    """QueryTableVersion through a profile URL (reference
    delta_sharing.py:63-78): latest version, or the earliest version
    at/after ``starting_timestamp``."""
    profile_path, share, schema, table = _parse_url(url)
    profile = DeltaSharingProfile.read_from_file(profile_path)
    if _is_http(profile.endpoint):
        return _rest_client(profile).query_table_version(
            share, schema, table, starting_timestamp)
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession")
    return _resolve(spark, url).version(starting_timestamp)


def _metadata_lines(url: str, spark: SparkSession | None) -> list[dict]:
    profile_path, share, schema, table = _parse_url(url)
    profile = DeltaSharingProfile.read_from_file(profile_path)
    if _is_http(profile.endpoint):
        return _rest_client(profile).query_table_metadata(
            share, schema, table)
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession")
    t = _resolve(spark, url)
    out = t.query_actions(max_files=0, metadata_only=True)
    return [line for line in out["actions"]
            if "protocol" in line or "metaData" in line]


def get_table_protocol(url: str,
                       spark: SparkSession | None = None) -> dict:
    """The table's protocol action (reference delta_sharing.py:90-102)."""
    for line in _metadata_lines(url, spark):
        if "protocol" in line:
            return line["protocol"]
    raise ValueError("metadata response lacks a protocol line")


def get_table_metadata(url: str,
                       spark: SparkSession | None = None) -> dict:
    """The table's metaData action (reference delta_sharing.py:104-116)."""
    for line in _metadata_lines(url, spark):
        if "metaData" in line:
            return line["metaData"]
    raise ValueError("metadata response lacks a metaData line")


def get_table_txns(url: str,
                   spark: SparkSession | None = None) -> dict[str, int]:
    """SetTransaction state of the shared table: appId -> last committed
    epoch, reconstructed from the delta-format query response (the
    wrapper stream carries raw Delta actions, PROTOCOL.md:4014-4137 —
    txn included since r10). Lets a recipient rebuilding a local delta
    log, or resuming an idempotent writer, preserve exactly-once state
    across the share boundary (Delta's txnVersion lookup)."""
    from delta_sharing_spark.deltaformat import delta_lines_txns

    profile_path, share, schema, table = _parse_url(url)
    profile = DeltaSharingProfile.read_from_file(profile_path)
    if _is_http(profile.endpoint):
        # txn lines ride the FIRST page; maxFiles=1 (the server's
        # minimum) keeps this a metadata-sized RPC on huge tables
        # instead of streaming the whole file listing
        _h, lines = _rest_client(profile).list_files_in_table(
            share, schema, table, response_formats="delta", max_files=1)
        return delta_lines_txns(lines)
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession")
    out = _resolve(spark, url).query_actions(
        max_files=0, response_formats=["delta"])
    from delta_sharing_spark.deltaformat import actions_to_delta_format

    return delta_lines_txns(actions_to_delta_format(out["actions"]))


def get_last_transaction(url: str, app_id: str,
                         spark: SparkSession | None = None) -> int | None:
    """The last committed epoch for one idempotent-writer ``app_id`` on
    the shared table, or None if that writer has no recorded state —
    check before re-submitting a batch to keep a resumed sink
    exactly-once."""
    return get_table_txns(url, spark=spark).get(app_id)


def load_as_arrow(url: str, limit: int | None = None,
                  version: int | None = None, timestamp: str | None = None,
                  spark: SparkSession | None = None):
    """Load a shared table as a pyarrow Table (reference
    delta_sharing.py:159-194); ``limit`` is exact."""
    import pyarrow as pa

    pdf = load_as_pandas(url, limit=limit, version=version,
                         timestamp=timestamp, spark=spark)
    return pa.Table.from_pandas(pdf, preserve_index=False)


def load_table_changes_as_spark(
    url: str,
    starting_version: int | None = None,
    ending_version: int | None = None,
    starting_timestamp: str | None = None,
    ending_timestamp: str | None = None,
    spark: SparkSession | None = None,
    row_ids: bool = False,
) -> DataFrame:
    """CDF twin of load_as_spark (delta_sharing.py load_table_changes_as_spark).
    ``row_ids=True`` (requires a row-tracked table) appends ``_row_id`` /
    ``_row_commit_version`` to insert rows, reconstructed from the wire
    actions' ``baseRowId``/``defaultRowCommitVersion`` (NULL on
    cdc/remove rows — change images carry no materialized ids)."""
    from delta_sharing_spark.cdf import table_changes, table_changes_actions
    from delta_sharing_spark.deltaformat import changes_lines_to_spark

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession")
    profile_path, share, schema, table_name = _parse_url(url)
    profile = DeltaSharingProfile.read_from_file(profile_path)
    if _is_http(profile.endpoint):
        lines = _rest_client(profile).list_table_changes(
            share, schema, table_name,
            starting_version=starting_version,
            ending_version=ending_version,
            starting_timestamp=starting_timestamp,
            ending_timestamp=ending_timestamp,
            response_formats="delta,parquet",
            include_historical_metadata=True)
        return changes_lines_to_spark(spark, lines, row_ids=row_ids)
    table = _resolve(spark, url)
    if row_ids:
        # the in-process leg shares the wire rebuild: the actions form
        # carries absolute local paths, so one reconstruction serves both
        out = table_changes_actions(
            spark, table.log.path,
            starting_version=starting_version,
            ending_version=ending_version,
            starting_timestamp=starting_timestamp,
            ending_timestamp=ending_timestamp,
            include_historical_metadata=True)
        return changes_lines_to_spark(spark, out["actions"], row_ids=True)
    return table_changes(
        spark, table.log.path,
        starting_version=starting_version, ending_version=ending_version,
        starting_timestamp=starting_timestamp,
        ending_timestamp=ending_timestamp,
    )


def load_table_changes_as_pandas(
    url: str,
    starting_version: int | None = None,
    ending_version: int | None = None,
    starting_timestamp: str | None = None,
    ending_timestamp: str | None = None,
    spark: SparkSession | None = None,
) -> pd.DataFrame:
    """CDF as a pandas DataFrame (reference
    python/delta_sharing/delta_sharing.py load_table_changes_as_pandas):
    the Spark read of :func:`load_table_changes_as_spark`, collected —
    the way :func:`load_as_pandas` works, so both paths share one rebuild
    (column mapping, typed partition values, deletion vectors)."""
    return load_table_changes_as_spark(
        url, starting_version=starting_version,
        ending_version=ending_version,
        starting_timestamp=starting_timestamp,
        ending_timestamp=ending_timestamp, spark=spark).toPandas()


class SharingClient:
    """Catalog listing client over a profile file. An ``http(s)://``
    endpoint lists over REST (retried transport, server-side pagination
    drained by the rest client); a path endpoint lists in-process."""

    def __init__(self, spark: SparkSession, profile_path: str):
        profile = DeltaSharingProfile.read_from_file(profile_path)
        if _is_http(profile.endpoint):
            self._catalog = None
            self._rest = _rest_client(profile)
        else:
            self._catalog = ShareCatalog.from_config(spark, profile.endpoint)
            self._rest = None

    def list_shares(self) -> list[Share]:
        if self._rest is not None:
            return [Share(name=s["name"]) for s in self._rest.list_shares()]
        out, token = [], None
        while True:
            page, token = self._catalog.list_shares(page_token=token)
            out += page
            if token is None:
                return out

    def list_schemas(self, share: Share | str) -> list[Schema]:
        name = share.name if isinstance(share, Share) else share
        if self._rest is not None:
            return [Schema(name=s["name"], share=s["share"])
                    for s in self._rest.list_schemas(name)]
        out, token = [], None
        while True:
            page, token = self._catalog.list_schemas(name, page_token=token)
            out += page
            if token is None:
                return out

    def list_tables(self, schema: Schema) -> list[Table]:
        if self._rest is not None:
            return [Table(name=t["name"], share=t["share"],
                          schema=t["schema"])
                    for t in self._rest.list_tables(schema.share,
                                                    schema.name)]
        out, token = [], None
        while True:
            page, token = self._catalog.list_tables(
                schema.share, schema.name, page_token=token)
            out += page
            if token is None:
                return out

    def list_all_tables(self, share: Share | str) -> list[Table]:
        name = share.name if isinstance(share, Share) else share
        if self._rest is not None:
            return [Table(name=t["name"], share=t["share"],
                          schema=t["schema"])
                    for t in self._rest.list_all_tables(name)]
        out, token = [], None
        while True:
            page, token = self._catalog.list_all_tables(name, page_token=token)
            out += page
            if token is None:
                return out
