"""Typed pipeline configuration — the engine's "query language".

Mirrors the reference's YAML config model (MigratorConfig.scala:14-38,
config.yaml.example) as plain dataclasses with decode-time validation
(reference: config/SourceSettings.scala, config/TargetSettings.scala,
config/Validation.scala:51-113, config/Rename.scala:16-33).

A pipeline is: source -> renames -> where-filter -> target, plus optional
validation settings and savepoint settings. Sources/targets are discriminated
by ``type``; the fixture engine ships parquet end-to-end, with jdbc /
dynamodb-s3-export / stream variants implemented against the same interface.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

import yaml


class ConfigError(ValueError):
    pass


# --------------------------------------------------------------------------
# WHERE-clause sanitizer (reference: readers/MySQL.scala:198-373,
# readers/jdbc/JdbcWhereFilter.scala:14-83). The filter is embedded into a
# scan subquery, so user SQL is restricted to a read-only predicate.
# --------------------------------------------------------------------------

_FORBIDDEN_KEYWORDS = re.compile(
    r"\b(insert|update|delete|drop|create|alter|truncate|grant|revoke|merge|call|execute|"
    r"union|into|load|outfile|dumpfile|sleep|benchmark|information_schema)\b",
    re.IGNORECASE,
)
_COMMENT_OR_TERMINATOR = re.compile(r"(--|/\*|\*/|#|;)")
_CONTROL_CHARS = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")


def validate_where_filter(where: str) -> str:
    """Reject dangerous constructs in a user-supplied WHERE predicate.

    Reference semantics: keyword blocklist, executable comments, statement
    terminators, control characters, backslash escapes
    (readers/MySQL.scala:278-373).
    """
    if not where or not where.strip():
        raise ConfigError("where filter must be non-empty")
    if _CONTROL_CHARS.search(where):
        raise ConfigError("where filter contains control characters")
    if _COMMENT_OR_TERMINATOR.search(where):
        raise ConfigError("where filter contains comment or statement terminator")
    if "\\" in where:
        raise ConfigError("where filter contains backslash escape")
    if _FORBIDDEN_KEYWORDS.search(where):
        raise ConfigError("where filter contains forbidden keyword")
    # quotes must be balanced (cheap scanner, reference MySQL.scala:278-340)
    for q in ("'", '"'):
        if where.count(q) % 2 != 0:
            raise ConfigError(f"where filter has unbalanced {q} quote")
    return where.strip()


_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def validate_identifier(name: str) -> str:
    if not _IDENT.match(name):
        raise ConfigError(f"invalid identifier: {name!r}")
    return name


# JDBC driver properties that trigger driver-side file reads / arbitrary
# class loading / multi-statement execution — classic connector attack
# vectors the reference blocklists (config/SourceSettings.scala:586-911)
_DANGEROUS_JDBC_KEYS = (
    "allowloadlocalinfile",
    "allowloadlocalinfileinpath",
    "allowurlinlocalinfile",
    "autodeserialize",
    "allowmultiqueries",
    "statementinterceptors",
    "queryinterceptors",
    "connectionlifecycleinterceptors",
    "socketfactory",
    "serverrsapublickeyfile",
    "allowpublickeyretrieval",
)


def validate_jdbc_url(url: str) -> str:
    """Reject JDBC URLs smuggling dangerous driver properties
    (SourceSettings.scala:586-911 posture). The blocklist is matched against
    PARSED PROPERTY KEYS — the `?`/`;`-delimited `key=value` section — after
    percent-decoding, whitespace-stripping, and case-folding, so
    `allowLoadLocalInfile`, `%61llow...`, and `ALLOW ...` spellings all
    fail, while a database or user name that merely contains a blocked word
    (e.g. `/socketfactory_audit`) stays configurable."""
    if not url.lower().startswith("jdbc:"):
        raise ConfigError("jdbc url must start with jdbc:")
    from urllib.parse import unquote

    decoded = unquote(url)
    # properties follow the first '?' (mysql/postgres style) and/or ';'
    # (sqlserver/derby style); both separators may nest further key=value
    # pairs split by '&' or ';'
    for lead in ("?", ";"):
        head, sep, props = decoded.partition(lead)
        if not sep:
            continue
        for pair in re.split(r"[&;]", props):
            key = pair.partition("=")[0].strip().replace(" ", "").lower()
            if key in _DANGEROUS_JDBC_KEYS:
                raise ConfigError(f"jdbc url contains blocked property {key!r}")
    return url


_HOSTNAME = re.compile(r"^(?=.{1,253}$)[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
                       r"(\.[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*$")


def _parse_port(value: str, port_s: str | None, default_port: int | None) -> int:
    if port_s is None:
        if default_port is None:
            raise ConfigError(f"missing port in {value!r}")
        return default_port
    try:
        port = int(port_s)
    except ValueError:
        raise ConfigError(f"invalid port in {value!r}") from None
    if not (1 <= port <= 65_535):
        raise ConfigError(f"port out of range in {value!r}")
    return port


def validate_host_port(value: str, default_port: int | None = None) -> tuple[str, int]:
    """Parse and validate a host[:port] endpoint (HostValidation.scala
    posture: hostname / IPv4 / IPv6 syntax, port 1-65535). IPv6 uses the
    bracket form ``[::1]:9042``; a bare multi-colon value is taken as a
    bracketless IPv6 host with the default port."""
    import socket

    def check_v6(host: str) -> str:
        try:
            socket.inet_pton(socket.AF_INET6, host)
        except OSError:
            raise ConfigError(f"invalid IPv6 host {host!r}") from None
        return host

    if value.startswith("["):
        host, sep, rest = value[1:].partition("]")
        if not sep:
            raise ConfigError(f"unterminated IPv6 bracket in {value!r}")
        port_s = rest[1:] if rest.startswith(":") else (None if not rest else "")
        return check_v6(host), _parse_port(value, port_s, default_port)
    if value.count(":") > 1:  # bracketless IPv6, no port component possible
        return check_v6(value), _parse_port(value, None, default_port)
    host, sep, port_s = value.partition(":")
    port = _parse_port(value, port_s if sep else None, default_port)
    if not _HOSTNAME.match(host):
        raise ConfigError(f"invalid hostname {host!r}")
    return host, port


# --------------------------------------------------------------------------
# Renames (reference: config/Rename.scala, schema/SchemaResolver.scala:46-61)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Rename:
    from_name: str
    to_name: str


def build_rename_map(renames: list[Rename], columns: list[str]) -> dict[str, str]:
    """Case-insensitive rename resolution with collision detection.

    Reference: Rename.buildCaseInsensitiveMap (config/Rename.scala:16-33) and
    collision check (schema/SchemaResolver.scala:46-61). Lookup is
    case-insensitive with exact-case preference; a rename whose target
    collides (case-insensitively) with a surviving column is an error.
    """
    lower_to_actual: dict[str, list[str]] = {}
    for c in columns:
        lower_to_actual.setdefault(c.lower(), []).append(c)

    resolved: dict[str, str] = {}
    for r in renames:
        candidates = lower_to_actual.get(r.from_name.lower(), [])
        if not candidates:
            raise ConfigError(f"rename source column not found: {r.from_name!r}")
        if r.from_name in candidates:
            actual = r.from_name  # exact-case preference
        elif len(candidates) == 1:
            actual = candidates[0]
        else:
            raise ConfigError(f"ambiguous rename source {r.from_name!r}: {candidates}")
        if actual in resolved:
            raise ConfigError(f"duplicate rename of column {actual!r}")
        resolved[actual] = r.to_name

    # collision detection on the output namespace
    out_lower: dict[str, str] = {}
    for c in columns:
        out = resolved.get(c, c)
        if out.lower() in out_lower:
            raise ConfigError(
                f"rename collision: {out!r} collides with {out_lower[out.lower()]!r}"
            )
        out_lower[out.lower()] = out
    return resolved


# --------------------------------------------------------------------------
# Alternator settings (Z10 — reference config/AlternatorSettings.scala:1-120,
# DynamoUtils.scala:64-155 for the job-conf round-trip)
# --------------------------------------------------------------------------

_ALTERNATOR_CONF_PREFIX = "scylla.migrator.alternator."


def _camel(name: str) -> str:
    head, *rest = name.split("_")
    return head + "".join(w.capitalize() for w in rest)


@dataclass
class AlternatorSettings:
    """Alternator load-balancing client settings: rack/DC routing scope plus
    connection-pool knobs. Validation mirrors AlternatorSettings.validate
    (AlternatorSettings.scala:99-120); the job-conf round-trip mirrors
    write/readAlternatorSettingsToConf (DynamoUtils.scala:88-154) — settings
    must survive the driver -> executor hop as flat string conf entries."""

    datacenter: str | None = None
    rack: str | None = None
    active_refresh_interval_ms: int | None = None
    idle_refresh_interval_ms: int | None = None
    compression: bool | None = None
    optimize_headers: bool | None = None
    max_connections: int | None = None
    connection_max_idle_time_ms: int | None = None
    connection_time_to_live_ms: int | None = None
    connection_acquisition_timeout_ms: int | None = None
    connection_timeout_ms: int | None = None
    max_items_per_batch: int | None = None

    def __post_init__(self) -> None:
        if self.rack is not None and self.datacenter is None:
            raise ConfigError(
                "'rack' is set without 'datacenter'. Please also set 'datacenter' when using 'rack'."
            )
        for name in ("max_connections", "max_items_per_batch"):
            v = getattr(self, name)
            if v is not None and v <= 0:
                raise ConfigError(f"'{_camel(name)}' must be a positive integer.")
        for name in ("active_refresh_interval_ms", "idle_refresh_interval_ms"):
            v = getattr(self, name)
            if v is not None and v <= 0:
                raise ConfigError(f"'{_camel(name)}' must be a positive value.")
        for name in (
            "connection_max_idle_time_ms",
            "connection_time_to_live_ms",
            "connection_acquisition_timeout_ms",
            "connection_timeout_ms",
        ):
            v = getattr(self, name)
            if v is not None and v < 0:
                raise ConfigError(f"'{_camel(name)}' must not be negative.")

    def routing_scope(self) -> tuple[str, str | None, str | None]:
        """(scope_kind, datacenter, rack) — the RoutingScope resolution of
        applyAlternatorSettings (DynamoUtils.scala:137-147): rack scope when
        both set, datacenter scope when only dc, whole-cluster otherwise."""
        if self.datacenter and self.rack:
            return ("rack", self.datacenter, self.rack)
        if self.datacenter:
            return ("datacenter", self.datacenter, None)
        return ("cluster", None, None)

    def to_job_conf(self) -> dict[str, str]:
        """Flat string conf entries (scylla.migrator.alternator.*); unset
        fields are omitted, matching setOptionalConf."""
        out: dict[str, str] = {}
        for name in self.__dataclass_fields__:
            v = getattr(self, name)
            if v is not None:
                out[_ALTERNATOR_CONF_PREFIX + _camel(name)] = str(v).lower() if isinstance(
                    v, bool
                ) else str(v)
        return out

    @staticmethod
    def from_job_conf(conf: dict[str, str]) -> "AlternatorSettings":
        kwargs: dict[str, Any] = {}
        for name, f in AlternatorSettings.__dataclass_fields__.items():
            raw = conf.get(_ALTERNATOR_CONF_PREFIX + _camel(name))
            if raw is None:
                continue
            if "bool" in str(f.type):
                if raw.lower() not in ("true", "false"):
                    raise ConfigError(f"invalid boolean for {_camel(name)}: {raw!r}")
                kwargs[name] = raw.lower() == "true"
            elif "int" in str(f.type):
                try:
                    kwargs[name] = int(raw)
                except ValueError:
                    raise ConfigError(f"invalid integer for {_camel(name)}: {raw!r}") from None
            else:
                kwargs[name] = raw
        return AlternatorSettings(**kwargs)


# camelCase spellings of every AlternatorSettings field, used to reject
# Alternator-only keys under `type: dynamodb` (guardDynamoDBType,
# AlternatorSettings.scala:36-75)
ALTERNATOR_FIELD_NAMES = frozenset(
    _camel(n) for n in AlternatorSettings.__dataclass_fields__
)


def guard_plain_dynamodb_keys(d: dict[str, Any], label: str = "Source") -> None:
    """Reject Alternator-only keys in a non-alternator source/target dict
    and point the user at `type: alternator` instead (guardDynamoDBType)."""
    errors = []
    if "alternator" in d:
        errors.append(
            f"{label} type 'dynamodb' contains a nested 'alternator' key. "
            "Please change the type to 'alternator' and promote the nested "
            "Alternator settings to top level."
        )
    if "removeConsumedCapacity" in d or "remove_consumed_capacity" in d:
        errors.append(
            f"{label} type 'dynamodb' does not support 'removeConsumedCapacity'. "
            "This setting is only applicable to type 'alternator'."
        )
    bad = sorted(set(d) & ALTERNATOR_FIELD_NAMES)
    if bad:
        errors.append(
            f"{label} type 'dynamodb' does not support Alternator-only fields: "
            f"{', '.join(bad)}. Please change the type to 'alternator' if you "
            "want to use these settings."
        )
    if errors:
        raise ConfigError("; ".join(errors))


def validate_alternator_decoding(
    endpoint: str | None, settings: AlternatorSettings
) -> None:
    """Decode-time checks for an alternator-typed source/target
    (AlternatorSettings.validateDecoding): endpoint required, with an
    explicit http:// or https:// protocol prefix."""
    if not endpoint:
        raise ConfigError("alternator requires an 'endpoint' to be set.")
    if not endpoint.lower().startswith(("http://", "https://")):
        raise ConfigError(
            "alternator endpoint host must include a protocol prefix "
            "('http://' or 'https://')."
        )
    # settings themselves validate in __post_init__


# CQL consistency levels (the driver's DefaultConsistencyLevel set;
# reference ConsistencyLevelUtils.scala:11-20)
CONSISTENCY_LEVELS = (
    "ANY",
    "ONE",
    "TWO",
    "THREE",
    "QUORUM",
    "ALL",
    "LOCAL_ONE",
    "LOCAL_QUORUM",
    "EACH_QUORUM",
    "SERIAL",
    "LOCAL_SERIAL",
)


def parse_consistency_level(configured: str) -> str:
    """Parse-or-fail with the valid set in the error, case-normalized
    (ConsistencyLevelUtils.parseConsistencyLevel)."""
    level = configured.strip().upper()
    if level not in CONSISTENCY_LEVELS:
        raise ConfigError(
            f"Invalid consistency level {configured!r}. Valid values are: "
            + ", ".join(CONSISTENCY_LEVELS)
        )
    return level


# --------------------------------------------------------------------------
# Credentials / SSL / secure-connect bundle settings
# (reference config/Credentials.scala, config/AWSCredentials.scala,
#  config/SSLOptions.scala, config/CloudConfig.scala)
# --------------------------------------------------------------------------

_REDACTED = "<redacted>"
_ARN_ROLE = re.compile(r"^arn:aws[a-zA-Z-]*:iam::\d{12}:role/[\w+=,.@/-]+$")
# STS RoleSessionName constraint: 2-64 chars of [\w+=,.@-]
_SESSION_NAME = re.compile(r"^[\w+=,.@-]{2,64}$")


@dataclass
class Credentials:
    """CQL username/password (Credentials.scala:1-12); the password never
    appears in logs — ``rendered()`` redacts it like the reference's
    ``toString``."""

    username: str
    password: str

    def __post_init__(self) -> None:
        if not self.username:
            raise ConfigError("credentials.username must not be empty")
        if not self.password:
            raise ConfigError("credentials.password must not be empty")

    def rendered(self) -> dict[str, Any]:
        return {"username": self.username, "password": _REDACTED}


@dataclass
class AWSAssumeRole:
    """STS assume-role hop of the AWS credential chain
    (AWSCredentials.scala:16-26)."""

    arn: str
    session_name: str | None = None

    DEFAULT_SESSION_NAME = "scylla-migrator"

    def __post_init__(self) -> None:
        if not _ARN_ROLE.match(self.arn or ""):
            raise ConfigError(
                f"assumeRole.arn {self.arn!r} is not an IAM role ARN "
                "(arn:aws:iam::<account-id>:role/<name>)"
            )
        if self.session_name is not None and not _SESSION_NAME.match(self.session_name):
            raise ConfigError(
                f"assumeRole.sessionName {self.session_name!r} must be 2-64 chars "
                "of [A-Za-z0-9+=,.@_-]"
            )

    def get_session_name(self) -> str:
        return self.session_name or self.DEFAULT_SESSION_NAME

    def rendered(self) -> dict[str, Any]:
        return {"arn": self.arn, "sessionName": self.get_session_name()}


@dataclass
class AWSCredentials:
    """Static access key pair, optionally chained through an assume-role hop
    (AWSCredentials.scala:1-14): base credentials authenticate the STS call,
    the assumed role's temporary credentials sign the actual requests. Both
    key halves are redacted in every rendering, matching the reference's
    ``toString`` override."""

    access_key: str
    secret_key: str
    assume_role: AWSAssumeRole | dict | None = None

    def __post_init__(self) -> None:
        if not self.access_key:
            raise ConfigError("awsCredentials.accessKey must not be empty")
        if not self.secret_key:
            raise ConfigError("awsCredentials.secretKey must not be empty")
        if isinstance(self.assume_role, dict):
            self.assume_role = AWSAssumeRole(**_snake_keys(self.assume_role))

    def rendered(self) -> dict[str, Any]:
        return {
            "accessKey": _REDACTED,
            "secretKey": _REDACTED,
            "assumeRole": self.assume_role.rendered() if self.assume_role else None,
        }


@dataclass
class SSLOptions:
    """TLS settings for the CQL connection (SSLOptions.scala:1-52).
    Defaults mirror the reference's shared constants: JKS stores, TLS
    protocol, and the two CBC suites chosen for old-cluster compatibility
    (GCM suites opt-in via ``enabled_algorithms``). Store passwords are
    redacted in every rendering; store *paths* are not secrets."""

    enabled: bool = False
    client_auth_enabled: bool = False
    enabled_algorithms: list[str] | None = None
    key_store_password: str | None = None
    key_store_path: str | None = None
    key_store_type: str | None = None
    protocol: str | None = None
    trust_store_password: str | None = None
    trust_store_path: str | None = None
    trust_store_type: str | None = None

    DEFAULT_TRUST_STORE_TYPE = "JKS"
    DEFAULT_KEY_STORE_TYPE = "JKS"
    DEFAULT_PROTOCOL = "TLS"
    DEFAULT_ENABLED_ALGORITHMS = (
        "TLS_RSA_WITH_AES_128_CBC_SHA",
        "TLS_RSA_WITH_AES_256_CBC_SHA",
    )

    def __post_init__(self) -> None:
        if self.client_auth_enabled and not self.enabled:
            raise ConfigError("sslOptions.clientAuthEnabled requires enabled: true")
        if self.client_auth_enabled and not self.key_store_path:
            raise ConfigError(
                "sslOptions.clientAuthEnabled requires a keyStorePath (the "
                "client certificate lives in the keystore)"
            )
        if self.key_store_password is not None and self.key_store_path is None:
            raise ConfigError("sslOptions.keyStorePassword is set without keyStorePath")
        if self.trust_store_password is not None and self.trust_store_path is None:
            raise ConfigError(
                "sslOptions.trustStorePassword is set without trustStorePath"
            )

    def rendered(self) -> dict[str, Any]:
        out = {**self.__dict__}
        for k in ("key_store_password", "trust_store_password"):
            if out[k] is not None:
                out[k] = _REDACTED
        return out


@dataclass
class CloudConfig:
    """Secure-connect bundle (Astra) configuration (CloudConfig.scala:1-100):
    when present, contact points / TLS / SNI come from the bundle, so
    ``host`` and ``sslOptions`` must NOT also be specified. The decode-time
    path validation mirrors the reference's decoder: absolute local path,
    bare ``--files`` filename, or https/s3/s3a/file URL; plain http and
    URLs embedding user-info or query-string credentials are rejected."""

    secure_bundle_path: str

    _REMOTE_SCHEMES = ("https", "s3", "s3a", "file")
    _BARE = re.compile(r"^[a-zA-Z0-9][a-zA-Z0-9._-]*$")

    def __post_init__(self) -> None:
        from urllib.parse import urlparse

        path = (self.secure_bundle_path or "").strip()
        self.secure_bundle_path = path
        if not path:
            raise ConfigError("cloud.secureBundlePath must not be empty.")
        if path.startswith("/") or (self._BARE.match(path) and "/" not in path):
            return
        u = urlparse(path)
        scheme = (u.scheme or "").lower()
        if scheme == "http":
            raise ConfigError(
                "cloud.secureBundlePath must not use plain HTTP; use an absolute "
                "local path, an https://, s3://, or s3a:// URL, or a bare "
                "filename for --files."
            )
        if scheme in self._REMOTE_SCHEMES:
            if "@" in (u.netloc or ""):
                raise ConfigError(
                    "cloud.secureBundlePath must not include URL user-info credentials."
                )
            if u.query:
                raise ConfigError(
                    "cloud.secureBundlePath must not include query string credentials."
                )
            return
        raise ConfigError(
            "cloud.secureBundlePath must be an absolute local path, an https://, "
            "s3://, or s3a:// URL, or a bare filename (for Spark --files "
            "distribution)."
        )

    def rendered(self) -> dict[str, Any]:
        return {"secureBundlePath": self.secure_bundle_path}


# --------------------------------------------------------------------------
# Source / target / validation / savepoints settings
# --------------------------------------------------------------------------


@dataclass
class SourceSettings:
    type: str  # parquet | csv | json | orc | jdbc | dynamodb-s3-export | cql-fixture | stream | sql
    path: str | None = None
    # type "sql": ANSI query over `tables` registered as temp views
    # ({name: path} parquet datasets); the engine's SQL front-end
    query: str | None = None
    tables: dict[str, str] = field(default_factory=dict)
    table: str | None = None
    url: str | None = None  # jdbc connection url (redacted in rendered())
    where: str | None = None
    # endpoint of the live store this run would talk to (CQL/DDB paths);
    # validated host[:port] (HostValidation.scala posture). The fixture
    # engine records it (and redacts nothing — endpoints are not secrets)
    host: str | None = None
    # generic file-format reader options (csv/json/orc), e.g. header,
    # inferSchema, multiLine; at scale pass an explicit `schema` DDL string
    # instead of inferSchema (inference is an extra full pass over the data)
    options: dict[str, str] = field(default_factory=dict)
    schema_ddl: str | None = None
    # jdbc partitioned-read settings (reference MySQL.scala:662-691)
    partition_column: str | None = None
    lower_bound: Any = None
    upper_bound: Any = None
    num_partitions: int | None = None
    # cql-fixture settings
    preserve_timestamps: bool = False
    # token-range planning: number of ring splits for the CQL scan
    # (reference SourceSettings.Cassandra splitCount, SourceSettings.scala:74;
    # consumed by sources/token_ring.migrate_token_ranges)
    split_count: int | None = None
    # CQL consistency level for the source connection (reference
    # ConsistencyLevelUtils.scala:11-20: parse-or-fail with the valid set in
    # the error). Recorded for the live path; validated at decode time.
    consistency_level: str | None = None
    # schema evolution across parquet files (union schema, absent cols null)
    merge_schema: bool = False
    # resume skip sets (reference MigratorConfig.scala:43-57)
    skip_files: list[str] = field(default_factory=list)
    skip_segments: list[int] = field(default_factory=list)
    # alternator endpoint + LB settings (Z10) — only meaningful for the
    # DynamoDB-family source; endpoint must carry an http(s):// prefix
    endpoint: str | None = None
    alternator: AlternatorSettings | dict | None = None
    # auth/TLS surface (decode-time validated, redacted in rendered())
    credentials: Credentials | dict | None = None
    aws_credentials: AWSCredentials | dict | None = None
    ssl_options: SSLOptions | dict | None = None
    cloud: CloudConfig | dict | None = None

    def __post_init__(self) -> None:
        allowed = {
            "parquet", "csv", "json", "orc",
            "jdbc", "dynamodb-s3-export", "cql-fixture", "stream", "sql",
        }
        if self.type not in allowed:
            raise ConfigError(f"unknown source type {self.type!r}; allowed: {sorted(allowed)}")
        if self.where is not None:
            self.where = validate_where_filter(self.where)
        if self.url is not None:
            validate_jdbc_url(self.url)
        if self.host is not None:
            validate_host_port(self.host, default_port=9042)
        if self.type == "sql":
            if not self.query:
                raise ConfigError("sql source requires a query")
            if not self.tables:
                raise ConfigError("sql source requires a tables mapping {view: path}")
        if self.split_count is not None and self.split_count < 1:
            raise ConfigError("splitCount must be >= 1")
        if self.consistency_level is not None:
            self.consistency_level = parse_consistency_level(self.consistency_level)
        if self.num_partitions is not None:
            if self.num_partitions < 1:
                raise ConfigError("numPartitions must be >= 1")
            if self.partition_column is None:
                raise ConfigError("partitionColumn required when numPartitions is set")
            if (self.lower_bound is None) != (self.upper_bound is None):
                raise ConfigError("lowerBound and upperBound must be set together")
        if self.alternator is not None:
            if self.type != "dynamodb-s3-export":
                raise ConfigError(
                    "alternator settings are only valid on the DynamoDB-family "
                    f"source, not type {self.type!r}"
                )
            if isinstance(self.alternator, dict):
                self.alternator = AlternatorSettings(**_snake_keys(self.alternator))
            validate_alternator_decoding(self.endpoint, self.alternator)
        _decode_auth(self)


def _decode_auth(settings) -> None:
    """Shared auth/TLS decode + combination-legality rules for source and
    target settings (the reference applies the same circe decoders to both
    sides of the config)."""
    if isinstance(settings.credentials, dict):
        settings.credentials = Credentials(**_snake_keys(settings.credentials))
    if isinstance(settings.aws_credentials, dict):
        settings.aws_credentials = AWSCredentials(**_snake_keys(settings.aws_credentials))
    if isinstance(settings.ssl_options, dict):
        settings.ssl_options = SSLOptions(**_snake_keys(settings.ssl_options))
    if isinstance(settings.cloud, dict):
        settings.cloud = CloudConfig(**_snake_keys(settings.cloud))
    if settings.cloud is not None:
        # the bundle supplies contact points + TLS (CloudConfig.scala:14-22)
        if settings.host is not None:
            raise ConfigError(
                "cloud.secureBundlePath and host are mutually exclusive: the "
                "secure-connect bundle supplies the contact points"
            )
        if settings.ssl_options is not None:
            raise ConfigError(
                "cloud.secureBundlePath and sslOptions are mutually exclusive: "
                "the secure-connect bundle supplies the TLS configuration"
            )
        if settings.credentials is None:
            raise ConfigError(
                "cloud.secureBundlePath requires credentials: the bundle does "
                "not embed database credentials"
            )


@dataclass
class TargetSettings:
    type: str  # parquet | csv | json | orc | scylla-fixture | dynamodb-s3-export
    path: str | None = None
    mode: str = "overwrite"
    compression: str = "snappy"
    options: dict[str, str] = field(default_factory=dict)
    # physical layout (parquet targets): hive partition dirs + pre-write
    # clustering to avoid the small-files problem at scale
    partition_by: list[str] = field(default_factory=list)
    repartition_columns: list[str] = field(default_factory=list)
    # constant TTL / WRITETIME applied on write (writers/Scylla.scala:278-330)
    ttl: int | None = None
    writetime_us: int | None = None
    strip_trailing_zeros_for_decimals: bool = False
    # per-row TTL/WRITETIME write path: explode companioned rows by
    # (ttl, writetime) group before writing (reference cassandraExplodedWrite,
    # ScyllaMigrator.scala:28-33)
    exploded_timestamp_write: bool = False
    # auth/TLS surface — same decode/validation/redaction as the source side
    host: str | None = None
    credentials: Credentials | dict | None = None
    aws_credentials: AWSCredentials | dict | None = None
    ssl_options: SSLOptions | dict | None = None
    cloud: CloudConfig | dict | None = None

    def __post_init__(self) -> None:
        allowed = {"parquet", "csv", "json", "orc", "scylla-fixture", "dynamodb-s3-export"}
        if self.type not in allowed:
            raise ConfigError(f"unknown target type {self.type!r}; allowed: {sorted(allowed)}")
        if self.mode not in {"overwrite", "append", "error", "ignore"}:
            raise ConfigError(f"invalid write mode {self.mode!r}")
        if self.host is not None:
            validate_host_port(self.host, default_port=9042)
        _decode_auth(self)  # same decode+legality rules as the source side


@dataclass
class Validation:
    """Validator tolerances (reference config/Validation.scala:26-113,
    docs/source/validate.rst:17-31 for the defaults)."""

    compare_timestamps: bool = True
    ttl_tolerance_millis: int = 60_000
    writetime_tolerance_millis: int = 1_000
    timestamp_ms_tolerance: float = 0.0
    floating_point_tolerance: float = 0.001
    failures_to_fetch: int = 100
    copy_missing_rows: bool = False
    hash_columns: list[str] = field(default_factory=list)
    numeric_type_policy: str = "lenient"  # lenient | strict-type | detect-widen
    # how repaired rows' *_writetime companions are stamped
    # (RepairWritetimeStrategy.scala, ScyllaValidator.scala:275-303)
    repair_writetime_strategy: str = "source"  # source | coordinator | config
    repair_writetime_value: int | None = None  # epoch-µs, required for "config"

    def __post_init__(self) -> None:
        if self.numeric_type_policy not in {"lenient", "strict-type", "detect-widen"}:
            raise ConfigError(f"invalid numericTypePolicy {self.numeric_type_policy!r}")
        if self.repair_writetime_strategy not in {"source", "coordinator", "config"}:
            raise ConfigError(
                f"invalid repairWritetimeStrategy {self.repair_writetime_strategy!r}"
            )
        if self.repair_writetime_strategy == "config" and self.repair_writetime_value is None:
            raise ConfigError("repairWritetimeStrategy: config requires repairWritetimeValue")
        for name in ("ttl_tolerance_millis", "writetime_tolerance_millis", "failures_to_fetch"):
            if getattr(self, name) < 0:
                raise ConfigError(f"{name} must be >= 0")
        if self.floating_point_tolerance < 0 or self.timestamp_ms_tolerance < 0:
            raise ConfigError("tolerances must be >= 0")


@dataclass
class Savepoints:
    path: str | None = None
    interval_seconds: int = 300

    def __post_init__(self) -> None:
        if self.interval_seconds < 1:
            raise ConfigError("savepoints.intervalSeconds must be >= 1")


def _snake_keys(d: dict[str, Any]) -> dict[str, Any]:
    """Accept the reference's camelCase YAML keys (config.yaml.example)
    alongside snake_case: preserveTimestamps -> preserve_timestamps, etc."""
    out = {}
    for k, v in d.items():
        s = re.sub(r"(?<!^)([A-Z])", r"_\1", k).lower()
        out[s] = v
    return out


@dataclass
class MigratorConfig:
    source: SourceSettings
    target: TargetSettings
    renames: list[Rename] = field(default_factory=list)
    primary_key: list[str] = field(default_factory=list)
    validation: Validation = field(default_factory=Validation)
    savepoints: Savepoints | None = None

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "MigratorConfig":
        renames = [Rename(r["from"], r["to"]) for r in d.get("renames", [])]
        return MigratorConfig(
            source=SourceSettings(**_snake_keys(d["source"])),
            target=TargetSettings(**_snake_keys(d["target"])),
            renames=renames,
            primary_key=list(d.get("primaryKey", [])),
            validation=Validation(**_snake_keys(d.get("validation", {}))),
            savepoints=Savepoints(**_snake_keys(d["savepoints"])) if "savepoints" in d else None,
        )

    @staticmethod
    def load(path: str) -> "MigratorConfig":
        with open(path) as f:
            return MigratorConfig.from_dict(yaml.safe_load(f))

    def rendered(self) -> dict[str, Any]:
        """Config for logging with sensitive values redacted
        (reference: config/SparkSecretRedaction.scala, MigratorConfig.scala:134-153)."""
        out: dict[str, Any] = {
            "source": {**self.source.__dict__},
            "target": {**self.target.__dict__},
            "renames": [{"from": r.from_name, "to": r.to_name} for r in self.renames],
            "primaryKey": list(self.primary_key),
        }
        if self.source.where is not None:
            out["source"]["where"] = "<redacted>"
        if self.source.url is not None:
            out["source"]["url"] = "<redacted>"  # urls can embed credentials
        for side in ("source", "target"):
            d = out[side]
            for key in list(d):
                # nested auth/TLS objects render through their own redaction
                # (Credentials/AWSCredentials/SSLOptions/CloudConfig.rendered)
                if hasattr(d[key], "rendered"):
                    d[key] = d[key].rendered()
                elif any(
                    s in key.lower()
                    for s in ("password", "secret", "credential", "token")
                ):
                    if d[key] is not None:
                        d[key] = "<redacted>"
        return out
