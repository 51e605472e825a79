"""Service configuration (reference src/unifydb/config.clj).

The reference loads an EDN config file (default /etc/unifydb/config.edn)
merged with overrides and exposes typed accessors with defaults /
required checks. Same shape here: `load_env` reads an EDN or JSON config
file plus UNIFYDB_* environment-variable overrides into module state;
accessors mirror config.clj's (secret, port, token-ttl-seconds,
storage-backend, jdbc-url). Queue-backend has no analog — the driver is
the coordinator (SURVEY §3, V5/V6 n/a by design) — and nothing reads
cache-backend, but both keys are accepted for config-file compatibility.
"""

from __future__ import annotations

import contextlib
import json
import os
from typing import Any, Optional

_ENV: dict = {"env": None}

DEFAULTS = {
    "port": 8181,
    "token-ttl-seconds": 3600,
    "storage-backend": "memory",
    "cache-backend": "memory",
}


class ConfigError(Exception):
    pass


def _read_config_file(path: str) -> dict:
    with open(path, "r", encoding="utf-8") as f:
        text = f.read().strip()
    if not text:
        return {}
    if path.endswith(".json") or text.startswith("{\""):
        return json.loads(text)
    from unifydb_spark import edn

    out = edn.loads(text)
    if not isinstance(out, dict):
        raise ConfigError(f"config file {path} must contain a map")
    return out


def _env_overrides() -> dict:
    """UNIFYDB_TOKEN_TTL_SECONDS=60 -> {'token-ttl-seconds': 60}."""
    out = {}
    for k, v in os.environ.items():
        if not k.startswith("UNIFYDB_"):
            continue
        key = k[len("UNIFYDB_"):].lower().replace("_", "-")
        try:
            out[key] = json.loads(v)
        except ValueError:
            out[key] = v
    return out


def load_env(
    config_file: Optional[str] = None, overrides: Optional[dict] = None
) -> dict:
    """Initialize config state: file (if present) <- UNIFYDB_* env vars
    <- explicit overrides, over the defaults."""
    env = dict(DEFAULTS)
    if config_file and os.path.exists(config_file):
        env.update(_read_config_file(config_file))
    env.update(_env_overrides())
    env.update(overrides or {})
    _ENV["env"] = env
    return env


def get_config(key: str, default: Any = None, required: bool = False) -> Any:
    if _ENV["env"] is None:
        raise ConfigError("Env not initialized")
    val = _ENV["env"].get(key, default)
    if required and val is None:
        raise ConfigError(f"Missing required config key {key}")
    return val


@contextlib.contextmanager
def with_config(overrides: dict):
    """Temporarily overlay config values (config.clj's with-config)."""
    old = _ENV["env"]
    _ENV["env"] = {**(old or {}), **overrides}
    try:
        yield
    finally:
        _ENV["env"] = old


def secret() -> bytes:
    s = get_config("secret", required=True)
    return s.encode("utf-8") if isinstance(s, str) else s


def port() -> int:
    return int(get_config("port", DEFAULTS["port"]))


def token_ttl_seconds() -> int:
    return int(get_config("token-ttl-seconds", DEFAULTS["token-ttl-seconds"]))


def storage_backend() -> str:
    return str(get_config("storage-backend", DEFAULTS["storage-backend"]))


def jdbc_url() -> str:
    return get_config("jdbc-url", required=True)


def storage_path() -> Optional[str]:
    """Parquet-backend log path (no reference analog; the Spark-native
    durable backend)."""
    return get_config("storage-path")


def commit_protocol():
    """Atomic-publish primitive for the txlog backend: `commit-protocol`
    posix (link(2) create-exclusive, the default) | conditional-put
    (object-store conditional-PUT semantics). All handles to one table
    must use the same protocol (txlog.ConditionalPutProtocol docs)."""
    name = str(get_config("commit-protocol", "posix")).lower()
    from unifydb_spark.txlog import ConditionalPutProtocol, PosixLinkProtocol

    if name in ("posix", "link"):
        return PosixLinkProtocol()
    if name in ("conditional-put", "s3", "object-store"):
        return ConditionalPutProtocol()
    raise ConfigError(f"unknown commit-protocol {name!r}")
