"""Connector configuration layer.

Parity with the reference's config model (`BaseConfig`/`SinkConfig`/
`SourceConfig`, /root/reference/src/pyconnect/config.py:354-601): same
field names, defaults, loaders (env vars with PYCONNECT_ prefix, YAML
file, JSON file/string) and sanity semantics — pydantic models carry the
typed parsing, and the reference's string mini-expression checks
("{offset_commit_interval}>0") are supported verbatim through the same
whitelisted-AST safe evaluator (`check_sanity`), with the same
injection-resistance guarantees its tests demand.

Secret redaction (`hide_sensitive_values`) mirrors
/root/reference/src/pyconnect/core.py:28-56: known secret keys are either
PBKDF2-hashed (so two configs can still be diffed) or replaced by '****'.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from datetime import timedelta
from typing import Any, ClassVar, Dict, List, Optional

import ast as _ast

from pydantic import BaseModel, Field, field_validator, model_validator

SENSITIVE_KEYS = (
    "sasl.password",
    "sasl.username",
    "ssl.key.password",
    "ssl.keystore.password",
    "basic.auth.user.info",
)

# longest alternative first — 'ms' must win over 'm' followed by a stray 's'
_TIMEDELTA_RE = re.compile(r"(\d+)\s*(ms|d|h|m|s)")
_UNITS = {"d": "days", "h": "hours", "m": "minutes", "s": "seconds", "ms": "milliseconds"}


def parse_timedelta(value: str | int | float | timedelta) -> timedelta:
    """Parse '1h 30m'-style strings (reference: config.py:43-70)."""
    if isinstance(value, timedelta):
        return value
    if isinstance(value, (int, float)):
        return timedelta(seconds=value)
    parts = _TIMEDELTA_RE.findall(value.strip())
    if not parts:
        raise ValueError(f"cannot parse timedelta from {value!r}")
    kwargs: Dict[str, float] = {}
    for num, unit in parts:
        kwargs[_UNITS[unit]] = kwargs.get(_UNITS[unit], 0) + int(num)
    return timedelta(**kwargs)


def csv_line_reader(
    separator: str = ",",
    quoter: str = '"',
    escaper: str = "\\",
    strip_chars: str = "\r\t\n ",
):
    """Quote/escape-aware CSV line parser (reference parity:
    csv_line_reader, config.py:235-280).

    Semantics: ``escaper`` makes the next char literal (and is dropped);
    ``quoter`` toggles quoting — separators inside quotes do not split,
    and the quote chars themselves are dropped; every field is stripped
    of ``strip_chars`` at both ends (quoting does NOT protect against
    stripping — the reference's documented caveat); an empty line parses
    to ``[]``; a trailing escaper is swallowed.

    >>> csv_line_reader()(r'"quoted,field",escaped\\,field, stripped ')
    ['quoted,field', 'escaped,field', 'stripped']
    """

    def parse(line: str) -> List[str]:
        if not line:
            return []
        fields: List[str] = []
        buf: List[str] = []
        in_quotes = False
        chars = iter(line)
        for ch in chars:
            if ch == escaper:
                buf.append(next(chars, ""))
            elif ch == quoter:
                in_quotes = not in_quotes
            elif ch == separator and not in_quotes:
                fields.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
        fields.append("".join(buf))
        return [f.strip(strip_chars) for f in fields]

    return parse


def csv_list(value: str | List[str]) -> List[str]:
    """CSV string -> list via the quote/escape-aware reader (reference:
    csv_line_reader config.py:235-280); empty fields are dropped, so
    config values tolerate trailing commas."""
    if isinstance(value, list):
        return value
    return [v for v in csv_line_reader()(value) if v]


def hide_sensitive_values(
    config: Dict[str, Any],
    algorithm: str = "sha256",
    iterations: int = 100_000,
    hash_sensitive_values: bool = True,
) -> Dict[str, Any]:
    """Redact known secret keys before logging (reference parity:
    core.py:28-56). With ``hash_sensitive_values`` (default) each value
    becomes a PBKDF2 digest under a fresh per-call random salt — the
    logged string carries algorithm/salt/iterations, so an operator CAN
    verify a suspected value against the log, but equal secrets hash
    differently across log lines (no cross-log correlation). With
    ``hash_sensitive_values=False`` the value is simply ``'****'``."""
    out = dict(config)
    salt = os.urandom(32)
    for key in SENSITIVE_KEYS:
        if key in out and out[key] is not None:
            if hash_sensitive_values:
                digest = hashlib.pbkdf2_hmac(
                    algorithm, str(out[key]).encode(), salt, iterations
                )
                out[key] = (
                    f"$pbkdf2-{algorithm}:{salt.hex()}:{iterations}${digest.hex()}"
                )
            else:
                out[key] = "****"
    return out


# ---------------------------------------------------------------------------
# sanity-check mini-expressions (reference parity: config.py:149-224)
# ---------------------------------------------------------------------------
# The reference validates config fields with string expressions like
# "{offset_commit_interval}>0", evaluated by an AST-whitelisted
# interpreter so config files can carry checks without arbitrary-code
# execution. Same contract here: only literals, comparisons, boolean ops,
# and arithmetic are admitted; names, calls, attributes, subscripts,
# comprehensions — anything that could reach builtins or state — are
# rejected before evaluation (injection tests: tests/test_config_avro.py).

_ALLOWED_AST_NODES = (
    _ast.Expression,
    _ast.Compare,
    _ast.BoolOp,
    _ast.BinOp,
    _ast.UnaryOp,
    _ast.Constant,
    # operators
    _ast.And,
    _ast.Or,
    _ast.Not,
    _ast.Eq,
    _ast.NotEq,
    _ast.Lt,
    _ast.LtE,
    _ast.Gt,
    _ast.GtE,
    _ast.Add,
    _ast.Sub,
    _ast.Mult,
    _ast.Div,
    _ast.Mod,
    _ast.USub,
    _ast.UAdd,
)


class SanityError(ValueError):
    pass


def _validate_ast_tree(node: _ast.AST) -> None:
    for child in _ast.walk(node):
        if not isinstance(child, _ALLOWED_AST_NODES):
            raise SanityError(
                f"illegal construct in sanity expression: {type(child).__name__}"
            )


def check_sanity(expression: str, values: Dict[str, Any]) -> bool:
    """Evaluate a ``"{field} > 0"``-style check against config values.

    Fields are substituted as literals (numbers stay numbers; timedeltas
    substitute as total seconds; everything else as a quoted string), the
    result is parsed, whitelisted, and evaluated with empty globals.
    """

    def literal(v: Any) -> str:
        if isinstance(v, timedelta):
            return repr(v.total_seconds())
        if isinstance(v, bool) or isinstance(v, (int, float)):
            return repr(v)
        return repr(str(v))

    try:
        substituted = re.sub(
            r"\{([A-Za-z_][A-Za-z0-9_]*)\}",
            lambda m: literal(values[m.group(1)]),
            expression,
        )
    except KeyError as e:
        raise SanityError(f"unknown field in sanity expression: {e}") from None
    try:
        tree = _ast.parse(substituted, mode="eval")
    except SyntaxError as e:
        raise SanityError(f"unparseable sanity expression: {expression!r}") from e
    _validate_ast_tree(tree)
    return bool(eval(compile(tree, "<sanity-check>", "eval"), {"__builtins__": {}}, {}))


class BaseConfig(BaseModel):
    """Common connector config (reference: config.py:354-552)."""

    bootstrap_servers: List[str]
    schema_registry: Optional[str] = None
    offset_commit_interval: timedelta = timedelta(minutes=30)
    sink_commit_retry_count: int = 2
    # In-place retry of a failed user flush before the batch is declared
    # failed (0 = fail fast; the uncommitted batch replays on restart
    # either way). Distinct from sink_commit_retry_count, which in the
    # reference guards the Kafka offset commit — here the commit is the
    # checkpoint write. See SparkSink._flush_wrapper.
    sink_flush_retry_count: int = 0
    hash_sensitive_values: bool = True
    kafka_opts: Dict[str, str] = Field(default_factory=dict)
    # Spark-native additions:
    checkpoint_location: Optional[str] = None

    @field_validator("bootstrap_servers", mode="before")
    @classmethod
    def _servers(cls, v: Any) -> List[str]:
        return csv_list(v)

    @field_validator("offset_commit_interval", mode="before")
    @classmethod
    def _interval(cls, v: Any) -> timedelta:
        return parse_timedelta(v)

    # string mini-expression checks, evaluated by the whitelisted-AST
    # interpreter — the reference's registration style (config.py:413-418)
    SANITY_CHECKS: ClassVar[tuple[str, ...]] = (
        "{offset_commit_interval} > 0",
        "{sink_commit_retry_count} >= 0",
        "{sink_flush_retry_count} >= 0",
    )

    @model_validator(mode="after")
    def _run_sanity_checks(self) -> "BaseConfig":
        values = self.model_dump()
        for expr in self.SANITY_CHECKS:
            if not check_sanity(expr, values):
                raise ValueError(f"sanity check failed: {expr}")
        return self

    @field_validator("schema_registry")
    @classmethod
    def _registry_url(cls, v: Optional[str]) -> Optional[str]:
        if v is not None and not re.match(r"^https?://", v):
            raise ValueError("schema_registry must be an http(s) URL")
        return v

    # ---- loaders (reference: config.py:509-552) ----
    @classmethod
    def from_json_string(cls, s: str) -> "BaseConfig":
        return cls(**json.loads(s))

    @classmethod
    def from_json_file(cls, path: str) -> "BaseConfig":
        with open(path) as f:
            return cls(**json.load(f))

    @classmethod
    def from_yaml_file(cls, path: str) -> "BaseConfig":
        import yaml

        with open(path) as f:
            return cls(**yaml.safe_load(f))

    @classmethod
    def from_env_variables(cls, prefix: str = "PYCONNECT_") -> "BaseConfig":
        raw = {
            k[len(prefix):].lower(): v
            for k, v in os.environ.items()
            if k.startswith(prefix)
        }
        return cls(**raw)

    def redacted(self) -> Dict[str, Any]:
        d = self.model_dump()
        d["kafka_opts"] = hide_sensitive_values(d.get("kafka_opts") or {})
        return d


class SinkConfig(BaseConfig):
    """Consume-side config (reference: config.py:555-579)."""

    SANITY_CHECKS = BaseConfig.SANITY_CHECKS + ("{poll_timeout} > 0",)

    group_id: str = "pyconnect-spark"
    topics: List[str] = Field(default_factory=list)  # '^'-prefix = regex subscribe
    poll_timeout: timedelta = timedelta(seconds=2)

    @field_validator("topics", mode="before")
    @classmethod
    def _topics(cls, v: Any) -> List[str]:
        return csv_list(v)

    @field_validator("poll_timeout", mode="before")
    @classmethod
    def _poll(cls, v: Any) -> timedelta:
        return parse_timedelta(v)


class SourceConfig(BaseConfig):
    """Produce-side config (reference: config.py:582-601)."""

    topic: str = ""
    offset_topic: str = ""
