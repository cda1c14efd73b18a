"""DCL (access-control statement) recognition for CDC streams.

The reference models DCL as a first-class event family next to DDL
(dt-common/src/meta/dcl_meta/dcl_type.rs: create_user, alter_user,
create_role, drop_user, drop_role, grant, revoke, set_role, unknown;
dcl_parser.rs) and filters it with ``do_dcls`` (rdb_filter.rs:123-128).
Spark-side, DCL never mutates data — recognition exists so the pipeline can
(a) filter the statements per config and (b) forward the ones a target should
replay (e.g. into a SQL-file sink) instead of silently dropping them.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_NAME = r"""[`"']?([\w$@%.\-]+)[`"']?"""
# user specs like 'app'@'%' or `app`@`10.0.0.1`
_USER = rf"""{_NAME}(?:\s*@\s*{_NAME})?"""


@dataclass(frozen=True)
class DclStatement:
    """One recognized DCL statement.

    kind: create_user | alter_user | create_role | drop_user | drop_role |
          grant | revoke | set_role | unknown
    principal: the first user/role named, normalized to name[@host].
    """

    kind: str
    principal: str | None = None


def _principal(groups: tuple) -> str | None:
    name, host = (groups + (None, None))[:2]
    if name is None:
        return None
    return f"{name}@{host}" if host else name


_PATTERNS: list[tuple[str, re.Pattern]] = [
    ("create_user", re.compile(rf"^\s*CREATE\s+USER\s+(?:IF\s+NOT\s+EXISTS\s+)?{_USER}", re.I)),
    ("alter_user", re.compile(rf"^\s*ALTER\s+USER\s+(?:IF\s+EXISTS\s+)?{_USER}", re.I)),
    ("create_role", re.compile(rf"^\s*CREATE\s+ROLE\s+(?:IF\s+NOT\s+EXISTS\s+)?{_USER}", re.I)),
    ("drop_user", re.compile(rf"^\s*DROP\s+USER\s+(?:IF\s+EXISTS\s+)?{_USER}", re.I)),
    ("drop_role", re.compile(rf"^\s*DROP\s+ROLE\s+(?:IF\s+EXISTS\s+)?{_USER}", re.I)),
    # grant/revoke: principal is the grantee after TO/FROM
    ("grant", re.compile(rf"^\s*GRANT\s+.+?\s+TO\s+{_USER}", re.I | re.S)),
    ("revoke", re.compile(rf"^\s*REVOKE\s+.+?\s+FROM\s+{_USER}", re.I | re.S)),
    ("set_role", re.compile(rf"^\s*SET\s+(?:DEFAULT\s+)?ROLE\s+{_USER}", re.I)),
]


def parse_dcl(text: str | None) -> DclStatement:
    """Recognize a DCL statement's kind and principal; 'unknown' otherwise."""
    if not text or not text.strip():
        return DclStatement("unknown")
    for kind, pat in _PATTERNS:
        m = pat.match(text)
        if m:
            return DclStatement(kind, _principal(m.groups()))
    return DclStatement("unknown")
