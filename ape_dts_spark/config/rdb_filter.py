"""Config-driven schema/table/event filtering.

Re-implements the matching semantics of the reference's ``RdbFilter``
(dt-common/src/rdb_filter.rs:30-225):

- ``do_schemas`` / ``ignore_schemas`` / ``do_tbs`` / ``ignore_tbs`` hold
  comma-separated patterns. A pattern is one of:
    * a raw regex written ``r#...#`` (anchored full-match),
    * a wildcard pattern where ``*`` matches any run and ``?`` one char,
    * an escaped identifier (backquoted) matched exactly,
    * otherwise an exact, case-sensitive name.
- table patterns are ``schema.tb`` pairs; ignore wins over do.
- ``do_events`` restricts row_type to a subset of {insert, update, delete}
  (rdb_filter.rs:99-104).
- ``where_conditions`` / ``ignore_cols`` are per-(schema, tb) JSON configs
  (rdb_filter.rs:139-154) — applied by the snapshot source as predicate
  pushdown / column pruning (see sources/snapshot.py).

In Spark this filter decides *which DataFrames get built* (plan-time table
selection) and contributes row-level predicates; results are memoized like the
reference's per-(schema,tb) cache.
"""

from __future__ import annotations

import fnmatch
import json
import re
from dataclasses import dataclass, field


def _pattern_to_regex(pattern: str) -> re.Pattern:
    pattern = pattern.strip()
    if pattern.startswith("r#") and pattern.endswith("#"):
        return re.compile(f"^(?:{pattern[2:-1]})$")
    if len(pattern) >= 2 and pattern[0] == "`" and pattern[-1] == "`":
        # escaped identifier: exact match, wildcards literal (rdb_filter.rs:205-214)
        return re.compile(f"^{re.escape(pattern[1:-1])}$")
    # fnmatch translates * and ? like the reference's wildcard rules
    return re.compile(fnmatch.translate(pattern))


def _split_patterns(spec: str) -> list[str]:
    """Split a comma-separated pattern list, honouring backquote escaping
    (a literal comma inside `...` does not split — rdb_filter.rs:161-192)."""
    out: list[str] = []
    cur: list[str] = []
    in_escape = False
    for ch in spec:
        if ch == "`":
            in_escape = not in_escape
            cur.append(ch)
        elif ch == "," and not in_escape:
            if "".join(cur).strip():
                out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        out.append("".join(cur).strip())
    return out


def _match_any(patterns: list[re.Pattern], name: str) -> bool:
    return any(p.match(name) for p in patterns)


@dataclass
class RdbFilter:
    do_schemas: str = ""
    ignore_schemas: str = ""
    do_tbs: str = ""
    ignore_tbs: str = ""
    do_events: str = ""
    do_structures: str = ""  # struct-migration object kinds, "*" = all
    do_ddls: str = ""  # DDL statement kinds; EMPTY = drop all DDL
    do_dcls: str = ""  # DCL statement kinds; EMPTY = drop all DCL
    ignore_cmds: str = ""  # raw command names to drop unconditionally
    where_conditions: str = ""  # json: [{"db":..,"tb":..,"condition":..}]
    ignore_cols: str = ""  # json: [{"db":..,"tb":..,"ignore_cols":[..]}]
    _cache: dict = field(default_factory=dict, repr=False)

    def __post_init__(self) -> None:
        self._do_schemas = [_pattern_to_regex(p) for p in _split_patterns(self.do_schemas)]
        self._ignore_schemas = [_pattern_to_regex(p) for p in _split_patterns(self.ignore_schemas)]
        self._do_tbs = [self._tb_pattern(p) for p in _split_patterns(self.do_tbs)]
        self._ignore_tbs = [self._tb_pattern(p) for p in _split_patterns(self.ignore_tbs)]
        self._events = {e.strip() for e in self.do_events.split(",") if e.strip()}
        self._structures = {e.strip() for e in self.do_structures.split(",") if e.strip()}
        self._ddls = {e.strip() for e in self.do_ddls.split(",") if e.strip()}
        self._dcls = {e.strip() for e in self.do_dcls.split(",") if e.strip()}
        self._ignore_cmds = {e.strip() for e in self.ignore_cmds.split(",") if e.strip()}
        self._where: dict[tuple[str, str], str] = {}
        if self.where_conditions:
            for item in json.loads(self.where_conditions):
                self._where[(item["db"], item["tb"])] = item["condition"]
        self._ignore_cols: dict[tuple[str, str], list[str]] = {}
        if self.ignore_cols:
            for item in json.loads(self.ignore_cols):
                self._ignore_cols[(item["db"], item["tb"])] = list(item["ignore_cols"])

    @staticmethod
    def _tb_pattern(pattern: str) -> tuple[re.Pattern, re.Pattern]:
        parts = _split_dotted(pattern)
        if len(parts) != 2:
            raise ValueError(f"table pattern must be schema.tb: {pattern!r}")
        return (_pattern_to_regex(parts[0]), _pattern_to_regex(parts[1]))

    # -- plan-time selection ------------------------------------------------
    def filter_schema(self, schema: str) -> bool:
        """True = ignore (reference returns filtered=true; rdb_filter.rs:30-52)."""
        if _match_any(self._ignore_schemas, schema):
            return True
        # a schema passes if any do_tbs pattern could still match inside it
        if self._do_schemas:
            if _match_any(self._do_schemas, schema):
                return False
            return not any(sp.match(schema) for sp, _ in self._do_tbs)
        return False

    def filter_tb(self, schema: str, tb: str) -> bool:
        """True = ignore this table (memoized; rdb_filter.rs:54-97,194-225)."""
        key = (schema, tb)
        if key not in self._cache:
            self._cache[key] = self._filter_tb_uncached(schema, tb)
        return self._cache[key]

    def _filter_tb_uncached(self, schema: str, tb: str) -> bool:
        if _match_any(self._ignore_schemas, schema):
            return True
        if any(sp.match(schema) and tp.match(tb) for sp, tp in self._ignore_tbs):
            return True
        if self._do_tbs or self._do_schemas:
            if any(sp.match(schema) and tp.match(tb) for sp, tp in self._do_tbs):
                return False
            if self._do_schemas and _match_any(self._do_schemas, schema):
                return False
            return True
        return False

    def filter_event(self, row_type: str) -> bool:
        """True = drop events of this row_type (rdb_filter.rs:99-104)."""
        if not self._events:
            return False
        return row_type not in self._events

    def filter_all_ddl(self) -> bool:
        """True = no DDL passes at all (empty do_ddls; rdb_filter.rs:106-108)."""
        return not self._ddls

    def filter_ddl(self, ddl_kind: str, schema: str | None = None, tb: str | None = None) -> bool:
        """True = drop this DDL statement. Opt-in kinds like the reference:
        empty config drops everything, '*' passes everything
        (rdb_filter.rs:110-121). When the statement's (schema, tb) target is
        known, the table-level do/ignore rules also gate it — the reference
        filters each split statement per (db, tb) before pushing
        (mysql_cdc_extractor.rs:432-436)."""
        if tb is not None and self.filter_tb(schema or "", tb):
            return True
        if "*" in self._ddls:
            return False
        return ddl_kind not in self._ddls

    def filter_all_dcl(self) -> bool:
        return not self._dcls

    def filter_dcl(self, dcl_kind: str) -> bool:
        """True = drop this DCL statement kind (rdb_filter.rs:123-128)."""
        if "*" in self._dcls:
            return False
        return dcl_kind not in self._dcls

    def filter_structure(self, structure_kind: str) -> bool:
        """True = skip this struct-migration object kind; empty config keeps
        everything (struct migration defaults to full, rdb_filter.rs:130-134)."""
        if not self._structures or "*" in self._structures:
            return False
        return structure_kind not in self._structures

    def filter_cmd(self, cmd: str) -> bool:
        """True = drop this raw command (rdb_filter.rs:136-138)."""
        return cmd in self._ignore_cmds

    # -- row/column level ---------------------------------------------------
    def where_condition(self, schema: str, tb: str) -> str | None:
        return self._where.get((schema, tb))

    def ignored_cols(self, schema: str, tb: str) -> list[str]:
        return self._ignore_cols.get((schema, tb), [])


def _split_dotted(pattern: str) -> list[str]:
    """Split schema.tb on the first dot outside backquotes."""
    in_escape = False
    for i, ch in enumerate(pattern):
        if ch == "`":
            in_escape = not in_escape
        elif ch == "." and not in_escape:
            return [pattern[:i], pattern[i + 1 :]]
    return [pattern]
