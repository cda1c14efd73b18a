"""Every public def in the package has a production caller, or a reason.

A name-grep probe, run without Spark. The names are the public top-level
defs in ``ape_dts_spark/`` and the public methods of its classes. Each must
appear as a whole word in a production root, on some line other than its own
``def`` (or ``class``) line. The production roots are the package itself,
``__spark_entry__.py``, ``bench.py``, ``tools/``, ``examples/`` and
``perfbench/``; ``tests/`` is not one. The probe does not resolve ``getattr``
or string dispatch, and a mention in a docstring counts as a caller, so check
each verdict by hand.

A def that nothing in production reaches is either deleted together with its
tests or listed in ``KEEP`` with the reason it stays. ``KEEP`` is checked both
ways, so it cannot go stale: an entry that no longer exists fails, and so does
one that a production line outside the ``KEEP`` defs now reaches.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "ape_dts_spark"
PRODUCTION_ROOTS = [PACKAGE, ROOT / "__spark_entry__.py", ROOT / "bench.py",
                    ROOT / "tools", ROOT / "examples", ROOT / "perfbench"]

_STREAM_SOURCE = "streaming file source, kept for the streaming-source wiring"
_STRUCT_MIGRATION = "structure migration, kept for the struct-migration task"
_JDBC = "the JDBC path, which the live-JDBC tests reach"
_RESUMER = "snapshot resumer, kept for the resumable snapshot task"
_CONFIG_API = "config API of the filter/router, mirroring the reference's task config"
_WIRE_MODEL = "wire or model method that the tests drive"
_FIXTURE_WRITER = "fixture writer: encodes the inputs the decoder tests read"
_HTML_CALLBACK = "HTMLParser callback, called by the standard library"

KEEP: dict[str, str] = {
    "MultiTableCdcPipeline": "multi-table CDC, kept for the one-trigger multi-table task",
    "snapshot_then_cdc": "snapshot then CDC from its position, kept for the multi-table task",
    "stream_binlog_files": _STREAM_SOURCE,
    "stream_pgoutput_files": _STREAM_SOURCE,
    "stream_kafka_segments": _STREAM_SOURCE,
    "stream_oplog_files": _STREAM_SOURCE,
    "stream_warc_files": _STREAM_SOURCE,
    "migration_plan": _STRUCT_MIGRATION,
    "schema_object_check": _STRUCT_MIGRATION,
    "check_jdbc_config": _JDBC,
    "read_jdbc": _JDBC,
    "driver_class_loadable": _JDBC,
    "SnapshotResumeStore": _RESUMER,
    "resume_scan": _RESUMER,
    "compact_files": "small-file compaction, kept to fold merge-on-read deltas",
    "prometheus_lines": "Prometheus text export, kept for the running task's metrics endpoint",
    "parse_dump_payload": "checks the DUMP CRC and version; the tests compare against it",
    "parse_debezium_mongo": "the Debezium-Mongo CDC parse; no task reads a Mongo stream yet",
    "filter_schema": _CONFIG_API,
    "filter_all_ddl": _CONFIG_API,
    "filter_all_dcl": _CONFIG_API,
    "route_topic": _CONFIG_API,
    "create_replication_slot": _WIRE_MODEL,
    "to_text": _WIRE_MODEL,
    "register_base": _WIRE_MODEL,
    "encode_streamed_segment": _FIXTURE_WRITER,
    "encode_wav_g711": _FIXTURE_WRITER,
    "encode_type": _FIXTURE_WRITER,
    "encode_origin": _FIXTURE_WRITER,
    "entry_noop": _FIXTURE_WRITER,
    "entry_update_set": _FIXTURE_WRITER,
    "heartbeat_event": _FIXTURE_WRITER,
    "handle_starttag": _HTML_CALLBACK,
    "handle_endtag": _HTML_CALLBACK,
    "handle_data": _HTML_CALLBACK,
    "handle_startendtag": _HTML_CALLBACK,
}


def _defs() -> tuple[dict[str, set[tuple[Path, int]]], set[tuple[Path, int]]]:
    """(name -> its def sites, lines inside a KEEP def). The names are public
    top-level defs and the public methods of every class (a private class's
    public methods can be callbacks of a standard-library base)."""
    sites: dict[str, set[tuple[Path, int]]] = {}
    kept: set[tuple[Path, int]] = set()

    def add(path: Path, node: ast.AST) -> None:
        sites.setdefault(node.name, set()).add((path, node.lineno))
        if node.name in KEEP:
            kept.update((path, i) for i in range(node.lineno, node.end_lineno + 1))

    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if not node.name.startswith("_"):
                add(path, node)
            if isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)) and not m.name.startswith("_"):
                        add(path, m)
    return sites, kept


def _reached() -> tuple[set[str], set[str], set[str]]:
    """(all public names, names some production line reaches, names a
    production line outside the KEEP defs reaches)."""
    sites, kept = _defs()
    files: list[Path] = []
    for root in PRODUCTION_ROOTS:
        files.extend(sorted(root.rglob("*.py")) if root.is_dir() else [root])
    anywhere: set[str] = set()
    outside_keep: set[str] = set()
    for f in files:
        for i, line in enumerate(f.read_text().splitlines(), start=1):
            for w in set(re.findall(r"\w+", line)) & sites.keys():
                if (f, i) in sites[w]:
                    continue  # a def's own line is no caller
                anywhere.add(w)
                if (f, i) not in kept:
                    outside_keep.add(w)
    return set(sites), anywhere, outside_keep


def test_every_public_def_is_reached_or_kept():
    names, reached, _ = _reached()
    missing = sorted(names - reached - set(KEEP))
    assert not missing, (
        f"public defs no production code reaches: {missing}. Wire each, delete "
        "it with its tests, or add it to KEEP with the reason it stays."
    )


def test_keep_list_is_current():
    names, _, reached = _reached()
    gone = sorted(set(KEEP) - names)
    assert not gone, f"KEEP names defs that no longer exist: {gone}"
    wired = sorted(set(KEEP) & reached)
    assert not wired, f"KEEP names defs that production now reaches: {wired}"
    assert all(reason.strip() for reason in KEEP.values())
