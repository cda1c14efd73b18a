"""Every public def in the package has a production caller, or a reason;
every shared transport step runs in its one runner.

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

The same walk guards the package's environment reads: each must name a
deployment setting in ``DEPLOYMENT_ENV``. A value that picks a route or tunes
an operator is worked out from the input or is a module constant, not a knob.

A third walk keeps the transport plumbing in one place: a ``binaryFile``
read (batch or stream) happens only in ``session._scan_files`` and a
one-endpoint-per-partition layout only in ``session._pull_endpoints``.
A fourth keeps the single-task route of the text trainers in one place: in
``functions/text.py`` a ``coalesce(1)`` happens only in ``_single_task``, and
so does a ``mapInPandas``, apart from the listed per-batch passes.
A fifth keeps the media payload kernels on one runner: in
``functions/media_codec.py`` and ``functions/multimodal.py`` a
``mapInPandas`` happens only in ``media_codec._quarantine_map``.
A sixth keeps the sinks' Arrow file tasks in one place: under ``sinks/`` a
``mapInArrow`` happens only in ``parquet_table._copy_kept``.
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


DEPLOYMENT_ENV: dict[str, str] = {
    "SPARK_GRAFT_CPUS": "local-mode core count: the cores the deployment grants, "
                        "which os.cpu_count() cannot see under a CPU quota",
    "SPARK_DRIVER_MEMORY": "driver JVM heap: the memory the deployment grants",
    "SPARK_GRAFT_STREAM_SHUFFLE": "state-partition width of a stream, pinned into "
                                  "its checkpoint; sized to the deployment's keyed state",
}


def _env_reads() -> list[tuple[str, str | None]]:
    """("file:line", variable name) for every ``os.environ`` / ``getenv`` use
    in the package; the name is None when it is not a string literal."""
    reads = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
            if name not in ("environ", "getenv"):
                continue
            up = parent.get(node)
            if isinstance(up, ast.Attribute):  # os.environ.get(...)
                up = parent.get(up)
            key = None
            if isinstance(up, ast.Call) and up.args:
                key = up.args[0]
            elif isinstance(up, ast.Subscript):
                key = up.slice
            elif isinstance(up, ast.Compare):  # "X" in os.environ
                key = up.left
            literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
            reads.append((f"{path.relative_to(ROOT)}:{node.lineno}",
                          key.value if literal else None))
    return reads


def test_environment_reads_are_deployment_settings():
    reads = _env_reads()
    knobs = [(where, name) for where, name in reads if name not in DEPLOYMENT_ENV]
    assert not knobs, (
        f"environment reads that are not deployment settings: {knobs}. Derive the "
        "value from the input or make it a module constant; a real deployment "
        "setting goes into DEPLOYMENT_ENV with its reason."
    )
    gone = sorted(set(DEPLOYMENT_ENV) - {name for _, name in reads})
    assert not gone, f"DEPLOYMENT_ENV names variables the package no longer reads: {gone}"


# The transport steps each source shares, and the one function that may run
# each: a source supplies only its per-file decode or per-endpoint pull.
TRANSPORT_RUNNERS = {
    "binaryFile": ("session.py", "_scan_files"),
    "one_row_per_partition": ("session.py", "_pull_endpoints"),
}


def _transport_calls() -> list[tuple[str, str, str]]:
    """(step, "file:line", enclosing top-level def) for every package call
    that reads ``binaryFile`` (``.format("binaryFile")``, batch or
    ``readStream``) or lays endpoints out with ``one_row_per_partition``."""
    calls = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                step = None
                if name == "format" and node.args and isinstance(node.args[0], ast.Constant) \
                        and node.args[0].value == "binaryFile":
                    step = "binaryFile"
                elif name == "one_row_per_partition":
                    step = name
                if step:
                    calls.append((step, f"{path.relative_to(PACKAGE)}:{node.lineno}",
                                  getattr(top, "name", "<module>")))
    return calls


def test_transport_steps_run_only_in_their_runner():
    calls = _transport_calls()
    stray = [(step, where) for step, where, fn in calls
             if (where.split(":")[0], fn) != TRANSPORT_RUNNERS[step]]
    assert not stray, (
        f"transport steps outside their runner: {stray}. Read change files through "
        "session._scan_files and live endpoints through session._pull_endpoints."
    )
    assert {step for step, _, _ in calls} == set(TRANSPORT_RUNNERS)


# The per-batch Arrow passes of functions/text.py: they run on every
# partition, so they are not a single-task route. `_hashed_bags` is the
# perceptron family's bag kernel; `_perceptron` runs its step once per
# partition per iteration on the partition route.
TEXT_PER_BATCH_PASSES = {"ngram_overlap_bloom", "nfc_normalize_text", "_hashed_bags", "_perceptron"}
TEXT_ARROW_STEPS = ("mapInPandas", "mapInArrow")


def _text_task_calls() -> list[tuple[str, str, str]]:
    """(step, "line", enclosing top-level def) for every ``coalesce(1)``,
    ``mapInPandas`` and ``mapInArrow`` call in functions/text.py."""
    calls = []
    for top in ast.parse((PACKAGE / "functions" / "text.py").read_text()).body:
        for node in ast.walk(top):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            step = node.func.attr
            one = [a.value for a in node.args if isinstance(a, ast.Constant)] == [1]
            if step in TEXT_ARROW_STEPS or (step == "coalesce" and one):
                calls.append((step, str(node.lineno), getattr(top, "name", "<module>")))
    return calls


def test_text_single_task_route_runs_only_in_its_runner():
    calls = _text_task_calls()
    stray = [(step, line, fn) for step, line, fn in calls
             if fn != "_single_task"
             and not (step in TEXT_ARROW_STEPS and fn in TEXT_PER_BATCH_PASSES)]
    assert not stray, (
        f"single-task steps outside text._single_task: {stray}. Run a trainer's "
        "single-task route through _single_task."
    )
    assert {fn for _, _, fn in calls} == {"_single_task"} | TEXT_PER_BATCH_PASSES


MEDIA_MODULES = ("media_codec.py", "multimodal.py")


def _map_calls(modules: list[Path], step: str) -> list[tuple[str, str, str]]:
    """(module, line, enclosing top-level def) for every ``step`` call
    (``mapInPandas`` or ``mapInArrow``) in ``modules``."""
    calls = []
    for path in modules:
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                        and node.func.attr == step):
                    calls.append((path.name, str(node.lineno), getattr(top, "name", "<module>")))
    return calls


def test_media_payload_kernels_run_only_in_the_runner():
    calls = _map_calls([PACKAGE / "functions" / m for m in MEDIA_MODULES], "mapInPandas")
    stray = [call for call in calls if call[::2] != ("media_codec.py", "_quarantine_map")]
    assert not stray, (
        f"mapInPandas outside media_codec._quarantine_map: {stray}. Run a "
        "per-payload media kernel through _quarantine_map (errors='raise' "
        "when it has no quarantine policy)."
    )
    assert len(calls) == 1


def test_sink_arrow_tasks_run_only_in_the_kept_copy():
    calls = _map_calls(sorted((PACKAGE / "sinks").glob("*.py")), "mapInArrow")
    stray = [call for call in calls if call[::2] != ("parquet_table.py", "_copy_kept")]
    assert not stray, (
        f"mapInArrow outside parquet_table._copy_kept: {stray}. A sink's Arrow "
        "file task runs in the kept-copy runner."
    )
    assert len(calls) == 1
