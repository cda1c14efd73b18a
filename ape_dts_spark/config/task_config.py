"""task_config.ini parser mirroring the reference's config surface.

The reference drives everything from an ini file with sections
``[extractor] [sinker] [filter] [router] [pipeline] [parallelizer] [runtime]``
(dt-common/src/config/task_config.rs; examples under dt-tests/tests/*/task_config.ini).
We parse the same sections into a typed config that the Spark pipeline factories
consume. Unknown keys are preserved in ``extra`` so configs round-trip.
"""

from __future__ import annotations

import configparser
from dataclasses import dataclass, field
from typing import Any

from ape_dts_spark.config.rdb_filter import RdbFilter
from ape_dts_spark.router import RdbRouter


@dataclass
class SectionConfig:
    values: dict[str, str] = field(default_factory=dict)

    def get(self, key: str, default: str | None = None) -> str | None:
        return self.values.get(key, default)

    def get_int(self, key: str, default: int = 0) -> int:
        v = self.values.get(key)
        return int(v) if v not in (None, "") else default


@dataclass
class TaskConfig:
    extractor: SectionConfig
    sinker: SectionConfig
    filter: RdbFilter
    router: RdbRouter
    pipeline: SectionConfig
    parallelizer: SectionConfig
    runtime: SectionConfig
    extra: dict[str, Any] = field(default_factory=dict)

    @classmethod
    def from_file(cls, path: str) -> "TaskConfig":
        parser = configparser.ConfigParser(interpolation=None, strict=False)
        parser.optionxform = str  # case-sensitive keys like the reference
        with open(path) as f:
            parser.read_string(f.read())
        return cls.from_parser(parser)

    @classmethod
    def from_string(cls, text: str) -> "TaskConfig":
        parser = configparser.ConfigParser(interpolation=None, strict=False)
        parser.optionxform = str
        parser.read_string(text)
        return cls.from_parser(parser)

    @classmethod
    def from_parser(cls, parser: configparser.ConfigParser) -> "TaskConfig":
        def section(name: str) -> SectionConfig:
            if parser.has_section(name):
                return SectionConfig(dict(parser.items(name)))
            return SectionConfig()

        filt_raw = section("filter")
        rout_raw = section("router")

        def _json_or_raw(v: str) -> str:
            # the reference prefixes inline json values with 'json:'
            return v[5:] if v.startswith("json:") else v

        filt = RdbFilter(
            do_schemas=filt_raw.get("do_dbs", filt_raw.get("do_schemas", "")) or "",
            ignore_schemas=filt_raw.get("ignore_dbs", filt_raw.get("ignore_schemas", "")) or "",
            do_tbs=filt_raw.get("do_tbs", "") or "",
            ignore_tbs=filt_raw.get("ignore_tbs", "") or "",
            do_events=filt_raw.get("do_events", "") or "",
            do_structures=filt_raw.get("do_structures", "") or "",
            do_ddls=filt_raw.get("do_ddls", "") or "",
            do_dcls=filt_raw.get("do_dcls", "") or "",
            ignore_cmds=filt_raw.get("ignore_cmds", "") or "",
            where_conditions=_json_or_raw(filt_raw.get("where_conditions", "") or ""),
            ignore_cols=_json_or_raw(filt_raw.get("ignore_cols", "") or ""),
        )
        rout = RdbRouter(
            schema_map=rout_raw.get("db_map", rout_raw.get("schema_map", "")) or "",
            tb_map=rout_raw.get("tb_map", "") or "",
            col_map=_json_or_raw(rout_raw.get("col_map", "") or ""),
            topic_map=rout_raw.get("topic_map", "") or "",
        )
        extra = {
            name: dict(parser.items(name))
            for name in parser.sections()
            if name not in ("extractor", "sinker", "filter", "router", "pipeline", "parallelizer", "runtime")
        }
        return cls(
            extractor=section("extractor"),
            sinker=section("sinker"),
            filter=filt,
            router=rout,
            pipeline=section("pipeline"),
            parallelizer=section("parallelizer"),
            runtime=section("runtime"),
            extra=extra,
        )
