"""Mongo change model riding the canonical change-DataFrame path.

Reference: mongo_snapshot_extractor.rs / mongo_cdc_extractor.rs /
mongo_sinker.rs / mongo_merger.rs (~2,300 LoC of MongoDB driver plumbing).
The change MODEL is simpler than the relational one: events carry full
extended-JSON documents keyed on an immutable ``_id`` — no key-changing
updates, no NULL keys, so MongoMerger is RdbMerger without the spill path
(mongo_merger.rs vs rdb_merger.rs). That maps directly onto the canonical
change DataFrame with payload ``(_id string, doc string)``:
parse -> filter/route -> compact_changes(key=['_id']) -> merge_apply all
reuse the relational operators unchanged.

No wire connector ships here (no Mongo driver in this container; production
runs the Debezium MongoDB connector into Kafka and this parse path consumes
it — Debezium Mongo envelopes carry before/after as JSON *strings*, which is
exactly what this module parses). Document field access downstream is
``get_json_object`` / ``from_json`` — JVM-side, codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ape_dts_spark.streaming.cdc import _change_columns

MONGO_PAYLOAD = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("doc", T.StringType()),
    ]
)


def mongo_envelope_schema() -> T.StructType:
    """Debezium MongoDB envelope: before/after are ext-JSON STRINGS (unlike
    the relational connectors' typed structs)."""
    return T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("before", T.StringType()),
            T.StructField("after", T.StringType()),
            T.StructField(
                "source",
                T.StructType(
                    [
                        T.StructField("db", T.StringType()),
                        T.StructField("collection", T.StringType()),
                        T.StructField("ts_ms", T.LongType()),
                        T.StructField("seq", T.LongType()),
                        T.StructField("origin_node", T.StringType()),
                    ]
                ),
            ),
        ]
    )


def _image(doc: Column) -> Column:
    """JSON document string -> (_id, doc) struct; NULL document -> NULL image."""
    return F.when(
        doc.isNotNull(),
        F.struct(F.get_json_object(doc, "$._id").alias("_id"), doc.alias("doc")),
    )


def parse_debezium_mongo(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Debezium-Mongo JSON envelope -> canonical change DataFrame
    (schema, tb, row_type, before, after, seq, ts, origin_node) with the
    (_id, doc) payload — identical shape to streaming/cdc.parse_debezium, so
    CdcPipeline / compact_changes / merge_apply work unchanged with
    key_cols=['_id']."""
    parsed = raw.select(F.from_json(F.col(value_col), mongo_envelope_schema()).alias("_r"))
    return parsed.select(*_change_columns("_r", tb_field="collection", ddl=False, image=_image))


def mongo_statements(compacted: DataFrame, shard_key: str | None = None) -> DataFrame:
    """Compacted (_id-keyed) write-set -> one MongoDB bulk operation per row,
    rendered shell-style (the sinker analogue of mongo_sinker.rs replace/
    delete bulk writes; a real sink feeds the same rows to foreachBatch +
    pymongo bulk_write):

    upsert -> db.<tb>.replaceOne({"_id": <id>}, <doc>, {"upsert": true});
    delete -> db.<tb>.deleteOne({"_id": <id>});
    Output: (schema, tb, _id, op, seq, stmt).

    ``shard_key``: sharded target collections reject filters without the
    shard key (``mongo_require_shard_key_filter``, docs/en/config.md) — when
    set, the key's value is pulled from the row's doc image and added to
    every filter. Deletes use the before image (their after is null); a
    delete with no image to extract from keeps the _id-only filter and is
    the caller's signal to route through a broadcast delete instead.

    ``get_json_object`` strips the quotes off extracted JSON strings AND
    erases the type (a string field holding ``"123"`` extracts identically
    to the number ``123``), so whether to re-quote is decided by a real JSON
    parse: ``schema_of_variant(variant_get(parse_json(image), '$.key'))`` is
    ``STRING`` exactly when the TOP-LEVEL shard-key value is a JSON string —
    a same-named key nested in an earlier sub-document cannot fool it the
    way a first-occurrence regex probe could (ADVICE r7). String values are
    re-quoted (with ``"`` and ``\\`` escaped); scalars and object/array
    renderings pass verbatim, preserving the original lexeme.
    """

    def _filter(image_col: str):
        base = [F.lit('{"_id": '), F.col("_id")]
        if shard_key:
            val = F.get_json_object(F.col(image_col), f"$.{shard_key}")
            quoted = F.concat(
                F.lit('"'),
                F.regexp_replace(val, r'(["\\])', r"\\$1"),
                F.lit('"'),
            )
            top_type = F.schema_of_variant(
                F.try_variant_get(
                    F.try_parse_json(F.col(image_col)), f"$.{shard_key}", "variant"
                )
            )
            rendered = F.when(top_type == F.lit("STRING"), quoted).otherwise(val)
            base += [
                F.when(
                    val.isNotNull(),
                    F.concat(F.lit(f', "{shard_key}": '), rendered),
                ).otherwise(F.lit(""))
            ]
        return F.concat(*base, F.lit("}"))

    replace = F.concat(
        F.lit("db."), F.col("tb"), F.lit(".replaceOne("), _filter("after.doc"),
        F.lit(", "), F.col("after.doc"), F.lit(', {"upsert": true});'),
    )
    before_doc = "before.doc" if "before" in compacted.columns else "after.doc"
    delete = F.concat(
        F.lit("db."), F.col("tb"), F.lit(".deleteOne("), _filter(before_doc), F.lit(");")
    )
    stmt = F.when(F.col("op") == "delete", delete).otherwise(replace)
    return compacted.select("schema", "tb", "_id", "op", "seq", stmt.alias("stmt"))
