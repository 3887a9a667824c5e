"""Schema fidelity of a crawl's committed tables.

Every state table's current files must carry exactly the schema its
declaration (``sources/warehouse.STATE_TABLES``) gives it.  Reading with
an explicit ``schema=``, as the engine does, would hide a frame that
wrote ``int`` where the declaration says ``long`` (and ``unionByName``
silently widens such a column), so each file's own schema is compared.
"""

from __future__ import annotations

from pyspark.sql.types import StructType

from auto_ria_spark.sources.warehouse import stored_schema


def assert_declared_schemas(eng) -> None:
    for name, table in eng.t.items():
        declared = StructType.fromDDL(
            eng._filter_schema() if name == "seen_filters"
            else stored_schema(name)).simpleString()
        files = (table.current() or {}).get("files") or []
        assert files, f"{name}: no committed files"
        got = {eng.spark.read.parquet(f).schema.simpleString() for f in files}
        assert got == {declared}, (name, got - {declared})
