"""Filesystem graph source: parquet/csv/orc/json directory + schema sidecar.

Reference: ``FSGraphSource`` (morpheus-spark-cypher/.../api/io/fs/
FSGraphSource.scala:79-93 — ``spark.read.format(fmt).load``/``write``) with
the on-disk layout of ``GraphDirectoryStructure.scala``:

    <root>/<graph>/propertyGraphSchema.json
    <root>/<graph>/nodes/<label[_label...]>/         (one table per combo)
    <root>/<graph>/relationships/<TYPE>/             (one table per type)

The sidecar is the schema source of truth (labels, types, property dtypes,
patterns) so text formats (csv/json) round-trip with exact Spark types and
readers never pay a schema-inference scan — at 100 TB an inference pass over
every table would be a full extra read.
"""

from __future__ import annotations

import json
import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..graph import GraphSchema, NODE_ID, PropertyGraph, REL_ID, REL_SOURCE, REL_TARGET

SCHEMA_FILE = "propertyGraphSchema.json"
_COMBO_SEP = "_"


def _combo_dir(combo: frozenset) -> str:
    return _COMBO_SEP.join(sorted(combo))


def _struct(cols: dict) -> T.StructType:
    return T.StructType([
        T.StructField(name, T._parse_datatype_string(dtype))
        for name, dtype in cols.items()])


KNOWN_FORMATS = ("parquet", "csv", "orc", "json", "avro")


def format_available(spark: SparkSession, fmt: str) -> bool:
    """True if the session can read/write ``fmt``.  Avro ships as an
    external Spark module (FSGraphSource.scala:79-93 lists it alongside
    parquet/csv/orc); probe the classpath instead of failing mid-write."""
    if fmt != "avro":
        return fmt in KNOWN_FORMATS
    # A class-presence check is not enough (the class can be on the
    # classpath without the DataSource registration): probe the lookup the
    # way the writer will.
    import tempfile
    try:
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame([], "x int").write \
                .mode("overwrite").format("avro").save(os.path.join(d, "p"))
        return True
    except AnalysisException:   # "Failed to find data source: avro"
        return False


def write_graph(graph: PropertyGraph, path: str, fmt: str = "parquet",
                mode: str = "error") -> None:
    """Persist a property graph in the reference directory layout."""
    if fmt not in KNOWN_FORMATS:
        raise ValueError(f"unknown graph format {fmt!r}; "
                         f"one of {KNOWN_FORMATS}")
    spark = next(iter(graph.node_tables.values())).sparkSession \
        if graph.node_tables else SparkSession.builder.getOrCreate()
    if fmt == "avro" and not format_available(spark, fmt):
        raise RuntimeError(
            "avro format needs the spark-avro module on the classpath "
            "(--packages org.apache.spark:spark-avro_2.13:<spark version>)")
    def writer(df):
        w = df.write.format(fmt).mode(mode)
        return w.option("header", "true") if fmt == "csv" else w

    for combo, df in graph.node_tables.items():
        writer(df).save(os.path.join(path, "nodes", _combo_dir(combo)))
    for rtype, df in graph.rel_tables.items():
        writer(df).save(os.path.join(path, "relationships", rtype))
    sidecar = {
        "format": fmt,
        "name": graph.name,
        "schema": json.loads(graph.schema.to_json()),
    }
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, SCHEMA_FILE), "w") as f:
        json.dump(sidecar, f, indent=2)


def read_graph(spark: SparkSession, path: str,
               name: str | None = None) -> PropertyGraph:
    """Load a graph written by :func:`write_graph` (schema from the sidecar,
    no inference scan)."""
    with open(os.path.join(path, SCHEMA_FILE)) as f:
        sidecar = json.load(f)
    fmt = sidecar.get("format", "parquet")
    schema = GraphSchema.from_json(json.dumps(sidecar["schema"]))

    nodes = {}
    for combo, props in schema.node_props.items():
        cols = {NODE_ID: "bigint", **props}
        reader = spark.read.format(fmt)
        if fmt != "parquet":
            reader = reader.schema(_struct(cols))
            if fmt == "csv":
                reader = reader.option("header", "true")
        nodes[combo] = reader.load(
            os.path.join(path, "nodes", _combo_dir(combo)))
    rels = {}
    for rtype, props in schema.rel_props.items():
        cols = {REL_ID: "bigint", REL_SOURCE: "bigint",
                REL_TARGET: "bigint", **props}
        reader = spark.read.format(fmt)
        if fmt != "parquet":
            reader = reader.schema(_struct(cols))
            if fmt == "csv":
                reader = reader.option("header", "true")
        rels[rtype] = reader.load(os.path.join(path, "relationships", rtype))
    return PropertyGraph(nodes, rels, name=name or sidecar.get("name", "graph"))
