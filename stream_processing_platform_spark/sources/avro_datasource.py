"""``spp_avro`` — an Avro OCF batch source/sink as a Spark 4 Python
DataSource, backed by the from-scratch pure-Python codec
(sources/avrocodec.py). The stock Spark distribution here ships
without the external ``spark-avro`` module, so this provides the
Kafka-ecosystem container format the reference's transport world
implies (its Kafka operators move JSON; Avro OCF is the at-rest twin)
— implemented against the public Avro spec, no Avro library.

Listing, the two-phase manifest commit (``_spp_avro_manifest.json``)
and the file-per-batch stream reader come from file_datasource.py.
What is Avro's own: the schema is inferred from ONE header (not
data), each file decodes block by block into Arrow batches (no
whole-file materialization), and each write task encodes one
deflate OCF file.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from stream_processing_platform_spark.sources.avrocodec import (
    read_header,
    record_fields,
    write_ocf,
)
from stream_processing_platform_spark.sources.file_datasource import (
    FileDataSource,
    FilePartition,
)

MANIFEST = "_spp_avro_manifest.json"

_AVRO_TO_SPARK = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "bytes": BinaryType(),
    "string": StringType(),
}
_SPARK_TO_AVRO = {
    BooleanType(): "boolean",
    IntegerType(): "int",
    LongType(): "long",
    FloatType(): "float",
    DoubleType(): "double",
    BinaryType(): "bytes",
    StringType(): "string",
}


def _avro_type_to_spark(norm):
    nullable = False
    if isinstance(norm, tuple) and norm[0] == "nullable":
        nullable, norm = True, norm[1]
    if isinstance(norm, tuple) and norm[0] == "array":
        inner, inner_null = _avro_type_to_spark(norm[1])
        return ArrayType(inner, containsNull=inner_null), nullable
    return _AVRO_TO_SPARK[norm], nullable


def avro_schema_to_struct(schema: dict) -> StructType:
    fields = []
    for name, norm in record_fields(schema):
        dt, nullable = _avro_type_to_spark(norm)
        fields.append(StructField(name, dt, nullable))
    return StructType(fields)


def _spark_type_to_avro(dt, nullable: bool):
    if isinstance(dt, ArrayType):
        inner = _spark_type_to_avro(dt.elementType, dt.containsNull)
        t: object = {"type": "array", "items": inner}
    else:
        t = _SPARK_TO_AVRO[dt]
    return ["null", t] if nullable else t


def struct_to_avro_schema(st: StructType, name: str = "row") -> dict:
    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": _spark_type_to_avro(f.dataType, f.nullable)}
            for f in st.fields
        ],
    }


# Rows per Arrow batch: bounds worker memory while keeping batches large
# enough that the columnar transpose amortizes (the WDS/WARC readers'
# per-shard batching, adapted to row-oriented OCF files).
_BATCH_ROWS = 65536


def _read_ocf_batches(path: str, struct_schema: StructType):
    """Decode one OCF file into pyarrow.RecordBatches."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from stream_processing_platform_spark.sources.avrocodec import (
        read_ocf_column_blocks,
    )

    with open(path, "rb") as f:
        schema, _, _ = read_header(f)
    names = [n for n, _ in record_fields(schema)]
    # the header is already read, so field-order validation is free — a
    # foreign-written OCF with reordered same-typed fields must not
    # silently misattribute columns
    want = [f.name for f in struct_schema.fields]
    if names != want:
        raise ValueError(f"{path}: field order {names} != expected {want}")
    aschema = to_arrow_schema(struct_schema)

    def flush(cols):
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=fld.type) for c, fld in zip(cols, aschema)],
            schema=aschema,
        )

    # blocks arrive columnar from the schema-specialized compiled
    # decoder (avrocodec.read_ocf_column_blocks); regroup to
    # _BATCH_ROWS-sized Arrow batches
    cols: list[list] = [[] for _ in names]
    for _n, block_cols in read_ocf_column_blocks(path):
        if len(block_cols) != len(names):  # pragma: no cover
            raise ValueError(f"{path}: column count mismatch")
        for acc, c in zip(cols, block_cols):
            acc.extend(c)
        if len(cols[0]) >= _BATCH_ROWS:
            yield flush(cols)
            cols = [[] for _ in names]
    if cols and cols[0]:
        yield flush(cols)


class AvroDataSource(FileDataSource):
    """``spark.read.format("spp_avro").load(path)`` /
    ``df.write.format("spp_avro").mode(...).save(dir)`` /
    ``spark.readStream.format("spp_avro")...`` (file-per-batch log)."""

    MANIFEST = MANIFEST
    EXTS = (".avro",)

    @classmethod
    def name(cls) -> str:
        return "spp_avro"

    def schema(self):
        files = self.files()
        if not files:
            raise ValueError("cannot infer schema: no .avro files")
        with open(files[0], "rb") as f:
            avro_schema, _, _ = read_header(f)
        return avro_schema_to_struct(avro_schema)

    def part_ext(self) -> str:
        return ".avro"

    def read_file(self, part: FilePartition, schema: StructType):
        return _read_ocf_batches(part.path, schema)

    def write_file(self, tmp: str, name: str, rows, schema: StructType) -> None:
        write_ocf(
            tmp, struct_to_avro_schema(schema), (tuple(r) for r in rows), codec="deflate"
        )


def register_avro_source(spark) -> None:
    """Idempotent registration of the spp_avro format."""
    spark.dataSource.register(AvroDataSource)
