"""Stage the ``decode`` workload's fixture payloads once per checkout.

Usage: ``python3 perfbench/fixtures.py OUT_DIR``. Writes ``docs/`` (the
tables the payloads and their oracles derive from: seed 0, sf0.01),
one parquet directory per decode split (encoded by the package's own
``*_fixture_df`` stage) and ``avro/`` (``avro_write_fixture``), then the
``READY`` marker. Encoding is the slow, untimed part of the workload.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import datagen  # noqa: E402
from worker import DECODE, resolve, start_session  # noqa: E402

DOCS_SEED, DOCS_SF = 0, 0.01


def main(out: str) -> None:
    from stream_processing_platform_spark.queries.relational import avro_write_fixture

    docs = os.path.join(out, "docs")
    if not os.path.isdir(docs):
        datagen.write_tables(docs, DOCS_SEED, DOCS_SF)
    spark = start_session()
    try:
        for name, _query, fixture, _decode in DECODE:
            resolve(fixture)(spark, docs).write.mode("overwrite").parquet(
                os.path.join(out, f"{name}.pool"))
        avro_write_fixture(spark, docs, os.path.join(out, "avro"))
    finally:
        spark.stop()
    open(os.path.join(out, "READY"), "w").close()


if __name__ == "__main__":
    main(sys.argv[1])
