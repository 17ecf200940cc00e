"""One distributed scan for the binary file-format readers.

``read_shp`` / ``read_dbf`` (sources/shapefile.py), ``read_dted`` /
``read_geotiff`` / ``read_gridascii`` (sources/dem.py) and ``read_warc``
(sources/warc.py) are the same plan: a ``binaryFile`` source, then an
Arrow-batched ``mapInPandas`` kernel that parses each FILE (not each
feature) into one pandas frame of the reader's schema.  Only the parse
function and the schema differ.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def scan_files(
    spark: SparkSession,
    path_glob: str,
    parse: Callable[[bytes, str], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """``parse(content, path)`` over every file matching ``path_glob``."""
    files = spark.read.format("binaryFile").load(path_glob)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                yield parse(bytes(content), path)

    return files.select("path", "content").mapInPandas(run, schema=schema)
