"""Custom Python data source (Spark 4 `pyspark.sql.datasource` API):
a deterministic synthetic-corpus generator, `docsynth`.

Why a generator source: scale testing a 100 TB pipeline by materializing
100 TB of fixture parquet is self-defeating — the honest way to drive
load is a source that *generates* rows inside the scan, partitioned like
any file source, so every downstream operator (shuffles, aggregations,
LSH, ANN) sees real distributed input with zero input I/O.  This module
is also the repo's coverage of the Spark 4 custom-source surface itself:
schema declaration, partition planning, per-partition Arrow-batch reads
(a scale study that checks results against the DuckDB oracle
materializes parquet replicas instead, because both engines must read
the same bytes).

Every row is a pure function of `doc_id` (splittable counter-based
generation, the Philox/`SplittableRandom` idea): content never depends
on partitioning, so two reads with different `partitions` settings are
row-for-row identical — asserted in tests/test_datasource.py.

Usage:
    spark.dataSource.register(SyntheticDocsDataSource)
    df = (spark.read.format("docsynth")
          .option("rows", 100_000).option("partitions", 32).load())
"""

from __future__ import annotations

from dataclasses import dataclass
import zlib

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

#: mirrors the fixture `documents` vocabulary style (ASCII word soup)
_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query big vector "
    "the a stream filter group order"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]  # en-heavy mix
_N_SOURCES = 20

_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)


def _h(doc_id: int, salt: int) -> int:
    """Cheap deterministic per-(doc, salt) integer — crc32 of the pair.
    Not cryptographic; just stable, seedable, and dependency-free."""
    return zlib.crc32(f"{salt}:{doc_id}".encode())


def synth_doc(doc_id: int) -> tuple[int, str, str, str, int]:
    """The one generation rule: row content as a pure function of doc_id."""
    n_tokens = 20 + _h(doc_id, 0) % 60
    toks = [
        _VOCAB[_h(doc_id, 1000 + i) % len(_VOCAB)] for i in range(n_tokens)
    ]
    text = " ".join(toks)
    lang = _LANGS[_h(doc_id, 1) % len(_LANGS)]
    source = f"src{_h(doc_id, 2) % _N_SOURCES}"
    return (doc_id, text, lang, source, len(text))


@dataclass
class _Range(InputPartition):
    start: int
    end: int


class _Reader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.parts = max(1, int(options.get("partitions", 8)))

    def partitions(self):
        if self.rows <= 0:
            # rows=0 is a valid empty scan; a zero range step would
            # raise an opaque ValueError inside partition planning
            return [_Range(0, 0)]
        step = (self.rows + self.parts - 1) // self.parts
        return [
            _Range(lo, min(lo + step, self.rows))
            for lo in range(0, self.rows, step)
        ]

    def read(self, partition: _Range):
        for doc_id in range(partition.start, partition.end):
            yield synth_doc(doc_id)


class SyntheticDocsDataSource(DataSource):
    """`spark.read.format("docsynth")` — options: rows, partitions."""

    @classmethod
    def name(cls) -> str:
        return "docsynth"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> _Reader:
        return self._reader_for_options()

    def _reader_for_options(self) -> _Reader:
        return _Reader(self.options)
