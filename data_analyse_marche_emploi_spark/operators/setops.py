"""Set operations (SURVEY.md §2.D "absent" list — engine surface).

The reference's only set-shaped computation is the *implicit dedup-union*
of overlapping partitioned scans merged by the keyed bulk upsert
(ingestion-elasticsearch.py:36-55). The catalog's set entries call the
DataFrame methods (``subtract``; ``intersect`` via this helper): all shuffle
on the full row; at scale prefer key-based semi/anti joins when only a
key matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)

