"""Streaming exact deduplication — the incremental-crawl primitive: as new
document batches arrive, only the FIRST occurrence of each normalized
content hash passes downstream; re-crawls and mirrors are dropped at the
door instead of accumulating for a batch dedup job.

Spark-first: ``dropDuplicatesWithinWatermark`` keeps the seen-hash set as
managed streaming state BOUNDED BY THE WATERMARK — hashes older than the
horizon are evicted, so state size is (arrival rate × horizon), not the
full crawl history.  For forever-dedup against the complete history, the
right shape at 100 TB is the batch anti-join against the merged corpus
(the same bucketed anti-join the KG pipeline's MERGE uses), not unbounded
streaming state; this operator covers the near-duplicate-in-time window
(re-crawl storms, mirror bursts) where state locality is what makes it
cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import _normalized


def dedup_stream(
    docs_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First-seen filter on a streaming document source.

    Adds ``content_hash`` (md5 of whitespace/case-normalized text — the
    same key as the batch ``exact_duplicates``/``clean_corpus`` operators,
    so batch and streaming dedup agree on what "identical" means) and
    drops rows whose hash was already seen within the watermark horizon.
    """
    return (
        docs_stream.withColumn("content_hash", F.md5(_normalized(F.col(text_col))))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )

