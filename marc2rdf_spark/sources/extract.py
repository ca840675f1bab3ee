"""Extraction + parse stage: web_pages -> records DF.

Stage contract (BASELINE.json input_hint / north_star):
 - last-write-wins per url by warc_ts (OAI re-delivery semantics,
   SURVEY.md §2.10) — implemented as ``groupBy(url).agg(max_by(...))``
   so Spark performs partial (map-side) aggregation: ONE shuffle keyed
   by url, no window-sort;
 - record text extracted **byte-identically per url** via a vectorized
   Arrow UDF (``mapInPandas``): the extracted string is an exact
   substring of the page text, never re-serialized;
 - MARCXML -> nested record struct in the same Arrow pass (one Python
   exchange instead of two).

At 100 TB the url-dedup shuffle is the stage's only wide dependency;
AQE coalesces/splits post-shuffle partitions.  The Arrow stage is
embarrassingly parallel after it.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..marc import find_record_strings, record_to_dict, try_parse_record_xml
from ..schema import RECORDS_SCHEMA


def latest_pages(pages: DataFrame) -> DataFrame:
    """Last write wins per url (later warc_ts, ties by longer text)."""
    return pages.groupBy("url").agg(
        F.max_by(F.col("text"), F.struct(F.col("warc_ts"), F.length("text")))
        .alias("text")
    )


def _latest_per_url(batches):
    """In-partition last write wins: one frame holding each url's latest
    crawl (same ``(warc_ts, len(text))`` key as ``latest_pages``)."""
    import pandas as pd

    best: dict = {}  # url -> ((warc_ts, len), text)
    for pdf in batches:
        for url, ts, text in zip(pdf["url"], pdf["warc_ts"], pdf["text"]):
            if text is None:
                continue
            key = (ts, len(text))
            cur = best.get(url)
            if cur is None or key > cur[0]:
                best[url] = (key, text)
    return pd.DataFrame(
        {"url": list(best), "text": [text for _, text in best.values()]}
    )


def extract_and_parse(
    pages: DataFrame,
    urls_colocated: bool = False,
    include_xml: bool = True,
) -> DataFrame:
    """web_pages -> (url, record_xml, record) rows, one per embedded
    MARC record of each url's latest crawl.

    ``urls_colocated=True`` declares that all rows of a url live in the
    same scan partition — the Iceberg ``bucket(N, url)`` production
    layout.  Then last-write-wins runs INSIDE the Arrow pass
    (per-partition hash map, memory bounded by the partition's pages)
    and the stage has ZERO wide dependencies: at cluster scale this
    removes the corpus-sized url shuffle entirely.  The default keeps
    the general groupBy(url) path for arbitrarily-laid-out input.

    ``include_xml=False`` nulls the ``record_xml`` column (schema
    unchanged).  Only the raw staging zone (S5) and byte-identity
    checks consume the exact snippet; a straight conversion reads just
    the parsed struct, and column pruning cannot reach inside
    mapInPandas — without this flag every page's full record text is
    serialized to Arrow, copied into the JVM, and then discarded,
    roughly doubling the extract stage's memory traffic."""
    import pandas as pd

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if urls_colocated:
            batches = [_latest_per_url(batches)]
        for pdf in batches:
            urls, xmls, recs = [], [], []
            for url, text in zip(pdf["url"], pdf["text"]):
                if text is None:
                    continue
                for snippet in find_record_strings(text):
                    rec = try_parse_record_xml(snippet)
                    if rec is None:  # malformed snippet: skip, don't
                        continue     # fail the whole Arrow batch
                    urls.append(url)
                    # exact substring: byte-identical (unless pruned)
                    xmls.append(snippet if include_xml else None)
                    recs.append(record_to_dict(rec))
            # no frame for a batch without records: an empty frame's
            # float64 columns cannot be cast to the record struct
            if urls:
                yield pd.DataFrame(
                    {"url": urls, "record_xml": xmls, "record": recs}
                )

    src = (
        pages.select("url", "warc_ts", "text") if urls_colocated
        else latest_pages(pages)
    )
    return src.mapInPandas(worker, schema=RECORDS_SCHEMA)
