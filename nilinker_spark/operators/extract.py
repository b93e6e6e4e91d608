"""S1 — mention extraction from webtext (Arrow-batched, byte-identical).

≙ the reference's corpus parsers (/root/reference/src/evanil/annotations.py:
56-307) which turn raw documents into per-doc mention dicts.  Here the
"parser" is a pure function over the html bytes (extract_text) plus a
greedy gazetteer scan (extract_mentions), both shared verbatim with the
oracle so extracted text is byte-identical per url.

Scale notes:
- ``lang == 'en'`` and the two-column projection are plain Catalyst
  filters/prunes — at 100 TB the parquet scan reads only (url, html)
  row groups for English partitions (PushedFilters visible in .explain).
- The gazetteer is a driver-side set broadcast once per executor —
  KB ≪ data, the same asymmetry the reference exploits with its
  in-memory WC dict (/root/reference/src/utils/utils.py:28-107).
- mapInPandas = Arrow record batches; no row-at-a-time Python UDFs.
  A batch small enough to scan on the driver (``mention_rows``; the
  Pipeline picks it by document count) runs the same scan there.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilinker_spark.functions.normalize import extract_text, norm_form
from nilinker_spark.oracle import extract_mentions, gazetteer_index

MENTIONS_SCHEMA = "url string, mention_id string, surface string, pos int, norm string"

# per-process (a worker's or the driver's) token → (norm_form, word_count)
# memo.  norm_form is a pure function of the token alone (no KB), so the
# memo can never go stale; the token vocabulary is Zipf-bounded, so it
# stays vocabulary-sized while saving a Python regex per corpus token (the
# extraction hot loop's largest cost — memo+probe gates measured 1.8x on
# the scan).  Size-guarded so adversarial high-entropy corpora cannot grow
# it without bound in a long-lived process.
_NORM_CACHE: dict[str, tuple[str, int]] = {}
_NORM_CACHE_MAX = 2_000_000


def _evict_norm_cache() -> None:
    """Drop the newest half of the memo, keep the oldest.

    Python dicts iterate in insertion order, and under a Zipf token
    distribution the head tokens are all inserted within the first few
    documents — so the OLDEST entries approximate the frequency head and
    the newest approximate the long tail.  Halving from the tail end
    keeps the hot head warm across the eviction (a full clear() threw it
    away mid-batch and re-paid the regex for every head token), with no
    per-hit LRU bookkeeping in the scan's innermost loop."""
    drop = list(_NORM_CACHE.keys())[len(_NORM_CACHE) // 2 :]
    for k in drop:
        del _NORM_CACHE[k]


def extract_mentions_df(spark: SparkSession, webtext: DataFrame, gazetteer: set[str]) -> DataFrame:
    """webtext(url, warc_ts, html, text, lang) -> mentions, English pages only."""
    return _scan_mentions(spark, webtext, gazetteer)


def mention_rows(webtext: DataFrame, gazetteer: set[str]) -> list[tuple]:
    """S1 on the driver: the mention rows (``MENTIONS_SCHEMA`` order) of
    webtext's English pages, the rows extract_mentions_df gives.

    The pages' (url, html) reach the driver as one Arrow collect, which
    starts no Python worker, and go through the same scan as the
    mapInPandas path — for a batch small enough to hold its html here."""
    pages = webtext.filter(F.col("lang") == "en").select("url", "html").toArrow()
    urls = pages["url"].to_pylist()
    gset = set(gazetteer)
    idx, *cols = _scan_pages(urls, pages["html"].to_pylist(), gset, gazetteer_index(gset))
    return list(zip([urls[i] for i in idx], *cols))


def _scan_pages(urls, htmls, gset: set[str], gidx) -> tuple[list, list, list, list, list]:
    """The S1 scan of one run of pages, on a worker or the driver:
    (page index, mention_id, surface, pos, norm) columns, one entry per
    mention.  It reads and fills the process's ``_NORM_CACHE`` (a
    module-level function, so a worker runs it against its own module's
    memo, not a pickled copy), first shrinking the memo past its size
    guard."""
    if len(_NORM_CACHE) > _NORM_CACHE_MAX:
        _evict_norm_cache()
    pages, mids, surfaces, poss, norms = [], [], [], [], []
    for i, (url, html) in enumerate(zip(urls, htmls)):
        text = extract_text(bytes(html))
        for mid, surface, pos in extract_mentions(url, text, gset, _NORM_CACHE, gidx):
            pages.append(i)
            mids.append(mid)
            surfaces.append(surface)
            poss.append(pos)
            norms.append(norm_form(surface))
    return pages, mids, surfaces, poss, norms


def _scan_mentions(
    spark: SparkSession, webtext: DataFrame, gazetteer: set[str], carry: tuple[str, ...] = ()
) -> DataFrame:
    """The S1 scan, batch or streaming: mentions of English pages, plus
    the page columns named in ``carry`` on every mention row.

    ``_scan_pages`` records each mention's page index; url and the
    carried columns are gathered by that index once per Arrow batch, so
    carrying a column adds no work per mention and the batch path
    projects only (url, html) into the Python worker."""
    gz = spark.sparkContext.broadcast(sorted(gazetteer))
    page_cols = ["url", *carry]
    carried = "".join(f", {c} {webtext.schema[c].dataType.simpleString()}" for c in carry)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gset = set(gz.value)
        gidx = gazetteer_index(gset)
        for pdf in batches:
            pages, mids, surfaces, poss, norms = _scan_pages(pdf["url"], pdf["html"], gset, gidx)
            page = {c: pdf[c].to_numpy()[pages] for c in page_cols}
            yield pd.DataFrame(
                {
                    "url": page.pop("url"),
                    "mention_id": mids,
                    "surface": surfaces,
                    "pos": poss,
                    "norm": norms,
                    **page,
                }
            )

    return (
        webtext.filter(F.col("lang") == "en")
        .select(*page_cols, "html")
        .mapInPandas(scan, MENTIONS_SCHEMA + carried)
    )


def extract_text_df(webtext: DataFrame) -> DataFrame:
    """(url, extracted_text) — the byte-identical-extraction parity surface."""

    def ex(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "extracted_text": [extract_text(bytes(h)) for h in pdf["html"]],
                }
            )

    return webtext.select("url", "html").mapInPandas(ex, "url string, extracted_text string")
