"""Synthetic Common-Crawl-style webtext table (FIXTURES.md F1).

Schema is exactly BASELINE.json's input_hint:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Mentions from the surface-form pool are embedded into filler text,
separated by at least one filler token so greedy longest-match gazetteer
extraction recovers them exactly; surface draw is Zipf-distributed so one
hot form exercises skew handling.  Pure function of (seed, n_rows).
"""

from __future__ import annotations

import datetime as dt

import numpy as np

from nilinker_spark.fixtures.kb import KBFixture

# Filler vocabulary is plain English; concept words are synthetic syllable
# mashes, so filler never collides with the gazetteer.
_FILLER = (
    "the of and a to in is was for on that with as by at from this it an "
    "be are were has have had not but about into over under page report "
    "study site news item value detail world group result part time year"
).split()

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def make_webtext(
    kb: KBFixture,
    seed: int = 42,
    n_rows: int = 2000,
    zipf_a: float = 1.5,
) -> list[tuple[str, dt.datetime, bytes, str, str]]:
    """Rows of (url, warc_ts, html, text, lang); ~95% en, rest de/pt."""
    rng = np.random.default_rng(seed + 3)
    surfaces = [s for s, _, _ in kb.surface_forms]
    n_surf = len(surfaces)
    rows = []
    for i in range(n_rows):
        n_mentions = int(rng.integers(1, 7))
        # Zipf-distributed surface index -> one hot head form (skew)
        m_idx = np.minimum(rng.zipf(zipf_a, size=n_mentions) - 1, n_surf - 1)
        parts: list[str] = []
        for mi in m_idx:
            n_fill = int(rng.integers(1, 5))
            parts.extend(str(w) for w in rng.choice(_FILLER, size=n_fill))
            parts.append(surfaces[int(mi)])
        parts.extend(str(w) for w in rng.choice(_FILLER, size=int(rng.integers(1, 5))))
        text = " ".join(parts)
        lang = "en" if rng.random() < 0.95 else ("de" if rng.random() < 0.5 else "pt")
        url = f"https://ex{i % 50}.test/p/{i}"
        html = b"<html><body>" + text.encode("utf-8") + b"</body></html>"
        rows.append((url, _EPOCH + dt.timedelta(seconds=i), html, text, lang))
    return rows


def write_webtext_parquet(spark, kb: KBFixture, path: str, seed: int = 42, n_rows: int = 2000) -> None:
    """Materialize the fixture as parquet (Iceberg stand-in in this sandbox)."""
    from nilinker_spark.config import local_frame
    from nilinker_spark.sources.webtext import WEBTEXT_SCHEMA

    rows = make_webtext(kb, seed=seed, n_rows=n_rows)
    local_frame(spark, WEBTEXT_SCHEMA, rows).write.mode("overwrite").parquet(path)
