"""Pages -> party records extraction (pure Catalyst, no UDFs).

The north-star input is the pages table (url, warc_ts, html, text, lang);
the reference's equivalent is the positional CSV projection + null-filter
(/root/reference/src/main/java/com/database/SQLData.java:23-29,53-62). The
extractor here is the deterministic per-url text derivation the input hint
demands: ``extract_text(html)`` must equal the stored ``text`` column
byte-for-byte (asserted in tests).

Normalization uppercases BOTH reference values and record values — the
reference uppercases only its reference set (case asymmetry,
ReferenceSetBlocking.java:35 vs :166-173; SURVEY.md §2.8.4). Fixtures are
generated uppercase so golden parity holds.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import PPRLConfig

_BODY_RE = r"(?s)<body>(.*?)</body>"


def extract_text(html_col: Column) -> Column:
    """binary html -> extracted text (deterministic per url)."""
    return F.regexp_extract(html_col.cast("string"), _BODY_RE, 1)


def records_from_pages(pages: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """pages -> (id, surname, name, city, party), normalized + null-dropped.

    Party comes from the url host, id from the url path; the three blocking
    attributes are whitespace tokens of the extracted text, normalized by
    ``normalize_records`` like every other party input.
    """
    if cfg.sample_fraction is not None:
        # load-time fractional sample (SQLData.java:21-27, dormant there;
        # live + seeded here). Sampling BEFORE projection/extraction keeps
        # the skipped rows out of every downstream expression.
        pages = pages.sample(fraction=cfg.sample_fraction, seed=cfg.seed)
    toks = F.split(F.trim(extract_text(F.col("html"))), r"\s+")
    df = pages.select(
        F.regexp_extract("url", r"/page/([^/]+)$", 1).alias(cfg.id_col),
        F.upper(F.regexp_extract("url", r"^https?://([a-zA-Z])\.", 1)).alias("party"),
        *[F.element_at(toks, i + 1).alias(a) for i, a in enumerate(cfg.blocking_attrs)],
    )
    return normalize_records(df, cfg)


def normalize_records(records: DataFrame, cfg: PPRLConfig) -> DataFrame:
    """Records already in party shape: upper+trim every blocking attribute
    and drop rows where any is NULL or empty (SQLData.java:59-61, P1/P2)."""
    df = records.select(
        F.col(cfg.id_col).cast("string").alias(cfg.id_col),
        F.col("party").cast("string").alias("party"),
        *[F.upper(F.trim(F.col(a))).alias(a) for a in cfg.blocking_attrs],
    )
    return df.where(
        reduce(
            operator.and_,
            [F.col(a).isNotNull() & (F.length(a) > 0) for a in cfg.blocking_attrs],
        )
    )


_TRACKING_PARAM_RE = r"^(utm_|fbclid=|gclid=)"


def canonical_url_expr(url: Column) -> Column:
    """Crawl-dedup URL canonicalization, pure Catalyst with an exact SQL
    twin (no regex backreferences — portable across Java regex and RE2):

    * drop the ``#fragment``
    * drop tracking query params (``utm_*``, ``fbclid``, ``gclid``) via
      split -> filter -> rejoin, preserving real params and their order
    * lowercase scheme and host; strip a leading ``www.``
    * strip the scheme-default port (``:80`` http, ``:443`` https)
    * strip one trailing ``/`` from the path (root ``/`` included)

    URLs without a ``scheme://`` prefix pass through unchanged. This is
    the first stage of exact URL-level dedup for a crawl corpus — group
    on the canonical form before any content hashing.
    """
    u = F.regexp_replace(url, r"#.*$", "")
    base = F.regexp_replace(u, r"\?.*$", "")
    query = F.regexp_extract(u, r"\?(.*)$", 1)
    kept = F.array_join(
        F.filter(
            F.split(query, r"&"),
            lambda p: (F.length(p) > 0) & ~p.rlike(_TRACKING_PARAM_RE),
        ),
        "&",
    )
    u = F.when(kept == "", base).otherwise(F.concat(base, F.lit("?"), kept))
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.when(scheme == "http", F.regexp_replace(host, r":80$", "")).when(
        scheme == "https", F.regexp_replace(host, r":443$", "")
    ).otherwise(host)
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", "")
    rest = F.regexp_replace(rest, r"/$", "")
    return F.when(
        scheme == "", url
    ).otherwise(F.concat(scheme, F.lit("://"), host, rest))


def dedup_pages_by_url(
    pages: DataFrame, url_col: str = "url", ts_col: str = "warc_ts"
) -> DataFrame:
    """URL-level crawl dedup: one row per canonical URL with the raw-URL
    fan-in and the FIRST crawl timestamp (recrawls and tracking-param /
    fragment / www variants collapse). One slim groupBy shuffle on the
    canonical key — at 10^12 pages this is the cheapest dedup pass and
    runs before any content-based stage. Output: (url_canonical, n_raw,
    first_ts).
    """
    return (
        pages.select(
            canonical_url_expr(F.col(url_col)).alias("url_canonical"),
            F.col(ts_col),
        )
        .groupBy("url_canonical")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.min(ts_col).alias("first_ts"),
        )
    )
