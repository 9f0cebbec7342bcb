"""Stage 1: text extraction + normalization over the ``pages`` table.

Reference semantics: document full text is reconstructed deterministically
from nested parts — ``"\\n".join(" ".join(passage.text))``
(``bioel/bioel/utils/bigbio_utils.py:109``); PubMed XML extraction computes
title/abstract text + offsets (``extract_pubmed_entities/
extract_pubmed_entities.py:135-181``). The web graft's invariant is the same
per url: ``html → text`` must be byte-identical to the reference rule.

Our extraction rule (the analog of title-passage + body-passage joined with
"\\n"): decode utf-8, take ``<title>...</title>`` contents and ``<body>...
</body>`` contents with tags stripped and whitespace runs collapsed to single
spaces, join as ``title + "\\n" + body``. The synthetic generator produces
``text`` with the same rule, so the pytest byte-identity check
(FIXTURES.md §1) pins the contract.

Everything here is a pandas UDF over Arrow batches (html is a binary column;
regex work happens in vectorized pandas .str ops where possible).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

_TITLE_RE = re.compile(rb"<title[^>]*>(.*?)</title>", re.S | re.I)
_BODY_RE = re.compile(rb"<body[^>]*>(.*?)</body>", re.S | re.I)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")


def _clean_fragment(raw: bytes) -> str:
    s = raw.decode("utf-8", errors="replace")
    s = _TAG_RE.sub(" ", s)
    return _WS_RE.sub(" ", s).strip()


def _extract_one(html: bytes | None) -> tuple[str, str]:
    """html → (``title + "\\n" + body``, title): the extraction kernel."""
    if html is None:
        return "", ""
    t = _TITLE_RE.search(html)
    b = _BODY_RE.search(html)
    title = _clean_fragment(t.group(1)) if t else ""
    body = _clean_fragment(b.group(1)) if b else ""
    return title + "\n" + body, title


_EXTRACT_SCHEMA = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("title", StringType()),
    ]
)


@F.pandas_udf(_EXTRACT_SCHEMA)
def _extract_text_title(html: pd.Series) -> pd.DataFrame:
    """Fused text+title extraction (r6): the html payload — the widest
    column in the pipeline — crosses the JVM→Python Arrow boundary ONCE
    and the <title> regex runs once, where the split text-only/title-only
    UDF pair (``extract.py`` at commit ``7a3d746``) shipped every page's
    bytes twice and searched the title twice (guide-§4 boundary cost;
    values byte-identical)."""
    pairs = [_extract_one(h) for h in html]
    return pd.DataFrame(pairs, columns=["extracted_text", "title"])


def normalized_domain(url: Column) -> Column:
    """Pure-Catalyst domain normalization (no UDF): strip scheme, take host,
    drop mirror prefixes (www./m./amp./mobile.) and the port.

    The analog of the reference's string canonicalization before lookup
    (lowercase ``sapbert/data/utils.py:88``, prefix fixes
    ``evaluate.py:175-188``); mirrors are the sorted-neighborhood key family.
    """
    host = F.lower(F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1))
    return F.regexp_replace(host, r"^(www\.|m\.|amp\.|mobile\.)+", "")


def normalized_title(title: Column) -> Column:
    """Catalyst-side title normalization: lowercase, strip punctuation to
    spaces, collapse whitespace (analog of alias lowercasing + separator
    splits, ``scispacy_embeddings.py:52-61``)."""
    t = F.lower(title)
    t = F.regexp_replace(t, r"[^\p{L}\p{N}]+", " ")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def apply_norm_rules(records: DataFrame, rules: DataFrame) -> DataFrame:
    """Per-domain token normalization — the abbreviation-dictionary analog.

    Reference: the Ab3P abbreviation map ``{document_id: {short: long}}``
    applied as a per-document token replacement
    (``bioel/bioel/utils/solve_abbreviation/abbreviations_utils.py:86-121``,
    applied at ``bigbio_utils.py:322-341``). Here the dictionary is a
    ``rules(domain, token, replacement)`` table; titles are re-written
    token-by-token with order preserved:

      posexplode(tokens) → left join rules on (domain, token) →
      coalesce(replacement, token) → re-assemble via sorted collect.

    Pure Catalyst, one shuffle on (domain, token); the rules side is
    broadcast (dictionaries are small relative to the corpus).
    """
    toks = records.select(
        "url",
        "norm_domain",
        F.posexplode(
            F.split(F.col("norm_title"), " ")
        ).alias("pos", "token"),
    )
    joined = toks.join(
        F.broadcast(rules),
        (toks.norm_domain == rules.domain) & (toks.token == rules.token),
        "left",
    ).select(
        "url",
        "pos",
        F.coalesce(rules.replacement, toks.token).alias("token_norm"),
    )
    rebuilt = (
        joined.groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token_norm"))),
                    lambda s: s["token_norm"],
                ),
                " ",
            ).alias("norm_title_rewritten")
        )
    )
    return (
        records.join(rebuilt, "url", "left")
        .withColumn(
            "norm_title",
            F.coalesce("norm_title_rewritten", "norm_title"),
        )
        .drop("norm_title_rewritten")
    )


def run_extract(pages: DataFrame, lang_filter: str | None = "eng") -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → records ready for blocking.

    - language filter (reference: ``query('lang == "ENG"')``,
      ``bioel/bioel/ontology.py:361``) — pushed to the scan by Catalyst;
    - per-url dedup keeping latest ``warc_ts`` (recrawls; reference analog:
      mention dedup groupby ``bigbio_utils.py:256-268``);
    - extracted_text (byte-identity contract), title, norm_domain,
      norm_title columns.

    At 100 TB the input is partitioned by ``bucket(url)`` so this stage is
    shuffle-free except the per-url dedup, which co-locates with the bucket.
    """
    df = pages
    if lang_filter is not None:
        df = df.filter(F.col("lang") == lang_filter)
    # latest-crawl-wins per url (window argmin analog, umls_utils.py:232)
    from pyspark.sql import Window as W

    w = W.partitionBy("url").orderBy(F.col("warc_ts").desc())
    df = df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    df = df.withColumn("_ex", _extract_text_title(F.col("html")))
    df = df.withColumn("extracted_text", F.col("_ex.extracted_text"))
    df = df.withColumn("title", F.col("_ex.title")).drop("_ex")
    df = df.withColumn("norm_domain", normalized_domain(F.col("url")))
    df = df.withColumn("norm_title", normalized_title(F.col("title")))
    # dense 8-byte record id: everything downstream of extract (keys, pairs,
    # score, CC) shuffles rids instead of ~40-byte url strings — the
    # dominant shuffle-byte cut at scale. xxhash64 collisions would merge
    # two urls: probability ~n^2/2^65 (≈1e-7 at 3M pages); at 10^12 rows
    # swap for a persisted dense-id dimension table (zipWithIndex-style),
    # semantics unchanged.
    df = df.withColumn("rid", F.xxhash64("url"))
    return df
