"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical rows and parquet files, another seed gives different ones.
Sizes are stratified (fixed quantiles, seed-shuffled order) so the total
input volume of a workload is the same for every seed; the seed changes the
text, the order and which document lands in which partition.

Nothing here reads the repository's fixtures or any reference data.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

#: one-line reason each workload exists (printed by run.py, asserted
#: non-empty by the tests)
REASONS = {
    "short_html": (
        "short one-span pages under the char threshold: the kernel's flag "
        "retries re-parse each page, and per-batch dispatch and Python-worker "
        "start-up dominate"
    ),
    "long_media": (
        "heavy-tailed boilerplate-heavy media pages through the resumable "
        "checkpoint: one parse per page, large-DOM scoring, Arrow bytes, skew "
        "and parquet data + lineage writes dominate"
    ),
    "pipeline": (
        "composed training pipeline with stated exact/near-dup fractions: "
        "the simhash banded self-join, exact-dedup window and quality "
        "projection dominate; extraction is a minor share"
    ),
}

#: workload sizes (documents per sample): one cold sample (fresh session +
#: job + checks) takes 20-40 s on a 4-CPU host
SHORT_HTML_DOCS = 6000
LONG_MEDIA_DOCS = 500
PIPELINE_DOCS = 1500

#: long_media page-size distribution: lognormal, clipped to [5 KB, 1 MB]
LONG_MEDIA_MEDIAN_BYTES = 20_000
LONG_MEDIA_SIGMA = 1.2
LONG_MEDIA_MIN_BYTES = 5_000
LONG_MEDIA_MAX_BYTES = 1_000_000

#: pipeline duplicate structure (fractions of PIPELINE_DOCS)
PIPELINE_EXACT_DUP_FRAC = 0.10
PIPELINE_NEAR_DUP_FRAC = 0.10

#: token that appears in every boilerplate text and in no article text,
#: so a leak is a substring test
BOILERPLATE_MARK = "xqboiler"

_CONS = "bcdfghklmnprstvw"
_VOWS = "aeiou"
#: article vocabulary: consonant-vowel syllable pairs (no 'x' or 'q', so no
#: article word can contain BOILERPLATE_MARK)
ARTICLE_WORDS = tuple(
    a + b for a in (c + v for c in _CONS for v in _VOWS)
    for b in (c + v for c in _CONS[:6] for v in _VOWS[:3])
)

#: sf-like multilingual lexicon for the plain-text documents: each language
#: mixes its stopwords with shared content words, like the sf tables
_LANG_STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "for", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "se", "del", "las"),
    "fr": ("le", "la", "les", "de", "et", "des", "en", "un", "une", "est"),
    "de": ("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不", "这", "他"),
}
_LANGS = ("en", "en", "en", "es", "fr", "de", "zh")
_CONTENT_WORDS = ARTICLE_WORDS[:240]


@dataclass(frozen=True)
class Generated:
    """What a generator leaves in its output directory."""

    workload: str
    seed: int
    path: str  # parquet file the workload reads (or the sf-like dir)
    docs: int
    input_bytes: int  # UTF-8 bytes of the documents' text / HTML
    #: long_media: (doc_id, html, article paragraphs, image srcs) per page
    pages: list | None = field(default=None, repr=False)


def _rng(seed: int, workload: str) -> random.Random:
    digest = hashlib.sha256(f"{workload}:{seed}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def _zipf_words(rng: random.Random, words, n: int) -> list[str]:
    # cumulative 1/(k+1) weights: a few words are frequent, most are rare
    weights = [1.0 / (k + 1) for k in range(len(words))]
    return rng.choices(words, weights=weights, k=n)


# --- short_html / pipeline: sf-shaped plain documents ----------------------


def _plain_text(rng: random.Random, lang: str, n_tokens: int) -> str:
    stop = _LANG_STOPWORDS[lang]
    toks = []
    for w in _zipf_words(rng, _CONTENT_WORDS, n_tokens):
        toks.append(rng.choice(stop) if rng.random() < 0.3 else w)
    return " ".join(toks)


def _documents_table(rows: list[tuple[int, str, str, str]]) -> pa.Table:
    ids, texts, langs, sources = zip(*rows)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def short_html_rows(seed: int, n_docs: int = SHORT_HTML_DOCS) -> list[tuple]:
    """sf-shaped `documents` rows of about 300 chars (7-95 tokens,
    stratified), wrapped into one-span pages by the program's
    corpus.wrap_plain_documents."""
    rng = _rng(seed, "short_html")
    lengths = [7 + (i * 89) // n_docs for i in range(n_docs)]
    rng.shuffle(lengths)
    rows = []
    for i, n_tok in enumerate(lengths):
        lang = rng.choice(_LANGS)
        rows.append((i, _plain_text(rng, lang, n_tok), lang, f"src{i % 20}"))
    return rows


def pipeline_rows(seed: int, n_docs: int = PIPELINE_DOCS) -> list[tuple]:
    """sf-shaped `documents` rows with exact duplicates (same text up to
    case and whitespace) and near duplicates (one or two tokens changed)
    at the stated fractions; short docs fail the quality gate."""
    rng = _rng(seed, "pipeline")
    n_exact = int(n_docs * PIPELINE_EXACT_DUP_FRAC)
    n_near = int(n_docs * PIPELINE_NEAR_DUP_FRAC)
    n_base = n_docs - n_exact - n_near
    lengths = [5 + (i * 115) // n_base for i in range(n_base)]
    rng.shuffle(lengths)
    texts: list[tuple[str, str]] = []
    for n_tok in lengths:
        lang = rng.choice(_LANGS)
        texts.append((_plain_text(rng, lang, n_tok), lang))
    for _ in range(n_exact):
        text, lang = texts[rng.randrange(n_base)]
        variant = rng.choice((text.upper(), "  " + text + " ", text.replace(" ", "  ")))
        texts.append((variant, lang))
    for _ in range(n_near):
        text, lang = texts[rng.randrange(n_base)]
        toks = text.split(" ")
        for _ in range(rng.choice((1, 2))):
            toks[rng.randrange(len(toks))] = rng.choice(_CONTENT_WORDS)
        texts.append((" ".join(toks), lang))
    order = list(range(n_docs))
    rng.shuffle(order)
    return [
        (i, texts[j][0], texts[j][1], f"src{i % 20}") for i, j in enumerate(order)
    ]


# --- long_media: boilerplate-heavy pages with figures ----------------------


def _sentence(rng: random.Random) -> str:
    words = rng.choices(ARTICLE_WORDS, k=rng.randint(8, 18))
    cut = rng.randint(3, len(words) - 3)
    words[cut] += ","
    return " ".join(words).capitalize() + "."


def _paragraph(rng: random.Random) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(3, 6)))


def _boiler(rng: random.Random, n_words: int) -> str:
    words = rng.choices(ARTICLE_WORDS, k=n_words)
    words.insert(rng.randrange(len(words) + 1), BOILERPLATE_MARK)
    return " ".join(words)


def media_page(rng: random.Random, doc_id: str, target_bytes: int) -> tuple[str, list[str], list[str]]:
    """One page of about `target_bytes`: nav, sidebar ads, related links
    and comments (about 40% of the bytes, every text carrying
    BOILERPLATE_MARK) around an <article> of paragraphs, figures and
    images. Returns (html, article paragraphs, article image srcs)."""
    media = f"https://media.example.org/{doc_id}"
    head = (
        f"<!DOCTYPE html><html lang=\"en\"><head><meta charset=\"utf-8\">"
        f"<title>Story {doc_id}</title></head><body>"
    )
    nav = ["<header class=\"site-header\"><nav class=\"menu\"><ul>"]
    for k in range(rng.randint(8, 16)):
        nav.append(f"<li><a href=\"/section/{k}\">{_boiler(rng, 2)}</a></li>")
    nav.append("</ul></nav></header>")
    body = ["<div id=\"page\">", "".join(nav), "<article>",
            f"<h1>{_sentence(rng)}</h1>"]
    paras: list[str] = []
    images: list[str] = []
    side: list[str] = []
    comments: list[str] = []
    art_budget = int(target_bytes * 0.6)
    used = 0
    while used < art_budget or not paras:
        p = _paragraph(rng)
        paras.append(p)
        body.append(f"<p>{p}</p>")
        used += len(p) + 7
        if rng.random() < 0.15:
            src = f"{media}/{len(images)}.jpg"
            images.append(src)
            body.append(
                f"<figure><img src=\"{src}\" alt=\"figure {len(images)}\">"
                f"<figcaption>{_sentence(rng)}</figcaption></figure>"
            )
        elif rng.random() < 0.05:
            src = f"{media}/{len(images)}.png"
            images.append(src)
            body.append(f"<p><img src=\"{src}\" alt=\"inline\"></p>")
    body.append("</article>")
    boiler_budget = target_bytes - used - len(head)
    while boiler_budget > 0:
        kind = rng.random()
        if kind < 0.4:
            chunk = (
                f"<div class=\"comment\"><p class=\"comment-author\">"
                f"{_boiler(rng, 2)}</p><p>{_boiler(rng, rng.randint(10, 40))}</p></div>"
            )
            comments.append(chunk)
        else:
            links = "".join(
                f"<li><a href=\"/ad/{rng.randrange(10**6)}\">{_boiler(rng, 4)}</a></li>"
                for _ in range(rng.randint(3, 8))
            )
            chunk = (
                f"<div class=\"ad-banner sponsored\"><img src=\"{media}/ad{len(side)}.gif\">"
                f"<ul>{links}</ul></div>"
            )
            side.append(chunk)
        boiler_budget -= len(chunk)
    body.append(f"<aside class=\"sidebar\">{''.join(side)}</aside>")
    body.append(f"<section id=\"comments\" class=\"comments\">{''.join(comments)}</section>")
    body.append(
        f"<footer class=\"site-footer\"><p>{_boiler(rng, 12)}</p></footer></div>"
    )
    return head + "".join(body) + "</body></html>", paras, images


def long_media_sizes(n_docs: int) -> list[int]:
    """Stratified lognormal page sizes: the (i + 0.5) / n quantiles, so
    every seed gets the same multiset of sizes."""
    from statistics import NormalDist

    nd = NormalDist()
    out = []
    for i in range(n_docs):
        z = nd.inv_cdf((i + 0.5) / n_docs)
        size = LONG_MEDIA_MEDIAN_BYTES * math.exp(LONG_MEDIA_SIGMA * z)
        out.append(int(min(max(size, LONG_MEDIA_MIN_BYTES), LONG_MEDIA_MAX_BYTES)))
    return out


def long_media_pages(seed: int, n_docs: int = LONG_MEDIA_DOCS) -> list[tuple[str, str, list[str], list[str]]]:
    """(doc_id, html, article paragraphs, article image srcs) per page."""
    rng = _rng(seed, "long_media")
    sizes = long_media_sizes(n_docs)
    rng.shuffle(sizes)
    pages = []
    for i, size in enumerate(sizes):
        doc_id = f"m{seed}-{i:05d}"
        html, paras, images = media_page(rng, doc_id, size)
        pages.append((doc_id, html, paras, images))
    return pages


def _spans_table(pages) -> pa.Table:
    from smartreader_spark.kernel.serializer import html_to_input_spans

    span_type = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    schema = pa.schema(
        [pa.field("doc_id", pa.string(), nullable=False),
         pa.field("spans", pa.list_(span_type))]
    )
    return pa.table(
        {
            "doc_id": [p[0] for p in pages],
            "spans": [html_to_input_spans(p[1]) for p in pages],
        },
        schema=schema,
    )


# --- entry point -----------------------------------------------------------


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows // 8))


def generate(workload: str, seed: int, out_dir: str) -> Generated:
    """Write the workload's input under `out_dir` and describe it."""
    if workload == "short_html":
        rows = short_html_rows(seed)
        path = os.path.join(out_dir, "documents.parquet")
        _write(_documents_table(rows), path)
        nbytes = sum(len(r[1].encode()) for r in rows)
        return Generated(workload, seed, out_dir, len(rows), nbytes)
    if workload == "long_media":
        pages = long_media_pages(seed)
        path = os.path.join(out_dir, "pages.parquet")
        _write(_spans_table(pages), path)
        nbytes = sum(len(p[1].encode()) for p in pages)
        return Generated(workload, seed, path, len(pages), nbytes, pages)
    if workload == "pipeline":
        rows = pipeline_rows(seed)
        path = os.path.join(out_dir, "documents.parquet")
        _write(_documents_table(rows), path)
        nbytes = sum(len(r[1].encode()) for r in rows)
        return Generated(workload, seed, out_dir, len(rows), nbytes)
    raise ValueError(f"unknown workload {workload!r}")
