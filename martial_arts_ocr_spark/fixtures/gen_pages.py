"""Deterministic generator for the `pages` input table.

Emits rows of exactly the `BASELINE.json.input_hint` shape:
``pages(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Design (FIXTURES.md §1): seeded per-row (``random.Random(seed*1_000_003 + i)``)
so any row can be regenerated independently of batch/order — the property
that makes golden fixtures stable across parallelism levels. Content
exercises every kernel stage: skewed hosts (one hot host ≈30% of rows, for
salting demos), nav/footer/cookie chrome, hyphen-split + soft-wrapped lines,
mixed English/Japanese blocks drawn from the terminology dictionary, macron
variants, figures with captions, sibling card grids, artifact glyphs,
duplicate lines, entity noise, and three charset variants.
"""

from __future__ import annotations

import datetime as _dt
import random

from ..kernel.terms import TERM_DICT

SEED = 42

HOT_HOST = "hot.example.com"
# realistic host cardinality: real crawls have ≫ partitions many hosts, so
# host-hash keys average out; a 20-host tail would fake collision skew that
# no real corpus has (and mask the real skew: the hot host).
TAIL_HOSTS = [f"site{i:03d}.example.org" for i in range(200)]

_WORDS = (
    "history school tradition practice technique teacher student lineage "
    "sword form motion balance spirit discipline training hall master art "
    "method principle study culture record scroll century period region "
    "village province account manuscript archive chapter section classical "
    "modern research the of and in to for with from under over between"
).split()

_JA_SENTENCES = [
    "武道の稽古は道場で行われる。",
    "柔術と剣道の歴史は長い。",
    "先生は弟子に型を教える。",
    "黒帯への道は練習である。",
    "合気道の技は調和の文化を表す。",
    "侍の伝統と武士道の研究。",
]

_MACRON_VARIANTS = ["Daito-ryu", "koryu", "jujutsu", "dojo", "budo", "iaido"]

_NAV_LINKS = ["Home", "About", "Articles", "Archive", "Contact", "Search",
              "Login", "Register", "Tags", "Authors"]


def _sentence(rng: random.Random, n: int) -> str:
    ws = [rng.choice(_WORDS) for _ in range(n)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def _paragraph(rng: random.Random, lang: str) -> str:
    n_sent = rng.randint(2, 5)
    parts = []
    for _ in range(n_sent):
        if lang in ("ja", "mixed") and rng.random() < (0.8 if lang == "ja" else 0.3):
            parts.append(rng.choice(_JA_SENTENCES))
        else:
            s = _sentence(rng, rng.randint(8, 18))
            if lang == "mixed" and rng.random() < 0.3:
                term = rng.choice(sorted(TERM_DICT))
                s = s[:-1] + f" {term}."
            if rng.random() < 0.25:
                s = s[:-1] + f" {rng.choice(_MACRON_VARIANTS)}."
            parts.append(s)
    return " ".join(parts)


def make_html(i: int, seed: int = SEED) -> dict:
    """Build one deterministic page row (plain dict)."""
    rng = random.Random(seed * 1_000_003 + i)
    hot = rng.random() < 0.30
    host = HOT_HOST if hot else rng.choice(TAIL_HOSTS)
    url = f"https://{host}/articles/page-{i}"
    lang = rng.choice(["en", "en", "en", "ja", "mixed", ""])
    charset = rng.choice(["utf-8", "utf-8", "utf-8", "latin-1-meta", "none"])

    title = _sentence(rng, 4)[:-1]
    nav = " ".join(
        f'<a href="/{w.lower()}">{w}</a>' for w in
        rng.sample(_NAV_LINKS, rng.randint(4, 8))
    )
    parts = ["<html><head>"]
    if charset == "utf-8":
        parts.append('<meta charset="utf-8">')
    elif charset == "latin-1-meta":
        parts.append('<meta charset="iso-8859-1">')
    parts.append(f"<title>{title}</title>")
    parts.append("<style>body{color:#222}</style>")
    parts.append('<script>var x = "<p>not content</p>";</script>')
    parts.append("</head><body>")
    parts.append(f'<nav class="main-nav">{nav}</nav>')
    if rng.random() < 0.5:
        parts.append('<div class="cookie-consent">We use cookies. '
                     "Accept all cookies to continue. Cookie policy</div>")
    parts.append("<article>")
    parts.append(f"<h1>{title}</h1>")
    n_blocks = rng.randint(3, 10)
    body_texts = []
    for b in range(n_blocks):
        kind = rng.random()
        if kind < 0.12:
            parts.append(f"<h2>{_sentence(rng, 3)[:-1]}</h2>")
        elif kind < 0.22 and b > 0:
            items = "".join(f"<li>{_sentence(rng, rng.randint(3, 7))}</li>"
                            for _ in range(rng.randint(2, 5)))
            parts.append(f"<ul>{items}</ul>")
        elif kind < 0.30:
            cap = _sentence(rng, 5)[:-1]
            parts.append(f'<figure><img src="f{b}.png" alt="">'
                         f"<figcaption>Fig. {b} {cap}</figcaption></figure>")
        else:
            p = _paragraph(rng, lang)
            # exercise hyphen merge + soft wrap via <br>
            if rng.random() < 0.3 and len(p) > 60:
                cut = rng.randint(30, min(len(p) - 20, 200))
                sp = p.find(" ", cut)
                if sp > 0 and sp + 4 < len(p) and p[sp + 1].islower():
                    word_end = p.find(" ", sp + 2)
                    if word_end > sp + 3:
                        mid = (sp + 1 + word_end) // 2
                        p = p[:mid] + "-<br>" + p[mid:]
            if rng.random() < 0.15:
                p += "<br>" + "&#9632; noise line"
            share_roll = rng.random()
            if share_roll < 0.2:
                # inline share chain (M4 refine target); the sub-0.08 band
                # embeds it INTERIOR — prose continues after the chain
                # (fixed continuation: no extra rng draws, so pages without
                # this band keep their round-1 content)
                p += " Share | Tweet | Email"
                if share_roll < 0.08:
                    p += " The discussion of the topic then continues."
            parts.append(f"<p>{p}</p>")
            body_texts.append(p)
    # sibling card grid (panel-row target)
    if rng.random() < 0.3:
        cards = "".join(
            f'<div class="card"><a href="/r/{j}">{_sentence(rng, 3)[:-1]}</a></div>'
            for j in range(rng.randint(3, 5))
        )
        parts.append(f'<div class="related">{cards}</div>')
    parts.append("</article>")
    parts.append('<footer class="site-footer">© 2024 Example press. '
                 'All rights reserved. | <a href="/p">Privacy Policy</a> | '
                 '<a href="/t">Terms of Use</a></footer>')
    parts.append("</body></html>")
    html_text = "".join(parts)

    enc = "latin-1" if charset == "latin-1-meta" else "utf-8"
    try:
        html_bytes = html_text.encode(enc)
    except UnicodeEncodeError:
        html_bytes = html_text.encode("utf-8")

    ts = _dt.datetime(2024, 1, 1) + _dt.timedelta(
        seconds=i * 97 + rng.randint(0, 50)
    )
    return {
        "url": url,
        "warc_ts": ts,
        "html": html_bytes,
        "text": " ".join(body_texts)[:2000],   # stale upstream text
        "lang": lang,
    }


def generate_pages(n: int, seed: int = SEED) -> list[dict]:
    return [make_html(i, seed) for i in range(n)]


def pages_pandas(n: int, seed: int = SEED):
    """pages table as a pandas DataFrame (driver-side synthesis)."""
    import pandas as pd

    return pd.DataFrame(generate_pages(n, seed))


def pages_spark(spark, n: int, seed: int = SEED, partitions: int = 32):
    """Distributed page synthesis: every row generated on executors from
    its index (make_html is pure in (i, seed)), so corpus size is bounded
    by cluster capacity, not driver memory — the path for large corpora."""
    import pandas as pd

    from ..engine.schema import PAGES_SCHEMA

    def gen(iterator):
        for pdf in iterator:
            rows = [make_html(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return (
        spark.range(n).repartition(partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )
