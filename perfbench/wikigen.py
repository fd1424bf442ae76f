"""Seeded generator for the wiki_etl workload's crawled-HTML corpus.

Writes `n` small `*.html` pages shaped like the Wikipedia pages the
Categorizer and Converter read (category links in
`div#mw-normal-catlinks`, last-edited date in `li#footer-info-lastmod`),
with bodies cut from the star-schema `documents` text. A share of the
pages has no category block and a share has a malformed or missing
date. Returns the ground truth the pipeline's outputs are checked
against.
"""
import datetime
import os
import random

import pyarrow.parquet as pq

MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
NO_CATEGORY_SHARE = 0.10
BAD_DATE_SHARE = 0.05
NO_DATE_SHARE = 0.03
N_CATEGORIES = 400


def _category_names(rng):
    words = ["History", "Science", "Music", "Films", "Sports", "Rivers",
             "Cities", "People", "Software", "Physics", "Novels", "Birds"]
    names = set()
    while len(names) < N_CATEGORIES:
        names.add(f"{rng.choice(words)} of {rng.choice(words)} {rng.randrange(1000)}")
    return sorted(names)


def generate(documents_parquet, out_dir, n, seed):
    """Write the corpus; return {file_name: (categories, word_count, date)}."""
    rng = random.Random(seed)
    texts = pq.read_table(documents_parquet, columns=["text"]).column("text").to_pylist()
    cats = _category_names(rng)
    # a Zipf-ish category popularity, so the distribution has a head and a tail
    weights = [1.0 / (i + 1) for i in range(len(cats))]
    os.makedirs(out_dir, exist_ok=True)
    truth = {}
    for i in range(n):
        name = f"page_{seed}_{i:06d}"
        body = texts[rng.randrange(len(texts))]
        words = body.split(" ")
        start = rng.randrange(len(words))
        para = " ".join(words[start:start + rng.randint(20, 120)])
        page_cats = []
        if rng.random() >= NO_CATEGORY_SHARE:
            page_cats = sorted(set(rng.choices(cats, weights, k=rng.randint(1, 5))))
        day = datetime.date(2010, 1, 1) + datetime.timedelta(days=rng.randrange(5000))
        r = rng.random()
        if r < NO_DATE_SHARE:
            lastmod, date = "", None
        elif r < NO_DATE_SHARE + BAD_DATE_SHARE:
            lastmod = (f'<li id="footer-info-lastmod"> This page was last edited on '
                       f'{day.day} Smarch {day.year}, at 10:{rng.randrange(60):02d} (UTC).</li>')
            date = None
        else:
            lastmod = (f'<li id="footer-info-lastmod"> This page was last edited on '
                       f'{day.day} {MONTHS[day.month - 1]} {day.year}, at '
                       f'{rng.randrange(24):02d}:{rng.randrange(60):02d} (UTC).</li>')
            date = day.isoformat()
        catlinks = ""
        if page_cats:
            links = "".join(f'<li><a href="/wiki/Category:{c.replace(" ", "_")}" '
                            f'title="Category:{c}">{c}</a></li>' for c in page_cats)
            catlinks = (f'<div id="catlinks"><div id="mw-normal-catlinks" class="mw-normal-catlinks">'
                        f'<a href="/wiki/Help:Category">Categories</a>: <ul>{links}</ul></div></div>')
        html = (f"<!DOCTYPE html>\n<html><head><title>{name}</title>"
                f"<script>var wg = {i};</script></head>\n<body><h1>{name}</h1>\n"
                f"<p>{para}</p>\n{catlinks}\n<ul id=\"footer\">{lastmod}</ul>\n</body></html>\n")
        with open(os.path.join(out_dir, name + ".html"), "w", encoding="utf-8") as f:
            f.write(html)
        truth[name] = (page_cats, html.count(" ") + 1, date)
    return truth
