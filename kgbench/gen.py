"""Seeded inputs for the KG-construction benchmark.

The program under test only ever sees the `pages` table this module
produces; the seed is the benchmark's `--seed` argument.

* `heavy_pages(seed, n)`: web pages of 48-96 fact sentences each, drawn from
  the fixture entity pool plus 2,000 synthetic long-tail entities.
* `recrawl_delta(rows, seed)`: a second snapshot in which about 1% of the
  pages changed, all under one URL prefix (one host), as a site-section
  re-crawl produces.
"""

from __future__ import annotations

import random
import re
from collections import Counter
from typing import Any

from blarify_spark import corpus

HEAVY_FACTS = (48, 96)
SYNTH_ENTITIES = 2000
RECRAWL_SHARE = 0.01

_PARA_RE = re.compile(rb"<p>[^<]*</p>")


def heavy_pages(seed: int, n_pages: int) -> list[dict[str, Any]]:
    return corpus.generate_pages(
        n_pages,
        seed=seed,
        facts_range=HEAVY_FACTS,
        synth_entities=SYNTH_ENTITIES,
    )


def url_prefix(url: str) -> str:
    """The host: the unit a site-section re-crawl clusters in."""
    return url.split("/", 3)[2]


def recrawl_delta(
    rows: list[dict[str, Any]], seed: int
) -> tuple[list[dict[str, Any]], list[str]]:
    """(new snapshot rows, changed urls).

    Picks one host, then edits ~1% of the corpus (at least two pages) on
    that host: one fact paragraph is dropped and two fact sentences are
    appended, so the update both retracts and adds triples.

    The edits keep the corpus's set of distinct fact sentences, so the set
    of entities (and with it the canonical clusters) stays the same:
    a dropped sentence still occurs on another page, and an appended one
    already occurs somewhere. A delta that adds a new entity can bridge
    two existing clusters, and for such a delta `run_incremental` leaves
    the old cluster's row in `nodes`, one row more than a full rebuild.
    The benchmark measures the path it can check, so its deltas avoid
    that case.

    The edited pages come from the middle half of the host's pages by
    size: the incremental work scales with the entities the edited pages
    name, so this keeps one seed's delta about as large as another's.
    """
    rng = random.Random(seed * 7919 + 17)
    # English pages only: the shared sentences are the English renderings
    simple = [r for r in rows if r["family"] == "simple" and r["lang"] == "en"]
    hosts = sorted({url_prefix(r["url"]) for r in simple})
    host = hosts[rng.randrange(len(hosts))]
    on_host = sorted(
        (r for r in simple if url_prefix(r["url"]) == host),
        key=lambda r: (len(r["html"]), r["url"]),
    )
    mid = [r["url"] for r in on_host[len(on_host) // 4 : len(on_host) * 3 // 4]]
    n_changed = min(len(mid), max(2, round(len(rows) * RECRAWL_SHARE)))
    changed = set(rng.sample(mid, n_changed))

    # synthetic-entity fact sentences: their entities are NIL-linked by
    # surface, so a sentence names the same nodes on every page
    synth = {
        f"<p>{_en_sentence(f)}</p>".encode("utf-8")
        for f in corpus.synth_fact_pool(SYNTH_ENTITIES, seed)
    }
    count = Counter(p for r in rows for p in _PARA_RE.findall(r["html"]))
    shared = sorted(p for p, n in count.items() if p in synth)
    out = []
    for r in rows:
        if r["url"] not in changed:
            out.append(r)
            continue
        html = r["html"]
        drop = next(
            (p for p in _PARA_RE.findall(html) if p in synth and count[p] >= 2),
            None,
        )
        if drop is not None:
            count[drop] -= 1
            html = html.replace(drop, b"", 1)
        added = b"".join(rng.sample(shared, 2))
        out.append(dict(r, html=html.replace(b"</main>", added + b"</main>")))
    return out, sorted(changed)


def _en_sentence(fact: tuple[str, str, str]) -> str:
    subj, pred, obj = fact
    return f"{subj} {pred} {obj}."


def sample_urls(rows: list[dict[str, Any]], seed: int, k: int) -> list[str]:
    """Seeded page sample for the extraction precision/recall check."""
    urls = sorted(r["url"] for r in rows)
    return random.Random(seed * 31 + 5).sample(urls, min(k, len(urls)))
