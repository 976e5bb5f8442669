"""Independent crawl oracle: a NumPy BFS over the synthetic link graph.

Shares no code with the engine. The graph is the arithmetic one the pages
generator writes into its HTML: page ``i`` of ``n`` links to the children
``(2i+1) % n`` and ``(3i+2) % n`` and to one dead URL
``https://dead.example/d/{i}`` that is never in the corpus. A crawl from a
seed set to ``depth`` therefore fetches every page within ``depth`` hops of
a seed and misses one dead URL per expanding page (hop distance below
``depth``). Politeness budgets reschedule URLs but never change that set.
"""

from __future__ import annotations

import hashlib

import numpy as np


def page_url(i: int) -> str:
    host = "h0.example" if i % 2 == 0 else f"h{1 + i % 19}.example"
    return f"https://{host}/d/{i}"


def seed_ids(n_pages: int, n_seeds: int, seed: int) -> np.ndarray:
    """The workload's seed page ids, a pure function of ``seed``."""
    rng = np.random.default_rng(seed)
    return np.sort(rng.choice(n_pages, size=n_seeds, replace=False))


def url_digest(urls) -> int:
    """Order-independent digest of a URL set: the sum, mod 2**64, of each
    URL's 64-bit BLAKE2b hash."""
    total = 0
    for u in urls:
        total += int.from_bytes(hashlib.blake2b(u.encode(), digest_size=8).digest(), "little")
    return total % (1 << 64)


class Expected:
    """Fetched-page count, fetched-URL digest and miss count of a crawl."""

    def __init__(self, n_pages: int, seeds: np.ndarray, depth: int):
        dist = np.full(n_pages, -1, dtype=np.int16)
        frontier = np.unique(seeds)
        dist[frontier] = 0
        expanding = 0
        for d in range(depth):
            expanding += frontier.size
            kids = np.unique(np.concatenate(((2 * frontier + 1) % n_pages,
                                             (3 * frontier + 2) % n_pages)))
            frontier = kids[dist[kids] < 0]
            dist[frontier] = d + 1
        fetched = np.flatnonzero(dist >= 0)
        self.fetched = int(fetched.size)
        self.misses = expanding
        self.digest = url_digest(page_url(int(i)) for i in fetched)

    def mismatch(self, fetched_urls: list[str], misses: int) -> str | None:
        """None when the crawl output matches, else what differs."""
        if len(fetched_urls) != self.fetched:
            return f"fetched {len(fetched_urls)} pages, expected {self.fetched}"
        if misses != self.misses:
            return f"{misses} misses, expected {self.misses}"
        if url_digest(fetched_urls) != self.digest:
            return "fetched-URL digest differs"
        return None
